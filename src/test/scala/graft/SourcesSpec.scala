package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.io.Tables

class SourcesSpec extends AnyFunSuite {
  import TestSpark.{spark, sfDir}
  import spark.implicits._

  private lazy val customers = Tables.customer(spark, sfDir)
    .select("c_custkey", "c_name", "c_acctbal")

  test("orc round-trip preserves rows and schema") {
    val dir = java.nio.file.Files.createTempDirectory("graft_orc").toString
    customers.write.mode("overwrite").orc(dir)
    val back = spark.read.orc(dir)
    assert(back.schema === customers.schema)
    assert(back.exceptAll(customers).isEmpty && customers.exceptAll(back).isEmpty)
  }

  test("jdbc parity: dims build identically from JDBC and parquet inputs") {
    // embedded Derby (ships with Spark) stands in for the reference's
    // MySQL: write the customer relation in, read it back range-partitioned
    val dbDir = java.nio.file.Files.createTempDirectory("graft_derby").toString
    val url = s"jdbc:derby:$dbDir/db;create=true"
    val drv = Some("org.apache.derby.jdbc.EmbeddedDriver")
    val full = Tables.customer(spark, sfDir)
      .select("c_custkey", "c_name", "c_nationkey")
    Tables.writeJdbc(full, url, "customer", mode = "overwrite", driver = drv)

    val viaJdbc = Tables.readJdbc(spark, url, "customer",
      partitionColumn = "c_custkey", numPartitions = 4, driver = drv)
    // the parallel read is real: 4 range-bounded partitions
    assert(viaJdbc.rdd.getNumPartitions === 4)

    val dimJdbc = graft.etl.Dims.dimCustomer(viaJdbc)
    val dimParquet = graft.etl.Dims.dimCustomer(full)
    assert(dimJdbc.count() === dimParquet.count())
    assert(dimJdbc.exceptAll(dimParquet).isEmpty &&
      dimParquet.exceptAll(dimJdbc).isEmpty)
  }

  test("jdbc predicate pushdown reaches the remote scan") {
    val dbDir = java.nio.file.Files.createTempDirectory("graft_derby_pd").toString
    val url = s"jdbc:derby:$dbDir/db;create=true"
    val drv = Some("org.apache.derby.jdbc.EmbeddedDriver")
    Tables.writeJdbc(customers, url, "customer", mode = "overwrite", driver = drv)
    val q = Tables.readJdbc(spark, url, "customer",
        partitionColumn = "c_custkey", numPartitions = 2, driver = drv)
      .filter($"c_custkey" < 100).select("c_custkey", "c_acctbal")
    val plan = q.queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters") && plan.contains("c_custkey"),
      s"expected the filter pushed into the JDBC scan:\n$plan")
    assert(q.count() === customers.filter($"c_custkey" < 100).count())
  }

  test("text source: one string column per line, count preserved") {
    val dir = java.nio.file.Files.createTempDirectory("graft_text").toString
    customers.select($"c_name").write.mode("overwrite").text(dir)
    val back = spark.read.text(dir)
    assert(back.columns.toSeq === Seq("value"))
    assert(back.count() === customers.count())
  }
}
