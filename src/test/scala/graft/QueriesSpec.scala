package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.analytics.Queries
import graft.io.Tables

class QueriesSpec extends AnyFunSuite {
  import TestSpark.{spark, sfDir}
  import spark.implicits._

  test("q2: at most 10 rows, descending totals, deterministic tie-break") {
    val got = Queries.q2TopParts(
      Tables.lineitem(spark, sfDir), Tables.orders(spark, sfDir), Tables.part(spark, sfDir))
      .as[(String, Long)].collect()
    assert(got.length <= 10 && got.nonEmpty)
    assert(got.map(_._2).sliding(2).forall { case Array(a, b) => a >= b; case _ => true })
  }

  test("q2 rejects k < 1 up front") {
    val (li, ord, part) =
      (Tables.lineitem(spark, sfDir), Tables.orders(spark, sfDir), Tables.part(spark, sfDir))
    for (k <- Seq(0, -1))
      assertThrows[IllegalArgumentException](Queries.q2TopParts(li, ord, part, k))
  }

  test("q1: one row per month, revenue positive") {
    val got = Queries.q1MonthlyRevenue(Tables.orders(spark, sfDir))
    assert(got.count() === got.select("month_start").distinct().count())
    assert(got.filter($"monthly_revenue" <= 0).count() === 0)
  }

  test("q3: filtered to one supplier, one row per day") {
    val got = Queries.q3DailySeries(
      Tables.lineitem(spark, sfDir), Tables.orders(spark, sfDir), suppkey = 1L)
    assert(got.count() === got.select("date").distinct().count())
    assert(got.count() > 0)
  }

  test("entry: flagship returns rows") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("every query name has either an oracle or is explicitly rows-only") {
    val missing = SparkEntry.oracleSql.keySet -- SparkEntry.queries.keySet
    assert(missing.isEmpty, s"oracleSql keys without queries: $missing")
  }

  test("shared co-bought edge memo survives clearCache and stays correct") {
    // Verify clears the CacheManager between queries; each call builds
    // its co-bought edge relation afresh (a localCheckpoint: RDD-level
    // storage that clearCache does not drop), so a call on either side
    // of a clearCache gives the same result
    val before = SparkEntry.queries("q_triangles")(spark, sfDir)
      .collect().map(_.getLong(0)).toSeq
    spark.catalog.clearCache()
    val after = SparkEntry.queries("q_triangles")(spark, sfDir)
      .collect().map(_.getLong(0)).toSeq
    assert(before === after && before.nonEmpty)
    // a symmetric consumer of the same graph sees a non-empty edge set
    val assort = SparkEntry.queries("q_degree_assort")(spark, sfDir).collect()
    assert(assort.length === 1 && assort(0).getLong(0) > 0)
    spark.catalog.clearCache()
  }

  test("a query re-run in one session after new input files land reads them") {
    import org.apache.spark.sql.DataFrame
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions.{col, concat, length, lit, max, row_number}
    import java.nio.file.{Files, Paths}
    val dir = Files.createTempDirectory("graft_grow_").toString
    // each input becomes a directory whose first file is the fixture's
    for (t <- Seq("lineitem", "documents")) {
      Files.createDirectories(Paths.get(s"$dir/$t.parquet"))
      Files.copy(Paths.get(s"$sfDir/$t.parquet"), Paths.get(s"$dir/$t.parquet/part-00000.parquet"))
    }
    def land(t: String, rows: DataFrame): Unit = {
      val tmp = s"$dir/_landing_$t"
      rows.coalesce(1).write.parquet(tmp)
      val f = new java.io.File(tmp).listFiles().filter(_.getName.endsWith(".parquet")).head
      Files.move(f.toPath, Paths.get(s"$dir/$t.parquet/part-00001.parquet"))
    }
    def triangles = SparkEntry.queries("q_triangles")(spark, dir).as[Long].collect().toSeq
    def nearDups = SparkEntry.queries("dedup_minhash")(spark, dir).collect().map(_.toSeq).toSet
    try {
      val (tri0, dup0) = (triangles, nearDups)
      spark.catalog.clearCache()

      // a new order whose three new parts close one more triangle
      val li = Tables.lineitem(spark, dir)
      val (maxOrder, maxPart) = li.agg(max("l_orderkey").cast("long"),
        max("l_partkey").cast("long")).as[(Long, Long)].head()
      land("lineitem", li.orderBy("l_orderkey", "l_linenumber").limit(3)
        .withColumn("rn", row_number().over(Window.orderBy("l_orderkey", "l_linenumber")))
        .withColumn("l_orderkey", (lit(maxOrder) + 1).cast(li.schema("l_orderkey").dataType))
        .withColumn("l_partkey", (lit(maxPart) + col("rn")).cast(li.schema("l_partkey").dataType))
        .select(li.columns.map(col): _*))
      // a near-copy of the longest document under a new doc_id
      val docs = Tables.table(spark, dir, "documents")
      val newDoc = docs.agg(max("doc_id").cast("long")).as[Long].head() + 1
      land("documents", docs.orderBy(length(col("text")).desc, col("doc_id")).limit(1)
        .withColumn("doc_id", lit(newDoc).cast(docs.schema("doc_id").dataType))
        .withColumn("text", concat(col("text"), lit(" appended")))
        .select(docs.columns.map(col): _*))

      val (tri1, dup1) = (triangles, nearDups)
      val triDirect = graft.analytics.Triangles.triangleCount(
        graft.analytics.Baskets.coOccurrencePairs(
          Tables.lineitem(spark, dir), "l_orderkey", "l_partkey"),
        "item_a", "item_b").as[Long].collect().toSeq
      val dupDirect = graft.dedup.Dedup.minhashDedup(Tables.documents(spark, dir))
        .collect().map(_.toSeq).toSet
      assert(tri1 === triDirect && tri1 === tri0.map(_ + 1))
      assert(dup1 === dupDirect && dup1 != dup0)
      assert(dup1.exists(_(1) == newDoc))
    } finally {
      spark.catalog.clearCache()
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
    }
  }
}
