package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{IntegerType, TimestampType}
import org.scalatest.funsuite.AnyFunSuite

import graft.io.Tables

/** `Tables.parquet` reads the schema from one footer on the driver: it
  * must give the schema `spark.read.parquet` infers, raise the errors it
  * raises, and start no Spark job.
  */
class TablesSpec extends AnyFunSuite {
  import TestSpark.{jobsStartedBy, spark, sfDir}
  import spark.implicits._

  private def tmpDir(): String =
    java.nio.file.Files.createTempDirectory("graft_tables").toString

  private def sameRead(dir: String, name: String): DataFrame = {
    val got = Tables.table(spark, dir, name)
    assert(got.schema === spark.read.parquet(s"$dir/$name.parquet").schema, name)
    got
  }

  test("fixture tables: footer schema equals spark.read.parquet's") {
    Tables.all.foreach(sameRead(sfDir, _))
    // events through Tables.events: raw nanos still become a timestamp
    val raw = spark.read.parquet(s"$sfDir/events.parquet").schema
    val events = Tables.events(spark, sfDir).schema
    assert(events.fieldNames.toSeq === raw.fieldNames.toSeq)
    assert(events("ts").dataType === TimestampType)
    assert(events.filter(_.name != "ts") === raw.filter(_.name != "ts"))
  }

  test("partitionBy directory: partition column discovered with the same type") {
    val dir = tmpDir()
    spark.range(0, 30)
      .select(col("id"), (col("id") % 3 + 2020).cast("int").as("year"),
        concat(lit("n"), col("id").cast("string")).as("name"))
      .write.partitionBy("year").parquet(s"$dir/parted.parquet")
    val got = sameRead(dir, "parted")
    assert(got.schema("year").dataType === IntegerType)
    assert(got.filter(col("year") === 2021).count() === 10L)
  }

  test("directory with _SUCCESS and .crc files beside several data files") {
    val dir = tmpDir()
    spark.range(0, 100).select(col("id"), (col("id") * 0.5).as("half"))
      .repartition(3).write.parquet(s"$dir/multi.parquet")
    val names = new java.io.File(s"$dir/multi.parquet").list().toSeq
    assert(names.contains("_SUCCESS"))
    assert(names.exists(n => n.startsWith(".") && n.endsWith(".crc")))
    assert(sameRead(dir, "multi").count() === 100L)
  }

  test("files that disagree: Spark's first file by path, or its merge when asked") {
    val dir = tmpDir()
    val t = s"$dir/mixed.parquet"
    spark.range(3).select(col("id").as("a"), lit("x").as("b")).write.parquet(s"$t/k=1")
    // `k=1-x/…` is the least data file path ('-' sorts before '/')
    spark.range(3).select(col("id").as("a")).write.parquet(s"$t/k=1-x")
    assert(sameRead(dir, "mixed").columns.toSeq === Seq("a", "k"))
    spark.conf.set("spark.sql.parquet.mergeSchema", "true")
    try assert(sameRead(dir, "mixed").columns.toSeq === Seq("a", "b", "k"))
    finally spark.conf.unset("spark.sql.parquet.mergeSchema")
  }

  test("missing path and empty directory raise spark.read.parquet's exception class") {
    val dir = tmpDir()
    new java.io.File(s"$dir/empty.parquet").mkdir()
    Seq("missing", "empty").foreach { name =>
      val ours = intercept[Throwable](Tables.table(spark, dir, name))
      val spark0 = intercept[Throwable](spark.read.parquet(s"$dir/$name.parquet"))
      assert(ours.getClass === spark0.getClass, name)
    }
  }

  test("Tables.table starts no Spark job") {
    val dir = tmpDir()
    spark.range(0, 10).select(col("id"), (col("id") % 2).cast("int").as("year"))
      .write.partitionBy("year").parquet(s"$dir/parted.parquet")
    // the detector sees the inference job of a plain read
    assert(jobsStartedBy(spark.read.parquet(s"$dir/parted.parquet")) >= 1)
    assert(jobsStartedBy {
      Tables.all.foreach(Tables.table(spark, sfDir, _))
      Tables.table(spark, dir, "parted")
    } === 0)
  }

  test("Tables.read reads exactly a listing's files, a subset with the table's schema") {
    val dir = tmpDir()
    val t = s"$dir/t.parquet"
    Seq((1L, 1.5)).toDF("k", "v").coalesce(1).write.parquet(s"$t/a=1")
    val listed = Tables.listing(spark, t)
    assert(listed.files.size === 1)
    // a file that lands after the listing is not read
    Seq((2L, 2.5)).toDF("k", "v").coalesce(1).write.mode("append").parquet(s"$t/a=1")
    assert(Tables.read(spark, listed).as[(Long, Double, Int)].collect().toSeq === Seq((1L, 1.5, 1)))
    val now = Tables.listing(spark, t)
    assert(now.files.size === 2)
    val added = now.files.filterNot(listed.files.toSet)
    val sub = Tables.read(spark, now, added)
    assert(sub.schema === Tables.parquet(spark, t).schema)
    assert(sub.as[(Long, Double, Int)].collect().toSeq === Seq((2L, 2.5, 1)))
    // a table that is one file, and a missing one
    val file = now.files.head.path
    assert(Tables.read(spark, Tables.listing(spark, file)).count() === 1)
    assert(Tables.listing(spark, s"$dir/none.parquet").files.isEmpty)
    assert(jobsStartedBy(Tables.read(spark, now)) === 0)
  }
}
