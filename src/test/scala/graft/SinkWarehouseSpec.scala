package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.etl.Warehouse

/** The write-side maintenance features: the CDC upsert and small-file
  * compaction.
  */
class SinkWarehouseSpec extends AnyFunSuite {
  import TestSpark.spark
  import spark.implicits._

  test("upsertByKey: updates replace, inserts append, others pass through") {
    val base = Seq((1L, "a", 10.0), (2L, "b", 20.0), (3L, "c", 30.0))
      .toDF("k", "name", "v")
    val updates = Seq((2L, "b2", 22.0), (4L, "d", 40.0))
      .toDF("k", "name", "v")
    val merged = Warehouse.upsertByKey(base, updates, "k").collect()
      .map(r => r.getLong(0) -> ((r.getString(1), r.getDouble(2)))).toMap
    assert(merged === Map(
      1L -> (("a", 10.0)), 2L -> (("b2", 22.0)),
      3L -> (("c", 30.0)), 4L -> (("d", 40.0))))
  }

  test("compact rewrites a many-file mess into the target file count, losslessly") {
    import org.apache.spark.sql.functions.{col, input_file_name}
    val messy = java.nio.file.Files.createTempDirectory("graft_cm_in").toString
    val tidy = java.nio.file.Files.createTempDirectory("graft_cm_out").toString
    val data = (1L to 10000L).map(i => (i, i % 97)).toDF("id", "v")
    data.repartition(200).write.mode("overwrite").parquet(messy) // 200 tiny files
    val src = spark.read.parquet(messy)
    assert(src.select(input_file_name()).distinct().count() === 200)

    val rows = graft.etl.Warehouse.compact(src, tidy, targetRecords = 2500,
      sortCols = Seq("id"))
    assert(rows === 10000)
    val out = spark.read.parquet(tidy)
    // range-partition boundaries are sampled, so partitions are only
    // near-equal and the writer may split a few — the contract is "a
    // handful of right-sized files", not an exact count
    val nFiles = out.select(input_file_name()).distinct().count()
    assert(nFiles >= 4 && nFiles <= 10, s"got $nFiles files from 200")
    // lossless: same multiset of rows
    assert(out.count() === 10000)
    assert(out.join(data, Seq("id", "v"), "left_anti").count() === 0)
    // range-sorted files: per-file id ranges are disjoint quarters
    val ranges = out.groupBy(input_file_name())
      .agg(org.apache.spark.sql.functions.max(col("id")).as("hi"),
        org.apache.spark.sql.functions.min(col("id")).as("lo"))
      .select("lo", "hi").as[(Long, Long)].collect().sortBy(_._1)
    ranges.sliding(2).foreach {
      case Array((_, hi1), (lo2, _)) => assert(hi1 < lo2, "file ranges overlap")
      case _ => ()
    }
  }
}
