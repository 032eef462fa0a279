package graft

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

import graft.etl.Warehouse
import graft.io.Tables
import graft.operators.AsOfJoin

class AsOfWarehouseSpec extends AnyFunSuite {
  import TestSpark.{spark, sfDir}
  import spark.implicits._

  private def ts(s: String) = java.sql.Timestamp.valueOf(s)

  test("asOf: backward match, exact-match inclusive, null when no prior row") {
    val trades = Seq(
      (1L, 100L, ts("2024-01-01 10:00:00")),
      (2L, 100L, ts("2024-01-01 10:05:00")),
      (3L, 100L, ts("2024-01-01 09:00:00")), // before any quote → null
      (4L, 200L, ts("2024-01-01 10:00:00"))  // exact-ts match
    ).toDF("trade_id", "sym", "t")
    val quotes = Seq(
      (100L, ts("2024-01-01 09:30:00"), 10.0),
      (100L, ts("2024-01-01 10:03:00"), 11.0),
      (200L, ts("2024-01-01 10:00:00"), 20.0)
    ).toDF("qsym", "qt", "price")

    val got = AsOfJoin.asOf(trades, quotes, "sym", "qsym", "t", "qt", Seq("price"))
      .select("trade_id", "price").as[(Long, Option[Double])].collect().toMap
    assert(got(1L) === Some(10.0)) // latest quote at-or-before 10:00
    assert(got(2L) === Some(11.0)) // picks the 10:03 quote
    assert(got(3L) === None)       // nothing before 09:00
    assert(got(4L) === Some(20.0)) // exact timestamp included
  }

  test("asOf: null-timestamp right rows never match") {
    val trades = Seq((1L, 100L, ts("2024-01-01 09:00:00"))).toDF("trade_id", "sym", "t")
    val quotes = Seq(
      (100L, Option.empty[java.sql.Timestamp], 99.0),
      (100L, Some(ts("2024-01-01 10:00:00")), 10.0) // after the trade
    ).toDF("qsym", "qt", "price")
    val got = AsOfJoin.asOf(trades, quotes, "sym", "qsym", "t", "qt", Seq("price"))
      .select("trade_id", "price").as[(Long, Option[Double])].collect().toMap
    assert(got(1L) === None)
  }

  test("asOf rejects payload columns that clash with left columns") {
    val l = Seq((1L, 1L, ts("2024-01-01 00:00:00"))).toDF("id", "k", "t")
    val r = Seq((1L, ts("2024-01-01 00:00:00"), 1.0)).toDF("rk", "rt", "t")
    val e = intercept[IllegalArgumentException] {
      AsOfJoin.asOf(l, r, "k", "rk", "t", "rt", Seq("t"))
    }
    assert(e.getMessage.contains("clash"))
  }

  test("asOf rejects inputs using its reserved internal column names") {
    val l = Seq((1L, 1L, ts("2024-01-01 00:00:00"), "x")).toDF("id", "k", "t", "__ts")
    val r = Seq((1L, ts("2024-01-01 00:00:00"), 1.0)).toDF("rk", "rt", "price")
    val e = intercept[IllegalArgumentException] {
      AsOfJoin.asOf(l, r, "k", "rk", "t", "rt", Seq("price"))
    }
    assert(e.getMessage.contains("reserved"))
  }

  test("latestPerKeyTs keeps exactly one deterministic row per (key, ts)") {
    val df = Seq((1L, ts("2024-01-01 00:00:00"), 5L), (1L, ts("2024-01-01 00:00:00"), 9L),
      (2L, ts("2024-01-01 00:00:00"), 1L)).toDF("k", "t", "v")
    val got = AsOfJoin.latestPerKeyTs(df, "k", "t", "v").select("k", "v")
      .as[(Long, Long)].collect().toMap
    assert(got === Map(1L -> 9L, 2L -> 1L))
  }

  test("overwritePartitions: rewrites only the touched partition, idempotently") {
    import org.apache.spark.sql.functions._
    val out = java.nio.file.Files.createTempDirectory("graft_dyn").toString
    val fact = graft.etl.Facts.factDailyInventory(
      Tables.lineitem(spark, sfDir), Tables.orders(spark, sfDir))
      .withColumn("year", ($"date_id" / 10000).cast("int")).cache()
    fact.write.mode("overwrite").partitionBy("year").parquet(out)
    val before = spark.read.parquet(out)
    val before1996 = before.filter($"year" === 1996).count()
    val beforeTotal = before.count()

    // recompute 1995 only, run the incremental overwrite twice (retry)
    val y1995 = fact.filter($"year" === 1995)
    graft.etl.Warehouse.overwritePartitions(y1995, out, "year")
    graft.etl.Warehouse.overwritePartitions(y1995, out, "year")

    val after = spark.read.parquet(out)
    assert(after.count() === beforeTotal)                       // no double-load
    assert(after.filter($"year" === 1996).count() === before1996) // untouched
    fact.unpersist()
  }

  test("overwritePartitions leaves the session's partitionOverwriteMode alone") {
    val out = java.nio.file.Files.createTempDirectory("graft_dyn_conf").toString + "/t"
    val key = "spark.sql.sources.partitionOverwriteMode"
    Seq((1995, 1L), (1996, 2L)).toDF("year", "v").write.partitionBy("year").parquet(out)
    val seen = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
    @volatile var writing = true
    val poll = new Thread(() =>
      while (writing) seen.add(spark.conf.getOption(key).getOrElse("<unset>")))
    poll.start()
    try Warehouse.overwritePartitions(Seq((1995, 3L)).toDF("year", "v"), out, "year")
    finally { writing = false; poll.join() }
    assert(!seen.isEmpty)
    assert(!seen.asScala.exists(_.equalsIgnoreCase("dynamic")), seen.asScala.toSet)
    // still a dynamic overwrite: the other year survives
    assert(spark.read.parquet(out).as[(Long, Int)].collect().toSet === Set((3L, 1995), (2L, 1996)))
  }

  test("warehouse build: dims then facts, invariant cardinalities, partitioned facts") {
    val out = java.nio.file.Files.createTempDirectory("graft_wh").toString
    val reports = Warehouse.buildAll(spark, sfDir, out)
    val byName = reports.map(r => r.table -> r.rows).toMap
    // structural invariants from BASELINE.md / SURVEY.md §6
    assert(byName("dim_date") === 2557L)
    assert(byName("fact_monthly_payment") === byName("dim_order")) // grain identity
    assert(byName("fact_daily_inventory") <= 6000L)
    // the counts observed during the writes are the rows that landed
    reports.foreach { r =>
      assert(r.rows === spark.read.parquet(s"$out/${r.table}").count(), r.table)
    }
    // facts written partitioned by year → partition dirs exist
    val dirs = new java.io.File(s"$out/fact_daily_inventory").listFiles()
      .filter(_.isDirectory).map(_.getName)
    assert(dirs.exists(_.startsWith("year=")))
    // partition pruning: a year-filtered read back touches one partition
    val pruned = spark.read.parquet(s"$out/fact_daily_inventory")
      .filter($"year" === 1995)
    assert(pruned.count() > 0)
  }

  test("pointInTime: each fact matches exactly the interval containing it") {
    import org.apache.spark.sql.functions._
    val dim = Seq(
      (1L, "bronze", "2020-01-01", "2020-06-01"),
      (1L, "gold", "2020-06-01", "9999-12-31"),
      (2L, "silver", "2020-03-01", "9999-12-31")
    ).toDF("k", "status", "f", "t")
      .select($"k", $"status", $"f".cast("date").as("eff_from"), $"t".cast("date").as("eff_to"))
    val facts = Seq(
      (10L, 1L, "2020-05-31"), // last bronze day
      (11L, 1L, "2020-06-01"), // first gold day (from-inclusive, to-exclusive)
      (12L, 2L, "2020-02-01"), // before first version → drops
      (13L, 3L, "2020-05-01")  // unknown key → drops
    ).toDF("fid", "k2", "d").select($"fid", $"k2", $"d".cast("date").as("ts"))
    val out = graft.operators.AsOfJoin.pointInTime(facts, dim, "k2", "k", "ts")
      .select("fid", "status").as[(Long, String)].collect().toMap
    assert(out === Map(10L -> "bronze", 11L -> "gold"))
  }
}
