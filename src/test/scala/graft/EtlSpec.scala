package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.etl.{Dims, Facts}
import graft.io.Tables

class EtlSpec extends AnyFunSuite {
  import TestSpark.{spark, sfDir}
  import spark.implicits._

  test("dim_date: continuous daily calendar with YYYYMMDD surrogate keys") {
    val dd = Dims.dimDate(spark).cache()
    assert(dd.count() === 2557) // 1995-01-01..2001-12-31 incl. two leap years
    // P3/P4 round-trip: date_id parses back to full_date
    val bad = dd.filter(
      to_date($"date_id".cast("string"), "yyyyMMdd") =!= $"full_date").count()
    assert(bad === 0)
    assert(dd.select("date_id").distinct().count() === 2557)
    dd.unpersist()
  }

  test("dim_date rejects a bound that is not an ISO date, and an end before the start, up front") {
    for ((start, end) <- Seq(("1995-13-01", "1996-01-01"), ("1995-01-01", "yesterday"),
      ("1995-1-1", "1996-01-01"), ("2001-01-02", "2001-01-01")))
      assertThrows[IllegalArgumentException](Dims.dimDate(spark, start, end))
    // a one-day calendar is a range
    assert(Dims.dimDate(spark, "2001-01-01", "2001-01-01").select("date_id").as[Int]
      .collect().toSeq === Seq(20010101))
  }

  test("date keys: integer YYYYMMDD equals the formatted key, and maps back, for years 1..9999") {
    assert(spark.conf.get("spark.sql.ansi.enabled") === "true")
    val dates = Seq("0001-01-01", "0999-12-31", "1000-01-01", "1900-02-28", "2000-02-29",
      "2000-12-31", "2001-01-01", "9999-12-31").map(d => Some(java.time.LocalDate.parse(d))) :+ None
    val df = dates.toDF("d").withColumn("t", $"d".cast("timestamp_ntz"))
      .withColumn("old", date_format($"d", "yyyyMMdd").cast("int"))
      .withColumn("key", Dims.dateKey($"d"))
      .withColumn("key_t", Dims.dateKey($"t"))
      .withColumn("back", Dims.keyDate($"key"))
    val rows = df.select("d", "old", "key", "key_t", "back").as[(Option[java.time.LocalDate],
      Option[Int], Option[Int], Option[Int], Option[java.time.LocalDate])].collect()
    assert(rows.length === dates.length)
    rows.foreach { case (d, old, key, keyT, back) =>
      assert(key === old, d)
      assert(keyT === old, d)
      assert(back === d, d)
    }
    // the string round trip the key replaces cannot read years below 1000
    intercept[Exception](Seq(10101).toDF("k")
      .select(to_date($"k".cast("string"), "yyyyMMdd")).collect())
  }

  test("dims: projected, cleaned, key-unique on fixture data") {
    val dc = Dims.dimCustomer(Tables.customer(spark, sfDir))
    assert(dc.columns.toSeq === Seq("c_custkey", "c_name", "c_nationkey"))
    assert(dc.count() === dc.select("c_custkey").distinct().count())
  }

  test("fact_daily_inventory: counts sum to cleaned join input rows") {
    val li  = Tables.lineitem(spark, sfDir)
    val ord = Tables.orders(spark, sfDir)
    val fact = Facts.factDailyInventory(li, ord).cache()
    val joinRows = li.join(ord, li("l_orderkey") === ord("o_orderkey")).count()
    val summed = fact.agg(sum("inventory_count")).as[Long].head()
    assert(summed === joinRows)
    assert(fact.count() <= joinRows)
    fact.unpersist()
  }

  test("null group keys: Spark keeps them; clean-before-group removes them (SURVEY §7.4.4)") {
    val df = Seq((Some(1), 10), (None, 20), (Some(1), 30)).toDF("k", "v")
    // raw groupBy retains the null-key group (unlike pandas)
    assert(df.groupBy("k").count().count() === 2)
    // the reference's clean-first ordering makes the semantics match
    assert(graft.etl.Clean.clean(df).groupBy("k").count().count() === 1)
  }

  test("J1 invariant: inner join row count == |left| when right key is unique and covering") {
    val li  = Tables.lineitem(spark, sfDir)
    val ord = Tables.orders(spark, sfDir)
    assert(ord.count() === ord.select("o_orderkey").distinct().count()) // unique
    val joined = li.join(ord, li("l_orderkey") === ord("o_orderkey")).count()
    assert(joined === li.count()) // every lineitem has its order
  }

  test("fact_monthly_payment: one group per order (orderkey unique in orders)") {
    val ord = Tables.orders(spark, sfDir)
    val fact = Facts.factMonthlyPayment(ord)
    // Mirrors the reference's 16 044 → 16 044 identity (BASELINE.md): the
    // group key includes the event key, so grain == source grain.
    assert(fact.count() === ord.count())
    // date_id is first-of-month encoded
    val badDay = fact.filter($"date_id" % 100 =!= 1).count()
    assert(badDay === 0)
  }

  test("facts: post-agg null-drop equals Clean.clean of the grouped frame, 2 HashAggregates each") {
    // dirty inputs: null keys, null measures, repeated rows
    val li = Seq[(Option[Long], Option[Long], Option[Long])](
      (Some(1L), Some(10L), Some(100L)), (Some(1L), Some(10L), Some(100L)),
      (Some(1L), None, Some(100L)), (Some(2L), Some(20L), None),
      (Some(2L), Some(20L), Some(200L)), (Some(3L), Some(30L), Some(300L)),
      (None, Some(40L), Some(400L)), (Some(3L), Some(30L), Some(300L))
    ).toDF("l_orderkey", "l_partkey", "l_suppkey")
    val ord = Seq[(Option[Long], Option[Long], Option[String], Option[Double])](
      (Some(1L), Some(7L), Some("1996-01-02"), Some(10.25)),
      (Some(1L), Some(7L), Some("1996-01-02"), Some(10.25)),
      (Some(2L), None, Some("1996-02-03"), Some(5.5)),
      (Some(3L), Some(8L), None, Some(1.0)),
      (Some(4L), Some(9L), Some("1996-03-04"), None),
      (Some(4L), Some(9L), Some("1996-03-04"), None)
    ).toDF("o_orderkey", "o_custkey", "o_orderdate", "o_totalprice")
      .withColumn("o_orderdate", $"o_orderdate".cast("date"))
    val dailyGrouped = li.join(ord, li("l_orderkey") === ord("o_orderkey"))
      .withColumn("date_id", date_format($"o_orderdate", "yyyyMMdd").cast("int"))
      .groupBy("date_id", "l_partkey", "l_suppkey")
      .agg(count(lit(1)).as("inventory_count"))
    val monthlyGrouped = ord
      .withColumn("date_id",
        (year($"o_orderdate") * 10000 + month($"o_orderdate") * 100 + 1).cast("int"))
      .groupBy("o_custkey", "o_orderkey", "date_id")
      .agg(sum($"o_totalprice".cast("decimal(18,2)")).cast("double").as("monthly_payment_total"))
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect().map(_.toString).sorted.toSeq
    def hashAggs(df: org.apache.spark.sql.DataFrame): Int = {
      df.collect() // the final adaptive plan
      PlanNodes.collect(df.queryExecution.executedPlan) {
        case h: org.apache.spark.sql.execution.aggregate.HashAggregateExec => h
      }.size
    }
    Seq(
      Facts.factDailyInventory(li, ord) -> dailyGrouped,
      Facts.factMonthlyPayment(ord) -> monthlyGrouped
    ).foreach { case (fact, grouped) =>
      val want = graft.etl.Clean.clean(grouped)
      assert(rows(fact) === rows(want))
      assert(rows(fact).nonEmpty && rows(fact).size < rows(grouped).size) // nulls were dropped
      assert(hashAggs(fact) === 2) // partial + final of the groupBy, nothing more
    }
  }

  test("profile counts nulls and exact distincts per column in one pass") {
    val df = Seq(
      (Some(1), Some("a")), (Some(1), None), (Some(2), Some("b")), (None, Some("b"))
    ).toDF("x", "y")
    val got = graft.etl.Profile.profile(df).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(got("x") === ((1L, 2L)))
    assert(got("y") === ((1L, 2L)))
    intercept[IllegalArgumentException] {
      graft.etl.Profile.profile(df, Seq("zzz"))
    }
  }
}

/** Physical-plan traversal that steps into adaptive query stages. */
object PlanNodes extends org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
