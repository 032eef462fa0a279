package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.analytics.{Breadth, Breadth2}
import graft.io.Tables

/** Semantic tests for the second breadth batch — each query is checked
  * against an independent formulation (built-in stats, window argmax,
  * brute-force frame sums), not just for shape.
  */
class Breadth2Spec extends AnyFunSuite {
  import TestSpark.spark

  private val dir = TestSpark.sfDir

  test("statsSummary matches built-in stddev/corr within float tolerance") {
    val li = Tables.lineitem(spark, dir)
    val ours = Breadth2.statsSummary(li).collect()
      .map(r => r.getString(0) -> (r.getDouble(2), r.getDouble(3), r.getDouble(4))).toMap
    val ref = li.groupBy("l_returnflag")
      .agg(avg("l_quantity"), stddev_samp("l_quantity"),
        corr("l_quantity", "l_extendedprice"))
      .collect()
      .map(r => r.getString(0) -> (r.getDouble(1), r.getDouble(2), r.getDouble(3))).toMap
    assert(ours.keySet == ref.keySet)
    for ((k, (m, s, c)) <- ours) {
      val (rm, rs, rc) = ref(k)
      assert(math.abs(m - rm) < 1e-9, s"mean $k")
      assert(math.abs(s - rs) < 1e-6, s"stddev $k")
      assert(math.abs(c - rc) < 1e-6, s"corr $k")
    }
  }

  test("topOrderPerMonth agrees with the row_number() argmax formulation") {
    val orders = Tables.orders(spark, dir)
    val viaAgg = Breadth2.topOrderPerMonth(orders)
      .select("month_start", "top_orderkey").collect()
      .map(r => r.get(0).toString -> r.getLong(1)).toMap
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("m").orderBy(desc("o_totalprice"), desc("o_orderkey"))
    val viaWindow = orders
      .withColumn("m", trunc(col("o_orderdate"), "month"))
      .withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
      .select("m", "o_orderkey").collect()
      .map(r => r.get(0).toString -> r.getLong(1)).toMap
    assert(viaAgg == viaWindow)
  }

  test("trailing7DayRevenue: RANGE frame equals brute-force day filter") {
    val orders = Tables.orders(spark, dir)
    val rows = Breadth2.trailing7DayRevenue(orders).collect()
      .map(r => (r.getDate(0), r.getDouble(1), r.getDouble(2)))
    val byDay = rows.map(r => r._1.toLocalDate -> r._2).toMap
    // sparse series: a 7-day RANGE frame must sum only days that exist
    for ((day, _, rev7) <- rows.take(50)) {
      val d = day.toLocalDate
      val expect = (0 to 6).flatMap(i => byDay.get(d.minusDays(i.toLong))).sum
      assert(math.abs(rev7 - expect) < 1e-6, s"range frame at $d")
    }
    // and at least one day must differ from the ROWS-3 interpretation
    assert(rows.length > 10)
  }

  test("scalable rankDist is bit-identical to the window formulation") {
    val cust = Tables.customer(spark, dir)
    val a = Breadth2.balanceRankDist(cust).collect()
      .map(r => r.getLong(0) -> ((r.getDouble(2), r.getDouble(3)))).toMap
    val b = Breadth2.balanceRankDistWindow(cust).collect()
      .map(r => r.getLong(0) -> ((r.getDouble(2), r.getDouble(3)))).toMap
    assert(a.size == b.size)
    // exact equality on purpose: both sides are single divisions of the
    // same exact integer counts
    assert(a == b)
  }

  test("ntileByRange matches the ntile window exactly, incl. uneven buckets") {
    val cust = Tables.customer(spark, dir)
    val a = Breadth.balanceQuartiles(cust).collect()
      .map(r => r.getLong(0) -> r.getInt(2)).toMap
    val b = Breadth.balanceQuartilesWindow(cust).collect()
      .map(r => r.getLong(0) -> r.getInt(2)).toMap
    assert(a == b)
    // uneven case: n % k != 0 and n < k
    for (n <- Seq(7, 3); k = 4) {
      val df = spark.range(n.toLong).toDF("id")
      val sc = graft.operators.GlobalRank
        .ntileByRange(df, k, Seq("id"), "t").collect()
        .map(r => r.getLong(0) -> r.getInt(1)).toMap
      import org.apache.spark.sql.expressions.Window
      val wn = df.withColumn("t", ntile(k).over(Window.orderBy("id"))).collect()
        .map(r => r.getLong(0) -> r.getInt(1)).toMap
      assert(sc == wn, s"n=$n k=$k")
    }
  }

  test("balanceRankDist bounds and monotonicity") {
    val out = Breadth2.balanceRankDist(Tables.customer(spark, dir))
      .orderBy("c_acctbal").collect()
    assert(out.head.getDouble(2) == 0.0)
    assert(out.last.getDouble(2) == 1.0)
    assert(out.last.getDouble(3) == 1.0)
    val pr = out.map(_.getDouble(2)); val cd = out.map(_.getDouble(3))
    assert(pr.zip(pr.tail).forall { case (a, b) => a <= b })
    assert(cd.zip(cd.tail).forall { case (a, b) => a <= b })
  }

  test("segmentsPerNation emits sorted distinct segments") {
    val out = Breadth2.segmentsPerNation(Tables.customer(spark, dir)).collect()
    assert(out.nonEmpty)
    for (r <- out) {
      val segs = r.getString(1).split(",")
      assert(segs.toSeq == segs.toSeq.sorted)
      assert(segs.distinct.length == segs.length)
      assert(segs.length.toLong == r.getLong(2))
    }
  }

  test("nationCoverage covers union of both sides with zero-filled counts") {
    val cust = Tables.customer(spark, dir)
    val supp = Tables.supplier(spark, dir)
    val out = Breadth2.nationCoverage(cust, supp).collect()
      .map(r => r.getAs[Number](0).longValue -> ((r.getLong(1), r.getLong(2)))).toMap
    val cNations = cust.filter(col("c_mktsegment") === "MACHINERY")
      .select("c_nationkey").distinct().collect().map(_.getAs[Number](0).longValue).toSet
    val sNations = supp.filter(col("s_acctbal") > 9000.0)
      .select("s_nationkey").distinct().collect().map(_.getAs[Number](0).longValue).toSet
    assert(out.keySet == (cNations ++ sNations))
    for (n <- cNations if !sNations.contains(n)) assert(out(n)._2 == 0L)
    for (n <- sNations if !cNations.contains(n)) assert(out(n)._1 == 0L)
  }

  test("revenueGroupingSets totals are consistent across sets") {
    val out = Breadth2.revenueGroupingSets(spark, Tables.orders(spark, dir)).collect()
    val byYear = out.filter(r => r.getInt(4) == 0 && r.getInt(5) == 1)
    val byStatus = out.filter(r => r.getInt(4) == 1 && r.getInt(5) == 0)
    val grand = out.filter(r => r.getInt(4) == 1 && r.getInt(5) == 1)
    assert(grand.length == 1)
    val g = grand.head.getDouble(2)
    assert(math.abs(byYear.map(_.getDouble(2)).sum - g) < 1e-6)
    assert(math.abs(byStatus.map(_.getDouble(2)).sum - g) < 1e-6)
    assert(byYear.forall(_.get(1) == null) && byStatus.forall(_.get(0) == null))
  }

  test("revenueUnpivot is the inverse of the pivot (non-null cells)") {
    val orders = Tables.orders(spark, dir)
    val long = Breadth2.revenueUnpivot(orders).collect()
      .map(r => (r.getInt(0), r.getString(1)) -> r.getDouble(2)).toMap
    val wide = Breadth.revenuePivot(orders).collect()
    var cells = 0
    for (r <- wide; (name, idx) <- Seq(("rev_open", 1), ("rev_fulfilled", 2), ("rev_pending", 3))) {
      if (!r.isNullAt(idx)) {
        cells += 1
        assert(long((r.getInt(0), name)) == r.getDouble(idx))
      }
    }
    assert(cells == long.size)
  }

  test("orderTimeline value functions agree with a per-group sort") {
    val orders = Tables.orders(spark, dir)
    val rows = Breadth2.orderTimeline(orders).collect()
    def ts(r: org.apache.spark.sql.Row, i: Int): java.time.LocalDateTime =
      r.getAs[java.time.LocalDateTime](i)
    val byCust = rows.groupBy(_.getLong(1))
    for ((_, rs) <- byCust.take(30)) {
      val sorted = rs.sortBy(r =>
        (ts(r, 2).toInstant(java.time.ZoneOffset.UTC).toEpochMilli, r.getLong(0)))
      val first = ts(sorted.head, 2)
      val lastV = ts(sorted.last, 2)
      for (r <- rs) {
        assert(ts(r, 3) == first)
        assert(ts(r, 4) == lastV)
        if (sorted.length >= 2) assert(ts(r, 5) == ts(sorted(1), 2))
        else assert(r.isNullAt(5))
      }
      // lead: next row's date in sort order, null on the last row
      for ((r, i) <- sorted.zipWithIndex) {
        if (i < sorted.length - 1) assert(ts(r, 6) == ts(sorted(i + 1), 2))
        else assert(r.isNullAt(6))
      }
    }
  }

  test("gapFillDaily: contiguous spine, nulls on gap days, forward fill carries") {
    val out = Breadth2.gapFillDaily(
      Tables.lineitem(spark, dir), Tables.orders(spark, dir)).orderBy("order_day").collect()
    assert(out.nonEmpty)
    val days = out.map(_.getDate(0).toLocalDate)
    // spine is gap-free min..max
    assert(days.zip(days.tail).forall { case (a, b) => a.plusDays(1) == b })
    // endpoints are observed (non-null) by construction
    assert(!out.head.isNullAt(1) && !out.last.isNullAt(1))
    // series must actually be sparse, else the test proves nothing
    assert(out.exists(_.isNullAt(1)))
    // forward fill: filled equals the most recent non-null observation
    var lastSeen = out.head.getLong(1)
    for (r <- out) {
      if (!r.isNullAt(1)) lastSeen = r.getLong(1)
      assert(r.getLong(2) == lastSeen)
    }
  }

  /** The gap fill as composed before the run-start rewrite: a cached
    * daily aggregate, a min..max date spine, a left join and an IGNORE
    * NULLS last() window. Returns the result and the cache to release.
    */
  private def spineGapFill(lineitem: DataFrame, orders: DataFrame,
                           suppkey: Long): (DataFrame, DataFrame) = {
    val daily = graft.Caching.materialize(
      lineitem.filter(col("l_suppkey") === suppkey)
        .join(orders, col("l_orderkey") === col("o_orderkey"))
        .groupBy(to_date(col("o_orderdate")).as("d"))
        .agg(count(lit(1)).as("n")))
    val spine = daily.agg(min("d").as("lo"), max("d").as("hi"))
      .select(explode(sequence(col("lo"), col("hi"))).as("d"))
    val w = Window.orderBy("d").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val out = spine.join(daily, Seq("d"), "left")
      .select(col("d").as("order_day"), col("n").as("n_items"),
        last("n", ignoreNulls = true).over(w).as("n_items_filled"))
    (out, daily)
  }

  private def gapFillRows(df: DataFrame): Seq[(String, Option[Long], Option[Long])] =
    df.collect().toSeq.map { r =>
      (r.getDate(0).toString, Option(r.get(1)).map(_.asInstanceOf[Long]),
        Option(r.get(2)).map(_.asInstanceOf[Long]))
    }.sortBy(_._1)

  /** Asserts the two compositions agree for one supplier; returns the rows. */
  private def assertSameAsSpine(lineitem: DataFrame, orders: DataFrame,
                                suppkey: Long): Seq[(String, Option[Long], Option[Long])] = {
    val (want, daily) = spineGapFill(lineitem, orders, suppkey)
    val got = Breadth2.gapFillDaily(lineitem, orders, suppkey)
    try {
      assert(got.dtypes.toSeq === want.dtypes.toSeq)
      val rows = gapFillRows(got)
      assert(rows === gapFillRows(want), s"suppkey $suppkey")
      rows
    } finally daily.unpersist(blocking = true)
  }

  test("gapFillDaily equals the spine + left join + last(ignoreNulls) composition on sf0.001") {
    val li = Tables.lineitem(spark, dir)
    val ord = Tables.orders(spark, dir)
    val suppliers = li.select("l_suppkey").distinct().collect().map(_.getLong(0)).sorted
    assert(suppliers.nonEmpty)
    val filled = suppliers.map(s => assertSameAsSpine(li, ord, s))
    assert(filled.forall(_.nonEmpty))
    assert(filled.exists(_.exists(_._2.isEmpty)), "no supplier has a gap day")
    assert(assertSameAsSpine(li, ord, suppliers.max + 1).isEmpty)
  }

  test("gapFillDaily equals the spine composition on gaps, adjacent days, one day and nulls") {
    import spark.implicits._
    // supplier 1: 01-01 ×3 (two orders), adjacent 01-02, gap 01-03..01-04,
    //   01-05, adjacent 01-06 ×3; plus an order with a null date and a
    //   lineitem with no order; supplier 2: one day; supplier 3: only the
    //   null-date order; supplier 4: only the orphan lineitem
    val orders = Seq[(Long, Option[String])](
      (1L, Some("2024-01-01 09:00:00")), (2L, Some("2024-01-01 18:00:00")),
      (3L, Some("2024-01-02 00:00:00")), (4L, Some("2024-01-05 12:00:00")),
      (5L, Some("2024-01-06 23:59:59")), (6L, None), (7L, Some("2024-03-10 08:00:00")))
      .toDF("o_orderkey", "d")
      .select(col("o_orderkey"), to_timestamp(col("d")).as("o_orderdate"))
    val lineitem = Seq(
      (1L, 1L), (1L, 1L), (2L, 1L), (3L, 1L), (4L, 1L), (5L, 1L), (5L, 1L), (5L, 1L),
      (6L, 1L), (99L, 1L), (7L, 2L), (7L, 2L), (6L, 3L), (99L, 4L))
      .toDF("l_orderkey", "l_suppkey")
    assert(assertSameAsSpine(lineitem, orders, 1L) === Seq(
      ("2024-01-01", Some(3L), Some(3L)), ("2024-01-02", Some(1L), Some(1L)),
      ("2024-01-03", None, Some(1L)), ("2024-01-04", None, Some(1L)),
      ("2024-01-05", Some(1L), Some(1L)), ("2024-01-06", Some(3L), Some(3L))))
    assert(assertSameAsSpine(lineitem, orders, 2L) === Seq(("2024-03-10", Some(2L), Some(2L))))
    Seq(3L, 4L, 5L).foreach(s => assert(assertSameAsSpine(lineitem, orders, s).isEmpty))
  }

  test("gapFillDaily collects in one SQL execution, half the jobs, and caches nothing") {
    spark.catalog.clearCache()
    val li = Tables.lineitem(spark, dir)
    val ord = Tables.orders(spark, dir)
    val starts = TestSpark.startedBy(Breadth2.gapFillDaily(li, ord).collect())
    // the cached-aggregate + spine + join composition ran 2 executions
    // and 8 jobs here; this query starts 4
    assert(starts.sqlExecutions === 1, s"$starts")
    assert(starts.jobs <= 8 / 2, s"$starts")
    assert(spark.sharedState.cacheManager.isEmpty)
  }

  test("distinctAgg matches a dedup-then-sum formulation") {
    val orders = Tables.orders(spark, dir)
    val got = Breadth2.distinctAgg(orders).collect()
      .map(r => r.getInt(0) -> ((r.getDouble(1), r.getLong(2)))).toMap
    val expect = orders
      .select(year(col("o_orderdate")).as("o_year"),
        col("o_totalprice").cast(org.apache.spark.sql.types.DecimalType(18, 2)).as("p"),
        col("o_custkey"))
      .distinct()  // over (year, price, custkey); then re-dedup per measure
    val sums = expect.select("o_year", "p").distinct()
      .groupBy("o_year").agg(sum("p").cast("double").as("s")).collect()
      .map(r => r.getInt(0) -> r.getDouble(1)).toMap
    val counts = expect.select("o_year", "o_custkey").distinct()
      .groupBy("o_year").agg(count(lit(1)).as("c")).collect()
      .map(r => r.getInt(0) -> r.getLong(1)).toMap
    assert(got.keySet == sums.keySet)
    for ((y, (s, c)) <- got) {
      assert(math.abs(s - sums(y)) < 1e-9, s"sum distinct year $y")
      assert(c == counts(y), s"count distinct year $y")
    }
  }

  test("incidentOverlap matches a brute-force overlap check") {
    val events = Tables.events(spark, dir)
    val got = Breadth2.incidentOverlap(events, spark).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDate(2).toString)).toSet
    assert(got.nonEmpty)
    // brute force: every (incident, user-day span) pair tested in Scala
    // session TZ is UTC, so wall-clock strings parse to the same instants
    def utc(s: String): Long =
      java.time.LocalDateTime.parse(s).toInstant(java.time.ZoneOffset.UTC).toEpochMilli
    val spans = events.groupBy(col("user_id"), to_date(col("ts")).as("day"))
      .agg(min("ts").as("s"), max("ts").as("e")).collect()
      .map(r => (r.getLong(0), r.getDate(1).toString,
        r.getTimestamp(2).getTime, r.getTimestamp(3).getTime))
    val incidents = Seq(
      ("inc_a", utc("2024-01-03T06:00"), utc("2024-01-03T18:00")),
      ("inc_b", utc("2024-01-10T00:00"), utc("2024-01-12T00:00")),
      ("inc_c", utc("2024-01-20T22:00"), utc("2024-01-21T02:00")))
    val expect = (for {
      (iid, is, ie) <- incidents
      (uid, day, ss, se) <- spans
      if ss < ie && is < se
    } yield (iid, uid, day)).toSet
    assert(got === expect)
  }

  test("brandPriceRanks: rank gaps after ties, dense_rank contiguous") {
    val out = Breadth2.brandPriceRanks(Tables.part(spark, dir)).collect()
    val byBrand = out.groupBy(_.getString(0))
    for ((_, rs) <- byBrand) {
      val sorted = rs.sortBy(r => (-r.getDouble(2), r.getInt(3)))
      assert(sorted.head.getInt(3) == 1 && sorted.head.getInt(4) == 1)
      // dense ranks form a contiguous 1..D set; ranks can gap but stay
      // consistent with position of first tie member
      val denses = sorted.map(_.getInt(4)).distinct.sorted
      assert(denses.sameElements(1 to denses.length))
      for ((a, b) <- sorted.zip(sorted.tail)) {
        if (a.getDouble(2) == b.getDouble(2)) {
          assert(a.getInt(3) == b.getInt(3) && a.getInt(4) == b.getInt(4))
        } else {
          assert(b.getInt(3) > a.getInt(3) && b.getInt(4) == a.getInt(4) + 1)
        }
      }
    }
  }

  test("arrayOps agrees with a plain-Scala computation") {
    val docs = Tables.documents(spark, dir)
    val got = Breadth2.arrayOps(docs).collect()
      .map(r => r.getLong(0) -> ((r.getInt(1), r.getInt(2), r.getDouble(3), r.getInt(4)))).toMap
    val raw = docs.select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got.keySet == raw.keySet)
    for ((id, text) <- raw.take(200)) {
      val toks = if (text.trim.isEmpty) Array.empty[String] else text.trim.split("\\s+")
      val (n, nl, mean, mx) = got(id)
      assert(n == toks.length)
      assert(nl == toks.count(_.length > 5))
      if (toks.isEmpty) assert(mean == 0.0 && mx == 0)
      else {
        assert(mean == toks.map(_.length.toLong).sum.toDouble / toks.length)
        assert(mx == toks.map(_.length).max)
      }
    }
  }

  test("approx percentiles land within sketch error of the exact ones") {
    val li = Tables.lineitem(spark, dir)
    val approx = Breadth.approxQuantityPercentiles(li).collect()
      .map(r => r.getString(0) -> ((r.getDouble(1), r.getDouble(2), r.getDouble(3)))).toMap
    val exact = Breadth.quantitypercentiles(li).collect()
      .map(r => r.getString(0) -> ((r.getDouble(1), r.getDouble(2), r.getDouble(3)))).toMap
    assert(approx.keySet == exact.keySet)
    // l_quantity spans ~1..50; at accuracy 10000 the rank error is tiny,
    // so the sketch value must sit within one quantity step of exact
    for ((k, (a50, a90, a99)) <- approx; (e50, e90, e99) = exact(k)) {
      assert(math.abs(a50 - e50) <= 1.0, s"p50 $k")
      assert(math.abs(a90 - e90) <= 1.0, s"p90 $k")
      assert(math.abs(a99 - e99) <= 1.0, s"p99 $k")
    }
  }

  test("checked approx variants: every error-bound verdict holds") {
    val d = Breadth.approxDistinctChecked(Tables.orders(spark, dir)).collect()
    assert(d.nonEmpty && d.forall(_.getBoolean(2)), "HLL outside 5% of exact")
    val p = Breadth.approxPercentilesChecked(Tables.lineitem(spark, dir)).collect()
    assert(p.nonEmpty && p.forall(r =>
      r.getBoolean(2) && r.getBoolean(3) && r.getBoolean(4)),
      "approx percentile off by more than one quantity step")
  }

  test("topTokens is k rows ordered by count desc then token") {
    val out = Breadth2.topTokens(Tables.documents(spark, dir), k = 20).collect()
      .map(r => (r.getString(0), r.getLong(1)))
    assert(out.length == 20)
    assert(out.zip(out.tail).forall { case ((t1, n1), (t2, n2)) =>
      n1 > n2 || (n1 == n2 && t1 < t2)
    })
    assert(out.forall(_._1.nonEmpty))
  }
}
