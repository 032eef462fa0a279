package graft.analytics

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.functions.MoneyFunctions.cents_sum

/** Second operator-breadth batch: statistical aggregates, argmax
  * aggregation, RANGE window frames, rank distributions, set collection,
  * full-outer joins, GROUPING SETS, unpivot/melt, and token analytics.
  *
  * Determinism contract (same as [[Breadth]]): every float the driver
  * hashes is either (a) a single IEEE operation over exactly-represented
  * inputs (decimal sums cast to double, integer counts), or (b) an
  * expression tree written with the *same shape* in the DuckDB oracle so
  * both engines perform the identical sequence of correctly-rounded ops.
  * Multi-term float folds with engine-specific accumulation order (e.g.
  * built-in stddev/corr) are avoided in checked outputs — the moments are
  * accumulated in DECIMAL (exact, order-independent) and the closed-form
  * statistic is computed from them in one deterministic expression.
  */
object Breadth2 {

  private def dec(c: String) = col(c).cast(DecimalType(18, 2))

  /** Distribution statistics per return flag: mean / sample stddev /
    * Pearson correlation, computed from exact decimal power sums.
    *
    * Scale note: this is the textbook map-side-combinable formulation —
    * each partition contributes exact partial sums (n, Σx, Σx², Σxy, …),
    * so the shuffle carries 5 numbers per group regardless of row count,
    * and the result is independent of partition order (decimal addition
    * is associative; float accumulation is not). Spark's built-in
    * `stddev`/`corr` stream doubles through Welford-style merges whose
    * low bits depend on partition boundaries — fine for analytics, wrong
    * for a bit-reproducible pipeline.
    */
  def statsSummary(lineitem: DataFrame): DataFrame = {
    val sums = lineitem
      .select(col("l_returnflag"), dec("l_quantity").as("q"), dec("l_extendedprice").as("p"))
      .groupBy("l_returnflag")
      .agg(
        count(lit(1)).as("n_rows"),
        sum(col("q")).cast("double").as("sx"),
        sum(col("q") * col("q")).cast("double").as("sx2"),
        sum(col("p")).cast("double").as("sy"),
        sum(col("p") * col("p")).cast("double").as("sy2"),
        sum(col("q") * col("p")).cast("double").as("sxy"))
      .withColumn("nd", expr("CAST(n_rows AS DOUBLE)"))
    sums.select(
      col("l_returnflag"),
      col("n_rows"),
      expr("sx / nd").as("mean_qty"),
      expr("sqrt((nd*sx2 - sx*sx) / (nd*(nd-1.0)))").as("stddev_qty"),
      expr("(nd*sxy - sx*sy) / (sqrt(nd*sx2 - sx*sx) * sqrt(nd*sy2 - sy*sy))")
        .as("corr_qty_price"))
  }

  /** Argmax aggregation: the single most expensive order per month via
    * `max_by` over a collision-free composite key (price-in-cents scaled
    * past the key domain, orderkey as tie-break) — one hash-agg, no
    * window, no self-join. At scale this beats the row_number() pattern:
    * partial max_by combines map-side, so the shuffle is one row per
    * month per partition.
    */
  def topOrderPerMonth(orders: DataFrame): DataFrame = {
    // cents ≤ ~6e7, orderkey ≪ 1e10 ⇒ key = cents·1e10 + orderkey is
    // unique and fits a BIGINT; ties in price resolve to the larger key.
    val key = "CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) * 10000000000 + o_orderkey"
    orders
      .groupBy(trunc(col("o_orderdate"), "month").as("month_start"))
      .agg(
        expr(s"max_by(o_orderkey, $key)").as("top_orderkey"),
        expr(s"max_by(o_totalprice, $key)").as("top_totalprice"),
        count(lit(1)).as("n_orders"))
  }

  /** RANGE window frame: trailing-7-day revenue over the (sparse) daily
    * series. Unlike ROWS frames, RANGE counts *value* distance — missing
    * days shrink the window — so this exercises Spark's range-frame
    * machinery. Ordered by an integer day number because Spark range
    * frames need a numeric sort key.
    */
  def trailing7DayRevenue(orders: DataFrame): DataFrame = {
    val daily = orders
      .groupBy(to_date(col("o_orderdate")).as("order_day"))
      .agg(cents_sum(col("o_totalprice")).as("rev"))
      .withColumn("day_num", datediff(col("order_day"), lit("1990-01-01")))
    // single-partition window is fine: the *daily* grain is bounded
    // (~years × 365 rows) no matter how many base rows feed it
    val w = Window.orderBy("day_num").rangeBetween(-6, 0)
    daily.select(
      col("order_day"),
      col("rev").cast("double").as("daily_revenue"),
      sum("rev").over(w).cast("double").as("rev_7d"))
  }

  /** Rank distributions: percent_rank + cume_dist of every customer by
    * account balance. Both are single exact divisions of integer ranks —
    * bit-identical across engines. Ties share a value, so no tie-break
    * is needed for determinism.
    *
    * Computed via [[graft.operators.GlobalRank]] — the unpartitioned
    * window would collapse all rows into one partition; the rank-from-
    * value-counts formulation keeps every shuffle keyed. The window
    * variant below exists as the differential test reference.
    */
  def balanceRankDist(customer: DataFrame): DataFrame =
    graft.operators.GlobalRank
      .rankDist(customer.select("c_custkey", "c_acctbal"), "c_acctbal")
      .select("c_custkey", "c_acctbal", "pct_rank", "cume")

  /** Single-partition window formulation of [[balanceRankDist]] — the
    * semantics oracle for the scalable version (bit-identical results).
    */
  def balanceRankDistWindow(customer: DataFrame): DataFrame = {
    val w = Window.orderBy("c_acctbal")
    customer.select(
      col("c_custkey"), col("c_acctbal"),
      percent_rank().over(w).as("pct_rank"),
      cume_dist().over(w).as("cume"))
  }

  /** Set-valued aggregation: distinct market segments per nation,
    * emitted as a sorted comma-joined string (arrays don't survive the
    * driver's pandas row-sort; a canonical string does).
    */
  def segmentsPerNation(customer: DataFrame): DataFrame =
    customer.groupBy("c_nationkey")
      .agg(
        array_join(sort_array(collect_set(col("c_mktsegment"))), ",").as("segments"),
        countDistinct(col("c_mktsegment")).as("n_segments"))

  /** Full-outer join with deliberately partial sides: nations seen among
    * MACHINERY customers vs nations of high-balance suppliers. COALESCE
    * folds the three match regions into one complete key column.
    */
  def nationCoverage(customer: DataFrame, supplier: DataFrame): DataFrame = {
    val c = customer.filter(col("c_mktsegment") === "MACHINERY")
      .groupBy(col("c_nationkey").as("c_nk")).agg(count(lit(1)).as("n_customers"))
    val s = supplier.filter(col("s_acctbal") > 9000.0)
      .groupBy(col("s_nationkey").as("s_nk")).agg(count(lit(1)).as("n_suppliers"))
    c.join(s, c("c_nk") === s("s_nk"), "full_outer")
      .select(
        coalesce(col("c_nk"), col("s_nk")).as("nationkey"),
        coalesce(col("n_customers"), lit(0L)).as("n_customers"),
        coalesce(col("n_suppliers"), lit(0L)).as("n_suppliers"))
  }

  /** GROUPING SETS ((year), (status), ()) — finer control than CUBE /
    * ROLLUP (already covered in [[Breadth]]); exposed through spark.sql
    * because the Dataset API only surfaces cube/rollup. grouping()
    * flags disambiguate aggregate NULLs from data NULLs.
    */
  def revenueGroupingSets(spark: SparkSession, orders: DataFrame): DataFrame = {
    orders.select(
        expr("CAST(year(o_orderdate) AS INT)").as("o_year"),
        col("o_orderstatus").as("status"),
        col("o_totalprice"))
      .createOrReplaceTempView("orders_gsets")
    spark.sql(
      """SELECT o_year, status,
        |       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue,
        |       COUNT(*) AS n_orders,
        |       CAST(grouping(o_year) AS INT) AS g_year,
        |       CAST(grouping(status) AS INT) AS g_status
        |FROM orders_gsets
        |GROUP BY GROUPING SETS ((o_year), (status), ())""".stripMargin)
  }

  /** Unpivot (melt): the wide per-status pivot folded back to long form.
    * Demonstrates the lossless pivot⇄unpivot round-trip; NULL cells
    * (status absent in a year) are dropped on both sides.
    */
  def revenueUnpivot(orders: DataFrame): DataFrame =
    Breadth.revenuePivot(orders)
      .unpivot(
        Array(col("o_year")),
        Array(col("rev_open"), col("rev_fulfilled"), col("rev_pending")),
        "status_bucket", "revenue")
      .filter(col("revenue").isNotNull)

  /** Window value functions over each customer's order timeline:
    * first/last/second order date (full-frame last_value and nth_value)
    * and the next order (lead). The window's sort carries a unique
    * tie-break (orderkey) — first/last/nth are frame-dependent, so an
    * ambiguous order would be nondeterministic under ties.
    */
  def orderTimeline(orders: DataFrame): DataFrame = {
    val w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    val wf = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    orders.select(
      col("o_orderkey"), col("o_custkey"), col("o_orderdate"),
      first("o_orderdate").over(w).as("first_date"),
      last("o_orderdate").over(wf).as("last_date"),
      nth_value(col("o_orderdate"), 2).over(wf).as("second_date"),
      lead(col("o_orderdate"), 1).over(w).as("next_date"))
  }

  /** Time-series gap fill + forward fill: one supplier's per-day item
    * count on every day from its first to its last data day, null on gap
    * days (`n_items`) and carried forward (`n_items_filled`). Each data
    * day starts a run that ends the day before the next one, and an
    * IGNORE NULLS last() over a gap-filled spine is, on every day of a
    * run, the count of the day that starts it: so one query explodes the
    * runs, with no spine, no join and nothing cached. The single-partition
    * `lead` window holds one row per data day (calendar-bounded).
    */
  def gapFillDaily(lineitem: DataFrame, orders: DataFrame, suppkey: Long = 1L): DataFrame = {
    lineitem.filter(col("l_suppkey") === suppkey)
      .join(orders, col("l_orderkey") === col("o_orderkey"))
      .groupBy(to_date(col("o_orderdate")).as("d"))
      .agg(count(lit(1)).as("n"))
      .where(col("d").isNotNull)
      .select(col("d"), col("n"), lead("d", 1).over(Window.orderBy("d")).as("next"))
      .select(col("d"), col("n"),
        explode(sequence(col("d"), coalesce(date_sub(col("next"), 1), col("d")))).as("order_day"))
      .select(col("order_day"),
        when(col("order_day") === col("d"), col("n")).as("n_items"),
        col("n").as("n_items_filled"))
  }

  /** Distinct aggregation: SUM(DISTINCT) + COUNT(DISTINCT) per year —
    * plans through Expand with per-distinct-column partial aggregation.
    * The decimal cast keeps SUM(DISTINCT) exact and order-independent.
    */
  def distinctAgg(orders: DataFrame): DataFrame =
    orders.groupBy(year(col("o_orderdate")).as("o_year"))
      .agg(
        sum_distinct(dec("o_totalprice")).cast("double").as("sum_distinct_price"),
        countDistinct(col("o_custkey")).as("n_customers"))

  /** Interval-overlap join: per-user daily activity spans [first,last]
    * matched against incident windows on the standard overlap predicate
    * (a_start < b_end AND b_start < a_end). The incident side is tiny →
    * broadcast nested-loop; the span side never shuffles. For two BIG
    * interval sets the scale path is binning both sides to a common
    * grain and equi-joining on bin before the residual overlap test.
    */
  def incidentOverlap(events: DataFrame, spark: SparkSession): DataFrame = {
    import spark.implicits._
    val spans = events
      .groupBy(col("user_id"), to_date(col("ts")).as("day"))
      .agg(min("ts").as("span_start"), max("ts").as("span_end"))
    val incidents = Seq(
      ("inc_a", "2024-01-03 06:00:00", "2024-01-03 18:00:00"),
      ("inc_b", "2024-01-10 00:00:00", "2024-01-12 00:00:00"),
      ("inc_c", "2024-01-20 22:00:00", "2024-01-21 02:00:00"))
      .toDF("incident_id", "s", "e")
      .select(col("incident_id"),
        // events.ts is TIMESTAMP (instant); sessions pin UTC, so these
        // wall-clock literals mean the same instant in both engines
        to_timestamp(col("s")).as("i_start"),
        to_timestamp(col("e")).as("i_end"))
    spans.join(broadcast(incidents),
        col("span_start") < col("i_end") && col("i_start") < col("span_end"))
      .select("incident_id", "user_id", "day", "span_start", "span_end")
  }

  /** rank + dense_rank within each brand by retail price (descending):
    * the tie-sharing rank pair — under ties both are value-determined,
    * so no tie-break is needed for deterministic VALUES (rows are
    * identified by partkey).
    */
  def brandPriceRanks(part: DataFrame): DataFrame = {
    val w = Window.partitionBy("p_brand").orderBy(desc("p_retailprice"))
    part.select(
      col("p_brand"), col("p_partkey"), col("p_retailprice"),
      rank().over(w).as("price_rank"),
      dense_rank().over(w).as("price_dense"))
  }

  /** Higher-order array functions over the tokenized documents: filter /
    * transform / aggregate run per-row inside codegen — no explode, no
    * shuffle; the mean is one division of exact integer sums. The token
    * split is staged as a bound attribute first: Spark performs no CSE
    * inside lambda bodies, so inlining it would re-split per lambda.
    */
  def arrayOps(documents: DataFrame): DataFrame =
    documents
      .select(col("doc_id"),
        when(length(trim(col("text"))) === 0, array().cast("array<string>"))
          .otherwise(split(trim(col("text")), "\\s+")).as("toks"))
      .select(col("doc_id"),
        size(col("toks")).as("n_tokens"),
        size(filter(col("toks"), t => length(t) > 5)).as("n_long_tokens"),
        when(size(col("toks")) === 0, 0.0)
          .otherwise(
            aggregate(col("toks"), lit(0L), (acc, t) => acc + length(t))
              .cast("double") / size(col("toks"))).as("mean_token_len"),
        coalesce(array_max(transform(col("toks"), t => length(t))), lit(0))
          .as("max_token_len"))

  /** Token analytics: global top-K tokens by frequency — explode, hash
    * agg, top-K with total-order tie-break. The explode multiplies rows
    * ~n_tokens×, but the agg immediately collapses them map-side, so
    * the shuffle is bounded by vocabulary, not corpus size.
    */
  def topTokens(documents: DataFrame, k: Int = 20): DataFrame =
    documents
      .select(explode(split(trim(col("text")), "\\s+")).as("raw"))
      .filter(col("raw") =!= "")
      .groupBy(lower(col("raw")).as("token"))
      .agg(count(lit(1)).as("n"))
      .orderBy(desc("n"), asc("token"))
      .limit(k)
}
