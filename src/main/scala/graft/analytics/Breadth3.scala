package graft.analytics

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.functions.MoneyFunctions.cents_sum
import graft.operators.SkewJoin

/** Third operator-breadth batch: product-analytics shapes (funnel,
  * cohort retention), SCD2 effective-dated dimension build
  * (gaps-and-islands), TF-IDF term scoring, blocked edit-distance fuzzy
  * matching, and a salted skew join whose result is proven equal to the
  * plain join by the DuckDB oracle.
  *
  * Determinism contract matches [[Breadth]]/[[Breadth2]]: money goes
  * through DECIMAL(18,2) (order-independent sums), the one cross-engine
  * float fold here (TF-IDF's `tf·ln(N/df)`) is written with the same
  * expression shape on both engines and rounded to 1e-6 before ranking,
  * and every window/LIMIT carries a total order.
  */
object Breadth3 {

  private def dec(c: String) = col(c).cast(DecimalType(18, 2))

  // ------------------------------------------------------------- funnel

  /** Staged conversion funnel over the event stream: first `view`, first
    * `click` strictly after that view, first `purchase` strictly after
    * that click — the standard ordered-funnel semantics (each stage must
    * happen after the previous stage's first occurrence).
    *
    * Scale: three hash aggregations keyed by user_id plus two joins on
    * user_id — all co-partitioned on the same key, so AQE plans one
    * shuffle of each filtered event subset and the stage tables shrink
    * monotonically. No windows, no state larger than one timestamp per
    * user per stage.
    */
  def funnel(events: DataFrame): DataFrame = {
    val v = events.filter(col("event_type") === "view")
      .groupBy("user_id").agg(min("ts").as("vt"))
    val c = events.filter(col("event_type") === "click")
      .join(v, "user_id").filter(col("ts") > col("vt"))
      .groupBy("user_id").agg(min("ts").as("ct"))
    val p = events.filter(col("event_type") === "purchase")
      .join(c, "user_id").filter(col("ts") > col("ct"))
      .groupBy("user_id").agg(min("ts").as("pt"))
    v.agg(count(lit(1)).as("n_users")).select(lit("1_view").as("stage"), col("n_users"))
      .unionAll(c.agg(count(lit(1)).as("n_users"))
        .select(lit("2_click").as("stage"), col("n_users")))
      .unionAll(p.agg(count(lit(1)).as("n_users"))
        .select(lit("3_purchase").as("stage"), col("n_users")))
  }

  // ---------------------------------------------------------- retention

  /** Cohort retention matrix: users grouped by the day of their first
    * event; for every (cohort day, day offset) the number of distinct
    * users from that cohort active that day.
    *
    * Scale: `activity` is the distinct (user, day) grid — one shuffle on
    * user_id for the distinct + cohort min, then the matrix agg shuffles
    * (cohort_day, day_offset) pairs whose cardinality is bounded by
    * days², independent of user count. The user→cohort join is keyed by
    * user_id on both sides (co-partitioned with `activity`).
    */
  def retention(events: DataFrame): DataFrame = {
    val activity = events.select(col("user_id"), to_date(col("ts")).as("d")).distinct()
    val cohort = activity.groupBy("user_id").agg(min("d").as("cohort_day"))
    activity.join(cohort, "user_id")
      .groupBy(col("cohort_day"), datediff(col("d"), col("cohort_day")).as("day_offset"))
      .agg(count_distinct(col("user_id")).as("n_users"))
  }

  // --------------------------------------------------------------- SCD2

  /** Slowly-changing-dimension type 2 build from an observation log:
    * each customer's o_orderstatus sequence (ordered by order date,
    * orderkey as tie-break) is collapsed into runs (gaps-and-islands via
    * the row_number-difference trick), and each run becomes an
    * effective-dated row [eff_from, eff_to) with the open current row
    * closed at 9999-12-31 — the classic warehouse SCD2 shape.
    *
    * Scale: both row_numbers ride the same shuffle (partition by
    * customer), the run collapse is a hash agg on (customer, status,
    * run), and the lead() that chains eff_to runs over the already-tiny
    * run table. Nothing is ever a global window.
    */
  def scd2StatusHistory(orders: DataFrame): DataFrame = {
    val byTime = Window.partitionBy("o_custkey").orderBy("d", "o_orderkey")
    val byStatus = Window.partitionBy("o_custkey", "o_orderstatus").orderBy("d", "o_orderkey")
    val runs = orders
      .select(col("o_custkey"), col("o_orderstatus"), to_date(col("o_orderdate")).as("d"),
        col("o_orderkey"))
      .withColumn("grp", row_number().over(byTime) - row_number().over(byStatus))
      .groupBy("o_custkey", "o_orderstatus", "grp")
      .agg(min("d").as("eff_from"), min("o_orderkey").as("first_key"))
    // ties on eff_from (two runs starting the same day) break on the
    // run's first orderkey — deterministic in both engines.
    val chain = Window.partitionBy("o_custkey").orderBy("eff_from", "first_key")
    runs
      .withColumn("eff_to", coalesce(lead("eff_from", 1).over(chain), lit("9999-12-31").cast("date")))
      .select(col("o_custkey"), col("o_orderstatus").as("status"),
        col("eff_from"), col("eff_to"),
        (col("eff_to") === lit("9999-12-31").cast("date")).cast("int").as("is_current"))
  }

  // ------------------------------------------------------------- TF-IDF

  /** TF-IDF top-3 terms per document. Tokenization matches the rest of
    * the text stack (whitespace split, lowercase, drop empties); score is
    * `tf · ln(N/df)` rounded to 1e-6 — the rounding happens BEFORE the
    * per-document ranking so rank order is identical cross-engine, with
    * the token string as tie-break.
    *
    * Scale: tf is a (doc, token) hash agg; df reuses tf (already one row
    * per doc-token) so document frequency is a count, not a distinct; the
    * corpus size joins in as a broadcast scalar. The per-doc top-3 is a
    * row_number window partitioned by doc_id — millions of small
    * partitions, never one big one.
    */
  def tfidf(documents: DataFrame): DataFrame = {
    val toks = documents
      .select(col("doc_id"), explode(split(trim(col("text")), "\\s+")).as("raw"))
      .filter(col("raw") =!= "")
      .select(col("doc_id"), lower(col("raw")).as("token"))
    val tf = toks.groupBy("doc_id", "token").agg(count(lit(1)).as("tf"))
    val dfreq = tf.groupBy("token").agg(count(lit(1)).as("df"))
    val nDocs = documents.agg(count(lit(1)).as("n_docs"))
    val scored = tf.join(dfreq, "token")
      .crossJoin(broadcast(nDocs))
      .withColumn("tfidf",
        round(col("tf").cast("double") *
          log(col("n_docs").cast("double") / col("df").cast("double")), 6))
    val w = Window.partitionBy("doc_id").orderBy(col("tfidf").desc, col("token"))
    scored.withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= 3)
      .select("doc_id", "token", "tf", "tfidf", "rnk")
  }

  // ---------------------------------------------------- global shuffle

  /** Deterministic global shuffle for training-data serving: every doc
    * gets a pseudorandom but reproducible position from a seeded md5 of
    * its id. Ordering uses [[graft.operators.GlobalRank.withGlobalRowNumber]]
    * — range-partition on the hash + per-partition numbering with
    * offsets, NEVER a one-partition `row_number() OVER (ORDER BY …)`.
    * Downstream epoch reshuffles just change the seed string.
    */
  def globalShuffle(documents: DataFrame, seed: String = "shuf"): DataFrame =
    graft.operators.GlobalRank.withGlobalRowNumber(
      documents.select(col("doc_id"),
        md5(concat(lit(s"$seed:"), col("doc_id").cast("string"))).as("skey")),
      Seq("skey", "doc_id"), "shuffle_pos")

  // ------------------------------------------------------------ map ops

  /** Map-typed columns round-trip: daily counts per event type are
    * packed into a `map<date,bigint>` (entries sorted for a canonical
    * layout), then unpacked with `explode`. The packed map is the useful
    * artifact (one row per type, O(days) entries); the exploded output
    * is what the cross-engine oracle can hash. Map cardinality is
    * bounded by the date range, so the collect_list is safe.
    */
  def dailyCountMaps(events: DataFrame): DataFrame = {
    val daily = events
      .groupBy(col("event_type"), to_date(col("ts")).as("day"))
      .agg(count(lit(1)).as("n"))
    daily
      .groupBy("event_type")
      .agg(map_from_entries(array_sort(collect_list(struct(col("day"), col("n")))))
        .as("m"))
      .select(col("event_type"), explode(col("m")).as(Seq("day", "n")))
  }

  // -------------------------------------------------- fuzzy (edit-dist)

  /** Blocked fuzzy duplicate detection: candidate pairs share a blocking
    * key (p_brand) and survive if Levenshtein distance ≤ 2 — the
    * standard blocking + edit-distance record-linkage shape (exact-name
    * pairs come out at distance 0).
    *
    * Scale: a plain hash-partitioned self-join on the block key is the
    * wrong plan here — a low-cardinality blocking key (25 brands)
    * collapses onto ≤25 tasks and strands the rest of the cluster. The
    * join shape is size-dispatched via
    * [[graft.operators.SkewJoin.dispatchedBlockJoin]]: a candidate side
    * within the broadcast budget is broadcast (stream side spread to
    * full parallelism); one that outgrows it — the corpus itself at
    * 100× — goes through a salted (block, salt) equi-join with bounded
    * nSalts× replication instead of an unbounded broadcast. Comparisons
    * are then cut by a length-band prefilter (edit distance ≤ k forces
    * |len(a) − len(b)| ≤ k) and the threshold form
    * `levenshtein(l, r, k)`, which abandons the DP once the distance
    * provably exceeds k.
    */
  def fuzzyNamePairs(part: DataFrame, maxDist: Int = 2): DataFrame = {
    val a = part.select(col("p_brand"), col("p_partkey").as("key_a"), col("p_name").as("name_a"))
    val b = part.select(col("p_brand"), col("p_partkey").as("key_b"), col("p_name").as("name_b"))
    graft.operators.SkewJoin.dispatchedBlockJoin(a, b, "p_brand")
      .filter(col("key_a") < col("key_b") &&
        abs(length(col("name_a")) - length(col("name_b"))) <= maxDist)
      // threshold form returns -1 when the distance exceeds maxDist: the
      // kept rows carry the exact distance, identical to plain levenshtein
      .withColumn("dist", levenshtein(col("name_a"), col("name_b"), maxDist))
      .filter(col("dist") >= 0)
      .select("p_brand", "key_a", "key_b", "name_a", "name_b", "dist")
  }

  // -------------------------------------------------- event transitions

  /** First-order transition matrix over each user's event sequence:
    * counts of (event_type → next event_type) plus the conditional
    * probability P(to | from). The sequence order is (ts, event_id) — a
    * total order, so `lead` is deterministic under concurrent events.
    *
    * Scale: one shuffle to sort per user (lead window partitioned by
    * user_id), then a hash agg whose key space is |types|² = tiny; the
    * probability join broadcasts the per-from totals. The conditional
    * probability is one IEEE division of two exact counts.
    */
  def eventTransitions(events: DataFrame): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    val pairs = events
      .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
      .withColumn("to_type", lead("event_type", 1).over(w))
      .filter(col("to_type").isNotNull)
      .groupBy(col("event_type").as("from_type"), col("to_type"))
      .agg(count(lit(1)).as("n"))
    val totals = pairs.groupBy("from_type").agg(sum("n").as("n_from"))
    pairs.join(broadcast(totals), "from_type")
      .select(col("from_type"), col("to_type"), col("n"),
        (col("n").cast("double") / col("n_from").cast("double")).as("prob"))
  }

  /** Top user-day navigation paths: each user's chronological event-type
    * sequence per calendar day, joined with '>' and counted corpus-wide —
    * the "what do sessions actually look like" companion to the Markov
    * transition matrix ([[eventTransitions]] shows edges; this shows the
    * frequent WHOLE walks product analysts page through). Top `k` paths
    * by frequency with a total-order tie-break.
    *
    * Determinism: events within a day sort by (ts, event_id) — the
    * transition-matrix convention — and the path string is the ordered
    * join, identical in both engines. Sessions longer than `maxEvents`
    * keep their PREFIX (documented skew guard: a runaway bot session
    * would otherwise build an unbounded string; the prefix is what a
    * funnel analyst reads anyway). The cap is mirrored in the oracle.
    *
    * Scale: one hash agg keyed by (user, day) building a ≤maxEvents
    * array, one path-count agg, one TakeOrderedAndProject.
    */
  def topSessionPaths(events: DataFrame, k: Int = 20,
                      maxEvents: Int = 20): DataFrame = {
    require(k >= 1 && maxEvents >= 1, "k and maxEvents must be >= 1")
    val paths = events
      .select(col("user_id"), to_date(col("ts")).as("day"),
        struct(col("ts"), col("event_id"), col("event_type")).as("e"))
      .groupBy("user_id", "day")
      .agg(array_join(
        slice(transform(array_sort(collect_list(col("e"))),
          x => x.getField("event_type")), 1, maxEvents), ">").as("path"))
    paths.groupBy("path").agg(count(lit(1)).as("n_sessions"))
      .orderBy(desc("n_sessions"), asc("path"))
      .limit(k)
  }

  /** DuckDB twin of [[topSessionPaths]] — same (ts, event_id) order and
    * prefix cap via a ranked subquery.
    */
  def topSessionPathsOracleSql(k: Int = 20, maxEvents: Int = 20): String =
    s"""WITH ranked AS (
      |  SELECT user_id, CAST(ts AS DATE) AS day, event_type,
      |         ROW_NUMBER() OVER (PARTITION BY user_id, CAST(ts AS DATE)
      |                            ORDER BY ts, event_id) AS rn
      |  FROM events),
      |paths AS (
      |  SELECT user_id, day,
      |         string_agg(event_type, '>' ORDER BY rn) AS path
      |  FROM ranked WHERE rn <= $maxEvents GROUP BY 1, 2)
      |SELECT path, CAST(COUNT(*) AS BIGINT) AS n_sessions
      |FROM paths GROUP BY 1
      |ORDER BY n_sessions DESC, path LIMIT $k""".stripMargin

  // ------------------------------------------------------- revenue share

  /** Share-of-total per nation WITHOUT the one-partition window trap:
    * the naive `sum() OVER ()` drags every row to a single task; here
    * the grand total is a 1-row aggregate of the already-aggregated
    * per-nation relation, broadcast back in. Both numerator and
    * denominator are exact decimal sums; the share is one IEEE division.
    */
  def nationRevenueShare(orders: DataFrame, customer: DataFrame,
                         nation: DataFrame): DataFrame = {
    val perNation = orders
      .join(customer, orders("o_custkey") === customer("c_custkey"))
      .join(broadcast(nation), col("c_nationkey") === col("n_nationkey"))
      .groupBy("n_name")
      .agg(cents_sum(col("o_totalprice")).as("rev_dec"))
    val total = perNation.agg(sum("rev_dec").as("tot_dec"))
    perNation.crossJoin(broadcast(total))
      .select(col("n_name"), col("rev_dec").cast("double").as("revenue"),
        (col("rev_dec").cast("double") / col("tot_dec").cast("double")).as("share"))
  }

  // ------------------------------------------------------ sliding window

  /** Overlapping time windows: per event type, count + value total in
    * 1-hour windows sliding every 30 minutes (each event lands in two
    * windows). Spark's `window()` generator expands the assignment
    * row-locally before the aggregate — one shuffle keyed on (window,
    * type), map-side combined, identical shape batch and streaming (the
    * streaming twin would just add a watermark).
    */
  def slidingEventCounts(events: DataFrame): DataFrame =
    events
      .groupBy(window(col("ts"), "1 hour", "30 minutes"), col("event_type"))
      .agg(
        count(lit(1)).as("n_events"),
        cents_sum(col("value")).cast("double").as("total_value"))
      .select(col("window.start").as("win_start"), col("window.end").as("win_end"),
        col("event_type"), col("n_events"), col("total_value"))

  // ---------------------------------------------------------- histogram

  /** Fixed-width 20-bin histogram of order totals between the global min
    * and max. The bounds come from one scalar aggregate broadcast into a
    * row-local bin expression — two scans, no shuffle wider than the
    * 20-row result. Bin edges are computed with the same IEEE expression
    * shape in the oracle so boundary values land identically.
    */
  def priceHistogram(orders: DataFrame, nBins: Int = 20): DataFrame = {
    val bounds = orders.agg(
      min(col("o_totalprice")).as("lo"), max(col("o_totalprice")).as("hi"))
    orders.crossJoin(broadcast(bounds))
      .select(
        // degenerate hi==lo (constant column) puts everything in bin 0
        // instead of dividing by zero
        when(col("hi") === col("lo"), lit(0L)).otherwise(
          least(
            floor((col("o_totalprice") - col("lo")) /
              ((col("hi") - col("lo")) / lit(nBins.toDouble))),
            lit(nBins - 1L))).cast("int").as("bin"))
      .groupBy("bin").agg(count(lit(1)).as("n_orders"))
  }

  // -------------------------------------------------------- salted join

  /** Revenue per order priority through a SALTED join: lineitem (the
    * big/skewed side) joins orders on orderkey with each key spread over
    * 16 salt buckets ([[SkewJoin.saltedJoin]]), then aggregates exact
    * decimal revenue. The DuckDB oracle runs the PLAIN join — passing the
    * hash-compare IS the proof that salting preserves the row multiset.
    *
    * Scale: this is the escape hatch when one orderkey is hot enough to
    * stall a task even under AQE skew splitting; the salt spreads each
    * key over nSalts tasks at the cost of replicating the (narrow) right
    * side nSalts×.
    */
  def saltedRevenue(lineitem: DataFrame, orders: DataFrame): DataFrame = {
    val right = orders.select(col("o_orderkey").as("l_orderkey"), col("o_orderpriority"))
    SkewJoin.saltedJoin(
        lineitem.select(col("l_orderkey"), col("l_extendedprice"), col("l_discount")),
        right, "l_orderkey")
      .groupBy("o_orderpriority")
      .agg(
        sum((dec("l_extendedprice") * (lit(1) - dec("l_discount"))).cast(DecimalType(18, 4)))
          .cast("double").as("revenue"),
        count(lit(1)).as("n_items"))
  }

  /** [[saltedRevenue]] with the join dispatched by the SKETCH-based
    * advice ([[SkewJoin.autoSaltedJoinSketch]]) instead of an
    * unconditional salt: the correlated key sample estimates output-pair
    * skew and either salts with the advised count or falls through to
    * the plain join AQE already handles. Result multiset is identical
    * on both branches (the dispatch contract), so the oracle is the
    * plain-join SQL either way.
    */
  def saltedRevenueSketch(lineitem: DataFrame, orders: DataFrame): DataFrame = {
    val right = orders.select(col("o_orderkey").as("l_orderkey"), col("o_orderpriority"))
    SkewJoin.autoSaltedJoinSketch(
        lineitem.select(col("l_orderkey"), col("l_extendedprice"), col("l_discount")),
        right, "l_orderkey")
      .groupBy("o_orderpriority")
      .agg(
        sum((dec("l_extendedprice") * (lit(1) - dec("l_discount"))).cast(DecimalType(18, 4)))
          .cast("double").as("revenue"),
        count(lit(1)).as("n_items"))
  }

  /** Time-series resampling to OHLC bars: open/high/low/close (+count,
    * decimal-exact volume) of `value` per (event_type, epoch-aligned
    * 15-minute bucket) — the downsampling shape every metrics/market
    * pipeline uses. Open/close are first/last by (ts, event_id) — two
    * row_number windows over the SAME (type, bar) partitioning as the
    * final aggregation, so the whole bar build rides one shuffle.
    * Buckets are integer epoch-micro floors (Spark `div` == DuckDB
    * time_bucket's epoch alignment).
    */
  def ohlcBars(events: DataFrame, minutes: Int = 15): DataFrame = {
    require(minutes > 0, "bar width must be positive")
    val us = minutes * 60L * 1000000L
    val base = events.select(col("event_type"), col("ts"), col("event_id"),
      col("value"),
      expr(s"timestamp_micros((unix_micros(ts) div $us) * $us)").as("bar_start"))
    val wAsc = Window.partitionBy("event_type", "bar_start")
      .orderBy(col("ts").asc, col("event_id").asc)
    val wDesc = Window.partitionBy("event_type", "bar_start")
      .orderBy(col("ts").desc, col("event_id").desc)
    base
      .withColumn("rna", row_number().over(wAsc))
      .withColumn("rnd", row_number().over(wDesc))
      .groupBy("event_type", "bar_start")
      .agg(
        count(lit(1)).as("n_events"),
        max(when(col("rna") === 1, col("value"))).as("open"),
        max(col("value")).as("high"),
        min(col("value")).as("low"),
        max(when(col("rnd") === 1, col("value"))).as("close"),
        cents_sum(col("value")).cast("double").as("volume"))
  }

  /** Robust outlier detection via median absolute deviation: flag rows
    * more than `k`·1.4826·MAD from the median (1.4826 ≈ the normal
    * consistency constant; 4.4478 below pre-multiplies k = 3 to keep ONE
    * literal — identical parse on both engines). MAD tolerates the very
    * outliers mean/stddev rules get dragged toward, which is why data
    * validation uses it. Two scalar passes (median, then MAD), each a
    * broadcast 1-row relation; the flagging projection is row-local.
    */
  def madOutliers(orders: DataFrame): DataFrame = {
    val med = orders.agg(expr("percentile(o_totalprice, 0.5D)").as("med"))
    val mad = orders.crossJoin(broadcast(med))
      .select(abs(col("o_totalprice") - col("med")).as("dev"))
      .agg(expr("percentile(dev, 0.5D)").as("mad"))
    orders.select("o_orderkey", "o_totalprice")
      .crossJoin(broadcast(med)).crossJoin(broadcast(mad))
      .select(col("o_orderkey"), col("o_totalprice"),
        (abs(col("o_totalprice") - col("med")) > lit(4.4478) * col("mad"))
          .as("is_outlier"))
  }

  /** Winsorized summary: clip order totals at the exact [p01, p99]
    * interpolated percentiles, report the cuts, the clip counts, and
    * the winsorized mean — the robust-scaling preprocessing step
    * (outlier-capping before normalization) done as two scalar passes.
    * Like [[madOutliers]], the percentile pass is the exact sorted
    * aggregate (Spark `percentile` == DuckDB `quantile_cont`, linear
    * interpolation); at 100 TB swap in approx_percentile or the
    * rankDist value-count path — the clip pass is unchanged.
    *
    * Exactness: clipped values fold to integer cents before the sum
    * (exact DECIMAL, order-independent); cuts and mean are single
    * IEEE expressions folded to 1e-6.
    * Output: one row (n, n_clipped_lo, n_clipped_hi, lo_cut, hi_cut,
    * mean_wins).
    */
  def winsorizedStats(orders: DataFrame): DataFrame = {
    val cuts = orders.agg(
      expr("percentile(o_totalprice, 0.01D)").as("lo"),
      expr("percentile(o_totalprice, 0.99D)").as("hi"))
    def fold6(c: org.apache.spark.sql.Column) = floor(c * 1e6 + 0.5) / 1e6
    orders.select(col("o_totalprice").as("x"))
      .crossJoin(broadcast(cuts))
      .select(col("x"), col("lo"), col("hi"),
        least(greatest(col("x"), col("lo")), col("hi")).as("w"))
      .agg(
        count(lit(1)).as("n"),
        sum(when(col("x") < col("lo"), 1L).otherwise(0L)).as("n_clipped_lo"),
        sum(when(col("x") > col("hi"), 1L).otherwise(0L)).as("n_clipped_hi"),
        max(col("lo")).as("lo_raw"), max(col("hi")).as("hi_raw"),
        sum(floor(col("w") * 100 + 0.5).cast(
          org.apache.spark.sql.types.DecimalType(38, 0))).as("wc"))
      .select(col("n"),
        col("n_clipped_lo"), col("n_clipped_hi"),
        fold6(col("lo_raw")).as("lo_cut"), fold6(col("hi_raw")).as("hi_cut"),
        fold6(col("wc").cast("double") / 100.0 / col("n").cast("double"))
          .as("mean_wins"))
  }

  // ---------------------------------------------------------------- RFM

  /** RFM segmentation (Hughes, "Strategic Database Marketing", 1994) —
    * the classic customer-value grid: recency (days since last order),
    * frequency (order count), monetary (revenue cents), each scored
    * 1..5 by quintile with 5 best, concatenated into the familiar
    * three-digit segment code.
    *
    * Quintiles are exact NTILE(5) over fully-ordered keys via the
    * range-partitioned [[graft.operators.GlobalRank.ntileByRange]] (no
    * data-sized window partition); the reference date is the corpus max
    * order date (broadcast 1-row), so the result is a pure function of
    * the data. All three sort orders carry the custkey tie-break —
    * bit-identical to the oracle's NTILE windows.
    *
    * Scale: one map-side-combined per-customer aggregation, then three
    * range exchanges over the customer-count relation. Nothing wider.
    *
    * Output: (o_custkey, recency_days, frequency, monetary_cents,
    * r_score, f_score, m_score, rfm).
    */
  def rfmSegments(orders: DataFrame): DataFrame = {
    import graft.operators.GlobalRank.ntileByRange
    val refDate = orders.agg(max(to_date(col("o_orderdate"))).as("ref"))
    val per = orders
      .groupBy(col("o_custkey"))
      .agg(max(to_date(col("o_orderdate"))).as("last_d"),
        count(lit(1)).as("frequency"),
        (cents_sum(col("o_totalprice")) * 100).cast("long").as("monetary_cents"))
      .crossJoin(broadcast(refDate))
      .select(col("o_custkey"),
        datediff(col("ref"), col("last_d")).cast("long").as("recency_days"),
        col("frequency"), col("monetary_cents"))
    // tile 1 = best (most recent / most frequent / highest spend):
    // score = 6 - tile puts 5 on the best quintile
    val r = ntileByRange(per, 5, Seq("recency_days", "o_custkey"), "rt")
    val f = ntileByRange(r.withColumn("negf", -col("frequency")),
      5, Seq("negf", "o_custkey"), "ft").drop("negf")
    val m = ntileByRange(f.withColumn("negm", -col("monetary_cents")),
      5, Seq("negm", "o_custkey"), "mt").drop("negm")
    m.select(col("o_custkey"), col("recency_days"), col("frequency"),
        col("monetary_cents"),
        (lit(6) - col("rt")).as("r_score"),
        (lit(6) - col("ft")).as("f_score"),
        (lit(6) - col("mt")).as("m_score"))
      .withColumn("rfm",
        concat(col("r_score").cast("string"), col("f_score").cast("string"),
          col("m_score").cast("string")))
  }

  /** DuckDB replay of [[rfmSegments]] (NTILE over identical orders). */
  def rfmOracleSql(): String =
    """WITH per AS (
      |  SELECT o_custkey,
      |         datediff('day', MAX(CAST(o_orderdate AS DATE)),
      |                  (SELECT MAX(CAST(o_orderdate AS DATE)) FROM orders)) AS recency_days,
      |         COUNT(*) AS frequency,
      |         CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) * 100 AS BIGINT) AS monetary_cents
      |  FROM orders GROUP BY 1),
      |scored AS (
      |  SELECT *,
      |         6 - NTILE(5) OVER (ORDER BY recency_days, o_custkey) AS r_score,
      |         6 - NTILE(5) OVER (ORDER BY -frequency, o_custkey) AS f_score,
      |         6 - NTILE(5) OVER (ORDER BY -monetary_cents, o_custkey) AS m_score
      |  FROM per)
      |SELECT o_custkey, CAST(recency_days AS BIGINT) AS recency_days,
      |       CAST(frequency AS BIGINT) AS frequency, monetary_cents,
      |       CAST(r_score AS INTEGER) AS r_score,
      |       CAST(f_score AS INTEGER) AS f_score,
      |       CAST(m_score AS INTEGER) AS m_score,
      |       CAST(r_score AS VARCHAR) || CAST(f_score AS VARCHAR) ||
      |         CAST(m_score AS VARCHAR) AS rfm
      |FROM scored""".stripMargin

  // --------------------------------------------------------- cohort LTV

  /** Cohort lifetime-value matrix: customers grouped by first-order
    * month; for each (cohort month, month offset) the revenue that
    * cohort produced in that month plus the running cumulative — the
    * standard LTV curve input ([[retention]]'s money-weighted sibling).
    *
    * Exact: revenue in integer cents through DECIMAL(18,2); the offset
    * is exact integer month arithmetic on (year, month) pairs (no
    * float months_between). The cumulative window partitions by cohort
    * over the months²-bounded matrix (bounded-domain rationale).
    *
    * Output: (cohort_month, month_offset, n_active, revenue_cents,
    * cum_revenue_cents).
    */
  def cohortLtv(orders: DataFrame): DataFrame = {
    val o = orders.select(col("o_custkey"),
      trunc(to_date(col("o_orderdate")), "month").as("om"),
      dec("o_totalprice").as("v"))
    val cohort = o.groupBy("o_custkey").agg(min("om").as("cohort_month"))
    val cells = o.join(cohort, "o_custkey")
      .groupBy(col("cohort_month"),
        ((year(col("om")) - year(col("cohort_month"))) * 12 +
          (month(col("om")) - month(col("cohort_month")))).as("month_offset"))
      .agg(count_distinct(col("o_custkey")).as("n_active"),
        (sum(col("v")) * 100).cast("long").as("revenue_cents"))
    val w = Window.partitionBy("cohort_month").orderBy("month_offset")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    cells.withColumn("cum_revenue_cents", sum("revenue_cents").over(w))
  }

  /** DuckDB replay of [[cohortLtv]]. */
  def cohortLtvOracleSql(): String =
    """WITH o AS (
      |  SELECT o_custkey, CAST(date_trunc('month', o_orderdate) AS DATE) AS om,
      |         CAST(o_totalprice AS DECIMAL(18,2)) AS v
      |  FROM orders),
      |cohort AS (SELECT o_custkey, MIN(om) AS cohort_month FROM o GROUP BY 1),
      |cells AS (
      |  SELECT cohort_month,
      |         (year(om) - year(cohort_month)) * 12 +
      |           (month(om) - month(cohort_month)) AS month_offset,
      |         COUNT(DISTINCT o.o_custkey) AS n_active,
      |         CAST(SUM(v) * 100 AS BIGINT) AS revenue_cents
      |  FROM o JOIN cohort USING (o_custkey)
      |  GROUP BY 1, 2)
      |SELECT cohort_month, CAST(month_offset AS INTEGER) AS month_offset,
      |       CAST(n_active AS BIGINT) AS n_active, revenue_cents,
      |       CAST(SUM(revenue_cents) OVER (PARTITION BY cohort_month
      |         ORDER BY month_offset
      |         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
      |         AS cum_revenue_cents
      |FROM cells""".stripMargin

  // -------------------------------------------------------- attribution

  /** First-touch / last-touch revenue attribution: every `purchase`
    * event's value is credited to the first and to the most recent
    * non-purchase event type in that user's preceding history — the two
    * endpoints of the classic marketing-attribution spectrum (the
    * position-based models in between are weighted blends of these).
    *
    * Both attributions are `first`/`last` with ignoreNulls over the
    * fully-ordered (ts, event_id) user timeline, so ties cannot
    * reorder; purchases with no preceding touch fall into the
    * '(none)' channel rather than vanishing. Value sums go through
    * DECIMAL(18,2) (order-independent), surfaced as exact cents.
    *
    * Scale: ONE shuffle partitions each user's timeline; both window
    * passes and the purchase filter ride it, and the final rollup is a
    * hash agg over the (channel × channel)-bounded key space. State per
    * user is two strings — no timeline is ever collected.
    *
    * Output: (channel, first_touch_cents, last_touch_cents,
    * n_first, n_last) — per channel, revenue and purchase counts it is
    * credited with under each model.
    */
  def touchAttribution(events: DataFrame): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val touch = when(col("event_type") =!= "purchase", col("event_type"))
    // materialized: the windowed purchase relation feeds BOTH rollups
    // below — left lazy, each branch re-scans events and re-runs the
    // user_id exchange + window (the explained plan showed the scan
    // twice; one pass over the cache replaces it)
    val purchases = graft.Caching.materialize(events
      .select(col("user_id"), col("ts"), col("event_id"),
        col("event_type"), dec("value").as("v"))
      .withColumn("first_touch", first(touch, ignoreNulls = true).over(w))
      .withColumn("last_touch", last(touch, ignoreNulls = true).over(w))
      .filter(col("event_type") === "purchase")
      .select(coalesce(col("first_touch"), lit("(none)")).as("ft"),
        coalesce(col("last_touch"), lit("(none)")).as("lt"), col("v")))
    // one rollup per model over the channel-bounded domain, full-outer
    // merged so a channel that only ever closes (or only opens) still
    // reports both columns
    val byFirst = purchases.groupBy(col("ft").as("channel"))
      .agg((sum("v") * 100).cast("long").as("first_touch_cents"),
        count(lit(1)).as("n_first"))
    val byLast = purchases.groupBy(col("lt").as("channel"))
      .agg((sum("v") * 100).cast("long").as("last_touch_cents"),
        count(lit(1)).as("n_last"))
    byFirst.join(byLast, Seq("channel"), "full_outer")
      .select(col("channel"),
        coalesce(col("first_touch_cents"), lit(0L)).as("first_touch_cents"),
        coalesce(col("last_touch_cents"), lit(0L)).as("last_touch_cents"),
        coalesce(col("n_first"), lit(0L)).as("n_first"),
        coalesce(col("n_last"), lit(0L)).as("n_last"))
  }
}
