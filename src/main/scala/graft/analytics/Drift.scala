package graft.analytics

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.functions.MoneyFunctions.cents_sum

/** Distribution-drift statistics between corpus slices.
  *
  * [[ksDrift]] is the exact two-sample Kolmogorov–Smirnov statistic
  * D = sup_x |F_A(x) − F_B(x)| over a numeric document feature — the
  * standard "did this crawl's length distribution shift?" monitor a
  * training-data pipeline runs between snapshots or sources.
  *
  * Exactness discipline: the supremum is selected on the INTEGER
  * cross-multiplied numerator |cumA·nB − cumB·nA| (exact DECIMAL(38,0)
  * products — long·long overflows past ~3·10⁹ rows per side), and only
  * the final winning value is divided and rounded, so both engines pick
  * the same argmax and emit the same double.
  *
  * Scale shape: one groupBy on the feature value collapses the corpus to
  * its distinct-value domain (thousands of distinct lengths, independent
  * of corpus size); the cumulative sums then run over that bounded
  * domain. Same bounded-domain window rationale as Skyline/GlobalRank —
  * for an unbounded-domain feature, range-partition the domain and use
  * Packing.withRunningTotal's two-pass prefix instead.
  */
object Drift {

  private val Dec = DecimalType(19, 0)

  /** CUSUM change-point detection over the daily revenue series: the
    * day t maximizing |n·C_t − t·T| (C_t = prefix sum, T = total) — the
    * scaled-by-n form of the classic cumulative-sum deviation
    * sup|C_t − t·T/n| (Page, "Continuous Inspection Schemes",
    * Biometrika 1954), kept in pure integer cents so both engines pick
    * the identical argmax (ties → earliest day). This is the "when did
    * the level shift?" monitor that pairs with [[ksDrift]]'s "did the
    * distribution shift?".
    *
    * Scale shape: the corpus collapses to the day-count-bounded daily
    * aggregate first (one shuffle of per-day partials); the cumulative
    * window and row index run over that bounded domain (Skyline/
    * GlobalRank rationale), the 1-row totals broadcast, and the argmax
    * is a TakeOrderedAndProject. Headroom: n_days·T_cents must fit 63
    * bits — ~9e18 covers 10⁴ days at $10¹² total.
    *
    * Output: one row (cp_day, n_days, max_abs_dev).
    */
  def cusumChangepoint(orders: DataFrame): DataFrame = {
    val daily = orders
      .groupBy(col("o_orderdate").cast("date").as("day"))
      .agg((cents_sum(col("o_totalprice")) * 100)
        .cast("long").as("cents"))
    val totals = daily.agg(sum(col("cents")).as("t_cents"),
      count(lit(1)).as("n_days"))
    val w = Window.orderBy("day")
    daily
      .select(col("day"),
        sum(col("cents")).over(w.rowsBetween(Window.unboundedPreceding,
          Window.currentRow)).as("cum"),
        row_number().over(w).as("i"))
      .crossJoin(broadcast(totals))
      .select(col("day"), col("n_days"),
        (col("n_days") * col("cum") - col("i") * col("t_cents")).as("dev"))
      .orderBy(abs(col("dev")).desc, col("day").asc)
      .limit(1)
      .select(col("day").as("cp_day"), col("n_days"),
        abs(col("dev")).as("max_abs_dev"))
  }

  /** Classical seasonal decomposition of the monthly revenue series:
    * x = trend + seasonal + residual, with trend a centered 3-month
    * moving average and seasonal the per-calendar-month mean of the
    * detrended series (the additive moving-average decomposition
    * underlying STL, without STL's loess).
    *
    * Exactness discipline: revenue is integer cents; the MA is kept as
    * (sum, count) with count ∈ {2, 3}; the detrended value scales by 6
    * (the lcm, via integer `div`) so it stays an exact long through the
    * per-month aggregation; trend/seasonal/residual are then single
    * fixed-shape double expressions of exact integers, each rounded to
    * 1e-6 — both engines emit identical rows.
    *
    * Scale shape: the corpus collapses to the month-count-bounded
    * monthly aggregate in one shuffle; windows and the calendar-month
    * agg run over that bounded domain (Skyline/GlobalRank rationale).
    *
    * Output: (month_start, revenue_cents, trend, seasonal, residual).
    */
  def seasonalDecompose(orders: DataFrame): DataFrame = {
    val monthly = orders
      .groupBy(trunc(col("o_orderdate").cast("date"), "month").as("month_start"))
      .agg((cents_sum(col("o_totalprice")) * 100)
        .cast("long").as("x"))
    val w = Window.orderBy("month_start").rowsBetween(-1, 1)
    val ma = monthly
      .select(col("month_start"), col("x"),
        sum(col("x")).over(w).as("s"), count(lit(1)).over(w).as("c"))
      .withColumn("moy", month(col("month_start")))
      // detrended ×6: 6x − (6 div c)·s is exact (c ∈ {2,3} divides 6)
      .withColumn("d6", lit(6) * col("x") - expr("6 div c") * col("s"))
    val seasonal = ma.groupBy("moy")
      .agg(sum(col("d6")).as("s6"), count(lit(1)).as("k"))
    // floor(x·1e6 + 0.5)/1e6 instead of round(): round() is HALF_UP on
    // the DECIMAL REPRESENTATION in Spark but pure double arithmetic in
    // DuckDB — 1 ulp apart on knife-edge values; the floor fold is the
    // same double ops on both engines
    def fold6(c: org.apache.spark.sql.Column) =
      floor(c * 1e6 + 0.5) / 1e6
    ma.join(broadcast(seasonal), "moy")
      .select(col("month_start"), col("x").as("revenue_cents"),
        fold6(col("s").cast("double") / col("c")).as("trend"),
        fold6(col("s6").cast("double") / (lit(6.0) * col("k"))).as("seasonal"),
        fold6(col("x").cast("double") - col("s").cast("double") / col("c")
          - col("s6").cast("double") / (lit(6.0) * col("k"))).as("residual"))
  }

  /** Population Stability Index between the same two corpus halves as
    * [[ksDrift]], over `bins` fixed-width buckets of `featureCol`:
    * PSI = Σ_b (p_Ab − p_Bb)·ln(p_Ab / p_Bb) — the standard "has the
    * score/length distribution shifted enough to retrain?" monitor
    * (banking's model-risk heuristic: <0.1 stable, >0.25 shifted).
    *
    * Determinism discipline: proportions are Laplace-smoothed as exact
    * integer ratios (2c+1)/(2n+B) so empty bins are defined; the ln of
    * the exact cross-ratio is quantized to milli units (the Zipf-slope
    * fold — libm last-ulp differences cannot survive the floor), each
    * bin's contribution is then quantized to 1e-9 and summed as exact
    * longs, so the sum is order-independent and both engines emit the
    * identical double.
    *
    * Scale shape: one pass computes global min/max; one shuffle bins
    * the corpus into B partial counts (map-side combine collapses rows
    * to ≤ B per task); everything after runs on the B-row relation
    * against a generated bin spine (no missing-bin holes). Independent
    * of corpus size past the two aggregations.
    *
    * Output: one row (n_a, n_b, psi).
    */
  def psiDrift(documents: DataFrame, featureCol: String = "n_chars",
               bins: Int = 10): DataFrame = {
    require(bins >= 2, "need at least two bins")
    val g = documents.select(
      col(featureCol).cast("double").as("x"),
      (expr("CAST(substring(source, 4) AS INT)") % 2 === 0).as("is_a"))
    val bounds = g.agg(min("x").as("lo"), max("x").as("hi"))
    val binned = g.crossJoin(broadcast(bounds))
      .select(when(col("hi") === col("lo"), 0)
        .otherwise(least(floor((col("x") - col("lo")) /
          ((col("hi") - col("lo")) / bins)), lit(bins - 1)))
        .cast("int").as("bin"), col("is_a"))
    val counts = binned.groupBy("bin").agg(
      sum(when(col("is_a"), 1L).otherwise(0L)).as("ca"),
      sum(when(!col("is_a"), 1L).otherwise(0L)).as("cb"))
    // generated bin spine: empty bins still contribute a smoothed term
    val spine = documents.sparkSession.range(bins.toLong)
      .select(col("id").cast("int").as("bin"))
    val full = spine.join(counts, Seq("bin"), "left")
      .select(col("bin"), coalesce(col("ca"), lit(0L)).as("ca"),
        coalesce(col("cb"), lit(0L)).as("cb"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    full.count() // feeds the totals agg AND the per-bin terms
    val tot = full.agg(sum("ca").as("na"), sum("cb").as("nb"))
    val terms = full.crossJoin(broadcast(tot)).select(
      col("ca"), col("cb"), col("na"), col("nb"),
      // ln of the exact smoothed cross-ratio, milli-quantized; the
      // products are DECIMAL(38,0) (long·long overflows past ~3e9 rows)
      floor(log(((col("ca") * 2 + 1).cast(Dec) * (col("nb") * 2 + bins).cast(Dec))
          .cast("double") /
        ((col("cb") * 2 + 1).cast(Dec) * (col("na") * 2 + bins).cast(Dec))
          .cast("double")) * 1e3 + 0.5).cast("long").as("lr_milli"),
      ((col("ca") * 2 + 1).cast("double") / (col("na") * 2 + bins).cast("double") -
       (col("cb") * 2 + 1).cast("double") / (col("nb") * 2 + bins).cast("double"))
        .as("diff"))
    terms
      .select(col("na"), col("nb"),
        // contribution ×1e9 as an exact long: diff · lr_milli/1e3 · 1e9
        floor(col("diff") * col("lr_milli").cast("double") * 1e6 + 0.5)
          .cast("long").as("t9"))
      .groupBy("na", "nb").agg(sum("t9").as("s9"))
      .select(col("na").cast("long").as("n_a"), col("nb").cast("long").as("n_b"),
        (col("s9").cast("double") / 1e9).as("psi"))
  }

  /** DuckDB replay of [[psiDrift]]: same spine, same smoothing, same
    * milli-quantized ln, same exact long sum.
    */
  def psiOracleSql(bins: Int = 10): String =
    s"""WITH g AS (
       |  SELECT CAST(n_chars AS DOUBLE) AS x,
       |         CAST(substring(source, 4) AS INT) % 2 = 0 AS is_a
       |  FROM documents),
       |bounds AS (SELECT MIN(x) AS lo, MAX(x) AS hi FROM g),
       |binned AS (
       |  SELECT CAST(CASE WHEN hi = lo THEN 0
       |              ELSE LEAST(FLOOR((x - lo) / ((hi - lo) / $bins)), ${bins - 1})
       |              END AS INTEGER) AS bin, is_a
       |  FROM g CROSS JOIN bounds),
       |counts AS (
       |  SELECT bin, SUM(CASE WHEN is_a THEN 1 ELSE 0 END) AS ca,
       |              SUM(CASE WHEN NOT is_a THEN 1 ELSE 0 END) AS cb
       |  FROM binned GROUP BY 1),
       |spine AS (SELECT CAST(range AS INTEGER) AS bin FROM range($bins)),
       |full_bins AS (
       |  SELECT s.bin, COALESCE(c.ca, 0) AS ca, COALESCE(c.cb, 0) AS cb
       |  FROM spine s LEFT JOIN counts c ON c.bin = s.bin),
       |tot AS (SELECT SUM(ca) AS na, SUM(cb) AS nb FROM full_bins),
       |terms AS (
       |  SELECT na, nb,
       |         CAST(FLOOR(ln(CAST((CAST(ca AS HUGEINT) * 2 + 1) * (CAST(nb AS HUGEINT) * 2 + $bins) AS DOUBLE)
       |                       / CAST((CAST(cb AS HUGEINT) * 2 + 1) * (CAST(na AS HUGEINT) * 2 + $bins) AS DOUBLE))
       |                    * 1e3 + 0.5) AS BIGINT) AS lr_milli,
       |         CAST(ca * 2 + 1 AS DOUBLE) / CAST(na * 2 + $bins AS DOUBLE)
       |         - CAST(cb * 2 + 1 AS DOUBLE) / CAST(nb * 2 + $bins AS DOUBLE) AS diff
       |  FROM full_bins CROSS JOIN tot)
       |SELECT CAST(na AS BIGINT) AS n_a, CAST(nb AS BIGINT) AS n_b,
       |       CAST(SUM(CAST(FLOOR(diff * CAST(lr_milli AS DOUBLE) * 1e6 + 0.5) AS BIGINT)) AS DOUBLE)
       |       / 1e9 AS psi
       |FROM terms GROUP BY na, nb""".stripMargin

  /** Pearson chi-square homogeneity statistic for the event-type
    * distribution between even/odd event-id halves of the event stream —
    * the categorical counterpart of [[ksDrift]] (numeric) and
    * [[psiDrift]] (binned): "did the traffic MIX change?".
    *
    * chi² = Σ_{g,c} (o_{g,c} − e_{g,c})²/e_{g,c} with e = n_g·rt_c/N.
    * Each category's two-term contribution is a fixed-shape double
    * expression of exact integer counts, micro-quantized and summed as
    * exact longs (order-independent; same fold as [[psiDrift]]).
    *
    * Scale shape: one shuffle to the (category × group) contingency
    * counts with map-side combine; the per-category terms and the final
    * sum run on the category-count-bounded relation. The 1-row totals
    * broadcast.
    *
    * Output: one row (n_categories, dof, chi2).
    */
  def chiSquareDrift(events: DataFrame): DataFrame = {
    val counts = events.select(col("event_type"),
        (col("event_id") % 2 === 0).as("is_a"))
      .groupBy("event_type").agg(
        sum(when(col("is_a"), 1L).otherwise(0L)).as("oa"),
        sum(when(!col("is_a"), 1L).otherwise(0L)).as("ob"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    counts.count() // feeds the totals agg AND the per-category terms
    val tot = counts.agg(sum("oa").as("na"), sum("ob").as("nb"),
      count(lit(1)).as("ncat"))
    val d = (c: org.apache.spark.sql.Column) => c.cast("double")
    counts.crossJoin(broadcast(tot))
      .select(col("ncat"),
        floor(((d(col("oa")) - d(col("na")) * (d(col("oa")) + d(col("ob"))) /
            (d(col("na")) + d(col("nb")))) *
          (d(col("oa")) - d(col("na")) * (d(col("oa")) + d(col("ob"))) /
            (d(col("na")) + d(col("nb")))) /
          (d(col("na")) * (d(col("oa")) + d(col("ob"))) /
            (d(col("na")) + d(col("nb")))) +
          (d(col("ob")) - d(col("nb")) * (d(col("oa")) + d(col("ob"))) /
            (d(col("na")) + d(col("nb")))) *
          (d(col("ob")) - d(col("nb")) * (d(col("oa")) + d(col("ob"))) /
            (d(col("na")) + d(col("nb")))) /
          (d(col("nb")) * (d(col("oa")) + d(col("ob"))) /
            (d(col("na")) + d(col("nb"))))) * 1e6 + 0.5)
          .cast("long").as("t6"))
      .groupBy("ncat").agg(sum("t6").as("s6"))
      .select(col("ncat").cast("long").as("n_categories"),
        (col("ncat") - 1).cast("long").as("dof"),
        (col("s6").cast("double") / 1e6).as("chi2"))
  }

  /** DuckDB replay of [[chiSquareDrift]]: identical expected-count
    * expression, micro-quantized terms, exact long sum.
    */
  def chiSquareOracleSql: String =
    """WITH counts AS (
      |  SELECT event_type,
      |         SUM(CASE WHEN event_id % 2 = 0 THEN 1 ELSE 0 END) AS oa,
      |         SUM(CASE WHEN event_id % 2 <> 0 THEN 1 ELSE 0 END) AS ob
      |  FROM events GROUP BY 1),
      |tot AS (SELECT SUM(oa) AS na, SUM(ob) AS nb, COUNT(*) AS ncat FROM counts),
      |terms AS (
      |  SELECT ncat,
      |         CAST(FLOOR(((CAST(oa AS DOUBLE) - CAST(na AS DOUBLE) * (CAST(oa AS DOUBLE) + CAST(ob AS DOUBLE)) / (CAST(na AS DOUBLE) + CAST(nb AS DOUBLE)))
      |                     * (CAST(oa AS DOUBLE) - CAST(na AS DOUBLE) * (CAST(oa AS DOUBLE) + CAST(ob AS DOUBLE)) / (CAST(na AS DOUBLE) + CAST(nb AS DOUBLE)))
      |                     / (CAST(na AS DOUBLE) * (CAST(oa AS DOUBLE) + CAST(ob AS DOUBLE)) / (CAST(na AS DOUBLE) + CAST(nb AS DOUBLE)))
      |                     + (CAST(ob AS DOUBLE) - CAST(nb AS DOUBLE) * (CAST(oa AS DOUBLE) + CAST(ob AS DOUBLE)) / (CAST(na AS DOUBLE) + CAST(nb AS DOUBLE)))
      |                     * (CAST(ob AS DOUBLE) - CAST(nb AS DOUBLE) * (CAST(oa AS DOUBLE) + CAST(ob AS DOUBLE)) / (CAST(na AS DOUBLE) + CAST(nb AS DOUBLE)))
      |                     / (CAST(nb AS DOUBLE) * (CAST(oa AS DOUBLE) + CAST(ob AS DOUBLE)) / (CAST(na AS DOUBLE) + CAST(nb AS DOUBLE))))
      |                    * 1e6 + 0.5) AS BIGINT) AS t6
      |  FROM counts CROSS JOIN tot)
      |SELECT CAST(ncat AS BIGINT) AS n_categories,
      |       CAST(ncat - 1 AS BIGINT) AS dof,
      |       CAST(SUM(t6) AS DOUBLE) / 1e6 AS chi2
      |FROM terms GROUP BY ncat""".stripMargin

  /** KS statistic of `featureCol` between two halves of the corpus split
    * by even/odd numeric suffix of `source` (srcN). Returns one row:
    * (n_a, n_b, ks_at, ks_stat) where ks_at is the smallest feature
    * value attaining the supremum.
    */
  def ksDrift(documents: DataFrame, featureCol: String = "n_chars"): DataFrame = {
    val g = documents.select(
      col(featureCol).as("x"),
      (expr("CAST(substring(source, 4) AS INT)") % 2 === 0).as("is_a"))
    val counts = g.groupBy("x").agg(
        sum(when(col("is_a"), 1L).otherwise(0L)).as("ca"),
        sum(when(!col("is_a"), 1L).otherwise(0L)).as("cb"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    counts.count() // materialize once: the window branch and the totals
                   // branch would otherwise each re-scan the corpus
    // bounded domain: one row per distinct feature value
    val w = Window.orderBy("x")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cum = counts.select(col("x"),
      sum("ca").over(w).as("cuma"), sum("cb").over(w).as("cumb"))
    // totals from the pre-window counts — the final cumulative values,
    // without dragging a second window evaluation into the plan
    val tot = counts.agg(sum("ca").as("na"), sum("cb").as("nb"))
    val scored = cum.crossJoin(broadcast(tot))
      .withColumn("d_num",
        abs(col("cuma").cast(Dec) * col("nb").cast(Dec) -
            col("cumb").cast(Dec) * col("na").cast(Dec)))
    scored.orderBy(desc("d_num"), asc("x")).limit(1)
      .select(
        col("na").cast("long").as("n_a"),
        col("nb").cast("long").as("n_b"),
        col("x").as("ks_at"),
        round(col("d_num").cast("double") /
          (col("na").cast("double") * col("nb").cast("double")), 6).as("ks_stat"))
  }

  /** Wasserstein-1 (earth-mover) distance between the same two corpus
    * halves' distributions of `featureCol` — the drift metric that,
    * unlike KS's single worst point, integrates the WHOLE CDF gap
    * (Vallender, Theory Probab. Appl. 18:784, 1974:
    * W₁ = ∫ |F_a − F_b| dx, which for discrete samples is the sum over
    * consecutive distinct values of |F_a − F_b| times the value gap).
    * Reported beside ks_stat because a distribution can drift
    * everywhere-a-little (large W₁, small KS) or in one spot (the
    * converse) — monitors want both.
    *
    * Exactness: with cumulative counts cA, cB and totals nA, nB,
    *   W₁·nA·nB = Σ |cA·nB − cB·nA| · gap
    * is a sum of products of exact longs, held in DECIMAL(38,0)
    * internally; the hash-compared output is the micro-quantized
    * `w1_micro = (numerator·10⁶) div (nA·nB)` — an exact integer
    * division of exact integers, bounded by 10⁶·(feature range)
    * regardless of corpus size (DECIMAL outputs would hash-mismatch:
    * the oracle harness reads DECIMAL as float). ONE final IEEE
    * division produces the human-readable `w1` (rounded 1e-6, both
    * engines divide the same integers).
    *
    * Scale shape: identical to [[ksDrift]] — corpus collapses to one
    * row per distinct feature value (bounded domain: document length),
    * the cumulative/lead window runs over that bounded relation only.
    */
  def wassersteinDrift(documents: DataFrame, featureCol: String = "n_chars"): DataFrame = {
    val g = documents.select(
      col(featureCol).cast("long").as("x"),
      (expr("CAST(substring(source, 4) AS INT)") % 2 === 0).as("is_a"))
    val counts = g.groupBy("x").agg(
        sum(when(col("is_a"), 1L).otherwise(0L)).as("ca"),
        sum(when(!col("is_a"), 1L).otherwise(0L)).as("cb"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    counts.count() // materialize once (window branch + totals branch)
    val wcum = Window.orderBy("x")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cum = counts.select(col("x"),
      sum("ca").over(wcum).as("cuma"), sum("cb").over(wcum).as("cumb"),
      lead("x", 1).over(Window.orderBy("x")).as("nxt"))
    val tot = counts.agg(sum("ca").as("na"), sum("cb").as("nb"))
    val D38 = DecimalType(38, 0)
    cum.filter(col("nxt").isNotNull)
      .crossJoin(broadcast(tot))
      .select(col("na"), col("nb"),
        (abs(col("cuma").cast(D38) * col("nb").cast(D38) -
             col("cumb").cast(D38) * col("na").cast(D38)) *
          (col("nxt") - col("x")).cast(D38)).as("term"))
      .groupBy("na", "nb").agg(sum("term").cast(D38).as("w1_num"))
      .select(col("na").cast("long").as("n_a"),
        col("nb").cast("long").as("n_b"),
        expr("CAST(w1_num * 1000000 AS DECIMAL(38,0)) div CAST(na * nb AS DECIMAL(38,0))")
          .cast("long").as("w1_micro"),
        round(col("w1_num").cast("double") /
          (col("na").cast("double") * col("nb").cast("double")), 6).as("w1"))
  }

  /** DuckDB replay of [[wassersteinDrift]]: identical integer numerator
    * (HUGEINT internally, DECIMAL(38,0) on output), one final division.
    */
  def wassersteinOracleSql(featureCol: String = "n_chars"): String =
    s"""WITH g AS (
      |  SELECT CAST($featureCol AS BIGINT) AS x,
      |         CAST(substring(source, 4) AS INT) % 2 = 0 AS is_a
      |  FROM documents),
      |counts AS (
      |  SELECT x,
      |         SUM(CASE WHEN is_a THEN 1 ELSE 0 END) AS ca,
      |         SUM(CASE WHEN NOT is_a THEN 1 ELSE 0 END) AS cb
      |  FROM g GROUP BY 1),
      |cum AS (
      |  SELECT x,
      |         SUM(ca) OVER (ORDER BY x ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cuma,
      |         SUM(cb) OVER (ORDER BY x ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cumb,
      |         LEAD(x) OVER (ORDER BY x) AS nxt
      |  FROM counts),
      |tot AS (SELECT SUM(ca) AS na, SUM(cb) AS nb FROM counts),
      |num AS (
      |  SELECT tot.na, tot.nb,
      |         SUM(ABS(CAST(cum.cuma AS HUGEINT) * tot.nb -
      |                 CAST(cum.cumb AS HUGEINT) * tot.na)
      |             * (cum.nxt - cum.x)) AS w1_num
      |  FROM cum CROSS JOIN tot
      |  WHERE cum.nxt IS NOT NULL
      |  GROUP BY tot.na, tot.nb)
      |SELECT CAST(na AS BIGINT) AS n_a,
      |       CAST(nb AS BIGINT) AS n_b,
      |       CAST((w1_num * 1000000) // (CAST(na AS HUGEINT) * nb) AS BIGINT) AS w1_micro,
      |       ROUND(CAST(w1_num AS DOUBLE)
      |             / (CAST(na AS DOUBLE) * CAST(nb AS DOUBLE)), 6) AS w1
      |FROM num""".stripMargin

  // ------------------------------------------------ windowed drift gate

  /** Clamped fixed-width value bin — bounded domain [0, buckets). The
    * double division+floor is IEEE-identical cross-engine.
    */
  private def bucketCol(value: Column, buckets: Int, vmax: Double): Column =
    least(greatest(floor(value / (vmax / buckets)), lit(0.0)),
      lit((buckets - 1).toDouble)).cast("int")

  /** One count column per bucket over a `b` bin column — the fixed-width
    * histogram as a SINGLE aggregation (no second chained agg for the
    * cumulative pass, which happens in the select below over the bounded
    * bucket count).
    */
  private def histAggs(buckets: Int, prefix: String): Seq[Column] =
    (0 until buckets).map(i =>
      sum(when(col("b") === i, 1L).otherwise(0L)).as(s"$prefix$i"))

  /** W1 numerator + outputs over joined window (c*) and reference (r*)
    * histogram columns: Σ_k |cumW_k·nR − cumR_k·nW| in DECIMAL(38,0)
    * (cum·n products overflow BIGINT at corpus scale), micro-quantized
    * by one integer division. Unit: bucket widths.
    */
  private def w1Select(buckets: Int): Seq[Column] = {
    val D38 = DecimalType(38, 0)
    val cw = (0 until buckets).map(i => col(s"c$i"))
    val cr = (0 until buckets).map(i => col(s"r$i"))
    val nw = cw.reduce(_ + _)
    val nr = cr.reduce(_ + _)
    val num = (0 until buckets - 1).map { k =>
      val cumW = cw.take(k + 1).reduce(_ + _)
      val cumR = cr.take(k + 1).reduce(_ + _)
      abs(cumW.cast(D38) * nr.cast(D38) - cumR.cast(D38) * nw.cast(D38))
    }.reduce(_ + _)
    Seq(col("window_start"), nw.as("n_window"), nr.as("n_ref"), num.as("__w1_num"))
  }

  private def w1Finish(thresholdMicro: Long): Seq[Column] = Seq(
    col("window_start"), col("n_window"),
    expr("CAST(__w1_num * 1000000 AS DECIMAL(38,0)) div " +
      "CAST(CAST(n_window AS DECIMAL(38,0)) * n_ref AS DECIMAL(38,0))")
      .cast("long").as("w1_micro"),
    (expr("CAST(__w1_num * 1000000 AS DECIMAL(38,0)) div " +
      "CAST(CAST(n_window AS DECIMAL(38,0)) * n_ref AS DECIMAL(38,0))")
      .cast("long") >= thresholdMicro).as("drifted"))

  /** Per-hour distribution-drift gate: for every event hour, the EXACT
    * integer Wasserstein-1 distance (in bucket-width units,
    * micro-quantized) between that hour's binned `value` histogram and
    * the full-corpus reference histogram. The online data-quality
    * monitor a training pipeline runs on its ingest stream: a window
    * whose value distribution walks away from the reference gets
    * flagged before it contaminates downstream statistics.
    *
    * The histogram is ONE aggregation (a fixed column per bucket); the
    * cumulative/W1 pass is a fixed expression over the bounded bucket
    * count — no second agg, no window function. Products held in
    * DECIMAL(38,0); the hash-compared output is the micro-quantized
    * integer division.
    */
  def hourlyValueDrift(events: DataFrame, buckets: Int = 20,
                       vmax: Double = 500.0,
                       thresholdMicro: Long = 300000L): DataFrame = {
    val binned = graft.Caching.materialize(events.select(
      date_trunc("hour", col("ts")).as("window_start"),
      bucketCol(col("value"), buckets, vmax).as("b")))
    val wh = binned.groupBy("window_start")
      .agg(histAggs(buckets, "c").head, histAggs(buckets, "c").tail: _*)
    val rh = binned.groupBy()
      .agg(histAggs(buckets, "r").head, histAggs(buckets, "r").tail: _*)
    wh.crossJoin(broadcast(rh))
      .select(w1Select(buckets): _*)
      .select(w1Finish(thresholdMicro): _*)
  }

  /** DuckDB replay of [[hourlyValueDrift]]: the same unrolled per-bucket
    * CASE sums, HUGEINT cumulative products, one integer division.
    */
  def hourlyValueDriftOracleSql(buckets: Int = 20, vmax: Double = 500.0,
                                thresholdMicro: Long = 300000L): String = {
    val width = vmax / buckets
    val cs = (0 until buckets).map(i =>
      s"SUM(CASE WHEN b = $i THEN 1 ELSE 0 END) AS c$i").mkString(",\n|         ")
    val rs = (0 until buckets).map(i =>
      s"SUM(CASE WHEN b = $i THEN 1 ELSE 0 END) AS r$i").mkString(",\n|         ")
    val nw = (0 until buckets).map(i => s"c$i").mkString(" + ")
    val nr = (0 until buckets).map(i => s"r$i").mkString(" + ")
    val num = (0 until buckets - 1).map { k =>
      val cumW = (0 to k).map(i => s"c$i").mkString(" + ")
      val cumR = (0 to k).map(i => s"r$i").mkString(" + ")
      s"ABS(CAST($cumW AS HUGEINT) * ($nr) - CAST($cumR AS HUGEINT) * ($nw))"
    }.mkString("\n|           + ")
    s"""WITH binned AS (
       |  SELECT date_trunc('hour', ts) AS ws,
       |         CAST(LEAST(GREATEST(FLOOR(value / $width), 0), ${buckets - 1}) AS INT) AS b
       |  FROM events),
       |wh AS (
       |  SELECT ws,
       |         $cs
       |  FROM binned GROUP BY 1),
       |rh AS (
       |  SELECT $rs
       |  FROM binned),
       |j AS (SELECT * FROM wh CROSS JOIN rh)
       |SELECT ws AS window_start,
       |       CAST($nw AS BIGINT) AS n_window,
       |       CAST((($num) * 1000000)
       |            // (CAST($nw AS HUGEINT) * ($nr)) AS BIGINT) AS w1_micro,
       |       (($num) * 1000000)
       |            // (CAST($nw AS HUGEINT) * ($nr)) >= $thresholdMicro AS drifted
       |FROM j""".stripMargin
  }

  // ---------------------------------------------------------------- EWMA

  /** Truncated exponentially-weighted moving average of the monthly
    * order count per priority class — the standard smoothing for "is
    * this source's volume trending?" monitors (Roberts, "Control chart
    * tests based on geometric moving averages", Technometrics 1959),
    * truncated to `lags` terms so it stays a fixed expression tree:
    *
    *   ewma_t = Σ_{k<lags} w_k·y_{t−k} / Σ_{k<lags, present} w_k,
    *   w_k = 2^{−(k+1)}  (α = 1/2)
    *
    * Exactness: α = 1/2 makes every weight a dyadic rational; counts are
    * longs, so each product merely shifts the exponent and every partial
    * sum is EXACT in double (common denominator 2^−lags, numerator far
    * below 2⁵³). The one rounding op is the final division — identical
    * bits on any engine, no fold needed.
    *
    * Scale shape: the corpus collapses to the (month × priority)-bounded
    * monthly aggregate in one shuffle; the lag window runs over that
    * bounded domain, partitioned by priority.
    *
    * Output: (o_orderpriority, month_start, n_orders, ewma).
    */
  def ewmaMonthlyOrders(orders: DataFrame, lags: Int = 6): DataFrame = {
    require(lags >= 1 && lags <= 30, "lags must be in [1, 30]")
    val monthly = orders.groupBy(
        trunc(col("o_orderdate").cast("date"), "month").as("month_start"),
        col("o_orderpriority"))
      .agg(count(lit(1)).as("n_orders"))
    val w = Window.partitionBy("o_orderpriority").orderBy("month_start")
    val withLags = (0 until lags).foldLeft(monthly) { (df, k) =>
      df.withColumn(s"l$k", lag(col("n_orders"), k).over(w))
    }
    val weights = (0 until lags).map(k => math.pow(0.5, k + 1))
    val num = (0 until lags).map(k =>
      when(col(s"l$k").isNotNull, col(s"l$k").cast("double") * weights(k))
        .otherwise(0.0): org.apache.spark.sql.Column).reduce(_ + _)
    val den = (0 until lags).map(k =>
      when(col(s"l$k").isNotNull, lit(weights(k)))
        .otherwise(0.0): org.apache.spark.sql.Column).reduce(_ + _)
    withLags.select(col("o_orderpriority"), col("month_start"),
      col("n_orders"), (num / den).as("ewma"))
  }

  /** Seasonal-naive forecast backtest — the standard forecasting
    * BASELINE every model must beat (Hyndman & Athanasopoulos,
    * "Forecasting: Principles and Practice": the seasonal-naive
    * benchmark): forecast for month t is the actual of month t−12; the
    * report is per-month actual, forecast and absolute percentage
    * error over the months where a forecast exists.
    *
    * Exact: revenue folds to integer cents; the lag is a window over
    * the month-bounded monthly aggregate; APE is ONE division of exact
    * longs folded to 1e-6.
    *
    * Output: (month_start, actual_cents, forecast_cents, ape).
    */
  def seasonalNaiveBacktest(orders: DataFrame, season: Int = 12): DataFrame = {
    require(season >= 1, "season length must be >= 1")
    val monthly = orders
      .groupBy(trunc(col("o_orderdate").cast("date"), "month").as("month_start"))
      .agg((cents_sum(col("o_totalprice")) * 100)
        .cast("long").as("actual_cents"))
    val w = Window.orderBy("month_start")
    monthly
      .withColumn("forecast_cents", lag(col("actual_cents"), season).over(w))
      .filter(col("forecast_cents").isNotNull)
      .select(col("month_start"), col("actual_cents"), col("forecast_cents"),
        (floor(abs(col("actual_cents") - col("forecast_cents")).cast("double") /
          col("actual_cents").cast("double") * 1e6 + 0.5) / 1e6).as("ape"))
  }

  /** DuckDB replay of [[seasonalNaiveBacktest]]. */
  def seasonalNaiveOracleSql(season: Int = 12): String =
    s"""WITH monthly AS (
       |  SELECT CAST(date_trunc('month', o_orderdate) AS DATE) AS month_start,
       |         CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) * 100 AS BIGINT) AS actual_cents
       |  FROM orders GROUP BY 1),
       |lagged AS (
       |  SELECT month_start, actual_cents,
       |         LAG(actual_cents, $season) OVER (ORDER BY month_start) AS forecast_cents
       |  FROM monthly)
       |SELECT month_start, actual_cents, forecast_cents,
       |       FLOOR(CAST(abs(actual_cents - forecast_cents) AS DOUBLE)
       |             / CAST(actual_cents AS DOUBLE) * 1e6 + 0.5) / 1e6 AS ape
       |FROM lagged WHERE forecast_cents IS NOT NULL""".stripMargin

  /** DuckDB replay of [[ewmaMonthlyOrders]]: the same lag window and the
    * same left-associated weighted sum; weights printed as exact decimal
    * literals with an `e0` exponent so DuckDB parses them as DOUBLE
    * (bare `0.5` would be DECIMAL and change the arithmetic).
    */
  def ewmaOracleSql(lags: Int = 6): String = {
    val weights = (0 until lags).map(k =>
      BigDecimal(math.pow(0.5, k + 1)).bigDecimal.toPlainString + "e0")
    val lagDefs = (0 until lags).map(k =>
      s"LAG(n_orders, $k) OVER (PARTITION BY o_orderpriority ORDER BY month_start) AS l$k")
      .mkString(",\n         ")
    val num = (0 until lags).map(k =>
      s"CASE WHEN l$k IS NOT NULL THEN CAST(l$k AS DOUBLE) * ${weights(k)} ELSE 0e0 END")
      .mkString(" + ")
    val den = (0 until lags).map(k =>
      s"CASE WHEN l$k IS NOT NULL THEN ${weights(k)} ELSE 0e0 END")
      .mkString(" + ")
    s"""WITH monthly AS (
       |  SELECT CAST(date_trunc('month', o_orderdate) AS DATE) AS month_start,
       |         o_orderpriority, COUNT(*) AS n_orders
       |  FROM orders GROUP BY 1, 2),
       |lagged AS (
       |  SELECT month_start, o_orderpriority, n_orders,
       |         $lagDefs
       |  FROM monthly)
       |SELECT o_orderpriority, month_start, n_orders,
       |       ($num) / ($den) AS ewma
       |FROM lagged""".stripMargin
  }

  /** Brown's double exponential smoothing (Brown & Meyer, Operations
    * Research 9(5), 1961; the LES chapter of Hyndman & Athanasopoulos) —
    * the trend-aware rung above [[ewmaMonthlyOrders]] on the forecasting
    * ladder: smooth the series (S′), smooth the smoothed series (S″),
    * then level = 2S′ − S″, trend = (α/(1−α))(S′ − S″) and the
    * one-step-ahead forecast level + trend. At α = 1/2 the trend factor
    * is exactly 1, so every coefficient stays binary-exact.
    *
    * Both smoothing passes reuse the ewma discipline: a FINITE lag
    * window (truncated geometric weights, renormalized over the lags
    * present) so each S is a closed-form expression, not a recurrence —
    * the left-associated dyadic weighted sum both engines evaluate
    * identically. S″ chains a second identical lag window over the S′
    * column; every product/sum/division shape is mirrored in the oracle,
    * so the doubles are bit-equal with no quantization needed.
    *
    * The windows order the GLOBAL monthly relation — a bounded domain
    * (one row per month of corpus history), the sanctioned
    * single-partition-window case, same as the decile relation.
    *
    * Output: (month_start, n_orders, s1, s2, level, trend, forecast) —
    * `forecast` is the one-step-ahead prediction made AT month_start.
    */
  def brownSmoothing(orders: DataFrame, lags: Int = 6): DataFrame = {
    require(lags >= 2 && lags <= 30, "lags must be in [2, 30]")
    val monthly = orders
      .groupBy(trunc(col("o_orderdate").cast("date"), "month").as("month_start"))
      .agg(count(lit(1)).as("n_orders"))
    val w = Window.orderBy("month_start")
    val weights = (0 until lags).map(k => math.pow(0.5, k + 1))
    def smooth(src: org.apache.spark.sql.Column => org.apache.spark.sql.Column,
               pfx: String, df: DataFrame, valueCol: String): DataFrame = {
      val withLags = (0 until lags).foldLeft(df) { (d, k) =>
        d.withColumn(s"$pfx$k", lag(col(valueCol), k).over(w))
      }
      val num = (0 until lags).map(k =>
        when(col(s"$pfx$k").isNotNull, src(col(s"$pfx$k")) * weights(k))
          .otherwise(0.0): org.apache.spark.sql.Column).reduce(_ + _)
      val den = (0 until lags).map(k =>
        when(col(s"$pfx$k").isNotNull, lit(weights(k)))
          .otherwise(0.0): org.apache.spark.sql.Column).reduce(_ + _)
      withLags.withColumn(s"${pfx}s", num / den)
        .drop((0 until lags).map(k => s"$pfx$k"): _*)
    }
    val d1 = smooth(_.cast("double"), "a", monthly, "n_orders")
      .withColumnRenamed("as", "s1")
    val d2 = smooth(identity, "b", d1, "s1").withColumnRenamed("bs", "s2")
    d2.select(col("month_start"), col("n_orders"), col("s1"), col("s2"),
        (lit(2.0) * col("s1") - col("s2")).as("level"),
        (col("s1") - col("s2")).as("trend"))
      .withColumn("forecast", col("level") + col("trend"))
  }

  /** Holt–Winters ADDITIVE-SEASONAL forecast (Winters, Management
    * Science 6(3), 1960), truncated-window form — the seasonal rung
    * above [[brownSmoothing]] that closes the forecasting ladder
    * (naive → EWMA → Brown → HW): level and trend come from the same
    * two dyadic-weight lag chains as Brown, and the seasonal component
    * is a dyadic-weighted average of the SAME-CALENDAR-MONTH level
    * residuals (y − S′ at lags `period`, 2·period, …) — additive
    * seasonality estimated exactly the way the classical recurrence's
    * fixpoint does, but as a closed-form window so both engines
    * evaluate the identical left-associated double arithmetic
    * (bit-equal, no quantization, the brown/ewma discipline).
    *
    * Windows order the GLOBAL monthly relation — bounded domain (one
    * row per corpus month), the sanctioned single-partition-window
    * case. Seasonal weights renormalize over the seasonal lags PRESENT;
    * with none (the first `period` months) the component is exactly 0
    * and the forecast degrades to Brown's level + trend.
    *
    * Output: (month_start, n_orders, level, trend, seasonal, forecast),
    * `forecast` = level + trend + seasonal made AT month_start.
    */
  def holtWinters(orders: DataFrame, lags: Int = 6, period: Int = 12,
                  seasonLags: Int = 2): DataFrame = {
    require(lags >= 2 && lags <= 30, "lags must be in [2, 30]")
    require(period >= 2 && seasonLags >= 1, "need a season and >= 1 seasonal lag")
    val base = brownSmoothing(orders, lags)
      .withColumn("resid", col("n_orders").cast("double") - col("s1"))
    val w = Window.orderBy("month_start")
    val sWeights = (0 until seasonLags).map(k => math.pow(0.5, k + 1))
    val withLags = (0 until seasonLags).foldLeft(base) { (d, k) =>
      d.withColumn(s"r$k", lag(col("resid"), period * (k + 1)).over(w))
    }
    val num = (0 until seasonLags).map(k =>
      when(col(s"r$k").isNotNull, col(s"r$k") * sWeights(k))
        .otherwise(0.0): org.apache.spark.sql.Column).reduce(_ + _)
    val den = (0 until seasonLags).map(k =>
      when(col(s"r$k").isNotNull, lit(sWeights(k)))
        .otherwise(0.0): org.apache.spark.sql.Column).reduce(_ + _)
    withLags
      .withColumn("seasonal", when(den === 0.0, 0.0).otherwise(num / den))
      .select(col("month_start"), col("n_orders"), col("level"), col("trend"),
        col("seasonal"),
        (col("level") + col("trend") + col("seasonal")).as("forecast"))
  }

  /** DuckDB replay of [[holtWinters]]: [[brownOracleSql]]'s chains plus
    * the mirrored same-month residual window — bit-equal doubles. */
  def holtWintersOracleSql(lags: Int = 6, period: Int = 12,
                           seasonLags: Int = 2): String = {
    val sWeights = (0 until seasonLags).map(k =>
      BigDecimal(math.pow(0.5, k + 1)).bigDecimal.toPlainString + "e0")
    val lagDefs = (0 until seasonLags).map(k =>
      s"LAG(resid, ${period * (k + 1)}) OVER (ORDER BY month_start) AS r$k")
      .mkString(",\n         ")
    val num = (0 until seasonLags).map(k =>
      s"CASE WHEN r$k IS NOT NULL THEN r$k * ${sWeights(k)} ELSE 0e0 END")
      .mkString(" + ")
    val den = (0 until seasonLags).map(k =>
      s"CASE WHEN r$k IS NOT NULL THEN ${sWeights(k)} ELSE 0e0 END")
      .mkString(" + ")
    s"""WITH brown AS (${brownOracleSql(lags)}),
       |res AS (
       |  SELECT month_start, n_orders, level, trend,
       |         CAST(n_orders AS DOUBLE) - s1 AS resid
       |  FROM brown),
       |sl AS (
       |  SELECT month_start, n_orders, level, trend,
       |         $lagDefs
       |  FROM res),
       |sc AS (
       |  SELECT month_start, n_orders, level, trend,
       |         CASE WHEN ($den) = 0e0 THEN 0e0
       |              ELSE ($num) / ($den) END AS seasonal
       |  FROM sl)
       |SELECT month_start, n_orders, level, trend, seasonal,
       |       level + trend + seasonal AS forecast
       |FROM sc""".stripMargin
  }

  /** DuckDB replay of [[brownSmoothing]]: the identical two lag-window
    * chains and arithmetic shapes — bit-equal doubles, no folds.
    */
  def brownOracleSql(lags: Int = 6): String = {
    val weights = (0 until lags).map(k =>
      BigDecimal(math.pow(0.5, k + 1)).bigDecimal.toPlainString + "e0")
    def chain(pfx: String, src: String, castDouble: Boolean): (String, String, String) = {
      val lagDefs = (0 until lags).map(k =>
        s"LAG($src, $k) OVER (ORDER BY month_start) AS $pfx$k")
        .mkString(",\n         ")
      val term = (k: Int) =>
        if (castDouble) s"CAST($pfx$k AS DOUBLE)" else s"$pfx$k"
      val num = (0 until lags).map(k =>
        s"CASE WHEN $pfx$k IS NOT NULL THEN ${term(k)} * ${weights(k)} ELSE 0e0 END")
        .mkString(" + ")
      val den = (0 until lags).map(k =>
        s"CASE WHEN $pfx$k IS NOT NULL THEN ${weights(k)} ELSE 0e0 END")
        .mkString(" + ")
      (lagDefs, num, den)
    }
    val (lag1, num1, den1) = chain("a", "n_orders", castDouble = true)
    val (lag2, num2, den2) = chain("b", "s1", castDouble = false)
    s"""WITH monthly AS (
       |  SELECT CAST(date_trunc('month', o_orderdate) AS DATE) AS month_start,
       |         COUNT(*) AS n_orders
       |  FROM orders GROUP BY 1),
       |l1 AS (
       |  SELECT month_start, n_orders,
       |         $lag1
       |  FROM monthly),
       |d1 AS (
       |  SELECT month_start, n_orders, ($num1) / ($den1) AS s1 FROM l1),
       |l2 AS (
       |  SELECT month_start, n_orders, s1,
       |         $lag2
       |  FROM d1),
       |d2 AS (
       |  SELECT month_start, n_orders, s1, ($num2) / ($den2) AS s2 FROM l2),
       |lt AS (
       |  SELECT month_start, n_orders, s1, s2,
       |         2.0e0 * s1 - s2 AS level, s1 - s2 AS trend
       |  FROM d2)
       |SELECT month_start, n_orders, s1, s2, level, trend,
       |       level + trend AS forecast
       |FROM lt""".stripMargin
  }
}
