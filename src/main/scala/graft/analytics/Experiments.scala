package graft.analytics

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.functions.MoneyFunctions

/** Sequential and variance-reduced experimentation — the two analyses an
  * A/B platform runs beyond the fixed-horizon Welch test
  * ([[Metrics.welchTTest]]):
  *
  *   - Wald's Sequential Probability Ratio Test (Wald, Ann. Math. Stat.
  *     16:117, 1945): monitor the cumulative log-likelihood ratio day by
  *     day and STOP as soon as it crosses the (α, β) boundaries — the
  *     "can we call the experiment yet" curve.
  *   - CUPED variance reduction (Deng, Xu, Kohavi & Walker, WSDM 2013):
  *     regress the experiment metric on its pre-period value and analyze
  *     the residual — same mean, strictly smaller variance, tighter
  *     confidence at the same sample size.
  *
  * Determinism contract: SPRT's per-observation log-likelihood
  * increments are NANO-QUANTIZED LITERALS computed once in Scala and
  * shared verbatim with the oracle SQL (the q_ndcg discount-table
  * convention — no transcendental evaluates in either engine at query
  * time), so the cumulative LLR is an exact integer; CUPED follows the
  * Welch convention — exact integer-cents power sums in DECIMAL(38,0)
  * as the hashed columns, fixed-form IEEE expressions written
  * identically in the oracle for the derived floats.
  */
object Experiments {

  private val Dec = DecimalType(38, 0)
  private def fold6(c: Column): Column = floor(c * 1e6 + 0.5) / 1e6
  /** floor(100·x + 0.5): the cents its oracle replays, not the exact
    * decimal cents of [[graft.functions.Cents]]. */
  private def floorCents(c: Column): Column = floor(c * 100 + 0.5).cast("long")

  /** Round an IEEE double to integer nanos the way both engines agree
    * on: floor(x·1e9 + 0.5). Applied at PLAN-BUILD time to constants.
    */
  private def nano(x: Double): Long = math.floor(x * 1e9 + 0.5).toLong

  // ------------------------------------------------------------- SPRT

  /** Daily SPRT monitor over the treatment arm's purchase-conversion
    * rate: H0 p = `p0` vs H1 p = `p1`, success = a `purchase` event.
    * One row per day with the cumulative trial/success counts, the
    * cumulative LLR in nanos, and the Wald decision at that day:
    *
    *   llr_n = s·ln(p1/p0) + (n−s)·ln((1−p1)/(1−p0))
    *   accept_h1 when llr ≥ ln((1−β)/α), accept_h0 when llr ≤ ln(β/(1−α))
    *
    * Both ln-increments and both boundaries are nano literals baked into
    * the plan (and into the oracle text) — the runtime arithmetic is
    * pure BIGINT multiply/add, hash-exact.
    *
    * Scale: one corpus pass into a per-day aggregate (≤ |days| rows);
    * the cumulative window runs over that bounded relation. llr_nano
    * stays BIGINT-exact to ~5·10¹⁰ cumulative trials (increments are
    * ~10⁸ nanos) — far past any boundary crossing; a monitor that keeps
    * accumulating beyond that lifts the sum to DECIMAL.
    */
  def sprtDaily(events: DataFrame, p0: Double = 0.10, p1: Double = 0.12,
                alpha: Double = 0.05, beta: Double = 0.20): DataFrame = {
    require(p0 > 0 && p0 < 1 && p1 > 0 && p1 < 1 && p1 != p0, "need 0<p0,p1<1, p1 != p0")
    val lS = nano(math.log(p1 / p0))             // per-success increment
    val lF = nano(math.log((1 - p1) / (1 - p0))) // per-failure increment
    val a = nano(math.log((1 - beta) / alpha))   // upper boundary
    val b = nano(math.log(beta / (1 - alpha)))   // lower boundary
    val daily = events.filter(col("event_id") % 2 === 0) // treatment arm
      .groupBy(to_date(col("ts")).as("day"))
      .agg(count(lit(1)).as("n_day"),
        sum(when(col("event_type") === "purchase", 1L).otherwise(0L)).as("s_day"))
    val w = Window.orderBy("day")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    daily
      .select(col("day"),
        sum("n_day").over(w).as("n_cum"), sum("s_day").over(w).as("s_cum"))
      .select(col("day"), col("n_cum"), col("s_cum"),
        (col("s_cum") * lS + (col("n_cum") - col("s_cum")) * lF).as("llr_nano"))
      .withColumn("decision",
        when(col("llr_nano") >= a, lit("accept_h1"))
          .when(col("llr_nano") <= b, lit("accept_h0"))
          .otherwise(lit("continue")))
  }

  /** DuckDB replay of [[sprtDaily]]: the SAME nano literals interpolated
    * into the SQL text — no ln evaluates at query time in either engine.
    */
  def sprtOracleSql(p0: Double = 0.10, p1: Double = 0.12,
                    alpha: Double = 0.05, beta: Double = 0.20): String = {
    val lS = nano(math.log(p1 / p0))
    val lF = nano(math.log((1 - p1) / (1 - p0)))
    val a = nano(math.log((1 - beta) / alpha))
    val b = nano(math.log(beta / (1 - alpha)))
    s"""WITH daily AS (
       |  SELECT CAST(ts AS DATE) AS day, COUNT(*) AS n_day,
       |         SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS s_day
       |  FROM events WHERE event_id % 2 = 0 GROUP BY 1),
       |cum AS (
       |  SELECT day,
       |         SUM(n_day) OVER (ORDER BY day ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS n_cum,
       |         SUM(s_day) OVER (ORDER BY day ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS s_cum
       |  FROM daily)
       |SELECT day, CAST(n_cum AS BIGINT) AS n_cum, CAST(s_cum AS BIGINT) AS s_cum,
       |       CAST(s_cum * $lS + (n_cum - s_cum) * $lF AS BIGINT) AS llr_nano,
       |       CASE WHEN s_cum * $lS + (n_cum - s_cum) * $lF >= $a THEN 'accept_h1'
       |            WHEN s_cum * $lS + (n_cum - s_cum) * $lF <= $b THEN 'accept_h0'
       |            ELSE 'continue' END AS decision
       |FROM cum""".stripMargin
  }

  // ------------------------------------------- Poisson bootstrap SE

  /** Poisson-bootstrap standard error of the mean order value (Chamandy,
    * Muralidharan, Najmi & Naidu, "Estimating uncertainty for massive
    * data streams", Google TR 2012) — THE distributed bootstrap: instead
    * of resampling n rows WITH replacement (which needs coordinated
    * global draws), every row gets an independent Poisson(1) weight per
    * replicate, which converges to multinomial resampling and needs only
    * one pass. Beside [[Breadth4.jackknifeMeanSe]]: the jackknife is
    * deterministic-by-buckets, the bootstrap captures the full sampling
    * distribution; platforms run both.
    *
    * Determinism: replicate r's weight for a row is the inverse
    * Poisson(1) CDF applied to the md5-derived 60-bit uniform of
    * (seed, r, key) — the CDF thresholds are PLAN-BUILD literals
    * floor(P(X≤k)·2⁶⁰) shared verbatim with the oracle, so weights are
    * exact integer comparisons (the SPRT nano-literal rule; weights cap
    * at 7, P(X>7|λ=1) < 10⁻⁵). Replicate means are micro-cent integer
    * divisions; the spread uses the jackknife's scaled identity
    * Σ(m−m̄)² = Σ(B·m−Σm)²/B² in DECIMAL(38,0) with ONE final IEEE
    * sqrt.
    *
    * Output (one row): n_replicates, sum_means_micro (exact hashed
    * BIGINT), boot_se (dollars).
    *
    * Scale: the replicate explode is a B× map-side pass folded straight
    * into a B-row aggregate (map-side combined) — no shuffle carries
    * more than B rows per partition; everything after runs on the B-row
    * relation with 1-row broadcast joins.
    */
  def poissonBootstrap(orders: DataFrame, reps: Int = 16,
                       seed: String = "boot"): DataFrame = {
    require(reps >= 2, "need at least two replicates")
    val thresholds = poissonThresholds
    // spread the NARROW (key, cents) projection to default parallelism
    // before the reps× md5 expansion: a single-split parquet scan
    // otherwise runs the whole exploded hash workload in ONE task
    // (profiled: one 2.1 s task owning the entire query at sf0.1) — the
    // dispatchedBlockJoin stream-spread discipline; 16 B/row crosses
    // the exchange, reps× the hash work comes out the other side
    val base = orders.select(col("o_orderkey"),
      MoneyFunctions.cents(col("o_totalprice")).as("cents"))
      .repartition(orders.sparkSession.sparkContext.defaultParallelism)
    val u60 = conv(substring(md5(concat(lit(s"$seed:"), col("rep").cast("string"),
      lit(":"), col("o_orderkey").cast("string"))), 1, 15), 16, 10).cast("long")
    val w = (0 to 6).reverse.foldLeft(lit(7L): Column)((acc, k) =>
      when(col("u60") < thresholds(k), lit(k.toLong)).otherwise(acc))
    val per = base
      .select(col("o_orderkey"), col("cents"),
        explode(array((0 until reps).map(i => lit(i)): _*)).as("rep"))
      .withColumn("u60", u60)
      .withColumn("w", w)
      .groupBy("rep")
      .agg(sum(col("w")).as("n_w"), sum(col("w") * col("cents")).as("s_w"))
    val means = per.select(col("rep"),
      expr("CAST(s_w AS DECIMAL(38,0)) * 1000000 div n_w").as("m_micro"))
    val stats = means.agg(sum("m_micro").as("sm"), count(lit(1)).as("br"))
    means.crossJoin(broadcast(stats))
      .select(col("br"), col("sm"),
        (col("br") * col("m_micro") - col("sm")).cast(Dec).as("dev"))
      .groupBy("br", "sm")
      .agg(sum(col("dev") * col("dev")).as("q2"))
      .select(col("br").cast("int").as("n_replicates"),
        col("sm").cast("long").as("sum_means_micro"),
        (sqrt(col("q2").cast("double") /
          ((col("br") - 1).cast("double") *
            (col("br") * col("br")).cast("double"))) / 1.0e8).as("boot_se"))
  }

  /** floor(P(Poisson(1) ≤ k)·2⁶⁰) for k = 0..6 — computed once, shared
    * with the oracle text.
    */
  private def poissonThresholds: Seq[Long] = {
    var fact = 1.0
    var c = 0.0
    (0 to 6).map { k =>
      if (k > 0) fact *= k
      c += math.exp(-1.0) / fact
      math.floor(c * math.pow(2, 60)).toLong
    }
  }

  /** DuckDB replay of [[poissonBootstrap]]: identical threshold
    * literals, micro-cent divisions, scaled-identity spread.
    */
  def poissonBootstrapOracleSql(reps: Int = 16, seed: String = "boot"): String = {
    val t = poissonThresholds
    val wCase = (0 to 6).map(k => s"WHEN u60 < ${t(k)} THEN $k")
      .mkString("CASE ", " ", " ELSE 7 END")
    s"""WITH base AS (
       |  SELECT o_orderkey,
       |         CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents
       |  FROM orders),
       |reps AS (SELECT CAST(i AS INTEGER) AS rep FROM range(0, $reps) t(i)),
       |drawn AS (
       |  SELECT rep, cents,
       |         ('0x' || substring(md5('$seed:' || CAST(rep AS VARCHAR) || ':' ||
       |                                CAST(o_orderkey AS VARCHAR)), 1, 15))::BIGINT AS u60
       |  FROM base CROSS JOIN reps),
       |per AS (
       |  SELECT rep,
       |         CAST(SUM($wCase) AS BIGINT) AS n_w,
       |         CAST(SUM(($wCase) * cents) AS BIGINT) AS s_w
       |  FROM drawn GROUP BY 1),
       |means AS (
       |  SELECT rep, CAST((CAST(s_w AS HUGEINT) * 1000000) // n_w AS BIGINT) AS m_micro
       |  FROM per),
       |stats AS (SELECT CAST(SUM(m_micro) AS BIGINT) AS sm, COUNT(*) AS br FROM means),
       |q AS (
       |  SELECT stats.br, stats.sm,
       |         SUM(CAST(stats.br * means.m_micro - stats.sm AS HUGEINT) *
       |             CAST(stats.br * means.m_micro - stats.sm AS HUGEINT)) AS q2
       |  FROM means, stats GROUP BY 1, 2)
       |SELECT CAST(br AS INTEGER) AS n_replicates,
       |       CAST(sm AS BIGINT) AS sum_means_micro,
       |       sqrt(CAST(q2 AS DOUBLE) /
       |            (CAST(br - 1 AS DOUBLE) * CAST(br * br AS DOUBLE))) / 1.0e8 AS boot_se
       |FROM q""".stripMargin
  }

  // --------------------------------------- sample-ratio mismatch

  /** Sample-ratio-mismatch gate — the FIRST check every experimentation
    * platform runs before reading any metric (Fabijan et al., "Diagnosing
    * sample ratio mismatch in online controlled experiments", KDD 2019):
    * under a 50/50 split, arm counts follow a binomial, and the 1-dof
    * chi-square (n_a−n_b)²/(n_a+n_b) explodes when the assignment
    * pipeline drops one arm's traffic. A metric read on SRM'd arms is
    * garbage regardless of its p-value.
    *
    * Exactness: chi² is the exact rational (n_a−n_b)²/(n_a+n_b),
    * micro-quantized by integer division; the detection threshold is
    * the χ²₁ 95th-percentile literal 3.841459 in micros, a plan
    * constant shared with the oracle. One corpus pass, one row out.
    */
  def sampleRatioMismatch(events: DataFrame,
                          thresholdMicro: Long = 3841459L): DataFrame = {
    val s = events.agg(
      sum(when(col("event_id") % 2 === 0, 1L).otherwise(0L)).as("na"),
      sum(when(col("event_id") % 2 =!= 0, 1L).otherwise(0L)).as("nb"))
    s.select(col("na").as("n_a"), col("nb").as("n_b"),
      expr("((na - nb) * (na - nb) * 1000000) div (na + nb)").as("chi2_micro"),
      (expr("((na - nb) * (na - nb) * 1000000) div (na + nb)") >=
        thresholdMicro).as("srm_detected"))
  }

  /** DuckDB replay of [[sampleRatioMismatch]]. */
  def srmOracleSql(thresholdMicro: Long = 3841459L): String =
    s"""WITH s AS (
      |  SELECT SUM(CASE WHEN event_id % 2 = 0 THEN 1 ELSE 0 END) AS na,
      |         SUM(CASE WHEN event_id % 2 <> 0 THEN 1 ELSE 0 END) AS nb
      |  FROM events)
      |SELECT CAST(na AS BIGINT) AS n_a, CAST(nb AS BIGINT) AS n_b,
      |       CAST(((na - nb) * (na - nb) * 1000000) // (na + nb) AS BIGINT) AS chi2_micro,
      |       ((na - nb) * (na - nb) * 1000000) // (na + nb) >= $thresholdMicro AS srm_detected
      |FROM s""".stripMargin

  // ------------------------------------------ isotonic calibration

  /** Isotonic (PAV) calibration of the reliability bins behind
    * `q_calibration` — the monotone repair that turns a miscalibrated
    * score into usable probabilities (Zadrozny & Elkan, KDD 2002;
    * Ayer et al., Ann. Math. Stat. 26:641, 1955). Instead of the
    * sequential pool-adjacent-violators sweep (data-dependent iteration
    * order — hostile to both a declarative plan and a SQL oracle), this
    * uses the CLOSED-FORM minimax identity of the same fit:
    *
    *   iso_i = max_{j ≤ i} min_{k ≥ i} mean(pos rate over bins j..k)
    *
    * with interval means micro-quantized by exact integer division
    * (identical quantization both engines, and the minimax form is
    * monotone by construction for ANY interval-mean matrix — the
    * property the spec asserts). All joins run on the `bins`-row
    * relation: bins³ ≤ 1000 rows at the default 10.
    *
    * Output per bin: (bin, n_customers, n_pos, raw_micro, iso_micro) —
    * every column an exact integer.
    *
    * Scale: the corpus collapses to `bins` rows in one aggregation
    * (same scored relation as q_calibration); everything after is
    * bounded by bins³.
    */
  def isotonicCalibration(customer: DataFrame, orders: DataFrame,
                          bins: Int = 10): DataFrame = {
    require(bins >= 2, "need at least two bins")
    val cts = customer.select(col("c_custkey"),
      MoneyFunctions.cents(col("c_acctbal")).as("cents"))
    val bounds = cts.agg(min("cents").as("mn"), max("cents").as("mx"))
    val nOrders = orders.groupBy(col("o_custkey")).agg(count(lit(1)).as("n_ord"))
    val perBin = cts
      .join(nOrders, col("c_custkey") === col("o_custkey"), "left")
      .crossJoin(broadcast(bounds))
      .select(expr(s"(cents - mn) * $bins div (mx - mn + 1)").as("bin"),
        when(coalesce(col("n_ord"), lit(0L)) >= 2, 1L).otherwise(0L).as("y"))
      .groupBy("bin")
      .agg(count(lit(1)).as("n_customers"), sum("y").as("n_pos"))
    val b = graft.Caching.materialize(perBin) // feeds intervals ×2 + output
    val intervals = b.alias("j").join(b.alias("k"),
        col("j.bin") <= col("k.bin"))
      .select(col("j.bin").as("lo"), col("k.bin").as("hi"))
      .join(b.alias("m"), col("m.bin") >= col("lo") && col("m.bin") <= col("hi"))
      .groupBy("lo", "hi")
      .agg(expr("(1000000 * sum(n_pos)) div sum(n_customers)").as("avg_micro"))
    val fitted = b.select(col("bin"))
      .join(intervals, col("lo") <= col("bin") && col("bin") <= col("hi"))
      .groupBy("bin", "lo").agg(min("avg_micro").as("mn_over_k"))
      .groupBy("bin").agg(max("mn_over_k").as("iso_micro"))
    b.join(fitted, "bin")
      .select(col("bin").cast("int").as("bin"),
        col("n_customers"), col("n_pos"),
        expr("(1000000 * n_pos) div n_customers").as("raw_micro"),
        col("iso_micro"))
  }

  /** DuckDB replay of [[isotonicCalibration]] — same minimax algebra. */
  def isotonicOracleSql(bins: Int = 10): String =
    s"""WITH cents AS (
      |  SELECT c_custkey,
      |         CAST(CAST(c_acctbal AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents
      |  FROM customer),
      |bounds AS (SELECT MIN(cents) AS mn, MAX(cents) AS mx FROM cents),
      |no AS (SELECT o_custkey, COUNT(*) AS n_ord FROM orders GROUP BY 1),
      |per AS (
      |  SELECT ((c.cents - b.mn) * $bins) // (b.mx - b.mn + 1) AS bin,
      |         CASE WHEN COALESCE(no.n_ord, 0) >= 2 THEN 1 ELSE 0 END AS y
      |  FROM cents c CROSS JOIN bounds b
      |  LEFT JOIN no ON no.o_custkey = c.c_custkey),
      |pb AS (SELECT bin, COUNT(*) AS n_customers, SUM(y) AS n_pos
      |       FROM per GROUP BY 1),
      |iv AS (
      |  SELECT j.bin AS lo, k.bin AS hi,
      |         (1000000 * SUM(m.n_pos)) // SUM(m.n_customers) AS avg_micro
      |  FROM pb j JOIN pb k ON j.bin <= k.bin
      |  JOIN pb m ON m.bin BETWEEN j.bin AND k.bin
      |  GROUP BY 1, 2),
      |fit AS (
      |  SELECT bin, MAX(mn_over_k) AS iso_micro FROM (
      |    SELECT pb.bin, iv.lo, MIN(iv.avg_micro) AS mn_over_k
      |    FROM pb JOIN iv ON iv.lo <= pb.bin AND pb.bin <= iv.hi
      |    GROUP BY 1, 2) t
      |  GROUP BY 1)
      |SELECT CAST(pb.bin AS INTEGER) AS bin,
      |       CAST(pb.n_customers AS BIGINT) AS n_customers,
      |       CAST(pb.n_pos AS BIGINT) AS n_pos,
      |       CAST((1000000 * pb.n_pos) // pb.n_customers AS BIGINT) AS raw_micro,
      |       CAST(fit.iso_micro AS BIGINT) AS iso_micro
      |FROM pb JOIN fit ON fit.bin = pb.bin""".stripMargin

  // ------------------------------------------ conformal intervals

  /** Split-conformal prediction interval for the seasonal-naive monthly
    * forecast (Vovk et al., "Algorithmic Learning in a Random World",
    * 2005; Lei et al., JASA 2018): the calibration scores are the
    * absolute forecast residuals |actual − ŷ| in exact cents, and the
    * interval half-width is the k-th smallest with
    * k = ⌈(n+1)(1−α)⌉ — distribution-free ≥(1−α) coverage, which is
    * the guarantee a forecasting pipeline actually wants from its error
    * bars. Output also reports the EMPIRICAL calibration-set coverage
    * at the chosen q̂ (an exact integer ratio) — the self-check that
    * the rank arithmetic is right.
    *
    * Exactness: residuals are integer cents; k is integer arithmetic
    * ⌈(n+1)·(1−α)⌉ with α expressed as the exact fraction num/den; the
    * order statistic is a rank over the bounded backtest relation
    * (≤ |months|), tie-broken by month for a total order.
    */
  def conformalInterval(orders: DataFrame, alphaNum: Int = 1,
                        alphaDen: Int = 10, season: Int = 12): DataFrame = {
    require(alphaNum > 0 && alphaNum < alphaDen, "need 0 < alpha < 1")
    val monthly = orders
      .groupBy(trunc(col("o_orderdate").cast("date"), "month").as("month_start"))
      .agg((MoneyFunctions.cents_sum(col("o_totalprice")) * 100)
        .cast("long").as("actual_cents"))
    val w = Window.orderBy("month_start")
    val resid = monthly
      .withColumn("forecast_cents", lag(col("actual_cents"), season).over(w))
      .filter(col("forecast_cents").isNotNull)
      .select(col("month_start"),
        abs(col("actual_cents") - col("forecast_cents")).as("r"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    resid.count() // rank branch + totals branch
    val tot = resid.agg(count(lit(1)).as("n_cal"))
    val ranked = resid.select(col("r"),
      row_number().over(Window.orderBy(col("r"), col("month_start"))).as("rk"))
    // k = ceil((n+1)·(den−num)/den), capped at n (k > n would demand an
    // infinite interval; the cap is the standard finite-sample fallback)
    val kExpr = expr(
      s"least(((n_cal + 1) * ${alphaDen - alphaNum} + $alphaDen - 1) div $alphaDen, n_cal)")
    val qhat = ranked.crossJoin(broadcast(tot))
      .filter(col("rk") === kExpr)
      .select(col("n_cal"), col("rk").as("k"), col("r").as("qhat_cents"))
    val cover = resid.crossJoin(broadcast(qhat))
      .agg(max(col("n_cal")).as("n_cal"), max(col("k")).as("k"),
        max(col("qhat_cents")).as("qhat_cents"),
        sum(when(col("r") <= col("qhat_cents"), 1L).otherwise(0L)).as("n_within"))
    cover.select(col("n_cal"), col("k"), col("qhat_cents"),
      expr("(1000000 * n_within) div n_cal").as("coverage_micro"))
  }

  /** DuckDB replay of [[conformalInterval]] — same rank arithmetic. */
  def conformalOracleSql(alphaNum: Int = 1, alphaDen: Int = 10,
                         season: Int = 12): String =
    s"""WITH monthly AS (
      |  SELECT CAST(date_trunc('month', o_orderdate) AS DATE) AS month_start,
      |         CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) * 100 AS BIGINT) AS actual_cents
      |  FROM orders GROUP BY 1),
      |resid AS (
      |  SELECT month_start, ABS(actual_cents - forecast_cents) AS r FROM (
      |    SELECT month_start, actual_cents,
      |           LAG(actual_cents, $season) OVER (ORDER BY month_start) AS forecast_cents
      |    FROM monthly) t
      |  WHERE forecast_cents IS NOT NULL),
      |tot AS (SELECT COUNT(*) AS n_cal FROM resid),
      |ranked AS (
      |  SELECT r, ROW_NUMBER() OVER (ORDER BY r, month_start) AS rk FROM resid),
      |qhat AS (
      |  SELECT tot.n_cal, ranked.rk AS k, ranked.r AS qhat_cents
      |  FROM ranked CROSS JOIN tot
      |  WHERE ranked.rk = LEAST(((tot.n_cal + 1) * ${alphaDen - alphaNum}
      |                           + $alphaDen - 1) // $alphaDen, tot.n_cal))
      |SELECT CAST(q.n_cal AS BIGINT) AS n_cal,
      |       CAST(q.k AS INTEGER) AS k,
      |       CAST(q.qhat_cents AS BIGINT) AS qhat_cents,
      |       CAST((1000000 * SUM(CASE WHEN resid.r <= q.qhat_cents THEN 1 ELSE 0 END))
      |            // q.n_cal AS BIGINT) AS coverage_micro
      |FROM resid CROSS JOIN qhat q
      |GROUP BY q.n_cal, q.k, q.qhat_cents""".stripMargin

  // ----------------------------------------------- Mann-Whitney U

  /** Mann–Whitney U (Wilcoxon rank-sum) test between the same even/odd
    * order arms as [[Metrics.welchTTest]] — the NONPARAMETRIC companion:
    * rank-based, so heavy-tailed revenue distributions can't distort it
    * the way they inflate a t-test's variance estimate (Mann & Whitney,
    * Ann. Math. Stat. 18:50, 1947). Platforms report both and trust the
    * one whose assumptions hold.
    *
    * Exactness: works entirely on the VALUE-GROUPED relation — for each
    * distinct cent value the arm counts and the doubled average rank
    * 2·before + t + 1 are exact integers, so the doubled rank sum
    * 2·R_a and the tie-correction Σ(t³−t) are exact DECIMAL(38,0)
    * sums; U, the common-language effect size U/(n_a·n_b) and the
    * tie-corrected normal z are fixed-form IEEE expressions written
    * identically in the oracle (fold 1e-6).
    *
    * Scale shape: one corpus pass to per-value arm counts, one window
    * over the value-distinct relation (the rankDist/ksDrift precedent),
    * one 1-row aggregate.
    */
  def mannWhitney(orders: DataFrame): DataFrame = {
    val g = orders.select(floorCents(col("o_totalprice")).as("x"),
      (col("o_orderkey") % 2 === 0).as("is_a"))
    val byV = g.groupBy("x").agg(
        sum(when(col("is_a"), 1L).otherwise(0L)).as("ca"),
        sum(when(!col("is_a"), 1L).otherwise(0L)).as("cb"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    byV.count() // materialize once: window branch + totals branch
    val w = Window.orderBy("x").rowsBetween(Window.unboundedPreceding, -1)
    val t = col("ca") + col("cb")
    val s = byV
      .select(col("ca"), col("cb"),
        coalesce(sum(col("ca") + col("cb")).over(w), lit(0L)).as("before"))
      .select(col("ca"), col("cb"),
        (col("ca") * (lit(2L) * col("before") + t + lit(1L))).cast(Dec).as("r2t"),
        (t * t * t - t).cast(Dec).as("tiet"))
      .agg(sum(col("ca")).as("na"), sum(col("cb")).as("nb"),
        sum(col("r2t")).as("ra2"), sum(col("tiet")).as("ties"))
    val na = col("na").cast("double"); val nb = col("nb").cast("double")
    val n = na + nb
    val u = (col("ra2").cast("double") - na * (na + 1)) / 2.0
    val variance = na * nb / 12.0 *
      ((n + 1) - col("ties").cast("double") / (n * (n - 1)))
    s.select(col("na").cast("long").as("n_a"), col("nb").cast("long").as("n_b"),
      fold6(u / (na * nb)).as("cles"),
      fold6((u - na * nb / 2.0) / sqrt(variance)).as("z"))
  }

  /** DuckDB replay of [[mannWhitney]] — identical grouped-rank algebra. */
  def mannWhitneyOracleSql(): String =
    """WITH g AS (
      |  SELECT CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT) AS x,
      |         o_orderkey % 2 = 0 AS is_a
      |  FROM orders),
      |byv AS (
      |  SELECT x,
      |         SUM(CASE WHEN is_a THEN 1 ELSE 0 END) AS ca,
      |         SUM(CASE WHEN NOT is_a THEN 1 ELSE 0 END) AS cb
      |  FROM g GROUP BY 1),
      |cum AS (
      |  SELECT ca, cb,
      |         COALESCE(SUM(ca + cb) OVER (ORDER BY x
      |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS before
      |  FROM byv),
      |s AS (
      |  SELECT CAST(SUM(ca) AS BIGINT) AS na, CAST(SUM(cb) AS BIGINT) AS nb,
      |         SUM(CAST(ca AS HUGEINT) * (2 * before + ca + cb + 1)) AS ra2,
      |         SUM(CAST(ca + cb AS HUGEINT) * (ca + cb) * (ca + cb)
      |             - (ca + cb)) AS ties
      |  FROM cum),
      |d AS (
      |  SELECT na, nb,
      |         CAST(na AS DOUBLE) AS nad, CAST(nb AS DOUBLE) AS nbd,
      |         CAST(na AS DOUBLE) + CAST(nb AS DOUBLE) AS n,
      |         (CAST(ra2 AS DOUBLE) - CAST(na AS DOUBLE) * (CAST(na AS DOUBLE) + 1)) / 2.0 AS u,
      |         CAST(ties AS DOUBLE) AS tiesd
      |  FROM s)
      |SELECT na AS n_a, nb AS n_b,
      |       FLOOR(u / (nad * nbd) * 1e6 + 0.5) / 1e6 AS cles,
      |       FLOOR((u - nad * nbd / 2.0) /
      |             sqrt(nad * nbd / 12.0 * ((n + 1) - tiesd / (n * (n - 1))))
      |             * 1e6 + 0.5) / 1e6 AS z
      |FROM d""".stripMargin

  // ------------------------------------------------------------ CUPED

  /** CUPED-adjusted experiment readout: per user, the pre-period
    * (first half of the observation window) and post-period event-value
    * sums in exact cents; θ = cov(pre, post)/var(pre) pooled over all
    * users; the adjusted metric post − θ·(pre − mean(pre)) has the same
    * mean and variance shrunk by the squared correlation. Output is ONE
    * row: user count and the exact BIGINT pre/post cent totals (the
    * hashed integer columns), plus θ, raw and adjusted variance, and
    * the achieved reduction — each a fixed-form IEEE expression over the
    * exact DECIMAL(38,0) power sums, written identically in the oracle.
    * Requires a non-degenerate pre-period (var(pre) > 0).
    *
    * Scale: one corpus pass to per-user pre/post sums (hash agg keyed by
    * user), one power-sum aggregate — the Welch shape with a split.
    */
  def cuped(events: DataFrame): DataFrame = {
    // integer-second midpoint (div, not /): the oracle floors epoch()
    // to whole seconds the same way before the same integer division
    val mid = events.agg(
      expr("to_date(from_unixtime((unix_timestamp(min(ts)) + " +
        "unix_timestamp(max(ts))) div 2))").as("mid"))
    val perUser = events.crossJoin(broadcast(mid))
      .groupBy("user_id")
      .agg(
        sum(when(to_date(col("ts")) < col("mid"), floorCents(col("value")))
          .otherwise(0L)).as("pre"),
        sum(when(to_date(col("ts")) >= col("mid"), floorCents(col("value")))
          .otherwise(0L)).as("post"))
    val sums = perUser.agg(
      count(lit(1)).as("n_users"),
      sum(col("pre").cast(Dec)).as("s_pre"),
      sum(col("post").cast(Dec)).as("s_post"),
      sum((col("pre") * col("pre")).cast(Dec)).as("s_pre2"),
      sum((col("post") * col("post")).cast(Dec)).as("s_post2"),
      sum((col("pre") * col("post")).cast(Dec)).as("s_prepost"))
    val n = col("n_users").cast("double")
    val covN = n * col("s_prepost").cast("double") -
      col("s_pre").cast("double") * col("s_post").cast("double")
    val varPreN = n * col("s_pre2").cast("double") -
      col("s_pre").cast("double") * col("s_pre").cast("double")
    val varPostN = n * col("s_post2").cast("double") -
      col("s_post").cast("double") * col("s_post").cast("double")
    val theta = covN / varPreN
    // var(post − θ·pre) · n² = varPostN − 2θ·covN + θ²·varPreN
    val varAdjN = varPostN - theta * covN // algebra: θ·(2covN − θ·varPreN) = θ·covN
    // Σpre/Σpost stay BIGINT-exact to ~10¹⁶ total cents and are the
    // hash-compared integer columns; the squared sums live only inside
    // the fixed-form IEEE expressions (DECIMAL outputs would read back
    // as floats in the oracle harness — the q_wasserstein lesson)
    sums.select(col("n_users"),
      col("s_pre").cast("long").as("sum_pre_cents"),
      col("s_post").cast("long").as("sum_post_cents"),
      fold6(theta).as("theta"),
      fold6(varPostN / (n * n) / 10000.0).as("var_post"),
      fold6(varAdjN / (n * n) / 10000.0).as("var_adj"),
      fold6(lit(1.0) - varAdjN / varPostN).as("var_reduction"))
  }

  /** DuckDB replay of [[cuped]] — identical expression shapes. */
  def cupedOracleSql(): String =
    """WITH mid AS (
      |  SELECT CAST(to_timestamp((CAST(FLOOR(epoch(MIN(ts))) AS BIGINT) +
      |                            CAST(FLOOR(epoch(MAX(ts))) AS BIGINT)) // 2) AS DATE) AS mid
      |  FROM events),
      |pu AS (
      |  SELECT user_id,
      |         SUM(CASE WHEN CAST(ts AS DATE) < mid
      |             THEN CAST(FLOOR(value * 100 + 0.5) AS BIGINT) ELSE 0 END) AS pre,
      |         SUM(CASE WHEN CAST(ts AS DATE) >= mid
      |             THEN CAST(FLOOR(value * 100 + 0.5) AS BIGINT) ELSE 0 END) AS post
      |  FROM events CROSS JOIN mid GROUP BY 1),
      |sums AS (
      |  SELECT COUNT(*) AS n_users,
      |         SUM(CAST(pre AS HUGEINT)) AS s_pre,
      |         SUM(CAST(post AS HUGEINT)) AS s_post,
      |         SUM(CAST(pre AS HUGEINT) * pre) AS s_pre2,
      |         SUM(CAST(post AS HUGEINT) * post) AS s_post2,
      |         SUM(CAST(pre AS HUGEINT) * post) AS s_prepost
      |  FROM pu),
      |d AS (
      |  SELECT *,
      |         CAST(n_users AS DOUBLE) AS n,
      |         CAST(n_users AS DOUBLE) * CAST(s_prepost AS DOUBLE)
      |           - CAST(s_pre AS DOUBLE) * CAST(s_post AS DOUBLE) AS covn,
      |         CAST(n_users AS DOUBLE) * CAST(s_pre2 AS DOUBLE)
      |           - CAST(s_pre AS DOUBLE) * CAST(s_pre AS DOUBLE) AS varpren,
      |         CAST(n_users AS DOUBLE) * CAST(s_post2 AS DOUBLE)
      |           - CAST(s_post AS DOUBLE) * CAST(s_post AS DOUBLE) AS varpostn
      |  FROM sums)
      |SELECT CAST(n_users AS BIGINT) AS n_users,
      |       CAST(s_pre AS BIGINT) AS sum_pre_cents,
      |       CAST(s_post AS BIGINT) AS sum_post_cents,
      |       FLOOR(covn / varpren * 1e6 + 0.5) / 1e6 AS theta,
      |       FLOOR(varpostn / (n * n) / 10000.0 * 1e6 + 0.5) / 1e6 AS var_post,
      |       FLOOR((varpostn - covn / varpren * covn) / (n * n) / 10000.0 * 1e6 + 0.5) / 1e6 AS var_adj,
      |       FLOOR((1.0 - (varpostn - covn / varpren * covn) / varpostn) * 1e6 + 0.5) / 1e6 AS var_reduction
      |FROM d""".stripMargin
}
