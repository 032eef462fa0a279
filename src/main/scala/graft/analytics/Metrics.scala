package graft.analytics

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Exact-deterministic statistical metrics a data-quality / model-eval
  * layer needs over warehouse tables: revenue concentration (Gini),
  * ranking quality (AUC via the Mann–Whitney rank sum), categorical
  * association (mutual information), fraud-style digit audit (Benford),
  * and series memory (autocorrelation).
  *
  * Shared exactness discipline (see `Drift`, `GlobalRank`): money folds
  * to integer cents up front; every sum/product runs in long or
  * DECIMAL(38,0); `ln` is milli-quantized off an exact integer ratio;
  * each result performs ONE final IEEE division folded to 1e-6 — so
  * Spark and the DuckDB oracle are bit-identical, independent of
  * partitioning and row order.
  *
  * Scale shape: every metric collapses the corpus to a bounded relation
  * first — per-key aggregates, distinct score values, a (class×class)
  * contingency table, 9 digits, a dated daily series — with map-side
  * combine; the only ordered windows run over those bounded domains
  * (the documented `GlobalRank` distinct-value-window argument, with
  * the same range-partitioned fallback if a domain ever is data-sized).
  *
  * Reference anchor: the reference's analytics layer stops at grouped
  * sums and top-K (`filmETLs.ipynb#cell11-13`); these are the metric
  * primitives its warehouse users reach for next at 100 TB.
  */
object Metrics {

  private val Dec = DecimalType(38, 0)

  private def fold6(c: Column): Column = floor(c * 1e6 + 0.5) / 1e6

  private def cents(c: Column): Column =
    floor(c * 100 + 0.5).cast("long")

  /** ABC (Pareto) classification of parts by shipped revenue — the
    * warehouse-classic 80/95 split: rank parts by revenue descending,
    * class A while the cumulative share stays ≤ 80%, B to 95%, C after
    * (inclusive-≤ boundary, exact integer comparisons
    * cum·100 ≤ pct·total — no float share ever computed for the
    * classification). Output per class: part count, class revenue in
    * cents, and the micro-quantized share.
    *
    * Scale: the revenue ranking uses the two-pass distributed prefix
    * sum ([[graft.operators.Packing.withRunningTotal]] over
    * (−revenue, partkey)) — NO single-partition window over the part
    * relation, which at catalog scale is data-sized (this is the same
    * prefix-sum shape the sequence packer uses; the oracle's window
    * formulation is the differential twin, not the scale path).
    */
  def paretoAbc(lineitem: DataFrame, aPct: Int = 80, bPct: Int = 95): DataFrame = {
    require(aPct > 0 && aPct < bPct && bPct < 100, "need 0 < aPct < bPct < 100")
    val perPart = lineitem.groupBy(col("l_partkey"))
      .agg(sum(cents(col("l_extendedprice"))).as("rev"))
      .select(col("l_partkey"), col("rev"), (-col("rev")).as("neg"))
    val run = graft.operators.Packing.withRunningTotal(
      perPart, Seq("neg", "l_partkey"), "rev", "before")
    val tot = perPart.agg(sum("rev").as("total"))
    run.crossJoin(broadcast(tot))
      .select(col("rev"),
        when((col("before") + col("rev")).cast(Dec) * 100 <=
            col("total").cast(Dec) * aPct, "A")
          .when((col("before") + col("rev")).cast(Dec) * 100 <=
            col("total").cast(Dec) * bPct, "B")
          .otherwise("C").as("abc_class"),
        col("total"))
      .groupBy("abc_class", "total")
      .agg(count(lit(1)).as("n_parts"), sum("rev").as("class_cents"))
      .select(col("abc_class"), col("n_parts"),
        col("class_cents").cast("long").as("class_cents"),
        expr("CAST(class_cents * 1000000 AS DECIMAL(38,0)) div CAST(total AS DECIMAL(38,0))")
          .cast("long").as("share_micro"))
  }

  /** DuckDB replay of [[paretoAbc]] via the window formulation. */
  def paretoAbcOracleSql(aPct: Int = 80, bPct: Int = 95): String =
    s"""WITH per AS (
      |  SELECT l_partkey,
      |         SUM(CAST(FLOOR(l_extendedprice * 100 + 0.5) AS BIGINT)) AS rev
      |  FROM lineitem GROUP BY 1),
      |run AS (
      |  SELECT rev,
      |         COALESCE(SUM(rev) OVER (ORDER BY rev DESC, l_partkey
      |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS before,
      |         SUM(rev) OVER () AS total
      |  FROM per),
      |cls AS (
      |  SELECT rev, total,
      |         CASE WHEN CAST(before + rev AS HUGEINT) * 100 <= CAST(total AS HUGEINT) * $aPct THEN 'A'
      |              WHEN CAST(before + rev AS HUGEINT) * 100 <= CAST(total AS HUGEINT) * $bPct THEN 'B'
      |              ELSE 'C' END AS abc_class
      |  FROM run)
      |SELECT abc_class, CAST(COUNT(*) AS BIGINT) AS n_parts,
      |       CAST(SUM(rev) AS BIGINT) AS class_cents,
      |       CAST((CAST(SUM(rev) AS HUGEINT) * 1000000) // MAX(total) AS BIGINT) AS share_micro
      |FROM cls GROUP BY abc_class""".stripMargin

  /** Gini coefficient of per-customer revenue concentration.
    *
    * Uses the sorted-rank closed form
    * `G = (2·Σ i·x_(i) − (n+1)·Σ x) / (n·Σ x)` evaluated per DISTINCT
    * revenue value: a tie group of c customers at value v with
    * `before` smaller customers contributes
    * `v·(2·c·before + c·(c+1))` to `2·Σ i·x_(i)` regardless of how
    * ties are ordered — so the statistic is deterministic with no
    * tie-break needed. All terms are exact cents-longs in
    * DECIMAL(38,0); one division at the end.
    *
    * Output: one row (n_customers, gini).
    */
  def giniRevenue(orders: DataFrame): DataFrame = {
    val rev = orders.groupBy(col("o_custkey"))
      .agg(sum(cents(col("o_totalprice"))).as("v"))
    val byVal = rev.groupBy(col("v")).agg(count(lit(1)).as("c"))
    // prefix over DISTINCT revenue values via the two-pass distributed
    // prefix sum (Packing.withRunningTotal): for per-customer revenue
    // SUMS the distinct domain approaches |customers| — data-sized at
    // catalog scale, so a Window.orderBy(v) here would be a
    // one-partition sort in disguise. The oracle keeps the window
    // formulation as the differential twin.
    graft.operators.Packing.withRunningTotal(byVal, Seq("v"), "c", "before")
      .agg(
        sum(col("c")).as("n"),
        sum(col("v").cast(Dec) * col("c").cast(Dec)).as("s"),
        sum(col("v").cast(Dec) *
          (col("c").cast(Dec) * col("before").cast(Dec) * 2 +
            col("c").cast(Dec) * (col("c").cast(Dec) + 1))).as("twoRankSum"))
      .select(col("n").as("n_customers"),
        fold6((col("twoRankSum") - (col("n").cast(Dec) + 1) * col("s"))
          .cast("double") /
          (col("n").cast(Dec) * col("s")).cast("double")).as("gini"))
  }

  /** DuckDB replay of [[giniRevenue]]. */
  def giniRevenueOracleSql(): String =
    """WITH rev AS (
      |  SELECT o_custkey,
      |         SUM(CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT)) AS v
      |  FROM orders GROUP BY 1),
      |byval AS (SELECT v, COUNT(*) AS c FROM rev GROUP BY 1),
      |pre AS (
      |  SELECT v, c,
      |         COALESCE(SUM(c) OVER (ORDER BY v
      |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS before
      |  FROM byval)
      |SELECT CAST(SUM(c) AS BIGINT) AS n_customers,
      |       FLOOR(CAST(SUM(CAST(v AS HUGEINT) * (2 * CAST(c AS HUGEINT) * before
      |                    + CAST(c AS HUGEINT) * (c + 1)))
      |               - (SUM(c) + 1) * SUM(CAST(v AS HUGEINT) * c) AS DOUBLE)
      |             / CAST(SUM(c) * SUM(CAST(v AS HUGEINT) * c) AS DOUBLE)
      |             * 1e6 + 0.5) / 1e6 AS gini
      |FROM pre""".stripMargin

  /** AUC of order price as a classifier score for urgent priority —
    * the exact Mann–Whitney rank-sum with midrank tie handling, i.e.
    * `P(score⁺ > score⁻) + ½·P(tie)`.
    *
    * Per distinct score value v with p positives, q negatives and
    * `beforeNeg` negatives at smaller scores, the doubled U statistic
    * accumulates `2·p·beforeNeg + p·q` — exact longs, tie-order
    * invariant; `auc = U₂ / (2·P·Q)` is the single final division.
    *
    * Output: one row (n_pos, n_neg, auc).
    */
  def aucPriceUrgency(orders: DataFrame): DataFrame = {
    val scored = orders.select(cents(col("o_totalprice")).as("v"),
      col("o_orderpriority").isin("1-URGENT", "2-HIGH").cast("int").as("y"))
    val byVal = scored.groupBy("v").agg(
      sum(col("y")).cast("long").as("p"),
      sum(lit(1) - col("y")).cast("long").as("q"))
    // prefix of negatives over DISTINCT scores: price cents is a
    // near-continuous score, so the distinct domain is data-sized —
    // two-pass distributed prefix sum, not a Window.orderBy(v)
    // one-partition sort (oracle keeps the window twin)
    graft.operators.Packing.withRunningTotal(byVal, Seq("v"), "q", "beforeNeg")
      .agg(
        sum("p").as("n_pos"), sum("q").as("n_neg"),
        sum(col("p").cast(Dec) * col("beforeNeg").cast(Dec) * 2 +
          col("p").cast(Dec) * col("q").cast(Dec)).as("u2"))
      .select(col("n_pos"), col("n_neg"),
        fold6(col("u2").cast("double") /
          (col("n_pos").cast(Dec) * col("n_neg").cast(Dec) * 2)
            .cast("double")).as("auc"))
  }

  /** DuckDB replay of [[aucPriceUrgency]]. */
  def aucPriceUrgencyOracleSql(): String =
    """WITH scored AS (
      |  SELECT CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT) AS v,
      |         CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
      |              THEN 1 ELSE 0 END AS y
      |  FROM orders),
      |byval AS (
      |  SELECT v, SUM(y) AS p, SUM(1 - y) AS q FROM scored GROUP BY 1),
      |pre AS (
      |  SELECT p, q,
      |         COALESCE(SUM(q) OVER (ORDER BY v
      |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
      |           AS beforeNeg
      |  FROM byval)
      |SELECT CAST(SUM(p) AS BIGINT) AS n_pos,
      |       CAST(SUM(q) AS BIGINT) AS n_neg,
      |       FLOOR(CAST(SUM(2 * CAST(p AS HUGEINT) * beforeNeg
      |                       + CAST(p AS HUGEINT) * q) AS DOUBLE)
      |             / CAST(2 * SUM(p) * SUM(q) AS DOUBLE)
      |             * 1e6 + 0.5) / 1e6 AS auc
      |FROM pre""".stripMargin

  /** Mutual information (nats) between nation and market segment — the
    * categorical-association / feature-redundancy metric:
    * `MI = Σ_ij (n_ij/N)·ln(n_ij·N / (r_i·c_j))`.
    *
    * The corpus collapses to the contingency table in one combined
    * shuffle; marginals come from the table itself. Each cell's log
    * ratio is computed off exact longs and milli-quantized (`Drift`
    * discipline), the per-cell contribution `n_ij·lr_milli` sums as an
    * exact long, and `Σ/(N·10³)` is the one final division.
    *
    * Output: one row (n_cells, mi).
    */
  def mutualInfo(customer: DataFrame): DataFrame = {
    val cells = customer.groupBy(col("c_nationkey").as("a"),
        col("c_mktsegment").as("b"))
      .agg(count(lit(1)).as("nij"))
    graft.Caching.materialize(cells) // feeds cells, both marginals, N
    val ra = cells.groupBy("a").agg(sum("nij").as("ra"))
    val cb = cells.groupBy("b").agg(sum("nij").as("cb"))
    val tot = cells.agg(sum("nij").as("n"))
    cells.join(broadcast(ra), "a").join(broadcast(cb), "b")
      .crossJoin(broadcast(tot))
      .select(col("nij"),
        floor(log((col("nij").cast(Dec) * col("n").cast(Dec)).cast("double") /
          (col("ra").cast(Dec) * col("cb").cast(Dec)).cast("double")) * 1e3
          + 0.5).cast("long").as("lr_milli"),
        col("n"))
      .agg(count(lit(1)).as("n_cells"),
        sum(col("nij") * col("lr_milli")).as("num"),
        max(col("n")).as("n"))
      .select(col("n_cells"),
        fold6(col("num").cast("double") / (col("n").cast("double") * 1e3))
          .as("mi"))
  }

  /** DuckDB replay of [[mutualInfo]]. */
  def mutualInfoOracleSql(): String =
    """WITH cells AS (
      |  SELECT c_nationkey AS a, c_mktsegment AS b, COUNT(*) AS nij
      |  FROM customer GROUP BY 1, 2),
      |ra AS (SELECT a, SUM(nij) AS ra FROM cells GROUP BY 1),
      |cb AS (SELECT b, SUM(nij) AS cb FROM cells GROUP BY 1),
      |tot AS (SELECT SUM(nij) AS n FROM cells),
      |scored AS (
      |  SELECT nij,
      |         CAST(FLOOR(LN(CAST(nij * n AS DOUBLE)
      |                       / CAST(ra.ra * cb.cb AS DOUBLE)) * 1e3 + 0.5)
      |              AS BIGINT) AS lr_milli,
      |         n
      |  FROM cells JOIN ra USING (a) JOIN cb USING (b) CROSS JOIN tot)
      |SELECT CAST(COUNT(*) AS BIGINT) AS n_cells,
      |       FLOOR(CAST(SUM(nij * lr_milli) AS DOUBLE)
      |             / (CAST(MAX(n) AS DOUBLE) * 1e3) * 1e6 + 0.5) / 1e6 AS mi
      |FROM scored""".stripMargin

  /** Benford first-significant-digit audit of order totals — the
    * classic fabricated-amounts screen. The leading digit is read off
    * the CENTS integer's decimal string (leading-digit is invariant
    * under the ×100 scale shift, and integer-to-string is exact in
    * both engines — no float log10 at digit boundaries). Expected
    * shares `log10(1+1/d)` ship as the SAME ppm literals in engine and
    * oracle.
    *
    * Output: 9 rows (digit, cnt, obs_share, exp_share).
    */
  def benfordDigits(orders: DataFrame): DataFrame = {
    val c = orders.select(cents(col("o_totalprice")).as("cents"))
      .filter(col("cents") > 0)
      .select(substring(col("cents").cast("string"), 1, 1).cast("int")
        .as("digit"))
    val tot = c.agg(count(lit(1)).as("n"))
    val exp = benfordExpPpm.map { case (d, ppm) =>
      s"WHEN $d THEN ${ppm}L" }.mkString(" ")
    c.groupBy("digit").agg(count(lit(1)).as("cnt"))
      .crossJoin(broadcast(tot))
      .select(col("digit"), col("cnt"),
        fold6(col("cnt").cast("double") / col("n").cast("double"))
          .as("obs_share"),
        (expr(s"CASE digit $exp END").cast("double") / 1e6).as("exp_share"))
  }

  /** ppm literals for log10(1+1/d), d=1..9 — one shared constant table
    * so engine and oracle agree bit-for-bit by construction.
    */
  private val benfordExpPpm: Seq[(Int, Long)] = (1 to 9).map { d =>
    d -> math.floor(math.log10(1.0 + 1.0 / d) * 1e6 + 0.5).toLong
  }

  /** DuckDB replay of [[benfordDigits]]. */
  def benfordDigitsOracleSql(): String = {
    val exp = benfordExpPpm.map { case (d, ppm) =>
      s"WHEN $d THEN $ppm" }.mkString(" ")
    s"""WITH c AS (
       |  SELECT CAST(SUBSTRING(CAST(CAST(FLOOR(o_totalprice * 100 + 0.5)
       |                  AS BIGINT) AS VARCHAR), 1, 1) AS INTEGER) AS digit
       |  FROM orders
       |  WHERE CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT) > 0),
       |tot AS (SELECT COUNT(*) AS n FROM c)
       |SELECT digit, CAST(COUNT(*) AS BIGINT) AS cnt,
       |       FLOOR(CAST(COUNT(*) AS DOUBLE) / CAST(MAX(n) AS DOUBLE)
       |             * 1e6 + 0.5) / 1e6 AS obs_share,
       |       CAST(CASE digit $exp END AS DOUBLE) / 1e6 AS exp_share
       |FROM c CROSS JOIN tot
       |GROUP BY digit""".stripMargin
  }

  /** Lag-1..`maxLag` autocorrelation of the daily-revenue series — the
    * series-memory diagnostic behind seasonality/model-order choices.
    *
    * The corpus collapses to the dated daily series (bounded domain ≈
    * date span); positions come from a row_number over that bounded
    * relation. With S = Σx and n the series length, the mean-centered
    * products are cleared of the rational mean by scaling with n:
    * `num_k = Σ_t (n·x_t − S)(n·x_{t+k} − S)`, `den = Σ_t (n·x_t − S)²`
    * — all exact cents-long arithmetic in DECIMAL(38,0), one division
    * per lag.
    *
    * Output: `maxLag` rows (lag, n_pairs, acf).
    */
  def dailyAcf(orders: DataFrame, maxLag: Int = 7): DataFrame = {
    require(maxLag >= 1, "need at least one lag")
    val daily = orders
      .groupBy(col("o_orderdate").cast("date").as("d"))
      .agg(sum(cents(col("o_totalprice"))).as("x"))
    // position over the bounded daily series (GlobalRank argument)
    val wd = Window.orderBy("d")
    val series = graft.Caching.materialize(
      daily.select(row_number().over(wd).as("i"), col("x")))
    val tot = series.agg(count(lit(1)).as("n"),
      sum(col("x").cast(Dec)).as("s"))
    val centered = series.crossJoin(broadcast(tot))
      .select(col("i"),
        (col("x").cast(Dec) * col("n").cast(Dec) - col("s")).as("cx"))
    graft.Caching.materialize(centered) // both join sides + denominator
    val den = centered.agg(sum(col("cx") * col("cx")).as("den"))
    val lags = orders.sparkSession.range(1, maxLag + 1)
      .select(col("id").cast("int").as("lag"))
    val pairs = centered.crossJoin(broadcast(lags))
      .select(col("lag"), (col("i") + col("lag")).as("j"), col("cx"))
      .join(centered.select(col("i").as("j"), col("cx").as("cy")), "j")
    pairs.groupBy("lag")
      .agg(count(lit(1)).as("n_pairs"), sum(col("cx") * col("cy")).as("num"))
      .crossJoin(broadcast(den))
      .select(col("lag"), col("n_pairs"),
        fold6(col("num").cast("double") / col("den").cast("double"))
          .as("acf"))
  }

  /** DuckDB replay of [[dailyAcf]]. */
  def dailyAcfOracleSql(maxLag: Int = 7): String =
    s"""WITH daily AS (
       |  SELECT CAST(o_orderdate AS DATE) AS d,
       |         SUM(CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT)) AS x
       |  FROM orders GROUP BY 1),
       |series AS (
       |  SELECT ROW_NUMBER() OVER (ORDER BY d) AS i, x FROM daily),
       |tot AS (SELECT COUNT(*) AS n, SUM(CAST(x AS HUGEINT)) AS s FROM series),
       |centered AS (
       |  SELECT i, CAST(x AS HUGEINT) * n - s AS cx
       |  FROM series CROSS JOIN tot),
       |den AS (SELECT SUM(cx * cx) AS den FROM centered),
       |lags AS (SELECT CAST(range AS INTEGER) AS lag FROM range(1, ${maxLag + 1}))
       |SELECT lag, CAST(COUNT(*) AS BIGINT) AS n_pairs,
       |       FLOOR(CAST(SUM(a.cx * b.cx) AS DOUBLE)
       |             / CAST(MAX(den.den) AS DOUBLE) * 1e6 + 0.5) / 1e6 AS acf
       |FROM centered a CROSS JOIN lags
       |JOIN centered b ON b.i = a.i + lag
       |CROSS JOIN den
       |GROUP BY lag""".stripMargin

  /** Decile lift / gains table — the standard model-eval report for a
    * ranking score: bucket the population into `k` score deciles (best
    * score first), report per decile the response rate, the lift over
    * the base rate, and the cumulative capture (gains). Here the score
    * is the customer's account balance and the response is "placed at
    * least one order" — the shape any propensity model evaluation takes.
    *
    * Decile assignment is exact NTILE(k) over the total order
    * (balance desc, custkey) via the scalable range-partitioned
    * [[graft.operators.GlobalRank.ntileByRange]] (no data-sized window
    * partition); counts are exact longs; each reported ratio is one
    * IEEE division of exact integers folded to 1e-6 — bit-identical to
    * the oracle's NTILE window replay.
    *
    * Scale: one semi-join-shaped label join keyed on custkey, the
    * ntile's range exchange, then everything runs on the k-row decile
    * relation (bounded-domain window rationale).
    *
    * Output: (decile, n, n_pos, pos_rate, lift, cum_gain).
    */
  def decileLift(customer: DataFrame, orders: DataFrame, k: Int = 10): DataFrame = {
    require(k >= 2, "need at least two buckets")
    val scored = customer
      .select(col("c_custkey"), cents(col("c_acctbal")).as("v"))
      .join(orders.select(col("o_custkey")).distinct(),
        col("c_custkey") === col("o_custkey"), "left")
      .select(col("c_custkey"), col("v"),
        col("o_custkey").isNotNull.cast("long").as("y"))
    val tiled = graft.operators.GlobalRank.ntileByRange(
      scored.withColumn("negv", -col("v")),
      k, Seq("negv", "c_custkey"), "decile")
    val per = tiled.groupBy("decile")
      .agg(count(lit(1)).as("n"), sum("y").as("n_pos"))
    val w = Window.orderBy("decile")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val tot = per.agg(sum("n").as("nt"), sum("n_pos").as("pt"))
    per.withColumn("cum_pos", sum("n_pos").over(w))
      .crossJoin(broadcast(tot))
      .select(col("decile"), col("n"), col("n_pos"),
        fold6(col("n_pos").cast("double") / col("n").cast("double")).as("pos_rate"),
        // zero positives anywhere → base rate 0: report 0 lift/gain
        // (explicit guard: ANSI mode makes /0 an error, not a null)
        when(col("pt") === 0, 0.0)
          .otherwise(fold6((col("n_pos") * col("nt")).cast("double") /
            (col("n") * col("pt")).cast("double"))).as("lift"),
        when(col("pt") === 0, 0.0)
          .otherwise(fold6(col("cum_pos").cast("double") / col("pt").cast("double")))
          .as("cum_gain"))
  }

  /** Leave-one-out mean-target encoding — the standard high-cardinality
    * categorical feature encoder for tabular models, with the
    * self-exclusion that prevents target leakage (each row's encoding is
    * the mean of the OTHER rows in its category; Micci-Barreca, SIGKDD
    * Explorations 2001): enc(i) = (S_c − y_i) / (n_c − 1), falling back
    * to the global mean for singleton categories (self-exclusion leaves
    * no data).
    *
    * Exactness: targets fold to integer cents; per-category sums and the
    * global sum are exact longs; each row's encoding is ONE IEEE
    * division of exact integers folded to 1e-6.
    *
    * Scale: one map-side-combined hash agg to the category relation
    * (tiny — broadcast back), plus a row-local expression; no windows,
    * no per-row state. A data-sized category domain would broadcast-fail
    * loudly — switch the join to a plain shuffle join then.
    *
    * Output: (o_orderkey, o_orderpriority, target_cents, loo_enc).
    */
  def targetEncoding(orders: DataFrame): DataFrame = {
    val rows = orders.select(col("o_orderkey"), col("o_orderpriority"),
      cents(col("o_totalprice")).as("y"))
    val perCat = rows.groupBy("o_orderpriority")
      .agg(sum("y").as("sc"), count(lit(1)).as("nc"))
    val global = rows.agg(sum("y").as("sg"), count(lit(1)).as("ng"))
    rows
      .join(broadcast(perCat), "o_orderpriority")
      .crossJoin(broadcast(global))
      .select(col("o_orderkey"), col("o_orderpriority"),
        col("y").as("target_cents"),
        fold6(when(col("nc") > 1,
            (col("sc") - col("y")).cast("double") / (col("nc") - 1).cast("double"))
          .otherwise(col("sg").cast("double") / col("ng").cast("double")))
          .as("loo_enc"))
  }

  /** DuckDB replay of [[targetEncoding]]. */
  def targetEncodingOracleSql(): String =
    """WITH rows_ AS (
      |  SELECT o_orderkey, o_orderpriority,
      |         CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT) AS y
      |  FROM orders),
      |per_cat AS (
      |  SELECT o_orderpriority, SUM(y) AS sc, COUNT(*) AS nc
      |  FROM rows_ GROUP BY 1),
      |tot AS (SELECT SUM(y) AS sg, COUNT(*) AS ng FROM rows_)
      |SELECT o_orderkey, r.o_orderpriority, y AS target_cents,
      |       FLOOR(CASE WHEN nc > 1
      |                  THEN CAST(sc - y AS DOUBLE) / CAST(nc - 1 AS DOUBLE)
      |                  ELSE CAST(sg AS DOUBLE) / CAST(ng AS DOUBLE) END
      |             * 1e6 + 0.5) / 1e6 AS loo_enc
      |FROM rows_ r
      |JOIN per_cat USING (o_orderpriority)
      |CROSS JOIN tot""".stripMargin

  /** Order-independent table content checksum — the anti-entropy
    * fingerprint replicas/CDC targets compare to detect divergence
    * without moving data: each row folds to a 60-bit md5-derived hash of
    * its canonical '|'-joined string form ([[graft.dedup.Dedup.md5Base60]]
    * — md5 so any engine reproduces it), and the table digest is the
    * exact DECIMAL(38,0) SUM of row hashes folded modulo 2⁶¹ back into a
    * BIGINT (the fold keeps the digest a plain long everywhere — pandas
    * silently degrades int128-ish decimals to float — and modular
    * addition still commutes). The digest is independent of row order
    * and partitioning — two tables agree iff (with ~2⁻⁶⁰ collision odds)
    * they hold the same multiset of rows.
    *
    * Scale: one map-side-combined aggregation, no shuffle beyond the
    * 1-row merge; the canonical string stays inside codegen.
    *
    * Output: one row (n_rows, checksum).
    */
  def tableChecksum(lineitem: DataFrame): DataFrame = {
    val canon = concat_ws("|",
      col("l_orderkey").cast("string"), col("l_partkey").cast("string"),
      col("l_suppkey").cast("string"), col("l_linenumber").cast("string"),
      cents(col("l_extendedprice")).cast("string"),
      col("l_shipdate").cast("date").cast("string"))
    lineitem.select(
        conv(substring(md5(canon), 1, 15), 16, 10).cast("long").as("h"))
      .agg(count(lit(1)).as("n_rows"),
        expr(s"COALESCE(CAST(SUM(CAST(h AS DECIMAL(38,0))) % ${1L << 61} AS BIGINT), 0)")
          .as("checksum"))
  }

  /** DuckDB replay of [[tableChecksum]]. */
  def tableChecksumOracleSql(): String =
    s"""SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
       |       CAST(SUM(('0x' || substring(md5(
       |         CAST(l_orderkey AS VARCHAR) || '|' ||
       |         CAST(l_partkey AS VARCHAR) || '|' ||
       |         CAST(l_suppkey AS VARCHAR) || '|' ||
       |         CAST(l_linenumber AS VARCHAR) || '|' ||
       |         CAST(CAST(FLOOR(l_extendedprice * 100 + 0.5) AS BIGINT) AS VARCHAR) || '|' ||
       |         CAST(CAST(l_shipdate AS DATE) AS VARCHAR)
       |       ), 1, 15))::BIGINT) % ${1L << 61} AS BIGINT) AS checksum
       |FROM lineitem""".stripMargin
  // (COALESCE mirror not needed above: the oracle runs on the same
  // non-empty fixture; the engine-side guard covers degenerate calls)

  /** Welch's unequal-variance t-test (Welch, Biometrika 1947) between
    * two experiment arms — the A/B-test primitive. Arms are the
    * even/odd o_orderkey halves (a deterministic stand-in for an
    * assignment column), the metric is order value in cents.
    *
    * Exactness: per-arm (n, Σx, Σx²) are exact longs/DECIMAL(38,0) from
    * one map-side-combined pass; mean, sample variance, the t statistic
    * and the Welch–Satterthwaite df are then ONE fixed double expression
    * each off those integers, folded to 1e-6 — bit-identical
    * cross-engine, partition-order independent (a streaming variance
    * would not be).
    *
    * Output: one row (n_a, n_b, mean_a, mean_b, t_stat, df).
    */
  def welchTTest(orders: DataFrame): DataFrame = {
    val g = orders.select(cents(col("o_totalprice")).as("x"),
      (col("o_orderkey") % 2 === 0).as("is_a"))
    val sums = g.agg(
      sum(when(col("is_a"), 1L).otherwise(0L)).as("na"),
      sum(when(!col("is_a"), 1L).otherwise(0L)).as("nb"),
      sum(when(col("is_a"), col("x")).otherwise(0L).cast(Dec)).as("s1a"),
      sum(when(!col("is_a"), col("x")).otherwise(0L).cast(Dec)).as("s1b"),
      sum(when(col("is_a"), col("x") * col("x")).otherwise(0L).cast(Dec)).as("s2a"),
      sum(when(!col("is_a"), col("x") * col("x")).otherwise(0L).cast(Dec)).as("s2b"))
    // sample variance via the exact-integer form: (n·Σx² − (Σx)²) / (n·(n−1))
    val na = col("na").cast("double"); val nb = col("nb").cast("double")
    val ma = col("s1a").cast("double") / na
    val mb = col("s1b").cast("double") / nb
    val va = (na * col("s2a").cast("double") -
      col("s1a").cast("double") * col("s1a").cast("double")) / (na * (na - 1))
    val vb = (nb * col("s2b").cast("double") -
      col("s1b").cast("double") * col("s1b").cast("double")) / (nb * (nb - 1))
    val sea = va / na; val seb = vb / nb
    val t = (ma - mb) / sqrt(sea + seb)
    val df = (sea + seb) * (sea + seb) /
      (sea * sea / (na - 1) + seb * seb / (nb - 1))
    sums.select(col("na").as("n_a"), col("nb").as("n_b"),
      fold6(ma / 100.0).as("mean_a"), fold6(mb / 100.0).as("mean_b"),
      fold6(t).as("t_stat"), fold6(df).as("df"))
  }

  /** DuckDB replay of [[welchTTest]] — identical expression shapes. */
  def welchTTestOracleSql(): String =
    """WITH g AS (
      |  SELECT CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT) AS x,
      |         o_orderkey % 2 = 0 AS is_a
      |  FROM orders),
      |sums AS (
      |  SELECT SUM(CASE WHEN is_a THEN 1 ELSE 0 END) AS na,
      |         SUM(CASE WHEN NOT is_a THEN 1 ELSE 0 END) AS nb,
      |         SUM(CASE WHEN is_a THEN CAST(x AS HUGEINT) ELSE 0 END) AS s1a,
      |         SUM(CASE WHEN NOT is_a THEN CAST(x AS HUGEINT) ELSE 0 END) AS s1b,
      |         SUM(CASE WHEN is_a THEN CAST(x AS HUGEINT) * x ELSE 0 END) AS s2a,
      |         SUM(CASE WHEN NOT is_a THEN CAST(x AS HUGEINT) * x ELSE 0 END) AS s2b
      |  FROM g),
      |d AS (
      |  SELECT CAST(na AS BIGINT) AS n_a, CAST(nb AS BIGINT) AS n_b,
      |         CAST(s1a AS DOUBLE) / CAST(na AS DOUBLE) AS ma,
      |         CAST(s1b AS DOUBLE) / CAST(nb AS DOUBLE) AS mb,
      |         (CAST(na AS DOUBLE) * CAST(s2a AS DOUBLE) -
      |          CAST(s1a AS DOUBLE) * CAST(s1a AS DOUBLE))
      |           / (CAST(na AS DOUBLE) * (CAST(na AS DOUBLE) - 1)) / CAST(na AS DOUBLE) AS sea,
      |         (CAST(nb AS DOUBLE) * CAST(s2b AS DOUBLE) -
      |          CAST(s1b AS DOUBLE) * CAST(s1b AS DOUBLE))
      |           / (CAST(nb AS DOUBLE) * (CAST(nb AS DOUBLE) - 1)) / CAST(nb AS DOUBLE) AS seb
      |  FROM sums)
      |SELECT n_a, n_b,
      |       FLOOR(ma / 100.0 * 1e6 + 0.5) / 1e6 AS mean_a,
      |       FLOOR(mb / 100.0 * 1e6 + 0.5) / 1e6 AS mean_b,
      |       FLOOR((ma - mb) / sqrt(sea + seb) * 1e6 + 0.5) / 1e6 AS t_stat,
      |       FLOOR((sea + seb) * (sea + seb) /
      |             (sea * sea / (n_a - 1) + seb * seb / (n_b - 1))
      |             * 1e6 + 0.5) / 1e6 AS df
      |FROM d""".stripMargin

  /** DuckDB replay of [[decileLift]]: NTILE over the identical total
    * order (ntileByRange reproduces SQL NTILE bucketing exactly).
    */
  def decileLiftOracleSql(k: Int = 10): String =
    s"""WITH scored AS (
       |  SELECT c_custkey, CAST(FLOOR(c_acctbal * 100 + 0.5) AS BIGINT) AS v,
       |         CASE WHEN c_custkey IN (SELECT o_custkey FROM orders)
       |              THEN 1 ELSE 0 END AS y
       |  FROM customer),
       |tiled AS (
       |  SELECT *, CAST(NTILE($k) OVER (ORDER BY v DESC, c_custkey)
       |                 AS INTEGER) AS decile
       |  FROM scored),
       |per AS (
       |  SELECT decile, COUNT(*) AS n, SUM(y) AS n_pos FROM tiled GROUP BY 1),
       |tot AS (SELECT SUM(n) AS nt, SUM(n_pos) AS pt FROM per),
       |cum AS (
       |  SELECT *, SUM(n_pos) OVER (ORDER BY decile
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_pos
       |  FROM per)
       |SELECT decile, CAST(n AS BIGINT) AS n, CAST(n_pos AS BIGINT) AS n_pos,
       |       FLOOR(CAST(n_pos AS DOUBLE) / CAST(n AS DOUBLE) * 1e6 + 0.5) / 1e6 AS pos_rate,
       |       CASE WHEN pt = 0 THEN 0e0
       |            ELSE FLOOR(CAST(n_pos * nt AS DOUBLE) / CAST(n * pt AS DOUBLE) * 1e6 + 0.5) / 1e6 END AS lift,
       |       CASE WHEN pt = 0 THEN 0e0
       |            ELSE FLOOR(CAST(cum_pos AS DOUBLE) / CAST(pt AS DOUBLE) * 1e6 + 0.5) / 1e6 END AS cum_gain
       |FROM cum CROSS JOIN tot""".stripMargin
}
