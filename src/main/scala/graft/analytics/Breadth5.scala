package graft.analytics

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.functions.MoneyFunctions

/** Fifth operator-breadth batch: right-censored survival analysis
  * (Kaplan–Meier product-limit + Nelson–Aalen cumulative hazard,
  * Kaplan & Meier JASA 53:457, 1958; Aalen Ann. Stat. 6:701, 1978),
  * nDCG@k retrieval evaluation (Järvelin & Kekäläinen TOIS 20:422,
  * 2002) over the BM25 ranking, probability-calibration reliability
  * bins with the Brier score (Brier Mon. Weather Rev. 78:1, 1950),
  * and position-based (U-shaped) multi-touch attribution.
  *
  * Determinism contract matches [[Breadth]]..[[Breadth4]]: every
  * cross-engine value is an exact integer (counts, micro/nano-scaled
  * integer divisions, quantized transcendental terms) until at most one
  * final IEEE expression per output column; every top-K carries a total
  * order.
  */
object Breadth5 {

  // ------------------------------------------------ survival analysis

  /** Kaplan–Meier / Nelson–Aalen table for customer time-to-repeat:
    * duration = days from a customer's FIRST order to their SECOND
    * (event), right-censored at the last observed order date for
    * one-order customers. One row per event time `t`:
    * (t_days, n_risk, d_events, c_censored, na_micro, km_surv) where
    * `na_micro` is the Nelson–Aalen cumulative hazard Σ d_i/n_i held
    * EXACT as Σ (10^12·d_i div n_i) — pure integer arithmetic, the
    * hash-compared column — and `km_surv` is the product-limit
    * Π (1 − d_i/n_i), computed as exp of a cumulative sum of
    * nano-quantized ln terms (each `floor(ln((n−d)/n)·10^9 + 0.5)` —
    * the q_psi_drift quantized-transcendental convention; products of
    * doubles have no order-independent exact form) and rounded to 1e-6.
    * Censored subjects at `t` stay in the risk set for events AT `t`
    * (the standard tie convention). If some event time exhausts the
    * risk set (n = d), survival is pinned to 0 from that time on —
    * ln(0) never evaluates.
    *
    * Same-day repeat orders are a duration-0 event (counted via the
    * first-date order multiplicity, not a strictly-greater min).
    *
    * Scale: two customer-keyed aggregates and one co-partitioned join
    * build the subject relation; the life table itself is grouped by
    * DURATION — a bounded domain (≤ observed span in days), so the
    * ordered cumulative windows run over that small relation (the
    * decileLift/rankDist convention), never over customers.
    */
  def survivalCurve(orders: DataFrame): DataFrame = {
    val firsts = orders.groupBy(col("o_custkey"))
      .agg(min(col("o_orderdate")).as("d1"))
    val per = orders.join(firsts, "o_custkey")
      .groupBy(col("o_custkey"), col("d1"))
      .agg(
        sum(when(col("o_orderdate") === col("d1"), 1L).otherwise(0L)).as("n_d1"),
        min(when(col("o_orderdate") > col("d1"), col("o_orderdate"))).as("d2after"))
    val mx = orders.agg(max(col("o_orderdate")).as("mx"))
    val subj = per.crossJoin(broadcast(mx))
      .select(
        when(col("n_d1") >= 2, lit(0))
          .when(col("d2after").isNotNull, datediff(col("d2after"), col("d1")))
          .otherwise(datediff(col("mx"), col("d1"))).cast("int").as("t"),
        (col("n_d1") >= 2 || col("d2after").isNotNull).as("event"))
    val byT = subj.groupBy("t")
      .agg(sum(when(col("event"), 1L).otherwise(0L)).as("d"),
        sum(when(col("event"), 0L).otherwise(1L)).as("c"))
    val total = subj.agg(count(lit(1)).as("n_total"))
    // ordered prefix windows over the DURATION-keyed life table (bounded
    // domain — see scaladoc); single-partition by design
    val wPrev = Window.orderBy("t").rowsBetween(Window.unboundedPreceding, -1)
    val wCum = Window.orderBy("t")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val risk = byT.crossJoin(broadcast(total))
      .withColumn("n",
        col("n_total") - coalesce(sum(col("d") + col("c")).over(wPrev), lit(0L)))
    val terms = risk.filter(col("d") >= 1)
      .withColumn("na_term", expr("cast(1000000000000 as bigint) * d div n"))
      .withColumn("ln_nano",
        when(col("n") > col("d"),
          floor(log((col("n") - col("d")).cast("double") / col("n")) * 1e9 + 0.5))
          .otherwise(lit(null)))
      .withColumn("z", when(col("n") === col("d"), 1).otherwise(0))
    terms
      .withColumn("na_micro", sum("na_term").over(wCum))
      .withColumn("ln_cum", sum(coalesce(col("ln_nano"), lit(0.0))).over(wCum))
      .withColumn("hit_zero", max("z").over(wCum))
      .select(col("t").as("t_days"), col("n").as("n_risk"),
        col("d").as("d_events"), col("c").as("c_censored"),
        col("na_micro").cast("long").as("na_micro"),
        when(col("hit_zero") === 1, lit(0.0))
          .otherwise(floor(exp(col("ln_cum") / 1e9) * 1e6 + 0.5) / 1e6)
          .as("km_surv"))
  }

  def survivalOracleSql: String =
    """WITH firsts AS (
      |  SELECT o_custkey, MIN(o_orderdate) AS d1 FROM orders GROUP BY 1),
      |per AS (
      |  SELECT o.o_custkey, f.d1,
      |         SUM(CASE WHEN o.o_orderdate = f.d1 THEN 1 ELSE 0 END) AS n_d1,
      |         MIN(CASE WHEN o.o_orderdate > f.d1 THEN o.o_orderdate END) AS d2after
      |  FROM orders o JOIN firsts f ON f.o_custkey = o.o_custkey
      |  GROUP BY 1, 2),
      |mx AS (SELECT MAX(o_orderdate) AS mx FROM orders),
      |subj AS (
      |  SELECT CAST(CASE WHEN n_d1 >= 2 THEN 0
      |              WHEN d2after IS NOT NULL THEN date_diff('day', CAST(d1 AS DATE), CAST(d2after AS DATE))
      |              ELSE date_diff('day', CAST(d1 AS DATE), CAST(mx.mx AS DATE)) END AS INTEGER) AS t,
      |         (n_d1 >= 2 OR d2after IS NOT NULL) AS event
      |  FROM per, mx),
      |byt AS (
      |  SELECT t, SUM(CASE WHEN event THEN 1 ELSE 0 END) AS d,
      |         SUM(CASE WHEN event THEN 0 ELSE 1 END) AS c
      |  FROM subj GROUP BY 1),
      |risk AS (
      |  SELECT t, d, c,
      |         (SELECT COUNT(*) FROM subj) -
      |           COALESCE(SUM(d + c) OVER (ORDER BY t
      |             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS n
      |  FROM byt),
      |terms AS (
      |  SELECT t, n, d, c,
      |         1000000000000 * d // n AS na_term,
      |         CASE WHEN n > d THEN
      |           floor(ln(CAST(n - d AS DOUBLE) / n) * 1e9 + 0.5) END AS ln_nano,
      |         CASE WHEN n = d THEN 1 ELSE 0 END AS z
      |  FROM risk WHERE d >= 1),
      |cum AS (
      |  SELECT t, n, d, c,
      |         SUM(na_term) OVER w AS na_micro,
      |         SUM(COALESCE(ln_nano, 0.0)) OVER w AS ln_cum,
      |         MAX(z) OVER w AS hit_zero
      |  FROM terms
      |  WINDOW w AS (ORDER BY t ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
      |SELECT CAST(t AS INTEGER) AS t_days, CAST(n AS BIGINT) AS n_risk,
      |       CAST(d AS BIGINT) AS d_events, CAST(c AS BIGINT) AS c_censored,
      |       CAST(na_micro AS BIGINT) AS na_micro,
      |       CASE WHEN hit_zero = 1 THEN 0.0
      |            ELSE floor(exp(CAST(ln_cum AS DOUBLE) / 1e9) * 1e6 + 0.5) / 1e6
      |       END AS km_surv
      |FROM cum""".stripMargin

  // ------------------------------------------------ nDCG@k

  /** Rank-discount weights 1/log2(r+1) for ranks 1..10, pre-quantized
    * to nano units as LITERALS shared verbatim with the oracle's VALUES
    * table — no transcendental evaluates in either engine, so there is
    * no libm-parity surface at all.
    */
  private val DiscountNano: Seq[Long] = Seq(
    1000000000L, 630929754L, 500000000L, 430676558L, 386852807L,
    356207187L, 333333333L, 315464877L, 301029996L, 289064826L)

  /** nDCG@k of the BM25 ranking ([[graft.text.Bm25.topK]]) against
    * deterministic graded relevance: for query document q and candidate
    * d, rel = 3 if same source AND language, 2 same source, 1 same
    * language, 0 otherwise (self excluded). Gains are 2^rel − 1
    * (the burst-gain form of Burges et al. ICML'05); DCG@k sums
    * gain·w_r with the fixed nano-quantized discounts above, IDCG@k
    * rearranges the per-level relevance COUNTS into the ideal prefix —
    * both exact BIGINT sums; nDCG is ONE IEEE division per query
    * (0 when a query has no relevant documents at all).
    *
    * Scale: the ranking is the BM25 inverted-index join; relevance
    * judging joins the nQueries-row broadcast query-attribute relation
    * against the corpus once (O(corpus × nQueries)); IDCG needs only
    * per-level counts — never a global sort of the corpus per query.
    */
  def ndcgAtK(documents: DataFrame, k: Int = 10, nQueries: Int = 10): DataFrame = {
    require(k >= 1 && k <= DiscountNano.size, s"k must be in 1..${DiscountNano.size}")
    val ranked = graft.text.Bm25.topK(documents, k, nQueries)
      .select(col("query_id"), col("doc_id"), col("rank"))
    val attrs = documents.select(col("doc_id"), col("source"), col("lang"))
    val qa = attrs.filter(col("doc_id") < nQueries)
      .select(col("doc_id").as("query_id"), col("source").as("q_source"),
        col("lang").as("q_lang"))
    val relExpr: Column =
      when(col("source") === col("q_source") && col("lang") === col("q_lang"), 3)
        .when(col("source") === col("q_source"), 2)
        .when(col("lang") === col("q_lang"), 1)
        .otherwise(0)
    val gainOf: Column => Column = r =>
      when(r === 3, 7L).when(r === 2, 3L).when(r === 1, 1L).otherwise(0L)
    // all (candidate, query) judgments: corpus × nQueries, query side
    // broadcast — materialized because TWO independent subtrees (the
    // DCG join and the per-level counts) consume the expansion
    val judged = graft.Caching.materialize(
      attrs.join(broadcast(qa), col("doc_id") =!= col("query_id"))
        .select(col("query_id"), col("doc_id"), relExpr.as("rel")))
    val wArr = array(DiscountNano.take(k).map(lit): _*)
    val dcg = ranked
      .join(judged, Seq("query_id", "doc_id"))
      .groupBy("query_id")
      .agg(sum(gainOf(col("rel")) * element_at(wArr, col("rank"))).as("dcg_nano"))
    val levelCounts = judged.groupBy("query_id")
      .agg(sum(when(col("rel") === 3, 1L).otherwise(0L)).as("c3"),
        sum(when(col("rel") === 2, 1L).otherwise(0L)).as("c2"),
        sum(when(col("rel") === 1, 1L).otherwise(0L)).as("c1"))
    val ranks = (1 to k).foldLeft(Seq.empty[Int])((a, r) => a :+ r)
    val rankRel = levelCounts
      .select(col("query_id"), col("c3"), col("c2"), col("c1"),
        explode(array(ranks.map(lit): _*)).as("r"))
    val idealRel =
      when(col("r") <= col("c3"), 3)
        .when(col("r") <= col("c3") + col("c2"), 2)
        .when(col("r") <= col("c3") + col("c2") + col("c1"), 1)
        .otherwise(0)
    val idcg = rankRel
      .groupBy("query_id")
      .agg(sum(gainOf(idealRel) * element_at(wArr, col("r"))).as("idcg_nano"))
    idcg.join(dcg, Seq("query_id"), "left_outer")
      .select(col("query_id"),
        coalesce(col("dcg_nano"), lit(0L)).as("dcg_nano"),
        col("idcg_nano"),
        when(col("idcg_nano") > 0,
          coalesce(col("dcg_nano"), lit(0L)).cast("double") / col("idcg_nano"))
          .otherwise(lit(0.0)).as("ndcg"))
  }

  /** DuckDB twin of [[ndcgAtK]]: the BM25 replay as a subquery (the
    * caller passes the text_bm25_topk oracle at depth k), the SAME
    * literal discount VALUES table, and count-rearranged IDCG.
    */
  def ndcgOracleSql(bm25Sql: String, k: Int = 10, nQueries: Int = 10): String = {
    require(k >= 1 && k <= DiscountNano.size, s"k must be in 1..${DiscountNano.size}")
    val values = DiscountNano.take(k).zipWithIndex
      .map { case (w, i) => s"(${i + 1}, ${w})" }.mkString(", ")
    s"""WITH rk AS (SELECT query_id, doc_id, rank FROM ($bm25Sql) b),
      |w(r, w_nano) AS (VALUES $values),
      |qa AS (SELECT doc_id AS query_id, source AS q_source, lang AS q_lang
      |       FROM documents WHERE doc_id < $nQueries),
      |judged AS (
      |  SELECT q.query_id, d.doc_id,
      |         CASE WHEN d.source = q.q_source AND d.lang = q.q_lang THEN 3
      |              WHEN d.source = q.q_source THEN 2
      |              WHEN d.lang = q.q_lang THEN 1 ELSE 0 END AS rel
      |  FROM documents d JOIN qa q ON d.doc_id <> q.query_id),
      |dcg AS (
      |  SELECT rk.query_id,
      |         SUM((CASE j.rel WHEN 3 THEN 7 WHEN 2 THEN 3 WHEN 1 THEN 1
      |              ELSE 0 END) * CAST(w.w_nano AS BIGINT)) AS dcg_nano
      |  FROM rk JOIN judged j ON j.query_id = rk.query_id AND j.doc_id = rk.doc_id
      |          JOIN w ON w.r = rk.rank
      |  GROUP BY 1),
      |lc AS (
      |  SELECT query_id,
      |         SUM(CASE WHEN rel = 3 THEN 1 ELSE 0 END) AS c3,
      |         SUM(CASE WHEN rel = 2 THEN 1 ELSE 0 END) AS c2,
      |         SUM(CASE WHEN rel = 1 THEN 1 ELSE 0 END) AS c1
      |  FROM judged GROUP BY 1),
      |ideal AS (
      |  SELECT lc.query_id,
      |         SUM((CASE WHEN w.r <= lc.c3 THEN 7
      |                   WHEN w.r <= lc.c3 + lc.c2 THEN 3
      |                   WHEN w.r <= lc.c3 + lc.c2 + lc.c1 THEN 1
      |              ELSE 0 END) * CAST(w.w_nano AS BIGINT)) AS idcg_nano
      |  FROM lc CROSS JOIN w GROUP BY 1)
      |SELECT i.query_id,
      |       CAST(COALESCE(d.dcg_nano, 0) AS BIGINT) AS dcg_nano,
      |       CAST(i.idcg_nano AS BIGINT) AS idcg_nano,
      |       CASE WHEN i.idcg_nano > 0
      |            THEN CAST(COALESCE(d.dcg_nano, 0) AS DOUBLE) / i.idcg_nano
      |            ELSE 0.0 END AS ndcg
      |FROM ideal i LEFT JOIN dcg d ON d.query_id = i.query_id""".stripMargin
  }

  // ------------------------------------------------ MAP@k / MRR

  /** MAP@k and MRR companions to [[ndcgAtK]] over the same BM25 ranking
    * with BINARY relevance (candidate shares the query document's
    * source; self excluded). Per query: the corpus-wide relevant count
    * R, hits in the top k, the first relevant rank, reciprocal rank as
    * the exact integer `10^9 div first_rank`, and average precision
    * AP@k = (Σ_{hit at rank i} P@i) / min(R, k) with each precision
    * contribution the exact integer `(10^9·hits_≤i) div i` and ONE
    * outer integer division — no IEEE arithmetic anywhere, so the whole
    * row hash-compares as integers (queries with R = 0 score 0).
    *
    * Scale: the judging join is the same corpus × nQueries broadcast as
    * nDCG; the precision prefix runs in a per-query window over ≤ k
    * rows. MAP itself is the mean of ap_nano over queries — left to the
    * caller, since the per-query rows are the informative artifact.
    */
  def mapMrrAtK(documents: DataFrame, k: Int = 10, nQueries: Int = 10): DataFrame = {
    val ranked = graft.text.Bm25.topK(documents, k, nQueries)
      .select(col("query_id"), col("doc_id"), col("rank"))
    val attrs = documents.select(col("doc_id"), col("source"))
    val qa = attrs.filter(col("doc_id") < nQueries)
      .select(col("doc_id").as("query_id"), col("source").as("q_source"))
    // two consumers (relevant-count aggregate and the ranked join) —
    // same materialization rationale as ndcgAtK's judged
    val judged = graft.Caching.materialize(
      attrs.join(broadcast(qa), col("doc_id") =!= col("query_id"))
        .select(col("query_id"), col("doc_id"),
          (col("source") === col("q_source")).as("relevant")))
    val rTotal = judged.groupBy("query_id")
      .agg(sum(when(col("relevant"), 1L).otherwise(0L)).as("n_relevant"))
    val w = Window.partitionBy("query_id").orderBy("rank")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val hits = ranked.join(judged, Seq("query_id", "doc_id"))
      .withColumn("hits_so_far",
        sum(when(col("relevant"), 1L).otherwise(0L)).over(w))
      .filter(col("relevant"))
      .groupBy("query_id")
      .agg(count(lit(1)).as("n_hits"), min("rank").as("first_rank"),
        sum(expr("cast(1000000000 as bigint) * hits_so_far div rank"))
          .as("prec_sum_nano"))
    rTotal.join(hits, Seq("query_id"), "left_outer")
      .select(col("query_id"), col("n_relevant"),
        coalesce(col("n_hits"), lit(0L)).as("n_hits"),
        coalesce(col("first_rank"), lit(0)).cast("int").as("first_rank"),
        when(col("first_rank").isNotNull,
          expr("cast(1000000000 as bigint) div first_rank"))
          .otherwise(lit(0L)).as("mrr_nano"),
        when(col("n_relevant") > 0,
          expr(s"coalesce(prec_sum_nano, cast(0 as bigint)) div " +
            s"least(n_relevant, cast($k as bigint))"))
          .otherwise(lit(0L)).as("ap_nano"))
  }

  /** DuckDB twin of [[mapMrrAtK]]: the BM25 replay as a subquery, the
    * same integer-division precision prefix.
    */
  def mapMrrOracleSql(bm25Sql: String, k: Int = 10, nQueries: Int = 10): String =
    s"""WITH rk AS (SELECT query_id, doc_id, rank FROM ($bm25Sql) b),
      |qa AS (SELECT doc_id AS query_id, source AS q_source
      |       FROM documents WHERE doc_id < $nQueries),
      |judged AS (
      |  SELECT q.query_id, d.doc_id, d.source = q.q_source AS relevant
      |  FROM documents d JOIN qa q ON d.doc_id <> q.query_id),
      |rt AS (
      |  SELECT query_id,
      |         CAST(SUM(CASE WHEN relevant THEN 1 ELSE 0 END) AS BIGINT)
      |           AS n_relevant
      |  FROM judged GROUP BY 1),
      |pref AS (
      |  SELECT rk.query_id, rk.rank, j.relevant,
      |         SUM(CASE WHEN j.relevant THEN 1 ELSE 0 END) OVER (
      |           PARTITION BY rk.query_id ORDER BY rk.rank
      |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
      |           AS hits_so_far
      |  FROM rk JOIN judged j
      |    ON j.query_id = rk.query_id AND j.doc_id = rk.doc_id),
      |h AS (
      |  SELECT query_id, COUNT(*) AS n_hits, MIN(rank) AS first_rank,
      |         SUM(1000000000 * hits_so_far // rank) AS prec_sum_nano
      |  FROM pref WHERE relevant GROUP BY 1)
      |SELECT rt.query_id, rt.n_relevant,
      |       CAST(COALESCE(h.n_hits, 0) AS BIGINT) AS n_hits,
      |       CAST(COALESCE(h.first_rank, 0) AS INTEGER) AS first_rank,
      |       CAST(CASE WHEN h.first_rank IS NOT NULL
      |            THEN 1000000000 // h.first_rank ELSE 0 END AS BIGINT)
      |         AS mrr_nano,
      |       CAST(CASE WHEN rt.n_relevant > 0
      |            THEN COALESCE(h.prec_sum_nano, 0)
      |                 // LEAST(rt.n_relevant, $k) ELSE 0 END AS BIGINT)
      |         AS ap_nano
      |FROM rt LEFT JOIN h ON h.query_id = rt.query_id""".stripMargin

  // ------------------------------------------------ calibration / Brier

  /** Reliability (calibration) table of a deterministic score against
    * the repeat-purchaser label: the score is the customer's account
    * balance min-max-normalized to ppm (exact integer division over
    * exact cents), the label is 1 iff the customer placed ≥ 2 orders.
    * Rows are the `bins` equal-width score bins (bin id by integer
    * division — no float floor); each row carries the bin's size,
    * positive count, mean score and positive rate (ONE IEEE division
    * each), plus the global Brier score Σ(p − y)²/n computed from the
    * exact DECIMAL(38,0) sum of squared ppm residuals (one IEEE
    * division at the end).
    *
    * Scale: one global min/max aggregate (broadcast back), one
    * customer-keyed order count, one hash agg to `bins` rows. Nothing
    * data-sized after the first aggregates.
    */
  def calibrationBins(customer: DataFrame, orders: DataFrame,
                      bins: Int = 10): DataFrame = {
    require(bins >= 2, "need at least two bins")
    val cents = customer.select(col("c_custkey"),
      MoneyFunctions.cents(col("c_acctbal")).as("cents"))
    val bounds = cents.agg(min("cents").as("mn"), max("cents").as("mx"))
    val nOrders = orders.groupBy(col("o_custkey")).agg(count(lit(1)).as("n_ord"))
    val scored = cents
      .join(nOrders, col("c_custkey") === col("o_custkey"), "left")
      .crossJoin(broadcast(bounds))
      .select(
        expr(s"(cents - mn) * $bins div (mx - mn + 1)").as("bin"),
        expr("(cents - mn) * 1000000 div (mx - mn)").as("score_ppm"),
        when(coalesce(col("n_ord"), lit(0L)) >= 2, 1L).otherwise(0L).as("y"))
    val d38 = DecimalType(38, 0)
    val resid = (col("score_ppm") - lit(1000000L) * col("y")).cast(d38)
    val overall = scored.agg(count(lit(1)).as("n_all"),
      sum(resid * resid).as("sq_sum"))
    scored.groupBy("bin")
      .agg(count(lit(1)).as("n_customers"), sum("y").as("n_pos"),
        sum(col("score_ppm").cast(d38)).as("score_sum"))
      .crossJoin(broadcast(overall))
      .select(col("bin").cast("int").as("bin"), col("n_customers"), col("n_pos"),
        (col("score_sum").cast("double") / (col("n_customers") * 1.0e6))
          .as("mean_score"),
        (col("n_pos").cast("double") / col("n_customers")).as("pos_rate"),
        (col("sq_sum").cast("double") / (col("n_all") * 1.0e12)).as("brier"))
  }

  def calibrationOracleSql(bins: Int = 10): String =
    s"""WITH cents AS (
      |  SELECT c_custkey,
      |         CAST(CAST(c_acctbal AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents
      |  FROM customer),
      |bounds AS (SELECT MIN(cents) AS mn, MAX(cents) AS mx FROM cents),
      |no AS (SELECT o_custkey, COUNT(*) AS n_ord FROM orders GROUP BY 1),
      |scored AS (
      |  SELECT (c.cents - b.mn) * $bins // (b.mx - b.mn + 1) AS bin,
      |         (c.cents - b.mn) * 1000000 // (b.mx - b.mn) AS score_ppm,
      |         CASE WHEN COALESCE(no.n_ord, 0) >= 2 THEN 1 ELSE 0 END AS y
      |  FROM cents c LEFT JOIN no ON no.o_custkey = c.c_custkey
      |  CROSS JOIN bounds b),
      |overall AS (
      |  SELECT COUNT(*) AS n_all,
      |         SUM(CAST(score_ppm - 1000000 * y AS HUGEINT) *
      |             CAST(score_ppm - 1000000 * y AS HUGEINT)) AS sq_sum
      |  FROM scored)
      |SELECT CAST(s.bin AS INTEGER) AS bin,
      |       COUNT(*) AS n_customers,
      |       CAST(SUM(s.y) AS BIGINT) AS n_pos,
      |       CAST(SUM(CAST(s.score_ppm AS HUGEINT)) AS DOUBLE)
      |         / (COUNT(*) * 1e6) AS mean_score,
      |       CAST(SUM(s.y) AS DOUBLE) / COUNT(*) AS pos_rate,
      |       CAST(o.sq_sum AS DOUBLE) / (o.n_all * 1e12) AS brier
      |FROM scored s CROSS JOIN overall o
      |GROUP BY s.bin, o.sq_sum, o.n_all""".stripMargin

  // ------------------------------------------------ position attribution

  /** Position-based (U-shaped) multi-touch attribution of each user's
    * FIRST purchase: the touches (non-purchase events) strictly
    * preceding it in (ts, event_id) order share the credit 40/20/40 —
    * first touch 400 000 micros, last 400 000, each middle touch
    * `200000 div (n−2)` (integer division; the sub-micro remainder is
    * dropped, documented). One-touch paths take the full 1 000 000;
    * two-touch paths split 500 000/500 000; purchases with no prior
    * touch credit the "(none)" channel. Credited value is
    * credit × purchase cents — an exact micro-cent BIGINT.
    * Output per channel: (channel, n_credits, credited_micro_cents).
    *
    * Scale: two user-partitioned row windows (first-purchase pick,
    * touch ranking) and one channel-bounded aggregate — the same
    * per-user window shape as touchAttribution; no per-purchase × touch
    * quadratic blowup because only the FIRST purchase is attributed.
    */
  def positionAttribution(events: DataFrame): DataFrame = {
    val wp = Window.partitionBy("user_id").orderBy("ts", "event_id")
    val firstPurchase = events.filter(col("event_type") === "purchase")
      .withColumn("rn", row_number().over(wp))
      .filter(col("rn") === 1)
      .select(col("user_id"), col("ts").as("p_ts"), col("event_id").as("p_eid"),
        MoneyFunctions.cents(col("value")).as("p_cents"))
    val touches = events.filter(col("event_type") =!= "purchase")
      .join(firstPurchase, Seq("user_id"))
      .filter(col("ts") < col("p_ts") ||
        (col("ts") === col("p_ts") && col("event_id") < col("p_eid")))
    val wt = Window.partitionBy("user_id").orderBy("ts", "event_id")
    val wn = Window.partitionBy("user_id")
    val credited = touches
      .withColumn("rnk", row_number().over(wt))
      .withColumn("n", count(lit(1)).over(wn))
      .select(col("event_type").as("channel"), col("p_cents"),
        when(col("n") === 1, 1000000L)
          .when(col("rnk") === 1 || col("rnk") === col("n"),
            when(col("n") === 2, 500000L).otherwise(400000L))
          .otherwise(expr("cast(200000 as bigint) div (n - 2)")).as("credit"))
    val noTouch = firstPurchase
      .join(touches.select(col("user_id")).distinct(), Seq("user_id"), "left_anti")
      .select(lit("(none)").as("channel"), col("p_cents"),
        lit(1000000L).as("credit"))
    credited.unionByName(noTouch)
      .groupBy("channel")
      .agg(count(lit(1)).as("n_credits"),
        sum(col("credit") * col("p_cents")).as("credited_micro_cents"))
  }

  def positionAttributionOracleSql: String =
    """WITH fp AS (
      |  SELECT user_id, ts AS p_ts, event_id AS p_eid,
      |         CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS p_cents
      |  FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id
      |          ORDER BY ts, event_id) AS rn
      |        FROM events WHERE event_type = 'purchase') t
      |  WHERE rn = 1),
      |touch AS (
      |  SELECT e.user_id, e.event_type AS channel, fp.p_cents,
      |         ROW_NUMBER() OVER (PARTITION BY e.user_id
      |           ORDER BY e.ts, e.event_id) AS rnk,
      |         COUNT(*) OVER (PARTITION BY e.user_id) AS n
      |  FROM events e JOIN fp ON fp.user_id = e.user_id
      |  WHERE e.event_type <> 'purchase'
      |    AND (e.ts < fp.p_ts OR (e.ts = fp.p_ts AND e.event_id < fp.p_eid))),
      |credited AS (
      |  SELECT channel, p_cents,
      |         CASE WHEN n = 1 THEN 1000000
      |              WHEN rnk = 1 OR rnk = n THEN
      |                CASE WHEN n = 2 THEN 500000 ELSE 400000 END
      |              ELSE 200000 // (n - 2) END AS credit
      |  FROM touch
      |  UNION ALL
      |  SELECT '(none)' AS channel, fp.p_cents, 1000000 AS credit
      |  FROM fp ANTI JOIN (SELECT DISTINCT user_id FROM touch) tu
      |    ON tu.user_id = fp.user_id)
      |SELECT channel, COUNT(*) AS n_credits,
      |       CAST(SUM(CAST(credit AS BIGINT) * p_cents) AS BIGINT)
      |         AS credited_micro_cents
      |FROM credited GROUP BY 1""".stripMargin
}
