package graft.text

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** BM25 lexical search (Robertson/Spärck Jones; the Okapi BM25 ranking
  * function every search engine ships) over the documents corpus —
  * the sparse/lexical counterpart of the dense-vector ANN tier.
  *
  * Determinism scheme (what makes this oracle-checkable):
  *  - Per-(doc, token) BM25 term scores end in `floor(x·10⁶ + 0.5)`
  *    micro-unit LONGS — the only float risk is ln()'s last ulp, pinned
  *    by the same round-then-integerize pattern the ANN cosines use.
  *  - Per-(query, doc) totals are SUMS OF LONGS — exact and
  *    order-independent, so partial-aggregation order (and engine) can't
  *    move a score. The final score divides once by 10⁶.
  *  - Ranking ties break on doc_id.
  *
  * Scale shape: term scores are one hash-agg over the token explosion;
  * corpus stats (N, avgdl) are a broadcast scalar; query terms (a
  * benchmark-sized relation) broadcast against the posting relation, so
  * the only large shuffle is the (query, doc) score aggregation, keyed
  * fine. Hot-token skew is the classic inverted-index trade: cap df or
  * drop stop-tokens upstream for adversarial corpora.
  */
object Bm25 {

  val K1 = 1.2
  val B = 0.75

  /** Unigram language-model scoring (the CCNet-style perplexity quality
    * filter, with a unigram LM in place of the 5-gram KenLM): every
    * document scored by its average token log-probability under a
    * Laplace-smoothed unigram model of the corpus itself. Low scores =
    * improbable token distributions = boilerplate/garbage candidates.
    *
    * Same determinism scheme as [[topK]]: per-token ln(p) pinned to
    * `floor(x·10⁶ + 0.5)` micro-longs (works for negatives — half
    * toward +∞ in both engines), per-doc totals exact long sums, one
    * final division. The model is the (token, count) relation + two
    * scalars (N, V) — broadcast model state, corpus streams once to
    * build it and once to score.
    */
  def unigramLogprob(documents: DataFrame): DataFrame = {
    val toks = documents
      .select(col("doc_id"), explode(split(trim(col("text")), "\\s+")).as("raw"))
      .filter(col("raw") =!= "")
      .select(col("doc_id"), lower(col("raw")).as("token"))
    val counts = toks.groupBy("token").agg(count(lit(1)).as("c"))
    val stats = counts.agg(sum(col("c")).as("n_total"),
      count(lit(1)).as("v_size"))
    val tokMicro = floor(
      log((col("c") + 1.0) / (col("n_total") + col("v_size"))) * 1.0e6 + 0.5)
      .cast("long")
    val scored = toks
      .join(broadcast(counts), "token")
      .crossJoin(broadcast(stats))
      .select(col("doc_id"), tokMicro.as("lp_micro"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_tokens"), sum(col("lp_micro")).as("lp_sum_micro"))
    documents.select(col("doc_id")).join(scored, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_tokens"), lit(0L)).as("n_tokens"),
        coalesce(col("lp_sum_micro"), lit(0L)).as("lp_sum_micro"),
        when(col("n_tokens").isNull || col("n_tokens") === 0, lit(0.0))
          .otherwise(col("lp_sum_micro").cast("double") /
            (col("n_tokens") * 1000000.0))
          .as("avg_logprob"))
  }

  /** Interpolated Kneser–Ney bigram LM scoring (Chen & Goodman 1998; the
    * n=2 case with absolute discount D=0.75):
    *   p(w|prev) = (c(prev,w) − D)/c(prev)
    *             + D·N1+(prev,·)/c(prev) · N1+(·,w)/|bigram types|
    * — the continuation-probability backoff that makes KN the standard
    * n-gram smoothing (every observed bigram has c ≥ 1 > D, so the
    * max(c−D, 0) clamp never binds on the training corpus itself; this
    * scores the corpus under its own model, the CCNet-style quality
    * signal [[unigramLogprob]] computes for unigrams).
    *
    * Determinism contract: the per-bigram logprob is quantized to
    * micro-longs with the exact expression shape mirrored in the oracle
    * (all divisions forced double via explicit casts; 0.75 is binary-
    * exact), and per-doc sums are exact integer folds.
    *
    * Scale shape: bigram expansion is row-local; three hash aggregations
    * over the (materialized) bigram-count relation — which feeds three
    * consumer subtrees, hence the explicit materialize — plus two
    * equi-joins back and one broadcast 1-row stats relation. Model state
    * never leaves the cluster.
    */
  def knBigramLogprob(documents: DataFrame): DataFrame = {
    val ta = documents.select(col("doc_id"),
      expr("transform(filter(split(trim(text), '\\\\s+'), x -> x <> ''), " +
        "x -> lower(x))").as("t"))
      .filter(size(col("t")) >= 2)
    val bg = ta.select(col("doc_id"),
      explode(expr(
        "transform(sequence(1, size(t) - 1), i -> struct(t[i-1] AS prev, t[i] AS w))"))
        .as("b"))
      .select(col("doc_id"), col("b.prev").as("prev"), col("b.w").as("w"))
    val cbg = graft.Caching.materialize(
      bg.groupBy("prev", "w").agg(count(lit(1)).as("c_bg")))
    val cprev = cbg.groupBy("prev")
      .agg(sum("c_bg").as("c_prev"), count(lit(1)).as("n1p_prev"))
    val cw = cbg.groupBy("w").agg(count(lit(1)).as("n1p_w"))
    val types = cbg.agg(count(lit(1)).as("n_types"))
    val lpMicro = floor(log(
      (col("c_bg").cast("double") - 0.75) / col("c_prev") +
        ((lit(0.75) * col("n1p_prev").cast("double")) / col("c_prev")) *
          (col("n1p_w").cast("double") / col("n_types"))) * 1.0e6 + 0.5)
      .cast("long")
    val lp = cbg.join(cprev, "prev").join(cw, "w").crossJoin(broadcast(types))
      .select(col("prev"), col("w"), lpMicro.as("lp_micro"))
    val perDoc = bg.join(lp, Seq("prev", "w"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_bigrams"), sum("lp_micro").as("kn_sum_micro"))
    documents.select(col("doc_id")).join(perDoc, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_bigrams"), lit(0L)).as("n_bigrams"),
        coalesce(col("kn_sum_micro"), lit(0L)).as("kn_sum_micro"),
        when(col("n_bigrams").isNull || col("n_bigrams") === 0, lit(0.0))
          .otherwise(col("kn_sum_micro").cast("double") /
            (col("n_bigrams") * 1000000.0))
          .as("avg_kn_logprob"))
  }

  /** DuckDB twin of [[knBigramLogprob]] — identical expression shape,
    * every division forced double by the same explicit casts.
    */
  def knBigramOracleSql: String =
    """WITH ta AS (
      |  SELECT doc_id,
      |         list_transform(list_filter(regexp_split_to_array(trim(text), '\s+'),
      |           x -> x <> ''), x -> lower(x)) AS t
      |  FROM documents),
      |bgs AS (
      |  SELECT doc_id,
      |         unnest(list_transform(range(1, len(t)), i -> {'prev': t[i], 'w': t[i+1]})) AS b
      |  FROM ta WHERE len(t) >= 2),
      |bgf AS (SELECT doc_id, b.prev AS prev, b.w AS w FROM bgs),
      |cbg AS (SELECT prev, w, COUNT(*) AS c_bg FROM bgf GROUP BY 1, 2),
      |cprev AS (SELECT prev, CAST(SUM(c_bg) AS BIGINT) AS c_prev,
      |                 COUNT(*) AS n1p_prev
      |          FROM cbg GROUP BY 1),
      |cw AS (SELECT w, COUNT(*) AS n1p_w FROM cbg GROUP BY 1),
      |types AS (SELECT COUNT(*) AS n_types FROM cbg),
      |lp AS (
      |  SELECT cbg.prev, cbg.w,
      |         CAST(floor(ln(
      |           (CAST(c_bg AS DOUBLE) - 0.75) / c_prev +
      |           ((0.75 * CAST(n1p_prev AS DOUBLE)) / c_prev) *
      |             (CAST(n1p_w AS DOUBLE) / n_types)) * 1000000.0 + 0.5) AS BIGINT)
      |           AS lp_micro
      |  FROM cbg JOIN cprev USING (prev) JOIN cw USING (w) CROSS JOIN types),
      |perdoc AS (
      |  SELECT bgf.doc_id, CAST(COUNT(*) AS BIGINT) AS n_bigrams,
      |         CAST(SUM(lp.lp_micro) AS BIGINT) AS kn_sum_micro
      |  FROM bgf JOIN lp ON lp.prev = bgf.prev AND lp.w = bgf.w
      |  GROUP BY 1)
      |SELECT d.doc_id,
      |       COALESCE(p.n_bigrams, 0) AS n_bigrams,
      |       COALESCE(p.kn_sum_micro, 0) AS kn_sum_micro,
      |       CASE WHEN p.n_bigrams IS NULL OR p.n_bigrams = 0 THEN 0.0
      |            ELSE CAST(p.kn_sum_micro AS DOUBLE) / (p.n_bigrams * 1000000.0) END
      |         AS avg_kn_logprob
      |FROM documents d LEFT JOIN perdoc p ON d.doc_id = p.doc_id""".stripMargin

  /** (query_id, doc_id, score_micro, score, rank): top-k corpus documents
    * per query document (queries = doc_id < nQueries), scored by BM25
    * over the queries' distinct tokens. Self-matches excluded.
    */
  def topK(documents: DataFrame, k: Int = 5, nQueries: Int = 10): DataFrame = {
    val (p, toks) = postingAndTokens(documents)
    val queryTerms = toks.filter(col("doc_id") < nQueries)
      .select(col("doc_id").as("query_id"), col("token")).distinct()
    rankedTopK(p, queryTerms, k)
      .select(col("query_id"), col("doc_id"), col("score_micro"),
        (col("score_micro").cast("double") / 1.0e6).as("score"), col("rank"))
  }

  /** The lowered non-empty (doc_id, token) explosion. */
  private def tokensOf(documents: DataFrame): DataFrame = documents
    .select(col("doc_id"), explode(split(trim(col("text")), "\\s+")).as("raw"))
    .filter(col("raw") =!= "")
    .select(col("doc_id"), lower(col("raw")).as("token"))

  /** The shared BM25 machinery: the (doc, token, micro-score) posting
    * relation plus the raw token explosion it came from.
    */
  private def postingAndTokens(documents: DataFrame): (DataFrame, DataFrame) = {
    val toks = tokensOf(documents)
    val tf = toks.groupBy("doc_id", "token").agg(count(lit(1)).as("tf"))
    val docLen = tf.groupBy("doc_id").agg(sum(col("tf")).as("dl"))
    val dfreq = tf.groupBy("token").agg(count(lit(1)).as("df"))
    val stats = documents.agg(count(lit(1)).as("n_docs"))
      .crossJoin(docLen.agg(sum(col("dl")).as("total_len")))
    // idf = ln((N − df + 0.5)/(df + 0.5) + 1)  [Robertson+, non-negative]
    // sat = tf·(k1+1)/(tf + k1·(1 − b + b·dl/avgdl)),  avgdl = total/N
    //
    // Constants appear as the LITERALS 2.2 / 1.2 / 0.25 / 0.75 — NOT as
    // Scala arithmetic like K1 + 1: double(1.2) + 1 is one ulp away from
    // double(2.2), and the oracle parses the literal. The whole expression
    // tree (association order included) mirrors the SQL exactly.
    val scoreMicro = {
      val avgdl = col("total_len").cast("double") / col("n_docs")
      val idf = log((col("n_docs") - col("df") + 0.5) / (col("df") + 0.5) + 1.0)
      val sat = (col("tf") * lit(2.2)) /
        (col("tf") + lit(1.2) * (lit(0.25) + lit(0.75) * col("dl").cast("double") / avgdl))
      floor(idf * sat * 1.0e6 + 0.5).cast("long")
    }
    val posting = tf
      .join(docLen, "doc_id")
      .join(dfreq, "token")
      .crossJoin(broadcast(stats))
      .select(col("doc_id"), col("token"), scoreMicro.as("s_micro"))
    (posting, toks)
  }

  /** Score `queryTerms` against `posting`, excluding self-matches, and
    * keep the per-query top `k` (ties on doc_id).
    */
  private def rankedTopK(posting: DataFrame, queryTerms: DataFrame,
                         k: Int): DataFrame = {
    val scored = posting
      .join(broadcast(queryTerms), "token")
      .filter(col("doc_id") =!= col("query_id"))
      .groupBy("query_id", "doc_id")
      .agg(sum(col("s_micro")).as("score_micro"))
    val w = Window.partitionBy("query_id")
      .orderBy(col("score_micro").desc, col("doc_id").asc)
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
  }

  /** Pseudo-relevance-feedback query expansion (Rocchio 1971, in the
    * RM3-flavored form modern IR stacks run it: Abdul-Jaleel et al.,
    * TREC 2004): retrieve the top `fbDocs` documents for each query,
    * harvest the `fbTerms` highest-weight NEW terms from them (term
    * weight = the exact long sum of the term's BM25 micro-scores across
    * the feedback set — the Rocchio centroid numerator on BM25 weights),
    * append them to the query, and re-run retrieval. The recall lever
    * every lexical pipeline pulls when queries are short.
    *
    * Determinism: posting scores are the micro-longs [[topK]] proved;
    * both the expansion-term weights and the final scores are exact
    * integer sums; both ranking windows tie-break on (token asc) /
    * (doc_id asc). The oracle replays the full chain as CTEs.
    *
    * Scale shape: ONE posting build feeds first-pass scoring, term
    * harvest and the re-score (hence the materialize); the feedback and
    * expansion relations are benchmark-sized (nQueries × fbDocs /
    * fbTerms rows) and broadcast. The re-score join is the same
    * posting-list equi-join as the first pass with ≤ fbTerms extra
    * terms per query.
    *
    * Output: (query_id, doc_id, score_micro, rank, n_query_terms) with
    * `n_query_terms` the expanded term-set size, constant per query.
    */
  def prfTopK(documents: DataFrame, k: Int = 5, fbDocs: Int = 5,
              fbTerms: Int = 3, nQueries: Int = 10): DataFrame = {
    require(k >= 1 && fbDocs >= 1 && fbTerms >= 0, "need positive depths")
    // materialized: three consumers (first pass, term harvest, re-score)
    val (postingRaw, toks) = postingAndTokens(documents)
    val posting = graft.Caching.materialize(postingRaw)
    val queryTerms = toks.filter(col("doc_id") < nQueries)
      .select(col("doc_id").as("query_id"), col("token")).distinct()
    val fb = rankedTopK(posting, queryTerms, fbDocs)
      .select(col("query_id"), col("doc_id"))
    // candidate expansion terms: every (query, term) present in the
    // query's feedback docs but not in the query itself, weighted by the
    // exact sum of the term's feedback-doc micro-scores
    val wExp = Window.partitionBy("query_id")
      .orderBy(col("w_micro").desc, col("token").asc)
    val expansion = posting
      .join(broadcast(fb), "doc_id")
      .groupBy(col("query_id"), col("token"))
      .agg(sum(col("s_micro")).as("w_micro"))
      .join(queryTerms, Seq("query_id", "token"), "left_anti")
      .withColumn("rk", row_number().over(wExp))
      .filter(col("rk") <= fbTerms)
      .select(col("query_id"), col("token"))
    val expanded = queryTerms.unionByName(expansion)
    val nTerms = expanded.groupBy("query_id")
      .agg(count(lit(1)).as("n_query_terms"))
    rankedTopK(posting, expanded, k)
      .join(broadcast(nTerms), "query_id")
      .select(col("query_id"), col("doc_id"), col("score_micro"),
        col("rank"), col("n_query_terms"))
  }
}
