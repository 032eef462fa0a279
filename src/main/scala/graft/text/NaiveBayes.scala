package graft.text

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Multinomial Naive Bayes source classifier (McCallum & Nigam, AAAI'98
  * workshop: "A Comparison of Event Models for Naive Bayes Text
  * Classification") — the classic corpus-curation classifier: train on a
  * labeled slice of the corpus, score every held-out document, keep /
  * route / down-weight by predicted class. The reference warehouse has no
  * classifier; this is the training-data-pipeline tier (GPT-3-style
  * quality/source routing with the simplest published model).
  *
  * Model: class priors p(c) = docs_c / docs_total over the TRAIN split
  * (doc_id % 5 ≠ 0); token likelihoods with add-one (Laplace) smoothing
  * p(w|c) = (cnt_cw + 1)/(n_c + V), where n_c = total token occurrences
  * in class c and V = train vocabulary size. A held-out doc's score for
  * class c is ln p(c) + Σ_tokens ln p(w|c); the prediction is the argmax
  * (ties break on class name ascending). Out-of-class and out-of-vocab
  * tokens take the smoothed floor 1/(n_c + V) — the standard multinomial
  * NB treatment.
  *
  * Determinism contract (the [[Bm25.unigramLogprob]] / DSIR scheme):
  * every ln() is quantized ONCE to micro-longs — per (class, token) for
  * likelihoods, per class for the prior and the OOV floor — and per-doc
  * totals are exact long sums, order-independent under partial
  * aggregation. The oracle replays the identical expression shapes.
  *
  * Scale shape: the model is three hash aggregations over the train
  * token explosion (class-token counts, class totals, 1-row vocab/doc
  * stats); the likelihood relation is vocab × present-classes — keyed on
  * token, it JOINS (shuffle, not broadcast) against the test explosion,
  * so a 10⁹-type vocabulary never has to fit in one executor. The only
  * row multiplier is the class fan-out on test tokens (k classes, k
  * small and data-derived); scoring is one (doc, class) integer hash-agg
  * and the argmax a per-doc window over k rows. Nothing is driver-side.
  */
object NaiveBayes {

  /** The lowered non-empty (doc_id, source, token) explosion both the
    * train and test sides read.
    */
  private def tokensOf(documents: DataFrame): DataFrame = documents
    .filter(length(trim(col("text"))) > 0)
    .select(col("doc_id"), col("source"),
      explode(split(trim(col("text")), "\\s+")).as("raw"))
    .filter(col("raw") =!= "")
    .select(col("doc_id"), col("source"), lower(col("raw")).as("token"))

  /** The trained NB model — (classes: cls, prior_micro, oov_micro;
    * lik: lcls, ltoken, lik_micro) over the doc_id % 5 ≠ 0 train split.
    */
  private def trainBySource(documents: DataFrame): (DataFrame, DataFrame) = {
    // the train explosion feeds FIVE independent model subtrees (class
    // docs, class totals, token counts, vocab stats) — materialized so
    // the tokenize pass runs once, not per consumer
    val train = graft.Caching.materialize(
      tokensOf(documents).filter(col("doc_id") % 5 =!= 0))

    // model: per-class doc counts (priors), per-class token totals,
    // per-(class, token) counts, and the 1-row vocab/doc-total stats
    val classDocs = train.select(col("doc_id"), col("source")).distinct()
      .groupBy("source").agg(count(lit(1)).as("n_docs"))
    val classTotals = train.groupBy("source")
      .agg(count(lit(1)).as("n_c"))
    val tokCnt = train.groupBy("source", "token")
      .agg(count(lit(1)).as("cnt"))
    val stats = train.agg(
      countDistinct(col("token")).as("v_size"),
      countDistinct(col("doc_id")).as("n_train_docs"))

    // per-class constants, quantized once: prior and the OOV floor
    val classes = classDocs.join(classTotals, "source")
      .crossJoin(broadcast(stats))
      .select(col("source").as("cls"),
        floor(log(col("n_docs").cast("double") /
          col("n_train_docs").cast("double")) * 1.0e6 + 0.5)
          .cast("long").as("prior_micro"),
        floor(log(lit(1.0) / (col("n_c") + col("v_size")).cast("double"))
          * 1.0e6 + 0.5).cast("long").as("oov_micro"))

    // likelihood relation, quantized once per (class, token)
    val lik = tokCnt.join(classTotals, "source")
      .crossJoin(broadcast(stats))
      .select(col("source").as("lcls"), col("token").as("ltoken"),
        floor(log((col("cnt") + 1.0).cast("double") /
          (col("n_c") + col("v_size")).cast("double")) * 1.0e6 + 0.5)
          .cast("long").as("lik_micro"))
    (classes, lik)
  }

  /** Train on doc_id % 5 ≠ 0, classify the held-out 20% by `source`.
    *
    * Output: (doc_id, source, pred, score_micro) — one row per held-out
    * non-empty doc; `score_micro` is the winning class's total log-score
    * in micro-units (prior + token likelihoods).
    */
  def classifyBySource(documents: DataFrame): DataFrame = {
    val test = tokensOf(documents).filter(col("doc_id") % 5 === 0)
    val (classes, lik) = trainBySource(documents)

    // score every held-out token under every class; absent (class, token)
    // pairs fall to the class OOV floor
    val scored = test
      .crossJoin(broadcast(classes))
      .join(lik, col("token") === col("ltoken") && col("cls") === col("lcls"),
        "left")
      .select(col("doc_id"), col("source"), col("cls"),
        col("prior_micro"),
        coalesce(col("lik_micro"), col("oov_micro")).as("tok_micro"))
      .groupBy(col("doc_id"), col("source"), col("cls"), col("prior_micro"))
      .agg(sum(col("tok_micro")).as("tok_sum_micro"))
      .select(col("doc_id"), col("source"), col("cls"),
        (col("prior_micro") + col("tok_sum_micro")).as("score_micro"))

    val w = Window.partitionBy("doc_id")
      .orderBy(col("score_micro").desc, col("cls").asc)
    scored
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") === 1)
      .select(col("doc_id"), col("source"), col("cls").as("pred"),
        col("score_micro"))
  }

  /** Per-class evaluation of [[classifyBySource]] — the confusion-matrix
    * margins and P/R/F1 every classifier report leads with. F1 uses the
    * identity F1 = 2·TP/(n_true + n_pred), the harmonic mean of the
    * UNROUNDED precision and recall, so it needs no intermediate folds.
    *
    * Every ratio is one integer division folded once to 1e-6; classes
    * with zero predictions (or zero truth) pin the undefined ratio to 0
    * explicitly in both engines. The class domain is the union of true
    * and predicted labels, so a class the model never emits still shows
    * its recall failure.
    *
    * Scale: three hash-aggs on the (already holdout-sized) scored
    * relation, full-outer-joined on the bounded class domain.
    *
    * Output: (cls, n_true, n_pred, n_correct, precision, recall, f1).
    */
  def evaluateBySource(documents: DataFrame): DataFrame = {
    // the scored relation feeds three margin aggregates — materialized
    // so the classify pipeline runs once
    val scored = graft.Caching.materialize(classifyBySource(documents))
    val nTrue = scored.groupBy(col("source").as("cls"))
      .agg(count(lit(1)).as("n_true"))
    val nPred = scored.groupBy(col("pred").as("cls"))
      .agg(count(lit(1)).as("n_pred"))
    val nCorr = scored.filter(col("pred") === col("source"))
      .groupBy(col("source").as("cls"))
      .agg(count(lit(1)).as("n_correct"))
    def fold(num: org.apache.spark.sql.Column, den: org.apache.spark.sql.Column) =
      when(den === 0L, lit(0.0)).otherwise(
        floor(num.cast("double") / den.cast("double") * 1.0e6 + 0.5) / 1.0e6)
    nTrue.join(nPred, Seq("cls"), "full_outer")
      .join(nCorr, Seq("cls"), "full_outer")
      .select(col("cls"),
        coalesce(col("n_true"), lit(0L)).as("n_true"),
        coalesce(col("n_pred"), lit(0L)).as("n_pred"),
        coalesce(col("n_correct"), lit(0L)).as("n_correct"))
      .select(col("cls"), col("n_true"), col("n_pred"), col("n_correct"),
        fold(col("n_correct"), col("n_pred")).as("precision"),
        fold(col("n_correct"), col("n_true")).as("recall"),
        fold(col("n_correct") * 2, col("n_true") + col("n_pred")).as("f1"))
  }

  /** DuckDB replay of [[evaluateBySource]]: the classify CTE chain plus
    * the three margin aggregates and identical guarded folds.
    */
  def evaluateOracleSql(): String = {
    val classify = classifyOracleSql()
    s"""WITH scored_out AS (SELECT * FROM ($classify) z),
       |n_true AS (SELECT source AS cls, COUNT(*) AS n_true FROM scored_out GROUP BY 1),
       |n_pred AS (SELECT pred AS cls, COUNT(*) AS n_pred FROM scored_out GROUP BY 1),
       |n_corr AS (SELECT source AS cls, COUNT(*) AS n_correct
       |           FROM scored_out WHERE pred = source GROUP BY 1),
       |m AS (
       |  SELECT COALESCE(t.cls, p.cls, c.cls) AS cls,
       |         COALESCE(t.n_true, 0) AS n_true,
       |         COALESCE(p.n_pred, 0) AS n_pred,
       |         COALESCE(c.n_correct, 0) AS n_correct
       |  FROM n_true t
       |  FULL OUTER JOIN n_pred p ON p.cls = t.cls
       |  FULL OUTER JOIN n_corr c ON c.cls = COALESCE(t.cls, p.cls))
       |SELECT cls, n_true, n_pred, n_correct,
       |       CASE WHEN n_pred = 0 THEN 0.0 ELSE
       |         floor(CAST(n_correct AS DOUBLE) / CAST(n_pred AS DOUBLE) * 1e6 + 0.5) / 1e6
       |       END AS precision,
       |       CASE WHEN n_true = 0 THEN 0.0 ELSE
       |         floor(CAST(n_correct AS DOUBLE) / CAST(n_true AS DOUBLE) * 1e6 + 0.5) / 1e6
       |       END AS recall,
       |       CASE WHEN n_true + n_pred = 0 THEN 0.0 ELSE
       |         floor(CAST(n_correct * 2 AS DOUBLE) / CAST(n_true + n_pred AS DOUBLE) * 1e6 + 0.5) / 1e6
       |       END AS f1
       |FROM m""".stripMargin
  }

  /** DuckDB replay of [[classifyBySource]]: identical token explosion,
    * counts, single-point micro-quantization of every ln(), exact BIGINT
    * sums, ROW_NUMBER argmax with the same tie-break.
    */
  def classifyOracleSql(): String =
    """WITH toks AS (
      |  SELECT doc_id, source, lower(t) AS token
      |  FROM (SELECT doc_id, source,
      |               unnest(regexp_split_to_array(trim(text), '\s+')) AS t
      |        FROM documents WHERE length(trim(text)) > 0)
      |  WHERE t <> ''),
      |train AS (SELECT * FROM toks WHERE doc_id % 5 <> 0),
      |test  AS (SELECT * FROM toks WHERE doc_id % 5 = 0),
      |class_docs AS (
      |  SELECT source, COUNT(*) AS n_docs
      |  FROM (SELECT DISTINCT doc_id, source FROM train) GROUP BY 1),
      |class_totals AS (SELECT source, COUNT(*) AS n_c FROM train GROUP BY 1),
      |tok_cnt AS (SELECT source, token, COUNT(*) AS cnt FROM train GROUP BY 1, 2),
      |stats AS (
      |  SELECT COUNT(DISTINCT token) AS v_size,
      |         COUNT(DISTINCT doc_id) AS n_train_docs
      |  FROM train),
      |classes AS (
      |  SELECT cd.source AS cls,
      |         CAST(floor(ln(CAST(n_docs AS DOUBLE) / CAST(n_train_docs AS DOUBLE))
      |                    * 1e6 + 0.5) AS BIGINT) AS prior_micro,
      |         CAST(floor(ln(1.0 / CAST(n_c + v_size AS DOUBLE))
      |                    * 1e6 + 0.5) AS BIGINT) AS oov_micro
      |  FROM class_docs cd JOIN class_totals ct ON ct.source = cd.source
      |  CROSS JOIN stats),
      |lik AS (
      |  SELECT tc.source AS cls, tc.token,
      |         CAST(floor(ln(CAST(cnt + 1.0 AS DOUBLE) / CAST(n_c + v_size AS DOUBLE))
      |                    * 1e6 + 0.5) AS BIGINT) AS lik_micro
      |  FROM tok_cnt tc JOIN class_totals ct ON ct.source = tc.source
      |  CROSS JOIN stats),
      |scored AS (
      |  SELECT t.doc_id, t.source, c.cls,
      |         c.prior_micro + CAST(SUM(COALESCE(l.lik_micro, c.oov_micro)) AS BIGINT)
      |           AS score_micro
      |  FROM test t
      |  CROSS JOIN classes c
      |  LEFT JOIN lik l ON l.token = t.token AND l.cls = c.cls
      |  GROUP BY 1, 2, 3, c.prior_micro)
      |SELECT doc_id, source, cls AS pred, score_micro FROM (
      |  SELECT *, ROW_NUMBER() OVER (
      |    PARTITION BY doc_id ORDER BY score_micro DESC, cls) AS rk
      |  FROM scored) r
      |WHERE rk = 1""".stripMargin
}
