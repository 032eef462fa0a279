package graft.pipeline

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Hybrid retrieval: fuse a lexical ranking (BM25 posting-list top-k)
  * with a dense ranking (embedding cosine top-k) by Reciprocal Rank
  * Fusion (Cormack, Clarke & Buettcher, SIGIR'09) — the standard
  * score-free fusion for RAG-style search, robust to the two systems'
  * incomparable score scales because it only consumes RANKS.
  *
  * Determinism discipline: each rank contributes
  * `1_000_000 div (kRrf + rank)` micro-units — INTEGER division, so the
  * fused score is an exact long sum both engines compute bit-identically
  * (a float 1/(k+r) sum would depend on addition order). Ties break on
  * doc_id.
  *
  * Scale: fusion joins two top-k result sets (nQueries × perSystem rows
  * each) — negligible next to the underlying index scans, which keep
  * their own documented shapes (BM25: posting-list join; dense: brute
  * baseline here, swap in the LSH/IVF/PQ searchers for corpus scale).
  */
object Retrieval {

  /** (query_id, doc_id, rrf_micro, in_lexical, in_dense, rank): top `k`
    * fused results per query from `perSystem`-deep lexical and dense
    * candidate lists. Queries are doc_id/vec_id < nQueries (the two
    * corpora share the id space).
    */
  def hybridTopK(documents: DataFrame, embeddings: DataFrame,
                 k: Int = 10, perSystem: Int = 20, kRrf: Int = 60,
                 nQueries: Int = 10): DataFrame = {
    val lex = graft.text.Bm25.topK(documents, perSystem, nQueries)
      .select(col("query_id"), col("doc_id"), col("rank").as("lex_rank"))
    val dense = graft.similarity.Ann.bruteForceTopK(embeddings, perSystem, nQueries)
      .select(col("query_id"), col("vec_id").as("doc_id"), col("rank").as("dense_rank"))
    val fused = lex.join(dense, Seq("query_id", "doc_id"), "full_outer")
      .select(col("query_id"), col("doc_id"),
        (coalesce(expr(s"1000000 div ($kRrf + lex_rank)"), lit(0L)) +
         coalesce(expr(s"1000000 div ($kRrf + dense_rank)"), lit(0L)))
          .cast("long").as("rrf_micro"),
        col("lex_rank").isNotNull.as("in_lexical"),
        col("dense_rank").isNotNull.as("in_dense"))
    val w = Window.partitionBy("query_id")
      .orderBy(col("rrf_micro").desc, col("doc_id").asc)
    fused.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
  }
}
