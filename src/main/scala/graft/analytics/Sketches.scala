package graft.analytics

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.dedup.Dedup

/** Count-min sketch (Cormode & Muthukrishnan 2005) over a key column —
  * the fixed-memory frequency estimator telemetry pipelines use when the
  * key domain is too large to count exactly.
  *
  * Scale shape: the sketch table is `depth × width` counters regardless of
  * input size. Building it is one explode(depth) → hash-agg pass whose
  * partial aggregates collapse to ≤ depth·width cells per task map-side,
  * so the shuffle moves sketch cells, not rows. The cells relation is a
  * few KB — Spark broadcasts it in the estimate join on its own.
  *
  * Hash rows are md5-derived ([[Dedup.md5Base60]] of `"i:key"`), so the
  * whole sketch — buckets, counters, estimates — replays bit-identically
  * in the DuckDB oracle. A throughput deployment swaps md5 for xxhash64
  * without changing the shape.
  *
  * The one-sided error guarantee (estimate ≥ true count; ≤ true + εN with
  * probability 1−δ for width = ⌈e/ε⌉, depth = ⌈ln 1/δ⌉) is asserted in
  * SketchesSpec.
  */
object Sketches {

  val Depth = 4

  /** Counter row `i`'s bucket for a key: md5("i:key") mod width. */
  private def cmBucket(key: Column, i: Int, width: Int): Column =
    pmod(Dedup.md5Base60(concat(lit(s"$i:"), key.cast("string"))), lit(width))

  private def bucketStructs(key: Column, width: Int): Column =
    explode(array((0 until Depth).map { i =>
      struct(lit(i).as("i"), cmBucket(key, i, width).as("bucket"))
    }: _*))

  /** The raw sketch: (i, bucket, cnt) counter cells. */
  def countMin(df: DataFrame, keyCol: String, width: Int = 256): DataFrame = {
    require(width >= 1, s"count-min width must be >= 1, got $width")
    df.select(bucketStructs(col(keyCol), width).as("c"))
      .groupBy(col("c.i").as("i"), col("c.bucket").as("bucket"))
      .agg(count(lit(1)).as("cnt"))
  }

  /** Per-key CM estimate next to the exact count (the estimator's
    * ground-truth harness): (key, exact_count, cm_estimate), where
    * cm_estimate = min over rows of the key's bucket counter. The exact
    * count costs a real per-key shuffle — it exists to validate the
    * sketch; production reads estimate single keys straight off the
    * broadcast cells.
    */
  def countMinEstimates(df: DataFrame, keyCol: String, width: Int = 256): DataFrame = {
    val cells = countMin(df, keyCol, width) // rejects width < 1 up front
    val exact = df.groupBy(col(keyCol)).agg(count(lit(1)).as("exact_count"))
    exact
      .select(col(keyCol), col("exact_count"), bucketStructs(col(keyCol), width).as("c"))
      .select(col(keyCol), col("exact_count"),
        col("c.i").as("i"), col("c.bucket").as("bucket"))
      .join(cells, Seq("i", "bucket"))
      .groupBy(col(keyCol), col("exact_count"))
      .agg(min(col("cnt")).as("cm_estimate"))
  }

  /** Heavy hitters over document tokens via the mergeable SpaceSaving
    * aggregate ([[graft.functions.SketchAggregates.top_k_sketch]]) — the
    * bounded-memory replacement for a full token `groupBy` when the
    * vocabulary outgrows exact aggregation (at 100 TB: frequent tokens
    * with k entries of state per partial instead of a billion-group
    * shuffle).
    *
    * Output is the sketch's GUARANTEES, not its estimates (estimates are
    * merge-order-dependent; the guarantees hold under any order, so the
    * result is deterministic and oracle-checkable): for every TRUE heavy
    * hitter — exact count · k > total tokens, decided in exact integer
    * arithmetic — emit the exact count plus two verdicts: the item is
    * present in the sketch, and its estimate sits in
    * [exact, exact + N/k]. The DuckDB oracle recomputes the exact side
    * and pins the verdicts TRUE.
    */
  def heavyHitterTokens(documents: DataFrame, k: Int = 16): DataFrame = {
    val toks = documents
      .select(explode(graft.text.TextOps.tokens(col("text"))).as("raw"))
      .filter(col("raw") =!= "")
      .select(lower(col("raw")).as("token"))
    val sketch = toks.agg(
      graft.functions.SketchAggregates.top_k_sketch(col("token"), k).as("sk"))
    val exactCounts = toks.groupBy("token").agg(count(lit(1)).as("n_exact"))
    val total = toks.agg(count(lit(1)).as("n_total"))
    exactCounts.crossJoin(broadcast(sketch)).crossJoin(broadcast(total))
      .filter(col("n_exact") * k > col("n_total"))
      .select(col("token"), col("n_exact"),
        exists(col("sk"), e => e.getField("item") === col("token"))
          .as("in_sketch"),
        exists(col("sk"), e => e.getField("item") === col("token") &&
          e.getField("est") >= col("n_exact") &&
          (e.getField("est") - col("n_exact")) * k <= col("n_total"))
          .as("bounds_ok"))
  }
}
