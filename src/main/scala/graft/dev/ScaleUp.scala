package graft.dev

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.io.Tables

/** Deterministic scale-up of the driver fixtures by DISJOINT KEY-OFFSET
  * REPLICATION: `k` copies of every sf0.1 table, copy `i` with every key
  * column shifted by `i * 10^6` (far above the sf0.1 key maxima — max is
  * o_orderkey 149 999 — and far below 2^31, so key-packing fast paths
  * like q_link_pred's single-BIGINT pair key keep the SAME plan they
  * have at sf0.1; a plan flip would make the scaling ratios measure the
  * wrong thing).
  *
  * Why replication is the right scaling model here: TPC-H-style SF
  * scaling grows entity counts (orders, parts, customers) at constant
  * per-entity behavior (basket size, degree distribution), so the
  * co-bought graph gains nodes, not density — exactly what disjoint
  * copies produce. Every probed operator family therefore has a known
  * ground-truth cost curve of ~k^1 (work per copy is constant), which
  * turns the sf1 probe into a clean engine test: a measured exponent
  * meaningfully above 1 is an implementation bottleneck (spill, fixed
  * 32-partition shuffle saturation, driver state growth), not data
  * physics.
  *
  * Fixed-size dims (region, nation) are copied verbatim — they don't
  * grow with SF and several queries aggregate by nation NAME.
  *
  * embeddings get their vector CIRCULARLY ROTATED by the copy index
  * (geometry within a copy is preserved exactly; cross-copy pairs
  * decorrelate like random pairs): plain replication would put 10
  * bit-identical twins of every point at distance 0, inflating every
  * ε-neighborhood and LSH bucket ~k× and turning the intended linear
  * scale-up into a quadratic near-dup explosion that measures the
  * DATA distortion, not the engine.
  *
  * documents get the text analogue (round-11 verdict #3 prerequisite):
  * copy `i` > 0 has EVERY whitespace token suffixed with a lowercase
  * copy marker `~g<i>` — a BIJECTIVE per-copy token rename. Every text
  * operator in the suite tokenizes by whitespace split + lower, so the
  * rename maps each copy's token/shingle/TF-IDF structure onto itself
  * exactly (within-copy MinHash signatures, word shingles, cosine
  * weights, co-occurrence graphs are isomorphic to copy 0) while
  * cross-copy token overlap drops to zero — verbatim replication would
  * instead give every doc k−1 bit-identical twins, inflate every
  * MinHash band bucket k×, and turn the intended linear scale-up into
  * a quadratic near-dup explosion measuring data distortion, not the
  * engine. Vocabulary grows k× (disjoint per copy), which is the
  * correct ground truth for replication: per-copy posting/graph work is
  * constant, total ~k^1. n_chars is recomputed to stay consistent with
  * the suffixed text.
  *
  * Usage: runMain graft.dev.ScaleUp <srcDir> <outDir> <k>
  */
object ScaleUp {
  private val Offset = 1000000L

  private val keyCols: Map[String, Seq[String]] = Map(
    "customer"   -> Seq("c_custkey"),
    "supplier"   -> Seq("s_suppkey"),
    "part"       -> Seq("p_partkey"),
    "orders"     -> Seq("o_orderkey", "o_custkey"),
    "lineitem"   -> Seq("l_orderkey", "l_partkey", "l_suppkey"),
    "events"     -> Seq("event_id", "user_id"),
    "documents"  -> Seq("doc_id"),
    "embeddings" -> Seq("vec_id")
  )
  private val fixedDims = Seq("region", "nation")

  private def replicate(df: DataFrame, k: Int, keys: Seq[String],
                        rotateVec: Boolean, saltText: Boolean): DataFrame =
    (0 until k).map { i =>
      val shifted = keys.foldLeft(df) { (d, c) =>
        d.withColumn(c, col(c) + lit(i * Offset))
      }
      val vecd =
        if (rotateVec && i % 64 != 0) {
          val r = i % 64
          shifted.withColumn("embedding",
            concat(slice(col("embedding"), r + 1, 64 - r),
                   slice(col("embedding"), 1, r)))
        } else shifted
      if (saltText && i != 0)
        // bijective per-copy token rename: suffix every non-space run
        // (lowercase marker — every suite tokenizer lowercases, so
        // distinct copies must stay distinct after lower())
        vecd.withColumn("text",
            regexp_replace(col("text"), "(\\S+)", "$1~g" + i))
          .withColumn("n_chars", length(col("text")).cast("long"))
      else vecd
    }.reduce(_ unionAll _)

  def main(args: Array[String]): Unit = {
    require(args.length == 3, "usage: ScaleUp <srcDir> <outDir> <k>")
    val Array(src, out, kStr) = args
    val k = kStr.toInt
    val spark = SparkSession.builder()
      .master(s"local[${sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")}]")
      .config("spark.sql.shuffle.partitions",
        sys.env.getOrElse("SPARK_GRAFT_CPUS", "32"))
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    try {
      fixedDims.foreach { t =>
        Tables.parquet(spark, s"$src/$t.parquet")
          .write.mode("overwrite").parquet(s"$out/$t.parquet")
      }
      keyCols.foreach { case (t, keys) =>
        val base = Tables.parquet(spark, s"$src/$t.parquet")
        val rep = replicate(base, k, keys, rotateVec = t == "embeddings",
          saltText = t == "documents")
        // spread across enough files that the scaled scan arrives as
        // real splits (a single-row-group file is one unsplittable
        // partition — the cpuSpread lesson); key-hash partitioning
        // keeps the layout deterministic up to row order, which no
        // consumer depends on
        rep.repartition(math.max(4, 2 * k), col(keys.head))
          .write.mode("overwrite").parquet(s"$out/$t.parquet")
        System.err.println(s"[scaleup] $t x$k -> $out/$t.parquet")
      }
    } finally spark.stop()
  }
}
