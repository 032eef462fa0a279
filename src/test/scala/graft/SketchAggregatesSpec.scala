package graft

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.SketchAggregates.top_k_sketch

/** SpaceSaving top-k aggregate: exactness below capacity, guarantees
  * above it, merge stability across partitionings.
  */
class SketchAggregatesSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def sketchOf(items: Seq[String], k: Int, parts: Int): Map[String, (Long, Long)] =
    items.toDF("v").repartition(parts)
      .agg(top_k_sketch($"v", k).as("sk"))
      .select(explode($"sk").as("e")).select("e.item", "e.est", "e.err")
      .collect().map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2)))).toMap

  test("below capacity the sketch is exact with zero error") {
    val items = Seq.fill(7)("a") ++ Seq.fill(3)("b") ++ Seq("c")
    for (parts <- Seq(1, 4)) {
      val got = sketchOf(items, k = 8, parts)
      assert(got === Map("a" -> ((7L, 0L)), "b" -> ((3L, 0L)), "c" -> ((1L, 0L))))
    }
  }

  test("above capacity: heavy hitters retained, overestimate bounded by N/k") {
    // Zipf-ish: item_i appears ceil(600 / i) times, i = 1..40; k = 8
    val items = (1 to 40).flatMap(i => Seq.fill(600 / i + 1)(f"w$i%02d"))
    val n = items.size.toLong
    val exact = items.groupBy(identity).view.mapValues(_.size.toLong).toMap
    val k = 8
    for (parts <- Seq(1, 3, 8)) {
      val got = sketchOf(new scala.util.Random(7).shuffle(items), k, parts)
      assert(got.size <= k)
      // every true heavy hitter (count > N/k) is in the sketch
      val heavy = exact.filter { case (_, c) => c * k > n }.keySet
      assert(heavy.subsetOf(got.keySet), s"missing heavy hitters at parts=$parts")
      // no underestimates; overestimate bounded by err and by N/k
      got.foreach { case (item, (est, err)) =>
        val truth = exact(item)
        assert(est >= truth, s"$item underestimated")
        assert(est - truth <= err, s"$item error bound violated")
        assert(err * k <= n + k, s"$item err above N/k at parts=$parts")
      }
    }
  }

  test("null inputs are ignored, empty input yields an empty sketch") {
    val withNulls = Seq(Some("x"), None, Some("x"), None).toDF("v")
    val sk = withNulls.agg(top_k_sketch($"v", 4).as("sk"))
      .select(explode($"sk").as("e")).select("e.item", "e.est")
      .collect().map(r => (r.getString(0), r.getLong(1)))
    assert(sk.toSeq === Seq(("x", 2L)))
    val empty = Seq.empty[String].toDF("v").agg(top_k_sketch($"v", 4).as("sk"))
      .select(size($"sk")).head().getInt(0)
    assert(empty === 0)
  }

  test("streaming: guarantees hold across incremental trigger merges") {
    // the custom TypedImperativeAggregate composes with Structured
    // Streaming unmodified: state is the serialized k-entry buffer,
    // merged per trigger — bounded by construction, no watermark needed
    // (the defining sketch property)
    val items = (1 to 40).flatMap(i => Seq.fill(600 / i + 1)(f"w$i%02d"))
    val (batch1, batch2) = new scala.util.Random(11).shuffle(items).splitAt(items.size / 2)
    val n = items.size.toLong
    val exact = items.groupBy(identity).view.mapValues(_.size.toLong).toMap
    val k = 8
    val src = java.nio.file.Files.createTempDirectory("graft_ss_src").toString
    val chk = java.nio.file.Files.createTempDirectory("graft_ss_chk").toString
    batch1.toDF("v").coalesce(2).write.mode("append").parquet(src)
    val q = spark.readStream.schema(batch1.toDF("v").schema).parquet(src)
      .agg(top_k_sketch($"v", k).as("sk"))
      .writeStream.outputMode("complete").format("memory")
      .queryName("ss_sketch").option("checkpointLocation", chk).start()
    try {
      q.processAllAvailable()
      batch2.toDF("v").coalesce(2).write.mode("append").parquet(src)
      q.processAllAvailable()
    } finally q.stop()
    val got = spark.sql("SELECT explode(sk) AS e FROM ss_sketch")
      .select("e.item", "e.est", "e.err")
      .collect().map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(got.size <= k && got.nonEmpty)
    val heavy = exact.filter { case (_, c) => c * k > n }.keySet
    assert(heavy.subsetOf(got.keySet), "heavy hitters lost across triggers")
    got.foreach { case (item, (est, err)) =>
      val truth = exact(item)
      assert(est >= truth && est - truth <= err && err * k <= n + k,
        s"$item guarantee violated in streaming merge")
    }
  }

  test("heavyHitterTokens: every verdict true on the fixture corpus") {
    val out = graft.analytics.Sketches
      .heavyHitterTokens(graft.io.Tables.documents(spark, TestSpark.sfDir), k = 30)
      .collect()
    assert(out.nonEmpty, "fixture should have at least one >1/30-share token")
    out.foreach { case Row(token: String, n: Long, inSketch: Boolean, boundsOk: Boolean) =>
      assert(inSketch, s"$token (n=$n) missing from sketch")
      assert(boundsOk, s"$token (n=$n) bounds violated")
    }
  }

  test("HLL: union of per-group sketches estimates the global distinct") {
    // the q_hll_rollup property — per-group sketch state merges to the
    // parent level without rescanning the base (union drops the HIP
    // path-dependence, so compare against exact, not the direct sketch)
    val df = spark.range(0, 20000)
      .select((col("id") % 7).as("g"), col("id"))
    val merged = df.groupBy("g").agg(hll_sketch_agg(col("id")).as("sk"))
      .agg(hll_sketch_estimate(hll_union_agg(col("sk"))).as("est"))
      .head().getLong(0)
    assert(math.abs(merged - 20000L) <= 20000L * 0.05,
      s"merged estimate off: $merged vs 20000")
  }
}
