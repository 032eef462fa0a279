package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.aggregate.HashAggregateExec
import org.apache.spark.sql.catalyst.expressions.aggregate.{Final, Partial}
import org.apache.spark.sql.functions.{col, length}
import org.scalatest.funsuite.AnyFunSuite

import graft.dedup.Dedup
import graft.io.Tables
import graft.pipeline.Curation
import graft.text.TextOps

class CurationSpec extends AnyFunSuite {
  import TestSpark.{spark, sfDir}
  import spark.implicits._

  /** The quality + exact-dedup prefix as it was composed with two
    * self-joins on doc_id: documents ⋈ their scores, then ⋈ the exact
    * survivors — the reference the single-filter prefix must equal.
    */
  private def selfJoinPrefix(documents: DataFrame, minQuality: Double = 0.2): DataFrame = {
    val scored = TextOps.quality(documents)
      .filter(col("quality_score") >= minQuality)
      .select("doc_id", "quality_score")
    val quality = documents.join(scored, "doc_id")
    val keepExact = Dedup.exactDedup(quality).select("doc_id")
    quality.join(keepExact, "doc_id")
  }

  private def sameRows(a: DataFrame, b: DataFrame): Boolean =
    a.columns.toSeq == b.columns.toSeq && a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty

  /** 20 plain words, no punctuation: quality_score = 20/100 = 0.2 exactly. */
  private val atThreshold = ('a' to 't').map(c => s"w$c").mkString(" ")

  /** A null doc_id, a null text, an exact-duplicate triple and a document
    * scoring exactly the default minQuality, next to ordinary prose.
    */
  private def edgeFixture: DataFrame = {
    val prose = "the data pipeline reads parquet files and aggregates daily " +
      "metrics for every customer region then writes results back to storage " +
      "with a clean schema and stable partitioning for downstream consumers"
    val other = "completely different content about cooking pasta with tomato " +
      "sauce and fresh basil leaves in a large copper pot on a warm evening"
    Seq[(Option[Long], Option[String], String)](
      (None, Some(other + " again"), "srcA"),          // null doc_id
      (Some(2L), None, "srcA"),                        // null text
      (Some(3L), Some(prose), "srcA"),                 // exact-duplicate triple
      (Some(4L), Some(prose), "srcB"),
      (Some(5L), Some(prose), "srcA"),
      (Some(6L), Some(atThreshold), "srcB"),           // scores exactly 0.2
      (Some(7L), Some(other), "srcB"),
      (Some(8L), Some("a b"), "srcA")                  // below minQuality
    ).toDF("doc_id", "text", "source")
      .withColumn("n_chars", length(col("text")).cast("long"))
  }

  test("curate: planted junk, exact dupes, and near-dupes are all removed") {
    val base = "the data pipeline reads parquet files and aggregates daily " +
      "metrics for every customer region then writes results back to storage " +
      "with a clean schema and stable partitioning for downstream consumers"
    val fixture = Seq(
      (1L, base, "srcA"),
      (2L, base, "srcA"),                                  // exact dup of 1
      (3L, base.replace("daily", "weekly"), "srcB"),       // near dup of 1
      (4L, "a b", "srcB"),                                 // too short → low quality
      (5L, "completely different content about cooking pasta with tomato sauce and fresh basil leaves in a large copper pot on a warm evening", "srcB")
    ).toDF("doc_id", "text", "source")
      .withColumn("n_chars", org.apache.spark.sql.functions.length($"text").cast("long"))

    val got = Curation.curate(fixture, minQuality = 0.15, nearDupThreshold = 0.5)
      .select("doc_id").as[Long].collect().toSet
    assert(got === Set(1L, 5L))
  }

  test("curateMultimodal: one manifest row per doc, flags match the modality loser sets") {
    import org.apache.spark.sql.functions.col
    val docs = Tables.documents(spark, sfDir)
    val manifest = Curation.curateMultimodal(docs).cache()
    assert(manifest.columns.toSeq ===
      Seq("doc_id", "dup_text", "dup_image", "dup_audio", "dup_video", "keep"))
    assert(manifest.count() === docs.count(), "one row per document")
    // keep is exactly the negation of any-dup
    assert(manifest.filter(
      col("keep") =!= (org.apache.spark.sql.functions.lit(1) -
        org.apache.spark.sql.functions.greatest(col("dup_text"),
          col("dup_image"), col("dup_audio"), col("dup_video")))).isEmpty)
    // the image flag set IS the image-leg loser set (differential vs the
    // standalone operator — same convention for the other modalities)
    import graft.multimodal.Multimodal
    val expectedImg = Multimodal.nearDupImagePairs(
        Multimodal.imageAHashes(Multimodal.packSyntheticPngs(docs)).toDF())
      .select(col("id_b")).as[Long].collect().toSet
    val gotImg = manifest.filter(col("dup_image") === 1)
      .select("doc_id").as[Long].collect().toSet
    assert(gotImg === expectedImg)
    // the planted odd-sibling media structure must surface SOME losers,
    // and at least one clean doc must survive
    assert(gotImg.nonEmpty, "planted image near-dups found")
    assert(manifest.filter(col("keep") === 1).count() > 0)
    manifest.unpersist()
    spark.catalog.clearCache()
  }

  test("curate on the fixture corpus: deterministic, monotone shrinking") {
    val docs = Tables.documents(spark, sfDir)
    val out1 = Curation.curate(docs).cache()
    assert(out1.count() > 0 && out1.count() <= docs.count())
    val out2 = Curation.curate(docs)
    assert(out1.exceptAll(out2).isEmpty && out2.exceptAll(out1).isEmpty)
    out1.unpersist()
  }

  test("curate langAllow gate: output equals curation of the pre-filtered corpus") {
    import org.apache.spark.sql.functions.col
    val docs = graft.io.Tables.documents(spark, sfDir)
    val gated = graft.pipeline.Curation.curate(docs, langAllow = Seq("en"))
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val pre = docs.join(
      graft.text.TextOps.langId(docs).filter(col("lang_pred") === "en").select("doc_id"),
      "doc_id")
    val expected = graft.pipeline.Curation.curate(pre)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(gated.nonEmpty && gated === expected)
    spark.catalog.clearCache()
  }

  test("curate repetitionGate: output equals curation of the repetition-kept corpus") {
    import org.apache.spark.sql.functions.col
    val docs = graft.io.Tables.documents(spark, sfDir)
    val gated = graft.pipeline.Curation.curate(docs, repetitionGate = true)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val pre = docs.join(
      graft.text.TextOps.repetition(docs).filter(col("repetition_keep")).select("doc_id"),
      "doc_id")
    val expected = graft.pipeline.Curation.curate(pre)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(gated.nonEmpty && gated === expected)
    spark.catalog.clearCache()
  }

  test("quality + exact-dedup prefix equals the self-join composition; curate agrees on both") {
    val fixture = edgeFixture
    assert(TextOps.quality(fixture).filter(col("doc_id") === 6L)
      .select("quality_score").as[Double].head() === 0.2)
    for (docs <- Seq(Tables.documents(spark, sfDir), fixture)) {
      val prefix = Curation.exactDedupedQuality(docs)
      assert(sameRows(prefix, selfJoinPrefix(docs)))
      // curate keeps a subset of its prefix's rows
      assert(Curation.curate(docs).exceptAll(prefix.select(
        "doc_id", "text", "source", "n_chars", "quality_score")).isEmpty)
      spark.catalog.clearCache()
    }
    // on the fixture: no null key, one copy of the triple, the document
    // at exactly minQuality kept — and the null text dropped: it scores
    // NULL, which no quality gate keeps
    assert(TextOps.quality(fixture).filter(col("doc_id") === 2L)
      .select("quality_score").as[Option[Double]].head() === None)
    assert(Curation.exactDedupedQuality(fixture).select("doc_id").as[Long]
      .collect().toSet === Set(3L, 6L, 7L))
  }

  test("curate rejects out-of-range parameters up front") {
    val docs = Tables.documents(spark, sfDir)
    assertThrows[IllegalArgumentException](Curation.curate(docs, samplePerSource = 0))
    for (bad <- Seq(-0.1, 1.5, Double.NaN)) {
      assertThrows[IllegalArgumentException](Curation.curate(docs, minQuality = bad))
      assertThrows[IllegalArgumentException](Curation.curate(docs, nearDupThreshold = bad))
    }
  }

  test("curate plans one aggregation (the digest's) and no sort aggregate") {
    val out = Curation.curate(Tables.documents(spark, sfDir))
    out.collect()
    val aggs = TestSpark.aggregateNodes(out.queryExecution.executedPlan)
    assert(aggs.forall(_.isInstanceOf[HashAggregateExec]), aggs.map(_.nodeName))
    assert(aggs.flatMap(_.aggregateExpressions.map(_.mode)).toSet === Set(Partial, Final),
      aggs.mkString("\n"))
    assert(aggs.size === 2 && aggs.forall(_.aggregateExpressions
      .exists(_.aggregateFunction.prettyName == "min")), aggs.mkString("\n"))
    spark.catalog.clearCache()
  }
}
