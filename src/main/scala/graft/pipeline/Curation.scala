package graft.pipeline

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.dedup.Dedup
import graft.operators.Sampling
import graft.text.TextOps

/** End-to-end training-data curation: the composite pipeline the
  * individual operators exist for, in the canonical order —
  *
  *   1. quality filter   (cheap, no shuffle — shrink first)
  *   2. exact dedup      (one hash group-by of the text digest, then a
  *                        semi-join keeps each digest's min doc_id — the
  *                        scored batch is never joined with itself)
  *   3. near-dup removal (MinHash-LSH pairs → drop the higher doc_id of
  *                        each surviving pair)
  *   4. per-source deterministic sampling (reproducible splits)
  *
  * Order matters at 100 TB: each stage strictly shrinks the data the next
  * (more expensive) stage sees, and exact-dedup-before-minhash is what
  * keeps degenerate LSH buckets (billions of identical docs) from ever
  * forming (SCALE.md).
  *
  * CACHING CONTRACT: persists the post-exact-dedup corpus (and MinHash
  * persists its band relation); the caller releases caches after consuming
  * the result — see the full note on [[graft.dedup.Dedup]].
  */
object Curation {

  /** The quality-gate + exact-dedup PREFIX of [[curate]] (steps 1-2, no
    * optional gates): (doc_id, text, source, n_chars, quality_score) for
    * the exact-dedup survivors. The score is one projection
    * ([[graft.text.TextOps.qualityScore]]) filtered in place; the exact
    * dedup is one aggregation of the text digest ([[Dedup.exactDedup]])
    * semi-joined back on `doc_id`, the documents' key. A null doc_id never
    * survives.
    */
  def exactDedupedQuality(documents: DataFrame,
                          minQuality: Double = 0.2): DataFrame = {
    val quality = documents
      .filter(col("doc_id").isNotNull)
      .withColumn("quality_score", TextOps.qualityScore(col("text"), col("n_chars")))
      .filter(col("quality_score") >= minQuality)
    val keepExact = Dedup.exactDedup(quality).select("doc_id")
    quality.join(keepExact, Seq("doc_id"), "left_semi")
  }

  /** Returns the curated corpus:
    * (doc_id, text, source, n_chars, quality_score).
    *
    * `langAllow` (optional) inserts a language gate before the quality
    * filter — n-gram language ID is another cheap no-shuffle projection,
    * so it belongs in the shrink-first prefix of the pipeline. Empty =
    * no language filtering (the oracle-checked configuration).
    */
  def curate(documents: DataFrame,
             minQuality: Double = 0.2,
             nearDupThreshold: Double = 0.7,
             samplePerSource: Int = 1000000,
             langAllow: Seq[String] = Nil,
             repetitionGate: Boolean = false): DataFrame = {
    require(samplePerSource >= 1, s"samplePerSource must be >= 1, got $samplePerSource")
    require(minQuality >= 0.0 && minQuality <= 1.0,
      s"minQuality must be in [0, 1], got $minQuality")
    require(nearDupThreshold >= 0.0 && nearDupThreshold <= 1.0,
      s"nearDupThreshold must be in [0, 1], got $nearDupThreshold")
    // 0a. optional repetition gate (Gopher thresholds) — like the language
    // gate, a cheap projection+filter that belongs in the shrink-first
    // prefix; default-off is the oracle-checked configuration
    val repFiltered =
      if (!repetitionGate) documents
      else documents.join(
        TextOps.repetition(documents)
          .filter(col("repetition_keep")).select("doc_id"),
        "doc_id")
    // 0b. optional language gate
    val base =
      if (langAllow.isEmpty) repFiltered
      else repFiltered.join(
        TextOps.langId(repFiltered)
          .filter(col("lang_pred").isin(langAllow: _*)).select("doc_id"),
        "doc_id")

    // 1-2. quality gate + exact dedup (the shared prefix; see
    // exactDedupedQuality). Persisted, because the minhash signatures
    // and the anti-join below reference this relation twice, and each
    // reference would otherwise re-derive the whole quality+dedup lineage
    // (at cluster scale: a stage-boundary write; locally:
    // MEMORY_AND_DISK). Caller may clearCache() after.
    val exact = exactDedupedQuality(base, minQuality)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)

    // 3. near-dup removal: minhash pairs vote out the larger doc_id (the
    // anti-join ignores a loser's repeats, so no distinct)
    val losers = Dedup.minhashDedup(exact, threshold = nearDupThreshold)
      .select(col("doc_b").as("doc_id"))
    val nearDeduped = exact.join(losers, Seq("doc_id"), "left_anti")

    // 4. reproducible per-source cap
    Sampling.hashSamplePerGroup(nearDeduped, "source", "doc_id", samplePerSource)
      .select("doc_id", "text", "source", "n_chars", "quality_score")
  }

  /** Cross-modal curation survivor manifest: the near-dup triad
    * (image aHash / audio fingerprint / video fingerprint — each a REAL
    * codec round trip through the SAME pigeonhole-complete banded
    * Hamming join) composed with the text MinHash-LSH pairs into ONE
    * keep/drop decision per document. A multimodal training corpus
    * dedups per modality but curates per RECORD: a sample whose image is
    * a near-dup of a kept sample's image is dropped even if its caption
    * is novel — otherwise the vision tower still trains on the
    * duplicate.
    *
    * Loser convention matches [[curate]] step 3: within each modality's
    * pair relation (a < b), the higher id loses. Output per document:
    * (doc_id, dup_text, dup_image, dup_audio, dup_video, keep).
    *
    * Scale shape: the four pair relations are banded bucket joins (never
    * all-pairs); their loser sets union into ONE (doc_id, modality)
    * relation that a single hash aggregation pivots to flags — one
    * shuffle for the flags plus one keyed left join against the
    * manifest, regardless of how many modalities participate.
    */
  def curateMultimodal(documents: DataFrame,
                       textThreshold: Double = 0.5,
                       maxHamming: Int = 3): DataFrame = {
    import graft.multimodal.Multimodal
    import scala.concurrent.{Await, ExecutionContext, Future}
    import scala.concurrent.duration.Duration
    val sc = documents.sparkSession.sparkContext
    // The four modality legs are independent pipelines: serially built,
    // the driver runs each leg's jobs back to back — three codec
    // decode+materialize jobs (the eager fingerprint persist inside
    // nearDupImagePairs), then the three band self-joins and the text
    // minhash inside the final flags query, each job's straggler tail
    // and sub-32 parallelism leaving cores idle (measured: the band-join
    // stages run ~12-way parallel on 32 cores). Submitting the legs from
    // a small pool and materializing each leg's LOSER-ID relation inside
    // its future overlaps all of it — FIFO scheduling back-fills one
    // job's tail with the next leg's tasks (guide §2.6: overlap
    // independent jobs). The final query then unions four small cached
    // id relations. Composition stays in fixed order, so the RESULT is
    // byte-identical to the serial build; only job scheduling changes.
    // Job descriptions are thread-local, so each leg labels its own jobs.
    val pool = java.util.concurrent.Executors.newFixedThreadPool(4)
    val (text, image, audio, video) =
      try {
        implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
        def leg(desc: String)(build: => DataFrame): Future[DataFrame] =
          Future { sc.setJobDescription(desc); graft.Caching.materialize(build) }
        val ft = leg("mm_curate: text minhash leg")(
          Dedup.minhashDedup(documents, threshold = textThreshold)
            .select(col("doc_b").as("doc_id"), lit("text").as("modality")))
        val fi = leg("mm_curate: image aHash leg")(
          Multimodal.nearDupImagePairs(
            Multimodal.imageAHashes(
              Multimodal.packSyntheticPngs(documents)).toDF(), maxHamming)
            .select(col("id_b").as("doc_id"), lit("image").as("modality")))
        val fa = leg("mm_curate: audio fingerprint leg")(
          Multimodal.nearDupImagePairs(
            Multimodal.audioFingerprints(
              Multimodal.packSyntheticNearDupWavs(documents)).toDF(), maxHamming)
            .select(col("id_b").as("doc_id"), lit("audio").as("modality")))
        val fv = leg("mm_curate: video fingerprint leg")(
          Multimodal.nearDupImagePairs(
            Multimodal.videoFingerprints(
              Multimodal.packSyntheticNearDupGifs(documents)).toDF(), maxHamming)
            .select(col("id_b").as("doc_id"), lit("video").as("modality")))
        (Await.result(ft, Duration.Inf), Await.result(fi, Duration.Inf),
          Await.result(fa, Duration.Inf), Await.result(fv, Duration.Inf))
      } finally pool.shutdown()

    val flags = text.unionByName(image).unionByName(audio).unionByName(video)
      .groupBy(col("doc_id"))
      .agg(
        max(when(col("modality") === "text", 1).otherwise(0)).as("dup_text"),
        max(when(col("modality") === "image", 1).otherwise(0)).as("dup_image"),
        max(when(col("modality") === "audio", 1).otherwise(0)).as("dup_audio"),
        max(when(col("modality") === "video", 1).otherwise(0)).as("dup_video"))

    documents.select(col("doc_id"))
      .join(flags, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("dup_text"), lit(0)).as("dup_text"),
        coalesce(col("dup_image"), lit(0)).as("dup_image"),
        coalesce(col("dup_audio"), lit(0)).as("dup_audio"),
        coalesce(col("dup_video"), lit(0)).as("dup_video"))
      .withColumn("keep",
        lit(1) - greatest(col("dup_text"), col("dup_image"),
          col("dup_audio"), col("dup_video")))
  }

  /** Corpus → training sequences, end to end: [[curate]], then build the
    * frequency vocabulary OVER THE CURATED CORPUS (vocab built pre-dedup
    * would be skewed by the duplicates curation removes), encode every
    * surviving document as token ids, and assign each to its packed
    * context window ([[graft.operators.Packing.packSequences]]).
    *
    * Output per surviving doc: (doc_id, n_tokens, n_oov, token_ids,
    * pack_id, pack_offset, spans_boundary) — the manifest a training job
    * reads to materialize batches. The curated corpus is persisted
    * (three consumers: vocab, encode, pack); caller releases per the
    * library cache contract.
    */
  def prepareCorpus(documents: DataFrame,
                    minQuality: Double = 0.2,
                    nearDupThreshold: Double = 0.7,
                    vocabSize: Int = 1 << 16,
                    capacity: Int = 2048): DataFrame = {
    // persisted, not eagerly materialized: the vocab build collects model
    // state (an action) before encode/pack consume the relation, so the
    // cache populates sequentially anyway — an extra materialize pass
    // measured ~1s slower at sf0.1 (see graft.Caching's doc)
    val curated = curate(documents, minQuality, nearDupThreshold)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val vocabulary = TextOps.vocab(curated, vocabSize)
    val encoded = TextOps.encodeTokens(curated, vocabulary)
    val packed = graft.operators.Packing.packSequences(curated, capacity)
    encoded.join(
      packed.select(col("doc_id"), col("pack_id"), col("pack_offset"),
        col("spans_boundary")),
      "doc_id")
  }
}
