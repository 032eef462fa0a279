package graft.dedup

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** All-pairs cosine-similarity join over sparse TF-IDF document vectors —
  * the weighted-vector sibling of [[Dedup.ngramJaccard]] (which covers the
  * set/Jaccard case), after Bayardo, Ma & Srikant, "Scaling Up All Pairs
  * Similarity Search" (WWW'07): candidate generation is an equi-join on a
  * *prefix* of each document's features, never an all-pairs product.
  *
  * Prefix bound: with every vector L2-normalized, order each document's
  * features by one GLOBAL total order (descending per-token max weight,
  * token-hash tie-break — both sides of any pair walk the same order, the
  * property the share-a-prefix-feature proof needs). For a feature at
  * position i, the contribution any partner can get from features at
  * positions ≥ i is at most Σ_{j≥i} w_j · maxw(t_j); once that bound drops
  * below the threshold the remaining suffix alone can never reach t, so a
  * qualifying pair must share an *indexed* (prefix) feature — of both
  * docs, since the argument applies to each side. The candidate equi-join
  * on prefix features is therefore exact (no false negatives), and a
  * full-feature join re-computes true cosine on the survivors.
  *
  * Every quantity the result depends on is fixed-point so the DuckDB
  * oracle replays it bit-for-bit: raw TF-IDF rounds to integer MICRO-units
  * (1e-6) before anything else; the L2 norm is an exact long sum of
  * squared micros; normalized weights re-round to micros; dot products
  * and prefix bounds are exact long sums of micro×micro PICO-units.
  * Doubles appear only in (identically-shaped, correctly-rounded) ln /
  * sqrt / division expressions and in the final cosine display value.
  * Long headroom: norm² ≤ n_tokens · (maxw_micro)² — past ~10⁹ unit-scale
  * feature weights per doc, shard the sum (same cap as Pca's fixed-point
  * Gram; documents are nowhere near it).
  *
  * 100 TB shape: tf/df/maxw are hash aggs on (doc, token-hash) /
  * token-hash; the only windows are per-document (millions of small
  * partitions); the candidate join carries 8-byte hashes and the verify
  * join 16-byte (hash, weight) pairs. Prefix indexing keeps the join's
  * posting lists to the high-impact features — the same df-style skew
  * armor as PPJoin's rare-first prefixes, since high-maxw tokens are the
  * high-idf (rare) ones. Every width past the feature stage is derived,
  * not configured (round 12, after the sf1.0 probe measured a 53×
  * cost bend): the exact candidate-multiset count Σ c(c−1)/2 sizes the
  * generation and distinct exchanges, and the verify joins pick
  * broadcast vs shuffled-hash from exact (row, feature) counts read off
  * the materialized vector cache — never from optimizer byte estimates.
  */
object CosinePairs {

  private val Micro = 1e6
  private val PicoPerUnit = 1e12

  // Candidate-distinct exchange width comes from the shared house
  // discipline (graft.operators.Widths: 2M rows/partition calibrated
  // round 11, session-width floor, 4096 cap). The sf1.0 probe measured
  // the fixed-width failure mode here: 399M raw candidate rows into a
  // 32-partition distinct spilled 106 GB in ONE stage and bent the cost
  // curve to 53x at 10x data (SCALE_PROBE_r12.json, calm children;
  // stage attribution in PLANS.md round 12).

  /** Below this measured vector-relation size the optimizer's own
    * broadcast decision is already correct (and pinned in
    * plan_snapshots.txt) — no hints, test fixtures keep their plan.
    */
  private val SmallVerifyBytes = 8L << 20

  /** Up to this measured DATA size the packed-vector relation is
    * broadcast DELIBERATELY for the verify joins. The round-4 broadcast
    * revert (see cosinePairs body) was about the OPTIMIZER
    * mis-estimating an unmeasured relation and re-dotting the
    * pre-distinct multiset; this gate instead reads exact (row, feature)
    * counts off the materialized cache, and the sf1.0 cliff it guards is
    * real: at ~19 MB the relation crosses Spark's 10 MB autoBroadcast
    * estimate and the verify joins silently fall to sort-merge, sorting
    * the whole pair+vector stream. The budget is DATA bytes, not
    * relation bytes: the UnsafeRow array-of-struct encoding plus the
    * HashedRelation map overhead cost ~3-4× the raw 16 B/feature, so
    * 64 MB here bounds each of the two broadcast builds at ~a quarter
    * GB in memory — conservative on any sane executor.
    */
  private val BroadcastVerifyBytes = 64L << 20

  /** Streamed bytes per partition for the shuffled-hash verify tier
    * (vectors too big to broadcast — the 100 TB path). SHJ never sorts
    * the streamed side, so this only bounds task granularity.
    */
  private val StreamBytesPerPart = 256L << 20

  /** Document pairs with TF-IDF cosine similarity ≥ `threshold`.
    * Output: (doc_a, doc_b, cosine), doc_a < doc_b.
    */
  def cosinePairs(documents: DataFrame, threshold: Double = 0.9): DataFrame =
    cosinePairs(documents, threshold, SmallVerifyBytes, BroadcastVerifyBytes)

  /** Tier thresholds exposed for the scale spec: forcing
    * `broadcastBytes = 0` exercises the shuffled-hash verify tier on a
    * test fixture; production callers use the calibrated defaults.
    */
  private[graft] def cosinePairs(documents: DataFrame, threshold: Double,
                                 smallBytes: Long,
                                 broadcastBytes: Long): DataFrame = {
    require(threshold > 0 && threshold <= 1,
      "threshold must be in (0, 1] — the prefix bound is undefined at 0")
    // round, not ceil: 0.9*1e12 lands a hair ABOVE 9e11 in binary, and
    // ceil would make the engine one pico-unit stricter than the oracle's
    // integer literal on knife-edge pairs
    val tPico = math.round(threshold * PicoPerUnit)
    val feats = features(documents)
    val prefixes = prefixFeatures(feats, tPico)

    // ADAPTIVE DISTINCT WIDTH (round 12): the candidate multiset is
    // Σ c(c−1)/2 over prefix posting lists — an EXACT pre-prune row
    // count for the self-join's output, one ms-scale aggregate over the
    // materialized prefix relation (the probe corpus: 266k cached rows).
    // It sizes (a) the generation side of the candidate join, so each
    // map task's shuffle-writer sort stays bounded at ~2M rows, and
    // (b) the distinct exchange, so the per-task hash-agg map can never
    // hit the sort-based fallback that spilled 106 GB at sf1.0. Floored
    // at the session width so small inputs keep their pinned plan (no
    // explicit exchange inserted), capped at 4096 like every adaptive
    // width in the library.
    val sessionParts = documents.sparkSession.sessionState.conf.numShufflePartitions
    val rawBound = prefixes.groupBy("hv").agg(count(lit(1)).as("c"))
      .agg(sum(col("c") * (col("c") - 1) / 2).cast("long")).head() match {
        case r if r.isNullAt(0) => 0L
        case r                  => r.getLong(0)
      }
    val distinctParts = graft.operators.Widths.partitionsFor(rawBound, sessionParts)

    // Pairwise Cauchy–Schwarz prune inside the join predicate: each prefix
    // row carries tn = ⌈√(Σ_tail wn²)⌉ at its feature. For any qualifying
    // pair consider its globally-EARLIEST shared feature h* — every shared
    // feature of the pair sits at position ≥ h* in BOTH docs' (shared)
    // global order, so dot ≤ ‖tail_a(h*)‖·‖tail_b(h*)‖ ≤ tn_a·tn_b, and
    // the h*-row-pair always survives the predicate: no false negatives.
    // It multiplies the two ACTUAL tails where the index-stage bound could
    // only compare each tail against the corpus-max partner norm. On
    // deep-prefix corpora it drops deep-shared-feature row-pairs before
    // they cost anything; on this template-heavy fixture the shared
    // features sit high in both prefixes, so the measured prune is ~1 %
    // (10.84 M → 10.75 M) — kept because it is free (two longs already in
    // the join row) and corpus-shape insurance.
    val prefixGen =
      if (distinctParts > sessionParts) prefixes.repartition(distinctParts, col("hv"))
      else prefixes
    val rawPairs = prefixGen.as("a")
      .join(prefixes.as("b"),
        col("a.hv") === col("b.hv") && col("a.doc_id") < col("b.doc_id") &&
          col("a.tn") * col("b.tn") >= tPico)
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))

    // exact verify: each doc's features pack into ONE hv-sorted sparse
    // vector, and a codegen merge-walk computes the exact pico dot per
    // candidate row. The alternative (explode features, equi-join on hv,
    // re-aggregate per pair) shuffles Σ|shared| rows per candidate —
    // measured 29 s vs ~4 s at sf0.1 on self-similar corpora where
    // candidates are ~10 M. Same long arithmetic, same result.
    val docVecs = graft.Caching.materialize(feats.groupBy("doc_id")
      .agg(array_sort(collect_list(struct(col("hv"), col("wn")))).as("fv")))

    // Distinct FIRST, then verify joins: each candidate pair is verified
    // exactly once. A broadcast-verify variant (probe the raw 26 M-row
    // pre-distinct multiset against broadcast vectors, dedup the
    // survivors) was tried and REVERTED in round 4: the optimizer's
    // sizeInBytes estimate for the packed-vector table wildly
    // understates the in-memory hash-relation (arrays of structs), so
    // the "under budget" branch built a multi-hundred-MB broadcast and
    // re-dotted 2.4× the pairs — BENCH_r04 measured it at 22.6 s
    // steady-state / 237 s cold vs 3.96 s for this formulation. The
    // round-12 tiers below are the opposite discipline: exact counts
    // off the materialized caches, POST-distinct verify, and the
    // explicit broadcast only up to a measured budget.
    val preDistinct =
      if (distinctParts > sessionParts)
        rawPairs.repartition(distinctParts, col("doc_a"), col("doc_b"))
      else rawPairs
    val cand = preDistinct.distinct()

    // exact vector-relation size off the materialized cache: one agg
    // over n_docs cached rows (never an optimizer estimate — see the
    // round-4 revert above)
    val vstats = docVecs.agg(count(lit(1)).as("n"),
      sum(size(col("fv"))).as("nf")).head()
    val nDocsV = if (vstats.isNullAt(0)) 0L else vstats.getLong(0)
    val nFeatsV = if (vstats.isNullAt(1)) 0L else vstats.getLong(1)
    val vecBytes = nFeatsV * 16L + nDocsV * 48L

    val vA = docVecs.select(col("doc_id").as("doc_a"), col("fv").as("fva"))
    val vB = docVecs.select(col("doc_id").as("doc_b"), col("fv").as("fvb"))
    val joined =
      if (vecBytes <= smallBytes) {
        // tiny corpus: the optimizer broadcasts on its own — the pinned
        // test-fixture plan, untouched
        cand.join(vA, "doc_a").join(vB, "doc_b")
      } else if (vecBytes <= broadcastBytes) {
        // measured-size broadcast: keeps both verify joins BHJ across
        // the 10 MB autoBroadcast estimate cliff (the sf1.0 probe sat
        // at ~19 MB — sort-merge there sorts the whole pair+vector
        // stream)
        cand.join(broadcast(vA), "doc_a").join(broadcast(vB), "doc_b")
      } else {
        // 100 TB tier: vectors exceed any sane broadcast. Shuffled-hash
        // joins build on the (bounded) vector side and STREAM the pair
        // rows — no sort of the wide pair+vector stream, ever. Widths
        // keep streamed bytes per task bounded; the doc_b re-key is the
        // one unavoidable wide exchange (each pair must meet its second
        // vector somewhere).
        val avgVec = 16L * nFeatsV / math.max(1L, nDocsV)
        val streamParts = math.min(4096L, math.max(sessionParts.toLong,
          rawBound * (24L + avgVec) / StreamBytesPerPart)).toInt
        cand.repartition(streamParts, col("doc_a"))
          .join(vA.hint("shuffle_hash"), "doc_a")
          .repartition(streamParts, col("doc_b"))
          .join(vB.hint("shuffle_hash"), "doc_b")
      }
    val verified = joined
      .select(col("doc_a"), col("doc_b"),
        graft.functions.VectorFunctions.sorted_weight_dot(
          col("fva"), col("fvb")).as("dot_pico"))
      .filter(col("dot_pico") >= tPico)
    verified.select(col("doc_a"), col("doc_b"),
      (col("dot_pico").cast("double") / PicoPerUnit).as("cosine"))
  }

  /** L2-normalized micro-unit TF-IDF features (doc_id, hv, wn) — the
    * first stage of [[cosinePairs]] (profiled in OPTIMIZATION_r13.md).
    * Persisted; release via the library cache contract.
    */
  private[graft] def features(documents: DataFrame): DataFrame = {
    // (doc, token) term frequencies; tokens fold to 60-bit md5 ids (hv) so
    // every downstream join moves longs, not strings — md5 (not xxhash64)
    // because the oracle must derive the identical ids (see Dedup.md5Base60)
    val toks = documents
      .select(col("doc_id"), explode(split(trim(col("text")), "\\s+")).as("raw"))
      .filter(col("raw") =!= "")
      .select(col("doc_id"), lower(col("raw")).as("token"))
    val tf = toks.groupBy("doc_id", "token").agg(count(lit(1)).as("tf"))
      .select(col("doc_id"), Dedup.md5Base60(col("token")).as("hv"), col("tf"))
    val dfreq = tf.groupBy("hv").agg(count(lit(1)).as("df"))
    val nDocs = documents.agg(count(lit(1)).as("n_docs"))

    // raw tf·ln(N/df) → micro-units, half-up; df == N tokens carry zero
    // information (idf 0) and drop here on both engines
    val wRaw = tf.join(dfreq, "hv").crossJoin(broadcast(nDocs))
      .select(col("doc_id"), col("hv"),
        floor(col("tf").cast("double") *
          log(col("n_docs").cast("double") / col("df").cast("double")) *
          Micro + 0.5).cast("long").as("w_micro"))
      .filter(col("w_micro") > 0)

    // exact L2 normalization: long norm² of micros, one correctly-rounded
    // sqrt + division, re-round to micros (wn ≤ 1e6 by construction)
    val norms = wRaw.groupBy("doc_id")
      .agg(sum(col("w_micro") * col("w_micro")).as("norm2"))
    wRaw.join(norms, "doc_id")
      .select(col("doc_id"), col("hv"),
        floor(col("w_micro").cast("double") * Micro /
          sqrt(col("norm2").cast("double")) + 0.5).cast("long").as("wn"))
      .filter(col("wn") > 0)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
  }

  /** Indexed (prefix) features of every document under the dual tail
    * bound — the candidate-generation stage of [[cosinePairs]], shared
    * with the dev profiler. Persisted.
    */
  private[graft] def prefixFeatures(feats: DataFrame, tPico: Long): DataFrame = {
    // per-token max normalized weight = the partner-side bound per feature
    val maxw = feats.groupBy("hv").agg(max(col("wn")).as("maxw"))

    // Half-up rounding lets a partner's ACTUAL norm √(Σ wn²) land a few
    // micros above 1e6, so bound (2) must not hardcode the nominal unit
    // norm — a knife-edge pair reachable only through that inflation
    // would be wrongly pruned. The correct partner factor is the corpus
    // maximum rounded-norm, one scalar agg over the persisted features
    // (bounded driver state, like PageRank's N); ceil on both sqrt's
    // keeps the product an over-estimate of the true Cauchy–Schwarz
    // bound, preserving exactness.
    // Guarded scalar: on an EMPTY feature relation (empty corpus, or an
    // all-duplicates corpus where every token has df==N so every idf-0
    // weight is filtered out) the global max aggregate returns one NULL
    // row — getLong would NPE on exactly the degenerate input a dedup
    // pipeline can see. No features ⇒ no candidate pairs ⇒ empty result.
    val maxN2 = feats.groupBy("doc_id").agg(sum(col("wn") * col("wn")).as("n2"))
      .agg(max(col("n2")).as("mx")).head()
    if (maxN2.isNullAt(0))
      return feats.limit(0).select(col("doc_id"), col("hv"), lit(0L).as("tn"))
    val maxPartnerNorm = math.ceil(math.sqrt(maxN2.getLong(0).toDouble)).toLong

    // global feature order: (maxw desc, hv asc). A feature is indexed iff
    // the dot contribution of the suffix starting at it can still reach t,
    // under the TIGHTER of two exact bounds:
    //   (1) Σ_tail wn·maxw          — the AllPairs partner-max bound
    //   (2) ‖tail‖₂ · ‖partner‖₂ ≤ ⌈√(Σ_tail wn²)⌉ · max-norm   — Cauchy–Schwarz
    // On template-heavy corpora maxw saturates at ~1e6 and bound (1)
    // degenerates to the suffix L1 (at sf0.1 it indexed 70 % of all
    // features); bound (2) collapses the prefix to the top ~(1−t²) of
    // each doc's squared mass (measured 81 k → 25.6 k prefix rows at
    // t = 0.9 — candidate count stays corpus-bound, ~10.8 M here,
    // because template groups genuinely share their top-mass tokens;
    // see the verify-stage note below). Correctness: the
    // globally-earliest shared feature of any qualifying pair must sit in
    // BOTH prefixes (if it didn't, every shared feature would lie in that
    // side's tail, whose bound is < t — contradiction), so the prefix
    // equi-join cannot miss a pair.
    val ordered = feats.join(maxw, "hv")
    val tailWin = Window.partitionBy("doc_id")
      .orderBy(col("maxw").desc, col("hv").asc)
      .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    // eagerly materialized: both sides of the candidate self-join consume
    // this from concurrent stages (see graft.Caching)
    graft.Caching.materialize(ordered
      .withColumn("tail_dot_bound", sum(col("wn") * col("maxw")).over(tailWin))
      .withColumn("tail_norm2", sum(col("wn") * col("wn")).over(tailWin))
      .filter(col("tail_dot_bound") >= tPico &&
        ceil(sqrt(col("tail_norm2").cast("double"))).cast("long") *
          maxPartnerNorm >= tPico)
      // tn = ⌈‖tail at this feature‖⌉ rides along for the candidate
      // join's pairwise Cauchy–Schwarz predicate (see cosinePairs)
      .select(col("doc_id"), col("hv"),
        ceil(sqrt(col("tail_norm2").cast("double"))).cast("long").as("tn")))
  }
}
