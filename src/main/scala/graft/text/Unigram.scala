package graft.text

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Unigram-LM subword tokenizer (Kudo, ACL 2018 — the SentencePiece
  * "unigram" model), the OTHER tokenizer family modern LLM pipelines
  * train beside [[Bpe]]: a vocabulary of pieces with probabilities,
  * seeded from frequent substrings, refined by EM over the segmentation
  * lattice, decoded by Viterbi (each word's single most probable
  * segmentation).
  *
  * Deviations from the paper, chosen for exact cross-engine replay and
  * documented here rather than hidden: (a) HARD EM — the E-step commits
  * each word type to its Viterbi segmentation instead of accumulating
  * forward-backward expected counts (Viterbi-EM, the standard hard
  * variant); (b) pruning keeps the top pieces by re-estimated COUNT
  * rather than by held-out likelihood loss; (c) all probabilities are
  * NANO-QUANTIZED integers — p_nano = cnt·10⁹ div N — and the Viterbi
  * recursion multiplies-then-requantizes in pure BIGINT
  * (`(score·p) div 10⁹`), so every score, tie-break, and count is exact
  * integer arithmetic that DuckDB replays bit-for-bit (the repo-wide
  * micro-quantization discipline; floats appear nowhere).
  *
  * Scale design (the part that matters at 100 TB): like [[Bpe]], the
  * model trains over the WORD-TYPE frequency table — one corpus pass
  * builds (word, freq), vocabulary-sized where the corpus is
  * trillion-token — and each EM round is ONE map-only Viterbi projection
  * over that table (the whole DP is a staged codegen expression chain,
  * no UDF, no join, no shuffle) plus one bounded hash agg. The vocab is
  * bounded driver model state (≤ alphabet + `vocabMultis` rows, the
  * k-means-centroid pattern): collected each round, re-embedded as a
  * map literal in the next round's plan.
  *
  * Viterbi DP encoding: word length is capped at [[MaxWordLen]] = 12
  * and pieces at [[MaxPieceLen]] = 4, so the whole per-word lattice
  * unrolls into 12 staged columns. Each dp cell packs
  * `score·256 + (15−k)·16 + (15−j)` into ONE BIGINT — score the
  * nano-prob of the best prefix segmentation, k its piece count, j the
  * start of its last piece — so `greatest()` over candidate cells IS
  * the Viterbi argmax with the deterministic tie-break
  * (score desc, fewer pieces, longest last piece). Score ≤ 10⁹ keeps
  * the packed cell under 2.6·10¹¹ and the pre-division product
  * score·p ≤ 10¹⁸ inside BIGINT on both engines.
  *
  * The corpus-total guard `N ≤ 10⁹` keeps every piece's p_nano ≥ 1
  * (a vocab piece must never round to probability zero, or Viterbi
  * goes blind); a corpus that trips it pre-aggregates or raises the
  * quantizer — loudly, via `require`, never silently.
  */
object Unigram {

  val MaxWordLen = 12
  val MaxPieceLen = 4
  val Nano = 1000000000L

  /** Caps chosen so the packed-BIGINT cell layout holds: k, j ≤ 15. */
  require(MaxWordLen <= 15 && MaxPieceLen <= MaxWordLen)

  // ------------------------------------------------------- word types

  /** One corpus pass → (word, freq): lowercase-alpha word types of
    * length ≤ [[MaxWordLen]] (the [[Bpe.encodeCorpus]] token filter
    * plus the DP length cap — both mirrored by the oracle).
    */
  def wordTypes(documents: DataFrame): DataFrame =
    documents
      .select(explode(TextOps.tokens(col("text"))).as("word"))
      .filter(col("word").rlike("^[a-z]+$") &&
        length(col("word")) <= MaxWordLen)
      .groupBy("word").agg(count(lit(1)).as("freq"))

  /** Seed counts: every substring of length 1..[[MaxPieceLen]] of every
    * word type, weighted by word frequency (Kudo seeds from frequent
    * substrings; the enumeration is a row-local nested transform).
    */
  def seedCounts(wt: DataFrame): DataFrame =
    wt.select(col("freq"), explode(expr(
        s"""flatten(transform(sequence(1, length(word)), s ->
           |  transform(sequence(s, least(s + ${MaxPieceLen - 1}, length(word))),
           |    e -> substring(word, s, e - s + 1))))""".stripMargin)).as("piece"))
      .groupBy("piece").agg(sum("freq").as("cnt"))

  /** Prune to the working vocabulary: ALL single characters (Kudo keeps
    * the alphabet unprunable — full coverage) plus the top `maxMultis`
    * longer pieces by (cnt desc, piece asc).
    */
  def pruneVocab(counts: DataFrame, maxMultis: Int): DataFrame = {
    val singles = counts.filter(length(col("piece")) === 1)
    // top-maxMultis by (cnt desc, piece asc): orderBy+limit plans as
    // TakeOrderedAndProject — per-partition heaps of maxMultis rows, no
    // global sort. The candidate relation is MaxPieceLen·Σ|word-type|
    // rows (word-TYPE-count scaled: 10⁷-10⁸ at 100 TB by the corpus's
    // own Heaps'-law curve), so the row_number() window this replaces
    // was a one-partition sort over tens of millions of rows.
    val multis = counts.filter(length(col("piece")) > 1)
      .orderBy(col("cnt").desc, col("piece").asc)
      .limit(maxMultis)
    singles.unionByName(multis)
  }

  /** Driver-collected vocabulary with nano-probs: (piece, cnt, p_nano),
    * p_nano = cnt·10⁹ div N over the vocab total N — bounded model
    * state (≤ alphabet + maxMultis rows).
    */
  def collectVocab(vocab: DataFrame): Seq[(String, Long, Long)] = {
    val rows = vocab.collect().map(r => (r.getString(0), r.getLong(1)))
    require(rows.nonEmpty, "unigram: empty vocabulary (no [a-z]+ words?)")
    val n = rows.map(_._2).sum
    require(n <= Nano,
      s"unigram: vocab total $n exceeds the nano quantizer $Nano - a " +
        "piece's probability would round to zero and Viterbi goes " +
        "blind; pre-aggregate the corpus or raise the quantizer")
    rows.toSeq.sortBy(_._1).map { case (p, c) => (p, c, c * Nano / n) }
  }

  // --------------------------------------------------- Viterbi lattice

  /** The whole per-word DP as ONE row-local `aggregate` fold over
    * positions 1..|word|, accumulating the ARRAY of packed cells
    * (acc[i+1] = dp_i, 1-based). A fold keeps the expression tree O(1)
    * — the first cut staged dp_1..dp_12 as twelve chained projections,
    * and Catalyst's projection-collapse inlined each cell into its four
    * consumers, exponentiating the tree (the optimizer sat minutes in
    * CaseWhen transforms before a single task ran). Lambda-local
    * `element_at(acc, …)` references are runtime array reads, immune to
    * that blowup.
    *
    * Candidate cell for last-piece length l at position i (j = i−l):
    * `((dp_j div 256)·p div 10⁹)·256 + (((dp_j div 16) % 16) − 1)·16
    * + (15 − j)`; invalid lengths (l > i) contribute the −1 sentinel,
    * below every valid cell (scores are non-negative).
    */
  private def dpSql: String = {
    val cands = (1 to MaxPieceLen).map { l =>
      s"""CASE WHEN $l <= i THEN
         |  ((element_at(acc, i - $l + 1) div 256) *
         |    coalesce(element_at(pmap, substring(word, i - $l + 1, $l)),
         |             CAST(0 AS BIGINT)) div $Nano) * 256
         |  + (((element_at(acc, i - $l + 1) div 16) % 16) - 1) * 16
         |  + (15 - (i - $l))
         | ELSE CAST(-1 AS BIGINT) END""".stripMargin.replace("\n", " ")
    }
    s"""aggregate(sequence(1, length(word)),
       |  array(CAST(${Nano * 256L + 15L * 16L + 15L} AS BIGINT)),
       |  (acc, i) -> concat(acc, array(greatest(${cands.mkString(", ")}))))"""
      .stripMargin.replace("\n", " ")
  }

  /** Piece count of the Viterbi segmentation, read from the final
    * packed cell of a staged `dp` column.
    */
  private def kFinalExpr: String =
    s"15 - ((element_at(dp, length(word) + 1) div 16) % 16)"

  /** Backtrack positions as a second fold: spath[t+1] = s_t with
    * s_0 = |word|, s_t = jstar(s_{t−1}) = 15 − (dp[s_{t−1}] % 16).
    */
  private def spathSql: String =
    s"""aggregate(sequence(1, $MaxWordLen),
       |  array(CAST(length(word) AS BIGINT)),
       |  (acc, t) -> concat(acc, array(
       |    CASE WHEN element_at(acc, t) > 0
       |         THEN 15 - (element_at(dp,
       |                CAST(element_at(acc, t) + 1 AS INT)) % 16)
       |         ELSE CAST(0 AS BIGINT) END)))"""
      .stripMargin.replace("\n", " ")

  /** Pieces in reading order from the staged `spath` column: step t
    * spans (s_t, s_{t−1}] — emitted back-to-front, then reversed.
    */
  private def piecesSql: String =
    s"""reverse(filter(transform(sequence(1, $MaxWordLen), t ->
       |  CASE WHEN element_at(spath, t) > 0
       |       THEN substring(word,
       |              CAST(element_at(spath, t + 1) + 1 AS INT),
       |              CAST(element_at(spath, t) - element_at(spath, t + 1) AS INT))
       |       END), x -> x IS NOT NULL))"""
      .stripMargin.replace("\n", " ")

  private def pmapCol(probs: Seq[(String, Long, Long)]): Column =
    map(probs.flatMap { case (p, _, nano) => Seq(lit(p), lit(nano)) }: _*)

  /** Stage the packed-cell DP array beside the existing columns. The
    * lambda-local `element_at` reads keep each downstream consumer a
    * runtime array access rather than an inlined copy of the fold.
    */
  private def withDp(staged: DataFrame): DataFrame =
    staged.withColumn("dp", expr(dpSql))

  /** Segment each word type: (word, freq, pieces ARRAY<STRING>) — the
    * E-step. dp and spath are staged as bound attributes between the
    * folds (each is consumed more than once downstream).
    */
  def segmentPieces(wt: DataFrame, probs: Seq[(String, Long, Long)]): DataFrame =
    withDp(wt.withColumn("pmap", pmapCol(probs)))
      .selectExpr("word", "freq", s"($spathSql) AS spath")
      .selectExpr("word", "freq", s"($piecesSql) AS pieces")

  /** M-step: re-estimated piece counts from the committed segmentations,
    * with a +1 Laplace floor on every alphabet character (so a char
    * chosen nowhere this round survives into the next — the unprunable-
    * alphabet rule again).
    */
  def mStepCounts(segmented: DataFrame, wt: DataFrame): DataFrame = {
    val chosen = segmented
      .select(col("freq"), explode(col("pieces")).as("piece"))
      .groupBy("piece").agg(sum("freq").as("cnt"))
    val alphabet = wt.select(explode(expr(
        "transform(sequence(1, length(word)), i -> substring(word, i, 1))"))
        .as("piece"))
      .distinct()
    alphabet.join(chosen, Seq("piece"), "full_outer")
      .select(col("piece"),
        (coalesce(col("cnt"), lit(0L)) +
          when(length(col("piece")) === 1, 1L).otherwise(0L)).as("cnt"))
  }

  // ---------------------------------------------------------- training

  /** Full trainer: seed → `rounds` hard-EM rounds → final vocabulary
    * with nano-probs, computed DISTRIBUTED (the returned relation is the
    * last M-step's DataFrame, not driver literals).
    *
    * Output: (piece, piece_len, cnt, p_nano).
    */
  def trainVocab(documents: DataFrame, seedMultis: Int = 60,
                 vocabMultis: Int = 40, rounds: Int = 2): DataFrame = {
    require(rounds >= 1 && rounds <= 4, "rounds must be in [1, 4]")
    val wt = graft.Caching.materialize(wordTypes(documents))
    // materialize each round's counts before pruneVocab: its singles
    // and top-multis branches are two independent plan subtrees, and
    // the final output consumes the last round's vocab from BOTH the
    // main side and the broadcast total — without the cache the E+M
    // segmentation DP executed 2x per collected round and 4x under the
    // final action (round-14 profile: ~16 repeated 32-task mini-jobs)
    var vocabDf = pruneVocab(graft.Caching.materialize(seedCounts(wt)),
      seedMultis)
    for (_ <- 1 to rounds) {
      val probs = collectVocab(vocabDf)
      vocabDf = pruneVocab(graft.Caching.materialize(
        mStepCounts(segmentPieces(wt, probs), wt)), vocabMultis)
    }
    val tot = vocabDf.agg(sum("cnt").as("n"))
    vocabDf.crossJoin(broadcast(tot))
      .select(col("piece"), length(col("piece")).cast("int").as("piece_len"),
        col("cnt"), expr(s"(cnt * $Nano) div n").as("p_nano"))
  }

  /** Viterbi-encode with an already-trained model ([[finalProbs]]). */
  def encodeStatsWith(documents: DataFrame,
                      probs: Seq[(String, Long, Long)]): DataFrame = {
    val pmap = map(probs.flatMap { case (p, _, nano) =>
      Seq(lit(p), lit(nano)) }: _*)
    val staged = documents
      .select(col("doc_id"), explode(TextOps.tokens(col("text"))).as("word"))
      .filter(col("word").rlike("^[a-z]+$") &&
        length(col("word")) <= MaxWordLen)
      .withColumn("pmap", pmap)
    withDp(staged)
      .selectExpr("doc_id", s"($kFinalExpr) AS n_sym")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_words"),
        sum(col("n_sym")).cast("long").as("n_pieces"))
  }

  /** Tokenizer fertility by source — characters per unigram piece,
    * beside [[Bpe.fertilityBySource]] so the tokenizer-comparison user
    * reads both families from the same grain.
    *
    * Output: (source, n_words, n_word_chars, n_pieces, fertility_micro,
    * fertility).
    */
  def fertilityBySource(documents: DataFrame, seedMultis: Int = 60,
                        vocabMultis: Int = 40, rounds: Int = 2): DataFrame =
    fertilityBySourceWith(documents,
      finalProbs(documents, seedMultis, vocabMultis, rounds))

  /** Fertility with an already-trained model — see [[encodeStatsWith]]. */
  def fertilityBySourceWith(documents: DataFrame,
                            probs: Seq[(String, Long, Long)]): DataFrame = {
    val pmap = map(probs.flatMap { case (p, _, nano) =>
      Seq(lit(p), lit(nano)) }: _*)
    val staged = documents
      .select(col("source"), explode(TextOps.tokens(col("text"))).as("word"))
      .filter(col("word").rlike("^[a-z]+$") &&
        length(col("word")) <= MaxWordLen)
      .withColumn("pmap", pmap)
    withDp(staged)
      .selectExpr("source", "length(word) AS n_chars", s"($kFinalExpr) AS n_sym")
      .groupBy("source")
      .agg(count(lit(1)).as("n_words"),
        sum(col("n_chars")).cast("long").as("n_word_chars"),
        sum(col("n_sym")).cast("long").as("n_pieces"))
      .select(col("source"), col("n_words"), col("n_word_chars"),
        col("n_pieces"),
        expr("(1000000 * n_word_chars) div n_pieces").as("fertility_micro"),
        (floor(col("n_word_chars").cast("double") /
          col("n_pieces").cast("double") * 1e6 + 0.5) / 1e6).as("fertility"))
  }

  /** The trained model as driver state, shared by encode/fertility. */
  def finalProbs(documents: DataFrame, seedMultis: Int = 60,
                 vocabMultis: Int = 40,
                 rounds: Int = 2): Seq[(String, Long, Long)] = {
    val wt = graft.Caching.materialize(wordTypes(documents))
    // same pruneVocab dual-branch materialization as trainVocab
    var vocabDf = pruneVocab(graft.Caching.materialize(seedCounts(wt)),
      seedMultis)
    var probs = collectVocab(vocabDf)
    for (_ <- 1 to rounds) {
      vocabDf = pruneVocab(graft.Caching.materialize(
        mStepCounts(segmentPieces(wt, probs), wt)), vocabMultis)
      probs = collectVocab(vocabDf)
    }
    wt.unpersist()
    probs
  }

  // ------------------------------------------------- local reference

  /** Pure-Scala reference trainer — the identical integer algorithm
    * over an in-memory corpus, for the differential spec proving the
    * distributed trainer exact ([[Bpe.trainMergesLocal]] discipline).
    * Returns (piece, cnt, p_nano) after `rounds` hard-EM rounds.
    */
  def trainLocal(corpus: Seq[String], seedMultis: Int = 60,
                 vocabMultis: Int = 40,
                 rounds: Int = 2): Seq[(String, Long, Long)] = {
    val wt: Map[String, Long] = corpus
      .flatMap(_.trim.split("\\s+"))
      .filter(w => w.nonEmpty && w.matches("^[a-z]+$") && w.length <= MaxWordLen)
      .groupBy(identity).map { case (w, ws) => w -> ws.size.toLong }
    require(wt.nonEmpty, "unigram: empty vocabulary")

    def withProbs(counts: Map[String, Long]): Map[String, (Long, Long)] = {
      val n = counts.values.sum
      require(n <= Nano, s"vocab total $n exceeds quantizer")
      counts.map { case (p, c) => p -> (c, c * Nano / n) }
    }
    def prune(counts: Map[String, Long], maxMultis: Int): Map[String, Long] = {
      val singles = counts.filter(_._1.length == 1)
      val multis = counts.filter(_._1.length > 1).toSeq
        .sortBy { case (p, c) => (-c, p) }.take(maxMultis)
      singles ++ multis
    }
    val seed = wt.toSeq.flatMap { case (w, f) =>
      for (s <- 0 until w.length;
           e <- (s + 1) to math.min(s + MaxPieceLen, w.length))
        yield w.substring(s, e) -> f
    }.groupBy(_._1).map { case (p, xs) => p -> xs.map(_._2).sum }
    var vocab = prune(seed, seedMultis)
    for (_ <- 1 to rounds) {
      val probs = withProbs(vocab).map { case (p, (_, nano)) => p -> nano }
      val chosen = wt.toSeq.flatMap { case (w, f) =>
        viterbiLocal(w, probs).map(_ -> f)
      }.groupBy(_._1).map { case (p, xs) => p -> xs.map(_._2).sum }
      val alphabet = wt.keys.flatMap(_.toSeq).map(_.toString).toSet
      val floored = (alphabet.map(c => c -> 0L).toMap ++ Map.empty) map {
        case (c, _) => c -> (chosen.getOrElse(c, 0L) + 1L)
      }
      val merged = (chosen.filter(_._1.length > 1)) ++ floored
      vocab = prune(merged, vocabMultis)
    }
    val n = vocab.values.sum
    vocab.toSeq.sortBy(_._1).map { case (p, c) => (p, c, c * Nano / n) }
  }

  // ------------------------------------------- greedy MaxMatch encode

  /** Greedy longest-match (MaxMatch / WordPiece-style) segmentation
    * count over the SAME trained vocabulary — the third tokenizer
    * family's encode rule beside BPE's merge replay and the unigram
    * Viterbi. Running both encoders over one vocabulary isolates the
    * segmentation ALGORITHM: MaxMatch commits to the longest prefix at
    * each boundary; Viterbi optimizes the whole word, so
    * `n_pieces(viterbi)` can beat greedy where a long first piece
    * forces single-char fallout later.
    *
    * The whole scan is ONE packed-BIGINT fold (acc = next_boundary·16
    * + count; positions before the boundary pass through), map-only
    * like the Viterbi encode. Characters absent from the vocabulary
    * fall back to single-char pieces.
    *
    * Output: per document (doc_id, n_words, n_pieces).
    */
  def maxMatchStats(documents: DataFrame,
                    probs: Seq[(String, Long, Long)]): DataFrame = {
    val staged = documents
      .select(col("doc_id"), explode(TextOps.tokens(col("text"))).as("word"))
      .filter(col("word").rlike("^[a-z]+$") &&
        length(col("word")) <= MaxWordLen)
      .withColumn("pmap", pmapCol(probs))
    staged
      .selectExpr("doc_id", s"($maxMatchSql) % 16 AS n_sym")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_words"),
        sum(col("n_sym")).cast("long").as("n_pieces"))
  }

  /** The greedy fold: at an unconsumed position i (0-based), take the
    * longest vocabulary piece starting there (1 if none), advance the
    * boundary, bump the count.
    */
  private def maxMatchSql: String = {
    val pick = (MaxPieceLen to 2 by -1).map { l =>
      s"""WHEN i + $l <= length(word) AND
         |  element_at(pmap, substring(word, i + 1, $l)) IS NOT NULL
         |  THEN $l""".stripMargin.replace("\n", " ")
    }.mkString(" ")
    s"""aggregate(sequence(0, length(word) - 1), CAST(0 AS BIGINT),
       |  (acc, i) -> CASE WHEN i < acc div 16 THEN acc
       |    ELSE (i + CASE $pick ELSE 1 END) * 16 + (acc % 16) + 1 END)"""
      .stripMargin.replace("\n", " ")
  }

  /** Three-way tokenizer comparison per source: characters per piece
    * under BPE (caller-supplied merge chain counts), unigram Viterbi,
    * and greedy MaxMatch over the unigram vocabulary — the
    * one-relation answer to "which tokenizer family fits this
    * corpus". Output: (source, n_words, n_word_chars, n_unigram_pieces,
    * n_maxmatch_pieces, fert_unigram_micro, fert_maxmatch_micro).
    */
  def tokenizerCompare(documents: DataFrame,
                       probs: Seq[(String, Long, Long)]): DataFrame = {
    val staged = documents
      .select(col("source"), explode(TextOps.tokens(col("text"))).as("word"))
      .filter(col("word").rlike("^[a-z]+$") &&
        length(col("word")) <= MaxWordLen)
      .withColumn("pmap", pmapCol(probs))
    withDp(staged)
      .selectExpr("source", "length(word) AS n_chars",
        s"($kFinalExpr) AS n_uni", s"($maxMatchSql) % 16 AS n_mm")
      .groupBy("source")
      .agg(count(lit(1)).as("n_words"),
        sum(col("n_chars")).cast("long").as("n_word_chars"),
        sum(col("n_uni")).cast("long").as("n_unigram_pieces"),
        sum(col("n_mm")).cast("long").as("n_maxmatch_pieces"))
      .select(col("source"), col("n_words"), col("n_word_chars"),
        col("n_unigram_pieces"), col("n_maxmatch_pieces"),
        expr("(1000000 * n_word_chars) div n_unigram_pieces")
          .as("fert_unigram_micro"),
        expr("(1000000 * n_word_chars) div n_maxmatch_pieces")
          .as("fert_maxmatch_micro"))
  }

  // ------------------------------------------------ DuckDB oracle twins

  /** The oracle replays the ENTIRE training pipeline — word types, seed
    * substring counts, both hard-EM rounds (each a recursive-CTE Viterbi
    * over the word-type relation + backtrack + M-step + prune) — in
    * DuckDB SQL, then reads the final vocabulary / encodes the corpus
    * with it. Two engine-specific notes, both load-bearing:
    *
    *  - piece-probability lookups inside the recursion are LEFT JOINs
    *    against the vocab CTE, NOT correlated scalar subqueries: DuckDB
    *    1.0 silently returns NULL for a correlated subquery over a
    *    MATERIALIZED CTE inside a recursive CTE (observed, not
    *    documented), and without MATERIALIZED every lookup re-inlines
    *    the whole upstream EM chain — 82 s vs 0.1 s at sf0.001;
    *  - every non-recursive CTE is MATERIALIZED for the same reason
    *    (each EM round references the chain prefix many times).
    *
    * The replay hardcodes the query surface's parameters
    * (seedMultis=60, vocabMultis=40, rounds=2).
    */
  private val Mz = "MATERIALIZED "

  private def wtCteSql: String =
    s"""wt AS $Mz(
       |  SELECT word, CAST(COUNT(*) AS BIGINT) AS freq
       |  FROM (SELECT unnest(regexp_split_to_array(trim(text), '\\s+')) AS word
       |        FROM documents WHERE length(trim(text)) > 0)
       |  WHERE regexp_matches(word, '^[a-z]+$$') AND length(word) <= $MaxWordLen
       |  GROUP BY word)""".stripMargin

  private def seedCteSql: String =
    s"""seedc AS $Mz(
       |  SELECT piece, CAST(SUM(freq) AS BIGINT) AS cnt
       |  FROM (SELECT freq, unnest(flatten(list_transform(range(1, length(word)+1), s ->
       |          list_transform(range(s, least(s+${MaxPieceLen - 1}, length(word))+1), e ->
       |            substring(word, CAST(s AS INT), CAST(e - s + 1 AS INT)))))) AS piece
       |        FROM wt)
       |  GROUP BY piece)""".stripMargin

  private def pruneCteSql(cin: String, out: String, maxMultis: Int): String =
    s"""$out AS $Mz(
       |  SELECT piece, cnt FROM $cin WHERE length(piece) = 1
       |  UNION ALL
       |  SELECT piece, cnt FROM (
       |    SELECT piece, cnt, row_number() OVER (ORDER BY cnt DESC, piece ASC) AS r
       |    FROM $cin WHERE length(piece) > 1) WHERE r <= $maxMultis)""".stripMargin

  private def probsCteSql(vin: String, out: String): String =
    s"""$out AS $Mz(
       |  SELECT piece, cnt,
       |         CAST(cnt * $Nano // (SELECT SUM(cnt) FROM $vin) AS BIGINT) AS p_nano
       |  FROM $vin)""".stripMargin

  /** One Viterbi candidate for piece length l at position i+1 — the
    * identical packed-BIGINT cell arithmetic as [[dpSql]], with the
    * probability read from the l-th joined vocab alias.
    */
  private def vitCandSql(l: Int): String =
    s"""CASE WHEN $l <= v.i+1 THEN
       |  ((v.acc[v.i+2-$l] // 256) * coalesce(q$l.p_nano, 0) // $Nano) * 256
       |  + (((v.acc[v.i+2-$l] // 16) % 16) - 1) * 16 + (15 - (v.i+1-$l))
       | ELSE CAST(-1 AS BIGINT) END""".stripMargin.replace("\n", " ")

  private def vitCteSql(vname: String, out: String): String = {
    val joins = (1 to MaxPieceLen).map { l =>
      s"LEFT JOIN $vname q$l ON q$l.piece = " +
        s"CASE WHEN $l <= v.i+1 THEN substring(v.word, v.i+2-$l, $l) END"
    }.mkString("\n  ")
    val cands = (1 to MaxPieceLen).map(vitCandSql).mkString(", ")
    s"""$out AS (
       |  SELECT word, freq, 0 AS i,
       |         [CAST(${Nano * 256L + 15L * 16L + 15L} AS BIGINT)] AS acc FROM wt
       |  UNION ALL
       |  SELECT v.word, v.freq, v.i + 1, list_append(v.acc, greatest($cands))
       |  FROM $out v
       |  $joins
       |  WHERE v.i < length(v.word))""".stripMargin
  }

  /** Backtrack rows (word, freq, piece): s walks len → 0 via the packed
    * jstar field, emitting each last piece — [[spathSql]]'s twin.
    */
  private def btCteSql(vitOut: String, out: String): String =
    s"""$out AS (
       |  SELECT word, freq, acc, CAST(length(word) AS BIGINT) AS s,
       |         CAST(NULL AS VARCHAR) AS piece
       |  FROM $vitOut WHERE i = length(word)
       |  UNION ALL
       |  SELECT word, freq, acc, 15 - (acc[CAST(s AS INT) + 1] % 16) AS s2,
       |         substring(word, CAST(15 - (acc[CAST(s AS INT) + 1] % 16) AS INT) + 1,
       |                   CAST(s - (15 - (acc[CAST(s AS INT) + 1] % 16)) AS INT)) AS piece
       |  FROM $out WHERE s > 0)""".stripMargin

  private def mstepCteSql(btOut: String, out: String): String =
    s"""$out AS $Mz(
       |  SELECT coalesce(ch.piece, al.piece) AS piece,
       |         CAST(coalesce(ch.cnt, 0) +
       |              CASE WHEN length(coalesce(ch.piece, al.piece)) = 1
       |                   THEN 1 ELSE 0 END AS BIGINT) AS cnt
       |  FROM (SELECT piece, SUM(freq) AS cnt FROM $btOut
       |        WHERE piece IS NOT NULL GROUP BY piece) ch
       |  FULL OUTER JOIN (
       |    SELECT DISTINCT unnest(list_transform(range(1, length(word)+1),
       |      q -> substring(word, CAST(q AS INT), 1))) AS piece
       |    FROM wt) al
       |  ON ch.piece = al.piece)""".stripMargin

  /** The 2-round EM chain ending in the final vocabulary CTE `v3`. */
  private def trainChainSql: String = Seq(
    wtCteSql, seedCteSql,
    pruneCteSql("seedc", "v1", 60), probsCteSql("v1", "p1"),
    vitCteSql("p1", "vit1"), btCteSql("vit1", "bt1"), mstepCteSql("bt1", "m1"),
    pruneCteSql("m1", "v2", 40), probsCteSql("v2", "p2"),
    vitCteSql("p2", "vit2"), btCteSql("vit2", "bt2"), mstepCteSql("bt2", "m2"),
    pruneCteSql("m2", "v3", 40)).mkString(",\n")

  /** Chain extended with the final-model Viterbi per word TYPE and the
    * corpus-word relation: DuckDB encodes per type and joins (the
    * vocab-sized DP), where Spark re-runs the map-only DP per instance
    * (no shuffle) — same deterministic result, each engine's natural
    * shape.
    */
  private def encodeChainSql: String = Seq(
    trainChainSql, probsCteSql("v3", "p3"), vitCteSql("p3", "vit3"),
    s"""kfin AS $Mz(
       |  SELECT word, 15 - ((acc[length(word)+1] // 16) % 16) AS n_sym
       |  FROM vit3 WHERE i = length(word))""".stripMargin,
    s"""cw AS $Mz(
       |  SELECT doc_id, source, word FROM (
       |    SELECT doc_id, source,
       |           unnest(regexp_split_to_array(trim(text), '\\s+')) AS word
       |    FROM documents WHERE length(trim(text)) > 0)
       |  WHERE regexp_matches(word, '^[a-z]+$$')
       |    AND length(word) <= $MaxWordLen)""".stripMargin).mkString(",\n")

  /** DuckDB twin of [[trainVocab]] (defaults). */
  def trainOracleSql: String =
    s"""WITH RECURSIVE $trainChainSql
       |SELECT piece, CAST(length(piece) AS INT) AS piece_len, cnt,
       |       CAST(cnt * $Nano // (SELECT SUM(cnt) FROM v3) AS BIGINT) AS p_nano
       |FROM v3""".stripMargin

  /** DuckDB twin of [[encodeStatsWith]] over the default-trained model. */
  def encodeOracleSql: String =
    s"""WITH RECURSIVE $encodeChainSql
       |SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_words,
       |       CAST(SUM(k.n_sym) AS BIGINT) AS n_pieces
       |FROM cw JOIN kfin k USING (word) GROUP BY doc_id""".stripMargin

  /** DuckDB twin of [[fertilityBySource]] (defaults). */
  def fertilityOracleSql: String =
    s"""WITH RECURSIVE $encodeChainSql,
       |agg AS (
       |  SELECT source, CAST(COUNT(*) AS BIGINT) AS n_words,
       |         CAST(SUM(length(word)) AS BIGINT) AS n_word_chars,
       |         CAST(SUM(k.n_sym) AS BIGINT) AS n_pieces
       |  FROM cw JOIN kfin k USING (word) GROUP BY source)
       |SELECT source, n_words, n_word_chars, n_pieces,
       |       CAST((1000000 * CAST(n_word_chars AS HUGEINT)) // n_pieces AS BIGINT) AS fertility_micro,
       |       FLOOR(CAST(n_word_chars AS DOUBLE) / CAST(n_pieces AS DOUBLE) * 1e6 + 0.5) / 1e6 AS fertility
       |FROM agg""".stripMargin

  /** The greedy MaxMatch recursion per word TYPE against the final
    * vocabulary `p3`: (word, pos, cnt) advances by the longest matching
    * piece (1 on miss) until pos reaches the word length. The same
    * LEFT-JOIN-lookup discipline as [[vitCteSql]].
    */
  private def mmChainSql: String = {
    val joins = (MaxPieceLen to 2 by -1).map { l =>
      s"LEFT JOIN p3 q$l ON q$l.piece = " +
        s"CASE WHEN m.pos + $l <= length(m.word) " +
        s"THEN substring(m.word, CAST(m.pos + 1 AS INT), $l) END"
    }.mkString("\n  ")
    val pick = (MaxPieceLen to 2 by -1)
      .map(l => s"WHEN q$l.piece IS NOT NULL THEN $l").mkString(" ")
    s"""mm AS (
       |  SELECT word, CAST(0 AS BIGINT) AS pos, CAST(0 AS BIGINT) AS cnt FROM wt
       |  UNION ALL
       |  SELECT m.word, m.pos + CASE $pick ELSE 1 END, m.cnt + 1
       |  FROM mm m
       |  $joins
       |  WHERE m.pos < length(m.word)),
       |mmfin AS $Mz(
       |  SELECT word, cnt AS n_mm FROM mm WHERE pos = length(word))""".stripMargin
  }

  /** DuckDB twin of [[maxMatchStats]] (defaults). */
  def maxMatchOracleSql: String =
    s"""WITH RECURSIVE $encodeChainSql,
       |$mmChainSql
       |SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_words,
       |       CAST(SUM(f.n_mm) AS BIGINT) AS n_pieces
       |FROM cw JOIN mmfin f USING (word) GROUP BY doc_id""".stripMargin

  /** DuckDB twin of [[tokenizerCompare]] (defaults). */
  def tokenizerCompareOracleSql: String =
    s"""WITH RECURSIVE $encodeChainSql,
       |$mmChainSql,
       |agg AS (
       |  SELECT source, CAST(COUNT(*) AS BIGINT) AS n_words,
       |         CAST(SUM(length(word)) AS BIGINT) AS n_word_chars,
       |         CAST(SUM(k.n_sym) AS BIGINT) AS n_unigram_pieces,
       |         CAST(SUM(f.n_mm) AS BIGINT) AS n_maxmatch_pieces
       |  FROM cw JOIN kfin k USING (word) JOIN mmfin f USING (word)
       |  GROUP BY source)
       |SELECT source, n_words, n_word_chars, n_unigram_pieces, n_maxmatch_pieces,
       |       CAST((1000000 * CAST(n_word_chars AS HUGEINT))
       |            // n_unigram_pieces AS BIGINT) AS fert_unigram_micro,
       |       CAST((1000000 * CAST(n_word_chars AS HUGEINT))
       |            // n_maxmatch_pieces AS BIGINT) AS fert_maxmatch_micro
       |FROM agg""".stripMargin

  /** Pure-Scala Viterbi over one word — the same packed-cell ordering
    * (score desc, k asc, j asc) and the same nano requantization per
    * step as the distributed DP; the differential spec compares the two
    * segmentation-for-segmentation.
    */
  def viterbiLocal(word: String, pNano: Map[String, Long]): Seq[String] = {
    val n = word.length
    // dp(i) = (score, k, jstar)
    val dp = Array.fill[(Long, Int, Int)](n + 1)((0L, 0, 0))
    dp(0) = (Nano, 0, 0)
    for (i <- 1 to n) {
      var best: (Long, Int, Int) = null
      for (l <- 1 to math.min(MaxPieceLen, i)) {
        val j = i - l
        val pn = pNano.getOrElse(word.substring(j, i), 0L)
        val cand = (dp(j)._1 * pn / Nano, dp(j)._2 + 1, j)
        if (best == null ||
            cand._1 > best._1 ||
            (cand._1 == best._1 && (cand._2 < best._2 ||
              (cand._2 == best._2 && cand._3 < best._3)))) best = cand
      }
      dp(i) = best
    }
    var i = n
    val rev = scala.collection.mutable.ArrayBuffer.empty[String]
    while (i > 0) { val j = dp(i)._3; rev += word.substring(j, i); i = j }
    rev.reverse.toSeq
  }
}
