package graft.text

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Text-analysis operators for large-scale training-data pipelines
  * (BASELINE.json north star; beyond the reference's surface, which has no
  * string processing at all — SURVEY.md §2.1).
  *
  * Everything here is built from codegen'd `org.apache.spark.sql.functions`
  * (split / higher-order array functions / regexp) — no UDFs, so the whole
  * pipeline stays inside WholeStageCodegen and scales linearly with
  * executors. Double-valued ratios are single IEEE divisions of exact
  * integer counts, so results are bit-identical across engines and
  * parallelism levels.
  */
object TextOps {

  /** Whitespace tokens of trimmed text (empty text → empty array).
    *
    * `trim` strips SPACES only (same default in DuckDB/ANSI SQL), so a
    * document of only tabs/newlines tokenizes to one empty token — kept
    * as-is because every oracle uses the identical `trim(text)` and the
    * two engines must agree byte-for-byte. Normalize exotic whitespace
    * upstream if the corpus can contain it.
    */
  def tokens(text: Column): Column =
    when(length(trim(text)) === 0, array().cast("array<string>"))
      .otherwise(split(trim(text), "\\s+"))

  /** ASCII punctuation as an explicit range class — identical bytes in Java
    * regex and RE2, avoiding engine-specific \p{Punct} definitions.
    */
  val PunctClass = "[!-/:-@\\[-`{-~]"

  /** Token counting: whitespace tokens plus a BPE-ish subword proxy
    * (runs of letters / digits / single other chars), per document.
    */
  def tokenCount(documents: DataFrame): DataFrame =
    documents.select(
      col("doc_id"),
      col("n_chars"),
      size(tokens(col("text"))).as("n_tokens"),
      // BPE-ish: letter-runs, digit-runs, and isolated symbols each count.
      // Same extraction regex as the DuckDB oracle (lookarounds would
      // diverge between Java regex and RE2 on punctuation-adjacent text).
      size(expr("regexp_extract_all(text, '[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\\\\s]', 0)"))
        .as("n_subwords"))

  /** English-ish stopword list used by the quality score. */
  val Stopwords: Seq[String] = Seq(
    "the", "a", "an", "of", "to", "in", "is", "and", "or", "for", "on",
    "with", "as", "at", "by", "it", "be", "this", "that", "are")

  /** Quality scoring: length, punctuation ratio, stopword ratio, and a
    * composite score in [0,1]. Heuristics follow published web-corpus
    * filters (C4/Gopher-style length+symbol+stopword rules).
    */
  def quality(documents: DataFrame): DataFrame = {
    val toks = tokens(col("text"))
    val stopArr = array(Stopwords.map(lit): _*)
    documents.select(
      col("doc_id"),
      col("n_chars"),
      size(toks).as("n_tokens"),
      punctCount(col("text")).as("n_punct"),
      size(filter(toks, t => array_contains(stopArr, t))).as("n_stopwords"))
      .withColumn("punct_ratio", punctRatio(col("n_punct"), col("n_chars")))
      .withColumn("stopword_ratio",
        when(col("n_tokens") > 0, col("n_stopwords").cast("double") / col("n_tokens"))
          .otherwise(lit(0.0)))
      // n_punct is null exactly where the text is
      .withColumn("quality_score", score(col("n_punct").isNotNull, col("n_tokens"), col("punct_ratio")))
  }

  /** The composite `quality_score` of [[quality]] as one expression over a
    * document's text and character count — for a caller that filters on
    * the score without the other ratios (curation's quality gate).
    * Bit-identical to [[quality]]'s column: both are built from the same
    * three pieces below.
    */
  def qualityScore(text: Column, nChars: Column): Column =
    score(text.isNotNull, size(tokens(text)), punctRatio(punctCount(text), nChars))

  private def punctCount(text: Column): Column =
    length(text) - length(regexp_replace(text, PunctClass, ""))

  private def punctRatio(nPunct: Column, nChars: Column): Column =
    when(nChars > 0, nPunct.cast("double") / nChars).otherwise(lit(0.0))

  // NULL where there is no text, which every gate then drops: least()
  // skips a null token count, which would otherwise score it 1.0
  private def score(hasText: Column, nTokens: Column, punctRatio: Column): Column =
    when(hasText, least(nTokens.cast("double") / 100.0, lit(1.0)) * (lit(1.0) - punctRatio))

  /** Filter-cascade attrition audit: run the ordered quality cascade
    * (length → token count → punctuation → stopwords) and report, per
    * rule, how many documents enter the stage, die at it, fail it overall
    * (ignoring order), and fail ONLY it (marginal attribution) — the
    * numbers that tell a curation team which rule is doing the work and
    * which is redundant before they commit a corpus-sized prune.
    *
    * The whole audit is one scan + one tiny aggregate: per-doc rule flags
    * reduce map-side into a single row of counters that a `stack`
    * unpivots into one row per rule. Nothing document-sized shuffles, so
    * it runs at any corpus scale for the cost of the quality scan.
    */
  def filterFunnel(documents: DataFrame): DataFrame = {
    val flags = quality(documents).select(
      (col("n_chars") >= 150).as("p1"),
      (col("n_tokens") >= 40).as("p2"),
      (col("punct_ratio") <= 0.1).as("p3"),
      (col("stopword_ratio") >= 0.05).as("p4"))
    def cnt(c: Column) = sum(when(c, 1L).otherwise(0L))
    val a = flags.agg(
      count(lit(1)).as("n_docs"),
      cnt(!col("p1")).as("f1"), cnt(!col("p2")).as("f2"),
      cnt(!col("p3")).as("f3"), cnt(!col("p4")).as("f4"),
      cnt(!col("p1") && col("p2") && col("p3") && col("p4")).as("m1"),
      cnt(col("p1") && !col("p2") && col("p3") && col("p4")).as("m2"),
      cnt(col("p1") && col("p2") && !col("p3") && col("p4")).as("m3"),
      cnt(col("p1") && col("p2") && col("p3") && !col("p4")).as("m4"),
      cnt(!col("p1")).as("k1"),
      cnt(col("p1") && !col("p2")).as("k2"),
      cnt(col("p1") && col("p2") && !col("p3")).as("k3"),
      cnt(col("p1") && col("p2") && col("p3") && !col("p4")).as("k4"))
    a.select(expr(
      """stack(4,
        |  1, 'len_ge_150',     n_docs,           k1, f1, m1,
        |  2, 'tok_ge_40',      n_docs - k1,      k2, f2, m2,
        |  3, 'punct_le_10pct', n_docs - k1 - k2, k3, f3, m3,
        |  4, 'stop_ge_5pct',   n_docs - k1 - k2 - k3, k4, f4, m4)
        |AS (stage, rule, n_enter, n_killed_here, n_fail_total, n_marginal)
        |""".stripMargin))
  }

  /** Marker vocabulary for the n-gram/stopword language-ID heuristic. */
  private val LangMarkers: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "and", "of", "is", "to", "in", "that", "it", "with", "for"),
    "es" -> Seq("el", "la", "de", "que", "y", "los", "las", "en", "un", "una", "es"),
    "de" -> Seq("der", "die", "und", "das", "ist", "nicht", "ein", "eine", "mit", "zu"),
    "fr" -> Seq("le", "la", "les", "et", "des", "est", "une", "dans", "que", "pour"))

  /** Language identification: CJK script detection plus marker-stopword
    * voting, entirely in native expressions (argmax over per-language hit
    * counts). Returns (doc_id, lang_pred, lang_score) where lang_score is
    * the winning marker-hit fraction. Docs with no signal → "und".
    */
  def langId(documents: DataFrame): DataFrame = {
    val toks = tokens(col("text"))
    val baseCols = Seq(
      col("doc_id"), col("text"),
      size(toks).as("n_tokens"),
      length(regexp_replace(col("text"), "[^\\u4e00-\\u9fff]", "")).as("n_cjk"))
    val hitExprs = LangMarkers.map { case (lang, markers) =>
      val arr = array(markers.map(lit): _*)
      size(filter(toks, t => array_contains(arr, t))).as(s"hits_$lang")
    }
    val scored = documents.select(baseCols ++ hitExprs: _*)
    val hitCols = LangMarkers.map { case (l, _) => col(s"hits_$l") }
    val best = greatest(hitCols: _*)
    // deterministic argmax: first language (in LangMarkers order) with the
    // max hit count; CJK characters dominate all marker votes
    val pick = LangMarkers.foldRight(lit("und")) { case ((lang, _), elseCol) =>
      when(col(s"hits_$lang") === best && best > 0, lit(lang)).otherwise(elseCol)
    }
    scored.select(
      col("doc_id"),
      when(col("n_cjk") * 2 > length(col("text")), lit("zh")).otherwise(pick)
        .as("lang_pred"),
      when(col("n_tokens") > 0, best.cast("double") / col("n_tokens"))
        .otherwise(lit(0.0)).as("lang_score"))
  }

  /** Document fingerprinting via rolling char-k-gram hashes (winnowing
    * style): min and max gram digest over all k-grams plus the gram count.
    * One scan, no shuffle; the fingerprint is a stable content id usable as
    * a cheap near-dup blocking key at any scale.
    *
    * Grams are digested with md5 (hex string, compared lexicographically) —
    * md5 is identical in every engine, so the whole operator is
    * DuckDB-oracle-checkable end to end. A throughput-tuned deployment can
    * swap the digest for xxhash64 without touching the shape.
    */
  def fingerprint(documents: DataFrame, k: Int = 8): DataFrame = {
    // substring with a per-element start index needs the SQL form — the
    // 3-arg Column helper only takes literal positions; staged as a bound
    // attribute so min/max/size don't re-derive the transform
    val staged = documents.select(col("doc_id"), expr(
      s"transform(sequence(1, greatest(length(text) - ${k - 1}, 1)), " +
      s"i -> md5(substring(text, i, $k)))").as("gh"))
    staged.select(
      col("doc_id"),
      array_min(col("gh")).as("fp_min"),
      array_max(col("gh")).as("fp_max"),
      size(col("gh")).as("n_grams"))
  }

  /** Winnowing fingerprint SELECTION (Schleimer, Wilkerson & Aiken,
    * "Winnowing: local algorithms for document fingerprinting",
    * SIGMOD'03) — the guaranteed-density upgrade of [[fingerprint]]:
    * instead of keeping only the global min/max gram digest, slide a
    * window of `w` consecutive k-gram hashes over the document and keep
    * the MINIMUM hash of every window (rightmost position on ties, the
    * paper's rule). The selected set has expected density 2/(w+1) and
    * the paper's guarantee: any substring match of length ≥ w+k−1
    * between two documents shares at least one selected fingerprint —
    * the property that makes it THE candidate generator for code/text
    * reuse detection at corpus scale (MOSS).
    *
    * Scale shape: entirely row-local — one staged k-gram digest array
    * per document (bound attribute, computed once), one O(G·w)
    * window-min transform, one explode + per-doc distinct. Scan cost at
    * any corpus size; the (fp → docs) inverted join downstream is the
    * standard banded-bucket equi-join. Positions are 1-based gram
    * starts. md5 digests compare lexicographically and identically in
    * every engine, so the oracle replays the selection exactly.
    */
  def winnow(documents: DataFrame, k: Int = 8, w: Int = 4): DataFrame = {
    require(k >= 1 && w >= 1, "gram size and window must be positive")
    val staged = documents.select(col("doc_id"), expr(
      s"transform(sequence(1, greatest(length(text) - ${k - 1}, 1)), " +
      s"i -> md5(substring(text, i, $k)))").as("gh"))
    // per window j: fold positions left→right, keeping the latest
    // position whose hash is ≤ the incumbent's — ends at the RIGHTMOST
    // position attaining the window minimum (acc=0 is the empty state)
    val sel = staged.select(col("doc_id"), col("gh"), expr(
      s"""transform(sequence(1, greatest(size(gh) - ${w - 1}, 1)), j ->
         |  aggregate(sequence(j, least(j + ${w - 1}, size(gh))), 0,
         |    (acc, p) -> IF(acc = 0 OR element_at(gh, p) <= element_at(gh, acc),
         |                   p, acc)))""".stripMargin).as("ps"))
    // explode_OUTER on purpose: ps is never empty (the sequence lower
    // bound is pinned at 1), and the non-outer Generate would trigger
    // InferFiltersFromGenerate — a `size(ps) > 0` filter pushed to the
    // scan with gh's alias SUBSTITUTED into every element_at, turning
    // the O(G·w) fold into an O(G²·w) md5 recompute per row (measured
    // 580 s vs 2 s on the sf0.01 fixture). The outer generator is
    // exempt from that rule and row-for-row identical here.
    sel.select(col("doc_id"), col("gh"), explode_outer(col("ps")).as("pos"))
      .select(col("doc_id"), col("pos"),
        element_at(col("gh"), col("pos")).as("fp"))
      .dropDuplicates("doc_id", "pos")
  }

  /** DuckDB twin of [[winnow]]: identical staged gram digests; the
    * rightmost-window-min is `list_max(list_filter(positions, hash =
    * window min))` — positionally identical to the Spark fold. */
  def winnowOracleSql(k: Int = 8, w: Int = 4): String =
    s"""WITH g AS MATERIALIZED (
       |  SELECT doc_id,
       |         list_transform(range(1, greatest(length(text) - ${k - 1}, 1) + 1),
       |                        i -> md5(substring(text, CAST(i AS INTEGER), $k))) AS gh
       |  FROM documents),
       |s AS MATERIALIZED (
       |  SELECT doc_id, gh,
       |         list_transform(range(1, greatest(len(gh) - ${w - 1}, 1) + 1), j ->
       |           list_max(list_filter(range(j, least(j + ${w - 1}, len(gh)) + 1),
       |             p -> gh[p] = list_min(gh[j:least(j + ${w - 1}, len(gh))])))) AS ps
       |  FROM g)
       |SELECT DISTINCT doc_id, CAST(u.pos AS INTEGER) AS pos, gh[u.pos] AS fp
       |FROM s, UNNEST(s.ps) AS u(pos)""".stripMargin

  /** Email pattern shared by redaction and its oracle — plain character
    * classes only, so Java regex and RE2 agree byte-for-byte (no
    * lookaround, no \b, no \p classes).
    */
  val EmailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"

  /** Long-digit-run pattern (phone/account/SSN-ish): 6+ consecutive digits. */
  val DigitRunRe = "[0-9]{6,}"

  /** PII redaction: emails → `[EMAIL]`, 6+-digit runs → `[NUM]` — the
    * scrubbing pass a training-data pipeline runs before tokenization.
    * Row-local regexp_replace (codegen'd, shuffle-free; scales with scan
    * bandwidth). Email redaction runs FIRST so digit runs inside an
    * address can't split it.
    */
  def redact(df: DataFrame, textCol: String): DataFrame =
    df.withColumn(textCol,
      regexp_replace(
        regexp_replace(col(textCol), EmailRe, "[EMAIL]"),
        DigitRunRe, "[NUM]"))

  /** Per-source corpus statistics — the dataset-card rollup (docs,
    * token/char mass, mean length, C4-pass rate per source) every corpus
    * release publishes. One scan: token counts and the C4 flag are
    * row-local projections, the rollup is a single hash agg on the
    * low-cardinality source key; ratios are single divisions of exact
    * longs (cross-engine bit-identical).
    */
  def corpusStats(documents: DataFrame): DataFrame = {
    val flagged = c4LineFilter(documents).select(col("doc_id"), col("c4_keep"))
    documents
      .select(col("doc_id"), col("source"), col("n_chars"),
        size(tokens(col("text"))).cast("long").as("n_toks"))
      .join(flagged, "doc_id")
      .groupBy("source")
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("n_toks")).as("total_tokens"),
        sum(col("n_chars")).as("total_chars"),
        (sum(col("n_chars")).cast("double") / count(lit(1))).as("mean_chars"),
        (sum(when(col("c4_keep"), 1L).otherwise(0L)).cast("double") /
          count(lit(1))).as("c4_keep_frac"))
  }

  /** C4-style line-level cleaning (Raffel et al. 2020, §2.2 — the public
    * web-corpus heuristics): a line survives iff it ends in terminal
    * punctuation, has at least `minWords` words, and carries none of the
    * boilerplate markers (`{`, "javascript", "lorem ipsum"). Emits the
    * cleaned text (surviving lines re-joined) plus kept/dropped counts;
    * `c4_keep` marks documents retaining at least one line.
    *
    * Entirely row-local (split + array filter + rejoin in one projection,
    * no shuffle, fully codegen'd) — rides the scan at any scale. The line
    * array is staged as a bound attribute before the higher-order ops
    * (lambda-CSE rule).
    */
  def c4LineFilter(documents: DataFrame, minWords: Int = 5): DataFrame = {
    require(minWords >= 1, "minWords must be >= 1")
    val keepLine = (l: Column) =>
      substring(l, -1, 1).isin(".", "!", "?", "\"") &&
        size(split(trim(l), "\\s+")) >= minWords &&
        !l.contains("{") &&
        !lower(l).contains("javascript") &&
        !lower(l).contains("lorem ipsum")
    documents
      .select(col("doc_id"), split(col("text"), "\n", -1).as("lines"))
      .select(col("doc_id"), col("lines"),
        filter(col("lines"), keepLine).as("kept"))
      .select(
        col("doc_id"),
        array_join(col("kept"), "\n").as("clean_text"),
        size(col("kept")).as("n_lines_kept"),
        (size(col("lines")) - size(col("kept"))).as("n_lines_dropped"),
        (size(col("kept")) > 0).as("c4_keep"))
  }

  /** Frequency-ranked token vocabulary: token → (token_id, token_count)
    * with token_id = 1-based rank by (count desc, token asc) — the
    * deterministic vocab build preceding corpus encoding. The global rank
    * uses [[graft.operators.GlobalRank.withGlobalRowNumber]]'s two-pass
    * distributed numbering, NOT a one-partition window: at a real corpus
    * scale the token-count relation is millions of rows, and the vocab
    * cut keeps only the top `maxSize`.
    */
  def vocab(documents: DataFrame, maxSize: Int = 1 << 16): DataFrame = {
    require(maxSize > 0, "maxSize must be positive")
    val counts = documents
      .select(explode(tokens(col("text"))).as("token"))
      .groupBy("token").agg(count(lit(1)).as("token_count"))
      .withColumn("__negc", -col("token_count"))
    graft.operators.GlobalRank.withGlobalRowNumber(
        counts, Seq("__negc", "token"), "token_id")
      .filter(col("token_id") <= maxSize)
      .select(col("token"), col("token_id"), col("token_count"))
  }

  /** Zipf power-law fit of the corpus token-frequency distribution:
    * ordinary least squares of ln(freq) on ln(rank) over the vocabulary.
    * Natural-language corpora sit near slope −1; a strong deviation
    * flags templated/synthetic text or a tokenization bug — a standard
    * corpus-health statistic for training-data pipelines.
    *
    * Determinism: ranks come from [[vocab]]'s global numbering
    * (scalable GlobalRank, not a one-partition window); each ln rounds
    * ONCE to integer milli-units; the OLS moments are exact long sums of
    * milli products (safe to vocab ~2¹⁷ rows — |Σx|² must stay < 2⁶³;
    * shard to decimal sums past that), and the slope is one IEEE
    * division, so the DuckDB oracle replays it bit for bit.
    * Output: one row (n_types, zipf_slope).
    */
  def zipfSlope(documents: DataFrame, maxSize: Int = 1 << 16): DataFrame = {
    val pts = vocab(documents, maxSize).select(
      floor(log(col("token_id").cast("double")) * 1e3 + 0.5).cast("long").as("x"),
      floor(log(col("token_count").cast("double")) * 1e3 + 0.5).cast("long").as("y"))
    pts
      .agg(count(lit(1)).as("n_types"), sum(col("x")).as("sx"), sum(col("y")).as("sy"),
        sum(col("x") * col("y")).as("sxy"), sum(col("x") * col("x")).as("sxx"))
      .select(col("n_types"),
        when(col("n_types") * col("sxx") - col("sx") * col("sx") === 0,
          lit(null).cast("double"))
          .otherwise(
            (col("n_types") * col("sxy") - col("sx") * col("sy")).cast("double") /
              (col("n_types") * col("sxx") - col("sx") * col("sx")).cast("double"))
          .as("zipf_slope"))
  }

  /** Heaps'-law fit of vocabulary growth — V(n) ≈ K·n^β, the companion
    * diagnostic to [[zipfSlope]] (the two exponents are theoretically
    * linked; β ≈ 0.4–0.6 for natural language, and a corpus whose β
    * drifts toward 0 is saturating / toward 1 is ID-like noise). One
    * fit point per document prefix in doc_id order: x = ln(cumulative
    * tokens), y = ln(cumulative distinct types), both milli-quantized
    * (the zipfSlope float discipline — ONE log per point, quantized
    * before any arithmetic, so both engines sum identical integers),
    * then the OLS slope/intercept from exact integer sums.
    *
    * Scale shape: types-introduced-at-doc-d is `min(doc_id) per token`
    * (one shuffle on token), and BOTH cumulative series are the
    * two-pass range-partitioned prefix sum
    * ([[graft.operators.Packing.withRunningTotal]]) — no data-sized
    * unpartitioned window anywhere.
    *
    * Output: one row (n_points, heaps_beta, heaps_logk).
    */
  def heapsLaw(documents: DataFrame): DataFrame = {
    val toks = documents
      .select(col("doc_id"), explode(tokens(col("text"))).as("token"))
    val perDoc = toks.groupBy("doc_id").agg(count(lit(1)).as("n_tok"))
    val newTypes = toks.groupBy("token").agg(min("doc_id").as("doc_id"))
      .groupBy("doc_id").agg(count(lit(1)).as("n_new"))
    val joined = perDoc.join(newTypes, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_tok"),
        coalesce(col("n_new"), lit(0L)).as("n_new"))
    val c1 = graft.operators.Packing
      .withRunningTotal(joined, Seq("doc_id"), "n_tok", "__ct0")
    val c2 = graft.operators.Packing
      .withRunningTotal(c1, Seq("doc_id"), "n_new", "__cv0")
    val pts = c2
      .select((col("__ct0") + col("n_tok")).as("ct"),
        (col("__cv0") + col("n_new")).as("cv"))
      .filter(col("ct") > 0 && col("cv") > 0)
      .select(
        floor(log(col("ct").cast("double")) * 1e3 + 0.5).cast("long").as("x"),
        floor(log(col("cv").cast("double")) * 1e3 + 0.5).cast("long").as("y"))
    val den = col("n_points") * col("sxx") - col("sx") * col("sx")
    val beta = (col("n_points") * col("sxy") - col("sx") * col("sy"))
      .cast("double") / den.cast("double")
    pts
      .agg(count(lit(1)).as("n_points"), sum("x").as("sx"), sum("y").as("sy"),
        sum(col("x") * col("y")).as("sxy"), sum(col("x") * col("x")).as("sxx"))
      .select(col("n_points"),
        when(den === 0, lit(null).cast("double")).otherwise(beta)
          .as("heaps_beta"),
        when(den === 0, lit(null).cast("double"))
          .otherwise((col("sy").cast("double") - beta * col("sx").cast("double"))
            / col("n_points").cast("double") / lit(1000.0))
          .as("heaps_logk"))
  }

  /** DuckDB twin of [[heapsLaw]]: plain cumulative windows stand in for
    * the two-pass prefix sums (oracle-side scale is sf-bounded), the
    * identical milli-quantized logs and integer sums, the identical
    * float expression shapes for slope and intercept.
    */
  def heapsLawOracleSql(): String =
    """WITH toks AS (
      |  SELECT doc_id, unnest(regexp_split_to_array(trim(text), '\s+')) AS token
      |  FROM documents WHERE length(trim(text)) > 0),
      |perdoc AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_tok FROM toks GROUP BY 1),
      |newtypes AS (
      |  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_new FROM (
      |    SELECT token, MIN(doc_id) AS doc_id FROM toks GROUP BY 1)
      |  GROUP BY 1),
      |cum AS (
      |  SELECT SUM(d.n_tok) OVER w AS ct,
      |         SUM(coalesce(nt.n_new, 0)) OVER w AS cv
      |  FROM perdoc d LEFT JOIN newtypes nt USING (doc_id)
      |  WINDOW w AS (ORDER BY d.doc_id ROWS UNBOUNDED PRECEDING)),
      |pts AS (
      |  SELECT CAST(FLOOR(ln(CAST(ct AS DOUBLE)) * 1e3 + 0.5) AS BIGINT) AS x,
      |         CAST(FLOOR(ln(CAST(cv AS DOUBLE)) * 1e3 + 0.5) AS BIGINT) AS y
      |  FROM cum WHERE ct > 0 AND cv > 0),
      |s AS (
      |  SELECT CAST(COUNT(*) AS BIGINT) AS n, CAST(SUM(x) AS BIGINT) AS sx,
      |         CAST(SUM(y) AS BIGINT) AS sy, CAST(SUM(x * y) AS BIGINT) AS sxy,
      |         CAST(SUM(x * x) AS BIGINT) AS sxx
      |  FROM pts)
      |SELECT n AS n_points,
      |       CASE WHEN n * sxx - sx * sx = 0 THEN NULL
      |            ELSE CAST(n * sxy - sx * sy AS DOUBLE)
      |                 / CAST(n * sxx - sx * sx AS DOUBLE) END AS heaps_beta,
      |       CASE WHEN n * sxx - sx * sx = 0 THEN NULL
      |            ELSE (CAST(sy AS DOUBLE)
      |                  - (CAST(n * sxy - sx * sy AS DOUBLE)
      |                     / CAST(n * sxx - sx * sx AS DOUBLE))
      |                    * CAST(sx AS DOUBLE))
      |                 / CAST(n AS DOUBLE) / 1000.0 END AS heaps_logk
      |FROM s""".stripMargin

  /** Encode each document as its vocabulary token-id sequence — the
    * corpus → ids step before packing/training. Out-of-vocabulary tokens
    * map to id 0 and are counted in `n_oov`.
    *
    * Shapes: posexplode is row-local; the vocab join broadcasts (a vocab
    * is ≤ ~10⁶ short rows by construction); re-assembly is one group per
    * doc with `array_sort` on (pos, id) structs, so the sequence order is
    * deterministic regardless of collection order. Ids are emitted
    * comma-joined (STRING) — the downstream contract of this harness;
    * swap the final `concat_ws` for the raw array in a deployment.
    * Empty documents keep a row (empty sequence, zero counts).
    */
  def encodeTokens(documents: DataFrame, vocabulary: DataFrame): DataFrame = {
    val toks = documents
      .select(col("doc_id"), posexplode(tokens(col("text"))).as(Seq("pos", "token")))
    val enc = toks
      .join(broadcast(vocabulary.select(col("token"), col("token_id"))),
        Seq("token"), "left")
      .groupBy("doc_id").agg(
        count(lit(1)).as("n_tokens"),
        sum(when(col("token_id").isNull, 1L).otherwise(0L)).as("n_oov"),
        concat_ws(",",
          transform(
            array_sort(collect_list(struct(col("pos"),
              coalesce(col("token_id"), lit(0L)).as("tid")))),
            s => s.getField("tid").cast("string"))).as("token_ids"))
    documents.select(col("doc_id")).join(enc, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_tokens"), lit(0L)).as("n_tokens"),
        coalesce(col("n_oov"), lit(0L)).as("n_oov"),
        coalesce(col("token_ids"), lit("")).as("token_ids"))
  }

  /** Gopher-style repetition signals per document (Rae et al. 2021, §A1.1
    * "repetition removal" — public web-corpus filter heuristics): duplicate
    * line fraction, duplicate line character fraction, duplicate token
    * fraction, and word-2-gram repetition mass. Documents dominated by
    * repeated content are low-quality training data.
    *
    * Shapes, chosen for 100 TB:
    *  - Line/token duplicate stats are ROW-LOCAL (`array_distinct` +
    *    `aggregate`, all linear per row, no shuffle) — they ride the scan.
    *  - The top/duplicate 2-gram mass needs a per-(doc, gram) count, which
    *    row-local lambdas could only do quadratically — that's explode +
    *    two-level hash agg keyed by doc_id: partial aggs combine map-side,
    *    and the single shuffle is on (doc_id, gram), the finest key
    *    available, so skew is bounded by the largest single document.
    *  - "Top 2-gram mass" is max over grams of count·len(gram) — the char
    *    mass of the heaviest gram. A count-only argmax would need a
    *    lexicographic tie-break to stay deterministic; the mass maximum is
    *    a plain scalar max, deterministic by construction.
    *
    * Every ratio is one IEEE division of exact longs → bit-identical
    * cross-engine. `repetition_keep` applies Gopher-ish thresholds
    * (dup lines ≤ 0.30, top 2-gram mass ≤ 0.20, dup 2-gram mass ≤ 0.60).
    */
  def repetition(documents: DataFrame): DataFrame = {
    // stage token/line arrays as bound attributes (no CSE inside
    // higher-order lambdas — see chunk/fingerprint)
    val staged = documents.select(
      col("doc_id"), col("n_chars"),
      tokens(col("text")).as("t"),
      split(col("text"), "\n", -1).as("lines"))
    val base = staged.select(
      col("doc_id"), col("n_chars"),
      size(col("t")).as("n_tokens"),
      size(array_distinct(col("t"))).as("n_distinct_tokens"),
      size(col("lines")).as("n_lines"),
      size(array_distinct(col("lines"))).as("n_distinct_lines"),
      aggregate(col("lines"), lit(0L), (a, x) => a + length(x)).as("line_chars"),
      aggregate(array_distinct(col("lines")), lit(0L), (a, x) => a + length(x))
        .as("distinct_line_chars"))
    val grams = staged
      .filter(size(col("t")) >= 2)
      .select(col("doc_id"),
        explode(expr(
          "transform(sequence(1, size(t) - 1), i -> concat(element_at(t, i), ' ', element_at(t, i + 1)))"))
          .as("gram"))
    val gstats = grams
      .groupBy("doc_id", "gram").agg(count(lit(1)).as("c"))
      .groupBy("doc_id").agg(
        max(col("c") * length(col("gram"))).as("top_2gram_mass"),
        sum(when(col("c") > 1, col("c") * length(col("gram"))).otherwise(0L))
          .as("dup_2gram_mass"))
    val ratio = (num: Column, den: Column) =>
      when(den > 0, num.cast("double") / den).otherwise(lit(0.0))
    base.join(gstats, Seq("doc_id"), "left")
      .select(
        col("doc_id"), col("n_tokens"), col("n_lines"),
        ratio(col("n_lines") - col("n_distinct_lines"), col("n_lines"))
          .as("dup_line_frac"),
        ratio(col("line_chars") - col("distinct_line_chars"), col("line_chars"))
          .as("dup_line_char_frac"),
        ratio(col("n_tokens") - col("n_distinct_tokens"), col("n_tokens"))
          .as("dup_token_frac"),
        ratio(coalesce(col("top_2gram_mass"), lit(0L)), col("n_chars"))
          .as("top_2gram_frac"),
        ratio(coalesce(col("dup_2gram_mass"), lit(0L)), col("n_chars"))
          .as("dup_2gram_frac"))
      .withColumn("repetition_keep",
        col("dup_line_frac") <= 0.3 && col("top_2gram_frac") <= 0.2 &&
          col("dup_2gram_frac") <= 0.6)
  }

  /** Pointwise mutual information of ADJACENT token pairs — the classic
    * collocation / multi-word-expression detector (Church & Hanks, "Word
    * Association Norms, Mutual Information, and Lexicography", CL 1990):
    * pmi(a,b) = ln( p(a,b) / (p(a)·p(b)) ) with p(a,b) over the bigram
    * multiset and p(·) over the unigram multiset. High-PMI pairs are
    * phrases a tokenizer or stopword list should treat as units.
    *
    * Determinism: every input to the ln is an exact integer count; the
    * ratio is assembled in ONE fixed left-associative double expression
    * written identically in the oracle, and the single ln rounds to
    * 1e-6 — the repo's cross-engine float-fold rule.
    *
    * Scale shape: bigram explode is row-local (the token array is a
    * staged, persisted attribute — the lambda-CSE rule); then two hash
    * aggs (bigram and unigram counts) and two joins of the
    * pair-vocabulary relation against the unigram-vocabulary relation,
    * both vocabulary-sized, never corpus-sized. The two 1-row totals
    * broadcast. `minCount` prunes the hapax tail BEFORE the joins —
    * the same df-ordering armor as the dedup prefixes.
    */
  def bigramPmi(documents: DataFrame, minCount: Long = 5): DataFrame = {
    require(minCount >= 1, "minCount must be >= 1")
    val staged = documents.select(tokens(col("text")).as("t"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // unigram relation: feeds counts AND the total — two subtrees
    val uni = graft.Caching.materialize(staged
      .select(explode(col("t")).as("raw"))
      .filter(col("raw") =!= "")
      .select(lower(col("raw")).as("w")))
    val cUni = uni.groupBy("w").agg(count(lit(1)).as("c_w"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val nTok = uni.agg(count(lit(1)).as("n_tok"))
    val bg = graft.Caching.materialize(staged
      .filter(org.apache.spark.sql.functions.size(col("t")) >= 2)
      .select(explode(transform(
        sequence(lit(0), org.apache.spark.sql.functions.size(col("t")) - 2),
        i => struct(lower(element_at(col("t"), i + 1)).as("w_a"),
          lower(element_at(col("t"), i + 2)).as("w_b")))).as("p"))
      .select(col("p.w_a"), col("p.w_b")))
    val nBg = bg.agg(count(lit(1)).as("n_bg"))
    bg.groupBy("w_a", "w_b").agg(count(lit(1)).as("c_pair"))
      .filter(col("c_pair") >= minCount)
      .join(cUni.select(col("w").as("w_a"), col("c_w").as("c_a")), "w_a")
      .join(cUni.select(col("w").as("w_b"), col("c_w").as("c_b")), "w_b")
      .crossJoin(broadcast(nTok)).crossJoin(broadcast(nBg))
      .select(col("w_a"), col("w_b"), col("c_pair"),
        round(log(col("c_pair").cast("double") * col("n_tok") * col("n_tok") /
          (col("n_bg").cast("double") * col("c_a") * col("c_b"))), 6).as("pmi"))
  }

  /** Skip-gram (center, context) pair counts — the training-pair
    * extraction word2vec's skip-gram objective consumes (Mikolov et al.,
    * "Distributed Representations of Words and Phrases and their
    * Compositionality", NIPS 2013): every ordered pair of tokens at
    * distance ≤ `window` within a document, in BOTH directions (the
    * symmetric context window), counted corpus-wide; top `k` pairs by
    * count with a total-order tie-break. Feeding an embedding trainer is
    * exactly this relation plus negative samples
    * ([[graft.similarity.Ann]] hard negatives).
    *
    * Scale shape: pair emission is ROW-LOCAL — a nested
    * sequence×transform expression over the staged token array (the
    * lambda-CSE rule: `t` is a bound attribute), exploded once; no
    * self-join on positions anywhere (the oracle uses the position
    * self-join formulation — a differential proof, not a replay). Then
    * one hash agg on the pair vocabulary and a TakeOrderedAndProject.
    * Output volume is ≤ 2·window·|tokens| rows pre-agg, linear in the
    * corpus like the tokenizer itself.
    */
  def skipgramPairs(documents: DataFrame, window: Int = 2, k: Int = 100): DataFrame = {
    require(window >= 1 && k >= 1, "window and k must be >= 1")
    val sz = org.apache.spark.sql.functions.size(col("t"))
    val staged = documents.select(tokens(col("text")).as("t"))
      .filter(org.apache.spark.sql.functions.size(col("t")) >= 2)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // forward pairs (i, i+o), o ∈ [1, min(window, n−1−i)]: the inner
    // bound is ≥ 1 for every i ≤ n−2, so no degenerate sequence
    val fwd = staged.select(explode(flatten(transform(
      sequence(lit(0), sz - 2),
      i => transform(
        sequence(lit(1), least(lit(window), sz - 1 - i)),
        o => struct(lower(element_at(col("t"), i + 1)).as("w_a"),
          lower(element_at(col("t"), i + 1 + o)).as("w_b")))))).as("p"))
      .select(col("p.w_a"), col("p.w_b"))
    val sym = fwd.union(fwd.select(col("w_b").as("w_a"), col("w_a").as("w_b")))
    sym.groupBy("w_a", "w_b").agg(count(lit(1)).as("c_pair"))
      .orderBy(desc("c_pair"), asc("w_a"), asc("w_b"))
      .limit(k)
  }

  /** DuckDB twin of [[skipgramPairs]] via the position self-join
    * formulation (different algorithm shape — differential proof).
    */
  def skipgramOracleSql(window: Int = 2, k: Int = 100): String =
    s"""WITH toks AS (
      |  SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS t
      |  FROM documents),
      |pos AS (
      |  SELECT doc_id, i, lower(t[i]) AS w
      |  FROM (SELECT doc_id, t, unnest(range(1, len(t) + 1)) AS i
      |        FROM toks WHERE len(t) >= 2)),
      |pr AS (
      |  SELECT a.w AS w_a, b.w AS w_b
      |  FROM pos a JOIN pos b
      |    ON a.doc_id = b.doc_id AND b.i > a.i AND b.i <= a.i + $window),
      |sp AS (SELECT w_a, w_b FROM pr UNION ALL SELECT w_b, w_a FROM pr)
      |SELECT w_a, w_b, CAST(COUNT(*) AS BIGINT) AS c_pair
      |FROM sp GROUP BY 1, 2
      |ORDER BY c_pair DESC, w_a, w_b LIMIT $k""".stripMargin

  /** Feature hashing (the "hashing trick", Weinberger, Dasgupta,
    * Langford, Smola & Attenberg, ICML 2009): map every corpus token
    * into a fixed `dim`-bucket feature space via its md5 digest, with
    * the ±1 sign hash that makes collision noise zero-mean — the
    * featurization that needs NO vocabulary pass, no driver dictionary,
    * and a bounded model width regardless of corpus size. Output is the
    * corpus-level feature table: per feature index, the token
    * occurrences landing there, the DISTINCT words colliding into it
    * (the collision audit), and the net signed weight; top `k` by
    * occupancy with a total-order tie-break.
    *
    * Determinism: index = digest mod dim, sign = bit of digest/dim —
    * pure integer ops on the md5-derived 60-bit value, replayed exactly
    * by the oracle.
    *
    * Scale: tokenize → one hash agg keyed by feature index (≤ dim
    * groups) with a distinct-count over (idx, word) — vocabulary-sized,
    * never corpus-sized past the first aggregate.
    */
  def featureHash(documents: DataFrame, dim: Int = 1024, k: Int = 100): DataFrame = {
    require(dim >= 2 && k >= 1, "dim must be >= 2, k >= 1")
    val uni = documents.select(tokens(col("text")).as("t"))
      .select(explode(col("t")).as("raw"))
      .filter(col("raw") =!= "")
      .select(lower(col("raw")).as("w"))
      .select(col("w"),
        conv(substring(md5(concat(lit("fh:"), col("w"))), 1, 15), 16, 10)
          .cast("long").as("h"))
      .select(col("w"),
        pmod(col("h"), lit(dim.toLong)).as("feature_idx"),
        when(pmod(expr(s"h div $dim"), lit(2L)) === 0L, lit(1L))
          .otherwise(lit(-1L)).as("sign"))
    uni.groupBy("feature_idx")
      .agg(count(lit(1)).as("n_tokens"),
        countDistinct(col("w")).as("n_words"),
        sum(col("sign")).as("net_sign"))
      .orderBy(desc("n_tokens"), asc("feature_idx"))
      .limit(k)
  }

  /** DuckDB twin of [[featureHash]] — identical digest/index/sign ops. */
  def featureHashOracleSql(dim: Int = 1024, k: Int = 100): String =
    s"""WITH toks AS (
      |  SELECT regexp_split_to_array(trim(text), '\\s+') AS t FROM documents),
      |uni AS (
      |  SELECT lower(raw) AS w FROM
      |  (SELECT unnest(t) AS raw FROM toks) WHERE raw <> ''),
      |hashed AS (
      |  SELECT w,
      |         ('0x' || substring(md5('fh:' || w), 1, 15))::BIGINT AS h
      |  FROM uni)
      |SELECT h % $dim AS feature_idx,
      |       CAST(COUNT(*) AS BIGINT) AS n_tokens,
      |       CAST(COUNT(DISTINCT w) AS BIGINT) AS n_words,
      |       CAST(SUM(CASE WHEN (h // $dim) % 2 = 0 THEN 1 ELSE -1 END) AS BIGINT) AS net_sign
      |FROM hashed GROUP BY 1
      |ORDER BY n_tokens DESC, feature_idx LIMIT $k""".stripMargin

  /** Fixed-size token chunking with overlap: documents are split into
    * windows of `size` whitespace tokens starting every `stride` tokens
    * (overlap = size − stride) — the standard context-window prep for
    * training corpora. Empty documents yield no chunks.
    *
    * The token array is staged as a bound attribute before the
    * `sequence`/`slice` expressions use it (no CSE inside higher-order
    * expressions — an inlined split would re-run per chunk). Chunking is
    * row-local: explode multiplies rows ~n/stride× but nothing shuffles
    * until a downstream aggregation.
    */
  def chunk(documents: DataFrame, size: Int = 32, stride: Int = 24): DataFrame = {
    require(size > 0 && stride > 0 && stride <= size,
      "need 0 < stride <= size (overlap = size - stride)")
    documents
      .select(col("doc_id"), tokens(col("text")).as("t"))
      .withColumn("n", org.apache.spark.sql.functions.size(col("t")))
      .filter(col("n") > 0)
      .select(col("doc_id"), col("t"), col("n"),
        explode(sequence(lit(0), col("n") - 1, lit(stride))).as("start"))
      .select(
        col("doc_id"),
        (col("start") / stride).cast("int").as("chunk_id"),
        array_join(slice(col("t"), col("start") + 1, lit(size)), " ").as("chunk_text"),
        least(col("n") - col("start"), lit(size)).cast("int").as("n_tokens"))
  }

  /** Per-source readability: Flesch reading ease + Flesch–Kincaid grade
    * (Flesch 1948; Kincaid et al. 1975) — the classic corpus-quality
    * signals readability-based filters bucket web text with:
    *
    *   flesch = 206.835 − 1.015·(W/S) − 84.6·(Y/W)
    *   fk_grade = 0.39·(W/S) + 11.8·(Y/W) − 15.59
    *
    * with W whitespace words ([[tokens]]), S sentence-ender runs
    * (`[.!?]+`, floored at 1 per doc so unpunctuated text still counts
    * one sentence), Y the vowel-run syllable proxy (`[aeiouy]+` runs in
    * the lowercased text — the standard heuristic where a dictionary is
    * unavailable; runs never span whitespace, so it equals the per-word
    * sum).
    *
    * Exactness: W/S/Y are exact long counts aggregated per source; each
    * formula is ONE fixed IEEE expression over the exact integers,
    * folded to 1e-6 — same determinism argument as [[Metrics]]'s Welch
    * shape. Sources with zero words emit NULL scores rather than NaN.
    *
    * Scale shape: three codegen'd regex counts per row (no UDF), one
    * map-side-combined aggregate to the source-bounded relation.
    */
  def readability(documents: DataFrame): DataFrame = {
    val perDoc = documents.select(
      col("source"),
      org.apache.spark.sql.functions.size(tokens(col("text")))
        .cast("long").as("w"),
      greatest(lit(1L),
        org.apache.spark.sql.functions.size(
          expr("regexp_extract_all(text, '[.!?]+', 0)")).cast("long")).as("s"),
      org.apache.spark.sql.functions.size(
        expr("regexp_extract_all(lower(text), '[aeiouy]+', 0)"))
        .cast("long").as("y"))
    val wd = col("n_words").cast("double")
    val sd = col("n_sentences").cast("double")
    val yd = col("n_syllables").cast("double")
    perDoc.groupBy("source")
      .agg(count(lit(1)).as("n_docs"), sum(col("w")).as("n_words"),
        sum(col("s")).as("n_sentences"), sum(col("y")).as("n_syllables"))
      .select(col("source"), col("n_docs"), col("n_words"),
        col("n_sentences"), col("n_syllables"),
        when(col("n_words") > 0,
          floor((lit(206.835) - lit(1.015) * (wd / sd) - lit(84.6) * (yd / wd))
            * 1e6 + 0.5) / 1e6).as("flesch"),
        when(col("n_words") > 0,
          floor((lit(0.39) * (wd / sd) + lit(11.8) * (yd / wd) - lit(15.59))
            * 1e6 + 0.5) / 1e6).as("fk_grade"))
  }

  /** DuckDB replay of [[readability]] — identical counts and fixed
    * expression shapes; float literals carry `e0` so DuckDB parses them
    * as DOUBLE (bare decimals would be DECIMAL and change arithmetic).
    */
  def readabilityOracleSql(): String =
    """WITH per AS (
      |  SELECT source,
      |         CASE WHEN length(trim(text)) = 0 THEN 0
      |              ELSE len(regexp_split_to_array(trim(text), '\s+')) END AS w,
      |         greatest(1, len(regexp_extract_all(text, '[.!?]+'))) AS s,
      |         len(regexp_extract_all(lower(text), '[aeiouy]+')) AS y
      |  FROM documents),
      |agg AS (
      |  SELECT source, COUNT(*) AS n_docs,
      |         SUM(w) AS nw, SUM(s) AS ns, SUM(y) AS ny
      |  FROM per GROUP BY 1)
      |SELECT source, CAST(n_docs AS BIGINT) AS n_docs,
      |       CAST(nw AS BIGINT) AS n_words,
      |       CAST(ns AS BIGINT) AS n_sentences,
      |       CAST(ny AS BIGINT) AS n_syllables,
      |       CASE WHEN nw > 0 THEN FLOOR((206.835e0
      |            - 1.015e0 * (CAST(nw AS DOUBLE) / CAST(ns AS DOUBLE))
      |            - 84.6e0 * (CAST(ny AS DOUBLE) / CAST(nw AS DOUBLE)))
      |            * 1e6 + 0.5) / 1e6 END AS flesch,
      |       CASE WHEN nw > 0 THEN FLOOR((0.39e0
      |            * (CAST(nw AS DOUBLE) / CAST(ns AS DOUBLE))
      |            + 11.8e0 * (CAST(ny AS DOUBLE) / CAST(nw AS DOUBLE))
      |            - 15.59e0) * 1e6 + 0.5) / 1e6 END AS fk_grade
      |FROM agg""".stripMargin
}
