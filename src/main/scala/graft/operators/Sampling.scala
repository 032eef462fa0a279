package graft.operators

import org.apache.spark.sql.{DataFrame, Encoder, Encoders}
import org.apache.spark.sql.expressions.{Aggregator, Window}
import org.apache.spark.sql.functions._

/** Sampling operators for training-data pipelines.
  *
  * [[hashSamplePerGroup]] is the scale-preferred form: rank rows inside
  * each group by a content hash and keep the first k — deterministic
  * (same rows every run, every topology), uniform-ish, and embarrassingly
  * parallel (one shuffle by group key, standard windowed top-k). This is
  * how large corpora pin reproducible train/eval splits.
  *
  * [[ReservoirSample]] is the classic single-pass reservoir as a typed
  * `Aggregator` (custom-UDAF surface): mergeable buffers make it correct
  * under partial aggregation, but the sample depends on encounter order,
  * so it trades determinism for a strict one-pass guarantee.
  */
object Sampling {

  /** DSIR-style importance weights (Xie, Santurkar, Ma & Liang, "Data
    * Selection for Language Models via Importance Resampling",
    * NeurIPS'23): score every document by the log-likelihood ratio of a
    * TARGET distribution versus the SOURCE (whole-corpus) distribution
    * over hashed unigram buckets — the cheap proxy that picks documents
    * "like the target domain" out of a web-scale crawl.
    *
    *   weight(doc) = Σ_tokens ln p̂_tgt(bucket(tok)) − ln p̂_src(bucket(tok))
    *
    * with Laplace smoothing (cnt+1)/(N+B) on both sides. Determinism
    * discipline: buckets come from the oracle-replayable md5Base60 hash;
    * each bucket's log-ratio is rounded ONCE to integer micro-units in
    * the (≤ B rows) bucket-stats relation, and document weights are
    * exact long sums of those micros — partition-order independent, and
    * the DuckDB oracle replays them bit for bit. Scale shape: one
    * token-bucket shuffle for stats (B-bounded), one broadcast-sized
    * ratio join back onto the token stream, one hash agg per doc.
    *
    * Returns (doc_id, n_tokens, weight_micro); resample by ranking on
    * weight_micro (or feed [[weightedSample]] with exp-weights).
    */
  def dsirWeights(documents: DataFrame, isTarget: org.apache.spark.sql.Column,
                  buckets: Int = 4096): DataFrame = {
    require(buckets > 0, "buckets must be positive")
    // toks feeds the bucket-stats aggregation AND the per-doc weight join
    // — different subtrees, so eagerly materialized (see graft.Caching)
    val toks = graft.Caching.materialize(documents
      .select(col("doc_id"), isTarget.as("is_tgt"),
        explode(graft.text.TextOps.tokens(col("text"))).as("token"))
      .filter(col("token") =!= "")
      .select(col("doc_id"), col("is_tgt"),
        pmod(graft.dedup.Dedup.md5Base60(col("token")), lit(buckets.toLong)).as("b")))
    val stats = toks.groupBy("b").agg(
      count(lit(1)).as("cnt_s"),
      sum(when(col("is_tgt"), 1L).otherwise(0L)).as("cnt_t"))
    val totals = stats.agg(sum(col("cnt_s")).as("n_s"), sum(col("cnt_t")).as("n_t"))
    val ratio = stats.crossJoin(broadcast(totals))
      .select(col("b"),
        floor((log(col("cnt_t").cast("double") + 1.0d)
          - log(col("n_t").cast("double") + buckets.toDouble)
          - log(col("cnt_s").cast("double") + 1.0d)
          + log(col("n_s").cast("double") + buckets.toDouble)) * 1e6 + 0.5)
          .cast("long").as("ratio_micro"))
    toks.join(ratio, "b")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_tokens"),
        sum(col("ratio_micro")).as("weight_micro"))
  }

  /** Token-budget sampler: materialize a per-source corpus slice that
    * consumes at most `budget` tokens of *prior* tape per source — the
    * operation that turns mixture RATES ([[temperatureMix]]) into an
    * actual training corpus of a known token size. Documents are laid on
    * a per-source tape in deterministic md5 order (a reproducible
    * shuffle), and a document is kept iff the tokens consumed before it
    * within its source are still under budget — so every source
    * contributes ≥ budget tokens when it has them (the last kept doc may
    * overflow), and re-runs pick identical documents.
    *
    * Scale: the cumulative position comes from [[Packing.withRunningTotal]]'s
    * two-pass distributed prefix sum over the GLOBAL (source, hash) order
    * — not a per-source window, which would park each source's whole
    * corpus in one task. Per-source positions are recovered by
    * subtracting the source's first-row offset (a #sources-row join). At
    * 100 TB with a handful of mega-sources this is the difference
    * between a plan that runs and one that spills a source per executor.
    *
    * Returns (doc_id, source, n_tokens, cum_tokens) for kept documents,
    * cum_tokens being the inclusive per-source running total.
    */
  def tokenBudgetSample(documents: DataFrame, budget: Long = 1000L): DataFrame = {
    require(budget > 0, "budget must be positive")
    val toks = documents.select(
      col("doc_id"), col("source"),
      md5(col("doc_id").cast("string")).as("h"),
      size(graft.text.TextOps.tokens(col("text"))).cast("long").as("n_tokens"))
    val prefixed = Packing.withRunningTotal(
      toks, Seq("source", "h", "doc_id"), "n_tokens", "gprev")
    // the source's tape offset = global exclusive prefix at its first row;
    // gprev is monotone along the sort, so MIN per source finds it
    val offsets = prefixed.groupBy("source").agg(min(col("gprev")).as("src_off"))
    // #sources rows: broadcast explicitly — the RDD-backed relation has no
    // stats, so the planner would otherwise sort-merge the corpus side
    prefixed.join(broadcast(offsets), "source")
      .withColumn("prior_tokens", col("gprev") - col("src_off"))
      .filter(col("prior_tokens") < budget)
      .select(col("doc_id"), col("source"), col("n_tokens"),
        (col("prior_tokens") + col("n_tokens")).as("cum_tokens"))
  }

  /** Neyman-optimal stratified sample ALLOCATION: given a total sample
    * budget, split it across strata ∝ N_h·σ_h (Neyman 1934) — the
    * allocation that minimizes the variance of the stratified mean
    * estimator. This is the planning half of stratified sampling; pair
    * the resulting per-stratum counts with [[hashSamplePerGroup]] to
    * draw the rows deterministically.
    *
    * Determinism discipline: per-stratum (n, Σx, Σx²) are EXACT decimal
    * power sums (one hash agg, map-side partials — the
    * [[graft.analytics.Breadth2.statsSummary]] pattern); the population
    * σ is one correctly-rounded sqrt micro-rounded to a long; weights
    * and the final allocation are pure integer arithmetic, so the
    * DuckDB oracle replays every row bit-for-bit. A zero-variance
    * stratum gets weight 0 (nothing to estimate); if EVERY stratum is
    * degenerate the allocation is all-zero rather than a divide-by-zero.
    *
    * Long headroom: totalN·N_h·σ_micro must fit 63 bits — ~9e18 covers
    * a 1e6-row stratum at σ ≤ $10⁵ with a 10⁴ budget; at corpus scale
    * drop the micro scale to 1e3 (same allocation to ±rounding).
    *
    * Output: (stratum, n_rows, sigma_micro, alloc_n) with
    * Σ alloc_n ≤ totalN (floor division; the remainder is the caller's
    * largest-remainder tie-break if they need the budget exact).
    */
  def neymanAllocation(df: DataFrame, stratumCol: String, valueCol: String,
                       totalN: Long = 1000L): DataFrame = {
    require(totalN > 0, "sample budget must be positive")
    val x = col(valueCol).cast(org.apache.spark.sql.types.DataTypes
      .createDecimalType(18, 2))
    val sums = df.groupBy(col(stratumCol).as("stratum"))
      .agg(count(lit(1)).as("n_rows"),
        sum(x).cast("double").as("sx"),
        sum(x * x).cast("double").as("sx2"))
      .withColumn("nd", col("n_rows").cast("double"))
      // population σ = √(n·Σx² − (Σx)²)/n, micro-rounded half-up
      .withColumn("sigma_micro",
        floor(sqrt(greatest(col("nd") * col("sx2") - col("sx") * col("sx"),
          lit(0.0))) / col("nd") * 1e6 + 0.5).cast("long"))
      .withColumn("w", col("n_rows") * col("sigma_micro"))
    val totalW = sums.agg(coalesce(sum(col("w")), lit(0L)).as("total_w"))
    sums.crossJoin(broadcast(totalW))
      .select(col("stratum"), col("n_rows"), col("sigma_micro"),
        // integer div (positives ⇒ truncation == floor, matching DuckDB //)
        when(col("total_w") === 0L, lit(0L))
          .otherwise(expr(s"($totalN * w) div total_w"))
          .as("alloc_n"))
  }

  /** Keep k rows per group, chosen by md5-of-id order (deterministic,
    * engine-agnostic — the same SQL runs on the DuckDB oracle).
    */
  def hashSamplePerGroup(df: DataFrame, groupCol: String, idCol: String,
                         k: Int): DataFrame = {
    require(k > 0, "k must be positive")
    val w = Window.partitionBy(groupCol)
      .orderBy(md5(col(idCol).cast("string")), col(idCol))
    df.withColumn("rn", row_number().over(w))
      .filter(col("rn") <= k)
      .drop("rn")
  }

  /** The Efraimidis–Spirakis rank key ln(u)/w with the library's seeded
    * 60-bit md5 uniform (shifted to (0, 1] so ln never sees 0), rounded
    * to 1e-6 before ranking — the ONE definition both weighted samplers
    * rank on, so a change to the determinism discipline (hash width,
    * rounding scale) cannot diverge them or their oracles.
    */
  private def esKey(idCol: String, weightCol: String, seed: String) = {
    val u = (conv(substring(md5(concat(lit(s"$seed:"),
      col(idCol).cast("string"))), 1, 15), 16, 10)
      .cast("double") + 1.0) / lit((1L << 60).toDouble)
    round(log(u) / col(weightCol), 6)
  }

  /** Weighted sampling without replacement (Efraimidis–Spirakis A-ES):
    * each row draws u ∈ (0,1] from a seeded md5 of its id and gets the
    * key ln(u)/w; the k LARGEST keys are the sample. Inclusion
    * probability is proportional-to-weight-without-replacement — the
    * curation primitive for "oversample high-quality sources"
    * reproducibly.
    *
    * Deterministic end to end: u is a pure function of (seed, id), the
    * key is one log + one division ROUNDED to 1e-6 with an id tie-break
    * (the round-before-rank rule — ln() may differ in the last ulp
    * across engines, and ranking on the rounded value keeps the sample
    * oracle-replayable), and the top-k (`orderBy`+`limit` →
    * TakeOrderedAndProject — a per-partition heap, never a global sort)
    * cannot change under re-runs, repartitioning, or cluster growth.
    * Changing `seed` draws a fresh sample. Weights must be > 0.
    */
  def weightedSample(df: DataFrame, idCol: String, weightCol: String, k: Int,
                     seed: String = "ws"): DataFrame = {
    require(k > 0, "k must be positive")
    df.withColumn("__es_key", esKey(idCol, weightCol, seed))
      .orderBy(col("__es_key").desc, col(idCol))
      .limit(k)
      .drop("__es_key")
  }

  /** Stratified weighted reservoir: [[weightedSample]] PER GROUP — the
    * k largest Efraimidis–Spirakis keys within every value of
    * `groupCol`. This is the training-set assembly primitive "take k
    * docs per source, oversampling high quality" (or, composed with a
    * cluster assignment, "take k diverse points per cluster") that a
    * global top-k cannot express: a global sample starves small strata,
    * a per-stratum uniform sample ignores quality.
    *
    * Same determinism discipline as [[weightedSample]] (seeded-md5
    * uniforms, round-before-rank at 1e-6, id tie-break). Scale shape:
    * one hash exchange on the group key, then `row_number() <= k` plans
    * as WindowGroupLimit — only k rows per group survive each
    * partition's sort buffer, so per-task memory is bounded by
    * k·|groups per partition| regardless of stratum skew; no global
    * sort, no driver state.
    */
  def weightedSamplePerGroup(df: DataFrame, groupCol: String, idCol: String,
                             weightCol: String, k: Int,
                             seed: String = "wsg"): DataFrame = {
    require(k > 0, "k must be positive")
    val w = Window.partitionBy(groupCol)
      .orderBy(col("__es_key").desc, col(idCol))
    df.withColumn("__es_key", esKey(idCol, weightCol, seed))
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") <= k)
      .drop("__es_key", "__rn")
  }

  /** Deterministic weighted train/val/test split: each row's id hashes
    * (seeded md5, 60 bits) to a uniform u ∈ [0,1); cumulative weight
    * thresholds assign the split. Reproducible across runs, engines and
    * topologies (the same arithmetic replays in the DuckDB oracle),
    * stable under corpus growth (a doc's split never depends on other
    * rows), and row-local — zero shuffle, scan-bandwidth scaling. The
    * standard way large corpora pin held-out sets.
    */
  def hashSplit(df: DataFrame, idCol: String,
                splits: Seq[(String, Double)] = Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1),
                seed: String = "split"): DataFrame = {
    require(splits.nonEmpty && splits.forall(_._2 > 0), "weights must be positive")
    require(math.abs(splits.map(_._2).sum - 1.0) < 1e-9, "weights must sum to 1")
    val u = conv(substring(md5(concat(lit(s"$seed:"), col(idCol).cast("string"))), 1, 15), 16, 10)
      .cast("double") / lit((1L << 60).toDouble)
    val cum = splits.scanLeft(0.0)(_ + _._2).tail
    val assign = splits.init.zip(cum.init)
      .foldLeft(org.apache.spark.sql.functions.when(lit(false), lit(""))) {
        case (acc, ((name, _), hi)) => acc.when(u < hi, name)
      }
      .otherwise(splits.last._1)
    df.withColumn("split", assign)
  }

  /** Water-filling mixture allocation: split a total token `budget`
    * across sources at UNIFORM target shares under per-source
    * availability caps — the feasibility solver that runs before
    * [[mixSources]] realizes the rates (every multi-source training-data
    * build does this step: a source that cannot meet its share
    * saturates, takes everything it has, and its surplus redistributes
    * among the rest).
    *
    * All-integer iteration TO THE FIXPOINT (round-12 advice: a fixed
    * round count can stop before the cascade settles, silently
    * under-spending the budget — and a fixed-round oracle replay is
    * structurally blind to the deviation): each round, share =
    * ⌊remaining_budget / #unsaturated⌋; any unsaturated source with
    * n ≤ share joins the saturated set; iteration stops when a round
    * saturates nothing. Saturation can cascade at most #sources times,
    * so the loop is bounded by the measured source count. The oracle
    * unrolls a FIXED number of CTE rounds ≥ the cascade bound — the
    * fixpoint is idempotent, so its extra rounds change nothing.
    * Allocations and micro-rates are floor divisions of longs — no
    * float crosses an engine boundary.
    *
    * Scale shape: ONE corpus pass (token-count hash agg keyed by
    * source); the allocator itself is #sources rows of driver model
    * state — the centroid idiom. Output: (source, n_tokens, allocated,
    * rate_micro, saturated); feed rate_micro/1e6 into [[mixSources]]
    * for the realized per-document filter.
    */
  def waterfillAllocate(documents: DataFrame, budget: Long = 26000L): DataFrame = {
    require(budget >= 0, "need budget >= 0")
    val spark = documents.sparkSession
    import spark.implicits._
    val avail: Seq[(String, Long)] = documents
      .select(col("source"),
        size(graft.text.TextOps.tokens(col("text"))).cast("long").as("nt"))
      .groupBy("source").agg(sum(col("nt")).as("n_tokens"))
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq.sortBy(_._1)
    var sat = Set.empty[String]
    def shareOf(satNow: Set[String]): Long = {
      val unsatN = avail.count(a => !satNow(a._1))
      if (unsatN == 0) 0L
      else math.max(0L,
        budget - avail.filter(a => satNow(a._1)).map(_._2).sum) / unsatN
    }
    // iterate until a round saturates nothing — the exact fixpoint;
    // each productive round saturates ≥ 1 source, so ≤ #sources rounds
    var settled = false
    while (!settled) {
      val share = shareOf(sat)
      val next = sat ++ avail.filter(a => !sat(a._1) && a._2 <= share).map(_._1)
      settled = next == sat
      sat = next
    }
    val share = shareOf(sat)
    avail.map { case (s, n) =>
      val isSat = sat(s)
      val alloc = if (isSat) n else math.min(n, share)
      val rate = if (n == 0L) 0L else alloc * 1000000L / n
      (s, n, alloc, rate, isSat)
    }.toDF("source", "n_tokens", "allocated", "rate_micro", "saturated")
  }

  /** DuckDB replay of [[waterfillAllocate]] — rounds unrolled
    * CTE-per-step, identical integer floor divisions. The unroll count
    * must be ≥ the cascade bound (#sources) of the table it runs on so
    * the replay reaches the engine's fixpoint; the default 32 covers the
    * 20-source documents fixture with margin, and extra rounds are
    * no-ops at the fixpoint.
    */
  def waterfillOracleSql(budget: Long = 26000L, rounds: Int = 32): String = {
    def shareCte(name: String, satCte: String) =
      s"""$name AS MATERIALIZED (
         |  SELECT CASE WHEN u.u = 0 THEN 0
         |              ELSE GREATEST($budget - COALESCE(s.t, 0), 0) // u.u END AS share
         |  FROM (SELECT COUNT(*) AS u FROM avail
         |        WHERE source NOT IN (SELECT source FROM $satCte)) u
         |  CROSS JOIN (SELECT SUM(n) AS t FROM avail
         |              WHERE source IN (SELECT source FROM $satCte)) s)""".stripMargin
    val roundCtes = (1 to rounds).map { r =>
      shareCte(s"st$r", s"sat${r - 1}") + ",\n" +
        s"""sat$r AS MATERIALIZED (
           |  SELECT source FROM sat${r - 1}
           |  UNION
           |  SELECT a.source FROM avail a CROSS JOIN st$r
           |  WHERE a.source NOT IN (SELECT source FROM sat${r - 1})
           |    AND a.n <= st$r.share)""".stripMargin
    }
    s"""WITH avail AS MATERIALIZED (
       |  SELECT source,
       |         CAST(SUM(len(CASE WHEN length(trim(text)) = 0 THEN CAST([] AS VARCHAR[])
       |           ELSE regexp_split_to_array(trim(text), '\\s+') END)) AS BIGINT) AS n
       |  FROM documents GROUP BY 1),
       |sat0 AS MATERIALIZED (SELECT source FROM avail WHERE false),
       |${roundCtes.mkString(",\n")},
       |${shareCte("stf", s"sat$rounds")},
       |fin AS MATERIALIZED (
       |  SELECT a.source, a.n,
       |         a.source IN (SELECT source FROM sat$rounds) AS sat,
       |         CASE WHEN a.source IN (SELECT source FROM sat$rounds) THEN a.n
       |              ELSE LEAST(a.n, stf.share) END AS took
       |  FROM avail a CROSS JOIN stf)
       |SELECT source, n AS n_tokens, CAST(took AS BIGINT) AS allocated,
       |       CAST(CASE WHEN n = 0 THEN 0 ELSE took * 1000000 // n END AS BIGINT)
       |         AS rate_micro,
       |       sat AS saturated
       |FROM fin""".stripMargin
  }

  /** Deterministic weighted corpus mixing: each source (a value of
    * `sourceCol`) is down-sampled at its configured rate by the same
    * seeded-md5 uniform as [[hashSplit]] — the "mix web at 0.5, books at
    * 1.0" step of training-data assembly. Row-local and reproducible:
    * re-running, re-partitioning, or growing a source never changes
    * which existing rows survive. Unknown sources are dropped (rate 0).
    */
  def mixSources(df: DataFrame, sourceCol: String, idCol: String,
                 rates: Map[String, Double], seed: String = "mix"): DataFrame = {
    require(rates.nonEmpty && rates.values.forall(r => r >= 0 && r <= 1),
      "rates must be in [0,1]")
    val u = conv(substring(md5(concat(lit(s"$seed:"), col(idCol).cast("string"))), 1, 15), 16, 10)
      .cast("double") / lit((1L << 60).toDouble)
    val rate = rates.foldLeft(org.apache.spark.sql.functions.when(lit(false), lit(0.0))) {
      case (acc, (src, r)) => acc.when(col(sourceCol) === src, r)
    }.otherwise(lit(0.0))
    df.filter(u < rate)
  }

  /** Temperature-τ corpus mixing at τ = 1/2 — the multilingual-LM
    * rebalancing step (sample sources ∝ p^τ so head sources shrink and
    * tail sources keep everything; Conneau & Lample, NeurIPS'19 use
    * exactly this for XLM). With τ = 1/2 the acceptance rate per source
    * reduces to √(n_min/n_src), normalized so the SMALLEST source keeps
    * 100 % (pure filtering can only downsample) — and √ is the one power
    * that is IEEE-correctly-rounded, so the rate is bit-reproducible
    * cross-engine where a general `pow(x, τ)` is not. Rates round to
    * micro-units before the hash comparison for the same reason.
    *
    * Scale: one count agg over the source column (broadcast back), then
    * a row-local seeded-md5 keep test — the [[mixSources]] shape with
    * rates computed FROM the corpus instead of configured.
    */
  def temperatureMix(df: DataFrame, sourceCol: String, idCol: String,
                     seed: String = "tmix"): DataFrame = {
    val counts = df.groupBy(sourceCol).agg(count(lit(1)).as("__n_src"))
    val minN = counts.agg(min(col("__n_src")).as("__n_min"))
    val rates = counts.crossJoin(broadcast(minN))
      .select(col(sourceCol),
        floor(sqrt(col("__n_min").cast("double") / col("__n_src").cast("double"))
          * 1e6 + 0.5).cast("long").as("rate_micro"))
    // micro-scaled uniform in [0, 1e6) from the seeded 60-bit md5
    val uMicro = floor(
      conv(substring(md5(concat(lit(s"$seed:"), col(idCol).cast("string"))), 1, 15), 16, 10)
        .cast("double") / lit((1L << 60).toDouble) * 1e6).cast("long")
    df.join(broadcast(rates), sourceCol)
      .filter(uMicro < col("rate_micro"))
      .select((df.columns.map(col) :+ col("rate_micro")): _*)
  }

  /** Bottom-k uniform sample of long ids as a typed Aggregator (the
    * custom-UDAF surface). Every id gets a deterministic pseudo-random key
    * (splitmix64 of seed⊕id); the sample is the k ids with the smallest
    * keys. Exactly uniform over distinct ids, fully deterministic, and the
    * merge (union → k smallest) is associative+commutative, so partial
    * aggregation is correct by construction.
    */
  class BottomKSample(k: Int, seed: Long = 42L)
      extends Aggregator[Long, Array[Long], Array[Long]] with Serializable {

    private def key(x: Long): Long = {
      var z = (seed ^ x) + 0x9e3779b97f4a7c15L
      z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
      z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
      z ^ (z >>> 31)
    }

    // buffer holds ids, kept at size ≤ k, ordered by key
    override def zero: Array[Long] = Array.empty[Long]

    override def reduce(buf: Array[Long], x: Long): Array[Long] =
      merge(buf, Array(x))

    override def merge(a: Array[Long], b: Array[Long]): Array[Long] =
      (a ++ b).distinct.sortBy(key).take(k)

    override def finish(r: Array[Long]): Array[Long] = r.sorted

    override def bufferEncoder: Encoder[Array[Long]] =
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Array[Long]]()
    override def outputEncoder: Encoder[Array[Long]] =
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Array[Long]]()
  }
}
