package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Skew-mitigation primitives. AQE's skew-join splitting
  * (`spark.sql.adaptive.skewJoin.enabled`, on by default here) handles
  * most runtime skew; these helpers are for the case AQE can't fix —
  * a single hot key whose *build* side still lands in one task.
  */
object SkewJoin {

  /** Salted inner equi-join: the large/skewed left side gets a
    * deterministic per-row salt in [0, nSalts); the right side is
    * replicated nSalts times; the join key becomes (key, salt), spreading
    * each hot key over nSalts tasks. Row-multiset result is identical to
    * the plain inner join (each left row matches exactly the replica
    * carrying its salt).
    *
    * Cost model: right side payload is duplicated nSalts× through the
    * shuffle — use for moderate right sides; a tiny right side should just
    * broadcast, a huge one should rely on AQE splitting.
    */
  def saltedJoin(left: DataFrame, right: DataFrame, key: String,
                 nSalts: Int = 16): DataFrame = {
    require(nSalts > 0)
    // whole-row hash → deterministic, uniformly spread salt
    val saltedLeft = left.withColumn("__salt",
      pmod(xxhash64(struct(left.columns.map(col): _*)), lit(nSalts)).cast("int"))
    val replicatedRight = right.withColumn("__salt",
      explode(sequence(lit(0), lit(nSalts - 1))))
    saltedLeft.join(replicatedRight,
        saltedLeft(key) === replicatedRight(key) &&
          saltedLeft("__salt") === replicatedRight("__salt"))
      .drop(replicatedRight(key)).drop("__salt")
  }

  /** Size-dispatched block join for candidate-pair generation (blocked
    * record linkage, fuzzy self-joins): both sides share a
    * low-cardinality blocking key, and the rows-out is quadratic per
    * block while the bytes-in is tiny — the worst shape for both a
    * plain hash join (≤|blocks| tasks) and AQE (which coalesces by
    * *input* bytes and would serialize the downstream per-pair
    * compute).
    *
    * Dispatch, decided from Catalyst's plan statistics:
    *  - candidate side ≤ `broadcastBudgetBytes` → broadcast it, with
    *    the stream side explicitly spread to default parallelism first
    *    (a broadcast join inherits the stream side's partitioning, and
    *    a single parquet split would otherwise run the quadratic
    *    filter on one core);
    *  - larger → salted equi-join on (key, salt): bounded nSalts×
    *    replication through the shuffle instead of an unbounded
    *    broadcast, each block spread over nSalts tasks. At corpus
    *    scale the shuffled bytes are large enough that AQE sizes real
    *    parallelism from them.
    *
    * The budget default (64 MB) is deliberately above
    * `autoBroadcastJoinThreshold`: a candidate side of tens of MB is
    * still a safe executor broadcast, and the thing this guards
    * against is the multi-GB corpus-sized broadcast that OOMs at 100×.
    */
  def dispatchedBlockJoin(stream: DataFrame, cand: DataFrame, key: String,
                          nSalts: Int = 16,
                          broadcastBudgetBytes: Long = 64L << 20): DataFrame = {
    val candSize = cand.queryExecution.optimizedPlan.stats.sizeInBytes
    if (candSize <= BigInt(broadcastBudgetBytes)) {
      val par = stream.sparkSession.sparkContext.defaultParallelism
      stream.repartition(par).join(broadcast(cand), key)
    } else saltedJoin(stream, cand, key, nSalts)
  }

  /** Runtime-guarded auto-salting inner equi-join: the [[skewReport]]
    * diagnostic WIRED to the remedy. One bounded pre-job reads the top
    * key's skew factor and salt advice (a hash agg sized by the key
    * domain plus a 1-row top-k — the same eager tiny-diagnostic pattern
    * as the link-pred hub guard), then dispatches:
    *
    *  - `skew_x_milli ≥ skewThresholdMilli` (default 4× the mean key,
    *    safely above AQE's 5×-median split default so the two remedies
    *    don't fight over mild skew) → [[saltedJoin]] with the advised
    *    salt count `⌈cnt·n_keys/total⌉`, capped at `maxSalts` (the
    *    right-side replication cost bound);
    *  - below threshold → the plain shuffle join AQE already handles.
    *
    * Both branches emit the SAME columns in the same order (left
    * columns then right columns minus the join key) and the identical
    * row multiset (the saltedJoin contract), so the guard is plan-only
    * — callers never see which branch ran.
    */
  def autoSaltedJoin(left: DataFrame, right: DataFrame, key: String,
                     skewThresholdMilli: Long = 4000L,
                     maxSalts: Int = 64): DataFrame = {
    require(skewThresholdMilli >= 1000L,
      "a skew threshold below 1000 milli (the uniform mean) would salt everything")
    require(maxSalts >= 1, "maxSalts must be positive")
    val top = skewReport(left, key, k = 1)
      .select("skew_x_milli", "salts").collect()
    val salty = top.headOption.exists(r =>
      r.getLong(0) >= skewThresholdMilli && r.getLong(1) > 1L)
    if (salty)
      saltedJoin(left, right, key,
        math.min(top(0).getLong(1), maxSalts.toLong).toInt)
    else
      left.join(right, left(key) === right(key)).drop(right(key))
  }

  /** [[autoSaltedJoin]] with the diagnostic pre-job replaced by the
    * sketch-based join-cardinality estimate
    * ([[graft.analytics.Kmv.joinCardinality]]): the dispatch reads
    * OUTPUT-PAIR skew (p_top·n/Σp over the correlated key sample — the
    * quantity a salted join actually spreads) instead of an exact
    * full-domain key count. Same contract as [[autoSaltedJoin]]:
    * identical row multiset and column order on both branches, the
    * guard is plan-only. This is the 100 TB-preferred advice source —
    * skewReport's exact pre-job is a corpus-wide hash agg over the key
    * domain, while the sketch pre-job hashes distinct keys once and
    * counts frequencies over sample-matched rows only.
    */
  def autoSaltedJoinSketch(left: DataFrame, right: DataFrame, key: String,
                           k: Int = 256,
                           skewThresholdMilli: Long = 4000L,
                           maxSalts: Int = 64): DataFrame = {
    require(skewThresholdMilli >= 1000L,
      "a skew threshold below 1000 milli (the uniform mean) would salt everything")
    require(maxSalts >= 1, "maxSalts must be positive")
    val top = graft.analytics.Kmv.joinCardinality(left, right, key, key, k)
      .select("skew_x_milli", "advised_salts").collect()
    val salty = top.headOption.exists(r =>
      r.getLong(0) >= skewThresholdMilli && r.getLong(1) > 1L)
    if (salty)
      saltedJoin(left, right, key,
        math.min(top(0).getLong(1), maxSalts.toLong).toInt)
    else
      left.join(right, left(key) === right(key)).drop(right(key))
  }

  /** Skew DIAGNOSTIC for a join/aggregation key — the report a
    * warehouse engineer reads BEFORE choosing between broadcast, AQE
    * splitting, and [[saltedJoin]]: the top keys by row count with
    * their corpus share, their skew factor versus the mean key (the
    * number AQE's split threshold reasons about), and the salt count
    * that would spread each hot key back to mean-sized tasks
    * (`ceil(cnt / mean)` — the nSalts to hand [[saltedJoin]]).
    *
    * All integer arithmetic: share_ppm = ⌊10⁶·cnt/total⌋,
    * skew_x_milli = ⌊10³·cnt·n_keys/total⌋, salts =
    * ⌈cnt·n_keys/total⌉. One hash agg sized by the key domain, a
    * 1-row totals broadcast, and a TakeOrderedAndProject top-k —
    * nothing data-sized leaves the executors.
    *
    * Output: top-`k` rows (key-named column, cnt, share_ppm,
    * skew_x_milli, salts), ranked (cnt desc, key asc).
    */
  def skewReport(df: DataFrame, key: String, k: Int = 10): DataFrame = {
    require(k >= 1, "k must be positive")
    val counts = df.groupBy(col(key)).agg(count(lit(1)).as("cnt"))
    val totals = counts.agg(sum(col("cnt")).as("__total"),
      count(lit(1)).as("__nk"))
    // products in DECIMAL(38,0) (HUGEINT in the oracle): cnt·n_keys in
    // BIGINT wraps/NULLs silently past 9.2e18 under non-ANSI Spark while
    // DuckDB errors — a silently wrong diagnostic on the engine that
    // matters. 38 digits holds any real corpus (10¹⁸ rows × 10¹⁸ keys).
    counts.crossJoin(broadcast(totals))
      .select(col(key), col("cnt"),
        expr("CAST(1000000 * CAST(cnt AS DECIMAL(38,0)) div __total AS BIGINT)")
          .as("share_ppm"),
        expr("CAST(1000 * CAST(cnt AS DECIMAL(38,0)) * __nk div __total AS BIGINT)")
          .as("skew_x_milli"),
        expr("CAST((CAST(cnt AS DECIMAL(38,0)) * __nk + __total - 1) div __total AS BIGINT)")
          .as("salts"))
      .orderBy(col("cnt").desc, col(key).asc)
      .limit(k)
  }

  /** DuckDB twin of [[skewReport]] over `table`.`key`. */
  def skewReportOracleSql(table: String, key: String, k: Int = 10): String =
    s"""WITH c AS (SELECT $key, CAST(COUNT(*) AS BIGINT) AS cnt
       |           FROM $table GROUP BY 1),
       |t AS (SELECT CAST(SUM(cnt) AS BIGINT) AS total,
       |             CAST(COUNT(*) AS BIGINT) AS nk FROM c)
       |SELECT $key, cnt,
       |       CAST(1000000 * CAST(cnt AS HUGEINT) // total AS BIGINT) AS share_ppm,
       |       CAST(1000 * CAST(cnt AS HUGEINT) * nk // total AS BIGINT) AS skew_x_milli,
       |       CAST((CAST(cnt AS HUGEINT) * nk + total - 1) // total AS BIGINT) AS salts
       |FROM c CROSS JOIN t
       |ORDER BY cnt DESC, $key ASC
       |LIMIT $k""".stripMargin
}
