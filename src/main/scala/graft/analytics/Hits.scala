package graft.analytics

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** HITS hubs-and-authorities (Kleinberg, "Authoritative sources in a
  * hyperlinked environment", JACM 1999) over the directed bipartite
  * customer→supplier purchase graph — the complement of [[PageRank]]:
  * PageRank measures global centrality on the symmetrized graph, HITS
  * splits the bipartite roles (customers as hubs that "endorse" many
  * good suppliers, suppliers as authorities endorsed by good hubs).
  *
  * Exact integer fixed-point, the repo's iterative-determinism
  * discipline (see [[PageRank]]): scores start in 1e-12 units
  * (h₀ = Mass div |hubs|) and the rounds run UNNORMALIZED —
  *
  *   aₖ(s) = Σ_{c→s} hₖ₋₁(c),   hₖ(c) = Σ_{c→s} aₖ(s)
  *
  * — pure exact DECIMAL(38,0) sums, no division at all until ONE final
  * L1 renormalization of each vector to Mass units:
  * score' = (score · Mass) div Σ score (DECIMAL multiply, integral
  * `div`, mirrored by HUGEINT `//` in the DuckDB replay
  * [[hitsOracleSql]]). HITS scores are scale-free, so normalizing once
  * at the end is mathematically the same ranking as Kleinberg's
  * per-round L2 fold with STRICTLY less truncation (the only rounding
  * in the whole computation is the final div), and it is bit-identical
  * under any partitioning.
  *
  * Headroom, derived (and ENFORCED by a require() from the actual
  * degree stats): with h₀ = Mass div |hubs| and dmax the max in/out
  * degree, every score after the 2k half-rounds is ≤ h₀·dmax^(2k) and
  * the vector total is ≤ n·h₀·dmax^(2k); DECIMAL(38,0) therefore
  * needs BOTH  log₁₀h₀ + 2k·log₁₀dmax + log₁₀n < 38  (the totals) and
  * log₁₀h₀ + 2k·log₁₀dmax + 12 < 38  (the final ·Mass renorm multiply
  * on a score). At the default 3 rounds that holds comfortably for
  * dmax ~10³–10⁴ graphs; past the bound the guard refuses with the
  * fix named: `renormEachRound = true` renormalizes each half-round
  * vector back to Mass units (one extra integral div of truncation per
  * half-round — Kleinberg's shape), keeping magnitudes ≤ Mass·dmax, so
  * it is safe for any dmax < 10¹⁴ at any round count.
  *
  * Scale shape: one (edge ⋈ score) hash join + one sum per half-round —
  * the PageRank shape run once per direction, with NO per-round scalar
  * actions or broadcasts (the round chain is lazy; each half-round has
  * exactly one consumer, so the plan stays linear and Spark runs the
  * whole recursion as one job per checkpointed endpoint). Score state
  * is ≤ 24 B/node; the two L1 totals are broadcast 1-row aggregates.
  * The edge relation is persisted across all rounds.
  */
object Hits {

  private val Mass = 1000000000000L // 1e12 score units

  /** Hub/authority scores after `rounds` full HITS rounds.
    * Output: (id, node_type, score_units, score) — customers carry hub
    * scores, suppliers authority scores (the bipartite graph has no
    * mixed roles).
    */
  def hits(lineitem: DataFrame, orders: DataFrame, rounds: Int = 3,
           renormEachRound: Boolean = false): DataFrame =
    // directed distinct customer→supplier edges; parity node ids as in
    // PageRank (collision-free at any key scale). Feeds both per-round
    // joins — materialized so the lineitem⋈orders distinct runs once.
    hitsOnEdges(graft.Caching.materialize(
      PageRank.directedPurchaseEdges(lineitem, orders)), rounds, renormEachRound)

  /** [[hits]] over a prebuilt DIRECTED distinct (src, dst) purchase-edge
    * relation the caller has already materialized/checkpointed
    * ([[PageRank.directedPurchaseEdges]] is the matching builder).
    */
  def hitsOnEdges(edges: DataFrame, rounds: Int = 3,
                  renormEachRound: Boolean = false): DataFrame = {
    require(rounds >= 1, "need at least one round")
    val dec = DecimalType(38, 0)
    // ONE pre-pass over the cached edges serves both the h₀ split and
    // the headroom guard: hubs are exactly the even-parity nodes
    // (PageRank.customerNode = 2·key), so hub count, node count and max
    // degree all come out of a single degree aggregation — no separate
    // distinct-count job
    val st = edges.select(col("src").as("n"))
      .union(edges.select(col("dst").as("n")))
      .groupBy("n").agg(count(lit(1)).as("d"))
      .agg(sum(when(col("n") % 2 === 0, 1L).otherwise(0L)).as("nhubs"),
        max(col("d")).as("dmax"), count(lit(1)).as("nn")).head
    val nHubs = if (st.isNullAt(0)) 0L else st.getLong(0)
    if (nHubs == 0) {
      // empty graph: empty result (not a Mass div 0), schema preserved
      edges.unpersist()
      return edges.select(col("src").as("id"), lit("hub").as("node_type"),
        lit(0L).as("score_units"), lit(0.0).as("score")).limit(0)
    }
    if (!renormEachRound) {
      // enforce the documented DECIMAL(38,0) headroom bound from the
      // ACTUAL degree stats: score ≤ h₀·dmax^(2k), total ≤ n·that, and
      // the renorm multiplies a score by 1e12
      val dmax = st.getLong(1).max(1L); val nn = st.getLong(2).max(1L)
      val maxDigits = math.log10((Mass / nHubs).max(1L).toDouble) +
        2 * rounds * math.log10(dmax.toDouble)
      require(maxDigits + math.log10(nn.toDouble) < 38 && maxDigits + 12 < 38,
        s"HITS unnormalized headroom exceeded: rounds=$rounds, max degree=$dmax, " +
          s"$nn nodes would overflow DECIMAL(38,0); pass renormEachRound = true " +
          "(per-half-round L1 renormalization, safe for any degree < 1e14)")
    }
    var hubs = edges.select(col("src")).distinct()
      .select(col("src"), lit(Mass / nHubs).cast(dec).as("s"))
    // per-half-round renormalization back to Mass units (the
    // renormEachRound mode): one broadcast 1-row total + integral div.
    // The renormalized relation feeds TWO subtrees (the next half-round
    // join and its own total), so it is checkpointed — the same
    // iterative-lineage discipline as BFS/LPA, paid only in this mode.
    def renormTo(scores: DataFrame, keyCol: String): DataFrame = {
      val tot = scores.agg(sum(col("s")).cast(dec).as("tot"))
      graft.Caching.checkpointed(scores.crossJoin(broadcast(tot))
        .select(col(keyCol),
          expr(s"CAST((CAST(s AS DECIMAL(38,0)) * $Mass) div tot AS DECIMAL(38,0))")
            .as("s")))
    }
    var auths: DataFrame = null
    for (k <- 1 to rounds) {
      auths = edges.join(hubs, "src")
        .groupBy(col("dst")).agg(sum(col("s")).as("s"))
      // checkpoint only the LAST round's authority relation: it feeds
      // both the final hub half-round and the output renorm (two
      // consumers); interior rounds are single-consumer lazy links
      if (renormEachRound) auths = renormTo(auths, "dst")
      else if (k == rounds) auths = graft.Caching.checkpointed(auths)
      hubs = edges.join(auths.withColumnRenamed("dst", "d2"),
          edges("dst") === col("d2"))
        .groupBy(col("src")).agg(sum(col("s")).as("s"))
      if (renormEachRound) hubs = renormTo(hubs, "src")
    }
    if (!renormEachRound) hubs = graft.Caching.checkpointed(hubs)
    // ONE rounding operation per vector: renormalize to Mass units with
    // the L1 total as a broadcast 1-row aggregate (no driver action)
    def renorm(scores: DataFrame, idCol: String): DataFrame = {
      val tot = scores.agg(sum(col("s")).cast(dec).as("tot"))
      scores.crossJoin(broadcast(tot))
        .select(col(idCol).as("id"),
          expr(s"CAST((CAST(s AS DECIMAL(38,0)) * $Mass) div tot AS BIGINT)").as("s"))
    }
    renorm(hubs, "src").select(col("id"), lit("hub").as("node_type"), col("s"))
      .unionByName(renorm(auths, "dst")
        .select(col("id"), lit("authority").as("node_type"), col("s")))
      .select(col("id"), col("node_type"), col("s").as("score_units"),
        (col("s").cast("double") / Mass).as("score"))
  }

  /** DuckDB replay of [[hits]]: same unnormalized integer recurrence,
    * rounds unrolled as CTE pairs, one final HUGEINT `//`
    * renormalization per vector (agrees with `div` on non-negatives).
    */
  def hitsOracleSql(rounds: Int = 3): String = {
    val roundsSql = (1 to rounds).map { k =>
      s"""a$k AS (
         |  SELECT e.dst, SUM(h.s) AS s FROM edges e
         |  JOIN h${k - 1} h ON h.src = e.src GROUP BY 1),
         |h$k AS (
         |  SELECT e.src, SUM(a.s) AS s FROM edges e
         |  JOIN a$k a ON a.dst = e.dst GROUP BY 1)""".stripMargin
    }.mkString(",\n")
    s"""WITH edges AS (
       |  SELECT DISTINCT o_custkey * 2 AS src, l_suppkey * 2 + 1 AS dst
       |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
       |h0 AS (
       |  SELECT src, 1000000000000 // (SELECT COUNT(DISTINCT src) FROM edges) AS s
       |  FROM (SELECT DISTINCT src FROM edges)),
       |$roundsSql
       |SELECT id, node_type,
       |       CAST(CAST(s AS HUGEINT) * 1000000000000 // tot AS BIGINT) AS score_units,
       |       CAST(CAST(CAST(s AS HUGEINT) * 1000000000000 // tot AS BIGINT) AS DOUBLE)
       |         / 1000000000000.0 AS score
       |FROM (
       |  SELECT src AS id, 'hub' AS node_type, s,
       |         (SELECT SUM(s) FROM h$rounds) AS tot FROM h$rounds
       |  UNION ALL
       |  SELECT dst, 'authority', s,
       |         (SELECT SUM(s) FROM a$rounds) AS tot FROM a$rounds)""".stripMargin
  }
}
