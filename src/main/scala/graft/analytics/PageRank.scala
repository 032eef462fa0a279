package graft.analytics

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Fixed-iteration PageRank over the customer↔supplier co-purchase graph —
  * the graph-centrality quality signal web-scale corpus pipelines attach
  * to documents (CommonCrawl's harmonic/PageRank centrality scores deciding
  * which hosts are worth keeping; Brin & Page, WWW'98).
  *
  * The graph: one edge per distinct (customer, supplier) purchase relation
  * (via lineitem⋈orders), symmetrized — customer and supplier keys share
  * one node-id space via the collision-free 2k / 2k+1 parity encoding
  * (see [[customerNode]]/[[supplierNode]]). Symmetrization removes
  * dangling-mass bookkeeping (every node keeps out-edges) while
  * preserving the centrality ordering on a bipartite graph.
  *
  * Every rank is an exact INTEGER in 1e-12 units of probability mass, and
  * the whole update is integer arithmetic:
  *
  *   r₀ = 10¹² div N
  *   rₖ(v) = (15·10¹²) div (100·N)  +  (85 · Σ_{u→v} rₖ₋₁(u) div od(u)) div 100
  *
  * — `div` truncation replaces the float divisions, so the result is
  * bit-identical under any partitioning AND in the DuckDB oracle replay
  * ([[pagerankOracleSql]] unrolls the same five iterations as CTEs; float
  * PageRank would drift by summation order). The truncated remainders leak
  * ≤ (od−1)·10⁻¹² of mass per node per round — bounded, deterministic, and
  * irrelevant to ordering. Headroom: 85·Σ ≤ 8.5·10¹³ ≪ 2⁶³.
  *
  * Scale shape: one shuffle for the distinct edge relation, one for
  * degrees, then per iteration one join of ranks onto edges (both keyed on
  * src — co-partitioned after the first round) and one sum by dst. Rank
  * state is 16 B/node. N and the teleport constant are the only driver
  * values (two longs — bounded model state, as in kmeans). The edge
  * relation is persisted across all iterations, and the rank lineage is
  * truncated with an eager `localCheckpoint` every `checkpointEvery`
  * rounds — at the default 5 iterations the plan never reaches a
  * checkpoint and is byte-identical to the fixed-iteration formulation,
  * while iters=20+ keeps a bounded plan depth instead of nesting every
  * round's join. An optional integer L1-delta early-exit (`tolUnits ≥ 0`)
  * stops when Σ|rₖ−rₖ₋₁| ≤ tolUnits; the recurrence is exact integer
  * arithmetic, so once the delta hits 0 the vector is a true fixed point
  * and further rounds cannot change the result.
  */
object PageRank {

  private val Mass = 1000000000000L // 1e12 rank units = total probability 1

  /** Collision-free node ids at ANY key scale: customers map to 2·key,
    * suppliers to 2·key+1 (parity encoding). A fixed additive offset
    * would silently merge a customer and a supplier once custkey grows
    * past it — TPC-H custkey reaches 1.5e10 at the 100 TB scale this
    * library targets, so namespacing must be data-independent.
    */
  def customerNode(key: Column): Column = key * 2
  def supplierNode(key: Column): Column = key * 2 + 1

  /** Directed distinct customer→supplier purchase edges — the shared
    * base relation of [[pagerank]], [[personalizedPagerank]] and
    * [[Hits]] (all three queries walk the same bipartite graph, so a
    * session can build this once and fan it out).
    */
  def directedPurchaseEdges(lineitem: DataFrame, orders: DataFrame): DataFrame =
    lineitem.select("l_orderkey", "l_suppkey")
      .join(orders.select("o_orderkey", "o_custkey"),
        col("l_orderkey") === col("o_orderkey"))
      .select(customerNode(col("o_custkey")).as("src"),
        supplierNode(col("l_suppkey")).as("dst"))
      .distinct()

  /** Symmetrize a distinct directed purchase-edge relation with NO
    * second distinct: the base branch has even src / odd dst and the
    * swapped branch the opposite (parity node ids), so the branches are
    * disjoint and each is distinct — their union is distinct by
    * construction. Dropping the redundant distinct removes a full
    * 2|E|-row shuffle from every symmetric-graph consumer.
    */
  def symmetrized(directed: DataFrame): DataFrame =
    directed.union(directed.select(col("dst").as("src"), col("src").as("dst")))

  /** (src, dst) symmetric distinct edge relation from lineitem⋈orders. */
  def copurchaseEdges(lineitem: DataFrame, orders: DataFrame): DataFrame =
    symmetrized(directedPurchaseEdges(lineitem, orders))

  /** PageRank after `iters` synchronous rounds, damping 0.85.
    * Output: (id, node_type, rank_units, rank), one row per node.
    *
    * @param checkpointEvery truncate rank lineage with an eager
    *        localCheckpoint every this many rounds (bounded plan depth
    *        for long runs; default 8 leaves the 5-iteration default
    *        checkpoint-free and byte-identical to the r3 formulation)
    * @param tolUnits if ≥ 0, stop as soon as the integer L1 delta
    *        Σ|rₖ−rₖ₋₁| ≤ tolUnits (exact — delta 0 is a true fixed
    *        point); negative disables the convergence check (default)
    */
  def pagerank(lineitem: DataFrame, orders: DataFrame, iters: Int = 5,
               checkpointEvery: Int = 8, tolUnits: Long = -1L): DataFrame =
    // edges feed the degree aggregation AND the per-round join relation
    // (different subtrees, separate actions) — materialized so the
    // lineitem⋈orders distinct build runs once, not once per consumer
    pagerankOnEdges(graft.Caching.materialize(copurchaseEdges(lineitem, orders)),
      iters, checkpointEvery, tolUnits)

  /** [[pagerank]] over a prebuilt SYMMETRIC distinct edge relation
    * (src, dst) that the caller has already materialized/checkpointed.
    */
  def pagerankOnEdges(edges: DataFrame, iters: Int = 5,
                      checkpointEvery: Int = 8, tolUnits: Long = -1L): DataFrame = {
    val (edgesDeg, deg) = prepareWalk(edges)
    pagerankPrepared(edgesDeg, deg, iters, checkpointEvery, tolUnits)
  }

  /** The per-round walk state both PageRank variants consume: the
    * degree relation and the degree-attached edge relation. `deg` feeds
    * edgesDeg, the rank init AND the n count — materialized; edgesDeg
    * feeds every round's join — persisted (single plan chain, so the
    * first action populates it before reuse).
    */
  def prepareWalk(edges: DataFrame): (DataFrame, DataFrame) = {
    val deg = graft.Caching.materialize(
      edges.groupBy("src").agg(count(lit(1)).as("od")))
    val edgesDeg = edges.join(deg, "src")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    (edgesDeg, deg)
  }

  /** One synchronous PageRank round BODY: contributions stream along the
    * degree-attached edges (rank join keyed on src), the dst-keyed hash
    * aggregate map-side-combines, and teleport + damping stay exact
    * integer `div` arithmetic. Factored out (round-10 verdict #3) so
    * PlanSnapshotSpec pins the INNER-LOOP plan — the per-round
    * checkpoint means the returned-DF fingerprint covers only the tail.
    */
  private[graft] def pagerankStep(edgesDeg: DataFrame, prev: DataFrame,
                                  teleport: Long): DataFrame =
    edgesDeg
      .join(prev, edgesDeg("src") === prev("id"))
      .select(col("dst"), expr("r div od").as("contrib"))
      .groupBy(col("dst").as("id"))
      .agg(sum(col("contrib")).as("s"))
      .select(col("id"),
        (lit(teleport) + expr("(85 * s) div 100")).as("r"))

  /** [[pagerank]] over caller-prepared walk state ([[prepareWalk]] or a
    * checkpointed equivalent).
    */
  def pagerankPrepared(edgesDeg: DataFrame, deg: DataFrame, iters: Int = 5,
                       checkpointEvery: Int = 8, tolUnits: Long = -1L): DataFrame = {
    require(iters >= 1, "need at least one iteration")
    require(checkpointEvery >= 1, "checkpointEvery must be >= 1")

    val n = deg.count() // N nodes: bounded driver scalar, like kmeans' k
    val teleport = (15L * Mass) / (100L * n)

    var ranks = deg.select(col("src").as("id"), lit(Mass / n).as("r"))
    var round = 1
    var converged = false
    while (round <= iters && !converged) {
      val prev = ranks
      var next = pagerankStep(edgesDeg, prev, teleport)
      if (round % checkpointEvery == 0) next = next.localCheckpoint()
      if (tolUnits >= 0L) {
        // one exact scalar per round: Σ|Δ| in 1e-12 units, long arithmetic
        val a = next.alias("a"); val b = prev.alias("b")
        val l1 = a.join(b, col("a.id") === col("b.id"))
          .agg(coalesce(sum(abs(col("a.r") - col("b.r"))), lit(0L)).as("l1"))
          .head().getLong(0)
        if (l1 <= tolUnits) converged = true
      }
      ranks = next
      round += 1
    }
    ranks.select(
      col("id"),
      when(col("id") % 2 === 1, lit("supplier"))
        .otherwise(lit("customer")).as("node_type"),
      col("r").as("rank_units"),
      (col("r").cast("double") / Mass).as("rank"))
  }

  /** Personalized PageRank (Jeh & Widom, "Scaling Personalized Web
    * Search", WWW'03): the teleport mass returns only to a SEED set —
    * here the top-`nSeeds` highest-degree customer nodes (degree desc,
    * id asc; the [[Bfs.hubDistances]] seed rule) — so the stationary
    * vector measures proximity to those customers rather than global
    * centrality: "which suppliers serve the biggest buyers'
    * neighborhood". Same exact integer recurrence as [[pagerank]]
    * (1e-12 rank units, `div` arithmetic, synchronous rounds), with
    * r₀ = Mass/nSeeds on seeds and 0 elsewhere and the per-round
    * teleport added only on seed rows — bit-identical to the
    * unrolled-CTE oracle.
    *
    * Scale: identical join/agg shape per round as [[pagerank]] plus one
    * broadcast of the nSeeds-row seed relation.
    */
  def personalizedPagerank(lineitem: DataFrame, orders: DataFrame,
                           iters: Int = 5, nSeeds: Int = 10): DataFrame =
    pprOnEdges(graft.Caching.materialize(copurchaseEdges(lineitem, orders)),
      iters, nSeeds)

  /** [[personalizedPagerank]] over a prebuilt SYMMETRIC distinct edge
    * relation the caller has already materialized/checkpointed.
    */
  def pprOnEdges(edges: DataFrame, iters: Int = 5, nSeeds: Int = 10): DataFrame = {
    val (edgesDeg, deg) = prepareWalk(edges)
    pprPrepared(edgesDeg, deg, iters, nSeeds)
  }

  /** [[personalizedPagerank]] over caller-prepared walk state. */
  def pprPrepared(edgesDeg: DataFrame, deg: DataFrame, iters: Int = 5,
                  nSeeds: Int = 10): DataFrame = {
    require(iters >= 1 && nSeeds >= 1, "need iterations and seeds")
    val seeds = deg.filter(col("src") % 2 === 0)
      .orderBy(col("od").desc, col("src").asc)
      .limit(nSeeds)
      .select(col("src").as("id"), lit(true).as("is_seed"))
    val teleport = (15L * Mass) / (100L * nSeeds)
    val init = (Mass / nSeeds)

    var ranks = deg.select(col("src").as("id"))
      .join(broadcast(seeds), Seq("id"), "left")
      .select(col("id"),
        when(col("is_seed"), lit(init)).otherwise(lit(0L)).as("r"))
    for (round <- 1 to iters) {
      val prev = ranks
      ranks = edgesDeg
        .join(prev, edgesDeg("src") === prev("id"))
        .select(col("dst"), expr("r div od").as("contrib"))
        .groupBy(col("dst").as("id"))
        .agg(sum(col("contrib")).as("s"))
        .join(broadcast(seeds), Seq("id"), "left")
        .select(col("id"),
          (when(col("is_seed"), lit(teleport)).otherwise(lit(0L)) +
            expr("(85 * s) div 100")).as("r"))
      // truncate lineage mid-run (Caching.checkpointed rationale): each
      // round nests a join+agg+broadcast over the previous plan; at the
      // default 5 iterations one checkpoint halves the rendered depth
      if (round % 3 == 0) ranks = graft.Caching.checkpointed(ranks)
    }
    ranks.select(
      col("id"),
      when(col("id") % 2 === 1, lit("supplier"))
        .otherwise(lit("customer")).as("node_type"),
      col("r").as("rank_units"),
      (col("r").cast("double") / Mass).as("rank"))
  }

  /** DuckDB replay of [[personalizedPagerank]]: same seed selection,
    * same integer recurrence, rounds unrolled as CTEs.
    */
  def pprOracleSql(iters: Int = 5, nSeeds: Int = 10): String = {
    val rounds = (1 to iters).map { k =>
      s"""r$k AS (
         |  SELECT agg.id,
         |         CASE WHEN s.id IS NOT NULL THEN (SELECT tp FROM consts)
         |              ELSE 0 END + agg.sr AS r
         |  FROM (SELECT e.dst AS id, (85 * SUM(p.r // d.od)) // 100 AS sr
         |        FROM edges e
         |        JOIN r${k - 1} p ON e.src = p.id
         |        JOIN deg d ON e.src = d.src
         |        GROUP BY 1) agg
         |  LEFT JOIN seeds s ON s.id = agg.id)""".stripMargin
    }.mkString(",\n")
    s"""WITH base_edges AS (
       |  SELECT DISTINCT o_custkey * 2 AS src, l_suppkey * 2 + 1 AS dst
       |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
       |edges AS (SELECT src, dst FROM base_edges UNION SELECT dst, src FROM base_edges),
       |deg AS (SELECT src, COUNT(*) AS od FROM edges GROUP BY 1),
       |seeds AS (
       |  SELECT src AS id FROM (
       |    SELECT src, ROW_NUMBER() OVER (ORDER BY od DESC, src) AS rn
       |    FROM deg WHERE src % 2 = 0) t
       |  WHERE rn <= $nSeeds),
       |consts AS (
       |  SELECT 15000000000000 // (100 * $nSeeds) AS tp,
       |         1000000000000 // $nSeeds AS r_init),
       |r0 AS (
       |  SELECT d.src AS id,
       |         CASE WHEN s.id IS NOT NULL THEN (SELECT r_init FROM consts)
       |              ELSE 0 END AS r
       |  FROM deg d LEFT JOIN seeds s ON s.id = d.src),
       |$rounds
       |SELECT id,
       |       CASE WHEN id % 2 = 1 THEN 'supplier' ELSE 'customer' END AS node_type,
       |       CAST(r AS BIGINT) AS rank_units,
       |       CAST(r AS DOUBLE) / 1000000000000.0 AS rank
       |FROM r$iters""".stripMargin
  }

  /** The identical computation as one DuckDB query: the five rounds unroll
    * to CTEs r1..r5 over the same integer recurrence (`//` is DuckDB's
    * integer division; all values positive, so it agrees with `div`).
    */
  def pagerankOracleSql(iters: Int = 5): String = {
    val rounds = (1 to iters).map { k =>
      s"""r$k AS (
         |  SELECT e.dst AS id,
         |         (SELECT tp FROM consts) + (85 * SUM(p.r // d.od)) // 100 AS r
         |  FROM edges e
         |  JOIN r${k - 1} p ON e.src = p.id
         |  JOIN deg d ON e.src = d.src
         |  GROUP BY 1)""".stripMargin
    }.mkString(",\n")
    s"""WITH base_edges AS (
       |  SELECT DISTINCT o_custkey * 2 AS src, l_suppkey * 2 + 1 AS dst
       |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
       |edges AS (SELECT src, dst FROM base_edges UNION SELECT dst, src FROM base_edges),
       |deg AS (SELECT src, COUNT(*) AS od FROM edges GROUP BY 1),
       |consts AS (
       |  SELECT COUNT(*) AS n_nodes,
       |         15000000000000 // (100 * COUNT(*)) AS tp,
       |         1000000000000 // COUNT(*) AS r_init
       |  FROM deg),
       |r0 AS (SELECT src AS id, (SELECT r_init FROM consts) AS r FROM deg),
       |$rounds
       |SELECT id,
       |       CASE WHEN id % 2 = 1 THEN 'supplier' ELSE 'customer' END AS node_type,
       |       CAST(r AS BIGINT) AS rank_units,
       |       CAST(r AS DOUBLE) / 1000000000000.0 AS rank
       |FROM r$iters""".stripMargin
  }
}
