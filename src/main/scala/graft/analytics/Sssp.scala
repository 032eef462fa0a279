package graft.analytics

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Single-source weighted shortest paths: bounded-round Bellman-Ford
  * over the co-bought-parts graph with AFFINITY distances — edge weight
  * `max(10^6 div c_pair, 1)` so strongly co-bought pairs are close —
  * answering "what is cheapest-path reachable from the hub product in
  * ≤ r hops", the weighted cousin of [[Bfs.hubDistances]].
  *
  * Determinism: weights and path sums are exact BIGINTs (integer
  * division, no IEEE anywhere), and after r rounds every node holds
  * exactly min-cost-over-paths-of-≤-r-edges, a set-valued quantity with
  * no tie-breaks — so fixed rounds replay exactly in the oracle.
  *
  * 100 TB shape: the engine relaxes only the IMPROVED frontier each
  * round (delta relaxation — a node re-sends only when its distance
  * drops, so per-round work is Σ frontier-degree, not |E|·rounds;
  * the classic distributed Bellman-Ford refinement), with one full
  * outer min-merge join per round and per-round checkpoint lineage
  * truncation. The oracle instead relaxes ALL nodes every round —
  * a different algorithm shape arriving at the same ≤-r-edge distances,
  * making the hash match a differential proof, not a replay.
  */
object Sssp {

  /** Canonical weighted half-edge relation (src < dst, w) over a
    * [[Baskets.coOccurrenceCounts]] relation (pair counts via the Apriori
    * pair expansion, with the `maxBasketSize` skew guard every basket
    * consumer shares): the affinity distance `max(10^6 div c_pair, 1)`.
    */
  def affinityEdgesFromCounts(counts: DataFrame): DataFrame =
    counts.select(col("item_a").cast("long").as("src"),
      col("item_b").cast("long").as("dst"),
      greatest(expr("cast(1000000 as bigint) div c_pair"), lit(1L)).as("w"))

  /** Bellman-Ford distances from the top-degree node over a canonical
    * weighted half-edge relation (src < dst, w). Output: (node, dist),
    * one row per node reached within `rounds` edges.
    */
  def weightedDistances(half: DataFrame, rounds: Int = 3): DataFrame = {
    require(rounds >= 1, "need at least one round")
    val e = graft.Caching.materialize(half.union(
      half.select(col("dst").as("src"), col("src").as("dst"), col("w"))))
    val seed = e.groupBy(col("src").as("node")).agg(count(lit(1)).as("d"))
      .orderBy(col("d").desc, col("node").asc).limit(1)
      .select(col("node"), lit(0L).as("dist"))
    var dist = graft.Caching.checkpointed(seed)
    var frontier: DataFrame = dist
    for (_ <- 1 to rounds) {
      val relaxed = e
        .join(frontier.select(col("node").as("src"), col("dist").as("fd")), "src")
        .select(col("dst").as("node"), (col("fd") + col("w")).as("nd"))
        .groupBy("node").agg(min("nd").as("nd"))
      val merged = graft.Caching.checkpointed(
        dist.join(relaxed, Seq("node"), "full")
          .select(col("node"),
            least(coalesce(col("dist"), col("nd")),
              coalesce(col("nd"), col("dist"))).as("best"),
            (col("dist").isNull ||
              (col("nd").isNotNull && col("nd") < col("dist"))).as("improved")))
      graft.Caching.releaseCheckpoint(dist)
      frontier = merged.filter(col("improved"))
        .select(col("node"), col("best").as("dist"))
      dist = merged.select(col("node"), col("best").as("dist"))
    }
    dist
  }

  /** DuckDB replay: same pair counts / weights / degree-ordered seed,
    * but FULL relaxation per unrolled round (no frontier delta) — the
    * differential algorithm shape.
    */
  def hubWeightedOracleSql(rounds: Int = 3, maxBasketSize: Int = 4096): String = {
    val roundsSql = (1 to rounds).map { r =>
      s"""d$r AS (
         |  SELECT node, MIN(dist) AS dist FROM (
         |    SELECT * FROM d${r - 1}
         |    UNION ALL
         |    SELECT e.dst AS node, d.dist + e.w AS dist
         |    FROM e JOIN d${r - 1} d ON d.node = e.src) u
         |  GROUP BY 1)""".stripMargin
    }.mkString(",\n")
    s"""WITH items AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
       |ok AS (SELECT l_orderkey FROM items GROUP BY 1
       |       HAVING COUNT(*) <= $maxBasketSize),
       |pc AS (
       |  SELECT a.l_partkey AS ia, b.l_partkey AS ib, COUNT(*) AS c_pair
       |  FROM items a
       |  JOIN ok ON ok.l_orderkey = a.l_orderkey
       |  JOIN items b
       |    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
       |  GROUP BY 1, 2),
       |eh AS (SELECT CAST(ia AS BIGINT) AS src, CAST(ib AS BIGINT) AS dst,
       |              CAST(GREATEST(1000000 // c_pair, 1) AS BIGINT) AS w
       |       FROM pc),
       |e AS (SELECT src, dst, w FROM eh UNION ALL SELECT dst, src, w FROM eh),
       |deg AS (SELECT src AS node, COUNT(*) AS d FROM e GROUP BY 1),
       |d0 AS (
       |  SELECT node, CAST(0 AS BIGINT) AS dist FROM (
       |    SELECT node, ROW_NUMBER() OVER (ORDER BY d DESC, node) AS rn
       |    FROM deg) t
       |  WHERE rn = 1),
       |$roundsSql
       |SELECT node, CAST(dist AS BIGINT) AS dist FROM d$rounds""".stripMargin
  }
}
