package graft.analytics

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Community detection by synchronous label propagation (Raghavan,
  * Albert & Kumara, "Near linear time algorithm to detect community
  * structures in large-scale networks", Phys. Rev. E 2007), made fully
  * deterministic: every node starts as its own label; each round every
  * node simultaneously adopts its neighbors' most frequent label, ties
  * broken by the smallest label. The random visit order / random
  * tie-break of the paper is replaced by (count desc, label asc) — the
  * same determinism discipline as the repo's other iterative operators
  * (integer PageRank, Lloyd k-means), so the DuckDB oracle replays the
  * rounds bit-for-bit as unrolled CTEs.
  *
  * A FIXED round count (default 3) rather than convergence detection:
  * synchronous LPA can 2-cycle on bipartite-ish regions, so production
  * LPA runs bounded rounds anyway; fixed rounds also keep the oracle a
  * finite CTE chain.
  *
  * 100 TB shape: per round, one equi-join of the 16-byte edge list
  * against the 16-byte label relation, then two hash aggregations
  * ((node, label) vote counts → per-node argmax). No adjacency arrays,
  * no windows — a hub node costs a wide aggregation group, never an
  * executor-sized array. Label state is 16 B/node. For rounds ≫ 5,
  * lineage-truncate like PageRank's convergence mode
  * ([[PageRank.pagerankConverged]]); at the default 3 the plan depth is
  * trivial.
  */
object LabelProp {

  /** Per-node community assignment after `rounds` synchronous LPA
    * rounds over the undirected edge list.
    * Output: (node, community, n_members).
    */
  def labelPropagation(edges: DataFrame, srcCol: String, dstCol: String,
                       rounds: Int = 3, canonical: Boolean = false,
                       symmetric: Boolean = false): DataFrame = {
    // symmetric distinct edge relation — materialized once, consumed by
    // every round's join; built via the half-edge-cached union so the
    // upstream pipeline runs once, not once per union branch
    // (canonical = true: input is already distinct u < v pairs, skip the
    // symmetrization distinct; symmetric = true: input IS the shared
    // materialized sym relation — see GraphEdges)
    val e = GraphEdges.symmetricDistinct(edges, srcCol, dstCol, canonical,
      symmetric)
    val labels = assignments(e, rounds)
    val out = labels.select(col("id").as("node"), col("lbl").as("community"))
    val sizes = out.groupBy("community").agg(count(lit(1)).as("n_members"))
    out.join(sizes, "community").select("node", "community", "n_members")
  }

  /** The per-node LPA label map (id, lbl) over an already-symmetric,
    * already-materialized edge relation — the shared core of
    * [[labelPropagation]] and [[modularity]]. Returns the final round
    * CHECKPOINTED (callers may consume it from several subtrees).
    */
  private[analytics] def assignments(e: DataFrame, rounds: Int): DataFrame = {
    require(rounds >= 1, "need at least one propagation round")
    var labels = e.select(col("src").as("id")).distinct()
      .withColumn("lbl", col("id"))
    var prev: DataFrame = null
    for (_ <- 1 to rounds) {
      // Checkpoint each round BEFORE releasing the previous one: the
      // final labels feed TWO consumers (output + sizes) and each
      // round's labels feed the next round's join — left lazy, every
      // consumer recomputes the whole chain, and left merely PERSISTED
      // the rendered plan doubles per round (Caching.checkpointed)
      labels = graft.Caching.checkpointed(lpaRound(e, labels))
      // RDD-level release of the superseded round: Dataset.unpersist()
      // is a no-op on localCheckpointed frames (Caching.releaseCheckpoint)
      if (prev != null) graft.Caching.releaseCheckpoint(prev)
      prev = labels
    }
    labels
  }

  /** One synchronous LPA round BODY: the label map attaches to the edge
    * relation with one src-keyed hash join, neighbor votes aggregate per
    * (dst, lbl), and the argmax is min of struct(-count, label) — the
    * symmetric edge list gives every node ≥ 1 neighbor, so this covers
    * all nodes each round. Factored out (round-10 verdict #3) so
    * PlanSnapshotSpec pins the INNER-LOOP plan shape the per-round
    * checkpoint hides.
    */
  private[graft] def lpaRound(e: DataFrame, labels: DataFrame): DataFrame = {
    val votes = e
      .join(labels.select(col("id").as("src"), col("lbl")), "src")
      .groupBy(col("dst").as("id"), col("lbl"))
      .agg(count(lit(1)).as("c"))
    votes.groupBy("id")
      .agg(min(struct((-col("c")).as("nc"), col("lbl"))).as("m"))
      .select(col("id"), col("m.lbl").as("lbl"))
  }

  /** Newman modularity of the LPA partition (Newman & Girvan, "Finding
    * and evaluating community structure in networks", Phys. Rev. E
    * 2004): Q = Σ_c [ m_c/m − (d_c/2m)² ] over communities c, with m_c
    * intra-community edges and d_c the community degree sum. Evaluated
    * on the symmetric relation as ONE exact integer expression —
    * Q = Σ_c (m2_c·s − d_c²) / s² with s = |sym edges| = 2m, m2_c the
    * intra SYM edge count and d_c the per-community src count — so the
    * per-community numerators are exact DECIMAL(38,0) products
    * (d_c ≤ s ≤ 10¹³ at 100 TB ⇒ d_c² ≤ 10²⁶), their sum is exact,
    * and the single final division is folded to 1e-6: bit-identical to
    * the oracle's HUGEINT replay.
    *
    * Scale: the label map attaches to the edge relation with two
    * src/dst-keyed hash joins, then ONE map-side-combined aggregation
    * per community and a 1-row fold. No windows.
    *
    * Output: one row (n_communities, m_edges, modularity).
    */
  def modularity(edges: DataFrame, srcCol: String, dstCol: String,
                 rounds: Int = 3, canonical: Boolean = false,
                 symmetric: Boolean = false): DataFrame = {
    val e = GraphEdges.symmetricDistinct(edges, srcCol, dstCol, canonical,
      symmetric)
    val labels = assignments(e, rounds)
    val lblE = e
      .join(labels.select(col("id").as("src"), col("lbl").as("la")), "src")
      .join(labels.select(col("id").as("dst"), col("lbl").as("lb")), "dst")
    val dec = org.apache.spark.sql.types.DecimalType(38, 0)
    val per = lblE.groupBy(col("la"))
      .agg(count(lit(1)).as("dc"),
        sum(when(col("la") === col("lb"), 1L).otherwise(0L)).as("m2c"))
    val s = per.agg(sum(col("dc")).as("s")) // Σ d_c = |sym edges|
    per.crossJoin(broadcast(s))
      .agg(count(lit(1)).as("n_communities"),
        expr("CAST(MAX(s) div 2 AS BIGINT)").as("m_edges"),
        sum(col("m2c").cast(dec) * col("s").cast(dec) -
          col("dc").cast(dec) * col("dc").cast(dec)).as("num"),
        max(col("s")).as("stot"))
      .select(col("n_communities"),
        coalesce(col("m_edges"), lit(0L)).as("m_edges"),
        // empty graph → null sums; report 0.0 rather than null
        coalesce(floor(col("num").cast("double") /
          (col("stot").cast(dec) * col("stot").cast(dec)).cast("double")
          * 1e6 + 0.5) / 1e6, lit(0.0)).as("modularity"))
  }

  /** Shared WITH-prefix: the co-bought symmetric edge relation `e` and
    * LPA rounds l0..l`rounds` — used by both oracle replays.
    */
  private def lpaPrefixSql(rounds: Int): String = {
    val roundsSql = (1 to rounds).map { r =>
      s"""v$r AS (
         |  SELECT e.dst AS id, l.lbl, COUNT(*) AS c
         |  FROM e JOIN l${r - 1} l ON l.id = e.src GROUP BY 1, 2),
         |l$r AS (
         |  SELECT id, lbl FROM (
         |    SELECT id, lbl,
         |           ROW_NUMBER() OVER (PARTITION BY id ORDER BY c DESC, lbl) AS rn
         |    FROM v$r) t
         |  WHERE rn = 1)""".stripMargin
    }.mkString(",\n")
    s"""WITH items AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
       |eh AS (
       |  SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
       |  FROM items a JOIN items b
       |    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey),
       |e AS (SELECT u AS src, v AS dst FROM eh UNION SELECT v, u FROM eh),
       |l0 AS (SELECT DISTINCT src AS id, src AS lbl FROM e),
       |$roundsSql""".stripMargin
  }

  /** DuckDB replay over the co-bought-parts graph: the same symmetric
    * edge list, each round unrolled as a votes CTE + a ROW_NUMBER
    * argmax CTE with the identical (count desc, label asc) tie-break.
    */
  def labelPropOracleSql(rounds: Int = 3): String =
    s"""${lpaPrefixSql(rounds)},
       |sizes AS (SELECT lbl AS community, COUNT(*) AS n_members
       |          FROM l$rounds GROUP BY 1)
       |SELECT l.id AS node, l.lbl AS community, s.n_members
       |FROM l$rounds l JOIN sizes s ON s.community = l.lbl""".stripMargin

  /** DuckDB replay of [[modularity]]: identical LPA rounds, identical
    * one-expression HUGEINT modularity numerator.
    */
  def modularityOracleSql(rounds: Int = 3): String =
    s"""${lpaPrefixSql(rounds)},
       |lbl_e AS (
       |  SELECT la.lbl AS la, lb.lbl AS lb
       |  FROM e JOIN l$rounds la ON la.id = e.src
       |         JOIN l$rounds lb ON lb.id = e.dst),
       |per AS (
       |  SELECT la, COUNT(*) AS dc,
       |         SUM(CASE WHEN la = lb THEN 1 ELSE 0 END) AS m2c
       |  FROM lbl_e GROUP BY 1),
       |tot AS (SELECT SUM(dc) AS s FROM per)
       |SELECT CAST(COUNT(*) AS BIGINT) AS n_communities,
       |       CAST(MAX(s) // 2 AS BIGINT) AS m_edges,
       |       FLOOR(CAST(SUM(CAST(m2c AS HUGEINT) * s - CAST(dc AS HUGEINT) * dc) AS DOUBLE)
       |             / CAST(CAST(MAX(s) AS HUGEINT) * MAX(s) AS DOUBLE)
       |             * 1e6 + 0.5) / 1e6 AS modularity
       |FROM per CROSS JOIN tot""".stripMargin
}
