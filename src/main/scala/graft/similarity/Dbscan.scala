package graft.similarity

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.dedup.Dedup

/** Distributed DBSCAN over an embedding corpus (Ester et al., KDD'96) —
  * density clustering for embedding-space corpus analysis: topic islands
  * become clusters, template near-dups become dense cores, and outliers
  * (the interesting rare documents — or the garbage) fall out as noise.
  *
  * The ε-neighborhood is cosine ≥ `eps` (similarity form, not distance):
  * neighbor pairs come from [[Ann.nearDupPairs]] — LSH-bucketed candidate
  * generation, exact cosine verify, never all-pairs — so the whole
  * algorithm is three composition steps over existing scale-safe pieces:
  *
  *   1. degree count per point over the symmetric pair relation;
  *      core ⟺ |neighborhood| ≥ minPts (the point itself counts, per the
  *      original definition);
  *   2. connected components over CORE–CORE edges ([[Dedup.dupClusters]]:
  *      driver union-find under 2²⁰ edges, distributed min-label above);
  *      cores with no core neighbor become singleton clusters;
  *   3. border points (non-core with ≥ 1 core neighbor) attach to the
  *      MINIMUM cluster id among their core neighbors — DBSCAN's classic
  *      border-tie ambiguity resolved deterministically, so the labelling
  *      is reproducible and oracle-checkable. Everything else is noise.
  *
  * Output: (vec_id, role ∈ core|border|noise, cluster_id — null for
  * noise). Cluster ids are the component-minimum vec_id, stable across
  * partitionings. The LSH blocking makes neighborhoods approximate in
  * the same documented way as embed_neardup (a pair sharing no bucket is
  * missed); the DuckDB oracle replays the identical buckets, so the
  * check is exact over the same candidate universe.
  */
object Dbscan {

  def dbscan(embeddings: DataFrame, eps: Double = 0.35, minPts: Int = 3,
             tables: Int = 8, bits: Int = 8, dim: Int = 64): DataFrame = {
    require(minPts >= 1, "minPts must be >= 1")
    val pairs = Ann.nearDupPairs(embeddings, eps, tables, bits, dim)
      .select("vec_a", "vec_b")
    // sym feeds degree counting, core-edge construction, AND border
    // attachment — eagerly materialized so the whole LSH+verify pipeline
    // runs once, not per concurrently-scheduled consumer stage. The
    // symmetrization is a single-pass explode, NOT a union: a union's two
    // legs are two more concurrent consumers of the pair pipeline.
    val sym = graft.Caching.materialize(
      pairs.select(explode(array(
        struct(col("vec_a").as("id"), col("vec_b").as("nb")),
        struct(col("vec_b").as("id"), col("vec_a").as("nb")))).as("e"))
        .select(col("e.id").as("id"), col("e.nb").as("nb")))
    val deg = sym.groupBy("id").agg(count(lit(1)).as("n_nb"))
    // core feeds both endpoint filters of coreEdges, the border anti-join
    // and the cluster attach — cheap agg over cached sym, but 4 branches
    val core = graft.Caching.materialize(
      deg.filter(col("n_nb") + 1 >= minPts).select("id"))

    // components over core-core edges; isolated cores self-label
    val coreEdges = sym
      .join(core, "id")
      .join(core.select(col("id").as("nb")), "nb")
      .filter(col("id") < col("nb"))
      .select(col("id").as("doc_a"), col("nb").as("doc_b"))
    val clustered = Dedup.dupClusters(coreEdges)
    val coreClusters = core
      .join(clustered, core("id") === clustered("doc_id"), "left")
      .select(col("id"), coalesce(col("cluster_id"), col("id")).as("cluster_id"))

    // border: non-core adjacent to a core, min cluster id wins the tie
    val border = sym
      .join(core.select(col("id").as("__core_id")),
        col("id") === col("__core_id"), "left_anti")
      .join(coreClusters.select(col("id").as("nb"), col("cluster_id")), "nb")
      .groupBy("id").agg(min(col("cluster_id")).as("cluster_id"))

    embeddings.select(col("vec_id"))
      .join(coreClusters.select(col("id").as("vec_id"),
        col("cluster_id").as("__core_cl")), Seq("vec_id"), "left")
      .join(border.select(col("id").as("vec_id"),
        col("cluster_id").as("__border_cl")), Seq("vec_id"), "left")
      .select(col("vec_id"),
        when(col("__core_cl").isNotNull, lit("core"))
          .when(col("__border_cl").isNotNull, lit("border"))
          .otherwise(lit("noise")).as("role"),
        coalesce(col("__core_cl"), col("__border_cl")).as("cluster_id"))
  }
}
