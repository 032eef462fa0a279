package graft.similarity

import org.apache.spark.sql.{Column, DataFrame, Encoders}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Approximate-nearest-neighbor search over an embedding column
  * (`array<float>`), BASELINE.json north star.
  *
  * Three tiers:
  *  1. [[bruteForceTopK]] — exact cosine top-k; the correctness baseline.
  *     Broadcast the (small) query set against the partitioned corpus, so
  *     the corpus never shuffles; per-query top-k via ranked windows.
  *  2. [[lshTopK]] — random-hyperplane (sign-random-projection) LSH:
  *     candidates must share a bucket in ≥1 of `tables` hash tables; only
  *     candidates get exact re-ranking. The bucket join is an equi-join on
  *     (table, bucket) — at 100 TB this is the difference between a cross
  *     join (impossible) and a keyed shuffle (routine).
  *  3. [[ivfTopK]] — inverted-file index: corpus vectors are assigned to
  *     their nearest centroid; queries probe the `nprobe` nearest
  *     centroids' posting lists only.
  *
  * All vector math is higher-order array expressions (`zip_with` +
  * `aggregate` left-folds) — deterministic summation order, codegen'd, no
  * UDFs. Cosines exposed to oracles are rounded to 1e-6 so cross-engine
  * float-fold differences can't flip a comparison.
  *
  * CACHING CONTRACT: [[lshTopK]] and [[nearDupPairs]] persist the bucket
  * relation their self-joins share; callers release it after consuming the
  * result (`spark.catalog.clearCache()` or unpersist) — see the full note
  * on [[graft.dedup.Dedup]].
  */
object Ann {

  /** Elementwise dot product as a deterministic left fold (built-in
    * higher-order functions; kept as the reference implementation).
    */
  def dot(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x * y), lit(0.0), (acc, x) => acc + x)

  def l2norm(a: Column): Column = sqrt(dot(a, a))

  /** Fold-composed cosine — bit-identical to [[cosine]], three array walks. */
  def cosineFold(a: Column, b: Column): Column = dot(a, b) / (l2norm(a) * l2norm(b))

  /** Cosine similarity via the native codegen expression (one fused loop,
    * same left-to-right IEEE addition order as the fold version).
    */
  def cosine(a: Column, b: Column): Column =
    graft.functions.VectorFunctions.cosine_sim(a, b)

  private def asDouble(c: Column): Column = c.cast("array<double>")

  /** Corpus relation (vec_id, v) with embeddings widened to double. */
  private def corpus(embeddings: DataFrame): DataFrame =
    embeddings.select(col("vec_id"), asDouble(col("embedding")).as("v"))

  /** Equi-depth (per-dimension quantile) quantization — the data-adaptive
    * complement to [[quantizeInt8]]'s linear grid: each dimension's bin
    * boundaries are its own exact quartiles, so every bin holds ~the same
    * mass even under skewed coordinate distributions (what real learned
    * embeddings have). 2-bit codes per dimension here (4 bins), the same
    * shape PQ codebooks use.
    *
    * Boundaries come from the exact interpolated percentile (one
    * explode + per-dim agg — 64 groups, broadcast back); binning is a
    * row-local CASE. Exact percentiles buffer per-group values, but the
    * groups here are DIMENSIONS (few, huge) — at corpus scale swap in
    * `approx_percentile` per the sizing note in SCALE.md; the bin
    * semantics (strict `<` on identical doubles) replay in DuckDB's
    * quantile_cont either way.
    */
  def quantizeEquiDepth(embeddings: DataFrame): DataFrame = {
    val elems = corpus(embeddings)
      .select(col("vec_id"), posexplode(col("v")).as(Seq("pos", "x")))
      .select(col("vec_id"), (col("pos") + 1).as("dim"), col("x"))
    val bounds = elems.groupBy("dim")
      .agg(expr("percentile(x, array(0.25D, 0.5D, 0.75D))").as("q"))
    elems.join(broadcast(bounds), "dim")
      .select(col("vec_id"), col("dim"),
        when(col("x") < element_at(col("q"), 1), lit(0))
          .when(col("x") < element_at(col("q"), 2), lit(1))
          .when(col("x") < element_at(col("q"), 3), lit(2))
          .otherwise(lit(3)).as("bin"))
      .groupBy("vec_id")
      .agg(concat_ws(",",
        transform(array_sort(collect_list(struct(col("dim"), col("bin")))),
          s => s.getField("bin").cast("string"))).as("bins_csv"))
  }

  /** Distributed Lloyd k-means over the embedding corpus — the centroid
    * TRAINER the static-grid [[ivfTopK]] index upgrades to. Fully
    * deterministic, so the whole training loop replays in the DuckDB
    * oracle:
    *
    *  - Init: the k seeds are the vectors with the smallest
    *    (md5(vec_id), vec_id) — pseudo-random but engine-independent.
    *  - Assign: squared-L2 distance as the deterministic left fold,
    *    ROUNDED to 1e-6 before the argmin (cross-engine float folds can
    *    differ in the last ulps; ranking on the rounded value with a
    *    centroid-id tie-break keeps assignments identical). The argmin is
    *    `least(...)` over (dist, cid) structs — lexicographic, no window.
    *  - Update: per-dimension fixed-point mean (elements truncated to
    *    1e-9, summed as exact longs, ONE division) — the labelCentroids
    *    scheme, so new centroids are bit-identical across engines. Note
    *    the long sum caps at ~9e15 micro-units ≈ 9M members per cluster
    *    at unit scale; shard the sum (sum of per-partition sums is still
    *    exact for longs) if clusters outgrow it.
    *
    * Scale shape: centroids are MODEL STATE (k × dim doubles) — they are
    * collected to the driver each iteration and re-broadcast as literal
    * arrays, exactly like MLlib's KMeans; the corpus itself only ever
    * streams through assign (k fold expressions per row, no shuffle) and
    * one posexplode + (cid, dim)-keyed partial agg per update. Empty
    * clusters keep their previous centroid.
    *
    * Returns the final assignment (vec_id, cid, dist) against the
    * trained centroids.
    */
  def kmeansAssign(embeddings: DataFrame, k: Int = 4, iters: Int = 2): DataFrame = {
    require(k > 0 && iters >= 0, "need k > 0, iters >= 0")
    val e = corpus(embeddings)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val cents = trainCentroids(e, k, iters)
    assignTo(e, cents).select(col("vec_id"), col("cid"), col("dist"))
  }

  /** The per-centroid (dist, cid) candidate structs against `cents`
    * literals — shared by assignment and the silhouette read.
    */
  private def centDistStructs(cents: Seq[(Int, Array[Double])]): Seq[Column] =
    cents.map { case (cid, c) =>
      val lits = array(c.map(lit): _*)
      struct(
        round(aggregate(zip_with(col("v"), lits, (x, y) => (x - y) * (x - y)),
          lit(0.0), (acc, d) => acc + d), 6).as("d"),
        lit(cid).as("cid"))
    }

  private def assignTo(e: DataFrame, cents: Seq[(Int, Array[Double])]): DataFrame = {
    val candidates = centDistStructs(cents)
    // least() demands >= 2 args; k = 1 degenerates to the single candidate
    val best = if (candidates.size == 1) candidates.head else least(candidates: _*)
    e.select(col("vec_id"), col("v"),
      best.getField("cid").as("cid"), best.getField("d").as("dist"))
  }

  /** The Lloyd training loop of [[kmeansAssign]], extracted so metric
    * reads ([[kmeansSilhouette]]) replay the identical run: deterministic
    * md5-tape seeds, fixed-point 1e-9 means, empty clusters keep their
    * previous centroid. Model state is k×dim doubles on the driver.
    */
  private def trainCentroids(e: DataFrame, k: Int,
                             iters: Int): Seq[(Int, Array[Double])] = {
    var cents: Seq[(Int, Array[Double])] = e
      .select(col("vec_id"), col("v"), md5(col("vec_id").cast("string")).as("h"))
      .orderBy(col("h"), col("vec_id")).limit(k)
      .select(col("v")).collect()
      .toIndexedSeq.map(_.getSeq[Double](0).toArray).zipWithIndex
      .map { case (v, i) => (i + 1, v) }
    for (_ <- 1 to iters) {
      val means = assignTo(e, cents)
        .select(col("cid"), posexplode(col("v")).as(Seq("pos", "x")))
        .groupBy("cid", "pos")
        .agg(sum((col("x") * lit(1.0e9)).cast("long")).as("s"),
          count(lit(1)).as("n"))
        .select(col("cid"), col("pos"),
          (col("s").cast("double") / (col("n").cast("double") * lit(1.0e9)))
            .as("cv"))
        .collect()
        .groupBy(_.getInt(0))
        .map { case (cid, rows) =>
          cid -> rows.sortBy(_.getInt(1)).map(_.getDouble(2)).toArray
        }
      cents = cents.map { case (cid, old) => (cid, means.getOrElse(cid, old)) }
    }
    cents
  }

  /** k-means|| initialization (Bahmani, Moseley, Vattani, Kumar &
    * Vassilvitskii, "Scalable K-Means++", VLDB'12): the O(log n)-pass
    * seeding that replaces k-means++'s k SEQUENTIAL corpus passes — the
    * difference between seeding in `rounds`+2 scans and k scans at
    * 100 TB. Per round, every point is sampled INDEPENDENTLY with
    * probability min(1, ℓ·d²(x,C)/φ) (φ = Σ d²(x,C)), the sampled
    * points join the candidate set C, and after `rounds` rounds each
    * candidate is weighted by the number of points nearest to it; the
    * ≤ 1+rounds·cap candidates are then reclustered on the driver
    * (bounded model state, the centroid idiom of [[kmeansAssign]]).
    *
    * Determinism (every random draw is an md5 tape, the library rule):
    *  - the first center is the [[trainCentroids]] tape head — min
    *    (md5(vec_id), vec_id);
    *  - round r's uniform for x is u = md5(vec_id ':' r) folded to 60
    *    bits; x is sampled iff u·φ < ℓ·d6·2⁶⁰ where d6 is the 1e-6
    *    fixed-point min squared distance — an EXACT integer inequality
    *    (DECIMAL(38) here, HUGEINT in the oracle), never a float
    *    compare; already-chosen candidates have d6 = 0 and can't
    *    re-sample;
    *  - the per-round sample is capped at `cap` by the most-negative
    *    sampling margin u·φ − ℓ·d6·2⁶⁰ (again exact integers; ties by
    *    vec_id) via orderBy+limit — TakeOrderedAndProject, never a
    *    single-partition window. E[sample] = ℓ so the cap (default 8ℓ)
    *    is slack insurance that bounds the driver collect at any scale;
    *  - the final recluster is deterministic weighted farthest-point:
    *    start from the heaviest candidate (ties by vec_id), then argmax
    *    weight·d6min-to-chosen (exact BigInt products; ties by vec_id).
    *    The paper allows any weighted clusterer here; greedy
    *    farthest-point is chosen BECAUSE it is sequentially
    *    deterministic, so the DuckDB oracle can replay it unrolled.
    *
    * Scale shape: each round is one corpus pass of |C| fold expressions
    * (candidates broadcast as literals — model state), one long-sum agg
    * (φ) and one TakeOrderedAndProject; the weight pass is one hash agg
    * keyed by candidate id. 2·rounds+2 passes total, zero data shuffles
    * beyond scalar aggs. Candidate count is capped at 1+rounds·cap
    * driver rows regardless of corpus size.
    *
    * Returns (seed_rank, vec_id, weight): the k chosen seed ids in selection
    * order with their attraction weights.
    */
  def kmeansParallelInit(embeddings: DataFrame, k: Int = 4, ell: Int = 3,
                         rounds: Int = 3): DataFrame = {
    require(k > 0 && ell > 0 && rounds >= 0, "need k, ell > 0, rounds >= 0")
    val spark = embeddings.sparkSession
    val cap = 8 * ell
    val e = corpus(embeddings)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)

    val out = new scala.collection.mutable.ArrayBuffer[(Int, Long, Long)]()
    // every pass over `e` happens inside this try; the returned DataFrame
    // is driver-built (out rows), so releasing the cache on exit is safe
    // (round-12 advice: repeated calls in a long-lived session were
    // accumulating cached corpus copies — Pq.scala's finally pattern)
    try {
    val head = e
      .select(col("vec_id"), col("v"), md5(col("vec_id").cast("string")).as("h"))
      .orderBy(col("h"), col("vec_id")).limit(1)
      .select(col("vec_id"), col("v")).collect()
    if (head.nonEmpty) {
      var cands: Vector[(Long, Array[Double])] = Vector(
        (head(0).getLong(0), head(0).getSeq[Double](1).toArray))

      // 1e-6 fixed-point min squared distance to the candidate set —
      // the same round-then-quantize fold the kmeans family oracles on
      def d6min(cs: Seq[(Long, Array[Double])]): Column = {
        val ds = cs.map { case (_, c) =>
          val lits = array(c.map(lit): _*)
          floor(round(aggregate(zip_with(col("v"), lits,
            (x, y) => (x - y) * (x - y)), lit(0.0), (acc, d) => acc + d), 6)
            * 1e6 + 0.5).cast("long")
        }
        if (ds.size == 1) ds.head else least(ds: _*)
      }

      var r = 1
      var exhausted = false
      while (r <= rounds && !exhausted) {
        val withD = e.withColumn("d6", d6min(cands))
        // φ as an exact DECIMAL sum (the oracle's SUM(BIGINT) is HUGEINT):
        // a long sum would overflow past ~9e10 points × d6 ~1e8 — the
        // corpus scale this operator exists for. Remaining headroom: the
        // margin product u60·φ must fit DECIMAL(38) ⇒ φ ≤ ~8.7e19
        // (~9e11 unit-scale points); past that, shard φ per partition
        // range — the trainCentroids long-sum remedy.
        val dec = DecimalType(38, 0)
        val phi = Option(
          withD.agg(sum(col("d6").cast(dec))).head().getDecimal(0))
          .getOrElse(java.math.BigDecimal.ZERO)
        if (phi.signum == 0) exhausted = true // every point sits ON a candidate
        else {
          val u60 = graft.dedup.Dedup.md5Base60(
            concat(col("vec_id").cast("string"), lit(":" + r)))
          val margin = (u60.cast(dec) * lit(phi).cast(dec)) -
            (lit(ell.toLong).cast(dec) * col("d6").cast(dec) *
              lit(1152921504606846976L).cast(dec)) // 2^60
          val sampled = withD.withColumn("m", margin)
            .filter(col("m") < 0)
            .orderBy(col("m"), col("vec_id"))
            .limit(cap)
            .select(col("vec_id"), col("v")).collect()
          cands = cands ++ sampled.map(row =>
            (row.getLong(0), row.getSeq[Double](1).toArray))
          r += 1
        }
      }

      // attraction weights: nearest candidate, (d6, cand id) lexicographic
      val best = {
        val structs = cands.map { case (cid, c) =>
          val lits = array(c.map(lit): _*)
          struct(
            floor(round(aggregate(zip_with(col("v"), lits,
              (x, y) => (x - y) * (x - y)), lit(0.0), (acc, d) => acc + d), 6)
              * 1e6 + 0.5).cast("long").as("d6"),
            lit(cid).as("cid"))
        }
        if (structs.size == 1) structs.head else least(structs: _*)
      }
      val w: Map[Long, Long] = e.select(best.getField("cid").as("cid"))
        .groupBy("cid").agg(count(lit(1)).as("w"))
        .collect().map(row => row.getLong(0) -> row.getLong(1)).toMap

      // deterministic weighted farthest-point recluster (driver, ≤
      // 1+rounds·cap rows). Exact integer scores: BigInt(weight)·d6min.
      def dist6(a: Array[Double], b: Array[Double]): Long = {
        var s = 0.0; var i = 0
        while (i < a.length) { val d = a(i) - b(i); s += d * d; i += 1 }
        math.floor(BigDecimal(s).setScale(6, BigDecimal.RoundingMode.HALF_UP)
          .toDouble * 1e6 + 0.5).toLong
      }
      val weighted = cands.map { case (cid, v) => (cid, v, w.getOrElse(cid, 0L)) }
      var chosen = Vector(weighted.maxBy { case (cid, _, wt) => (wt, -cid) })
      out += ((1, chosen.head._1, chosen.head._3))
      var rank = 2
      while (rank <= k) {
        val remaining = weighted.filterNot(c => chosen.exists(_._1 == c._1))
        if (remaining.isEmpty) rank = k + 1
        else {
          val next = remaining.maxBy { case (cid, v, wt) =>
            val dmin = chosen.map(ch => dist6(v, ch._2)).min
            (BigInt(wt) * BigInt(dmin), -cid)
          }
          chosen = chosen :+ next
          out += ((rank, next._1, next._3))
          rank += 1
        }
      }
    }
    } finally { e.unpersist(); () }
    import spark.implicits._
    out.toSeq.toDF("seed_rank", "vec_id", "weight")
  }

  /** DuckDB replay of [[kmeansParallelInit]]: rounds and greedy steps
    * unrolled CTE-per-step, HUGEINT sampling margins, identical md5
    * tapes, quantization and tie-breaks.
    */
  def kmeansParallelInitOracleSql(k: Int = 4, ell: Int = 3, rounds: Int = 3,
                                  dim: Int = 64): String = {
    val cap = 8 * ell
    val two60 = "1152921504606846976"
    def d6(vl: String, vr: String) =
      s"CAST(FLOOR(round(list_sum(list_transform(range(1, ${dim + 1}), " +
        s"i -> ($vl[i] - $vr[i]) * ($vl[i] - $vr[i]))), 6) * 1e6 + 0.5) AS BIGINT)"
    val roundCtes = (1 to rounds).map { r =>
      s"""d$r AS MATERIALIZED (
         |  SELECT e.vec_id, MIN(${d6("e.v", "c.v")}) AS d6
         |  FROM e CROSS JOIN cand${r - 1} c GROUP BY 1),
         |phi$r AS (SELECT SUM(d6) AS phi FROM d$r),
         |s$r AS (
         |  SELECT vec_id, v FROM (
         |    SELECT e.vec_id, e.v,
         |           CAST(('0x' || substring(md5(CAST(e.vec_id AS VARCHAR) || ':$r'), 1, 15)) AS BIGINT)::HUGEINT
         |             * p.phi - $ell::HUGEINT * d.d6 * $two60 AS m
         |    FROM e JOIN d$r d USING (vec_id) CROSS JOIN phi$r p
         |    WHERE p.phi > 0) t
         |  WHERE m < 0
         |  ORDER BY m, vec_id LIMIT $cap),
         |cand$r AS MATERIALIZED (SELECT * FROM cand${r - 1} UNION ALL SELECT * FROM s$r)""".stripMargin
    }
    val greedySteps = (2 to k).map { i =>
      s"""sc$i AS (
         |  SELECT c.vec_id, c.v, c.w, MIN(${d6("c.v", "ch.v")}) AS dmin
         |  FROM cw c CROSS JOIN ch${i - 1} ch
         |  WHERE c.vec_id NOT IN (SELECT vec_id FROM ch${i - 1})
         |  GROUP BY c.vec_id, c.v, c.w),
         |g$i AS MATERIALIZED (
         |  SELECT vec_id, v, w FROM sc$i
         |  ORDER BY w::HUGEINT * dmin DESC, vec_id LIMIT 1),
         |ch$i AS MATERIALIZED (SELECT * FROM ch${i - 1} UNION ALL SELECT * FROM g$i)""".stripMargin
    }
    val finalUnion = (1 to k).map { i =>
      val src = if (i == 1) "g1" else s"g$i"
      s"SELECT $i AS seed_rank, vec_id, w FROM $src"
    }.mkString(" UNION ALL ")
    s"""WITH e AS MATERIALIZED (
       |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
       |  FROM embeddings),
       |cand0 AS MATERIALIZED (
       |  SELECT vec_id, v FROM (
       |    SELECT vec_id, v,
       |           ROW_NUMBER() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) AS rn
       |    FROM e) t WHERE rn = 1),
       |${roundCtes.mkString(",\n")},
       |asg AS (
       |  SELECT vec_id, cid FROM (
       |    SELECT e.vec_id, c.vec_id AS cid,
       |           ROW_NUMBER() OVER (PARTITION BY e.vec_id
       |             ORDER BY ${d6("e.v", "c.v")}, c.vec_id) AS rn
       |    FROM e CROSS JOIN cand$rounds c) t WHERE rn = 1),
       |cw AS MATERIALIZED (
       |  SELECT c.vec_id, c.v, COALESCE(w.w, 0) AS w
       |  FROM cand$rounds c LEFT JOIN
       |    (SELECT cid, COUNT(*) AS w FROM asg GROUP BY 1) w ON w.cid = c.vec_id),
       |g1 AS MATERIALIZED (SELECT vec_id, v, w FROM cw ORDER BY w DESC, vec_id LIMIT 1),
       |ch1 AS MATERIALIZED (SELECT * FROM g1),
       |${greedySteps.mkString(",\n")}
       |SELECT CAST(seed_rank AS INTEGER) AS seed_rank, vec_id,
       |       CAST(w AS BIGINT) AS weight
       |FROM ($finalUnion) t""".stripMargin
  }

  /** Simplified (centroid-based) silhouette of the trained k-means
    * partition (Kaufman & Rousseeuw, "Finding Groups in Data", 1990,
    * §2.5 — the O(n·k) variant production clustering evals use, since
    * the classic O(n²) pairwise silhouette cannot be computed at corpus
    * scale): per point, a = distance to OWN centroid, b = distance to
    * the nearest OTHER centroid, s = (b − a)/max(a, b); averaged per
    * cluster. The internal clustering-quality number that decides k —
    * the evaluation companion to `ann_kmeans` the way `ann_recall`
    * audits the ANN indexes.
    *
    * Determinism: distances are the same rounded-1e-6 doubles as the
    * assignment; a is the lexicographic min over (d, cid) structs and b
    * the second element of the same sorted array, so ties resolve
    * exactly like the oracle's (d, cid) ROW_NUMBER; per-point s is
    * micro-quantized and the per-cluster mean is one integer division.
    * Degenerate a = b = 0 pins s to 0 (both engines, CASE'd).
    *
    * Scale: one pass of k fold-expressions per row (no shuffle), one
    * hash agg keyed by cid.
    */
  def kmeansSilhouette(embeddings: DataFrame, k: Int = 4,
                       iters: Int = 2): DataFrame = {
    require(k >= 2 && iters >= 0, "silhouette needs k >= 2")
    val e = corpus(embeddings)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val cents = trainCentroids(e, k, iters)
    val sorted = array_sort(array(centDistStructs(cents): _*))
    val a = element_at(sorted, 1).getField("d")
    val b = element_at(sorted, 2).getField("d")
    val s6 = when(greatest(a, b) === 0.0, 0L)
      .otherwise(floor((b - a) / greatest(a, b) * 1e6 + 0.5).cast("long"))
    e.select(element_at(sorted, 1).getField("cid").as("cid"), s6.as("s6"))
      .groupBy("cid")
      .agg(count(lit(1)).as("n_points"), sum("s6").as("ssum"))
      .select(col("cid"), col("n_points"),
        expr("ssum div n_points").as("mean_sil_micro"),
        (col("ssum").cast("double") / (col("n_points").cast("double") * 1e6))
          .as("mean_sil"))
  }

  /** DuckDB replay of [[kmeansSilhouette]]: the [[kmeansOracleCtes]]
    * training run (own assignment = afinal), b as the min distance over
    * OTHER centroids, identical quantization.
    */
  def silhouetteOracleSql(k: Int = 4, iters: Int = 2, dim: Int = 64): String =
    s"""WITH ${kmeansOracleCtes(k, iters, dim)},
       |alld AS (
       |  SELECT e.vec_id, c.cid,
       |         round(list_sum(list_transform(range(1, ${dim + 1}),
       |           i -> (e.v[i] - c.c[i]) * (e.v[i] - c.c[i]))), 6) AS d
       |  FROM e CROSS JOIN c$iters c),
       |bdist AS (
       |  SELECT a.vec_id, MIN(ad.d) AS b
       |  FROM afinal a JOIN alld ad
       |    ON ad.vec_id = a.vec_id AND ad.cid <> a.cid
       |  GROUP BY 1),
       |sil AS (
       |  SELECT a.cid,
       |         CASE WHEN GREATEST(a.d, b.b) = 0 THEN 0
       |              ELSE CAST(FLOOR((b.b - a.d) / GREATEST(a.d, b.b) * 1e6 + 0.5) AS BIGINT)
       |         END AS s6
       |  FROM afinal a JOIN bdist b ON b.vec_id = a.vec_id)
       |SELECT CAST(cid AS INTEGER) AS cid,
       |       CAST(COUNT(*) AS BIGINT) AS n_points,
       |       CAST(SUM(s6) // COUNT(*) AS BIGINT) AS mean_sil_micro,
       |       CAST(SUM(s6) AS DOUBLE) / (CAST(COUNT(*) AS DOUBLE) * 1e6) AS mean_sil
       |FROM sil GROUP BY 1""".stripMargin

  /** The DuckDB replay of [[kmeansAssign]] (same k/iters/seeding/
    * rounding), generated CTE-per-iteration — lives here so the two
    * implementations stay side by side.
    */
  def kmeansOracleSql(k: Int = 4, iters: Int = 2, dim: Int = 64): String =
    s"""WITH ${kmeansOracleCtes(k, iters, dim)}
       |SELECT vec_id, CAST(cid AS INTEGER) AS cid, d AS dist FROM afinal""".stripMargin

  /** The WITH-body of [[kmeansOracleSql]] (ending in an `afinal` CTE with
    * vec_id, v, cid, d) so composite oracles — [[semDedupOracleSql]] —
    * can replay the identical training run and keep building.
    */
  def kmeansOracleCtes(k: Int = 4, iters: Int = 2, dim: Int = 64): String = {
    def assignCte(name: String, centsCte: String) =
      s"""$name AS (
         |  SELECT vec_id, v, cid, d FROM (
         |    SELECT vec_id, v, cid, d,
         |           ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d, cid) AS r
         |    FROM (SELECT e.vec_id, e.v, c.cid,
         |                 round(list_sum(list_transform(range(1, ${dim + 1}),
         |                   i -> (e.v[i] - c.c[i]) * (e.v[i] - c.c[i]))), 6) AS d
         |          FROM e CROSS JOIN $centsCte c) t0) t1
         |  WHERE r = 1)""".stripMargin
    def updateCte(mName: String, cName: String, aCte: String, prevC: String) =
      s"""$mName AS (
         |  SELECT cid, pos,
         |         CAST(SUM(CAST(trunc(x * 1000000000.0) AS BIGINT)) AS DOUBLE)
         |           / (CAST(COUNT(*) AS DOUBLE) * 1000000000.0) AS cv
         |  FROM (SELECT cid, unnest(range(1, ${dim + 1})) AS pos, unnest(v) AS x
         |        FROM $aCte) t GROUP BY 1, 2),
         |$cName AS (
         |  SELECT p.cid, COALESCE(n.c, p.c) AS c
         |  FROM $prevC p LEFT JOIN
         |    (SELECT cid, list(cv ORDER BY pos) AS c FROM $mName GROUP BY 1) n
         |    ON p.cid = n.cid)""".stripMargin
    val steps = (1 to iters).map { i =>
      assignCte(s"a${i - 1}", s"c${i - 1}") + ",\n" +
        updateCte(s"m$i", s"c$i", s"a${i - 1}", s"c${i - 1}")
    }
    s"""e AS (
       |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
       |  FROM embeddings),
       |s AS (
       |  SELECT vec_id, v,
       |         ROW_NUMBER() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) AS cid
       |  FROM e),
       |c0 AS (SELECT cid, v AS c FROM s WHERE cid <= $k),
       |${steps.mkString(",\n")},
       |${assignCte("afinal", s"c$iters")}""".stripMargin
  }

  /** Index-quality gate: recall@k of each approximate index ([[lshTopK]],
    * [[ivfTopK]]) against the exact [[bruteForceTopK]] baseline, per query
    * — the number a pipeline checks before trusting an ANN index for
    * retrieval-based dedup or hard-negative mining. Emits exactly one row
    * per (method, query): a method whose candidate set came up empty
    * scores 0 rather than vanishing, so regressions can't hide as missing
    * rows.
    *
    * Scale: the grading join is over top-k result sets (nQueries × k
    * rows), negligible next to the index probes themselves; brute force
    * over a query SAMPLE is the standard recall-audit shape — nQueries
    * bounds its cost, not the corpus.
    */
  def recallEval(embeddings: DataFrame, k: Int = 5, nQueries: Int = 10): DataFrame = {
    val brute = bruteForceTopK(embeddings, k, nQueries)
      .select(col("query_id"), col("vec_id"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val methods = lshTopK(embeddings, k, nQueries)
        .select(lit("lsh").as("method"), col("query_id"), col("vec_id"))
      .unionByName(ivfTopK(embeddings, k, nQueries)
        .select(lit("ivf").as("method"), col("query_id"), col("vec_id")))
    val qs = brute.select("query_id").distinct()
    val grid = qs.withColumn("method", lit("lsh"))
      .unionByName(qs.withColumn("method", lit("ivf")))
    val hits = methods.join(brute, Seq("query_id", "vec_id"), "left_semi")
      .groupBy("method", "query_id").agg(count(lit(1)).as("n_hit"))
    grid.join(hits, Seq("method", "query_id"), "left")
      .select(col("method"), col("query_id"),
        coalesce(col("n_hit"), lit(0L)).cast("int").as("n_hit"),
        round(coalesce(col("n_hit"), lit(0L)).cast("double") / k, 6)
          .as(s"recall_at_$k"))
  }

  /** SemDeDup (Abbas et al., arXiv:2303.09540): semantic deduplication by
    * clustering embeddings with [[kmeansAssign]] and comparing pairs only
    * WITHIN each cluster — the clusters turn an O(N²) corpus-wide pair
    * search into k independent O((N/k)²) ones, which is the paper's whole
    * scaling argument. Of each group of semantic duplicates (rounded
    * cosine ≥ `tau`), the survivor is the member FARTHEST from its
    * centroid (the paper's "keep the most atypical" rule — it preserves
    * corpus diversity), tie-broken on vec_id; a document is dropped iff
    * some same-cluster neighbor above `tau` outranks it under
    * (dist DESC, vec_id ASC).
    *
    * Returns (vec_id, cid, kept) for every corpus vector — a flag column
    * rather than a filtered corpus, so the caller can audit exactly what
    * was dropped and why before committing the prune.
    *
    * Scale: the self-join shuffles on cid alone; at 100 TB the operative
    * knob is k — SemDeDup runs production corpora at k ≈ N/10⁴, keeping
    * every cluster's pair block bounded regardless of corpus size. The
    * cluster-sized quadratic is by construction, not an accident.
    */
  def semDedup(embeddings: DataFrame, k: Int = 4, iters: Int = 2,
               tau: Double = 0.35): DataFrame = {
    val docs = kmeansAssign(embeddings, k, iters)
      .join(corpus(embeddings), "vec_id")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    docs.count() // materialize: both self-join sides + final read it
    val a = docs.select(col("cid"), col("vec_id").as("a_id"),
      col("dist").as("a_dist"), col("v").as("av"))
    val b = docs.select(col("cid"), col("vec_id").as("b_id"),
      col("dist").as("b_dist"), col("v").as("bv"))
    val pairs = a.join(b, Seq("cid"))
      .filter(col("a_id") < col("b_id") &&
        round(cosine(col("av"), col("bv")), 6) >= tau)
      .select(col("a_id"), col("b_id"), col("a_dist"), col("b_dist"))
    val sym = pairs.select(col("a_id").as("id"), col("a_dist").as("d"),
        col("b_id").as("nb"), col("b_dist").as("nd"))
      .unionByName(pairs.select(col("b_id").as("id"), col("b_dist").as("d"),
        col("a_id").as("nb"), col("a_dist").as("nd")))
    val dropped = sym
      .filter(col("nd") > col("d") || (col("nd") === col("d") && col("nb") < col("id")))
      .select(col("id").as("vec_id")).distinct()
      .withColumn("__rm", lit(true))
    docs.join(dropped, Seq("vec_id"), "left")
      .select(col("vec_id"), col("cid"), col("__rm").isNull.as("kept"))
  }

  /** DuckDB replay of [[semDedup]]: the identical k-means run via
    * [[kmeansOracleCtes]], then the same within-cluster rounded-cosine
    * pair filter and farthest-from-centroid survivor rule.
    */
  def semDedupOracleSql(k: Int = 4, iters: Int = 2, dim: Int = 64,
                        tau: Double = 0.35): String =
    s"""WITH ${kmeansOracleCtes(k, iters, dim)},
       |pairs AS (
       |  SELECT a.vec_id AS a_id, b.vec_id AS b_id, a.d AS a_d, b.d AS b_d
       |  FROM afinal a JOIN afinal b ON a.cid = b.cid AND a.vec_id < b.vec_id
       |  WHERE round(list_sum(list_transform(range(1, $dim + 1), i -> a.v[i]*b.v[i])) /
       |        (sqrt(list_sum(list_transform(a.v, x -> x*x))) *
       |         sqrt(list_sum(list_transform(b.v, x -> x*x)))), 6) >= $tau),
       |sym AS (
       |  SELECT a_id AS id, a_d AS d, b_id AS nb, b_d AS nd FROM pairs
       |  UNION ALL
       |  SELECT b_id, b_d, a_id, a_d FROM pairs),
       |dropped AS (
       |  SELECT DISTINCT id FROM sym
       |  WHERE nd > d OR (nd = d AND nb < id))
       |SELECT f.vec_id, CAST(f.cid AS INTEGER) AS cid,
       |       (dr.id IS NULL) AS kept
       |FROM afinal f LEFT JOIN dropped dr ON f.vec_id = dr.id""".stripMargin

  /** Exact cosine top-k of every corpus vector for each query vector
    * (queries = vec_id < nQueries, self-matches excluded). Returns
    * (query_id, vec_id, cosine, rank).
    */
  def bruteForceTopK(embeddings: DataFrame, k: Int = 5, nQueries: Int = 10): DataFrame = {
    require(k > 0 && nQueries > 0, "k and nQueries must be positive")
    val e = corpus(embeddings)
    val q = e.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("query_id"), col("v").as("qv"))
    val scored = e.join(broadcast(q), col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id"),
        round(cosine(col("qv"), col("v")), 6).as("cosine"))
    val w = Window.partitionBy("query_id").orderBy(desc("cosine"), asc("vec_id"))
    scored.withColumn("rank", row_number().over(w)).filter(col("rank") <= k)
  }

  /** Hard-negative mining for contrastive training: per anchor, the
    * top-k most-similar corpus vectors whose cosine falls in
    * [minSim, maxSim) — close enough to the anchor to be informative
    * negatives, but below the near-dup ceiling so latent positives are
    * excluded (the standard curriculum for embedding-model training).
    * Same scale shape as [[bruteForceTopK]]: the anchor set broadcasts
    * over the partitioned corpus (which never shuffles) and the k-limit
    * is a ranked window; when the corpus outgrows a full scan per
    * anchor, feed the banded filter the LSH/IVF candidate paths instead.
    */
  def hardNegatives(embeddings: DataFrame, k: Int = 5, nQueries: Int = 10,
                    minSim: Double = 0.0, maxSim: Double = 0.45): DataFrame = {
    require(k > 0 && nQueries > 0, "k and nQueries must be positive")
    require(minSim < maxSim, "need minSim < maxSim")
    val e = corpus(embeddings)
    val q = e.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("query_id"), col("v").as("qv"))
    val scored = e.join(broadcast(q), col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id"),
        round(cosine(col("qv"), col("v")), 6).as("cosine"))
      .filter(col("cosine") >= minSim && col("cosine") < maxSim)
    val w = Window.partitionBy("query_id").orderBy(desc("cosine"), asc("vec_id"))
    scored.withColumn("rank", row_number().over(w)).filter(col("rank") <= k)
  }

  /** k-nearest-neighbor majority-vote classification of the held-out
    * 20% (vec_id % 5 = 0) against the labeled train split (Fix &
    * Hodges 1951; Cover & Hart IT-13 1967) — the zero-training
    * baseline every embedding-quality eval starts from: if cosine
    * neighborhoods respect labels, the space is good.
    *
    * Votes are the top-`k` train neighbors by the rounded-1e-6 cosine
    * ([[bruteForceTopK]]'s determinism convention, vec_id tie-break);
    * the predicted label is the plurality vote with ties on label
    * ascending. Output: (vec_id, label, pred, n_votes, correct).
    *
    * Scale shape: the holdout is the eval relation — benchmark-sized
    * by design, the `dedup_contamination` argument — and broadcasts
    * over the partitioned train corpus, which never shuffles; the
    * per-query top-k is a ranked window. When the eval side outgrows
    * a broadcast, generate candidates with the LSH/IVF searchers and
    * run the identical vote on their output.
    */
  def knnClassify(embeddings: DataFrame, k: Int = 5): DataFrame = {
    require(k >= 1, "k must be >= 1")
    val e = embeddings.select(col("vec_id"), col("label"),
      asDouble(col("embedding")).as("v"))
    val test = e.filter(col("vec_id") % 5 === 0)
      .select(col("vec_id").as("query_id"), col("label").as("true_label"),
        col("v").as("qv"))
    val train = e.filter(col("vec_id") % 5 =!= 0)
    // splits are disjoint by construction, so no self-match predicate;
    // the broadcast nested-loop shape is bruteForceTopK's
    val scored = train.crossJoin(broadcast(test))
      .select(col("query_id"), col("true_label"), col("vec_id"),
        col("label").as("nb_label"), round(cosine(col("qv"), col("v")), 6).as("cosine"))
    val wTop = Window.partitionBy("query_id").orderBy(desc("cosine"), asc("vec_id"))
    val votes = scored.withColumn("rnk", row_number().over(wTop))
      .filter(col("rnk") <= k)
      .groupBy("query_id", "true_label", "nb_label")
      .agg(count(lit(1)).as("n_votes"))
    val wVote = Window.partitionBy("query_id")
      .orderBy(col("n_votes").desc, col("nb_label").asc)
    votes.withColumn("rk", row_number().over(wVote))
      .filter(col("rk") === 1)
      .select(col("query_id").as("vec_id"), col("true_label").as("label"),
        col("nb_label").as("pred"), col("n_votes"),
        (col("nb_label") === col("true_label")).as("correct"))
  }

  // --------------------------------------------------------------- MMR

  case class MmrCand(query_id: Long, vec_id: Long, cosine: Double,
                     v: Seq[Double])
  case class MmrPick(query_id: Long, sel_rank: Int, vec_id: Long,
                     relevance: Double, mmr_obj: Double)

  /** JVM twin of the engine's rounded cosine: same left-to-right IEEE
    * fold as the `cosine_sim` codegen expression, same HALF_UP 1e-6
    * round as Spark's `round` (java BigDecimal.valueOf path) — so the
    * greedy selection below compares exactly the values the relational
    * side (and the DuckDB oracle) would.
    */
  private def cosRound6(a: Seq[Double], b: Seq[Double]): Double = {
    var i = 0; var d = 0.0; var na = 0.0; var nb = 0.0
    val n = math.min(a.length, b.length)
    while (i < n) { d += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1 }
    java.math.BigDecimal.valueOf(d / (math.sqrt(na) * math.sqrt(nb)))
      .setScale(6, java.math.RoundingMode.HALF_UP).doubleValue()
  }

  /** Maximal-Marginal-Relevance diversified rerank (Carbonell &
    * Goldstein, SIGIR'98): per query, greedily pick k results maximizing
    * `lam·rel(d) − mu·max_{s∈selected} sim(d, s)` — the standard
    * redundancy-penalized retrieval used to diversify RAG context and
    * dedup near-identical hits. First pick uses max-sim = 0 (pure
    * relevance).
    *
    * Scale shape: candidate generation is the pluggable part
    * ([[bruteForceTopK]] here; the LSH/IVF paths at corpus scale) and
    * caps each query's group at `nCandidates` rows, so the greedy loop
    * runs per-group over a BOUNDED in-memory candidate set
    * (O(k·nCandidates) rounded cosines of already-shipped vectors) —
    * groups distribute across executors, nothing data-sized anywhere.
    * `lam`/`mu` are passed separately (NOT derived as 1−lam: 1−0.7 is
    * not the IEEE double 0.3, and the oracle interpolates the same
    * literals).
    */
  def mmrRerank(embeddings: DataFrame, k: Int = 5, nQueries: Int = 10,
                nCandidates: Int = 20, lam: Double = 0.7,
                mu: Double = 0.3): DataFrame = {
    require(k > 0 && nCandidates >= k, "need 0 < k <= nCandidates")
    val spark = embeddings.sparkSession
    implicit val encC = Encoders.product[MmrCand]
    implicit val encP = Encoders.product[MmrPick]
    implicit val encK = Encoders.scalaLong
    val cands = bruteForceTopK(embeddings, nCandidates, nQueries)
      .join(corpus(embeddings), "vec_id")
      .select(col("query_id"), col("vec_id"), col("cosine"), col("v"))
    cands.as[MmrCand].groupByKey(_.query_id).flatMapGroups { (qid, it) =>
      val cs = it.toArray.sortBy(c => (c.vec_id)) // deterministic scan order
      val used = scala.collection.mutable.HashSet.empty[Long]
      val sel = scala.collection.mutable.ArrayBuffer.empty[MmrCand]
      val out = scala.collection.mutable.ArrayBuffer.empty[MmrPick]
      var r = 1
      while (r <= k && used.size < cs.length) {
        var best: MmrCand = null
        var bestObj = Double.NegativeInfinity
        cs.foreach { c =>
          if (!used.contains(c.vec_id)) {
            val msim = if (sel.isEmpty) 0.0
                       else sel.iterator.map(s => cosRound6(c.v, s.v)).max
            val obj = lam * c.cosine - mu * msim
            // strict > plus ascending-vec_id scan = argmax with min-id tie-break
            if (obj > bestObj) { bestObj = obj; best = c }
          }
        }
        used += best.vec_id
        sel += best
        out += MmrPick(qid, r, best.vec_id, best.cosine, bestObj)
        r += 1
      }
      out.iterator
    }.toDF()
  }

  /** DuckDB twin of [[mmrRerank]]: the greedy loop unrolled as k CTE
    * rounds (the kmeans-oracle pattern) — each round anti-joins the
    * selected set, recomputes `lam·rel − mu·MAX(rounded cosine to
    * selected)`, and picks ROW_NUMBER()=1 by (obj DESC, vec_id).
    */
  def mmrOracleSql(k: Int = 5, nQueries: Int = 10, nCandidates: Int = 20,
                   lam: Double = 0.7, mu: Double = 0.3): String = {
    def cosSql(a: String, b: String) =
      s"round(list_sum(list_transform(range(1, len($a)+1), i -> $a[i]*$b[i])) / " +
        s"(sqrt(list_sum(list_transform($a, x -> x*x))) * " +
        s"sqrt(list_sum(list_transform($b, x -> x*x)))), 6)"
    val header =
      s"""WITH e AS (
         |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
         |  FROM embeddings),
         |q AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id < $nQueries),
         |scored AS (
         |  SELECT query_id, vec_id, e.v, ${cosSql("qv", "v")} AS rel
         |  FROM q, e WHERE vec_id <> query_id),
         |cands AS (
         |  SELECT query_id, vec_id, v, rel FROM (
         |    SELECT *, ROW_NUMBER() OVER (
         |      PARTITION BY query_id ORDER BY rel DESC, vec_id) AS rk
         |    FROM scored) t
         |  WHERE rk <= $nCandidates),
         |sel1 AS (
         |  SELECT query_id, vec_id, v, rel, $lam * rel - $mu * 0.0 AS obj FROM (
         |    SELECT *, ROW_NUMBER() OVER (
         |      PARTITION BY query_id ORDER BY $lam * rel - $mu * 0.0 DESC, vec_id) AS rk
         |    FROM cands) t
         |  WHERE rk = 1),
         |selu1 AS (SELECT * FROM sel1)""".stripMargin
    val rounds = (2 to k).map { r =>
      s""",
         |cand$r AS (
         |  SELECT c.query_id, c.vec_id, c.v, c.rel FROM cands c
         |  ANTI JOIN selu${r - 1} s
         |    ON s.query_id = c.query_id AND s.vec_id = c.vec_id),
         |obj$r AS (
         |  SELECT c.query_id, c.vec_id, c.v, c.rel,
         |         $lam * c.rel - $mu * MAX(${cosSql("c.v", "s.v")}) AS obj
         |  FROM cand$r c JOIN selu${r - 1} s ON s.query_id = c.query_id
         |  GROUP BY c.query_id, c.vec_id, c.v, c.rel),
         |sel$r AS (
         |  SELECT query_id, vec_id, v, rel, obj FROM (
         |    SELECT *, ROW_NUMBER() OVER (
         |      PARTITION BY query_id ORDER BY obj DESC, vec_id) AS rk
         |    FROM obj$r) t
         |  WHERE rk = 1),
         |selu$r AS (SELECT * FROM selu${r - 1} UNION ALL SELECT * FROM sel$r)""".stripMargin
    }.mkString
    val parts = (1 to k).map { r =>
      s"SELECT query_id, CAST($r AS INTEGER) AS sel_rank, vec_id,\n" +
        s"       rel AS relevance, obj AS mmr_obj FROM sel$r"
    }.mkString("\nUNION ALL\n")
    header + rounds + "\n" + parts
  }

  /** Contrastive training-pair manifest for a small anchor set: per
    * anchor, ALL exact positives (cosine ≥ posThreshold — the near-dup
    * band) plus the top-k hard negatives from the adjacent
    * [negMin, posThreshold) band, labeled 'pos'/'neg' in one relation.
    * The bands are disjoint by construction, so no pair can be both.
    * One broadcast-anchor scan scores the corpus once (materialized —
    * the pos filter and the neg ranked window are different consumer
    * subtrees); at corpora where a full scan per anchor is too much,
    * generate candidates with the LSH/IVF paths and reuse the banding.
    */
  def contrastivePairs(embeddings: DataFrame, k: Int = 5, nQueries: Int = 10,
                       posThreshold: Double = 0.35, negMin: Double = 0.0): DataFrame = {
    require(k > 0 && nQueries > 0, "k and nQueries must be positive")
    require(negMin < posThreshold, "need negMin < posThreshold")
    val e = corpus(embeddings)
    val q = e.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("anchor_id"), col("v").as("qv"))
    val scored = graft.Caching.materialize(
      e.join(broadcast(q), col("vec_id") =!= col("anchor_id"))
        .select(col("anchor_id"), col("vec_id").as("pair_id"),
          round(cosine(col("qv"), col("v")), 6).as("cosine")))
    val pos = scored.filter(col("cosine") >= posThreshold)
      .withColumn("kind", lit("pos"))
    val w = Window.partitionBy("anchor_id").orderBy(desc("cosine"), asc("pair_id"))
    val neg = scored
      .filter(col("cosine") >= negMin && col("cosine") < posThreshold)
      .withColumn("__rk", row_number().over(w)).filter(col("__rk") <= k)
      .drop("__rk")
      .withColumn("kind", lit("neg"))
    pos.unionByName(neg)
  }

  /** Deterministic Rademacher (±1) hyperplanes, one array per plane.
    * Precomputed driver-side and shipped as literals: hashing (plane, dim)
    * at runtime would recompute a constant per row per element — 4096
    * redundant hash calls per row at dim 64 × 64 planes. Exposed inside the
    * package so the DuckDB oracle embeds the identical planes as literals.
    */
  private[graft] def planeSigns(j: Int, dim: Int): Array[Double] = {
    val rnd = new scala.util.Random(1000003L * j + 42L)
    Array.fill(dim)(if (rnd.nextBoolean()) 1.0 else -1.0)
  }

  /** Sign of dot(v, r_j) for the j-th Rademacher hyperplane. Vectors are
    * sliced/zero-padded to `dim` so a dimension mismatch degrades to a
    * projection over the common dims instead of null buckets that silently
    * empty every join. The sign is taken on the 1e-6-rounded projection so
    * bucket membership is replayable cross-engine (a raw fold's last-ulp
    * wiggle near zero could flip a bucket between engines).
    */
  private def planeBit(v: Column, j: Int, dim: Int): Column = {
    val plane = array(planeSigns(j, dim).map(lit): _*)
    val signed = zip_with(slice(v, 1, dim), plane,
      (x, s) => coalesce(x * s, lit(0.0)))
    (round(aggregate(signed, lit(0.0), (acc, x) => acc + x), 6) > 0).cast("int")
  }

  /** Bucket id per hash table: `bits` sign-bits packed into an int. */
  private def bucketCol(v: Column, table: Int, bits: Int, dim: Int): Column =
    (0 until bits).map { i =>
      (planeBit(v, table * bits + i, dim) * lit(1 << i)): Column
    }.reduce(_ + _)

  /** LSH-bucketed approximate top-k with exact re-ranking of candidates.
    * Recall rises with `tables`, precision of buckets with `bits`.
    */
  def lshTopK(embeddings: DataFrame, k: Int = 5, nQueries: Int = 10,
              tables: Int = 8, bits: Int = 8, dim: Int = 64): DataFrame = {
    val e = corpus(embeddings)
    // eagerly materialized: the query side and the candidate join are
    // CONCURRENT consumer stages — a bare persist would let each re-run
    // all tables x bits plane dot products (see graft.Caching)
    val buckets = graft.Caching.materialize(e.select(col("vec_id"), col("v"),
      explode(array((0 until tables).map { t =>
        struct(lit(t).as("t"), bucketCol(col("v"), t, bits, dim).as("bucket"))
      }: _*)).as("tb"))
      .select(col("vec_id"), col("v"), col("tb.t").as("t"), col("tb.bucket").as("bucket")))
    val qb = buckets.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("query_id"), col("v").as("qv"),
        col("t").as("qt"), col("bucket").as("qbucket"))
    val cand = buckets.join(broadcast(qb),
        col("t") === col("qt") && col("bucket") === col("qbucket") &&
          col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("qv"), col("vec_id"), col("v"))
      .dropDuplicates("query_id", "vec_id")
    val w = Window.partitionBy("query_id").orderBy(desc("cosine"), asc("vec_id"))
    cand.select(col("query_id"), col("vec_id"),
        round(cosine(col("qv"), col("v")), 6).as("cosine"))
      .withColumn("rank", row_number().over(w)).filter(col("rank") <= k)
  }

  /** Centroid relation for the IVF index: a deterministic corpus sample
    * (vec_id ≡ 0 mod `centroidStep`).
    */
  private[similarity] def ivfCentroids(e: DataFrame, centroidStep: Int): DataFrame =
    e.filter(pmod(col("vec_id"), lit(centroidStep)) === 0)
      .select(col("vec_id").as("cent_id"), col("v").as("cv"))

  private[similarity] def nearestCentroids(cents: DataFrame, points: DataFrame,
                                           idCol: String, vCol: String, n: Int): DataFrame = {
    val w = Window.partitionBy(idCol).orderBy(desc("csim"), asc("cent_id"))
    // ranking on the 1e-6-rounded cosine (not the raw fold) keeps centroid
    // assignment deterministic across engines — the DuckDB oracle replays it
    points.join(broadcast(cents))
      .select(col(idCol), col(vCol), col("cent_id"),
        round(cosine(col(vCol), col("cv")), 6).as("csim"))
      .withColumn("crank", row_number().over(w)).filter(col("crank") <= n)
      .drop("csim", "crank")
  }

  /** IVF probe + re-rank over an EXPLICIT posting relation (vec_id, v,
    * cent_id) — the search half both the static [[ivfTopK]] build and
    * the CDC-[[ivfMaintainedTopK]] index share: queries probe the
    * `nprobe` nearest centroids (broadcast), only those posting lists
    * are scored, per-query top-k via ranked windows.
    */
  private def searchPostings(assigned: DataFrame, cents: DataFrame,
                             q: DataFrame, k: Int, nprobe: Int): DataFrame = {
    val probes = nearestCentroids(cents, q, "query_id", "qv", nprobe)
    val cand = assigned.join(broadcast(probes), Seq("cent_id"))
      .filter(col("vec_id") =!= col("query_id"))
      .dropDuplicates("query_id", "vec_id")
    val w = Window.partitionBy("query_id").orderBy(desc("cosine"), asc("vec_id"))
    cand.select(col("query_id"), col("vec_id"),
        round(cosine(col("qv"), col("v")), 6).as("cosine"))
      .withColumn("rank", row_number().over(w)).filter(col("rank") <= k)
  }

  /** IVF search: queries probe the `nprobe` nearest centroids' posting
    * lists. Returns the same (query_id, vec_id, cosine, rank) shape.
    */
  def ivfTopK(embeddings: DataFrame, k: Int = 5, nQueries: Int = 10,
              centroidStep: Int = 29, nprobe: Int = 3): DataFrame = {
    val e = corpus(embeddings)
    val cents = ivfCentroids(e, centroidStep)
    val assigned = nearestCentroids(cents, e, "vec_id", "v", 1) // posting lists
    val q = e.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("query_id"), col("v").as("qv"))
    searchPostings(assigned, cents, q, k, nprobe)
  }

  /** CDC maintenance of an IVF posting relation under FROZEN centroids
    * (the FAISS production protocol: incremental ingest never moves the
    * coarse quantizer; re-training is a scheduled rebuild). `changes` is
    * a (vec_id, v, is_delete) batch; per-delta work is ∝ |batch|: the
    * delete leg is one broadcast anti-join of the delta's ids against
    * the postings, the insert leg assigns ONLY the new vectors against
    * the broadcast centroid set — the corpus-sized posting relation is
    * never rescanned or reshuffled. Because assignment under frozen
    * centroids is pointwise deterministic, the maintained relation
    * EQUALS a fresh assignment of the merged corpus (spec-pinned in
    * AnnSpec; the same support-relation discipline as
    * [[graft.operators.Ivm]]).
    */
  def ivfMaintainPostings(postings: DataFrame, changes: DataFrame,
                          cents: DataFrame): DataFrame = {
    // anti-join on ALL change ids, not just deletes: an insert whose id
    // is already indexed is an UPSERT — retracting the stale posting
    // here keeps the relation keyed by vec_id (the old inner behavior
    // left BOTH rows, and searchPostings' dropDuplicates then kept an
    // arbitrary one — a silent break of maintained-equals-rebuild on
    // update-shaped batches; review finding, upsert spec-pinned)
    val ins = changes.filter(!col("is_delete")).select("vec_id", "v")
    postings.join(changes.select("vec_id"), Seq("vec_id"), "left_anti")
      .unionByName(nearestCentroids(cents, ins, "vec_id", "v", 1)
        .select("vec_id", "v", "cent_id"))
  }

  /** CDC-maintained IVF index end to end (`q_ivm_ann`): the base corpus
    * (vec_id ≢ 0 mod 13) is indexed under its own frozen centroids, a
    * CDC batch then arrives — the 13-stripe inserts, the 17-stripe of
    * base rows (vec_id ≡ 3 mod 17) retracts — and queries run against
    * the MAINTAINED posting lists. The DuckDB oracle replays the whole
    * maintenance + search path (cross-join + row_number vs the engine's
    * broadcast joins + ranked windows — a real differential); the
    * maintained-equals-rebuild gate is spec-pinned.
    */
  def ivfMaintainedTopK(embeddings: DataFrame, k: Int = 5, nQueries: Int = 10,
                        centroidStep: Int = 29, nprobe: Int = 3): DataFrame = {
    val e = corpus(embeddings)
    val old = e.filter(pmod(col("vec_id"), lit(13)) =!= 0)
    val cents = ivfCentroids(old, centroidStep)
    val base = nearestCentroids(cents, old, "vec_id", "v", 1)
      .select("vec_id", "v", "cent_id")
    val changes = e.filter(pmod(col("vec_id"), lit(13)) === 0)
        .select(col("vec_id"), col("v"), lit(false).as("is_delete"))
      .unionByName(old.filter(pmod(col("vec_id"), lit(17)) === 3)
        .select(col("vec_id"), col("v"), lit(true).as("is_delete")))
    val maintained = ivfMaintainPostings(base, changes, cents)
    val q = e.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("query_id"), col("v").as("qv"))
    searchPostings(maintained, cents, q, k, nprobe)
  }

  /** Deduped LSH candidate ID pairs (vec_a < vec_b) — the block/dedup
    * half of [[nearDupPairs]], built on ID pairs per guide-§8 "decide
    * with small rows, move big rows once": the bucket self-join and the
    * pair dedup used to carry BOTH 64-dim double vectors (~1 KB/row)
    * through every exchange; on ID pairs the same shuffles move
    * 16-24 B/row, and the materialized bucket cache drops the vector
    * column too (~25× narrower).
    */
  private def candidatePairs(embeddings: DataFrame, tables: Int = 8, bits: Int = 8,
                             dim: Int = 64): DataFrame = {
    val e = corpus(embeddings)
    // eagerly materialized: both sides of the bucket self-join are
    // CONCURRENT shuffle-map stages — a bare persist would let each
    // re-run all tables × bits plane dot products (see graft.Caching)
    val buckets = graft.Caching.materialize(e.select(col("vec_id"),
      explode(array((0 until tables).map { t =>
        struct(lit(t).as("t"), bucketCol(col("v"), t, bits, dim).as("bucket"))
      }: _*)).as("tb"))
      .select(col("vec_id"), col("tb.t").as("t"), col("tb.bucket").as("bucket")))
    buckets.as("a")
      .join(buckets.as("b"),
        col("a.t") === col("b.t") && col("a.bucket") === col("b.bucket") &&
          col("a.vec_id") < col("b.vec_id"))
      .select(col("a.vec_id").as("vec_a"), col("b.vec_id").as("vec_b"))
      .dropDuplicates("vec_a", "vec_b")
  }

  /** Embedding-cosine near-duplicate pairs: LSH blocking (all `tables`
    * buckets must be computed anyway, any shared bucket makes a candidate)
    * then exact cosine ≥ threshold. doc pairs ordered vec_a < vec_b.
    */
  def nearDupPairs(embeddings: DataFrame, threshold: Double = 0.95,
                   tables: Int = 8, bits: Int = 8, dim: Int = 64): DataFrame = {
    val e = corpus(embeddings)
    val cand = candidatePairs(embeddings, tables, bits, dim)
    // attach vectors to the DEDUPED id pairs only, exact-verify, filter:
    // the cosine evaluates once per distinct pair (the old shape paid it
    // per bucket-collision occurrence) and no wide vector row ever
    // enters a pair exchange
    cand
      .join(e.select(col("vec_id").as("vec_a"), col("v").as("va")), "vec_a")
      .join(e.select(col("vec_id").as("vec_b"), col("v").as("vb")), "vec_b")
      .select(col("vec_a"), col("vec_b"),
        round(cosine(col("va"), col("vb")), 6).as("cosine"))
      .filter(col("cosine") >= threshold)
  }

  /** Per-label centroids — the k-means-style statistic IVF training and
    * corpus drift analysis need. Floating sums are partition-order
    * dependent, so each element is truncated to 1e-9 fixed point
    * (`cast(x·10⁹ as long)` — truncation toward zero, matching SQL
    * `trunc`) and summed EXACTLY as longs; the centroid is one IEEE
    * division at the end. Bit-identical across engines and partitionings,
    * with ≤1e-9 per-element quantization (irrelevant for float32 inputs).
    *
    * One shuffle keyed (label, dim) with map-side combine; output is
    * |labels|·dim rows regardless of corpus size.
    */
  def labelCentroids(embeddings: DataFrame): DataFrame =
    embeddings
      .select(col("label"), asDouble(col("embedding")).as("v"))
      .select(col("label"), posexplode(col("v")).as(Seq("pos", "x")))
      .groupBy(col("label"), (col("pos") + 1).cast("int").as("dim"))
      .agg(sum((col("x") * lit(1.0e9)).cast("long")).as("s"),
        count(lit(1)).as("n"))
      .select(col("label"), col("dim"),
        (col("s").cast("double") / (col("n").cast("double") * lit(1.0e9)))
          .as("centroid"),
        col("n"))

  /** Signed random projection (Achlioptas, "Database-friendly random
    * projections", JPDS 2003; the Johnson–Lindenstrauss workhorse): each
    * output dimension is Σ_j v[j]·sign(i,j) with a DERIVED ±1 matrix —
    * sign(i,j) = bit 15 of ((131·i + j) · 2654435761) — so the matrix
    * ships as an expression, not data (nothing to broadcast, nothing to
    * keep consistent across jobs), and any engine regenerates it
    * bit-for-bit. The multiplier is Knuth's 2³²/φ hash constant; inputs
    * stay < 2⁴² so the product never overflows a 64-bit signed int in
    * engines that trap on overflow.
    *
    * Exactness: elements fold to 1e-9 fixed-point longs before the
    * signed sum (the [[l2Normalize]] discipline), so the per-dimension
    * sum is exact integer arithmetic and the final /1e9 is one IEEE
    * division — identical across engines and partitionings.
    *
    * 100 TB shape: row-local (narrow) — the transform/aggregate chain
    * runs inside whole-stage codegen per row, output is |V|·outDims
    * rows with no shuffle at all. The JL projection that makes the
    * downstream ANN index 8× cheaper costs one map pass.
    *
    * Output: (vec_id, out_dim, comp).
    */
  def randomProjection(embeddings: DataFrame, outDims: Int = 8): DataFrame = {
    require(outDims >= 1 && outDims <= 4096, "need 1 <= outDims <= 4096")
    embeddings
      .select(col("vec_id"), asDouble(col("embedding")).as("v"))
      .select(col("vec_id"), expr(
        s"""explode(transform(sequence(0, ${outDims - 1}), i -> struct(
           |  CAST(i AS INT) AS out_dim,
           |  aggregate(
           |    zip_with(v, sequence(0, size(v) - 1), (x, j) ->
           |      CAST(x * 1e9 AS BIGINT) *
           |      (CASE WHEN ((CAST(i AS BIGINT) * 131 + j) * 2654435761) % 65536 < 32768
           |            THEN 1 ELSE -1 END)),
           |    CAST(0 AS BIGINT), (acc, e) -> acc + e) AS s9)))""".stripMargin)
        .as("p"))
      .select(col("vec_id"), col("p.out_dim").as("out_dim"),
        (col("p.s9").cast("double") / lit(1.0e9)).as("comp"))
  }

  /** L2 normalization per vector (unit sphere — the prep step that turns
    * cosine into dot product for downstream ANN). Row-local, zero
    * shuffle; the norm is staged as a bound attribute before the
    * per-element division. The unit vector is emitted in micro-units
    * (round(x/‖x‖ · 10⁶) as integers) — integers stringify identically
    * across engines, where stringified doubles would diverge on
    * scientific-notation formatting. Zero vectors stay zero with norm 0.
    *
    * The norm itself uses the exact fixed-point scheme (squares
    * truncated to 1e-12, summed as longs, one sqrt) so both engines
    * round the same double. Ties round as `floor(x + 0.5)` (half toward
    * +∞): this corpus has pre-normalized vectors whose micro-values hit
    * exact halves, where Spark's round() (half away from zero) and
    * DuckDB's (half to even) disagree — pin the convention explicitly.
    */
  def l2Normalize(embeddings: DataFrame): DataFrame = {
    val vd = asDouble(col("embedding"))
    embeddings
      .select(col("vec_id"), vd.as("v"))
      // internal name must differ from the rounded output alias: lateral
      // column alias resolution would otherwise bind the divisions inside
      // the lambda to the ROUNDED sibling (norm 1.0000000509 → 1.0
      // flipped a micro-unit on this corpus)
      .withColumn("__norm",
        sqrt(aggregate(
          transform(col("v"), x => (x * x * lit(1.0e12)).cast("long")),
          lit(0L), (acc, x) => acc + x).cast("double") / lit(1.0e12)))
      .select(col("vec_id"), round(col("__norm"), 6).as("norm"),
        when(col("__norm") === 0.0,
          array_join(transform(col("v"), _ => lit(0L)), ","))
          .otherwise(array_join(
            transform(col("v"),
              x => floor(x / col("__norm") * lit(1.0e6) + lit(0.5)).cast("long")), ","))
          .as("unit_micro_csv"))
  }

  /** Symmetric int8 quantization per vector: `scale = max|x| / 127`,
    * `q_i = round(x_i / scale)` — the standard scalar-quantization step
    * that cuts embedding storage 4× (float32 → int8) before ANN
    * indexing. All-zero vectors quantize to zeros with scale 0.
    *
    * Purely row-local (narrow, no shuffle, codegen'd array lambdas), so
    * it scales with scan bandwidth. The quantized vector is emitted as a
    * CSV string for the driver's row-level hash compare; `scale` is a
    * single IEEE division of the exactly-widened float32 max — both
    * deterministic cross-engine. The per-element divisions stage `scale`
    * as a bound attribute first (no CSE inside higher-order lambdas —
    * the amax fold would otherwise rerun per element).
    */
  def quantizeInt8(embeddings: DataFrame): DataFrame = {
    val vd = asDouble(col("embedding"))
    embeddings
      .select(col("vec_id"), vd.as("v"),
        array_max(transform(vd, x => abs(x))).as("amax"))
      .withColumn("scale", col("amax") / lit(127.0))
      .select(col("vec_id"), col("scale"),
        when(col("amax") === 0.0,
          array_join(transform(col("v"), _ => lit(0)), ","))
          .otherwise(array_join(
            transform(col("v"), x => round(x / col("scale")).cast("int")), ","))
          .as("q_csv"))
  }

  /** Matryoshka truncation gate (Kusupati et al., NeurIPS'22 "Matryoshka
    * Representation Learning"): recall@k of brute-force cosine retrieval
    * run on only the FIRST `dims` dimensions of each embedding, graded
    * against the full-dimension ground truth — the number a pipeline
    * checks before storing truncated vectors to cut index size. Same
    * output shape and grading join as [[recallEval]] (one row per query,
    * empty candidate sets score 0, never vanish).
    *
    * Scale: both sides are [[bruteForceTopK]] — broadcast query sample
    * over the partitioned corpus; the truncated side additionally prunes
    * every vector to `dims` floats row-locally BEFORE the scoring join,
    * so it also measures the bandwidth the truncation would save.
    */
  def matryoshkaRecall(embeddings: DataFrame, dims: Int = 16, k: Int = 5,
                       nQueries: Int = 10): DataFrame = {
    require(dims >= 1, "need at least one prefix dimension")
    val full = bruteForceTopK(embeddings, k, nQueries)
      .select(col("query_id"), col("vec_id"))
    val truncated = bruteForceTopK(
      embeddings.select(col("vec_id"),
        slice(col("embedding"), 1, dims).as("embedding")), k, nQueries)
      .select(col("query_id"), col("vec_id"))
    val qs = full.select("query_id").distinct()
    val hits = truncated.join(full, Seq("query_id", "vec_id"), "left_semi")
      .groupBy("query_id").agg(count(lit(1)).as("n_hit"))
    qs.join(hits, Seq("query_id"), "left")
      .select(col("query_id"),
        coalesce(col("n_hit"), lit(0L)).cast("int").as("n_hit"),
        round(coalesce(col("n_hit"), lit(0L)).cast("double") / k, 6)
          .as(s"recall_at_$k"))
  }

  /** Embedding-space drift monitor: the cosine of each label's centroid
    * to the CORPUS centroid — the cheap mean-vector check a training
    * pipeline runs per source/slice before and after ingestion to catch
    * embedding-space shifts (a slice whose centroid swings away from the
    * corpus mean changed distribution, whatever the individual vectors
    * say).
    *
    * Exactness: coordinates fold to 1e-9 fixed-point longs (truncation
    * toward zero — the [[labelCentroids]] convention), per-(label, dim)
    * sums run exact in DECIMAL(38,0), each MEAN is ONE truncating
    * integer division (bounded by 1e9 in magnitude regardless of corpus
    * size — scale-invariant headroom), and the cosine is one final IEEE
    * expression over exact integer dot/norms, folded to 1e-6. The corpus
    * centroid derives from the per-label sums (one extra bounded agg),
    * not a second corpus pass.
    *
    * Output: (label, n_vecs, cos_to_corpus).
    */
  def centroidDrift(embeddings: DataFrame): DataFrame = {
    val ex = embeddings
      .select(col("label"), posexplode(asDouble(col("embedding"))).as(Seq("pos", "x")))
      .select(col("label"), col("pos"),
        (col("x") * lit(1.0e9)).cast("long").as("xq"))
    val perLabel = graft.Caching.materialize(
      ex.groupBy("label", "pos")
        .agg(sum(col("xq").cast(DecimalType(38, 0))).as("sl"),
          count(lit(1)).as("nl")))
    val global = perLabel.groupBy("pos")
      .agg(sum(col("sl")).as("sg"), sum(col("nl")).as("ng"))
    val dec = DecimalType(38, 0)
    perLabel.join(broadcast(global), "pos")
      .select(col("label"), col("nl"),
        expr("sl div nl").as("ml"), expr("sg div ng").as("mg"))
      .groupBy("label")
      .agg(max(col("nl")).as("n_vecs"),
        sum((col("ml") * col("mg")).cast(dec)).as("dot"),
        sum((col("ml") * col("ml")).cast(dec)).as("n1"),
        sum((col("mg") * col("mg")).cast(dec)).as("n2"))
      .select(col("label"), col("n_vecs"),
        when(col("n1") > 0 && col("n2") > 0,
          floor(col("dot").cast("double") /
            (sqrt(col("n1").cast("double")) * sqrt(col("n2").cast("double")))
            * 1e6 + 0.5) / 1e6).as("cos_to_corpus"))
  }

  /** DuckDB replay of [[centroidDrift]]. */
  def centroidDriftOracleSql(): String =
    """WITH ex AS (
      |  SELECT label,
      |         generate_subscripts(embedding, 1) AS pos,
      |         CAST(trunc(CAST(unnest(embedding) AS DOUBLE) * 1.0E9) AS BIGINT) AS xq
      |  FROM embeddings),
      |pl AS (
      |  SELECT label, pos, SUM(CAST(xq AS HUGEINT)) AS sl, COUNT(*) AS nl
      |  FROM ex GROUP BY 1, 2),
      |g AS (SELECT pos, SUM(sl) AS sg, SUM(nl) AS ng FROM pl GROUP BY 1),
      |m AS (
      |  SELECT pl.label, pl.nl,
      |         CAST(pl.sl // pl.nl AS BIGINT) AS ml,
      |         CAST(g.sg // g.ng AS BIGINT) AS mg
      |  FROM pl JOIN g USING (pos)),
      |a AS (
      |  SELECT label, MAX(nl) AS n_vecs,
      |         SUM(CAST(ml AS HUGEINT) * mg) AS dot,
      |         SUM(CAST(ml AS HUGEINT) * ml) AS n1,
      |         SUM(CAST(mg AS HUGEINT) * mg) AS n2
      |  FROM m GROUP BY 1)
      |SELECT label, CAST(n_vecs AS BIGINT) AS n_vecs,
      |       CASE WHEN n1 > 0 AND n2 > 0
      |            THEN FLOOR(CAST(dot AS DOUBLE)
      |                 / (sqrt(CAST(n1 AS DOUBLE)) * sqrt(CAST(n2 AS DOUBLE)))
      |                 * 1e6 + 0.5) / 1e6 END AS cos_to_corpus
      |FROM a""".stripMargin
}
