package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.io.Tables
import graft.similarity.Ann

class AnnSpec extends AnyFunSuite {
  import TestSpark.{spark, sfDir}
  import spark.implicits._

  /** Deterministic fixture: 3 tight clusters of near-identical vectors plus
    * uniform noise — planted structure the ANN variants must recover.
    */
  private lazy val planted = {
    val rnd = new scala.util.Random(7)
    val dim = 64
    def base() = Array.fill(dim)(rnd.nextGaussian().toFloat)
    def jitter(v: Array[Float]) = v.map(x => x + 0.01f * rnd.nextGaussian().toFloat)
    val clusters = Seq.fill(3)(base())
    val rows =
      clusters.zipWithIndex.flatMap { case (c, ci) =>
        (0 until 4).map(j => ((ci * 4 + j).toLong, jitter(c)))
      } ++ (12 until 60).map(i => (i.toLong, base()))
    rows.toDF("vec_id", "embedding")
  }

  test("brute force: finds planted cluster mates as top neighbors") {
    val got = Ann.bruteForceTopK(planted, k = 3, nQueries = 12)
      .select("query_id", "vec_id", "rank").as[(Long, Long, Int)].collect()
    // query 0 belongs to cluster {0,1,2,3}: its top-3 must be exactly the mates
    val q0 = got.filter(_._1 == 0L).map(_._2).toSet
    assert(q0 === Set(1L, 2L, 3L))
  }

  test("lsh: high recall on planted clusters vs brute force") {
    val exact = Ann.bruteForceTopK(planted, k = 3, nQueries = 12)
      .select("query_id", "vec_id").as[(Long, Long)].collect().toSet
    val approx = Ann.lshTopK(planted, k = 3, nQueries = 12)
      .select("query_id", "vec_id").as[(Long, Long)].collect().toSet
    val recall = (exact intersect approx).size.toDouble / exact.size
    assert(recall >= 0.8, s"LSH recall $recall too low")
  }

  test("ivf: recovers cluster mates for planted queries") {
    val exact = Ann.bruteForceTopK(planted, k = 3, nQueries = 12)
      .select("query_id", "vec_id").as[(Long, Long)].collect().toSet
    val approx = Ann.ivfTopK(planted, k = 3, nQueries = 12, centroidStep = 7, nprobe = 3)
      .select("query_id", "vec_id").as[(Long, Long)].collect().toSet
    val recall = (exact intersect approx).size.toDouble / exact.size
    assert(recall >= 0.5, s"IVF recall $recall too low")
  }

  test("ivm ivf: maintained postings equal a fresh rebuild on the merged corpus") {
    import org.apache.spark.sql.functions.{col, lit, pmod}
    // the q_ivm_ann protocol on the planted fixture, but with the
    // maintained-equals-rebuild THEOREM checked explicitly: frozen
    // centroids make assignment pointwise deterministic, so base minus
    // deletes plus assigned inserts must equal assigning the merged
    // corpus from scratch — set equality including cent_id
    val e = planted.select(col("vec_id"),
      col("embedding").cast("array<double>").as("v"))
    val old = e.filter(pmod(col("vec_id"), lit(13)) =!= 0)
    val cents = old.filter(pmod(col("vec_id"), lit(29)) === 0)
      .select(col("vec_id").as("cent_id"), col("v").as("cv"))
    val ins = e.filter(pmod(col("vec_id"), lit(13)) === 0)
    val delIds = old.filter(pmod(col("vec_id"), lit(17)) === 3)
    def assign(points: org.apache.spark.sql.DataFrame) = {
      import org.apache.spark.sql.expressions.Window
      import org.apache.spark.sql.functions._
      val w = Window.partitionBy("vec_id").orderBy(desc("csim"), asc("cent_id"))
      points.join(broadcast(cents))
        .select(col("vec_id"), col("cent_id"),
          round(Ann.cosine(col("v"), col("cv")), 6).as("csim"))
        .withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
        .select("vec_id", "cent_id")
    }
    val base = assign(old)
    val changes = ins.select(col("vec_id"), col("v"),
        lit(false).as("is_delete"))
      .unionByName(delIds.select(col("vec_id"), col("v"),
        lit(true).as("is_delete")))
    val maintained = Ann.ivfMaintainPostings(
        old.join(base, "vec_id").select("vec_id", "v", "cent_id"),
        changes, cents)
      .select("vec_id", "cent_id").as[(Long, Long)].collect().toSet
    val merged = old.join(delIds.select("vec_id"), Seq("vec_id"), "left_anti")
      .unionByName(ins)
    val fresh = assign(merged).as[(Long, Long)].collect().toSet
    assert(maintained === fresh, "CDC-maintained postings != fresh rebuild")
    assert(maintained.nonEmpty)
    // deleted ids are gone; inserted ids are present
    val delSet = delIds.select("vec_id").as[Long].collect().toSet
    val insSet = ins.select("vec_id").as[Long].collect().toSet
    assert(maintained.map(_._1).intersect(delSet).isEmpty)
    assert(insSet.subsetOf(maintained.map(_._1)))
    spark.catalog.clearCache()
  }

  test("ivm ivf: per-delta work — the posting relation is never rescanned") {
    // plan shape: the maintained relation's delete leg must be a
    // broadcast anti-join (delta ids broadcast, postings streamed once)
    // and the insert leg must assign ONLY the delta (no second corpus
    // assignment subtree). Assert no SortMergeJoin over the postings
    // and exactly one Window (the insert assignment's rank) in the
    // maintenance plan.
    import org.apache.spark.sql.functions.{col, lit, pmod}
    val e = planted.select(col("vec_id"),
      col("embedding").cast("array<double>").as("v"))
    val old = e.filter(pmod(col("vec_id"), lit(13)) =!= 0)
    val cents = old.filter(pmod(col("vec_id"), lit(29)) === 0)
      .select(col("vec_id").as("cent_id"), col("v").as("cv"))
    val postings = old.withColumn("cent_id", lit(0L))
      .select("vec_id", "v", "cent_id")
    val changes = e.filter(pmod(col("vec_id"), lit(13)) === 0)
      .select(col("vec_id"), col("v"), lit(false).as("is_delete"))
    val plan = Ann.ivfMaintainPostings(postings, changes, cents)
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin") || plan.contains("BroadcastNestedLoopJoin"),
      s"delete/assign legs should broadcast the delta side:\n$plan")
    assert(!plan.contains("SortMergeJoin"),
      s"postings must not be re-shuffled for a delta batch:\n$plan")
    spark.catalog.clearCache()
  }

  test("ivm ivf: an insert for an already-indexed id is an UPSERT") {
    import org.apache.spark.sql.functions.{col, lit}
    // id 1 is already in postings (stale vector, cent 0); the batch
    // re-inserts it with a new vector that assigns to cent 9. The
    // maintained relation must hold EXACTLY ONE row for id 1, carrying
    // the new vector's assignment — not both (the pre-fix behavior left
    // the stale row beside the new one).
    val postings = Seq((1L, Seq(1.0, 0.0), 0L), (2L, Seq(1.0, 0.1), 0L))
      .toDF("vec_id", "v", "cent_id")
    val cents = Seq((0L, Seq(1.0, 0.0)), (9L, Seq(0.0, 1.0)))
      .toDF("cent_id", "cv")
    val changes = Seq((1L, Seq(0.0, 1.0), false)).toDF("vec_id", "v", "is_delete")
    val got = Ann.ivfMaintainPostings(postings, changes, cents)
      .select("vec_id", "cent_id").as[(Long, Long)].collect().toSeq.sorted
    assert(got === Seq((1L, 9L), (2L, 0L)),
      s"upsert must replace the stale posting, got $got")
    spark.catalog.clearCache()
  }

  test("near-dup pairs: planted near-identical vectors found, noise absent") {
    val got = Ann.nearDupPairs(planted, threshold = 0.95)
      .select("vec_a", "vec_b").as[(Long, Long)].collect().toSet
    // all within-cluster pairs of cluster 0 should surface
    assert(got.contains((0L, 1L)) && got.contains((0L, 2L)) && got.contains((2L, 3L)))
    // noise vectors (>= 12) shouldn't pair with anything at 0.95
    assert(!got.exists(p => p._1 >= 12L && p._2 >= 12L))
  }

  test("fixture corpus: brute force returns k rows per query") {
    val got = Ann.bruteForceTopK(Tables.embeddings(spark, sfDir), k = 5, nQueries = 10)
    assert(got.count() === 50)
  }

  test("hard negatives: banded below the near-dup ceiling, ranked within") {
    // cluster mates sit at cosine ~1.0 — hard negatives must EXCLUDE them
    // and return the most-similar vectors inside the band, ranked
    val out = Ann.hardNegatives(planted, k = 3, nQueries = 2,
      minSim = -1.0, maxSim = 0.9).collect()
    assert(out.nonEmpty)
    out.foreach { r =>
      val (q, v, cos, rk) = (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3))
      assert(cos < 0.9 && cos >= -1.0, s"cosine $cos outside band")
      assert(rk >= 1 && rk <= 3)
      // anchors 0 and 1 are cluster-0 mates of 0..3 — none may appear
      assert(!(q < 4 && v < 4), s"cluster mate $v leaked into negatives of $q")
    }
    val perQuery = out.groupBy(_.getLong(0)).view.mapValues(_.length)
    perQuery.foreach { case (q, n) => assert(n === 3, s"query $q returned $n rows") }
    spark.catalog.clearCache()
  }

  test("contrastivePairs: disjoint pos/neg bands, cluster mates are positives") {
    val out = Ann.contrastivePairs(planted, k = 3, nQueries = 2,
      posThreshold = 0.9, negMin = -1.0).collect()
    val pos = out.filter(_.getString(3) == "pos")
    val neg = out.filter(_.getString(3) == "neg")
    // anchors 0 and 1 live in cluster 0..3: their mates must ALL be positives
    val posSet = pos.map(r => (r.getLong(0), r.getLong(1))).toSet
    for (a <- 0L to 1L; m <- 0L to 3L if m != a)
      assert(posSet((a, m)), s"cluster mate ($a,$m) missing from positives")
    pos.foreach(r => assert(r.getDouble(2) >= 0.9))
    neg.foreach(r => assert(r.getDouble(2) < 0.9))
    neg.groupBy(_.getLong(0)).foreach { case (a, rs) =>
      assert(rs.length <= 3, s"anchor $a has ${rs.length} negatives") }
    // no pair may carry both labels
    assert(pos.map(r => (r.getLong(0), r.getLong(1))).toSet
      .intersect(neg.map(r => (r.getLong(0), r.getLong(1))).toSet).isEmpty)
    spark.catalog.clearCache()
  }

  test("semDedup: planted near-identical groups keep exactly one survivor each") {
    // tau=0.99: only the jittered clusters count as semantic duplicates
    val out = Ann.semDedup(planted, k = 3, iters = 2, tau = 0.99)
      .select("vec_id", "kept").as[(Long, Boolean)].collect().toMap
    assert(out.size === 60)
    // each planted 4-mate group {4c..4c+3} loses members down to survivors;
    // at tau=0.99 every mate pair is a duplicate pair, so exactly 1 survives
    for (c <- 0 until 3) {
      val kept = (0 until 4).map(j => (c * 4 + j).toLong).filter(out)
      assert(kept.size === 1, s"cluster $c kept ${kept.size} of its 4 near-dups")
    }
    spark.catalog.clearCache()
  }

  test("semDedup: tau above every pairwise cosine keeps the whole corpus") {
    val out = Ann.semDedup(planted, k = 3, iters = 2, tau = 1.1)
      .select("kept").as[Boolean].collect()
    assert(out.length === 60 && out.forall(identity))
    spark.catalog.clearCache()
  }

  test("recallEval: n_hit equals the hand-computed top-k intersection") {
    val out = Ann.recallEval(planted, k = 3, nQueries = 12).collect()
    assert(out.length === 24) // 12 queries x 2 methods, no vanishing rows
    val brute = Ann.bruteForceTopK(planted, k = 3, nQueries = 12)
      .select("query_id", "vec_id").as[(Long, Long)].collect()
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val lsh = Ann.lshTopK(planted, k = 3, nQueries = 12)
      .select("query_id", "vec_id").as[(Long, Long)].collect()
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    out.filter(_.getString(0) == "lsh").foreach { r =>
      val (q, nHit, recall) = (r.getLong(1), r.getInt(2), r.getDouble(3))
      val expect = brute(q).intersect(lsh.getOrElse(q, Set.empty)).size
      assert(nHit === expect, s"query $q: n_hit $nHit != $expect")
      assert(math.abs(recall - nHit / 3.0) < 1e-9)
      assert(recall >= 0.0 && recall <= 1.0)
    }
    spark.catalog.clearCache()
  }

  test("equi-depth bins hold ~equal mass per dimension") {
    import org.apache.spark.sql.functions._
    val e = Tables.embeddings(spark, sfDir)
    val n = e.count()
    val binned = Ann.quantizeEquiDepth(e)
      .select(explode(split(col("bins_csv"), ",")).as("bin"))
      .groupBy("bin").agg(count(lit(1)).as("c"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(binned.keySet === Set("0", "1", "2", "3"))
    val total = binned.values.sum
    assert(total === n * 64)
    // quartile bins: each within 10% of the total (ideal = 25%)
    binned.values.foreach { c =>
      assert(math.abs(c - total / 4.0) < total * 0.1, s"skewed bins: $binned")
    }
    spark.catalog.clearCache()
  }

  test("mmrRerank: pure-relevance limit equals brute top-k; heavy penalty diversifies") {
    // query 0 = [1,0]; candidates: 1,2 near-duplicates highly relevant,
    // 3 moderately relevant but orthogonal to them
    val vecs = Seq(
      (0L, Array(1f, 0f)),
      (1L, Array(1f, 0.01f)),
      (2L, Array(1f, 0.011f)),
      (3L, Array(0.6f, 0.8f))
    ).toDF("vec_id", "embedding")
    // mu = 0: MMR degenerates to relevance order = bruteForceTopK order
    val pure = Ann.mmrRerank(vecs, k = 3, nQueries = 1, nCandidates = 3,
      lam = 1.0, mu = 0.0)
      .select("sel_rank", "vec_id").as[(Int, Long)].collect().sortBy(_._1)
    val brute = Ann.bruteForceTopK(vecs, k = 3, nQueries = 1)
      .select("rank", "vec_id").as[(Int, Long)].collect().sortBy(_._1)
    assert(pure.map(_._2).toSeq === brute.map(_._2).toSeq)
    // heavy redundancy penalty: after picking 1, the near-duplicate 2 is
    // penalized below the orthogonal 3 — diversity overrides relevance
    val div = Ann.mmrRerank(vecs, k = 3, nQueries = 1, nCandidates = 3,
      lam = 0.1, mu = 0.9)
      .select("sel_rank", "vec_id").as[(Int, Long)].collect().sortBy(_._1)
    assert(div.map(_._2).toSeq === Seq(1L, 3L, 2L))
    // relevance column carries the original rounded cosine either way
    val rel = Ann.mmrRerank(vecs, k = 1, nQueries = 1, nCandidates = 3)
      .select("relevance").as[Double].collect().head
    assert(math.abs(rel - 1.0) < 1e-3)
  }
}
