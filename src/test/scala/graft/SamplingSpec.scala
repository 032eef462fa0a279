package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.io.Tables
import graft.operators.Sampling

class SamplingSpec extends AnyFunSuite {
  import TestSpark.{spark, sfDir}
  import spark.implicits._

  test("hashSamplePerGroup: k per group, deterministic across runs") {
    val emb = Tables.embeddings(spark, sfDir)
    val s1 = Sampling.hashSamplePerGroup(emb, "label", "vec_id", 3)
      .select("label", "vec_id").as[(Int, Long)].collect().toSet
    val s2 = Sampling.hashSamplePerGroup(emb, "label", "vec_id", 3)
      .select("label", "vec_id").as[(Int, Long)].collect().toSet
    assert(s1 === s2)
    val perGroup = s1.groupBy(_._1).view.mapValues(_.size)
    assert(perGroup.values.forall(_ <= 3))
    assert(perGroup.keySet.size === 10) // labels 0..9 all present
  }

  test("hashSamplePerGroup rejects k < 1") {
    val emb = Tables.embeddings(spark, sfDir)
    assertThrows[IllegalArgumentException](Sampling.hashSamplePerGroup(emb, "label", "vec_id", 0))
  }

  test("BottomKSample aggregator: uniform deterministic k-sample per group") {
    val agg = new Sampling.BottomKSample(5).toColumn
    val ds = Tables.embeddings(spark, sfDir)
      .select($"label", $"vec_id").as[(Int, Long)]
    val got = ds.groupByKey(_._1).mapValues(_._2)
      .agg(agg.name("sample")).collect().toMap
    assert(got.size === 10)
    got.values.foreach { s =>
      assert(s.length === 5)
      assert(s.toSeq === s.toSeq.sorted)
    }
    // deterministic under repartitioning (merge-order independence)
    val got2 = Tables.embeddings(spark, sfDir).repartition(17)
      .select($"label", $"vec_id").as[(Int, Long)]
      .groupByKey(_._1).mapValues(_._2)
      .agg(agg.name("sample")).collect().toMap
    assert(got.view.mapValues(_.toSeq).toMap === got2.view.mapValues(_.toSeq).toMap)
  }

  test("hash sample matches a fraction-free population subset") {
    val emb = Tables.embeddings(spark, sfDir)
    val sampled = Sampling.hashSamplePerGroup(emb, "label", "vec_id", 10)
    // sampled rows are actual source rows (projection-free subset)
    assert(sampled.join(emb, Seq("vec_id"), "left_anti").count() === 0)
  }

  test("weightedSample favors heavy weights and is partition-invariant") {
    import org.apache.spark.sql.functions.col
    // ids 1..100 light (w=1), 101..120 heavy (w=50)
    val pop = ((1L to 100L).map(i => (i, 1.0)) ++ (101L to 120L).map(i => (i, 50.0)))
      .toDF("id", "w")
    val got = Sampling.weightedSample(pop, "id", "w", 30)
      .select("id").as[Long].collect().toSet
    assert(got.size === 30)
    // E-S inclusion: the 20 heavy rows carry 1000/1100 of the total weight;
    // nearly all must be drawn into a 30-row sample
    val heavyIn = got.count(_ > 100L)
    assert(heavyIn >= 15, s"only $heavyIn heavy rows sampled")
    // deterministic under repartitioning, fresh under a new seed
    val again = Sampling.weightedSample(pop.repartition(13), "id", "w", 30)
      .select("id").as[Long].collect().toSet
    assert(again === got)
    val reseeded = Sampling.weightedSample(pop, "id", "w", 30, seed = "other")
      .select("id").as[Long].collect().toSet
    assert(reseeded !== got)
    intercept[IllegalArgumentException] {
      Sampling.weightedSample(pop, "id", "w", 0)
    }
  }

  test("weightedSamplePerGroup: k per stratum, weight-biased, partition-invariant") {
    // two strata; in each, ids ending 9x are heavy (w=50) vs light (w=1)
    val pop = ((1L to 100L).map(i => (i, "a", if (i > 90) 50.0 else 1.0)) ++
      (101L to 200L).map(i => (i, "b", if (i > 190) 50.0 else 1.0)))
      .toDF("id", "g", "w")
    val got = Sampling.weightedSamplePerGroup(pop, "g", "id", "w", 15)
      .select("g", "id").as[(String, Long)].collect().toSet
    // exactly k per group (groups larger than k)
    val perGroup = got.groupBy(_._1).view.mapValues(_.size).toMap
    assert(perGroup === Map("a" -> 15, "b" -> 15))
    // the 10 heavy rows per stratum carry 500/590 of its weight — most
    // must be drawn into a 15-row stratum sample
    assert(got.count { case ("a", i) => i > 90; case _ => false } >= 7)
    assert(got.count { case ("b", i) => i > 190; case _ => false } >= 7)
    // deterministic under repartitioning; fresh under a new seed
    val again = Sampling.weightedSamplePerGroup(pop.repartition(13), "g", "id", "w", 15)
      .select("g", "id").as[(String, Long)].collect().toSet
    assert(again === got)
    val reseeded = Sampling.weightedSamplePerGroup(pop, "g", "id", "w", 15, seed = "other")
      .select("g", "id").as[(String, Long)].collect().toSet
    assert(reseeded !== got)
    // a group smaller than k survives whole
    val tiny = Sampling.weightedSamplePerGroup(
      Seq((1L, "solo", 2.0)).toDF("id", "g", "w"), "g", "id", "w", 15)
    assert(tiny.count() === 1L)
    intercept[IllegalArgumentException] {
      Sampling.weightedSamplePerGroup(pop, "g", "id", "w", 0)
    }
  }

  test("weightedSamplePerGroup plans as a window group limit, not a global sort") {
    val pop = (1L to 500L).map(i => (i, (i % 7).toString, 1.0 + (i % 3)))
      .toDF("id", "g", "w")
    val plan = Sampling.weightedSamplePerGroup(pop, "g", "id", "w", 5)
      .queryExecution.executedPlan.toString
    assert(plan.contains("WindowGroupLimit"), s"expected WindowGroupLimit in:\n$plan")
  }

  test("temperatureMix: smallest source keeps all, heads shrink toward sqrt rates") {
    // sources with 900 / 400 / 100 rows
    val pop = ((1L to 900L).map(i => (i, "web")) ++
      (1001L to 1400L).map(i => (i, "books")) ++
      (2001L to 2100L).map(i => (i, "code"))).toDF("doc_id", "source")
    val out = Sampling.temperatureMix(pop, "source", "doc_id")
    val kept = out.groupBy("source").count()
      .as[(String, Long)].collect().toMap
    // code: rate 1e6 → exactly all 100 survive
    assert(kept("code") === 100L)
    // web: rate √(100/900)=1/3 → ~300 of 900 (md5 uniform, loose band)
    assert(kept("web") > 200 && kept("web") < 400, s"web kept ${kept("web")}")
    // books: rate √(100/400)=1/2 → ~200 of 400
    assert(kept("books") > 140 && kept("books") < 260, s"books kept ${kept("books")}")
    // deterministic under repartition
    val again = Sampling.temperatureMix(pop.repartition(7), "source", "doc_id")
      .select("doc_id").as[Long].collect().toSet
    assert(again === out.select("doc_id").as[Long].collect().toSet)
  }

  test("dsirWeights: target-like docs outrank source-only docs, exact recompute") {
    // target dialect: {alpha, beta}; source-only dialect: {gamma, delta}.
    // docs 1-2 are the target; doc 3 speaks target words, doc 4 doesn't.
    val docs = Seq(
      (1L, "alpha beta alpha", true),
      (2L, "beta alpha beta", true),
      (3L, "alpha beta gamma", false),
      (4L, "gamma delta gamma delta", false)
    ).toDF("doc_id", "text", "is_tgt")
    val out = Sampling.dsirWeights(docs, $"is_tgt", buckets = 64)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    // exact recompute of the micro-unit arithmetic
    val toks = Seq(
      1L -> Seq("alpha", "beta", "alpha"), 2L -> Seq("beta", "alpha", "beta"),
      3L -> Seq("alpha", "beta", "gamma"), 4L -> Seq("gamma", "delta", "gamma", "delta"))
    val tgt = Set(1L, 2L)
    def bucket(t: String): Long = {
      val h = java.security.MessageDigest.getInstance("MD5")
        .digest(t.getBytes("UTF-8")).map("%02x".format(_)).mkString
      java.lang.Long.parseLong(h.substring(0, 15), 16) % 64
    }
    val all = toks.flatMap { case (id, ts) => ts.map(t => (id, bucket(t))) }
    val cntS = all.groupBy(_._2).view.mapValues(_.size.toLong).toMap
    val cntT = all.filter(p => tgt(p._1)).groupBy(_._2).view.mapValues(_.size.toLong).toMap
    val (ns, nt) = (all.size.toDouble, all.count(p => tgt(p._1)).toDouble)
    def ratioMicro(b: Long): Long =
      math.floor((math.log(cntT.getOrElse(b, 0L) + 1.0) - math.log(nt + 64.0)
        - math.log(cntS(b) + 1.0) + math.log(ns + 64.0)) * 1e6 + 0.5).toLong
    toks.foreach { case (id, ts) =>
      val expect = (ts.size.toLong, ts.map(t => ratioMicro(bucket(t))).sum)
      assert(out(id) === expect, s"doc $id")
    }
    // the target-dialect outsider (3) must outrank the source-only doc (4)
    assert(out(3L)._2 > out(4L)._2)
    spark.catalog.clearCache()
  }

  test("neymanAllocation: budget splits proportional to N_h·σ_h, exactly") {
    // stratum a: 4 rows, values {0,10} → σ = 5; stratum b: 2 rows all
    // equal → σ = 0; stratum c: 2 rows {0,100} → σ = 50.
    // weights: a = 4·5e6 = 2e7, b = 0, c = 2·5e7 = 1e8 → of 1000:
    // a = 1000·2e7/1.2e8 = 166, b = 0, c = 1000·1e8/1.2e8 = 833
    val df = Seq(
      ("a", 0.0), ("a", 10.0), ("a", 0.0), ("a", 10.0),
      ("b", 7.0), ("b", 7.0),
      ("c", 0.0), ("c", 100.0)).toDF("g", "v")
    val got = graft.operators.Sampling.neymanAllocation(df, "g", "v")
      .orderBy("stratum")
      .select("stratum", "n_rows", "sigma_micro", "alloc_n")
      .as[(String, Long, Long, Long)].collect().toSeq
    assert(got === Seq(
      ("a", 4L, 5000000L, 166L),
      ("b", 2L, 0L, 0L),
      ("c", 2L, 50000000L, 833L)))
  }

  test("neymanAllocation: all-degenerate strata allocate zero, no crash") {
    val df = Seq(("a", 5.0), ("a", 5.0), ("b", 9.0)).toDF("g", "v")
    val got = graft.operators.Sampling.neymanAllocation(df, "g", "v")
    assert(got.agg(sum("alloc_n")).head.getLong(0) === 0L)
    assert(got.count() === 2)
  }

  test("waterfillAllocate: saturation cascade redistributes exactly") {
    // budget 100 over 4 sources, uniform targets (25 each):
    //   a has 10 -> saturates round 1; share becomes (100-10)/3 = 30
    //   b has 28 -> saturates round 2; share becomes (100-38)/2 = 31
    //   c, d have 40/50 -> unsaturated at 31 each
    val docs = Seq(
      ("a", 1L, "w " * 10), ("b", 2L, "w " * 28),
      ("c", 3L, "w " * 40), ("d", 4L, "w " * 50)
    ).map { case (s0, i, t) => (i, s0, t.trim) }.toDF("doc_id", "source", "text")
    val got = graft.operators.Sampling.waterfillAllocate(docs, budget = 100L)
      .orderBy("source")
      .select("source", "n_tokens", "allocated", "rate_micro", "saturated")
      .as[(String, Long, Long, Long, Boolean)].collect().toSeq
    assert(got === Seq(
      ("a", 10L, 10L, 1000000L, true),
      ("b", 28L, 28L, 1000000L, true),
      ("c", 40L, 31L, 775000L, false),
      ("d", 50L, 31L, 620000L, false)))
  }

  test("waterfillAllocate: budget above total availability saturates all") {
    val docs = Seq((1L, "a", "x y"), (2L, "b", "x y z")).toDF("doc_id", "source", "text")
    val got = graft.operators.Sampling.waterfillAllocate(docs, budget = 1000L)
      .select("allocated", "saturated")
      .as[(Long, Boolean)].collect().toSeq
    assert(got.forall(_._2) && got.map(_._1).sum === 5L)
  }

  test("waterfillAllocate: zero budget allocates zero everywhere") {
    val docs = Seq((1L, "a", "x y"), (2L, "b", "")).toDF("doc_id", "source", "text")
    val got = graft.operators.Sampling.waterfillAllocate(docs, budget = 0L)
      .orderBy("source")
      .select("allocated", "rate_micro").as[(Long, Long)].collect().toSeq
    assert(got === Seq((0L, 0L), (0L, 0L)))
  }

  test("waterfillAllocate: many-source cascade reaches the exact fixpoint") {
    // round-12 advice: a fixed round count could stop before the
    // saturation fixpoint. Differential check against an INDEPENDENT
    // plain-Scala fixpoint replaying the same integer rules, on a
    // 15-source fixture whose cascade is several rounds deep.
    val sizes = (1 to 15).map(i =>
      (f"s$i%02d", 1L + (i * 37L) % 23 + (if (i % 3 == 0) 40L else 0L)))
    val docs = sizes.zipWithIndex.map { case ((s, n), i) =>
      (i.toLong, s, ("w " * n.toInt).trim)
    }.toDF("doc_id", "source", "text")
    val budget = 200L
    val got = graft.operators.Sampling.waterfillAllocate(docs, budget = budget)
      .orderBy("source")
      .select("source", "n_tokens", "allocated", "rate_micro", "saturated")
      .as[(String, Long, Long, Long, Boolean)].collect().toSeq
    var sat = Set.empty[String]
    def share(satNow: Set[String]): Long = {
      val unsat = sizes.count(s => !satNow(s._1))
      if (unsat == 0) 0L
      else math.max(0L,
        budget - sizes.filter(s => satNow(s._1)).map(_._2).sum) / unsat
    }
    var rounds = 0
    var changed = true
    while (changed) {
      val s = share(sat)
      val next = sat ++ sizes.filter(x => !sat(x._1) && x._2 <= s).map(_._1)
      changed = next != sat
      if (changed) rounds += 1
      sat = next
    }
    val fin = share(sat)
    val want = sizes.map { case (s, n) =>
      val isSat = sat(s)
      val alloc = if (isSat) n else math.min(n, fin)
      (s, n, alloc, if (n == 0L) 0L else alloc * 1000000L / n, isSat)
    }
    assert(got === want)
    assert(rounds >= 2, s"fixture should cascade (got $rounds rounds)")
    // allocations never exceed the budget
    assert(got.map(_._3).sum <= budget)
  }
}
