package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.analytics.Triangles

/** Triangle counting: brute-force agreement, orientation invariance of
  * the input encoding, and hub-graph sanity (the case degree ordering
  * exists for).
  */
class TrianglesSpec extends AnyFunSuite {
  import TestSpark.spark
  import spark.implicits._

  private def brute(edges: Seq[(Long, Long)]): Long = {
    val es = edges.map { case (a, b) => (a min b, a max b) }.toSet
    val nodes = es.flatMap(e => Seq(e._1, e._2)).toSeq.sorted
    nodes.combinations(3).count { case Seq(a, b, c) =>
      es((a, b)) && es((a, c)) && es((b, c))
    }
  }

  test("matches brute force on a deterministic random graph") {
    val edges = (for {
      i <- 1L to 30L; j <- (i + 1) to 30L
      if (i * 31 + j * 17) % 5 == 0
    } yield (i, j)).toSeq
    val got = Triangles.triangleCount(edges.toDF("u", "v"), "u", "v")
      .as[Long].head()
    assert(got === brute(edges))
  }

  test("canonical=true on already-canonical input matches the default path") {
    val edges = (for {
      i <- 1L to 30L; j <- (i + 1) to 30L
      if (i * 31 + j * 17) % 5 == 0
    } yield (i, j)).toSeq // already distinct, u < v
    val df = edges.toDF("u", "v")
    assert(Triangles.triangleCount(df, "u", "v", canonical = true).as[Long].head()
      === Triangles.triangleCount(df, "u", "v").as[Long].head())
    val fast = Triangles.clusteringCoefficient(df, "u", "v", canonical = true)
      .collect().map(_.toSeq).toSet
    val slow = Triangles.clusteringCoefficient(df, "u", "v")
      .collect().map(_.toSeq).toSet
    assert(fast === slow)
    spark.catalog.clearCache()
  }

  test("mixed edge directions and duplicates count once") {
    // K4 = 4 triangles, edges scrambled and duplicated
    val k4 = Seq((1L, 2L), (2L, 1L), (1L, 3L), (4L, 1L), (2L, 3L), (3L, 2L),
      (2L, 4L), (3L, 4L), (4L, 3L))
    val got = Triangles.triangleCount(k4.toDF("u", "v"), "u", "v").as[Long].head()
    assert(got === 4L)
  }

  test("clusteringCoefficient: K4 corners are fully clustered, pendant is 0") {
    // K4 plus a pendant node 5 attached to node 1
    val edges = Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L), (3L, 4L), (1L, 5L))
    val out = Triangles.clusteringCoefficient(edges.toDF("u", "v"), "u", "v")
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getDouble(3)))).toMap
    // node 1: degree 4, in 3 triangles of K4 → coef 3*2/(4*3) = 0.5
    assert(out(1L) === ((4L, 3L, 0.5)))
    // nodes 2-4: degree 3, 3 triangles each → 3*2/(3*2) = 1.0
    Seq(2L, 3L, 4L).foreach(n => assert(out(n) === ((3L, 3L, 1.0)), s"node $n: ${out(n)}"))
    // pendant: degree 1, no triangles, coefficient 0 by convention
    assert(out(5L) === ((1L, 0L, 0.0)))
    // total triangles across corners = 3 * |triangles of K4| = 12
    assert(out.values.map(_._2).sum === 12L)
    spark.catalog.clearCache()
  }

  test("empty and self-loop-only graphs count 0, not NULL") {
    val empty = Seq.empty[(Long, Long)].toDF("u", "v")
    assert(Triangles.triangleCount(empty, "u", "v").as[Long].head() === 0L)
    val loops = Seq((1L, 1L), (2L, 2L)).toDF("u", "v")
    assert(Triangles.triangleCount(loops, "u", "v").as[Long].head() === 0L)
  }

  test("hub star graph has zero triangles; adding one rim edge makes one") {
    val star = (2L to 40L).map(i => (1L, i))
    assert(Triangles.triangleCount(star.toDF("u", "v"), "u", "v").as[Long].head() === 0L)
    val withRim = star :+ ((5L, 6L))
    assert(Triangles.triangleCount(withRim.toDF("u", "v"), "u", "v").as[Long].head() === 1L)
  }

  test("kTruss: planted cliques — K5 and K4 survive k=4, only K5 survives k=5") {
    val k5 = for { i <- 1L to 5L; j <- (i + 1) to 5L } yield (i, j)
    val k4 = for { i <- 11L to 14L; j <- (i + 1) to 14L } yield (i, j)
    val noise = Seq((5L, 11L), (14L, 20L)) // bridge + pendant: support 0
    val edges = (k5 ++ k4 ++ noise).toDF("u", "v")

    val t4 = Triangles.kTruss(edges, "u", "v", k = 4, rounds = 2)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getLong(2))).toMap
    assert(t4.keySet === (k5 ++ k4).toSet, "4-truss keeps both cliques, drops noise")
    k5.foreach(e => assert(t4(e) === 3L, s"K5 edge $e support"))
    k4.foreach(e => assert(t4(e) === 2L, s"K4 edge $e support"))

    val t5 = Triangles.kTruss(edges, "u", "v", k = 5, rounds = 2)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getLong(2))).toMap
    assert(t5.keySet === k5.toSet, "5-truss keeps only K5")
    k5.foreach(e => assert(t5(e) === 3L))
    spark.catalog.clearCache()
  }

  /** Local reference truss peel: iterate support-threshold removal to
    * fixpoint, returning (fixpoint edge set, per-edge support within the
    * final subgraph, rounds until the set stops changing).
    */
  private def localTruss(edges: Set[(Long, Long)], k: Int)
      : (Set[(Long, Long)], Map[(Long, Long), Long], Int) = {
    def sup(es: Set[(Long, Long)]): Map[(Long, Long), Long] = {
      val adj = es.toSeq.flatMap { case (u, v) => Seq(u -> v, v -> u) }
        .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
      es.map { case (u, v) => (u, v) -> (adj(u) & adj(v)).size.toLong }.toMap
    }
    var cur = edges
    var rounds = 0
    var done = false
    while (!done) {
      // NOTE: not `.collect { case (e, s) => e }` — a Map's collect
      // rebuilds a Map when the result is a pair, silently collapsing
      // the (u, v) edge tuples by u
      val next: Set[(Long, Long)] = sup(cur).filter(_._2 >= k - 2).keySet
      if (next == cur) done = true
      else { cur = next; rounds += 1 }
    }
    (cur, sup(cur), rounds)
  }

  test("kTrussConverged peels a 4-round cascade to the TRUE maximal 4-truss") {
    // 13-node graph found by search: k=4 peeling takes FOUR rounds to
    // reach its (nonempty, 21-edge) fixpoint — 35 → 27 → 24 → 22 → 21 —
    // so the bounded default (rounds = 2) is provably NOT converged here
    // and the early-exit loop has real work beyond it.
    val raw: Seq[(Long, Long)] = Seq(
      (0, 1), (0, 2), (0, 3), (0, 4), (0, 7), (0, 10), (1, 2), (1, 3),
      (1, 4), (1, 9), (1, 10), (1, 11), (2, 3), (2, 4), (2, 8), (2, 12),
      (3, 4), (3, 6), (3, 8), (3, 11), (3, 12), (4, 12), (5, 7), (5, 9),
      (6, 7), (6, 11), (6, 12), (7, 9), (8, 9), (8, 12), (9, 10), (9, 11),
      (9, 12), (10, 12), (11, 12)).map { case (a, b) => (a.toLong, b.toLong) }
    val (fix, fixSup, roundsNeeded) = localTruss(raw.toSet, k = 4)
    assert(roundsNeeded >= 3, s"gadget must need > bounded rounds, got $roundsNeeded")
    assert(fix.nonEmpty)

    val edges = raw.toDF("u", "v")
    val bounded = Triangles.kTruss(edges, "u", "v", k = 4, rounds = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(bounded !== fix, "bounded rounds=2 must NOT already be converged here")

    val conv = Triangles.kTrussConverged(edges, "u", "v", k = 4)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getLong(2))).toMap
    assert(conv.keySet === fix, "converged edge set = local fixpoint")
    fix.foreach(e => assert(conv(e) === fixSup(e), s"support of $e"))
    spark.catalog.clearCache()
  }

  test("kTrussConverged equals bounded kTruss on an already-stable graph") {
    // planted K5 + K4 stabilize in one round; fixpoint mode must agree
    // with the bounded peel exactly (set AND supports)
    val k5 = for { i <- 1L to 5L; j <- (i + 1) to 5L } yield (i, j)
    val k4 = for { i <- 11L to 14L; j <- (i + 1) to 14L } yield (i, j)
    val edges = (k5 ++ k4 ++ Seq((5L, 11L), (14L, 20L))).toDF("u", "v")
    val a = Triangles.kTruss(edges, "u", "v", k = 4, rounds = 2)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getLong(2))).toMap
    val b = Triangles.kTrussConverged(edges, "u", "v", k = 4)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getLong(2))).toMap
    assert(a === b)
    spark.catalog.clearCache()
  }

  test("incremental peel equals the full-recompute reference and the local model") {
    // seeded random graphs — the incremental decrement identity
    // S_{G∖D}(e) = S_G(e) − lost-triangles(e) must reproduce the
    // full-per-round recompute EXACTLY (set and supports), across
    // multi-round cascades that the generator produces organically;
    // also drive the large-delta fallback branch (maxDeltaBroadcast=0:
    // EVERY round recomputes) and the mixed regime (=2)
    val rnd = new scala.util.Random(41)
    for (trial <- 1 to 3) {
      val n = 18
      val raw = (for {
        u <- 0L until n; v <- (u + 1) until n
        if rnd.nextDouble() < 0.33
      } yield (u, v)).toSeq
      val edges = raw.toDF("u", "v")
      val (fix, fixSup, _) = localTruss(raw.toSet, k = 4)
      val inc = Triangles.kTrussConverged(edges, "u", "v", k = 4)
        .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getLong(2))).toMap
      val ref = Triangles.kTrussConvergedReference(edges, "u", "v", k = 4)
        .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getLong(2))).toMap
      assert(inc === ref, s"trial $trial: incremental != full-recompute reference")
      assert(inc.keySet === fix, s"trial $trial: edge set != local model")
      fix.foreach(e => assert(inc(e) === fixSup(e), s"trial $trial support of $e"))
      val forcedFull = Triangles.kTrussConverged(edges, "u", "v", k = 4,
          maxDeltaBroadcast = 0L)
        .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getLong(2))).toMap
      assert(forcedFull === inc, s"trial $trial: fallback branch diverges")
      val mixed = Triangles.kTrussConverged(edges, "u", "v", k = 4,
          maxDeltaBroadcast = 2L)
        .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getLong(2))).toMap
      assert(mixed === inc, s"trial $trial: mixed-dispatch run diverges")
      // the BOUNDED peel runs on the same incremental loop: pin it
      // against the full-recompute bounded reference at rounds = 2
      val bInc = Triangles.kTruss(edges, "u", "v", k = 4, rounds = 2)
        .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getLong(2))).toMap
      val bRef = Triangles.kTrussReference(edges, "u", "v", k = 4, rounds = 2)
        .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getLong(2))).toMap
      assert(bInc === bRef, s"trial $trial: bounded incremental != reference")
    }
    spark.catalog.clearCache()
  }

  test("bounded stop on a fallback round keeps zero-support survivors") {
    // the review-finding scenario: triangle chain {1,2,3},{2,3,4} —
    // round 1 (k=4) drops the four support-1 edges, leaving (2,3) with
    // its support decremented to 0. A bounded rounds=1 peel must emit
    // (2,3, support 0) like the full-recompute reference does, in BOTH
    // dispatch regimes: the delta branch (default) and the large-delta
    // FALLBACK branch (maxDeltaBroadcast=0), whose original inner
    // support join dropped the zero-support survivor one round early.
    val edges = Seq((1L, 2L), (1L, 3L), (2L, 3L), (2L, 4L), (3L, 4L)).toDF("u", "v")
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => ((r.getLong(0), r.getLong(1)), r.getLong(2))).toMap
    val ref = rows(Triangles.kTrussReference(edges, "u", "v", k = 4, rounds = 1))
    assert(ref === Map((2L, 3L) -> 0L), s"reference shape changed: $ref")
    val delta = rows(Triangles.kTruss(edges, "u", "v", k = 4, rounds = 1))
    val fallback = rows(Triangles.kTruss(edges, "u", "v", k = 4, rounds = 1,
      maxDeltaBroadcast = 0L))
    assert(delta === ref, "delta branch drops the zero-support survivor")
    assert(fallback === ref, "fallback branch drops the zero-support survivor")
    spark.catalog.clearCache()
  }

  test("wedge-count gate: a hub-heavy small delta falls back, output unchanged") {
    // the round-10 advice scenario: dCount alone under-gates the
    // broadcast, because a couple of dropped edges touching a hub spawn
    // wedge candidates ∝ the hub's degree. K5 (survives 4-truss) + hub
    // edges 100-{1..5} (each in >= 4 triangles, survive) + the pendant
    // triangle {1,100,200}: edges (1,200) and (100,200) have support 1
    // < threshold, so round 1 drops exactly those two (dCount=2 <= cap
    // 3) — but their wedge candidates run through hub 100 (degree 7)
    // and vertex 1 (degree 7), ~12 wedges > cap 3, so the round must
    // take the NEW wedge-gated fallback — and produce exactly the
    // reference peel either way.
    val k5 = for { i <- 1L to 5L; j <- (i + 1) to 5L } yield (i, j)
    val hub = (1L to 5L).map(i => (i, 100L))
    val edges = (k5 ++ hub ++ Seq((100L, 200L), (1L, 200L))).toDF("u", "v")
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => ((r.getLong(0), r.getLong(1)), r.getLong(2))).toMap
    val ref = rows(Triangles.kTrussConvergedReference(edges, "u", "v", k = 4))
    // cap 3 trips the wedge gate → DISTRIBUTED mid-tier (round 13)
    val wedgeGated = rows(Triangles.kTrussConverged(edges, "u", "v", k = 4,
      maxDeltaBroadcast = 3L))
    // both gates tripped → full-recompute tier
    val recomputeTier = rows(Triangles.kTrussConverged(edges, "u", "v", k = 4,
      maxDeltaBroadcast = 3L, maxDeltaDistributed = 3L))
    val deltaPath = rows(Triangles.kTrussConverged(edges, "u", "v", k = 4))
    assert(wedgeGated === ref, "distributed mid-tier diverges from reference")
    assert(recomputeTier === ref, "wedge-gated fallback diverges from reference")
    assert(deltaPath === ref, "delta path diverges from reference")
    assert(ref.contains((1L, 100L)) && !ref.contains((100L, 200L)),
      s"fixture lost its shape: $ref")
    spark.catalog.clearCache()
  }

  test("requireConverged: outrunning the round budget throws, converging within it returns") {
    // triangle chain {1,2,3},{2,3,4} needs 2 peel rounds + the
    // fixpoint-confirming round (3 loop iterations). maxRounds=2 with
    // requireConverged must THROW (the oracle-unroll contract: a peel
    // deeper than the unrolled replay is a loud dump-time error, not a
    // silent hash mismatch); maxRounds=3 converges and returns empty.
    val edges = Seq((1L, 2L), (1L, 3L), (2L, 3L), (2L, 4L), (3L, 4L)).toDF("u", "v")
    val e = intercept[IllegalStateException] {
      Triangles.kTrussConverged(edges, "u", "v", k = 4, maxRounds = 2,
        requireConverged = true).collect()
    }
    assert(e.getMessage.contains("fixpoint"), e.getMessage)
    val ok = Triangles.kTrussConverged(edges, "u", "v", k = 4, maxRounds = 3,
      requireConverged = true).collect()
    assert(ok.isEmpty, s"cascade should empty the graph, got ${ok.mkString(",")}")
    // without the flag, the bound-hit run still RETURNS the round-2
    // state (bounded-peel semantics unchanged — here the cascade has
    // already emptied the graph by round 2)
    val bounded = Triangles.kTrussConverged(edges, "u", "v", k = 4, maxRounds = 2)
      .collect()
    assert(bounded.isEmpty,
      s"2 peel rounds empty this graph; got ${bounded.mkString(",")}")
    spark.catalog.clearCache()
  }

  test("kTruss peeling cascades: removing weak edges can strip later rounds") {
    // triangle chain: {1,2,3} and {2,3,4} share edge (2,3); edge (3,4) and
    // (2,4) support 1, (2,3) support 2. k=4 (threshold 2): round 1 drops
    // all support-1 edges, leaving (2,3) with no triangles; round 2 drops
    // everything (an edge needs sup >= 2 but has 0 after the cascade).
    val edges = Seq((1L, 2L), (1L, 3L), (2L, 3L), (2L, 4L), (3L, 4L)).toDF("u", "v")
    val out = Triangles.kTruss(edges, "u", "v", k = 4, rounds = 2).collect()
    assert(out.isEmpty, s"cascade should empty the graph, got ${out.mkString(",")}")
    spark.catalog.clearCache()
  }
}
