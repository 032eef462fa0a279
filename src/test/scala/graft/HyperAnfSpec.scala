package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.analytics.HyperAnf

/** HyperANF: register-exact agreement with a single-node reference
  * (same md5 hashes, same trailing-zero rho, same register-MAX
  * rounds), estimator accuracy against the exact neighbourhood
  * function, and effective-diameter shape on a known graph.
  */
class HyperAnfSpec extends AnyFunSuite {
  import TestSpark.spark
  import spark.implicits._

  /** Barbell: two 5-cliques joined by a 3-edge path — diameter 5,
    * reach saturates by round 5.
    */
  private val barbell: Seq[(Long, Long)] = {
    val c1 = for (a <- 0L to 4L; b <- (a + 1) to 4L) yield (a, b)
    val c2 = for (a <- 10L to 14L; b <- (a + 1) to 14L) yield (a, b)
    (c1 ++ c2 ++ Seq((4L, 7L), (7L, 8L), (8L, 10L))).toSeq
  }

  private def md5Base60Local(s: String): Long = {
    val d = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8"))
    java.lang.Long.parseLong(
      d.map(b => f"$b%02x").mkString.substring(0, 15), 16)
  }

  /** Pure-Scala register reference: same hash, bucket, rho, and MAX
    * flow as the distributed operator.
    */
  private def localRegisters(edges: Seq[(Long, Long)],
                             rounds: Int): Map[Long, Map[Long, Long]] = {
    val sym = edges.flatMap { case (a, b) => Seq((a, b), (b, a)) }
      .filter { case (a, b) => a != b }.distinct
    val nodes = sym.map(_._1).distinct
    def rho(w: Long): Long =
      if (w == 0L) 56L
      else math.min(java.lang.Long.numberOfTrailingZeros(w) + 1L, 56L)
    var regs: Map[Long, Map[Long, Long]] = nodes.map { n =>
      val h = md5Base60Local(s"hanf:$n")
      n -> Map((h % 16) -> rho(h / 16))
    }.toMap
    for (_ <- 1 to rounds) {
      val nbrs = sym.groupBy(_._1).view.mapValues(_.map(_._2)).toMap
      regs = nodes.map { n =>
        val merged = (nbrs(n).map(regs) :+ regs(n))
          .flatten.groupBy(_._1).view.mapValues(_.map(_._2).max).toMap
        n -> merged
      }.toMap
    }
    regs
  }

  test("distributed registers equal the single-node reference per round") {
    val edges = barbell.toDF("item_a", "item_b")
    val e = graft.analytics.GraphEdges
      .symmetricDistinct(edges, "item_a", "item_b")
    for (rounds <- Seq(1, 3)) {
      var regs = HyperAnf.registers0(
        e.select($"src".as("node")).distinct())
      for (_ <- 1 to rounds) regs = HyperAnf.step(regs, e)
      val got = regs.collect()
        .groupBy(_.getLong(0))
        .map { case (n, rs) =>
          n -> rs.map(r => r.getLong(1) -> r.getLong(2)).toMap }
      assert(got === localRegisters(barbell, rounds), s"rounds=$rounds")
    }
    spark.catalog.clearCache()
  }

  test("systolic delta rounds equal the full-propagation step, every round") {
    val edges = barbell.toDF("item_a", "item_b")
    val e = graft.analytics.GraphEdges
      .symmetricDistinct(edges, "item_a", "item_b")
    val r0 = graft.Caching.checkpointed(
      HyperAnf.registers0(e.select($"src".as("node")).distinct()))
    var full = r0
    var regs = r0
    var delta = r0
    // barbell diameter is 5: rounds past it have EMPTY deltas — the
    // regime the systolic step exists for — and must still agree.
    // Checkpoint each round exactly like the production loops: regs_t
    // references the delta_t subtree twice (anti-join + union), so an
    // uncheckpointed chain re-expands combinatorially.
    for (t <- 1 to 6) {
      full = graft.Caching.checkpointed(HyperAnf.step(full, e))
      val (nr, nd) = HyperAnf.stepDelta(regs, delta, e)
      regs = graft.Caching.checkpointed(nr)
      delta = graft.Caching.checkpointed(nd)
      val a = full.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      val b = regs.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      assert(a === b, s"round $t: systolic != full")
    }
    assert(delta.isEmpty, "past the diameter the frontier must be empty")
    spark.catalog.clearCache()
  }

  test("stepCombined regs equal step and its free delta equals stepDelta's") {
    val edges = barbell.toDF("item_a", "item_b")
    val e = graft.analytics.GraphEdges
      .symmetricDistinct(edges, "item_a", "item_b")
    val r0 = graft.Caching.checkpointed(
      HyperAnf.registers0(e.select($"src".as("node")).distinct()))
    var full = r0
    var regs = r0
    var delta = r0
    // rounds past the diameter (5) exercise the empty-delta regime too
    for (t <- 1 to 6) {
      val combined = graft.Caching.checkpointed(
        HyperAnf.stepCombined(full, e))
      val (_, nd) = HyperAnf.stepDelta(regs, delta, e)
      regs = graft.Caching.checkpointed(HyperAnf.combinedRegs(combined))
      delta = graft.Caching.checkpointed(nd)
      full = regs
      val gotRegs = regs.collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      val gotDelta = HyperAnf.combinedDelta(combined).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      val sysDelta = delta.collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      assert(gotDelta === sysDelta, s"round $t: combined delta != systolic delta")
      // registers: combined must equal the single-node reference rounds
      val refSet = localRegisters(barbell, t).flatMap { case (n, m) =>
        m.map { case (j, r) => (n, j, r) } }.toSet
      assert(gotRegs === refSet, s"round $t: combined regs != reference")
    }
    assert(delta.isEmpty, "past the diameter the frontier must be empty")
    spark.catalog.clearCache()
  }

  test("wide register layout equals the row layout, round by round") {
    // the production wide loop (16 register COLUMNS) must reproduce the
    // sparse row-layout reference EXACTLY: registers (via wideToRows),
    // the free delta, and the row-local per-node estimates, for both
    // the full (stepCombinedWide) and systolic (stepDeltaWide) branches,
    // past the diameter into the empty-frontier regime
    val edges = barbell.toDF("item_a", "item_b")
    val e = graft.analytics.GraphEdges
      .symmetricDistinct(edges, "item_a", "item_b")
    val nodes = e.select($"src".as("node")).distinct()
    var rowRegs = graft.Caching.checkpointed(HyperAnf.registers0(nodes))
    var wide = graft.Caching.checkpointed(HyperAnf.registers0Wide(nodes))
    var wideDelta = wide
    def rowsOf(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(rowsOf(HyperAnf.wideToRows(wide)) === rowsOf(rowRegs),
      "round 0: wide init != row init")
    for (t <- 1 to 6) {
      val rowNext = graft.Caching.checkpointed(HyperAnf.step(rowRegs, e))
      val full = graft.Caching.checkpointed(HyperAnf.stepCombinedWide(wide, e))
      val sys = HyperAnf.stepDeltaWide(wide, wideDelta, e)
      assert(rowsOf(HyperAnf.wideToRows(HyperAnf.wideRegs(full))) ===
        rowsOf(rowNext), s"round $t: wide full regs != row step")
      assert(rowsOf(HyperAnf.wideToRows(HyperAnf.wideRegs(sys))) ===
        rowsOf(rowNext), s"round $t: wide systolic regs != row step")
      // deltas agree between the two wide branches (changed node sets)
      val fd = HyperAnf.wideDelta(full).select("node").as[Long].collect().toSet
      val sd = HyperAnf.wideDelta(sys).select("node").as[Long].collect().toSet
      assert(fd === sd, s"round $t: full vs systolic changed sets differ")
      // row-local estimates equal the row-layout groupBy estimates
      val er = perNodeEstRows(rowNext)
      val ew = HyperAnf.perNodeEstimatesWide(HyperAnf.wideRegs(full))
        .collect().map { r =>
          val est = r.get(1) match {
            case d: java.math.BigDecimal => d.longValueExact()
            case l: java.lang.Long => l.longValue()
          }
          (r.getLong(0), est)
        }.toMap
      assert(ew === er, s"round $t: wide estimates != row estimates")
      wideDelta = graft.Caching.checkpointed(HyperAnf.wideDelta(full))
      wide = graft.Caching.checkpointed(HyperAnf.wideRegs(full))
      rowRegs = rowNext
    }
    assert(wideDelta.isEmpty, "past the diameter the wide frontier must be empty")
    spark.catalog.clearCache()
  }

  private def perNodeEstRows(regs: org.apache.spark.sql.DataFrame)
      : Map[Long, Long] =
    HyperAnf.perNodeEstimates(regs)
      .collect().map { r =>
        val est = r.get(1) match {
          case d: java.math.BigDecimal => d.longValueExact()
          case l: java.lang.Long => l.longValue()
        }
        (r.getLong(0), est)
      }.toMap

  test("frontier guard: both dispatch branches yield the identical curve") {
    val edges = barbell.toDF("item_a", "item_b")
    // switchFrac = 0.0 forces the FULL branch every round; 1.0 forces
    // the SYSTOLIC branch (frontier <= state always); the default mixes.
    val full = HyperAnf.nfCurve(edges, "item_a", "item_b", rounds = 6,
      switchFrac = 0.0)
    val sys = HyperAnf.nfCurve(edges, "item_a", "item_b", rounds = 6,
      switchFrac = 1.0)
    val auto = HyperAnf.nfCurve(edges, "item_a", "item_b", rounds = 6)
    assert(full === sys, "full-branch curve != systolic-branch curve")
    assert(full === auto, "guarded curve != forced curves")
    spark.catalog.clearCache()
  }

  test("frontier guard: closeness identical under both forced branches") {
    val edges = barbell.toDF("item_a", "item_b")
    def rows(sf: Double) = graft.analytics.HyperAnf.closenessTopK(
        edges, "item_a", "item_b", rounds = 6, k = 13, switchFrac = sf)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(rows(0.0) === rows(1.0))
    spark.catalog.clearCache()
  }

  test("nf curve tracks the exact neighbourhood function") {
    val edges = barbell.toDF("item_a", "item_b")
    val out = HyperAnf.effectiveDiameterFromCurve(spark,
        HyperAnf.nfCurve(edges, "item_a", "item_b", 6))
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getBoolean(2)))
      .sortBy(_._1)
    // exact N(t) by BFS over the 13-node barbell
    val sym = barbell.flatMap { case (a, b) => Seq(a -> b, b -> a) }
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val nodes = sym.keySet
    def ball(v: Long, t: Int): Set[Long] =
      (0 until t).foldLeft(Set(v))((s, _) => s ++ s.flatMap(sym))
    val exact = (0 to 6).map(t => nodes.toSeq.map(v => ball(v, t).size).sum)
    out.foreach { case (t, nf, _) =>
      val ex = exact(t)
      // m=16 registers: generous ±50% envelope; LC keeps small balls tight
      assert(nf >= ex / 2 && nf <= ex * 2, s"t=$t nf=$nf exact=$ex")
    }
    // monotone saturation: the final two rounds agree (diameter 5 < 6)
    assert(out(5)._2 === out(6)._2)
    // reached_90 is monotone in t and true at the final round
    assert(out.last._3)
    val flags = out.map(_._3)
    assert(flags.zip(flags.tail).forall { case (a, b) => !a || b })
    spark.catalog.clearCache()
  }

  test("spid: a clique's distance distribution is exactly degenerate") {
    // K5: every distance is 1, so ALL mass sits at t = 1 regardless of
    // estimator noise (registers are stable from round 1 on) — mean is
    // exactly 1000 milli, variance and spid exactly 0
    val k5 = (for (a <- 0L to 4L; b <- (a + 1) to 4L) yield (a, b))
      .toSeq.toDF("item_a", "item_b")
    val r = graft.analytics.HyperAnf.distanceStats(k5, "item_a", "item_b",
      rounds = 3).collect()(0)
    assert(r.getLong(0) === 1000L)
    assert(r.getLong(1) === 0L)
    assert(r.getLong(2) === 0L)
    spark.catalog.clearCache()
  }

  test("spid: barbell mean distance and dispersion are plausible") {
    val edges = barbell.toDF("item_a", "item_b")
    val r = graft.analytics.HyperAnf.distanceStats(edges, "item_a", "item_b",
      rounds = 6).collect()(0)
    // exact mean distance of the barbell is ~2.36; ±50% estimator envelope
    assert(r.getLong(0) >= 1200 && r.getLong(0) <= 3600, s"mean=${r.getLong(0)}")
    assert(r.getLong(1) >= 0, "variance is non-negative")
    assert(r.getLong(2) >= 0, "spid is non-negative")
    spark.catalog.clearCache()
  }

  test("HyperBall closeness ranks the star hub first") {
    // star K1,8: the hub reaches everything at distance 1; leaves pay
    // distance 2 to each other — Lin's index must put the hub on top
    val star = (1L to 8L).map(l => (0L, l)).toDF("item_a", "item_b")
    val rows = graft.analytics.HyperAnf.closenessTopK(
        star, "item_a", "item_b", rounds = 3, k = 9)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(rows.nonEmpty && rows.head._1 === 0L,
      s"top=${rows.take(3).mkString(",")}")
    // every surviving node reaches the whole 9-node star (±estimator
    // envelope); per-leaf values DIFFER (an estimate depends on which
    // node hashes fall in the ball), and a leaf whose zero-register
    // count never moves has smass = 0 and is rightly excluded
    rows.foreach { case (_, reach, lin) =>
      assert(reach >= 4 && reach <= 18, s"reach=$reach")
      assert(lin > 0)
    }
    spark.catalog.clearCache()
  }

  test("HyperBall closeness on the barbell prefers the bridge side") {
    val edges = barbell.toDF("item_a", "item_b")
    val rows = graft.analytics.HyperAnf.closenessTopK(
        edges, "item_a", "item_b", rounds = 6, k = 13)
      .collect().map(r => (r.getLong(0), r.getLong(2)))
    // nodes whose LC zero-register count never moves fold to smass = 0
    // and drop; most of the 13 must survive
    assert(rows.size >= 9 && rows.size <= 13, s"n=${rows.size}")
    // the path nodes (7, 8) sit between the cliques: exact closeness
    // puts them and the clique bridgeheads (4, 10) ahead of the deep
    // clique nodes; with estimator noise, at least assert the top-4
    // contains no non-bridgehead clique node's WORST competitor — i.e.
    // the global top node is one of the four central vertices
    assert(Set(4L, 7L, 8L, 10L).contains(rows.head._1),
      s"top=${rows.take(4).mkString(",")}")
    spark.catalog.clearCache()
  }

  test("estimated effective diameter lands near the exact d90") {
    val edges = barbell.toDF("item_a", "item_b")
    val out = HyperAnf.effectiveDiameterFromCurve(spark,
        HyperAnf.nfCurve(edges, "item_a", "item_b", 6))
      .collect().map(r => (r.getInt(0), r.getBoolean(2))).sortBy(_._1)
    val estD90 = out.find(_._2).get._1
    // exact d90 of the barbell (N(t)/N(6) ≥ 0.9 first at t = 4)
    assert(estD90 >= 3 && estD90 <= 5, s"estD90=$estD90")
    spark.catalog.clearCache()
  }
}
