package graft.analytics

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** HyperANF (Boldi, Rosa & Vigna, WWW'11): the neighbourhood function
  * N(t) = Σ_v |ball(v, t)| estimated by per-node HyperLogLog counters
  * that are register-wise MAXed along edges each round, and from it the
  * 90% effective diameter — the global-distance summary that
  * complements the exact-but-landmark-bounded [[Betweenness]] /
  * [[Harmonic]] views (reference scope: iistatiehh/FilmDataWareHouse
  * has no graph surface; this extends the co-bought item graph family).
  *
  * Register discipline (the part that makes the DuckDB oracle
  * register-EXACT rather than estimator-vs-own-exact like
  * `q_hll_rollup`): node hashes are md5-derived 60-bit integers
  * ([[graft.dedup.Dedup.md5Base60]] of "hanf:node"), bucket = low 4
  * bits (m = 16 registers), and the geometric value is the TRAILING
  * -zero count of the remaining 56 bits plus one —
  * `bit_count((w & -w) - 1) + 1`, a pure integer-bit identity both
  * engines evaluate identically (no float log2), capped at 56 so the
  * w = 0 corner stays in range. The estimator is integer-exact too:
  * Z4 = Σ_j 2^(56-M_j) ≤ 16·2^56 holds in BIGINT, the raw estimate is
  * one DECIMAL(38,0) integral division
  * (⌊α₁₆·m²·2^56·1000 / Z4⌋ micro-units), and the small-range linear
  * -counting branch reads m·ln(m/V) from a 16-entry literal table
  * computed ONCE in Scala and embedded in both engines' plans — so
  * every register, estimate, and the d90 flag replay bit-for-bit.
  *
  * Scale shape: the production round loop ([[runRoundsWide]]) stores
  * all m = 16 registers as COLUMNS (one row per node), so the dominant
  * edge join carries |E| rows — not |E|·registers — and the per-node
  * estimate is a row-local projection; rounds dispatch on the MEASURED
  * frontier fraction: the cheap full union-agg ([[stepCombinedWide]],
  * which yields the round's delta for free) while most registers are
  * still flowing, the SYSTOLIC delta ([[stepDeltaWide]]) once the
  * frontier drops below [[SystolicSwitchFrac]], and an empty frontier
  * short-circuits the remaining rounds outright (the fixpoint is
  * exact). The sparse row layout ([[registers0]]/[[step]]/
  * [[stepDelta]]/[[stepCombined]]) is the spec-pinned REFERENCE the
  * wide rounds are differentially checked against. All shuffles are
  * key-partitioned, sized ≤ |V|·m, never |V|². Rounds are
  * lineage-truncated with the BFS/PageRank checkpoint discipline.
  */
object HyperAnf {

  /** Registers per counter (m = 2^4). */
  val M = 16

  /** round(10^6 · ln(M / V)) for V = 1..M — the linear-counting table,
    * shared verbatim by the Spark plan and the DuckDB oracle.
    */
  val LcMicro: IndexedSeq[Long] =
    (1 to M).map(v => Math.round(1e6 * Math.log(M.toDouble / v)))

  /** ⌊α₁₆ · m² · 1000 · 2^56⌋ with α₁₆ = 0.673: the raw-estimate
    * numerator in micro-units over the Z4 scale.
    */
  val RawNumer: BigInt = BigInt(673L * 256L * 1000L) * BigInt(2).pow(56)

  private val TwoPow56 = 72057594037927936L

  /** Initial sparse registers: each node contributes its own hash —
    * (node, j, r) with j the low-4-bit bucket and r the trailing-zero
    * geometric value of the high 56 bits. Absent (node, j) pairs are
    * register value 0.
    */
  def registers0(nodes: DataFrame): DataFrame =
    nodes
      .withColumn("__h",
        graft.dedup.Dedup.md5Base60(
          concat(lit("hanf:"), col("node").cast("string"))))
      .select(col("node"), pmod(col("__h"), lit(M.toLong)).as("j"),
        expr("least(bit_count(((__h div 16) & -(__h div 16)) - 1) + 1, 56)")
          .cast("long").as("r"))

  /** One HyperANF round: registers flow along edges and MAX per
    * (node, register) — B_{t+1}(v) = B_t(v) ∪ ⋃_{(v,w)∈E} B_t(w).
    * The full-propagation reference; the round loops run the systolic
    * [[stepDelta]], differentially pinned against this in HyperAnfSpec.
    */
  def step(regs: DataFrame, e: DataFrame): DataFrame = {
    val fromNbrs = e.join(regs.withColumnRenamed("node", "dst"), "dst")
      .select(col("src").as("node"), col("j"), col("r"))
    regs.unionByName(fromNbrs)
      .groupBy("node", "j").agg(max("r").as("r"))
  }

  /** One SYSTOLIC round (Boldi, Rosa & Vigna §4.1): only registers that
    * CHANGED last round flow along edges — the BFS frontier discipline
    * applied to register propagation. A register (w, j) that kept its
    * round-(t−1) value already delivered that value to every neighbour
    * at round t−1 (each neighbour's register is ≥ it), so re-sending it
    * cannot raise anything: propagating the delta alone reproduces the
    * full [[step]] fixpoint sequence EXACTLY, round by round.
    *
    * WHEN to use it: only once the frontier is SMALL. Round-8 isolated
    * bench proved the delta round is a net LOSS while most registers
    * are still flowing (q_hyperball_closeness 8.2 s → 14.9 s): the
    * left_outer + left_anti state maintenance against the full |V|·m
    * relation costs more than the single union-agg of the full step,
    * and the measured frontier on the co-bought graph is ≥91% for
    * rounds 1–2 then 0.2%→0 after (`PLANS.md` round-8 note). The round
    * loops therefore dispatch on the MEASURED frontier fraction
    * ([[runRoundsWide]]): the full combined step while frontier/state >
    * `switchFrac`, systolic below, exact short-circuit at zero.
    *
    * Returns (nextRegs, nextDelta). Scale shape per round:
    *  - edges⋈delta — the dominant |E|-side join now carries only the
    *    frontier (late rounds touch a tiny fraction of registers; the
    *    full step shipped all |V|·m rows through it every round);
    *  - one hash agg over the incoming frontier (pre-combining incoming
    *    maxima BEFORE touching the state relation);
    *  - a left-anti + union state update on (node, j) — both sides are
    *    already hash-partitioned on (node, j) from their producing
    *    aggregates, so the exchanges are reusable and the update never
    *    re-shuffles the full register relation.
    */
  def stepDelta(regs: DataFrame, delta: DataFrame,
                e: DataFrame): (DataFrame, DataFrame) = {
    val incoming = e.join(delta.withColumnRenamed("node", "dst"), "dst")
      .select(col("src").as("node"), col("j"), col("r"))
      .groupBy("node", "j").agg(max("r").as("__rin"))
    val nextDelta = incoming
      .join(regs.withColumnRenamed("r", "__rold"), Seq("node", "j"), "left_outer")
      .filter(col("__rold").isNull || col("__rin") > col("__rold"))
      .select(col("node"), col("j"), col("__rin").as("r"))
    val nextRegs = regs
      .join(nextDelta.select("node", "j"), Seq("node", "j"), "left_anti")
      .unionByName(nextDelta)
    (nextRegs, nextDelta)
  }

  /** Frontier fraction below which the round loops switch from the full
    * [[stepCombined]] to the systolic [[stepDelta]] — the round-8
    * regression fix: the delta machinery only pays once few registers
    * are still flowing (measured crossover is far above this; 5% is
    * conservative in the cheap direction since a 5%-frontier full step
    * costs about one |V|·m union-agg, not a blowup).
    */
  val SystolicSwitchFrac = 0.05

  /** One FULL round that also yields the round's delta for free: the
    * union is tagged with its origin (own state vs neighbour inflow)
    * and ONE hash agg computes both the new register value max(r) and
    * the node's own previous value max(r | own) — so the changed set
    * falls out as a row-local filter (`__rold` NULL = a register the
    * node never had; r > __rold = raised) with NO extra join. Output
    * columns (node, j, r, __rold); [[combinedRegs]]/[[combinedDelta]]
    * derive the two relations from the ONE checkpointed result.
    * Register semantics are EXACTLY [[step]]'s (same union, same max);
    * the delta definition is EXACTLY [[stepDelta]]'s nextDelta —
    * pinned per round in HyperAnfSpec.
    */
  private[graft] def stepCombined(regs: DataFrame, e: DataFrame): DataFrame = {
    val own = regs.select(col("node"), col("j"), col("r"),
      lit(true).as("__own"))
    val fromNbrs = e.join(regs.withColumnRenamed("node", "dst"), "dst")
      .select(col("src").as("node"), col("j"), col("r"),
        lit(false).as("__own"))
    own.unionByName(fromNbrs)
      .groupBy("node", "j")
      .agg(max("r").as("r"),
        max(when(col("__own"), col("r"))).as("__rold"))
  }

  private[graft] def combinedRegs(c: DataFrame): DataFrame =
    c.select("node", "j", "r")

  private[graft] def combinedDelta(c: DataFrame): DataFrame =
    c.filter(col("__rold").isNull || col("r") > col("__rold"))
      .select("node", "j", "r")

  // ------------------------------------------------------------------
  // WIDE register layout — the production round loop.
  //
  // The sparse row layout above ((node, j, r), absent = 0) is the
  // readable REFERENCE the specs and the DuckDB oracle replay are
  // written against, but it pays per-ROW overhead m times per node:
  // the dominant edges⋈registers join carries |E|·(registers/node)
  // rows and the round aggregate hashes |V|·m keys. The wide layout
  // stores all m = 16 registers as COLUMNS (r0..r15, 0 = absent), so
  //  - the edge join carries exactly |E| rows (16× fewer at saturation),
  //  - the round aggregate hashes |V| keys with 16 codegen'd max()s,
  //  - the per-node HLL estimate needs NO groupBy at all — it becomes a
  //    row-local projection (np/z4/raw/LC-branch all in one codegen
  //    stage) — and the per-round N(t) is one sum over |V| rows.
  // Register VALUES are identical to the row layout round by round
  // (same md5 init, same max-propagation semantics) — spec-pinned by
  // exploding wide state against the row-layout sequence, and the
  // nfCurve/closeness end outputs are pinned against the single-node
  // reference model and the register-exact DuckDB replay unchanged.
  // ------------------------------------------------------------------

  private val RegCols: IndexedSeq[String] = (0 until M).map(i => s"r$i")

  /** [[registers0]] in wide layout: one row per node, register j from
    * the node's md5 bucket, every other register 0.
    */
  private[graft] def registers0Wide(nodes: DataFrame): DataFrame = {
    val aggs = RegCols.zipWithIndex.map { case (c, i) =>
      max(when(col("j") === i, col("r")).otherwise(lit(0L))).as(c)
    }
    registers0(nodes).groupBy("node").agg(aggs.head, aggs.tail: _*)
  }

  /** One full wide round that also yields the delta for free — the
    * [[stepCombined]] construction on columns: own state and neighbour
    * inflow union (|V| + |E| rows), ONE hash agg computes both the new
    * register max `r$i` and the node's own previous value `o$i`, and
    * `__changed` falls out row-locally (own rows cover every node, so
    * `o$i` is never NULL). Output: (node, r0.., o0.., __changed).
    */
  private[graft] def stepCombinedWide(regs: DataFrame, e: DataFrame): DataFrame = {
    val own = regs.withColumn("__own", lit(true))
    val fromNbrs = e.join(regs.withColumnRenamed("node", "dst"), "dst")
      .select((col("src").as("node") +: RegCols.map(col)) :+
        lit(false).as("__own"): _*)
    val aggs = RegCols.map(c => max(col(c)).as(c)) ++
      RegCols.map(c => max(when(col("__own"), col(c))).as(s"o$c"))
    own.unionByName(fromNbrs)
      .groupBy("node").agg(aggs.head, aggs.tail: _*)
      .withColumn("__changed",
        RegCols.map(c => col(c) > col(s"o$c")).reduce(_ || _))
  }

  /** One systolic wide round: ONLY last round's changed nodes flow
    * along edges (the inflow join carries edges touching the frontier,
    * not |E|), the pre-aggregated inflow maxes LEFT-join back onto the
    * full state, and greatest(own, inflow) is row-local. Correctness is
    * the same systolic argument as [[stepDelta]]: an unchanged node's
    * registers were already delivered to every neighbour. Output shape
    * matches [[stepCombinedWide]] (r$i = next value, __changed).
    */
  private[graft] def stepDeltaWide(regs: DataFrame, delta: DataFrame,
                                   e: DataFrame): DataFrame = {
    val inflow = e.join(delta.withColumnRenamed("node", "dst"), "dst")
      .select(col("src").as("node") +: RegCols.map(col): _*)
    val inAgg = inflow.groupBy("node")
      .agg(RegCols.map(c => max(col(c)).as(s"i$c")).head,
        RegCols.map(c => max(col(c)).as(s"i$c")).tail: _*)
    regs.join(inAgg, Seq("node"), "left_outer")
      .withColumn("__changed",
        RegCols.map(c => coalesce(col(s"i$c"), lit(0L)) > col(c)).reduce(_ || _))
      .select((col("node") +: RegCols.map(c =>
        greatest(col(c), coalesce(col(s"i$c"), lit(0L))).as(c))) :+
        col("__changed"): _*)
  }

  private[graft] def wideRegs(c: DataFrame): DataFrame =
    c.select(col("node") +: RegCols.map(col): _*)

  private[graft] def wideDelta(c: DataFrame): DataFrame =
    c.filter(col("__changed")).select(col("node") +: RegCols.map(col): _*)

  /** Explode wide state back to the sparse row layout ((node, j, r),
    * zero registers omitted) — the differential bridge the spec uses to
    * pin wide rounds against the row-layout reference sequence.
    */
  private[graft] def wideToRows(regs: DataFrame): DataFrame =
    regs.select(col("node"), posexplode(array(RegCols.map(col): _*)))
      .filter(col("col") > 0)
      .select(col("node"), col("pos").cast("long").as("j"), col("col").as("r"))

  /** The guarded round driver (wide layout) — frontier-fraction dispatch
    * (state is |V| rows, frontier is changed NODES), same exact
    * short-circuit at an empty frontier, same checkpoint ownership.
    */
  private[graft] def runRoundsWide(e: DataFrame, rounds: Int,
                                   switchFrac: Double)
                                  (onRound: (DataFrame, Int, Boolean) => Unit)
      : Unit = {
    val nodes = e.select(col("src").as("node")).distinct()
    var owned: Seq[DataFrame] = Nil
    def own(dfs: DataFrame*): Unit = {
      val prev = owned
      owned = dfs.toList
      prev.foreach(graft.Caching.releaseCheckpoint)
    }
    val r0 = graft.Caching.checkpointed(registers0Wide(nodes))
    own(r0)
    var regs = r0
    var delta = r0 // round 1's frontier is every node
    var stateRows = regs.count()
    var frontierRows = stateRows
    onRound(regs, 0, true)
    for (t <- 1 to rounds) {
      if (frontierRows == 0L) {
        onRound(regs, t, false)
      } else {
        val combined = graft.Caching.checkpointed(
          if (frontierRows.toDouble > switchFrac * stateRows)
            stepCombinedWide(regs, e)
          else stepDeltaWide(regs, delta, e))
        regs = wideRegs(combined)
        delta = wideDelta(combined)
        own(combined)
        frontierRows = delta.count()
        onRound(regs, t, frontierRows > 0)
      }
    }
    own() // release the final round's state
  }

  /** [[perNodeEstimates]] on wide registers: a PROJECTION — np, the Z4
    * mass, the raw estimate and the linear-counting branch are all
    * row-local over the 16 register columns; no shuffle at all.
    * Identical integer arithmetic (same literal LC table, the same
    * DECIMAL(38,0) floor division).
    */
  private[graft] def perNodeEstimatesWide(regs: DataFrame): DataFrame = {
    val lcArr = array(LcMicro.map(lit): _*)
    val np = RegCols.map(c => when(col(c) > 0, 1).otherwise(0)).reduce(_ + _)
    val z4 = RegCols.map(c =>
      when(col(c) > 0,
        expr(s"shiftleft(CAST(1 AS BIGINT), CAST(56 - $c AS INT))"))
        .otherwise(lit(TwoPow56))).reduce(_ + _)
    regs.select(col("node"), np.as("__np"), z4.as("__z4"))
      .withColumn("__raw",
        expr(s"CAST('$RawNumer' AS DECIMAL(38,0)) div CAST(__z4 AS DECIMAL(38,0))"))
      .select(col("node"),
        when(col("__np") < M && col("__raw") <= lit(2500000L * M),
          lit(M.toLong) *
            element_at(lcArr, greatest(lit(M) - col("__np").cast("int"), lit(1))))
          .otherwise(col("__raw")).as("est"))
  }

  /** Per-node ball-size estimates in micro-units: the HLL estimate
    * with the literal-table linear-counting branch. (node, est).
    */
  def perNodeEstimates(regs: DataFrame): DataFrame = {
    val lcArr = array(LcMicro.map(lit): _*)
    regs.groupBy("node")
      .agg(count(lit(1)).as("__np"),
        sum(expr("shiftleft(CAST(1 AS BIGINT), CAST(56 - r AS INT))"))
          .as("__zp"))
      .select(col("node"), col("__np"),
        (col("__zp") + (lit(M.toLong) - col("__np")) * lit(TwoPow56))
          .as("__z4"))
      .withColumn("__raw",
        expr(s"CAST('$RawNumer' AS DECIMAL(38,0)) div CAST(__z4 AS DECIMAL(38,0))"))
      .select(col("node"),
        when(col("__np") < M && col("__raw") <= lit(2500000L * M),
          lit(M.toLong) *
            element_at(lcArr, greatest(lit(M) - col("__np").cast("int"), lit(1))))
          .otherwise(col("__raw")).as("est"))
  }

  /** The N(t) curve, t = 0..rounds, in micro-units. Checkpoint each
    * round BEFORE releasing the previous one: regs feeds TWO subtrees
    * per round (neighbor join + union) — the BFS/PageRank lineage
    * discipline. Each round's N(t) is ONE DECIMAL scalar, collected
    * eagerly so only the CURRENT register relation stays resident (the
    * paper's state discipline); the rounds+1-point curve is bounded
    * driver model state (the k-means-centroid pattern).
    */
  def nfCurve(edges: DataFrame, srcCol: String, dstCol: String,
              rounds: Int = 4, canonical: Boolean = false,
              switchFrac: Double = SystolicSwitchFrac,
              symmetric: Boolean = false)
      : Seq[java.math.BigDecimal] = {
    require(rounds >= 1 && rounds <= 8, "rounds must be in [1, 8]")
    val e =
      if (symmetric)
        GraphEdges.symmetricDistinct(edges, srcCol, dstCol, canonical, symmetric)
      else graft.Caching.materialize(
        GraphEdges.symmetricDistinct(edges, srcCol, dstCol, canonical))
    def nfValue(regs: DataFrame): java.math.BigDecimal =
      perNodeEstimatesWide(regs)
        .agg(sum(col("est").cast("decimal(38,0)")).as("nf_micro"))
        .collect()(0).getDecimal(0)
    val curve = scala.collection.mutable.ArrayBuffer.empty[java.math.BigDecimal]
    runRoundsWide(e, rounds, switchFrac) { (regs, t, changed) =>
      // unchanged state ⇒ N(t) = N(t−1) exactly — skip the agg scan
      curve += (if (changed) nfValue(regs) else curve.last)
    }
    e.unpersist()
    curve.toSeq
  }

  /** The neighbourhood-function curve of [[nfCurve]] with the
    * 90%-effective-diameter flag: reached_90 is true from the first t
    * where N(t) ≥ 0.9·N(last) — the smallest such t IS the estimated
    * effective diameter. Taking the curve, not the edges, lets one
    * register iteration feed both this and [[distanceStats]].
    *
    * Output: (t, nf_est, reached_90), t = 0..rounds.
    */
  def effectiveDiameterFromCurve(spark: org.apache.spark.sql.SparkSession,
                                 curve: Seq[java.math.BigDecimal]): DataFrame = {
    // emit whole-unit BIGINT estimates (micro-exact values feed the d90
    // comparison; a DECIMAL(38,0) output column would round-trip as
    // float on the oracle side and break the strict compare)
    val nfFinal = curve.last
    val rows = curve.zipWithIndex.map { case (nf, t) =>
      org.apache.spark.sql.Row(t,
        nf.toBigInteger.divide(java.math.BigInteger.valueOf(1000000L))
          .longValueExact(),
        nf.multiply(java.math.BigDecimal.TEN)
          .compareTo(nfFinal.multiply(java.math.BigDecimal.valueOf(9))) >= 0)
    }
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("t",
        org.apache.spark.sql.types.IntegerType, nullable = false),
      org.apache.spark.sql.types.StructField("nf_est",
        org.apache.spark.sql.types.LongType, nullable = false),
      org.apache.spark.sql.types.StructField("reached_90",
        org.apache.spark.sql.types.BooleanType, nullable = false)))
    spark.createDataFrame(
      spark.sparkContext.parallelize(rows.toSeq, 1), schema)
  }

  /** Distance-distribution summary from the SAME curve (Boldi, Rosa &
    * Vigna's "spid", the shortest-paths index of dispersion): the mass
    * at distance t is m_t = N(t) − N(t−1), and the output is the mean
    * distance, its variance, and spid = variance/mean — spid < 1
    * sub-Poisson ("proper social network"), > 1 web-like. All three are
    * milli-quantized exact integer ratios of the micro-exact masses
    * (mean = 10³·S1 div M, var = 10³·(M·S2 − S1²) div M², spid =
    * 10³·(M·S2 − S1²) div (M·S1) with M = Σm_t, S1 = Σt·m_t,
    * S2 = Σt²·m_t, all divisions FLOORED — masses can dip negative at
    * the LC→raw branch flip, and DuckDB `//` floors where BigInt `/`
    * truncates), computed in arbitrary-precision driver arithmetic
    * on the Spark side; the DuckDB replay squares HUGEINTs, which
    * bounds the ORACLE (not the operator) to ~10¹⁷ reachable pairs.
    * Self-pairs (t = 0) are excluded, the usual convention.
    *
    * Output: one row (mean_dist_milli, var_dist_milli, spid_milli) —
    * NULL when the graph has no positive-distance mass (M = 0) or a
    * degenerate S1 = 0.
    */
  def distanceStats(edges: DataFrame, srcCol: String, dstCol: String,
                    rounds: Int = 4,
                    canonical: Boolean = false): DataFrame =
    distanceStatsFromCurve(edges.sparkSession,
      nfCurve(edges, srcCol, dstCol, rounds, canonical))

  /** spid from an already-computed curve — see
    * [[effectiveDiameterFromCurve]]. */
  def distanceStatsFromCurve(spark: org.apache.spark.sql.SparkSession,
                             rawCurve: Seq[java.math.BigDecimal]): DataFrame = {
    val rounds = rawCurve.size - 1
    val curve = rawCurve.map(d => BigInt(d.toBigInteger))
    val masses = (1 to rounds).map(t => t -> (curve(t) - curve(t - 1)))
    val m = masses.map(_._2).sum
    val s1 = masses.map { case (t, mt) => BigInt(t) * mt }.sum
    val s2 = masses.map { case (t, mt) => BigInt(t) * BigInt(t) * mt }.sum
    // FLOOR division, matching the oracle's DuckDB `//` exactly: BigInt
    // `/` truncates toward zero, and the numerators CAN go negative —
    // a mass m_t = N(t)−N(t−1) dips below zero when a node's estimate
    // crosses the LC→raw branch flip between rounds (LC at V=1 is
    // ~44.4e6 micro, above the 40e6 raw threshold), so trunc-vs-floor
    // would diverge by one milli and break the bit-exact replay.
    def out(num: BigInt, den: BigInt): Any =
      if (den == 0) null
      else {
        val p = BigInt(1000) * num
        val q = p / den
        val f = if (p % den != 0 && (p < 0) != (den < 0)) q - 1 else q
        f.bigInteger.longValueExact()
      }
    val row = org.apache.spark.sql.Row(
      out(s1, m), out(m * s2 - s1 * s1, m * m),
      if (m == 0) null else out(m * s2 - s1 * s1, m * s1))
    val lt = org.apache.spark.sql.types.LongType
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("mean_dist_milli", lt),
      org.apache.spark.sql.types.StructField("var_dist_milli", lt),
      org.apache.spark.sql.types.StructField("spid_milli", lt)))
    spark.createDataFrame(
      spark.sparkContext.parallelize(Seq(row), 1), schema)
  }

  /** HyperBall closeness (Boldi & Vigna, the production use of these
    * counters): per-node approximate total distance
    * S_v = Σ_t t·(b_v(t) − b_v(t−1)) folded INCREMENTALLY — the state
    * carried between rounds is ONE |V|-row (node, prev, smass)
    * relation, never the per-round history — and the ranking is Lin's
    * index, lin = reach² / S (the closeness variant that is
    * monotone-sane on disconnected graphs: a node reaching more mass
    * at the same mean distance ranks higher, instead of an isolated
    * dyad beating the giant component's center). All arithmetic is the
    * same micro-exact integer discipline: lin_milli =
    * ⌊(reach−10⁶)²·1000 / (S·10⁶)⌋ in DECIMAL(38,0) (HUGEINT in the
    * oracle). Unreached self-only nodes (S = 0) are excluded.
    *
    * This is the ALL-nodes scale rung beside the exact-but-landmark-
    * bounded [[Harmonic]]/[[Betweenness]]: k·|V| exact BFS state vs
    * m·|V| sketch state for every node at once.
    *
    * Output: top-`k` rows (node, reach_est, lin_milli), ranked
    * (lin_milli desc, node asc) — plans as TakeOrderedAndProject.
    */
  def closenessTopK(edges: DataFrame, srcCol: String, dstCol: String,
                    rounds: Int = 4, k: Int = 20,
                    canonical: Boolean = false,
                    switchFrac: Double = SystolicSwitchFrac,
                    symmetric: Boolean = false): DataFrame = {
    require(rounds >= 1 && rounds <= 8, "rounds must be in [1, 8]")
    require(k >= 1, "k must be positive")
    // symmetric = true: the shared relation is already checkpointed —
    // don't re-persist the projection per query
    val e =
      if (symmetric)
        GraphEdges.symmetricDistinct(edges, srcCol, dstCol, canonical, symmetric)
      else graft.Caching.materialize(
        GraphEdges.symmetricDistinct(edges, srcCol, dstCol, canonical))
    var acc: DataFrame = null
    runRoundsWide(e, rounds, switchFrac) { (regs, t, changed) =>
      if (t == 0) {
        acc = graft.Caching.checkpointed(perNodeEstimatesWide(regs)
          .select(col("node"), col("est").as("prev"), lit(0L).as("smass")))
      } else if (changed) {
        val nextAcc = graft.Caching.checkpointed(
          acc.join(perNodeEstimatesWide(regs), "node")
            .select(col("node"), col("est").as("prev"),
              (col("smass") + lit(t.toLong) * (col("est") - col("prev")))
                .as("smass")))
        graft.Caching.releaseCheckpoint(acc)
        acc = nextAcc
      }
      // unchanged state ⇒ est = prev for every node ⇒ the smass
      // increment is exactly 0 — the fold skip is exact
    }
    e.unpersist()
    val out = acc.filter(col("smass") > 0)
      .select(col("node"),
        expr("CAST(prev div 1000000 AS BIGINT)").as("reach_est"),
        expr("""CAST(CAST(prev - 1000000 AS DECIMAL(38,0))
               |     * CAST(prev - 1000000 AS DECIMAL(38,0)) * 1000
               |  div (CAST(smass AS DECIMAL(38,0)) * 1000000) AS BIGINT)"""
          .stripMargin.replace("\n", " ")).as("lin_milli"))
      .orderBy(col("lin_milli").desc, col("node").asc)
      .limit(k)
    out
  }

  /** DuckDB twin of [[closenessTopK]]: per-round per-node estimate
    * CTEs, delta masses, HUGEINT Lin arithmetic, deterministic top-k.
    */
  def closenessTopKOracleSql(rounds: Int = 4, k: Int = 20): String = {
    val deltas = (1 to rounds).map { t =>
      s"""SELECT a.node, $t AS t, a.est - b.est AS d
         |FROM pe$t a JOIN pe${t - 1} b USING (node)""".stripMargin
    }.mkString("\nUNION ALL\n")
    s"""WITH ${curveChainSql(rounds)},
       |deltas AS MATERIALIZED (
       |$deltas),
       |sm AS MATERIALIZED (
       |  SELECT node, SUM(t * d) AS smass FROM deltas GROUP BY 1)
       |SELECT s.node,
       |       CAST(p.est // 1000000 AS BIGINT) AS reach_est,
       |       CAST(CAST(p.est - 1000000 AS HUGEINT)
       |              * CAST(p.est - 1000000 AS HUGEINT) * 1000
       |            // (CAST(s.smass AS HUGEINT) * 1000000) AS BIGINT)
       |         AS lin_milli
       |FROM sm s JOIN pe$rounds p USING (node)
       |WHERE s.smass > 0
       |ORDER BY lin_milli DESC, s.node ASC
       |LIMIT $k""".stripMargin
  }

  /** DuckDB twin over the co-bought item graph: the same md5 registers,
    * the same bit-identity rho, rounds unrolled as CTEs, the same
    * literal LC table and DECIMAL integral division — register-exact
    * replay end to end.
    */
  def effectiveDiameterOracleSql(rounds: Int = 4): String =
    s"""WITH ${curveChainSql(rounds)}
       |SELECT c.t, CAST(CAST(c.nf_micro AS HUGEINT) // 1000000 AS BIGINT) AS nf_est,
       |       CAST(c.nf_micro AS HUGEINT) * 10
       |         >= CAST(f.nf_micro AS HUGEINT) * 9 AS reached_90
       |FROM curve c CROSS JOIN (SELECT nf_micro FROM curve WHERE t = $rounds) f""".stripMargin

  /** DuckDB twin of [[distanceStats]] — the same chain, then the
    * integer spid arithmetic in HUGEINT.
    */
  def distanceStatsOracleSql(rounds: Int = 4): String =
    s"""WITH ${curveChainSql(rounds)},
       |m AS (
       |  SELECT c.t,
       |         CAST(c.nf_micro AS HUGEINT) - CAST(p.nf_micro AS HUGEINT) AS mt
       |  FROM curve c JOIN curve p ON p.t = c.t - 1 WHERE c.t >= 1),
       |s AS (SELECT SUM(mt) AS mm, SUM(t * mt) AS s1, SUM(t * t * mt) AS s2 FROM m)
       |SELECT CASE WHEN mm = 0 THEN NULL
       |            ELSE CAST(1000 * s1 // mm AS BIGINT) END AS mean_dist_milli,
       |       CASE WHEN mm = 0 THEN NULL
       |            ELSE CAST(1000 * (mm * s2 - s1 * s1) // (mm * mm) AS BIGINT)
       |       END AS var_dist_milli,
       |       CASE WHEN mm = 0 OR s1 = 0 THEN NULL
       |            ELSE CAST(1000 * (mm * s2 - s1 * s1) // (mm * s1) AS BIGINT)
       |       END AS spid_milli
       |FROM s""".stripMargin

  /** The shared register/round/curve CTE chain (body of the WITH). */
  private def curveChainSql(rounds: Int): String = {
    val lcList = LcMicro.mkString("[", ", ", "]")
    val roundsSql = (1 to rounds).map { k =>
      s"""r$k AS MATERIALIZED (
         |  SELECT node, j, MAX(r) AS r FROM (
         |    SELECT * FROM r${k - 1}
         |    UNION ALL
         |    SELECT e.src AS node, x.j, x.r
         |    FROM e JOIN r${k - 1} x ON x.node = e.dst)
         |  GROUP BY 1, 2)""".stripMargin
    }.mkString(",\n")
    val nfSql = (0 to rounds).map { k =>
      s"""pe$k AS MATERIALIZED (
         |  SELECT node, CASE WHEN np < $M AND raw <= ${2500000L * M}
         |              THEN $M * ($lcList)[greatest($M - np, 1)]
         |              ELSE raw END AS est
         |  FROM (
         |    SELECT node, np,
         |           CAST('$RawNumer' AS HUGEINT)
         |             // (zp + ($M - np) * $TwoPow56) AS raw
         |    FROM (
         |      SELECT node, COUNT(*) AS np,
         |             SUM(1::BIGINT << CAST(56 - r AS INT)) AS zp
         |      FROM r$k GROUP BY 1))),
         |nf$k AS MATERIALIZED (
         |  SELECT $k AS t, CAST(SUM(est) AS DECIMAL(38,0)) AS nf_micro
         |  FROM pe$k)""".stripMargin
    }.mkString(",\n")
    val unionSql = (0 to rounds).map(k => s"SELECT * FROM nf$k")
      .mkString(" UNION ALL ")
    s"""items AS MATERIALIZED (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
       |eh AS MATERIALIZED (
       |  SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
       |  FROM items a JOIN items b
       |    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey),
       |e AS MATERIALIZED (SELECT u AS src, v AS dst FROM eh UNION SELECT v, u FROM eh),
       |h AS MATERIALIZED (
       |  SELECT node,
       |         ('0x' || substring(md5('hanf:' || node::VARCHAR), 1, 15))::BIGINT AS hv
       |  FROM (SELECT DISTINCT src AS node FROM e)),
       |r0 AS MATERIALIZED (
       |  SELECT node, hv % $M AS j,
       |         least(bit_count(((hv // 16) & -(hv // 16)) - 1) + 1, 56) AS r
       |  FROM h),
       |$roundsSql,
       |$nfSql,
       |curve AS MATERIALIZED ($unionSql)""".stripMargin
  }
}
