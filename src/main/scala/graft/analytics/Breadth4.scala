package graft.analytics

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.functions.MoneyFunctions.{cents, cents_sum}

/** Fourth operator-breadth batch: rolling-window distinct actives (the
  * WAU/MAU shape every product warehouse maintains), neighborhood-based
  * link prediction over the co-bought graph (resource-allocation index,
  * Zhou/Lü/Zhang, Eur. Phys. J. B 71:623, 2009 — the 1/deg cousin of
  * Adamic–Adar), and Spearman rank correlation computed from exact
  * integer power sums over doubled average ranks.
  *
  * Determinism contract matches [[Breadth]]..[[Breadth3]]: every
  * cross-engine value is an exact integer (counts, doubled ranks,
  * micro-scaled integer divisions) until at most ONE final IEEE
  * expression; every top-K carries a total order.
  */
object Breadth4 {

  // ------------------------------------------- rolling distinct actives

  /** Rolling `windowDays`-day distinct active users per day — for each
    * day `d` in the observed range, the number of distinct users with at
    * least one event in `[d-windowDays+1, d]`, plus the number of
    * distinct (user, active-day) pairs inside the window.
    *
    * COUNT(DISTINCT) is not a legal sliding-window aggregate (it does
    * not decompose into add/retract), so the engine uses the standard
    * contribution expansion: dedup events to (user, day), explode each
    * active day into the ≤ `windowDays` window-end days it contributes
    * to, and hash-aggregate per window end. Scale: the expansion is a
    * bounded `windowDays`× blowup of the (user, day) relation — itself
    * far smaller than the event stream — and the final aggregate is one
    * shuffle keyed by day with partial distinct aggregation; no window
    * function, no per-day self-join, no data-sized state. Window ends
    * past the last observed day are dropped against a broadcast 1-row
    * bound (partial trailing windows before it are reported, matching
    * the usual dashboard convention).
    */
  def rollingActiveUsers(events: DataFrame, windowDays: Int = 7): DataFrame = {
    require(windowDays >= 1, "windowDays must be positive")
    val userDays = events
      .select(col("user_id"), to_date(col("ts")).as("day"))
      .distinct()
    val bound = events.agg(max(to_date(col("ts"))).as("max_day"))
    userDays
      .select(col("user_id"),
        explode(sequence(col("day"), date_add(col("day"), windowDays - 1)))
          .as("window_end"))
      .join(broadcast(bound), col("window_end") <= col("max_day"))
      .groupBy("window_end")
      .agg(countDistinct(col("user_id")).as("active_users"),
        count(lit(1)).as("user_days"))
  }

  def rollingActiveUsersOracleSql(windowDays: Int = 7): String =
    s"""WITH ud AS (
      |  SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events),
      |mx AS (SELECT MAX(CAST(ts AS DATE)) AS max_day FROM events),
      |contrib AS (
      |  SELECT ud.user_id, ud.day + CAST(t.i AS INTEGER) AS window_end
      |  FROM ud CROSS JOIN range(0, $windowDays) t(i))
      |SELECT c.window_end,
      |       COUNT(DISTINCT c.user_id) AS active_users,
      |       COUNT(*) AS user_days
      |FROM contrib c, mx
      |WHERE c.window_end <= mx.max_day
      |GROUP BY 1""".stripMargin

  /** Scale path of [[rollingActiveUsers]]: per-day HLL sketches merged
    * across each window (`hll_union_agg` — sketches are mergeable, the
    * property that makes sliding distinct counts cheap at corpus scale:
    * the shuffle carries |days|·windowDays SKETCHES instead of
    * |user-days|·windowDays rows). Verdict-style output (the
    * q_hll_rollup contract): each engine asserts its own estimator
    * against its own exact count within `max(5%, 2)`, and the hashed
    * columns are (window_end, exact, boolean) — sketch internals never
    * cross engines.
    */
  def rollingActiveHll(events: DataFrame, windowDays: Int = 7): DataFrame = {
    import org.apache.spark.sql.functions.{abs, hll_sketch_agg,
      hll_sketch_estimate, hll_union_agg}
    val daily = events
      .select(col("user_id"), to_date(col("ts")).as("day"))
      .groupBy("day").agg(hll_sketch_agg(col("user_id")).as("sk"))
    val bound = events.agg(max(to_date(col("ts"))).as("max_day"))
    val approx = daily
      .select(explode(sequence(col("day"), date_add(col("day"), windowDays - 1)))
        .as("window_end"), col("sk"))
      .join(broadcast(bound), col("window_end") <= col("max_day"))
      .groupBy("window_end")
      .agg(hll_sketch_estimate(hll_union_agg(col("sk"))).as("approx_users"))
    rollingActiveUsers(events, windowDays)
      .select("window_end", "active_users")
      .join(approx, "window_end")
      .select(col("window_end"), col("active_users"),
        (abs(col("approx_users") - col("active_users")) <=
          greatest(col("active_users") * 0.05, lit(2.0))).as("sliding_ok"))
  }

  def rollingActiveHllOracleSql(windowDays: Int = 7): String =
    s"""WITH ud AS (
      |  SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events),
      |mx AS (SELECT MAX(CAST(ts AS DATE)) AS max_day FROM events),
      |contrib AS (
      |  SELECT ud.user_id, ud.day + CAST(t.i AS INTEGER) AS window_end
      |  FROM ud CROSS JOIN range(0, $windowDays) t(i)),
      |ex AS (
      |  SELECT c.window_end, COUNT(DISTINCT c.user_id) AS active_users
      |  FROM contrib c, mx WHERE c.window_end <= mx.max_day GROUP BY 1),
      |ap AS (
      |  SELECT c.window_end, approx_count_distinct(c.user_id) AS approx_users
      |  FROM contrib c, mx WHERE c.window_end <= mx.max_day GROUP BY 1)
      |SELECT e.window_end, e.active_users,
      |       abs(a.approx_users - e.active_users)
      |         <= GREATEST(e.active_users * 0.05, 2.0) AS sliding_ok
      |FROM ex e JOIN ap a USING (window_end)""".stripMargin

  // ------------------------------------------------ link prediction

  /** Neighborhood-overlap link prediction over an undirected graph:
    * for every non-adjacent node pair sharing at least `minCommon`
    * neighbors, the common-neighbor count and the resource-allocation
    * index Σ_w 1/deg(w) (Zhou/Lü/Zhang 2009) — the top `k` candidate
    * pairs a "customers who bought X also bought Y" recommender would
    * surface next.
    *
    * Determinism: RA is computed as an exact BIGINT sum of
    * `10^12 div deg(w)` (integer division — no IEEE fold anywhere), so
    * the cross-engine hash compares integers. Wedges through a common
    * neighbor w need deg(w) ≥ 2, so the divisor is never degenerate.
    *
    * Scale: wedge enumeration is the same Σ deg(w)² cost class as
    * triangle counting, joined as two co-partitioned hash joins on the
    * wedge center; `maxWedgeDegree` caps the quadratic blowup through
    * hub nodes (documented lossy skew guard, inert on the fixture graph
    * — hubs contribute ≤ 10^12/maxWedgeDegree per wedge to RA anyway,
    * which is why production link-pred drops them). The existing-edge
    * anti-join and the final top-K (TakeOrderedAndProject) are one
    * shuffle each.
    *
    * The wedge→pair aggregation is the dominant cost: |wedges| rows
    * collapse into |candidate pairs| groups (4.4:1 at sf0.1 — 148M
    * wedges into 33.6M pairs), so the default pre-shuffle partial
    * HashAggregate sees almost no reduction per map partition, falls
    * back to sort-based spill, and burns ~3× the time of the exchange
    * it was meant to save (measured 64 s vs 22 s at sf0.1). We
    * therefore EXCHANGE FIRST on the pair key and let the aggregate
    * run once, co-partitioned, with full reduction. When every node id
    * fits in 31 bits (checked at runtime against the actual id bounds
    * — one max/min scan of the cached edge relation), the pair is
    * packed into a single BIGINT `a<<32|b`, halving shuffle key width
    * and hash cost (16 s vs 22 s measured); wider ids take the same
    * exchange-first plan on the two-column key. The existing-edge
    * anti-join runs on the same packed key, and AQE may broadcast the
    * edge side when its runtime size allows — we do not force it,
    * since |edges| is unbounded at corpus scale.
    *
    * `edges` must be the canonical DISTINCT (src < dst) half-edge
    * relation (the co-bought edges `SparkEntry` builds).
    *
    * ADAPTIVE PAIR-EXCHANGE WIDTH (round 11): the exchange-first shape
    * moves |wedges| rows through one hash exchange, and |wedges| grows
    * with Σ deg² while `spark.sql.shuffle.partitions` stays fixed — the
    * sf1.0 scale probe measured exactly this failure: 1.48B wedge rows
    * over 32 partitions spilled 255 GB per run and bent the cost curve
    * to 17.7× at 10× data (SCALE_PROBE_r11.json; sf0.1 spills zero).
    * The exact wedge count Σ d(d−1)/2 over hub-capped degrees is one
    * node-sized aggregate on the `deg` relation we already build, so
    * the exchange width is computed from it: `wedges / 2M` rows per
    * partition. 2M was CALIBRATED, not guessed: at 8M rows/partition
    * (184 partitions at sf1.0) the post-exchange stage still spilled
    * ~240 GB — the ~1.8M-group hash-agg map (~200 MB) times 32
    * concurrent tasks, next to the anti-join's broadcast build, still
    * exhausts the execution pool and triggers the sort-based agg
    * fallback; at 2M rows (~450K groups, ~40 MB map per task) the
    * fallback can't trigger. Floored at the session shuffle default so
    * small inputs keep their pinned plan (sf0.01 stays at the session
    * width), capped at 4096 (the width a 1000-executor cluster would
    * also use; beyond it per-task scheduling overhead dominates).
    * Downstream stages (the anti-join on the same key) inherit the
    * width via ENSURE_REQUIREMENTS instead of re-exchanging.
    *
    * ADAPTIVE GENERATION WIDTH (round 12): the round-11 fix left one
    * named residual — the wedge-GENERATION stage (the adjacency
    * self-join on the center `w`) still ran at the session width, so at
    * sf1.0 each of its 32 tasks wrote |wedges|/32 ≈ 46M pair rows
    * through the shuffle WRITER's single-pass external sort: the
    * remaining ~62 GB of spill was exactly that writer sort
    * (SCALE_PROBE_r11 postmortem, PLANS.md §Round 11). The same
    * wedge-count-derived width now sizes the adjacency exchange too —
    * when `pairParts` exceeds the session width, `adj` is explicitly
    * repartitioned on `w` to `pairParts`, so generation tasks each emit
    * ~2M pair rows and the writer sort stays in memory. The condition
    * keeps small inputs IDENTICAL to their pinned plans (no explicit
    * exchange is inserted when pairParts == session width), and the
    * hub cap bounds any single center's output at d(d−1)/2 ≤ ~5·10^7,
    * so hash-partitioning by `w` cannot concentrate unbounded skew in
    * one generation task.
    *
    * The wedge count itself is gated on a zero-cost upper bound folded
    * into the id-bounds scan the operator already runs: Σ d(d−1)/2 ≤
    * |E|·(maxWedgeDegree−1), so when that bound cannot push the width
    * past the session floor the counting job is skipped entirely —
    * plan-construction on test fixtures costs one aggregate scan, not
    * two (round-11 advice).
    */
  def linkPrediction(edges: DataFrame, srcCol: String, dstCol: String,
                     k: Int = 50, minCommon: Int = 2,
                     maxWedgeDegree: Int = 10000): DataFrame = {
    val half = edges.select(col(srcCol).cast("long").as("src"),
      col(dstCol).cast("long").as("dst"))
    val sym = half.union(half.select(col("dst").as("src"), col("src").as("dst")))
    val deg = sym.groupBy(col("src").as("w")).agg(count(lit(1)).as("deg"))
    // adjacency with degree on the wedge-center side, hub-capped
    val adj = sym.select(col("src").as("w"), col("dst").as("leaf"))
      .join(deg.filter(col("deg") <= maxWedgeDegree), "w")
      .withColumn("ra_w", expr("cast(1000000000000 as bigint) div deg"))

    // runtime id-bounds probe: one scan of the (cached) edge relation,
    // carrying the edge count so the wedge-count job below can be
    // skipped when its upper bound can't move the width off the floor
    val bounds = edges.agg(
      min(least(col(srcCol), col(dstCol)).cast("long")).as("lo"),
      max(greatest(col(srcCol), col(dstCol)).cast("long")).as("hi"),
      count(lit(1)).as("n")).head()
    val packable = !bounds.isNullAt(0) &&
      bounds.getLong(0) >= 0L && bounds.getLong(1) < (1L << 31)
    val edgeCount = bounds.getLong(2)

    val sessionParts = adj.sparkSession.sessionState.conf.numShufflePartitions
    // Σ d(d−1)/2 ≤ |E|·(dmax−1): if even the bound keeps pairParts at
    // the session floor, don't pay the counting aggregate at all
    val wedgeBound = edgeCount * math.max(1L, maxWedgeDegree - 1L)
    // exact wedge count (node-sized agg over hub-capped degrees) sizes
    // the pair exchange via the house width discipline (Widths: 2M
    // rows/partition, calibrated round 11 — 8M still hit the sort-agg
    // fallback; floored at session width, capped 4096)
    val wedgeCount =
      if (graft.operators.Widths.partitionsFor(wedgeBound, sessionParts) <= sessionParts) 0L
      else deg.filter(col("deg") <= maxWedgeDegree)
        .agg(sum(col("deg") * (col("deg") - 1) / 2).cast("long")).head() match {
          case r if r.isNullAt(0) => 0L
          case r                  => r.getLong(0)
        }
    val pairParts = graft.operators.Widths.partitionsFor(wedgeCount, sessionParts)

    // size the GENERATION stage from the same wedge count: only when the
    // width actually grows (small inputs keep their pinned plan shape)
    val adjW =
      if (pairParts > sessionParts) adj.repartition(pairParts, col("w"))
      else adj
    val wedgeJoin = adjW.alias("a")
      .join(adjW.alias("b"),
        col("a.w") === col("b.w") && col("a.leaf") < col("b.leaf"))

    val scored =
      if (packable) {
        wedgeJoin
          .select((shiftleft(col("a.leaf"), 32) + col("b.leaf")).as("pk"),
            col("a.ra_w").as("ra_w"))
          .repartition(pairParts, col("pk"))
          .groupBy("pk")
          .agg(count(lit(1)).as("common_neighbors"), sum("ra_w").as("ra_micro"))
          .filter(col("common_neighbors") >= minCommon)
          .join(half.select((shiftleft(col("src"), 32) + col("dst")).as("pk")),
            Seq("pk"), "left_anti")
          .select(shiftright(col("pk"), 32).as("item_a"),
            col("pk").bitwiseAND(lit(0xffffffffL)).as("item_b"),
            col("common_neighbors"), col("ra_micro"))
      } else {
        wedgeJoin
          .select(col("a.leaf").as("item_a"), col("b.leaf").as("item_b"),
            col("a.ra_w").as("ra_w"))
          .repartition(pairParts, col("item_a"), col("item_b"))
          .groupBy("item_a", "item_b")
          .agg(count(lit(1)).as("common_neighbors"), sum("ra_w").as("ra_micro"))
          .filter(col("common_neighbors") >= minCommon)
          .join(half.select(col("src").as("item_a"), col("dst").as("item_b")),
            Seq("item_a", "item_b"), "left_anti")
      }
    scored
      .orderBy(desc("ra_micro"), desc("common_neighbors"),
        col("item_a"), col("item_b"))
      .limit(k)
  }

  /** DuckDB twin of [[linkPrediction]] over the co-bought-parts graph
    * (same items CTE as the q_triangles oracle — a differential proof,
    * not a replay: the oracle enumerates wedges from the raw basket
    * relation with no shared plan).
    */
  def linkPredictionOracleSql(k: Int = 50, minCommon: Int = 2,
                              maxWedgeDegree: Int = 10000): String =
    s"""WITH items AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
      |e AS (
      |  SELECT DISTINCT a.l_partkey AS src, b.l_partkey AS dst
      |  FROM items a JOIN items b
      |    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey),
      |sym AS (SELECT src, dst FROM e UNION ALL SELECT dst, src FROM e),
      |deg AS (SELECT src AS w, COUNT(*) AS deg FROM sym GROUP BY 1),
      |adj AS (
      |  SELECT s.src AS w, s.dst AS leaf, 1000000000000 // deg.deg AS ra_w
      |  FROM sym s JOIN deg ON deg.w = s.src AND deg.deg <= $maxWedgeDegree),
      |scored AS (
      |  SELECT a.leaf AS item_a, b.leaf AS item_b,
      |         COUNT(*) AS common_neighbors, SUM(a.ra_w) AS ra_micro
      |  FROM adj a JOIN adj b ON a.w = b.w AND a.leaf < b.leaf
      |  GROUP BY 1, 2 HAVING COUNT(*) >= $minCommon)
      |SELECT CAST(s.item_a AS BIGINT) AS item_a,
      |       CAST(s.item_b AS BIGINT) AS item_b,
      |       CAST(s.common_neighbors AS BIGINT) AS common_neighbors,
      |       CAST(s.ra_micro AS BIGINT) AS ra_micro
      |FROM scored s
      |ANTI JOIN e ON e.src = s.item_a AND e.dst = s.item_b
      |ORDER BY ra_micro DESC, common_neighbors DESC, item_a, item_b
      |LIMIT $k""".stripMargin

  // ------------------------------------------------ conversion lag

  /** Conversion-lag distribution: for each user, days between their
    * FIRST view and their first purchase at-or-after it, histogrammed —
    * the time-to-convert curve behind funnel dashboards. Exact integer
    * day lags and counts.
    *
    * Scale: two event-type-filtered min-aggregations keyed by user (the
    * filters reach the scan), one co-partitioned join, and a small
    * histogram aggregate — no windows.
    */
  def conversionLag(events: DataFrame): DataFrame = {
    val v = events.filter(col("event_type") === "view")
      .groupBy("user_id").agg(min(col("ts")).as("first_view"))
    val p = events.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("ts"))
    v.join(p, Seq("user_id"))
      .filter(col("ts") >= col("first_view"))
      .groupBy("user_id", "first_view")
      .agg(min(col("ts")).as("first_purchase"))
      .select(datediff(to_date(col("first_purchase")), to_date(col("first_view")))
        .as("lag_days"))
      .groupBy("lag_days").agg(count(lit(1)).as("n_users"))
  }

  def conversionLagOracleSql: String =
    """WITH v AS (
      |  SELECT user_id, MIN(ts) AS first_view
      |  FROM events WHERE event_type = 'view' GROUP BY 1),
      |p AS (
      |  SELECT e.user_id, MIN(e.ts) AS first_purchase
      |  FROM events e JOIN v ON v.user_id = e.user_id AND e.ts >= v.first_view
      |  WHERE e.event_type = 'purchase' GROUP BY 1)
      |SELECT CAST(date_diff('day', CAST(v.first_view AS DATE),
      |            CAST(p.first_purchase AS DATE)) AS INTEGER) AS lag_days,
      |       COUNT(*) AS n_users
      |FROM v JOIN p ON p.user_id = v.user_id
      |GROUP BY 1""".stripMargin

  // ------------------------------------------------ cohort repeat rate

  /** Repeat-purchase rate by acquisition cohort: customers grouped by
    * their first-order month; per cohort, how many ever ordered again
    * and the repeat share — the standard retail loyalty read beside the
    * retention matrix. Counts exact; the share is ONE IEEE division.
    *
    * Scale: one customer-keyed aggregate (first order month + lifetime
    * order count off the same pass), one cohort-keyed aggregate.
    */
  def cohortRepeatRate(orders: DataFrame): DataFrame =
    orders
      .groupBy(col("o_custkey"))
      .agg(min(trunc(col("o_orderdate"), "month")).as("cohort_month"),
        count(lit(1)).as("n_orders"))
      .groupBy("cohort_month")
      .agg(count(lit(1)).as("n_customers"),
        sum(when(col("n_orders") >= 2, 1L).otherwise(0L)).as("n_repeaters"))
      .select(col("cohort_month"), col("n_customers"), col("n_repeaters"),
        (col("n_repeaters").cast("double") / col("n_customers"))
          .as("repeat_rate"))

  def cohortRepeatRateOracleSql: String =
    """WITH per AS (
      |  SELECT o_custkey,
      |         CAST(date_trunc('month', MIN(o_orderdate)) AS DATE) AS cohort_month,
      |         COUNT(*) AS n_orders
      |  FROM orders GROUP BY 1)
      |SELECT cohort_month,
      |       COUNT(*) AS n_customers,
      |       CAST(SUM(CASE WHEN n_orders >= 2 THEN 1 ELSE 0 END) AS BIGINT)
      |         AS n_repeaters,
      |       CAST(SUM(CASE WHEN n_orders >= 2 THEN 1 ELSE 0 END) AS DOUBLE)
      |         / COUNT(*) AS repeat_rate
      |FROM per GROUP BY 1""".stripMargin

  // ------------------------------------------------ national market share

  /** TPC-H Q8-shaped national market share: within orders placed by
    * customers of one REGION for parts of one TYPE family, the fraction
    * of yearly revenue volume supplied by one target NATION — the
    * classic two-level share-of-total over a six-table star join.
    *
    * Determinism: volume follows the q_pricing_summary convention
    * (DECIMAL(18,2) price × (1 − DECIMAL(18,2) discount) → DECIMAL(18,4),
    * order-independent exact sums); the share is ONE IEEE division of
    * two exact decimal sums per year.
    *
    * Scale shape: part/supplier/nation/region/customer sides reduce to
    * key(+flag) projections that broadcast (largest is customer — at
    * 100 TB it shuffles instead, AQE decides); lineitem⋈orders is the
    * one fact-fact sort-merge join, shuffled on orderkey; the final
    * aggregate is per-year — a handful of groups, map-side combined.
    */
  def marketShare(region: DataFrame, nation: DataFrame, customer: DataFrame,
                  orders: DataFrame, lineitem: DataFrame, supplier: DataFrame,
                  part: DataFrame, targetNation: String = "NATION_1",
                  regionName: String = "AMERICA",
                  typePrefix: String = "ECONOMY",
                  yearFrom: Int = 1995, yearTo: Int = 1996): DataFrame = {
    val vol = expr(
      "cast(cast(l_extendedprice as decimal(18,2)) * " +
        "(1 - cast(l_discount as decimal(18,2))) as decimal(18,4))")
    val p = part.filter(col("p_type").startsWith(typePrefix))
      .select(col("p_partkey"))
    val suppNation = supplier
      .join(nation.select(col("n_nationkey"), col("n_name")),
        col("s_nationkey") === col("n_nationkey"))
      .select(col("s_suppkey"), col("n_name").as("supp_nation"))
    val regionCust = customer
      .join(nation.select(col("n_nationkey").as("cnk"), col("n_regionkey")),
        col("c_nationkey") === col("cnk"))
      .join(region.filter(col("r_name") === regionName).select(col("r_regionkey")),
        col("n_regionkey") === col("r_regionkey"))
      .select(col("c_custkey"))
    val ord = orders
      .filter(year(col("o_orderdate")).between(yearFrom, yearTo))
      .join(regionCust, col("o_custkey") === col("c_custkey"))
      .select(col("o_orderkey"), year(col("o_orderdate")).as("o_year"))
    lineitem
      .join(p, col("l_partkey") === col("p_partkey"))
      .join(suppNation, col("l_suppkey") === col("s_suppkey"))
      .join(ord, col("l_orderkey") === col("o_orderkey"))
      .select(col("o_year"), col("supp_nation"), vol.as("volume"))
      .groupBy("o_year")
      .agg(
        sum(when(col("supp_nation") === targetNation, col("volume"))
          .otherwise(lit(0).cast(DecimalType(18, 4)))).as("nation_vol"),
        sum(col("volume")).as("total_vol"))
      .select(col("o_year"),
        (col("nation_vol").cast("double") / col("total_vol").cast("double"))
          .as("mkt_share"),
        col("nation_vol").cast("double").as("nation_volume"),
        col("total_vol").cast("double").as("total_volume"))
  }

  def marketShareOracleSql(targetNation: String = "NATION_1",
                           regionName: String = "AMERICA",
                           typePrefix: String = "ECONOMY",
                           yearFrom: Int = 1995, yearTo: Int = 1996): String =
    s"""WITH vols AS (
      |  SELECT CAST(year(o.o_orderdate) AS INTEGER) AS o_year,
      |         n2.n_name AS supp_nation,
      |         CAST(CAST(l.l_extendedprice AS DECIMAL(18,2)) *
      |              (1 - CAST(l.l_discount AS DECIMAL(18,2))) AS DECIMAL(18,4))
      |           AS volume
      |  FROM lineitem l
      |  JOIN part p ON p.p_partkey = l.l_partkey
      |   AND p.p_type LIKE '$typePrefix%'
      |  JOIN supplier s ON s.s_suppkey = l.l_suppkey
      |  JOIN nation n2 ON n2.n_nationkey = s.s_nationkey
      |  JOIN orders o ON o.o_orderkey = l.l_orderkey
      |   AND year(o.o_orderdate) BETWEEN $yearFrom AND $yearTo
      |  JOIN customer c ON c.c_custkey = o.o_custkey
      |  JOIN nation n1 ON n1.n_nationkey = c.c_nationkey
      |  JOIN region r ON r.r_regionkey = n1.n_regionkey
      |   AND r.r_name = '$regionName'),
      |agg AS (
      |  SELECT o_year,
      |         SUM(CASE WHEN supp_nation = '$targetNation' THEN volume
      |                  ELSE CAST(0 AS DECIMAL(18,4)) END) AS nation_vol,
      |         SUM(volume) AS total_vol
      |  FROM vols GROUP BY 1)
      |SELECT o_year,
      |       CAST(nation_vol AS DOUBLE) / CAST(total_vol AS DOUBLE) AS mkt_share,
      |       CAST(nation_vol AS DOUBLE) AS nation_volume,
      |       CAST(total_vol AS DOUBLE) AS total_volume
      |FROM agg""".stripMargin

  // ------------------------------------------------ jackknife variance

  /** Delete-one-bucket jackknife standard error of the mean order value
    * (Efron & Stein 1981; the delete-d grouped variant — the standard
    * distributed uncertainty estimate when bootstrap resampling is too
    * expensive to shuffle): rows are assigned to `buckets` deterministic
    * groups by key residue, each leave-one-bucket-out mean is computed
    * exactly in integer micro-cents, and
    * `var_jack = (B−1)/B · Σ_b (m_b − m̄)²` collapses to a single IEEE
    * expression over exact DECIMAL(38,0) sums via the scaling identity
    * `Σ(m_b − m̄)² = Σ(B·m_b − Σm)² / B²`.
    *
    * Scale: one hash aggregation to B bucket subtotals (map-side
    * combined), then all remaining arithmetic runs on the B-row
    * relation with a broadcast 1-row totals join — nothing data-sized
    * past the first aggregate.
    */
  def jackknifeMeanSe(orders: DataFrame, buckets: Int = 20): DataFrame = {
    require(buckets >= 2, "need at least two buckets")
    val per = orders
      .select((col("o_orderkey") % buckets).cast("int").as("bucket"),
        cents(col("o_totalprice")).as("cents"))
      .groupBy("bucket").agg(count(lit(1)).as("n_b"), sum("cents").as("s_b"))
    val tot = per.agg(sum("n_b").as("n"), sum("s_b").as("s"),
      count(lit(1)).as("nb"))
    val loo = per.crossJoin(broadcast(tot))
      .select(col("bucket"), col("n"), col("s"), col("nb"),
        expr("cast((s - s_b) as decimal(38,0)) * 1000000 div (n - n_b)")
          .as("loo_micro"))
    val stats = loo.agg(sum("loo_micro").as("sm"), count(lit(1)).as("b2"))
    val q = loo.crossJoin(broadcast(stats))
      .select(col("n"), col("s"), col("nb"),
        (col("nb") * col("loo_micro") - col("sm")).cast(DecimalType(38, 0))
          .as("dev"))
      .groupBy("n", "s", "nb")
      .agg(sum(col("dev") * col("dev")).as("q"))
    q.select(col("n").as("n_orders"),
      col("nb").cast("int").as("n_buckets"),
      (col("s").cast("double") / 100.0 / col("n")).as("mean_price"),
      (sqrt((col("nb") - 1).cast("double") * col("q").cast("double") /
        (col("nb") * col("nb") * col("nb")).cast("double")) / 1.0e8)
        .as("jk_se"))
  }

  def jackknifeOracleSql(buckets: Int = 20): String =
    s"""WITH per AS (
      |  SELECT CAST(o_orderkey % $buckets AS INTEGER) AS bucket,
      |         COUNT(*) AS n_b,
      |         CAST(SUM(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT))
      |              AS BIGINT) AS s_b
      |  FROM orders GROUP BY 1),
      |tot AS (SELECT CAST(SUM(n_b) AS BIGINT) AS n, CAST(SUM(s_b) AS BIGINT) AS s,
      |               COUNT(*) AS nb FROM per),
      |loo AS (
      |  SELECT per.bucket, tot.n, tot.s, tot.nb,
      |         CAST((CAST(tot.s - per.s_b AS HUGEINT) * 1000000)
      |              // (tot.n - per.n_b) AS BIGINT) AS loo_micro
      |  FROM per, tot),
      |stats AS (SELECT CAST(SUM(loo_micro) AS BIGINT) AS sm, COUNT(*) AS b2 FROM loo),
      |q AS (
      |  SELECT loo.n, loo.s, loo.nb,
      |         SUM(CAST(loo.nb * loo.loo_micro - stats.sm AS HUGEINT) *
      |             CAST(loo.nb * loo.loo_micro - stats.sm AS HUGEINT)) AS q
      |  FROM loo, stats GROUP BY 1, 2, 3)
      |SELECT n AS n_orders, CAST(nb AS INTEGER) AS n_buckets,
      |       CAST(s AS DOUBLE) / 100.0 / n AS mean_price,
      |       sqrt(CAST(nb - 1 AS DOUBLE) * CAST(q AS DOUBLE) /
      |            CAST(nb * nb * nb AS DOUBLE)) / 100000000.0 AS jk_se
      |FROM q""".stripMargin

  // ------------------------------------------------ Spearman correlation

  /** Doubled average (fractional) rank of `valueCol` attached as
    * `outCol`: 2·avgrank(v) = 2·|{x < v}| + |{x = v}| + 1, an exact
    * BIGINT. Computed per DISTINCT value (group-count, prefix sum over
    * the value-ordered distinct relation, join back) — the one-partition
    * window runs over #distinct values, not rows, the same shape
    * [[graft.operators.GlobalRank.rankDist]] uses.
    */
  private def withDoubledAvgRank(df: DataFrame, valueCol: String,
                                 outCol: String): DataFrame = {
    val byVal = df.groupBy(col(valueCol)).agg(count(lit(1)).as("cnt"))
    val w = Window.orderBy(valueCol).rowsBetween(Window.unboundedPreceding, -1)
    val dist = byVal
      .withColumn("before", coalesce(sum("cnt").over(w), lit(0L)))
      .select(col(valueCol).as("__r2_val"),
        (lit(2L) * col("before") + col("cnt") + lit(1L)).as(outCol))
    df.join(dist, col(valueCol) <=> col("__r2_val")).drop("__r2_val")
  }

  /** Spearman rank correlation between a customer's account balance and
    * their lifetime order spend (customers with no orders rank at spend
    * 0). Both variables are converted to doubled average ranks (exact
    * integers, ties resolved by fractional averaging — the textbook
    * Spearman definition), then rho is Pearson over the ranks from five
    * DECIMAL(38,0) power sums — exact until the single final IEEE
    * expression. The common 6/(n(n²−1))·Σd² shortcut is WRONG under
    * ties, which balance data always has; the power-sum form is the
    * general one.
    *
    * Scale: two group-counts + two broadcast-sized distinct-value
    * rank maps + one aggregation; no row-level window.
    */
  def spearmanBalanceVsSpend(customer: DataFrame, orders: DataFrame): DataFrame = {
    val spend = orders.groupBy(col("o_custkey"))
      .agg(cents_sum(col("o_totalprice")).as("spend"))
    val base = customer.select(col("c_custkey"), col("c_acctbal"))
      .join(spend, col("c_custkey") === col("o_custkey"), "left")
      .select(col("c_custkey"), col("c_acctbal").as("x"),
        coalesce(col("spend"), lit(0).cast(DecimalType(18, 2))).as("y"))
    val ranked = withDoubledAvgRank(
      withDoubledAvgRank(base, "x", "rx"), "y", "ry")
    val d38 = DecimalType(38, 0)
    val s = ranked.agg(
      count(lit(1)).cast(d38).as("n"),
      sum(col("rx").cast(d38)).as("sx"), sum(col("ry").cast(d38)).as("sy"),
      sum(col("rx").cast(d38) * col("ry").cast(d38)).as("sxy"),
      sum(col("rx").cast(d38) * col("rx").cast(d38)).as("sxx"),
      sum(col("ry").cast(d38) * col("ry").cast(d38)).as("syy"))
    s.select(col("n").cast("long").as("n_customers"),
      ((col("n") * col("sxy") - col("sx") * col("sy")).cast("double") /
        sqrt((col("n") * col("sxx") - col("sx") * col("sx")).cast("double") *
          (col("n") * col("syy") - col("sy") * col("sy")).cast("double")))
        .as("spearman_rho"))
  }

  def spearmanOracleSql: String =
    """WITH spend AS (
      |  SELECT o_custkey, SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS spend
      |  FROM orders GROUP BY 1),
      |base AS (
      |  SELECT c.c_custkey, c.c_acctbal AS x,
      |         COALESCE(s.spend, CAST(0 AS DECIMAL(18,2))) AS y
      |  FROM customer c LEFT JOIN spend s ON s.o_custkey = c.c_custkey),
      |ranked AS (
      |  SELECT c_custkey,
      |         2 * (RANK() OVER (ORDER BY x)) +
      |           (COUNT(*) OVER (PARTITION BY x)) - 1 AS rx,
      |         2 * (RANK() OVER (ORDER BY y)) +
      |           (COUNT(*) OVER (PARTITION BY y)) - 1 AS ry
      |  FROM base),
      |s AS (
      |  SELECT CAST(COUNT(*) AS HUGEINT) AS n,
      |         CAST(SUM(rx) AS HUGEINT) AS sx, CAST(SUM(ry) AS HUGEINT) AS sy,
      |         SUM(CAST(rx AS HUGEINT) * ry) AS sxy,
      |         SUM(CAST(rx AS HUGEINT) * rx) AS sxx,
      |         SUM(CAST(ry AS HUGEINT) * ry) AS syy
      |  FROM ranked)
      |SELECT CAST(n AS BIGINT) AS n_customers,
      |       CAST(n * sxy - sx * sy AS DOUBLE) /
      |         sqrt(CAST(n * sxx - sx * sx AS DOUBLE) *
      |              CAST(n * syy - sy * sy AS DOUBLE)) AS spearman_rho
      |FROM s""".stripMargin
}
