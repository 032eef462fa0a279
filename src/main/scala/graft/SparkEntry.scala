package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, concat, desc, element_at, floor, lit, lpad, substring, when}

import graft.analytics.{Breadth, Breadth2, Breadth3, Breadth4, Breadth5, Queries}
import graft.dedup.Dedup
import graft.etl.{Clean, Dims, Facts}
import graft.functions.MoneyFunctions
import graft.io.Tables
import graft.multimodal.Multimodal
import graft.operators.{AsOfJoin, Sampling}
import graft.similarity.Ann
import graft.text.TextOps

/** Driver contract — see SURVEY.md §7 + TESTDATA.md.
  *
  * Every implemented operator from SURVEY.md §2 appears in `queries`; where
  * the semantics are ANSI-SQL-expressible the same computation appears in
  * `oracleSql` for the driver's DuckDB differential check. Column names are
  * aligned between the two on purpose — the driver sorts columns by name
  * before hashing.
  *
  * Each query builds everything it reads from its input directory on every
  * call: nothing is shared or remembered between queries, so a re-run after
  * new files land in that directory sees them. Where several queries read
  * the same derived relation (the co-bought graph, the purchase graph), a
  * private helper builds it per call.
  */
object SparkEntry {

  /** Flagship query (Q2 top-10, exercising scan/clean/join/agg/sort/limit)
    * on sf0.001; driver smoke-checks rows>0.
    */
  def entry(spark: SparkSession): DataFrame = {
    val dir = "/root/testdata/sf0.001"
    Queries.q2TopParts(
      Tables.lineitem(spark, dir), Tables.orders(spark, dir), Tables.part(spark, dir))
  }

  /** The dirty-data unit fixture from the reference's own test
    * (`filmETLs.ipynb#cell3:2-8`, FIXTURES.md §A): one null-row, one exact
    * duplicate; cleaning keeps rows 16001/16002.
    */
  private def cleanFixture(spark: SparkSession): DataFrame = {
    import spark.implicits._
    val ts = java.sql.Timestamp.valueOf(_: String)
    val dirty = Seq(
      (16000, None,                          1525,  130, ts("2025-05-25 10:00:00")),
      (16001, Some(ts("2025-05-23 12:00:00")), 99999, 130, ts("2025-05-24 13:00:00")),
      (16002, Some(ts("2025-05-22 11:00:00")), 1525,  130, ts("2025-05-25 10:00:00")),
      (16002, Some(ts("2025-05-22 11:00:00")), 1525,  130, ts("2025-05-25 10:00:00"))
    ).toDF("rental_id", "rental_date", "inventory_id", "customer_id", "return_date")
    Clean.clean(dirty)
  }

  /** Literal training corpus for the BPE-encode query: domain words of
    * the synthetic documents table with realistic frequency skew. The
    * merge table derives from it deterministically at class init via the
    * pure-Scala trainer, so BOTH the Spark query and the generated
    * DuckDB oracle embed the identical rules as literals.
    */
  private val BpeFixtureCorpus: Seq[String] = Seq(
    "table table table table table value value value value window window window",
    "customer customer customer query query query scan scan batch batch spark spark",
    "data data data row row row line line fast fast slow slow small big big",
    "part part hash hash merge merge sort sort column column join join order order",
    "group group vector vector filter filter agg agg key key the the the a a a")

  private lazy val bpeMerges: Seq[(Int, String, String, String, Long)] =
    graft.text.Bpe.trainMergesLocal(BpeFixtureCorpus, numMerges = 32)

  /** The [[bpeMerges]] replace chain as DuckDB SQL over column `s0`. */
  private def bpeReplaceChainSql: String =
    bpeMerges.sortBy(_._1).foldLeft("s0") { case (acc, (_, l, r, m, _)) =>
      s"replace($acc, '($l)($r)', '($m)')"
    }

  /** Unrolled threshold rounds in the q_ktruss_converged DuckDB oracle —
    * ONE constant ties the oracle replay depth to the engine's
    * convergence budget (engine runs maxRounds = this + 1 with
    * requireConverged = true, so "peel deeper than the oracle unroll"
    * is a loud dump-time error, never a silent gate mismatch).
    */
  private val ktrussOracleRounds = 10

  /** Counted co-bought part pairs (item_a, item_b, c_pair) — the widened
    * base relation: its projection is the distinct edge set the graph
    * queries consume, `c_pair >= minSupport` recovers the market-basket/
    * item-CF pair relation losslessly, and `10^6 div c_pair` is the SSSP
    * affinity weight — one quadratic basket expansion per query (the
    * count column costs the same shuffle a distinct pays, plus
    * 8 bytes/row). The checkpoint makes it a LogicalRDD leaf, so
    * consumers pay O(1) plan depth; they pass `canonical = true` so the
    * canonicalization/symmetrization distinct is skipped too
    * ([[graft.analytics.GraphEdges]]).
    */
  // NOTE: deliberately the plain (origin-estimate) checkpoint, NOT
  // checkpointedAccurate: an interleaved A/B (round 14) measured the
  // accurate-stats variant catastrophically worse for the triangle
  // family (q_triangles first-job task time 7.7 s -> 460 s; the real
  // ~29 MiB size pushes the edge relation over the broadcast threshold
  // and the degree-oriented closure join loses its broadcast build
  // side). The under-read estimate is load-bearing for the engineered
  // join strategy of the graph consumers; coBoughtSym (whose consumers
  // NEED real stats to avoid the frontier 2-task collapse) stays
  // accurate - the two differ on purpose.
  private def coBoughtCounts(s: SparkSession, d: String): DataFrame =
    graft.Caching.checkpointed(
      graft.analytics.Baskets.coOccurrenceCounts(
        Tables.lineitem(s, d), "l_orderkey", "l_partkey"))
  private def coBoughtEdges(s: SparkSession, d: String): DataFrame =
    coBoughtCounts(s, d).select(col("item_a"), col("item_b"))

  /** The SYMMETRIC co-bought relation — the canonical half-edges unioned
    * with their swap, named (item_a, item_b) like the half relation; the
    * input of the k-core, assortativity, LPA, modularity and HyperANF
    * queries. 2|E| rows of two longs.
    */
  private def coBoughtSym(s: SparkSession, d: String): DataFrame = {
    val half = coBoughtEdges(s, d).select(
      col("item_a").cast("long").as("item_a"),
      col("item_b").cast("long").as("item_b"))
    // accurate-stats checkpoint (round 14): the plain checkpoint's
    // forwarded size estimate (2.8 MiB vs 36.5 MiB real at sf0.1) was
    // small enough to make this 2|E| relation the broadcast BUILD side
    // of consumer joins — the root cause of the round-13 frontier-loop
    // 2-task collapse (measurements in OPTIMIZATION_r14.md)
    graft.Caching.checkpointedAccurate(half.union(half.select(
      col("item_b").as("item_a"), col("item_a").as("item_b"))))
  }

  /** The trained unigram-LM model (piece, cnt, p_nano) — bounded driver
    * state (≤ alphabet + 40 rows) the encode and fertility queries read.
    */
  private def unigramProbs(s: SparkSession, d: String): Seq[(String, Long, Long)] =
    graft.text.Unigram.finalProbs(Tables.documents(s, d))

  /** The HyperANF N(t) curve — rounds+1 DECIMAL scalars (bounded model
    * state) the effective-diameter and spid queries read.
    */
  private def hanfCurve(s: SparkSession, d: String): Seq[java.math.BigDecimal] =
    graft.analytics.HyperAnf.nfCurve(
      coBoughtSym(s, d), "item_a", "item_b", rounds = 4, symmetric = true)

  /** Item incidence counts + basket count of the market-basket / item-CF
    * pair.
    */
  private def basketItemStats(s: SparkSession, d: String): (DataFrame, DataFrame) =
    graft.analytics.Baskets.itemStats(
      Tables.lineitem(s, d), "l_orderkey", "l_partkey")

  /** The DIRECTED distinct customer→supplier purchase graph that q_hits,
    * q_pagerank and q_ppr rank. PageRank/PPR symmetrize it without any
    * further distinct (parity disjointness —
    * [[graft.analytics.PageRank.symmetrized]]).
    */
  private def purchaseEdges(s: SparkSession, d: String): DataFrame =
    graft.Caching.checkpointed(
      graft.analytics.PageRank.directedPurchaseEdges(
        Tables.lineitem(s, d), Tables.orders(s, d)))

  /** The degree-attached walk state (edgesDeg, deg) of q_pagerank and
    * q_ppr, derived from the symmetric purchase relation
    * ([[graft.analytics.PageRank.prepareWalk]]'s shape). Checkpointed so
    * each iteration's plan starts from LogicalRDD leaves.
    */
  private def purchaseWalk(s: SparkSession, d: String): (DataFrame, DataFrame) = {
    import org.apache.spark.sql.functions.count
    val sym = graft.Caching.checkpointed(
      graft.analytics.PageRank.symmetrized(purchaseEdges(s, d)))
    val deg = graft.Caching.checkpointed(
      sym.groupBy("src").agg(count(lit(1)).as("od")))
    (graft.Caching.checkpointed(sym.join(deg, "src")), deg)
  }

  /** One entry per implemented operator group from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // --- dimension ETLs (S1 + P1 + C1 + C2) ---
    "dim_customer" -> ((s, d) => Dims.dimCustomer(Tables.customer(s, d))),
    "dim_supplier" -> ((s, d) => Dims.dimSupplier(Tables.supplier(s, d))),
    "dim_part"     -> ((s, d) => Dims.dimPart(Tables.part(s, d))),
    "dim_order"    -> ((s, d) => Dims.dimOrder(Tables.orders(s, d))),
    // --- dim_date generator (S5 + P3 + P5) ---
    "dim_date"     -> ((s, _) => Dims.dimDate(s)),
    // --- fact ETLs (J1 + P3 + A1; P5 + P6 + A2) ---
    "fact_daily_inventory" -> ((s, d) =>
      Facts.factDailyInventory(Tables.lineitem(s, d), Tables.orders(s, d))),
    "fact_monthly_payment" -> ((s, d) =>
      Facts.factMonthlyPayment(Tables.orders(s, d))),
    // --- analytics reads (Q1: P4+P7+A4; Q2: J2+A3+O1; Q3: F1+P4+A5) ---
    "q1_monthly_revenue" -> ((s, d) => Queries.q1MonthlyRevenue(Tables.orders(s, d))),
    "q2_top_parts"       -> ((s, d) =>
      Queries.q2TopParts(Tables.lineitem(s, d), Tables.orders(s, d), Tables.part(s, d))),
    "q3_daily_series"    -> ((s, d) =>
      Queries.q3DailySeries(Tables.lineitem(s, d), Tables.orders(s, d))),
    // --- clean combinator on the reference's own fixture (S4 + C1 + C2) ---
    "clean_fixture" -> ((s, _) => cleanFixture(s)),
    // --- operator breadth beyond the reference (north star: complete engine) ---
    "q_pricing_summary" -> ((s, d) => Breadth.pricingSummary(Tables.lineitem(s, d))),
    "q_region_revenue"  -> ((s, d) => Breadth.regionRevenue(
      Tables.orders(s, d), Tables.customer(s, d), Tables.nation(s, d), Tables.region(s, d))),
    "q_top_customers"   -> ((s, d) => Breadth.topCustomers(Tables.orders(s, d), Tables.customer(s, d))),
    "q_window_top_parts" -> ((s, d) => Breadth.windowTopParts(Tables.lineitem(s, d))),
    "q_running_revenue"  -> ((s, d) => Breadth.runningRevenue(Tables.orders(s, d))),
    "q_moving_revenue"   -> ((s, d) => Breadth.movingRevenue(Tables.orders(s, d))),
    "q_semi_join"       -> ((s, d) => Breadth.customersWithOrders(Tables.customer(s, d), Tables.orders(s, d))),
    "q_anti_join"       -> ((s, d) => Breadth.customersWithoutOrders(Tables.customer(s, d), Tables.orders(s, d))),
    "q_rollup_revenue"  -> ((s, d) => Breadth.revenueRollup(Tables.orders(s, d))),
    "q_cube_revenue"    -> ((s, d) => Breadth.revenueCube(Tables.orders(s, d))),
    "q_balance_quartiles" -> ((s, d) => Breadth.balanceQuartiles(Tables.customer(s, d))),
    "q_mom_delta"       -> ((s, d) => Breadth.momDelta(Tables.orders(s, d))),
    "q_string_ops"      -> ((s, d) => Breadth.stringOps(Tables.customer(s, d))),
    "q_monthly_active"  -> ((s, d) => Breadth.monthlyActiveCustomers(Tables.orders(s, d))),
    "q_nation_set_ops"  -> ((s, d) => Breadth.nationSetOps(Tables.customer(s, d), Tables.supplier(s, d))),
    "q_events_hourly"   -> ((s, d) => Breadth.eventsHourly(Tables.events(s, d))),
    "q_top_event_type"  -> ((s, d) => Breadth.topEventTypePerHour(Tables.events(s, d))),
    "q_event_sessions"  -> ((s, d) => Breadth.eventSessions(Tables.events(s, d))),
    "q_percentiles"     -> ((s, d) => Breadth.quantitypercentiles(Tables.lineitem(s, d))),
    "q_pivot_status"    -> ((s, d) => Breadth.revenuePivot(Tables.orders(s, d))),
    "q_range_join"      -> ((s, d) => Breadth.priceBands(Tables.part(s, d), s)),
    "q_scalar_subquery" -> ((s, d) => Breadth.aboveAvgCustomers(s, Tables.customer(s, d))),
    // each engine checks its own HLL estimate against the exact count;
    // the error-bound verdict is the deterministic, hashable output
    "q_approx_distinct" -> ((s, d) => Breadth.approxDistinctChecked(Tables.orders(s, d))),
    // z-order (Morton) key: pure integer bit math, engine-reproducible
    "q_zorder" -> ((s, d) => {
      import graft.operators.ZOrder
      Tables.events(s, d).select(col("event_id"),
        ZOrder.zValue(col("user_id"), floor(col("value")).cast("long")).as("zval"))
    }),
    // Hilbert curve value on the same coordinates: adjacency-preserving
    // layout key (no Z-order diagonal jumps), pure codegen CASE chain.
    // The narrow coordinate projection is conditionally spread first
    // (Tables.cpuSpread, no-op at shuffle-width): the 16-level state
    // machine ran serially on the single-split events scan (profiled in
    // round 14: one 0.55 s task owning the query)
    "q_hilbert" -> ((s, d) =>
      graft.operators.Hilbert.hilbertValue(
        Tables.cpuSpread(
          Tables.events(s, d).select("event_id", "user_id", "value"),
          "event_id"),
        "event_id", "user_id", "FLOOR(value)")),
    // data-skipping audit: files scanned under linear/zorder/hilbert
    "q_layout_prune" -> ((s, d) =>
      graft.operators.LayoutPrune.layoutPruneStats(Tables.events(s, d))),
    // per-column data profile (nulls + exact distincts, one scan)
    "q_profile" -> ((s, d) => graft.etl.Profile.profile(Tables.orders(s, d))),
    // --- single-LHS functional-dependency discovery over part attrs ---
    "q_fd_discovery" -> ((s, d) => graft.etl.Dependencies.functionalDeps(
      Tables.part(s, d),
      Seq("p_name", "p_brand", "p_type", "p_size"))),
    // --- majority-vote near-FD repair on a planted-corruption fixture:
    // mfgr derived from the brand digit (the TPC-H brand→mfgr FD), then
    // ~2.7% of rows corrupted deterministically; the repair recovers
    // exactly the corrupted rows with the majority value ---
    "q_fd_repair" -> ((s, d) => {
      val p = Tables.part(s, d).select(col("p_partkey"), col("p_brand"),
        when(col("p_partkey") % 37 === 0, lit("Mfgr#X"))
          .otherwise(concat(lit("Mfgr#"), substring(col("p_brand"), 7, 1)))
          .as("mfgr"))
      graft.etl.Dependencies.majorityRepair(p, "p_partkey", "p_brand", "mfgr")
    }),
    // --- k-anonymity audit (Sweeney 2002): equivalence-class sizes over the
    // quasi-identifier tuple, classes below k=5 flagged re-identifiable —
    // the privacy gate a corpus runs before release. One shuffle on the
    // quasi-identifier key; class count ≪ row count, so output is tiny ---
    "q_kanon" -> ((s, d) => {
      import org.apache.spark.sql.functions.count
      Tables.customer(s, d)
        .select(col("c_nationkey"), col("c_mktsegment"),
          floor(col("c_acctbal") / 100).as("bal_bucket"))
        .groupBy("c_nationkey", "c_mktsegment", "bal_bucket")
        .agg(count(lit(1)).as("class_size"))
        .withColumn("at_risk", col("class_size") < 5)
    }),
    // declarative data-quality expectation suite: row predicates in one
    // scan, key uniqueness, FK coverage — one (check, verdict) row each
    "q_expectations" -> ((s, d) => {
      val ord = Tables.orders(s, d)
      graft.etl.Expectations.rowChecks(ord, Seq(
          "totalprice_positive" -> (col("o_totalprice") > 0),
          "orderdate_not_null" -> col("o_orderdate").isNotNull,
          "status_in_domain" -> col("o_orderstatus").isin("O", "F", "P"),
          "priority_in_domain" -> col("o_orderpriority").isin(
            "1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")))
        .unionByName(graft.etl.Expectations.uniqueness(
          ord, "orderkey_unique", Seq("o_orderkey")))
        .unionByName(graft.etl.Expectations.referential(
          ord, "custkey_references_customer", "o_custkey",
          Tables.customer(s, d), "c_custkey"))
    }),
    // l-diversity audit: a k-anonymous class is still re-identifiable
    // when every member shares the sensitive value — count DISTINCT
    // sensitive values per quasi-identifier class
    "q_ldiversity" -> ((s, d) => {
      import org.apache.spark.sql.functions.{count, countDistinct}
      Tables.customer(s, d)
        .select(col("c_nationkey"),
          floor(col("c_acctbal") / 100).as("bal_bucket"), col("c_mktsegment"))
        .groupBy("c_nationkey", "bal_bucket")
        .agg(count(lit(1)).as("class_size"),
          countDistinct(col("c_mktsegment")).as("n_sensitive"))
        .withColumn("at_risk", col("n_sensitive") < 3)
    }),
    // count-min sketch estimates vs exact counts (md5 hash rows replay in SQL)
    "q_countmin" -> ((s, d) =>
      graft.analytics.Sketches.countMinEstimates(Tables.events(s, d), "user_id")),
    // per-engine sketch vs per-engine exact percentile, verdicts hashable
    "q_approx_percentiles" -> ((s, d) =>
      Breadth.approxPercentilesChecked(Tables.lineitem(s, d))),
    // mergeable SpaceSaving aggregate (custom TypedImperativeAggregate):
    // guarantee-verdicts over exact counts — deterministic under any
    // merge order, unlike the estimates themselves. k = 30 on a 31-token
    // near-uniform (~3.4% share) fixture vocabulary: the only value that
    // exercises BOTH eviction (k < distinct) and a nonempty heavy set
    // (1/k below the top shares)
    "q_heavy_hitters" -> ((s, d) =>
      graft.analytics.Sketches.heavyHitterTokens(Tables.documents(s, d), k = 30)),
    "q_json_extract"    -> ((s, d) => Breadth.jsonExtract(Tables.events(s, d))),
    // --- operator breadth, batch 2 (stats / argmax / frames / melt) ---
    "q_stats_summary"  -> ((s, d) => Breadth2.statsSummary(Tables.lineitem(s, d))),
    "q_top_order_month" -> ((s, d) => Breadth2.topOrderPerMonth(Tables.orders(s, d))),
    "q_range_frame"    -> ((s, d) => Breadth2.trailing7DayRevenue(Tables.orders(s, d))),
    "q_rank_dist"      -> ((s, d) => Breadth2.balanceRankDist(Tables.customer(s, d))),
    "q_collect_set"    -> ((s, d) => Breadth2.segmentsPerNation(Tables.customer(s, d))),
    "q_full_outer"     -> ((s, d) => Breadth2.nationCoverage(Tables.customer(s, d), Tables.supplier(s, d))),
    "q_grouping_sets"  -> ((s, d) => Breadth2.revenueGroupingSets(s, Tables.orders(s, d))),
    "q_unpivot"        -> ((s, d) => Breadth2.revenueUnpivot(Tables.orders(s, d))),
    "text_top_tokens"  -> ((s, d) => Breadth2.topTokens(Tables.documents(s, d))),
    // adjacent-bigram PMI collocations (exact counts, one rounded ln)
    "text_pmi" -> ((s, d) => TextOps.bigramPmi(Tables.documents(s, d))),
    "q_value_windows"  -> ((s, d) => Breadth2.orderTimeline(Tables.orders(s, d))),
    "q_gap_fill"       -> ((s, d) => Breadth2.gapFillDaily(Tables.lineitem(s, d), Tables.orders(s, d))),
    "q_distinct_agg"   -> ((s, d) => Breadth2.distinctAgg(Tables.orders(s, d))),
    "q_interval_join"  -> ((s, d) => Breadth2.incidentOverlap(Tables.events(s, d), s)),
    "q_rank_dense"     -> ((s, d) => Breadth2.brandPriceRanks(Tables.part(s, d))),
    "q_array_ops"      -> ((s, d) => Breadth2.arrayOps(Tables.documents(s, d))),
    // --- operator breadth, batch 3 (funnel / retention / SCD2 / fuzzy / salt) ---
    "q_funnel"      -> ((s, d) => Breadth3.funnel(Tables.events(s, d))),
    "q_retention"   -> ((s, d) => Breadth3.retention(Tables.events(s, d))),
    "q_scd2_status" -> ((s, d) => Breadth3.scd2StatusHistory(Tables.orders(s, d))),
    "q_fuzzy_pairs" -> ((s, d) => Breadth3.fuzzyNamePairs(Tables.part(s, d))),
    // blocking → edit-distance match → CC → canonical record per entity
    "q_entity_resolution" -> ((s, d) =>
      graft.pipeline.EntityResolution.resolveParts(Tables.part(s, d))),
    "q_salted_join" -> ((s, d) =>
      Breadth3.saltedRevenue(Tables.lineitem(s, d), Tables.orders(s, d))),
    // --- the same revenue join dispatched by the KMV join-cardinality
    // sketch (correlated key sample -> output-pair skew advice) instead
    // of an unconditional salt; both branches yield the identical row
    // multiset, so the oracle is the plain-join SQL ---
    "q_salted_join_sketch" -> ((s, d) =>
      Breadth3.saltedRevenueSketch(Tables.lineitem(s, d), Tables.orders(s, d))),
    // --- correlated-sampling join-size estimate (Vengerov VLDB'15) on
    // the l_partkey self-join (the classic sum-of-squared-frequencies
    // shape) — md5-exact, the estimate itself replays in DuckDB ---
    "q_join_card_kmv" -> ((s, d) =>
      graft.analytics.Kmv.joinCardinality(
        Tables.lineitem(s, d), Tables.lineitem(s, d),
        "l_partkey", "l_partkey")),
    // --- skew diagnostic: top join keys with skew factor + salt advice ---
    "q_skew_report" -> ((s, d) =>
      graft.operators.SkewJoin.skewReport(Tables.lineitem(s, d), "l_suppkey")),
    // --- the diagnostic WIRED to the remedy: runtime-guarded auto-salting.
    // Collapsing l_linenumber>=4 onto supplier 1 plants the classic
    // "anonymous default key" hot spot (~57% of rows on one key); the
    // guard reads the skewReport advice and takes the salted branch.
    // The oracle runs the PLAIN join — hash equality proves the guard
    // plus salting preserve the row multiset (the q_salted_join pattern).
    "q_salted_auto" -> ((s, d) => {
      import org.apache.spark.sql.functions.{count, expr, sum}
      import org.apache.spark.sql.types.DecimalType
      val li = Tables.lineitem(s, d).select(
        expr("CASE WHEN l_linenumber >= 4 THEN CAST(1 AS BIGINT) ELSE l_suppkey END")
          .as("supp"),
        col("l_extendedprice"), col("l_discount"))
      val sup = Tables.supplier(s, d)
        .select(col("s_suppkey").as("supp"), col("s_nationkey"))
      graft.operators.SkewJoin.autoSaltedJoin(li, sup, "supp")
        .groupBy("s_nationkey")
        .agg(
          sum((col("l_extendedprice").cast(DecimalType(18, 2))
              * (lit(1) - col("l_discount").cast(DecimalType(18, 2))))
            .cast(DecimalType(18, 4))).cast("double").as("revenue"),
          count(lit(1)).as("n_items"))
    }),
    "text_tfidf"    -> ((s, d) => Breadth3.tfidf(Tables.documents(s, d))),
    "q_sliding_windows" -> ((s, d) => Breadth3.slidingEventCounts(Tables.events(s, d))),
    "q_transitions"  -> ((s, d) => Breadth3.eventTransitions(Tables.events(s, d))),
    // --- stationary distribution of the event-type Markov chain ---
    "q_markov_stationary" -> ((s, d) =>
      graft.analytics.Markov.stationaryEventTypes(Tables.events(s, d))),
    // --- top whole-session navigation paths (prefix-capped) ---
    "q_top_paths" -> ((s, d) => Breadth3.topSessionPaths(Tables.events(s, d))),
    "q_revenue_share" -> ((s, d) => Breadth3.nationRevenueShare(
      Tables.orders(s, d), Tables.customer(s, d), Tables.nation(s, d))),
    // contact strings are constructed identically in the oracle — the
    // synthetic corpus carries no natural PII, the redaction op is real
    "text_redact" -> ((s, d) => {
      val c = Tables.customer(s, d)
      TextOps.redact(
        c.select(col("c_custkey"),
          concat(col("c_name"), lit(" <user"), col("c_custkey").cast("string"),
            lit("@example.com> ref "),
            lpad((col("c_custkey") * 7919 % 1000000000).cast("string"), 9, "0"))
            .as("contact")),
        "contact")
    }),
    "text_chunks" -> ((s, d) => TextOps.chunk(Tables.documents(s, d))),
    "q_global_shuffle" -> ((s, d) => Breadth3.globalShuffle(Tables.documents(s, d)
      .select("doc_id"))),
    "q_map_ops" -> ((s, d) => Breadth3.dailyCountMaps(Tables.events(s, d))),
    "q_split" -> ((s, d) => graft.operators.Sampling.hashSplit(
      Tables.documents(s, d).select("doc_id"), "doc_id")),
    // three pseudo-sources carved from doc_id, mixed at 1.0 / 0.5 / 0.25
    "q_mix_sources" -> ((s, d) => graft.operators.Sampling.mixSources(
      Tables.documents(s, d).select(col("doc_id"),
        element_at(lit(Array("books", "web", "code")), (col("doc_id") % 3 + 1).cast("int"))
          .as("source")),
      "source", "doc_id",
      Map("books" -> 1.0, "web" -> 0.5, "code" -> 0.25))),
    "q_histogram"   -> ((s, d) => Breadth3.priceHistogram(Tables.orders(s, d))),
    "q_mad_outliers" -> ((s, d) => Breadth3.madOutliers(Tables.orders(s, d))),
    "q_ohlc_bars"    -> ((s, d) => Breadth3.ohlcBars(Tables.events(s, d))),
    // native Jaro-Winkler expression over brand-blocked name pairs.
    // Scale: the candidate side is the corpus itself, so unconditionally
    // broadcasting it is an OOM at 100× — SkewJoin.dispatchedBlockJoin
    // broadcasts only under a bounded budget (stream side spread to full
    // parallelism) and falls back to a salted (brand, salt) equi-join
    // beyond it. A provable length-band prefilter (m ≤ min(|a|,|b|) ⇒
    // jaro ≤ (min/|a| + min/|b| + 1)/3; with the ≤0.4 Winkler boost,
    // jw ≥ 0.85 forces max ≤ 4·min) drops hopeless pairs before the
    // O(|a|·window) loop.
    "q_jaro_pairs" -> ((s, d) => {
      import org.apache.spark.sql.functions.{greatest, least, length, round}
      val p = Tables.part(s, d).select(col("p_partkey"), col("p_name"), col("p_brand"))
      val a = p.select(col("p_brand"), col("p_partkey").as("key_a"), col("p_name").as("name_a"))
      val b = p.select(col("p_brand"), col("p_partkey").as("key_b"), col("p_name").as("name_b"))
      graft.operators.SkewJoin.dispatchedBlockJoin(a, b, "p_brand")
        .filter(col("key_a") < col("key_b") &&
          greatest(length(col("name_a")), length(col("name_b"))) <=
            least(length(col("name_a")), length(col("name_b"))) * 4)
        .select(col("key_a"), col("key_b"),
          round(graft.functions.StringFunctions.jaro_winkler(
            col("name_a"), col("name_b")), 6).as("jw"))
        .filter(col("jw") >= 0.85)
    }),
    // A-ES weighted sampling: longer documents oversampled ∝ n_chars
    "q_weighted_sample" -> ((s, d) => graft.operators.Sampling.weightedSample(
      Tables.documents(s, d).select("doc_id", "n_chars"), "doc_id", "n_chars", 100)),
    // stratified A-ES: k docs PER SOURCE (WindowGroupLimit, no global sort)
    "q_weighted_sample_group" -> ((s, d) =>
      graft.operators.Sampling.weightedSamplePerGroup(
        Tables.documents(s, d).select("source", "doc_id", "n_chars"),
        "source", "doc_id", "n_chars", 20)),
    // ANN training-set assembly: kmeans assignment -> per-cluster A-ES
    // reservoir, far-from-centroid points oversampled (diversity sample)
    "ann_cluster_sample" -> ((s, d) =>
      graft.operators.Sampling.weightedSamplePerGroup(
          Ann.kmeansAssign(Tables.embeddings(s, d))
            .withColumn("w", col("dist") + lit(1.0)),
          "cid", "vec_id", "w", 25)
        .select("vec_id", "cid", "dist")),
    "embed_quantize" -> ((s, d) => Ann.quantizeInt8(Tables.embeddings(s, d))),
    "embed_equidepth" -> ((s, d) => Ann.quantizeEquiDepth(Tables.embeddings(s, d))),
    // eigenvectors are corpus-dependent model state — the checked output
    // is Pca.invariants: exact data metrics + mathematical invariants
    // any correct fit+project must satisfy (see its scaladoc)
    "embed_pca" -> ((s, d) =>
      graft.similarity.Pca.invariants(Tables.embeddings(s, d), k = 4)),
    "embed_centroids" -> ((s, d) => Ann.labelCentroids(Tables.embeddings(s, d))),
    "embed_normalize" -> ((s, d) => Ann.l2Normalize(Tables.embeddings(s, d))),
    // --- linear-time MMD two-sample drift over embeddings, with the
    // built-in null-split calibration row ---
    "embed_mmd_drift" -> ((s, d) =>
      graft.similarity.Mmd.mmdLinearChecked(Tables.embeddings(s, d))),
    // --- signed random projection (JL): derived ±1 matrix, no data ---
    "embed_rp" -> ((s, d) => Ann.randomProjection(Tables.embeddings(s, d))),
    // --- text analysis (north star: training-data pipeline ops) ---
    "text_token_count" -> ((s, d) => TextOps.tokenCount(Tables.documents(s, d))),
    "text_quality"     -> ((s, d) => TextOps.quality(Tables.documents(s, d))),
    "text_langid"      -> ((s, d) => TextOps.langId(Tables.documents(s, d))),
    "text_fingerprint" -> ((s, d) => TextOps.fingerprint(Tables.documents(s, d))),
    // winnowing (SIGMOD'03): window-min fingerprint SELECTION with the
    // w+k-1 match guarantee — row-local transform + explode, scan cost
    "text_winnow" -> ((s, d) => TextOps.winnow(Tables.documents(s, d))),
    // MOSS-style reuse pairs over the selected fingerprints: df-capped
    // inverted-index equi-join, >= 3 shared rare fingerprints
    "dedup_winnow" -> ((s, d) => Dedup.winnowPairs(Tables.documents(s, d))),
    "text_repetition"  -> ((s, d) => TextOps.repetition(Tables.documents(s, d))),
    "text_vocab"       -> ((s, d) => TextOps.vocab(Tables.documents(s, d))),
    "text_c4_filter"   -> ((s, d) => TextOps.c4LineFilter(Tables.documents(s, d))),
    "text_corpus_stats" -> ((s, d) => TextOps.corpusStats(Tables.documents(s, d))),
    "text_encode"      -> ((s, d) => {
      val docs = Tables.documents(s, d)
      // vocab cut at 16 (fixture vocab is 31 tokens) so OOV paths exercise
      TextOps.encodeTokens(docs, TextOps.vocab(docs, maxSize = 16))
    }),
    // --- corpus-scale BPE tokenizer apply: codegen replace chain, no UDF ---
    "text_bpe_encode"  -> ((s, d) =>
      graft.text.Bpe.encodeCorpus(Tables.documents(s, d), bpeMerges)),
    // --- tokenizer fertility (chars per BPE token) per source ---
    "text_fertility" -> ((s, d) =>
      graft.text.Bpe.fertilityBySource(Tables.documents(s, d), bpeMerges)),
    // --- unigram-LM (SentencePiece) tokenizer: the OTHER family beside BPE.
    // Train runs the distributed 2-round hard-EM; encode/fertility train
    // the driver-local model (unigramProbs) and apply it ---
    "text_unigram_train" -> ((s, d) =>
      graft.text.Unigram.trainVocab(Tables.documents(s, d))),
    "text_unigram_encode" -> ((s, d) =>
      graft.text.Unigram.encodeStatsWith(Tables.documents(s, d),
        unigramProbs(s, d))),
    "text_unigram_fertility" -> ((s, d) =>
      graft.text.Unigram.fertilityBySourceWith(Tables.documents(s, d),
        unigramProbs(s, d))),
    // --- greedy MaxMatch (WordPiece-style) encode over the SAME trained
    // vocabulary, plus the three-way segmentation comparison ---
    "text_maxmatch_encode" -> ((s, d) =>
      graft.text.Unigram.maxMatchStats(Tables.documents(s, d),
        unigramProbs(s, d))),
    "text_tokenizer_compare" -> ((s, d) =>
      graft.text.Unigram.tokenizerCompare(Tables.documents(s, d),
        unigramProbs(s, d))),
    // --- Zipf power-law fit of the frequency distribution (corpus health) ---
    "text_zipf_slope"  -> ((s, d) => TextOps.zipfSlope(Tables.documents(s, d))),
    // --- Heaps'-law vocabulary-growth exponent (zipf's companion) ---
    "text_heaps_law"   -> ((s, d) => TextOps.heapsLaw(Tables.documents(s, d))),
    // --- deduplication (north star) ---
    "dedup_exact"         -> ((s, d) => Dedup.exactDedup(Tables.documents(s, d))),
    "dedup_minhash"       -> ((s, d) => Dedup.minhashDedup(Tables.documents(s, d))),
    // --- incremental dedup: new batch (doc_id%5=0) probes the corpus index ---
    "dedup_incremental"   -> ((s, d) => {
      val docs = Tables.documents(s, d)
      Dedup.incrementalNearDup(
        docs.filter(col("doc_id") % 5 =!= 0), docs.filter(col("doc_id") % 5 === 0))
    }),
    "dedup_simhash"       -> ((s, d) => Dedup.simhashDedup(Tables.documents(s, d))),
    "dedup_ngram_jaccard" -> ((s, d) =>
      Dedup.ngramJaccard(Tables.documents(s, d), threshold = 0.5)),
    "dedup_clusters" -> ((s, d) =>
      Dedup.dupClusters(Dedup.minhashDedup(Tables.documents(s, d)))),
    // same labelling via large/small-star contraction (the O(log n)-round
    // scale path) — oracled against the same recursive CTE
    "dedup_clusters_star" -> ((s, d) =>
      Dedup.dupClustersStar(Dedup.minhashDedup(Tables.documents(s, d)))),
    "dedup_survivors" -> ((s, d) =>
      Dedup.clusterSurvivors(
        Dedup.dupClusters(Dedup.minhashDedup(Tables.documents(s, d))))),
    // split by near-dup CLUSTER so eval never holds a soft copy of train
    "q_leakage_split" -> ((s, d) =>
      graft.pipeline.Splits.leakageSafeSplit(Tables.documents(s, d))),
    // keep the best-quality member of each cluster, not the smallest id
    "dedup_best_survivors" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      Dedup.clusterSurvivorsBy(
        Dedup.dupClusters(Dedup.minhashDedup(docs)),
        TextOps.quality(docs).select(col("doc_id"), col("quality_score")),
        "quality_score")
    }),
    // train = doc_id % 50 != 0, eval = the other 2% — a deterministic split
    "dedup_contamination" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      Dedup.contamination(
        docs.filter(col("doc_id") % 50 =!= 0),
        docs.filter(col("doc_id") % 50 === 0),
        minShared = 2)
    }),
    // BM25 lexical search top-k (micro-unit exact score sums)
    "text_bm25_topk" -> ((s, d) => graft.text.Bm25.topK(Tables.documents(s, d))),
    // --- Rocchio/RM3 pseudo-relevance-feedback expanded retrieval ---
    "text_prf_topk" -> ((s, d) => graft.text.Bm25.prfTopK(Tables.documents(s, d))),
    // --- hybrid retrieval: RRF fusion of BM25 + dense cosine ranks ---
    "q_hybrid_rrf" -> ((s, d) => graft.pipeline.Retrieval.hybridTopK(
      Tables.documents(s, d), Tables.embeddings(s, d))),
    // unigram LM quality scoring (CCNet-style perplexity filter)
    "text_lm_score" -> ((s, d) => graft.text.Bm25.unigramLogprob(Tables.documents(s, d))),
    // --- multinomial Naive Bayes source classifier on the 20% holdout ---
    "text_nb_classify" -> ((s, d) =>
      graft.text.NaiveBayes.classifyBySource(Tables.documents(s, d))),
    // --- per-class P/R/F1 margins of the NB classifier ---
    "text_nb_eval" -> ((s, d) =>
      graft.text.NaiveBayes.evaluateBySource(Tables.documents(s, d))),
    // --- kNN majority-vote label classification of the embedding holdout ---
    "embed_knn_classify" -> ((s, d) =>
      graft.similarity.Ann.knnClassify(Tables.embeddings(s, d))),
    // interpolated Kneser-Ney bigram LM (Chen & Goodman 1998)
    "text_kn_bigram" -> ((s, d) => graft.text.Bm25.knBigramLogprob(Tables.documents(s, d))),
    // --- similarity search over embeddings (north star) ---
    "ann_topk_brute" -> ((s, d) => Ann.bruteForceTopK(Tables.embeddings(s, d))),
    // --- MMR diversified rerank over the brute-force candidate set ---
    "ann_mmr_rerank" -> ((s, d) => Ann.mmrRerank(Tables.embeddings(s, d))),
    // product quantization (16 codes/vector, 32x compression):
    // deterministic fit/encode/ADC, so the distance-ratio and code-range
    // verdicts are pinned by the oracle
    "ann_topk_pq" -> ((s, d) => graft.similarity.Pq.pqChecked(Tables.embeddings(s, d))),
    "ann_topk_lsh"   -> ((s, d) => Ann.lshTopK(Tables.embeddings(s, d))),
    // --- index-quality gate: recall@5 of LSH and IVF vs exact brute top-5 ---
    "ann_recall"     -> ((s, d) => Ann.recallEval(Tables.embeddings(s, d))),
    "ann_topk_ivf"   -> ((s, d) => Ann.ivfTopK(Tables.embeddings(s, d))),
    // --- CDC-maintained IVF: posting lists updated incrementally under
    // frozen centroids (delete anti-join + insert-only assignment, work
    // ∝ delta), searched like the static index ---
    "q_ivm_ann"      -> ((s, d) => Ann.ivfMaintainedTopK(Tables.embeddings(s, d))),
    // IVF-PQ composite (FAISS IVFADC): coarse posting-list probe + PQ
    // residual ADC; deterministic end-to-end, quality verdicts pinned,
    // candidate cardinality cross-checked by the oracle's coarse replay
    "ann_topk_ivfpq" -> ((s, d) => graft.similarity.Pq.ivfPqChecked(Tables.embeddings(s, d))),
    // Gonzalez greedy k-center (farthest-point coreset): k scan-cost
    // rounds, selected set is driver model state, full trajectory
    // replayed by the oracle's unrolled CTE rounds
    "embed_kcenter" -> ((s, d) => graft.similarity.Kcenter.kcenterSelect(Tables.embeddings(s, d))),
    // trained-centroid path: 2 Lloyd iterations, fully oracle-replayed
    "ann_kmeans" -> ((s, d) => Ann.kmeansAssign(Tables.embeddings(s, d))),
    // --- k-means|| seeding (Bahmani VLDB'12): O(rounds) passes, md5-tape
    // sampling, weighted farthest-point recluster — the 100 TB init path ---
    "ann_kmeanspp_init" -> ((s, d) =>
      Ann.kmeansParallelInit(Tables.embeddings(s, d))),
    // --- simplified silhouette: the internal quality number that picks k ---
    "embed_silhouette" -> ((s, d) => Ann.kmeansSilhouette(Tables.embeddings(s, d))),
    // --- SemDeDup: within-cluster semantic dedup, farthest-from-centroid
    // survivors (Abbas et al. 2023); same 0.35 near-dup band as embed_neardup ---
    "embed_semdedup" -> ((s, d) => Ann.semDedup(Tables.embeddings(s, d))),
    // synthetic corpus peaks near cosine 0.5 → 0.35 keeps output non-empty
    "embed_neardup"  -> ((s, d) =>
      Ann.nearDupPairs(Tables.embeddings(s, d), threshold = 0.35)),
    // hard negatives: informative-but-not-duplicate band below the
    // near-dup ceiling (contrastive-training curriculum)
    "embed_hard_negatives" -> ((s, d) =>
      Ann.hardNegatives(Tables.embeddings(s, d))),
    // labeled contrastive manifest: all exact positives >= 0.35 plus the
    // top-5 negatives from the adjacent band, per anchor
    "embed_contrastive" -> ((s, d) =>
      Ann.contrastivePairs(Tables.embeddings(s, d))),
    // --- multimodal binary columns (north star; codec decode is stubbed) ---
    // checked projection: byte_entropy stays library-only (multi-term float
    // fold, engine-specific ulps); everything else replays exactly in DuckDB
    "mm_features" -> ((s, d) => {
      import s.implicits._
      Multimodal.decodeFeatures(
        Multimodal.packSynthetic(Tables.documents(s, d))
          .as[Multimodal.MediaRecord]).toDF()
        .select("media_id", "kind", "n_bytes", "byte_mean", "phash")
    }),
    // raw frame bytes stay internal (binary columns don't survive the
    // driver's pandas-level row sort); the checked output carries a sha256
    // digest + length per frame instead
    "mm_frames" -> ((s, d) => {
      import org.apache.spark.sql.functions.{col, length, sha2}
      Multimodal.frameSample(Multimodal.packSynthetic(Tables.documents(s, d)))
        .select(col("media_id"), col("kind"), col("frame_idx"),
          sha2(col("frame_bytes"), 256).as("frame_sha"),
          length(col("frame_bytes")).as("frame_len"))
    }),
    // --- REAL WAV round-trip: synthPcm → RIFF/WAVE encode → javax.sound
    // decode → exact integer features; the oracle computes the same
    // features straight from the generating formula, so the hash match
    // proves the codec path is lossless (not a replay of itself) ---
    "mm_audio" -> ((s, d) => {
      import s.implicits._
      Multimodal.audioFeatures(
        Multimodal.packSyntheticWavs(Tables.documents(s, d))).toDF()
    }),
    // --- REAL animated-GIF round-trip: synthetic grayscale frames →
    // multi-frame GIF encode → javax.imageio demux+decode → exact
    // per-frame integer features (intensity/bright/SAD motion); oracle
    // recomputes from the generating formula (mm_audio contract) ---
    "mm_video" -> ((s, d) => {
      import s.implicits._
      Multimodal.videoFrameFeatures(
        Multimodal.packSyntheticGifs(Tables.documents(s, d))).toDF()
    }),
    // --- as-of join: each event matched to the customer's latest prior order ---
    "q_asof_join" -> ((s, d) => {
      val ev = Tables.events(s, d).select("event_id", "user_id", "ts")
      val ord = AsOfJoin.latestPerKeyTs(
        Tables.orders(s, d).select("o_orderkey", "o_custkey", "o_orderdate", "o_totalprice"),
        "o_custkey", "o_orderdate", "o_orderkey")
      AsOfJoin.asOf(ev, ord, "user_id", "o_custkey", "ts", "o_orderdate",
        Seq("o_orderkey", "o_orderdate", "o_totalprice"))
    }),
    // --- deterministic per-class sampling (train/eval split primitive) ---
    "q_sample_per_class" -> ((s, d) =>
      Sampling.hashSamplePerGroup(
        Tables.embeddings(s, d).select("vec_id", "label"), "label", "vec_id", 5)),
    // --- DSIR importance weights: target = English docs, top 50 ---
    "q_dsir_weights" -> ((s, d) =>
      Sampling.dsirWeights(Tables.documents(s, d), col("lang") === "en")
        .orderBy(desc("weight_micro"), col("doc_id")).limit(50)),
    // --- end-to-end curation composite (quality → dedup → near-dup → sample) ---
    "pipeline_curate" -> ((s, d) =>
      graft.pipeline.Curation.curate(Tables.documents(s, d))),
    // --- cross-modal curation manifest: text MinHash losers + the
    // image/audio/video perceptual near-dup losers pivoted into one
    // keep/drop flag row per document (round-7 verdict #6) ---
    "pipeline_mm_curate" -> ((s, d) =>
      graft.pipeline.Curation.curateMultimodal(Tables.documents(s, d))),
    // --- training-sequence packing (distributed prefix sum, no 1-partition window) ---
    "pack_assign" -> ((s, d) =>
      graft.operators.Packing.packSequences(Tables.documents(s, d))),
    // --- the whole corpus→sequences pipeline, differentially checked ---
    "pipeline_corpus_prep" -> ((s, d) =>
      graft.pipeline.Curation.prepareCorpus(Tables.documents(s, d))),
    // --- market-basket lift: co-bought part pairs, exact integer lift ---
    "q_market_basket" -> ((s, d) => {
      val (itemCnt, nBaskets) = basketItemStats(s, d)
      graft.analytics.Baskets.pairLiftOnCounts(
          coBoughtCounts(s, d), itemCnt, nBaskets)
        .select(col("item_a").as("part_a"), col("item_b").as("part_b"),
          col("c_pair"), col("lift"))
    }),
    // --- triangle count over the co-bought-parts graph (degree-oriented) ---
    "q_triangles" -> ((s, d) =>
      graft.analytics.Triangles.triangleCount(
        coBoughtEdges(s, d), "item_a", "item_b", canonical = true)),
    // --- bounded k-truss peel: edges embedded in >= k-2 triangles,
    // degree-oriented enumeration per round (vs the oracle's id-ordered
    // triple join - a real differential) ---
    "q_ktruss" -> ((s, d) =>
      graft.analytics.Triangles.kTruss(
        coBoughtEdges(s, d), "item_a", "item_b", canonical = true)),
    // --- k-truss peeled to FIXPOINT (unchanged-count early exit): the
    // TRUE maximal 4-truss, not a bounded demonstration. maxRounds is
    // TIED to the oracle unroll (ktrussOracleRounds threshold rounds +
    // the fixpoint-confirming round) and requireConverged makes a peel
    // deeper than the oracle's idempotence margin a LOUD engine error
    // instead of a silent hash mismatch (round-9 advice finding) ---
    "q_ktruss_converged" -> ((s, d) =>
      graft.analytics.Triangles.kTrussConverged(
        coBoughtEdges(s, d), "item_a", "item_b", canonical = true,
        maxRounds = ktrussOracleRounds + 1, requireConverged = true)),
    // --- per-part local clustering coefficient over the co-bought graph ---
    "q_clustering_coef" -> ((s, d) =>
      graft.analytics.Triangles.clusteringCoefficient(
        coBoughtEdges(s, d), "item_a", "item_b", canonical = true)),
    // --- deterministic synchronous LPA communities over the same graph ---
    "q_label_prop" -> ((s, d) =>
      graft.analytics.LabelProp.labelPropagation(
        coBoughtSym(s, d), "item_a", "item_b", symmetric = true)),
    // --- multi-source BFS hop distance from the top-degree hubs ---
    // NOTE (round 13): bfs/harmonic/betweenness/hyperball KEEP the
    // canonical materialize — switching them to the checkpointed sym
    // relation (coBoughtSym) was tried and REVERTED: their frontier
    // rounds' post-shuffle stages collapsed to 2 AQE-coalesced tasks
    // against the LogicalRDD-leaf edge relation and the four queries
    // measured 1.4-2.3x SLOWER (bench 2026-08-19; A/B details in
    // OPTIMIZATION_r13.md)
    "q_bfs_hops" -> ((s, d) =>
      graft.analytics.Bfs.hubDistances(
        coBoughtEdges(s, d), "item_a", "item_b", canonical = true)),
    // --- HyperANF neighbourhood function + 90% effective diameter:
    // md5-register HLL counters MAXed along edges, register-exact
    // DuckDB replay (Boldi/Rosa/Vigna WWW'11) ---
    "q_hyperanf" -> ((s, d) =>
      graft.analytics.HyperAnf.effectiveDiameterFromCurve(s, hanfCurve(s, d))),
    // --- spid (variance/mean of the distance distribution) from the
    // same register-exact HyperANF curve ---
    "q_graph_spid" -> ((s, d) =>
      graft.analytics.HyperAnf.distanceStatsFromCurve(s, hanfCurve(s, d))),
    // --- HyperBall approximate closeness (Lin's index) for ALL nodes,
    // top-20 — the sketch-scale rung beside landmark-exact harmonic ---
    "q_hyperball_closeness" -> ((s, d) =>
      graft.analytics.HyperAnf.closenessTopK(
        coBoughtEdges(s, d), "item_a", "item_b", canonical = true)),
    // --- Newman modularity of the LPA partition (one exact expression) ---
    "q_modularity" -> ((s, d) =>
      graft.analytics.LabelProp.modularity(
        coBoughtSym(s, d), "item_a", "item_b", symmetric = true)),
    // --- bounded k-core peeling over the co-bought graph ---
    "q_kcore" -> ((s, d) =>
      graft.analytics.GraphStats.kCore(
        coBoughtSym(s, d), "item_a", "item_b", symmetric = true)),
    // --- degree assortativity: do hub parts co-sell with hub parts? ---
    "q_degree_assort" -> ((s, d) =>
      graft.analytics.GraphStats.degreeAssortativity(
        coBoughtSym(s, d), "item_a", "item_b", symmetric = true)),
    // --- weighted shortest paths: delta-frontier Bellman-Ford over
    // affinity distances (10^6 div co-purchase count) ---
    "q_sssp_weighted" -> ((s, d) =>
      graft.analytics.Sssp.weightedDistances(
        graft.analytics.Sssp.affinityEdgesFromCounts(coBoughtCounts(s, d)))),
    // --- link prediction: top non-adjacent pairs by resource-allocation ---
    "q_link_pred" -> ((s, d) =>
      Breadth4.linkPrediction(coBoughtEdges(s, d), "item_a", "item_b")),
    // --- rolling 7-day distinct active users (sliding WAU) ---
    "q_rolling_active" -> ((s, d) =>
      Breadth4.rollingActiveUsers(Tables.events(s, d))),
    // --- the mergeable-sketch scale path: per-day HLLs union-merged ---
    "q_rolling_hll" -> ((s, d) =>
      Breadth4.rollingActiveHll(Tables.events(s, d))),
    // --- Spearman rank correlation: balance vs lifetime spend ---
    "q_spearman" -> ((s, d) =>
      Breadth4.spearmanBalanceVsSpend(Tables.customer(s, d), Tables.orders(s, d))),
    // --- delete-one-bucket jackknife SE of the mean order value ---
    "q_jackknife" -> ((s, d) =>
      Breadth4.jackknifeMeanSe(Tables.orders(s, d))),
    // --- time-to-convert histogram: first view -> first purchase ---
    "q_conversion_lag" -> ((s, d) =>
      Breadth4.conversionLag(Tables.events(s, d))),
    // --- repeat-purchase rate by acquisition cohort ---
    "q_repeat_rate" -> ((s, d) =>
      Breadth4.cohortRepeatRate(Tables.orders(s, d))),
    // --- TPC-H Q8-shaped national market share (6-table star join) ---
    "q_market_share" -> ((s, d) =>
      Breadth4.marketShare(Tables.region(s, d), Tables.nation(s, d),
        Tables.customer(s, d), Tables.orders(s, d), Tables.lineitem(s, d),
        Tables.supplier(s, d), Tables.part(s, d))),
    // --- Kaplan-Meier / Nelson-Aalen time-to-repeat life table ---
    "q_survival" -> ((s, d) =>
      Breadth5.survivalCurve(Tables.orders(s, d))),
    // --- nDCG@10 of the BM25 ranking vs source/lang graded relevance ---
    "q_ndcg" -> ((s, d) =>
      Breadth5.ndcgAtK(Tables.documents(s, d))),
    // --- reliability bins + Brier score: balance score vs repeat label ---
    "q_calibration" -> ((s, d) =>
      Breadth5.calibrationBins(Tables.customer(s, d), Tables.orders(s, d))),
    // --- U-shaped (40/20/40) multi-touch attribution of first purchases ---
    "q_attribution_position" -> ((s, d) =>
      Breadth5.positionAttribution(Tables.events(s, d))),
    // --- landmark harmonic centrality over the co-bought graph ---
    "q_harmonic" -> ((s, d) =>
      graft.analytics.Harmonic.landmarkHarmonic(
        coBoughtEdges(s, d), "item_a", "item_b", canonical = true)),
    // --- landmark-sampled Brandes betweenness (exact sigma, nano delta) ---
    "q_betweenness" -> ((s, d) =>
      graft.analytics.Betweenness.landmarkBetweenness(
        coBoughtEdges(s, d), "item_a", "item_b", canonical = true)),
    // --- MAP@10 / MRR of the BM25 ranking (binary source relevance) ---
    "q_map_mrr" -> ((s, d) =>
      Breadth5.mapMrrAtK(Tables.documents(s, d))),
    // --- Jensen-Shannon divergence: each source vs the corpus ---
    "text_jsd" -> ((s, d) =>
      graft.text.Divergence.sourceTokenJsd(Tables.documents(s, d))),
    // --- temporal-holdout hit-rate@rank of the item-item CF model ---
    "q_cf_eval" -> ((s, d) =>
      graft.analytics.Baskets.cfHitRate(
        Tables.lineitem(s, d), Tables.orders(s, d))),
    // --- DeepWalk corpus: deterministic truncated random walks ---
    "q_random_walks" -> ((s, d) =>
      graft.analytics.GraphSample.randomWalks(
        coBoughtEdges(s, d), "item_a", "item_b")),
    // --- GraphSAGE fanout: deterministic k1 x k2 two-hop samples ---
    "q_neighbor_sample" -> ((s, d) =>
      graft.analytics.GraphSample.neighborSample(
        coBoughtEdges(s, d), "item_a", "item_b")),
    // --- word2vec skip-gram (center, context) training-pair counts ---
    "text_skipgrams" -> ((s, d) =>
      TextOps.skipgramPairs(Tables.documents(s, d))),
    // --- Wasserstein-1 drift: integrated CDF gap beside KS's max gap ---
    "q_wasserstein" -> ((s, d) =>
      graft.analytics.Drift.wassersteinDrift(Tables.documents(s, d))),
    // --- LSH audit: precision/recall of banded MinHash vs exact Jaccard ---
    "dedup_eval" -> ((s, d) =>
      Dedup.lshEval(Tables.documents(s, d))),
    // --- TextRank keywords: PageRank over the word co-occurrence graph ---
    "text_textrank" -> ((s, d) =>
      graft.text.TextRank.keywords(Tables.documents(s, d))),
    // --- per-hour W1 drift gate vs the corpus reference histogram ---
    "q_drift_windows" -> ((s, d) =>
      graft.analytics.Drift.hourlyValueDrift(Tables.events(s, d))),
    // --- Wald SPRT: daily cumulative LLR with nano-literal increments ---
    "q_sprt" -> ((s, d) =>
      graft.analytics.Experiments.sprtDaily(Tables.events(s, d))),
    // --- CUPED variance reduction from exact integer-cents power sums ---
    "q_cuped" -> ((s, d) =>
      graft.analytics.Experiments.cuped(Tables.events(s, d))),
    // --- Poisson-bootstrap SE: md5-uniform inverse-CDF weights ---
    "q_poisson_bootstrap" -> ((s, d) =>
      graft.analytics.Experiments.poissonBootstrap(Tables.orders(s, d))),
    // --- Mann-Whitney U: nonparametric arm test on exact grouped ranks ---
    "q_mannwhitney" -> ((s, d) =>
      graft.analytics.Experiments.mannWhitney(Tables.orders(s, d))),
    // --- feature hashing: fixed-dim signed token features, no vocab pass ---
    "text_feature_hash" -> ((s, d) =>
      TextOps.featureHash(Tables.documents(s, d))),
    // --- isotonic (PAV) calibration via the closed-form minimax identity ---
    "q_isotonic" -> ((s, d) =>
      graft.analytics.Experiments.isotonicCalibration(
        Tables.customer(s, d), Tables.orders(s, d))),
    // --- split-conformal interval for the seasonal-naive forecast ---
    "q_conformal" -> ((s, d) =>
      graft.analytics.Experiments.conformalInterval(Tables.orders(s, d))),
    // --- SRM gate: chi-square of the arm split, the pre-metric check ---
    "q_srm" -> ((s, d) =>
      graft.analytics.Experiments.sampleRatioMismatch(Tables.events(s, d))),
    // --- ABC/Pareto part classes on the distributed prefix sum ---
    "q_pareto_abc" -> ((s, d) =>
      graft.analytics.Metrics.paretoAbc(Tables.lineitem(s, d))),
    // --- maintained top-10 parts-by-quantity view under a CDC batch ---
    "q_ivm_topk" -> ((s, d) => {
      import org.apache.spark.sql.functions.{count, lit, sum}
      val li = Tables.lineitem(s, d)
      val qty = col("l_quantity").cast("long")
      // old state: the 13th stripe not yet ingested
      val old = li.filter(col("l_orderkey") % 13 =!= 0)
      val base = old.groupBy(col("l_partkey"))
        .agg(count(lit(1)).as("cnt"), sum(qty).as("total"))
      // batch: the stripe arrives; the 17-stripe of old rows retracts
      val ins = li.filter(col("l_orderkey") % 13 === 0)
        .select(col("l_partkey"), qty.as("q"), lit(false).as("is_delete"))
      val del = li.filter(col("l_orderkey") % 13 =!= 0 &&
          col("l_orderkey") % 17 === 3)
        .select(col("l_partkey"), qty.as("q"), lit(true).as("is_delete"))
      graft.operators.Ivm.topKView(base, ins.unionByName(del),
        Seq("l_partkey"), "q", k = 10)
    }),
    // --- HITS hubs/authorities: exact integer fixed-point, L1 renorm ---
    "q_hits" -> ((s, d) =>
      graft.analytics.Hits.hitsOnEdges(purchaseEdges(s, d))),
    // --- item-item CF: top-5 co-bought neighbors by exact-count cosine ---
    "q_item_cf" -> ((s, d) =>
      graft.analytics.Baskets.itemNeighborsOnCounts(
        coBoughtCounts(s, d), basketItemStats(s, d)._1)),
    // --- truncated EWMA volume smoothing (dyadic weights: exact sums) ---
    "q_ewma" -> ((s, d) =>
      graft.analytics.Drift.ewmaMonthlyOrders(Tables.orders(s, d))),
    // --- seasonal-naive forecast baseline with per-month APE ---
    "q_forecast_naive" -> ((s, d) =>
      graft.analytics.Drift.seasonalNaiveBacktest(Tables.orders(s, d))),
    // --- Brown's double exponential smoothing: level/trend forecast ---
    "q_forecast_brown" -> ((s, d) =>
      graft.analytics.Drift.brownSmoothing(Tables.orders(s, d))),
    // --- Holt-Winters additive seasonal (truncated-window form):
    // level + trend + same-calendar-month residual component ---
    "q_forecast_hw" -> ((s, d) =>
      graft.analytics.Drift.holtWinters(Tables.orders(s, d))),
    // --- Welch A/B t-test from exact power sums ---
    "q_ab_ttest" -> ((s, d) =>
      graft.analytics.Metrics.welchTTest(Tables.orders(s, d))),
    // --- first/last-touch revenue attribution over user timelines ---
    "q_attribution" -> ((s, d) =>
      Breadth3.touchAttribution(Tables.events(s, d))),
    // --- RFM quintile segmentation on the scalable NTILE ---
    "q_rfm" -> ((s, d) => Breadth3.rfmSegments(Tables.orders(s, d))),
    // --- cohort LTV matrix: money-weighted retention ---
    "q_cohort_ltv" -> ((s, d) => Breadth3.cohortLtv(Tables.orders(s, d))),
    // --- asymmetric n-gram containment (quote/excerpt detector) ---
    "dedup_containment" -> ((s, d) =>
      Dedup.containmentPairs(Tables.documents(s, d))),
    // --- closed-form 2-regressor OLS from exact power sums ---
    "q_ols" -> ((s, d) => graft.analytics.Ols.priceModel(Tables.lineitem(s, d))),
    // --- least-squares trend slope per supplier, exact integer sums ---
    // slope = (nΣxy − ΣxΣy) / (nΣx² − (Σx)²) with x = month index and
    // y = integer quantity: every sum is an exact long, the slope is ONE
    // IEEE division — bit-identical cross-engine where regr_slope's
    // running float sums would drift by partition order
    "q_trend_slope" -> ((s, d) => {
      import org.apache.spark.sql.functions.{count, month, sum, when, year}
      // floor() BEFORE the long cast: Spark's double→long cast truncates
      // toward zero while DuckDB's rounds half-even — the engines agree
      // today only because TPC-H quantities are integral. An explicit
      // floor on BOTH sides (quantities are positive, so floor==truncate
      // here) pins identical semantics for any fractional source.
      val pts = Tables.lineitem(s, d).select(col("l_suppkey"),
        (year(col("l_shipdate")) * 12 + month(col("l_shipdate"))).cast("long").as("x"),
        org.apache.spark.sql.functions.floor(col("l_quantity")).cast("long").as("y"))
      pts.groupBy("l_suppkey")
        .agg(count(lit(1)).as("n"), sum(col("x")).as("sx"), sum(col("y")).as("sy"),
          sum(col("x") * col("y")).as("sxy"), sum(col("x") * col("x")).as("sxx"))
        .select(col("l_suppkey"), col("n"),
          when(col("n") * col("sxx") - col("sx") * col("sx") === 0, lit(null))
            .otherwise((col("n") * col("sxy") - col("sx") * col("sy")).cast("double") /
              (col("n") * col("sxx") - col("sx") * col("sx")).cast("double"))
            .as("qty_slope"))
    }),
    // --- point-in-time join: events to the SCD2 status valid at event time ---
    "q_pit_join" -> ((s, d) => {
      import org.apache.spark.sql.functions.to_date
      val hist = Breadth3.scd2StatusHistory(Tables.orders(s, d))
        .select("o_custkey", "status", "eff_from", "eff_to")
      val ev = Tables.events(s, d)
        .select(col("event_id"), col("user_id"), to_date(col("ts")).as("event_date"))
      AsOfJoin.pointInTime(ev, hist, "user_id", "o_custkey", "event_date")
        .select("event_id", "user_id", "event_date", "status", "eff_from")
    }),
    // --- DBSCAN density clustering over embeddings (LSH blocks + components) ---
    "embed_dbscan" -> ((s, d) =>
      graft.similarity.Dbscan.dbscan(Tables.embeddings(s, d))),
    // --- incremental view maintenance: monthly agg updated from a CDC delta ---
    // updates are delete(before-image)+insert(after-image) pairs; the
    // oracle RECOMPUTES the view from the merged snapshot, so the hash
    // match proves incremental == recompute (exact decimals make the
    // equality bit-level)
    "q_ivm_monthly" -> ((s, d) => {
      import org.apache.spark.sql.functions.{count, date_trunc, lit, sum}
      import org.apache.spark.sql.types.DecimalType
      val ord = Tables.orders(s, d)
      val price = col("o_totalprice").cast(DecimalType(18, 2))
      val month = date_trunc("month", col("o_orderdate")).cast("date").as("month_start")
      val base = ord.groupBy(month)
        .agg(count(lit(1)).as("cnt"), sum(price).as("total"))
      val upd = ord.filter(col("o_orderkey") % 10 === 3)
      val bump = lit(new java.math.BigDecimal("100.00"))
      val changes = upd.select(month, price.as("v"), lit(true).as("is_delete"))
        .unionByName(upd.select(month,
          (price + bump).cast(DecimalType(18, 2)).as("v"), lit(false).as("is_delete")))
        .unionByName(ord.filter(col("o_orderkey") % 10 === 7)
          .select(month, price.as("v"), lit(true).as("is_delete")))
        .unionByName(ord.filter(col("o_orderkey") % 10 === 5)
          .select(month, price.as("v"), lit(false).as("is_delete")))
      graft.operators.Ivm.applyDelta(base, changes, Seq("month_start"), "v")
        .select(col("month_start"), col("cnt"), col("total").cast("double").as("total"))
    }),
    // --- IVM power sums (cnt, Σx, Σx²): AVG/VAR views under exact decimal
    // retraction — same delta recipe as q_ivm_monthly, variance derived
    // at read time with the identical double shape as the oracle ---
    "q_ivm_variance" -> ((s, d) => {
      import org.apache.spark.sql.functions.{count, date_trunc, lit, sum}
      import org.apache.spark.sql.types.DecimalType
      val ord = Tables.orders(s, d)
      val price = col("o_totalprice").cast(DecimalType(18, 2))
      val month = date_trunc("month", col("o_orderdate")).cast("date").as("month_start")
      val base = ord.groupBy(month)
        .agg(count(lit(1)).as("cnt"), sum(price).as("sx"),
          sum(price * price).as("sx2"))
      val upd = ord.filter(col("o_orderkey") % 10 === 3)
      val bump = lit(new java.math.BigDecimal("100.00"))
      val changes = upd.select(month, price.as("v"), lit(true).as("is_delete"))
        .unionByName(upd.select(month,
          (price + bump).cast(DecimalType(18, 2)).as("v"), lit(false).as("is_delete")))
        .unionByName(ord.filter(col("o_orderkey") % 10 === 7)
          .select(month, price.as("v"), lit(true).as("is_delete")))
        .unionByName(ord.filter(col("o_orderkey") % 10 === 5)
          .select(month, price.as("v"), lit(false).as("is_delete")))
      val n = col("cnt").cast("double")
      // variance numerator n·Σx² − (Σx)² stays EXACT decimal (≤ 24 digits)
      // and converts via string: decimal→double of a > 2⁵³-quanta value
      // double-rounds in DuckDB, while a decimal STRING parses correctly
      // rounded on both engines (Σx itself is < 2⁵³ quanta — plain cast)
      val varNumRaw = col("cnt") * col("sx2") - col("sx") * col("sx")
      // a decimal overflow past the ~24-digit headroom returns NULL
      // silently in Spark's non-ANSI mode while DuckDB's HUGEINT path
      // errors loudly — fail loudly here too instead of publishing a
      // null var_pop (null-from-non-null inputs IS the overflow signal)
      val varNum = when(
        varNumRaw.isNull && col("cnt").isNotNull &&
          col("sx").isNotNull && col("sx2").isNotNull,
        org.apache.spark.sql.functions.raise_error(concat(
          lit("q_ivm_variance: decimal overflow in cnt*sx2 - sx*sx at month "),
          col("month_start").cast("string")))).otherwise(varNumRaw)
      graft.operators.Ivm.applyDeltaStats(base, changes, Seq("month_start"), "v")
        .select(col("month_start"), col("cnt"),
          (col("sx").cast("double") / n).as("mean"),
          (varNum.cast("string").cast("double") / (n * n)).as("var_pop"))
    }),
    // --- IVM for NON-self-maintainable aggregates: min/max under deletes
    // that hit the stored extremum (guaranteed: every month's max rows are
    // deleted), repaired per dirty group from the post-batch base ---
    "q_ivm_minmax" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      import org.apache.spark.sql.functions.{count, date_trunc, lit, max, min}
      import org.apache.spark.sql.types.DecimalType
      val ord = Tables.orders(s, d)
      val price = col("o_totalprice").cast(DecimalType(18, 2))
      val month = date_trunc("month", col("o_orderdate")).cast("date").as("month_start")
      val rows = ord.select(month, price.as("p"), col("o_orderkey"))
        .withColumn("mxp", max(col("p")).over(Window.partitionBy(col("month_start"))))
      val base = ord.groupBy(month)
        .agg(count(lit(1)).as("cnt"), min(price).as("mn"), max(price).as("mx"))
      val bump = lit(new java.math.BigDecimal("1000.00"))
      val delMax = rows.filter(col("p") === col("mxp"))
        .select(col("month_start"), col("p").as("v"), lit(true).as("is_delete"))
      val delMod = rows.filter(col("p") =!= col("mxp") && col("o_orderkey") % 10 === 7)
        .select(col("month_start"), col("p").as("v"), lit(true).as("is_delete"))
      val ins = ord.filter(col("o_orderkey") % 10 === 5)
        .select(month, (price + bump).cast(DecimalType(18, 2)).as("v"),
          lit(false).as("is_delete"))
      val changes = delMax.unionByName(delMod).unionByName(ins)
      val baseAfter = rows
        .filter(!(col("p") === col("mxp") || col("o_orderkey") % 10 === 7))
        .select(col("month_start"), col("p").as("v"))
        .unionByName(ins.select(col("month_start"), col("v")))
      graft.operators.Ivm
        .applyDeltaMinMax(base, changes, baseAfter, Seq("month_start"), "v")
        .select(col("month_start"), col("cnt"),
          col("mn").cast("double").as("mn"), col("mx").cast("double").as("mx"))
    }),
    // --- IVM for a JOIN view: bilinear delta rule over lineitem⋈orders,
    // folded into the stored per-priority aggregate — never re-joins the
    // full bases (oracle recomputes the post-batch join from scratch) ---
    "q_ivm_join" -> ((s, d) => {
      import org.apache.spark.sql.functions.lit
      import org.apache.spark.sql.types.DecimalType
      val ord = Tables.orders(s, d); val li = Tables.lineitem(s, d)
      val price = col("l_extendedprice").cast(DecimalType(18, 2))
      // old state: the 13th stripe of each base not yet ingested
      val aOld = ord.filter(col("o_orderkey") % 13 =!= 0)
        .select(col("o_orderkey"), col("o_orderpriority"))
      val bOld = li.filter(col("l_orderkey") % 13 =!= 0)
        .select(col("l_orderkey"), col("l_linenumber"), price.as("price"))
      val base = aOld.join(bOld, col("o_orderkey") === col("l_orderkey"))
        .groupBy("o_orderpriority")
        .agg(org.apache.spark.sql.functions.count(lit(1)).as("cnt"),
          org.apache.spark.sql.functions.sum(col("price")).as("total"))
      // batch: the stripe arrives on both sides; some old rows retract
      val dA = ord.filter(col("o_orderkey") % 13 === 0)
        .select(col("o_orderkey"), col("o_orderpriority"), lit(false).as("is_delete"))
        .unionByName(ord
          .filter(col("o_orderkey") % 13 =!= 0 && col("o_orderkey") % 17 === 3)
          .select(col("o_orderkey"), col("o_orderpriority"), lit(true).as("is_delete")))
      val dB = li.filter(col("l_orderkey") % 13 === 0)
        .select(col("l_orderkey"), col("l_linenumber"), price.as("price"),
          lit(false).as("is_delete"))
        .unionByName(li.filter(col("l_orderkey") % 13 =!= 0 &&
            (col("l_orderkey") + col("l_linenumber")) % 19 === 2)
          .select(col("l_orderkey"), col("l_linenumber"), price.as("price"),
            lit(true).as("is_delete")))
      val changes = graft.operators.Ivm
        .joinViewChanges(aOld, dA, bOld, dB, "o_orderkey", "l_orderkey")
        .select(col("o_orderpriority"), col("price").as("v"), col("is_delete"))
      graft.operators.Ivm.applyDelta(base, changes, Seq("o_orderpriority"), "v")
        .select(col("o_orderpriority"), col("cnt"),
          col("total").cast("double").as("total"))
    }),
    // --- IVM for COUNT(DISTINCT): the q_monthly_active-style view kept
    // maintainable under inserts+deletes via the (group, value, cnt)
    // support relation — a value leaves when its multiplicity hits 0;
    // the oracle recomputes COUNT(DISTINCT) from the merged snapshot ---
    "q_ivm_distinct" -> ((s, d) => {
      import org.apache.spark.sql.functions.{count, date_trunc, lit}
      val ord = Tables.orders(s, d)
      val month = date_trunc("month", col("o_orderdate")).cast("date").as("month_start")
      // old state: the 13th stripe not yet ingested
      val old = ord.filter(col("o_orderkey") % 13 =!= 0)
      val support = old.groupBy(month, col("o_custkey"))
        .agg(count(lit(1)).as("cnt"))
      // batch: the stripe arrives; the 17-stripe of old orders retracts
      // (multi-order customers survive a partial delete, single-order
      // customers drop out of their month — both paths exercised)
      val ins = ord.filter(col("o_orderkey") % 13 === 0)
        .select(month, col("o_custkey"), lit(false).as("is_delete"))
      val del = ord.filter(col("o_orderkey") % 13 =!= 0 && col("o_orderkey") % 17 === 3)
        .select(month, col("o_custkey"), lit(true).as("is_delete"))
      val sup2 = graft.operators.Ivm.applyDeltaDistinct(support,
        ins.unionByName(del), Seq("month_start"), "o_custkey")
      graft.operators.Ivm.distinctCounts(sup2, Seq("month_start"),
        "o_custkey", "n_active")
    }),
    // --- maintained exact median per part under the same CDC stripes ---
    "q_ivm_median" -> ((s, d) => {
      import org.apache.spark.sql.functions.{count, lit}
      val li = Tables.lineitem(s, d)
      val qty = col("l_quantity").cast("long").as("qty")
      val old = li.filter(col("l_orderkey") % 13 =!= 0)
      val support = old.select(col("l_partkey"), qty)
        .groupBy("l_partkey", "qty").agg(count(lit(1)).as("cnt"))
      val ins = li.filter(col("l_orderkey") % 13 === 0)
        .select(col("l_partkey"), qty, lit(false).as("is_delete"))
      val del = li.filter(col("l_orderkey") % 13 =!= 0 &&
          col("l_orderkey") % 17 === 3)
        .select(col("l_partkey"), qty, lit(true).as("is_delete"))
      val sup2 = graft.operators.Ivm.applyDeltaDistinct(support,
        ins.unionByName(del), Seq("l_partkey"), "qty")
      graft.operators.Ivm.medianView(sup2, Seq("l_partkey"), "qty",
        outCol = "median_qty")
    }),
    // --- maintained APPROXIMATE p50/p95 via a log-bucket histogram
    // support (HDR-style digits+2-sig-digit buckets, <= 10% relative
    // width): the BOUNDED-model-state sibling of the exact median view
    // for scales where the per-distinct-value support is data-sized;
    // same CDC stripes, refresh cost ∝ batch ---
    "q_ivm_quantile" -> ((s, d) => {
      import org.apache.spark.sql.functions.{count, date_trunc, lit}
      val ord = Tables.orders(s, d)
      val cents = MoneyFunctions.cents(col("o_totalprice"))
      val month = date_trunc("month", col("o_orderdate")).cast("date")
        .as("month_start")
      val bucket = graft.operators.Ivm.logBucket(cents).as("bucket")
      val old = ord.filter(col("o_orderkey") % 13 =!= 0)
      val support = old.select(month, bucket)
        .groupBy("month_start", "bucket").agg(count(lit(1)).as("cnt"))
      val ins = ord.filter(col("o_orderkey") % 13 === 0)
        .select(month, bucket, lit(false).as("is_delete"))
      val del = ord.filter(col("o_orderkey") % 13 =!= 0 &&
          col("o_orderkey") % 17 === 3)
        .select(month, bucket, lit(true).as("is_delete"))
      val sup2 = graft.operators.Ivm.applyDeltaDistinct(support,
        ins.unionByName(del), Seq("month_start"), "bucket")
      graft.operators.Ivm.quantileView(sup2, Seq("month_start"), "bucket")
    }),
    // --- Neyman-optimal stratified sample allocation (∝ N_h·σ_h) ---
    "q_neyman_alloc" -> ((s, d) =>
      Sampling.neymanAllocation(Tables.orders(s, d), "o_orderpriority",
        "o_totalprice")),
    // --- temperature-0.5 corpus mixing: rates from counts, sqrt-exact ---
    "q_temperature_mix" -> ((s, d) =>
      Sampling.temperatureMix(Tables.documents(s, d), "source", "doc_id")),
    // --- 2-D skyline: customers on the (spend, recency) Pareto frontier ---
    "q_skyline" -> ((s, d) => {
      import org.apache.spark.sql.functions.max
      val per = Tables.orders(s, d).groupBy("o_custkey").agg(
        (MoneyFunctions.cents_sum(col("o_totalprice")) * 100)
          .cast("long").as("spend_cents"),
        max(col("o_orderdate")).as("last_order"))
      graft.operators.Skyline.skyline2D(per, "spend_cents", "last_order")
        .select("o_custkey", "spend_cents", "last_order")
    }),
    // --- HLL sketch rollup: nation sketches MERGE to region, no rescan ---
    // The scale point is re-aggregation: at 100 TB the per-nation
    // DataSketches HLL state (a few KB each) rolls up to region /
    // global levels by sketch union — the base relation is scanned
    // exactly once for every level of the hierarchy. Verdict-style
    // output (see q_approx_distinct): each engine asserts its own
    // estimator against its own exact count, and the hashed columns
    // are (group, exact, boolean) — sketch internals never cross.
    "q_hll_rollup" -> ((s, d) => {
      import org.apache.spark.sql.functions.{abs, count_distinct,
        hll_sketch_agg, hll_sketch_estimate, hll_union_agg}
      val base = Tables.customer(s, d)
        .join(Tables.nation(s, d), col("c_nationkey") === col("n_nationkey"))
        .join(Tables.region(s, d), col("n_regionkey") === col("r_regionkey"))
        .select("r_name", "n_name", "c_custkey")
      val perNation = base.groupBy("r_name", "n_name")
        .agg(hll_sketch_agg(col("c_custkey")).as("sk"))
      val merged = perNation.groupBy("r_name")
        .agg(hll_sketch_estimate(hll_union_agg(col("sk"))).as("approx_customers"))
      val exact = base.groupBy("r_name")
        .agg(count_distinct(col("c_custkey")).as("exact_customers"))
      exact.join(merged, "r_name")
        .select(col("r_name"), col("exact_customers"),
          (abs(col("approx_customers") - col("exact_customers")) <=
            col("exact_customers") * 0.05).as("rollup_ok"))
    }),
    // --- KMV/theta sketch: distinct + union + INTERSECTION estimates,
    // md5-exact replay (the sketch family HLL can't intersect) — customers
    // split before/after 1998-07-01 (NOT q_hll_intersect's 1995 split:
    // the late slice is deliberately small so the intersection estimator
    // exercises the sub-k exact branch) ---
    "q_kmv_sketch" -> ((s, d) =>
      graft.analytics.Kmv.kmvCompare(
        Tables.orders(s, d).select(
          when(col("o_orderdate").cast("date") <
            lit("1998-07-01").cast("date"), "early").otherwise("late")
            .as("grp"),
          col("o_custkey").as("id")),
        "early", "late")),
    // --- HLL inclusion-exclusion intersection vs exact, verdict row ---
    "q_hll_intersect" -> ((s, d) => {
      import org.apache.spark.sql.functions.{abs, count_distinct,
        hll_sketch_agg, hll_sketch_estimate, when}
      val c = Tables.orders(s, d).select(col("o_custkey").as("k"),
        (col("o_orderdate").cast("date") < lit("1995-01-01").cast("date"))
          .as("is_a"))
      graft.Caching.materialize(c) // feeds 5 aggregation branches
      val estA = c.filter(col("is_a"))
        .agg(hll_sketch_estimate(hll_sketch_agg(col("k"))).as("est_a"))
      val estB = c.filter(!col("is_a"))
        .agg(hll_sketch_estimate(hll_sketch_agg(col("k"))).as("est_b"))
      val estU = c.agg(hll_sketch_estimate(hll_sketch_agg(col("k"))).as("est_u"))
      val exact = c.agg(
        count_distinct(when(col("is_a"), col("k"))).as("n_a"),
        count_distinct(when(!col("is_a"), col("k"))).as("n_b"),
        count_distinct(col("k")).as("n_union"))
      exact.crossJoin(estA).crossJoin(estB).crossJoin(estU)
        .select(col("n_a"), col("n_b"),
          (col("n_a") + col("n_b") - col("n_union")).as("n_common"),
          // inclusion-exclusion estimate error is bounded by ~3 rse of
          // the three lgK=12 sketches (≈5% of the union at 3 sigma);
          // 8% of the exact union is the deterministic verdict bound
          (abs((col("est_a") + col("est_b") - col("est_u")) -
            (col("n_a") + col("n_b") - col("n_union")).cast("double")) <=
            col("n_union").cast("double") * 0.08)
            .as("inter_ok"))
    }),
    // --- t-closeness: EMD of the class balance-decile CDF vs global ---
    "q_tcloseness" -> ((s, d) =>
      graft.analytics.Privacy.tCloseness(Tables.customer(s, d))),
    // --- ε-DP histogram release: deterministic-draw Laplace mechanism ---
    "q_dp_counts" -> ((s, d) =>
      graft.analytics.Privacy.dpNoisyCounts(Tables.customer(s, d))),
    // --- winsorized robust summary: clip at exact p01/p99, cents-sum mean ---
    "q_winsorize" -> ((s, d) =>
      Breadth3.winsorizedStats(Tables.orders(s, d))),
    // --- Gini coefficient of per-customer revenue (tie-invariant rank form) ---
    "q_gini" -> ((s, d) =>
      graft.analytics.Metrics.giniRevenue(Tables.orders(s, d))),
    // --- exact Mann-Whitney AUC: price as a score for urgent priority ---
    "q_auc" -> ((s, d) =>
      graft.analytics.Metrics.aucPriceUrgency(Tables.orders(s, d))),
    // --- decile lift/gains: balance as propensity score, order as label ---
    "q_decile_lift" -> ((s, d) =>
      graft.analytics.Metrics.decileLift(
        Tables.customer(s, d), Tables.orders(s, d))),
    // --- leave-one-out mean-target encoding (leakage-safe) ---
    "q_target_encoding" -> ((s, d) =>
      graft.analytics.Metrics.targetEncoding(Tables.orders(s, d))),
    // --- order-independent md5-sum table fingerprint (anti-entropy) ---
    "q_table_checksum" -> ((s, d) =>
      graft.analytics.Metrics.tableChecksum(Tables.lineitem(s, d))),
    // --- mutual information nation x mktsegment (milli-quantized ln) ---
    "q_mutual_info" -> ((s, d) =>
      graft.analytics.Metrics.mutualInfo(Tables.customer(s, d))),
    // --- Benford first-digit audit of order totals ---
    "q_benford" -> ((s, d) =>
      graft.analytics.Metrics.benfordDigits(Tables.orders(s, d))),
    // --- lag-1..7 autocorrelation of the daily revenue series ---
    "q_acf" -> ((s, d) =>
      graft.analytics.Metrics.dailyAcf(Tables.orders(s, d))),
    // --- PageRank centrality over the co-purchase graph (integer fixed-point) ---
    "q_pagerank" -> ((s, d) => {
      val (edgesDeg, deg) = purchaseWalk(s, d)
      graft.analytics.PageRank.pagerankPrepared(edgesDeg, deg)
    }),
    // --- personalized PageRank: teleport restricted to the hub customers ---
    "q_ppr" -> ((s, d) => {
      val (edgesDeg, deg) = purchaseWalk(s, d)
      graft.analytics.PageRank.pprPrepared(edgesDeg, deg)
    }),
    // --- SCD1 MERGE: apply a deterministic CDC batch to the orders snapshot ---
    "q_merge_upsert" -> ((s, d) => {
      import org.apache.spark.sql.functions.{lit, not}
      import org.apache.spark.sql.types.DecimalType
      val ord = Tables.orders(s, d)
      val priceBump = lit(new java.math.BigDecimal("1.1"))
      val updates = ord.filter(col("o_orderkey") % 10 === 3)
        .withColumn("o_orderstatus", lit("U"))
        .withColumn("o_totalprice",
          (col("o_totalprice").cast(DecimalType(18, 2)) * priceBump).cast("double"))
        .withColumn("is_delete", lit(false))
      val deletes = ord.filter(col("o_orderkey") % 10 === 7)
        .withColumn("is_delete", lit(true))
      val inserts = ord.filter(col("o_orderkey") % 10 === 5)
        .withColumn("o_orderkey", col("o_orderkey") + lit(10000000L))
        .withColumn("o_orderstatus", lit("I"))
        .withColumn("is_delete", lit(false))
      graft.operators.Merge.scd1Merge(
        ord, updates.unionByName(deletes).unionByName(inserts), "o_orderkey")
    }),
    // --- snapshot diff: recover the I/U/D change set between two table
    // versions (the q_merge_upsert result vs its base) ---
    "q_snapshot_diff" -> ((s, d) => {
      val (ord, nextSnap) = orderSnapshots(s, d)
      graft.operators.Merge.snapshotDiff(ord, nextSnap, "o_orderkey")
    }),
    // --- per-column profile drift between the same two snapshots ---
    "q_profile_diff" -> ((s, d) => {
      val (ord, nextSnap) = orderSnapshots(s, d)
      graft.etl.Profile.profileDiff(ord, nextSnap, profileDiffCols)
    }),
    // --- filter-cascade attrition audit: per-rule enter/killed/fail/marginal ---
    "text_filter_funnel" -> ((s, d) => TextOps.filterFunnel(Tables.documents(s, d))),
    // --- token-budget sampler: per-source corpus slice in md5 tape order ---
    "q_token_budget" -> ((s, d) =>
      graft.operators.Sampling.tokenBudgetSample(Tables.documents(s, d))),
    // --- water-filling mixture allocation: uniform target shares under
    // per-source availability caps, saturation surplus redistributed ---
    "q_mix_waterfill" -> ((s, d) => {
      val out = graft.operators.Sampling.waterfillAllocate(Tables.documents(s, d))
      // the engine iterates to the fixpoint; the DuckDB twin unrolls 32
      // rounds, enough iff #sources (= output rows, the cascade bound)
      // <= 32 — fail loudly here instead of hash-mismatching at the gate
      // if the fixture ever outgrows the unroll (self-review finding)
      require(out.count() <= 32,
        "waterfill oracle unroll (32 rounds) < #sources — bump waterfillOracleSql rounds")
      out
    }),
    // --- exact two-sample KS drift of n_chars between even/odd sources ---
    "q_ks_drift" -> ((s, d) => graft.analytics.Drift.ksDrift(Tables.documents(s, d))),
    // --- PSI over binned doc lengths between the same corpus halves ---
    "q_psi_drift" -> ((s, d) => graft.analytics.Drift.psiDrift(Tables.documents(s, d))),
    // --- chi-square homogeneity of the event-type mix between halves ---
    "q_chisq_drift" -> ((s, d) => graft.analytics.Drift.chiSquareDrift(Tables.events(s, d))),
    // CUSUM change-point: integer-cents argmax of |n·C_t − t·T|
    "q_changepoint" -> ((s, d) =>
      graft.analytics.Drift.cusumChangepoint(Tables.orders(s, d))),
    // additive trend/seasonal/residual split, exact-rational detrending
    "q_seasonal" -> ((s, d) =>
      graft.analytics.Drift.seasonalDecompose(Tables.orders(s, d))),
    // --- repeated-span (substring) dedup stats, Lee et al. ACL'22 style ---
    "dedup_spans" -> ((s, d) =>
      Dedup.duplicatedSpans(Tables.documents(s, d))),
    // --- exact source-pair shingle Jaccard (cross-crawl overlap audit) ---
    "dedup_source_overlap" -> ((s, d) =>
      Dedup.sourceOverlap(Tables.documents(s, d))),
    // --- cross-document duplicated segments (boilerplate strip-list) ---
    "dedup_boilerplate" -> ((s, d) =>
      Dedup.boilerplateSegments(Tables.documents(s, d))),
    // --- all-pairs TF-IDF cosine near-dup (AllPairs prefix filter, WWW'07) ---
    "dedup_cosine_pairs" -> ((s, d) =>
      graft.dedup.CosinePairs.cosinePairs(Tables.documents(s, d))),
    // --- bloom runtime filter: probe rows drop at the scan, exact semi-join after ---
    "q_bloom_join" -> ((s, d) => {
      import org.apache.spark.sql.functions.count
      val urgent = Tables.orders(s, d)
        .filter(col("o_orderpriority") === "1-URGENT" &&
          col("o_totalprice") > 400000.0)
      graft.operators.RuntimeFilter.bloomSemiJoin(
          Tables.lineitem(s, d), "l_orderkey", urgent, "o_orderkey")
        .groupBy("l_returnflag", "l_linestatus")
        // exact cent-valued doubles re-summed at DECIMAL(18,2) by
        // cents_sum, the library-wide money idiom (see q1MonthlyRevenue)
        .agg(
          MoneyFunctions.cents_sum(col("l_quantity")).cast("double").as("sum_qty"),
          MoneyFunctions.cents_sum(col("l_extendedprice")).cast("double").as("sum_price"),
          count(lit(1)).as("n_items"))
    }),
    // --- Theil–Sen robust trend slope: median of pairwise monthly slopes ---
    "q_theil_sen" -> ((s, d) =>
      graft.analytics.Breadth6.theilSenSlope(Tables.orders(s, d))),
    // --- one-way ANOVA F across the five order-priority arms ---
    "q_anova" -> ((s, d) =>
      graft.analytics.Breadth6.anovaPriority(Tables.orders(s, d))),
    // --- Herfindahl–Hirschman supplier-revenue concentration per region ---
    "q_hhi" -> ((s, d) =>
      graft.analytics.Breadth6.hhiSupplierConcentration(
        Tables.lineitem(s, d), Tables.supplier(s, d),
        Tables.nation(s, d), Tables.region(s, d))),
    // --- Flesch / Flesch–Kincaid readability per source ---
    "text_readability" -> ((s, d) =>
      TextOps.readability(Tables.documents(s, d))),
    // --- Matryoshka prefix-dim recall gate vs full-dim ground truth ---
    "embed_matryoshka" -> ((s, d) =>
      Ann.matryoshkaRecall(Tables.embeddings(s, d))),
    // --- per-label centroid cosine to the corpus centroid (drift) ---
    "embed_centroid_drift" -> ((s, d) =>
      Ann.centroidDrift(Tables.embeddings(s, d))),
    // --- GDPR erasure cascade audit: affected counts + surviving-key checksums ---
    "q_delete_propagation" -> ((s, d) =>
      graft.etl.Erasure.erasureAudit(
        Tables.customer(s, d), Tables.orders(s, d), Tables.lineitem(s, d))),
    // --- Apriori level-3: top-k frequent item triples in order baskets ---
    "q_basket_triples" -> ((s, d) =>
      graft.analytics.Baskets.frequentTriples(
        Tables.lineitem(s, d), "l_orderkey", "l_partkey")),
    // --- Kendall τ-b rank correlation: monthly revenue vs order count ---
    "q_kendall_tau" -> ((s, d) =>
      graft.analytics.Breadth7.kendallTau(Tables.orders(s, d))),
    // --- Cramér's V association: order priority × order status ---
    "q_cramers_v" -> ((s, d) =>
      graft.analytics.Breadth7.cramersV(Tables.orders(s, d))),
    // --- XYZ demand-variability classes per part (CV² of monthly demand) ---
    "q_xyz_class" -> ((s, d) =>
      graft.analytics.Breadth7.xyzClass(Tables.lineitem(s, d))),
    // --- Lorenz concentration curve deciles over customer revenue ---
    "q_lorenz" -> ((s, d) =>
      graft.analytics.Breadth7.lorenzCurve(Tables.orders(s, d))),
    // --- 12-month rolling OLS slope/intercept per priority ---
    "q_rolling_regression" -> ((s, d) =>
      graft.analytics.Breadth7.rollingRegression(Tables.orders(s, d))),
    // --- 1-bit sign quantization + Hamming top-k retrieval ---
    "embed_binary_quant" -> ((s, d) =>
      graft.similarity.BinaryQuant.hammingTopK(Tables.embeddings(s, d))),
    // --- multi-index Hamming: banded radius-bounded retrieval with a
    // data-sized probe side (every vector, one sign flipped) ---
    "embed_binary_mih" -> ((s, d) =>
      graft.similarity.BinaryQuant.mihTopK(Tables.embeddings(s, d))),
    // --- MIH completeness gate vs brute-force popcount (recall = 1) ---
    "embed_mih_recall" -> ((s, d) =>
      graft.similarity.BinaryQuant.mihRecall(Tables.embeddings(s, d))),
    // --- Fellegi–Sunter field match weights from the blocked seed pairs ---
    "q_fs_weights" -> ((s, d) =>
      graft.pipeline.EntityResolution.fsWeights(Tables.part(s, d))),
    // --- perceptual-hash (aHash) image near-dup pairs over REAL PNG
    // round-trips; oracle replays the generating pixel formula ---
    "mm_image_ahash" -> ((s, d) => {
      import s.implicits._
      Multimodal.nearDupImagePairs(
        Multimodal.imageAHashes(
          Multimodal.packSyntheticPngs(Tables.documents(s, d))).toDF())
    }),
    // --- perceptual audio near-dup pairs over REAL WAV round trips:
    // 32-window energy + zero-crossing fingerprint through the SAME
    // pigeonhole-complete banded Hamming join as images ---
    "mm_audio_neardup" -> ((s, d) => {
      import s.implicits._
      Multimodal.nearDupImagePairs(
        Multimodal.audioFingerprints(
          Multimodal.packSyntheticNearDupWavs(Tables.documents(s, d))).toDF())
    }),
    // --- perceptual video near-dup pairs over REAL GIF demux round
    // trips: per-frame 4x4 block fingerprint, same banded join ---
    "mm_video_neardup" -> ((s, d) => {
      import s.implicits._
      Multimodal.nearDupImagePairs(
        Multimodal.videoFingerprints(
          Multimodal.packSyntheticNearDupGifs(Tables.documents(s, d))).toDF())
    }),
    // --- lossy-codec leg, verdict-gated (round-7 verdict #7): the
    // oracle can't run a JPEG DCT, so the query output is the
    // deterministic verdict relation — image count (data-derived),
    // encoder determinism, bounded aHash drift, and the independent
    // JpegBaseline-vs-ImageIO differential (per-sample + aHash bounds).
    // The drift histogram itself stays spec-pinned in JpegImageSpec. ---
    "mm_image_jpeg" -> ((s, d) =>
      Multimodal.jpegVerdicts(Tables.documents(s, d)))
  )

  /** The shared base/next order-snapshot pair behind `q_snapshot_diff`
    * and `q_profile_diff`: SCD1-merge of planted updates (keys ≡3 mod
    * 10, status→U, price ×1.1), deletes (≡7) and inserts (≡5,
    * key+10M, status→I) into the raw orders snapshot.
    */
  private def orderSnapshots(s: SparkSession, d: String)
      : (DataFrame, DataFrame) = {
    import org.apache.spark.sql.functions.lit
    import org.apache.spark.sql.types.DecimalType
    val ord = Tables.orders(s, d)
    val priceBump = lit(new java.math.BigDecimal("1.1"))
    val updates = ord.filter(col("o_orderkey") % 10 === 3)
      .withColumn("o_orderstatus", lit("U"))
      .withColumn("o_totalprice",
        (col("o_totalprice").cast(DecimalType(18, 2)) * priceBump).cast("double"))
      .withColumn("is_delete", lit(false))
    val deletes = ord.filter(col("o_orderkey") % 10 === 7)
      .withColumn("is_delete", lit(true))
    val inserts = ord.filter(col("o_orderkey") % 10 === 5)
      .withColumn("o_orderkey", col("o_orderkey") + lit(10000000L))
      .withColumn("o_orderstatus", lit("I"))
      .withColumn("is_delete", lit(false))
    val nextSnap = graft.operators.Merge.scd1Merge(
      ord, updates.unionByName(deletes).unionByName(inserts), "o_orderkey")
    (ord, nextSnap)
  }

  /** Columns profiled by `q_profile_diff`. */
  private val profileDiffCols =
    Seq("o_custkey", "o_orderstatus", "o_totalprice", "o_orderpriority")

  /** The [[orderSnapshots]] construction as a DuckDB WITH clause —
    * shared by the `q_snapshot_diff` and `q_profile_diff` oracles.
    */
  private val orderSnapshotCte: String =
    """WITH changes AS (
      |  SELECT o_orderkey, o_custkey, 'U' AS o_orderstatus,
      |         CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 1.1 AS DOUBLE) AS o_totalprice,
      |         o_orderdate, o_orderpriority, FALSE AS is_delete
      |  FROM orders WHERE o_orderkey % 10 = 3
      |  UNION ALL
      |  SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice,
      |         o_orderdate, o_orderpriority, TRUE
      |  FROM orders WHERE o_orderkey % 10 = 7
      |  UNION ALL
      |  SELECT o_orderkey + 10000000, o_custkey, 'I', o_totalprice,
      |         o_orderdate, o_orderpriority, FALSE
      |  FROM orders WHERE o_orderkey % 10 = 5),
      |new_snap AS (
      |  SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice, o_orderdate, o_orderpriority
      |  FROM orders WHERE o_orderkey NOT IN (SELECT o_orderkey FROM changes)
      |  UNION ALL
      |  SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice, o_orderdate, o_orderpriority
      |  FROM changes WHERE NOT is_delete)""".stripMargin

  /** Recursive-CTE oracle for duplicate clustering: the full minhash
    * pipeline (same md5-folded universal-hash family as the Spark side,
    * permutation table embedded as literals) feeding a transitive
    * closure. Shared by `dedup_clusters` and `dedup_survivors`.
    */
  private lazy val dupClustersOracle: String = {
    val perms = Dedup.seedTriples(32)
      .map { case (i, a, b) => s"($i, $a, $b)" }.mkString(", ")
    s"""WITH RECURSIVE toks AS (
      |  SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS t FROM documents),
      |grams AS (
      |  SELECT doc_id, list_distinct(CASE WHEN len(t) < 3 THEN [array_to_string(t, ' ')]
      |    ELSE list_transform(range(1, len(t) - 1), i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2]) END) AS g
      |  FROM toks),
      |bases AS (
      |  SELECT doc_id, ('0x' || substring(md5(gram), 1, 15))::BIGINT % 2147483647 AS h
      |  FROM (SELECT doc_id, unnest(g) AS gram FROM grams)),
      |perms(perm, a, b) AS (VALUES $perms),
      |sig AS (
      |  SELECT doc_id, perm, MIN((a * h + b) % 2147483647) AS s
      |  FROM bases CROSS JOIN perms GROUP BY 1, 2),
      |bands AS (
      |  SELECT doc_id, perm // 4 AS band,
      |         string_agg(CAST(s AS VARCHAR), ',' ORDER BY perm) AS bh
      |  FROM sig GROUP BY 1, 2),
      |cand AS (
      |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      |  FROM bands a JOIN bands b ON a.band = b.band AND a.bh = b.bh AND a.doc_id < b.doc_id),
      |pairs AS (
      |  SELECT doc_a, doc_b FROM (
      |    SELECT doc_a, doc_b,
      |           SUM(CASE WHEN sa.s = sb.s THEN 1 ELSE 0 END) / 32.0 AS est_jaccard
      |    FROM cand JOIN sig sa ON sa.doc_id = doc_a
      |              JOIN sig sb ON sb.doc_id = doc_b AND sa.perm = sb.perm
      |    GROUP BY 1, 2) t
      |  WHERE est_jaccard >= 0.5),
      |edges AS (SELECT doc_a AS src, doc_b AS dst FROM pairs
      |          UNION SELECT doc_b, doc_a FROM pairs),
      |nodes AS (SELECT DISTINCT src AS id FROM edges),
      |reach(id, r) AS (
      |  SELECT id, id FROM nodes
      |  UNION
      |  SELECT reach.id, edges.dst FROM reach JOIN edges ON reach.r = edges.src)
      |SELECT id AS doc_id, MIN(r) AS cluster_id FROM reach GROUP BY 1""".stripMargin
  }

  /** DuckDB replay of `Curation.curate` at the oracle-checked default
    * configuration — shared by `pipeline_curate` and the end-to-end
    * `pipeline_corpus_prep` composite.
    */
  private lazy val curateOracle: String =
      s"""WITH qual AS (
        |  SELECT doc_id,
        |         least(CAST(CASE WHEN length(trim(text)) = 0 THEN 0
        |               ELSE len(regexp_split_to_array(trim(text), '\\s+')) END AS DOUBLE) / 100.0, 1.0)
        |         * (1.0 - CASE WHEN n_chars > 0
        |               THEN CAST(length(text) - length(regexp_replace(text, '[!-/:-@\\[-`{-~]', '', 'g')) AS DOUBLE) / n_chars
        |               ELSE 0.0 END) AS quality_score
        |  FROM documents),
        |keepq AS (
        |  SELECT d.doc_id, d.text, d.source, d.n_chars, q.quality_score
        |  FROM documents d JOIN qual q USING (doc_id) WHERE q.quality_score >= 0.2),
        |surv AS (SELECT MIN(doc_id) AS doc_id FROM keepq GROUP BY sha256(text)),
        |ex AS (SELECT k.* FROM keepq k JOIN surv USING (doc_id)),
        |toks AS (SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS t FROM ex),
        |grams AS (
        |  SELECT doc_id, list_distinct(CASE WHEN len(t) < 3 THEN [array_to_string(t, ' ')]
        |    ELSE list_transform(range(1, len(t) - 1), i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2]) END) AS g
        |  FROM toks),
        |bases AS (
        |  SELECT doc_id, ('0x' || substring(md5(gram), 1, 15))::BIGINT % 2147483647 AS h
        |  FROM (SELECT doc_id, unnest(g) AS gram FROM grams)),
        |perms(perm, a, b) AS (VALUES $perms),
        |sig AS (
        |  SELECT doc_id, perm, MIN((a * h + b) % 2147483647) AS s
        |  FROM bases CROSS JOIN perms GROUP BY 1, 2),
        |bands AS (
        |  SELECT doc_id, perm // 4 AS band,
        |         string_agg(CAST(s AS VARCHAR), ',' ORDER BY perm) AS bh
        |  FROM sig GROUP BY 1, 2),
        |cand AS (
        |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        |  FROM bands a JOIN bands b ON a.band = b.band AND a.bh = b.bh AND a.doc_id < b.doc_id),
        |est AS (
        |  SELECT doc_a, doc_b,
        |         SUM(CASE WHEN sa.s = sb.s THEN 1 ELSE 0 END) / 32.0 AS ej
        |  FROM cand JOIN sig sa ON sa.doc_id = doc_a
        |            JOIN sig sb ON sb.doc_id = doc_b AND sa.perm = sb.perm
        |  GROUP BY 1, 2),
        |losers AS (SELECT DISTINCT doc_b AS doc_id FROM est WHERE ej >= 0.7)
        |SELECT ex.doc_id, ex.text, ex.source, ex.n_chars, ex.quality_score
        |FROM ex LEFT JOIN losers l ON ex.doc_id = l.doc_id
        |WHERE l.doc_id IS NULL""".stripMargin

  /** DuckDB replay of [[graft.dedup.Dedup.minhashDedup]] at the default
    * configuration (3-shingles, 32 md5-derived hashes, 8 bands,
    * threshold 0.5) — shared by `dedup_minhash` and the
    * `pipeline_mm_curate` text leg.
    */
  private lazy val minhashPairsOracle: String = {
    val perms = Dedup.seedTriples(32)
      .map { case (i, a, b) => s"($i, $a, $b)" }.mkString(", ")
    s"""WITH toks AS (
      |  SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS t FROM documents),
      |grams AS (
      |  SELECT doc_id, list_distinct(CASE WHEN len(t) < 3 THEN [array_to_string(t, ' ')]
      |    ELSE list_transform(range(1, len(t) - 1), i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2]) END) AS g
      |  FROM toks),
      |bases AS (
      |  SELECT doc_id, ('0x' || substring(md5(gram), 1, 15))::BIGINT % 2147483647 AS h
      |  FROM (SELECT doc_id, unnest(g) AS gram FROM grams)),
      |perms(perm, a, b) AS (VALUES $perms),
      |sig AS (
      |  SELECT doc_id, perm, MIN((a * h + b) % 2147483647) AS s
      |  FROM bases CROSS JOIN perms GROUP BY 1, 2),
      |bands AS (
      |  SELECT doc_id, perm // 4 AS band,
      |         string_agg(CAST(s AS VARCHAR), ',' ORDER BY perm) AS bh
      |  FROM sig GROUP BY 1, 2),
      |cand AS (
      |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      |  FROM bands a JOIN bands b ON a.band = b.band AND a.bh = b.bh AND a.doc_id < b.doc_id)
      |SELECT doc_a, doc_b, est_jaccard FROM (
      |  SELECT doc_a, doc_b,
      |         SUM(CASE WHEN sa.s = sb.s THEN 1 ELSE 0 END) / 32.0 AS est_jaccard
      |  FROM cand JOIN sig sa ON sa.doc_id = doc_a
      |            JOIN sig sb ON sb.doc_id = doc_b AND sa.perm = sb.perm
      |  GROUP BY 1, 2) t
      |WHERE est_jaccard >= 0.5""".stripMargin
  }

  /** DuckDB replay of [[graft.pipeline.Curation.curateMultimodal]]: the
    * four modality pair oracles (each the already-proven replay of its
    * full codec/signature pipeline) nested as scoped subqueries, losers
    * distinct-projected, flags pivoted per document. Built by plain
    * concatenation — the nested oracles contain lines beginning with the
    * `||` concat operator, which an outer stripMargin would corrupt.
    */
  private lazy val mmCurateOracle: String =
    "WITH txt AS (SELECT DISTINCT doc_b AS doc_id FROM (\n" +
      minhashPairsOracle + "\n) mt),\n" +
    "img AS (SELECT DISTINCT id_b AS doc_id FROM (\n" +
      Multimodal.nearDupImagePairsOracleSql() + "\n) mi),\n" +
    "aud AS (SELECT DISTINCT id_b AS doc_id FROM (\n" +
      Multimodal.nearDupAudioPairsOracleSql() + "\n) ma),\n" +
    "vid AS (SELECT DISTINCT id_b AS doc_id FROM (\n" +
      Multimodal.nearDupVideoPairsOracleSql() + "\n) mv)\n" +
    """SELECT d.doc_id,
      |       CASE WHEN t.doc_id IS NULL THEN 0 ELSE 1 END AS dup_text,
      |       CASE WHEN i.doc_id IS NULL THEN 0 ELSE 1 END AS dup_image,
      |       CASE WHEN a.doc_id IS NULL THEN 0 ELSE 1 END AS dup_audio,
      |       CASE WHEN v.doc_id IS NULL THEN 0 ELSE 1 END AS dup_video,
      |       CASE WHEN t.doc_id IS NULL AND i.doc_id IS NULL
      |             AND a.doc_id IS NULL AND v.doc_id IS NULL
      |            THEN 1 ELSE 0 END AS keep
      |FROM documents d
      |LEFT JOIN txt t ON d.doc_id = t.doc_id
      |LEFT JOIN img i ON d.doc_id = i.doc_id
      |LEFT JOIN aud a ON d.doc_id = a.doc_id
      |LEFT JOIN vid v ON d.doc_id = v.doc_id""".stripMargin

  /** DuckDB twins of each query, same column names (driver compares by
    * sorted column name + value hash).
    */
  def oracleSql: Map[String, String] = Map(
    "dim_customer" ->
      """SELECT DISTINCT c_custkey, c_name, c_nationkey FROM customer
        |WHERE c_custkey IS NOT NULL AND c_name IS NOT NULL AND c_nationkey IS NOT NULL""".stripMargin,
    "dim_supplier" ->
      """SELECT DISTINCT s_suppkey, s_name, s_nationkey FROM supplier
        |WHERE s_suppkey IS NOT NULL AND s_name IS NOT NULL AND s_nationkey IS NOT NULL""".stripMargin,
    "dim_part" ->
      """SELECT DISTINCT p_partkey, p_name, p_brand, p_type FROM part
        |WHERE p_partkey IS NOT NULL AND p_name IS NOT NULL AND p_brand IS NOT NULL AND p_type IS NOT NULL""".stripMargin,
    "dim_order" ->
      """SELECT DISTINCT o_orderkey, o_orderdate, o_custkey FROM orders
        |WHERE o_orderkey IS NOT NULL AND o_orderdate IS NOT NULL AND o_custkey IS NOT NULL""".stripMargin,
    "dim_date" ->
      """SELECT CAST(strftime(d, '%Y%m%d') AS INTEGER) AS date_id,
        |       CAST(d AS DATE) AS full_date,
        |       CAST(month(d) AS INTEGER) AS month,
        |       CAST(year(d) AS INTEGER) AS year
        |FROM generate_series(DATE '1995-01-01', DATE '2001-12-31', INTERVAL 1 DAY) AS t(d)""".stripMargin,
    "fact_daily_inventory" ->
      """SELECT CAST(strftime(o_orderdate, '%Y%m%d') AS INTEGER) AS date_id,
        |       l_partkey, l_suppkey, COUNT(*) AS inventory_count
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |GROUP BY 1, 2, 3""".stripMargin,
    "fact_monthly_payment" ->
      """SELECT o_custkey, o_orderkey,
        |       CAST(year(o_orderdate)*10000 + month(o_orderdate)*100 + 1 AS INTEGER) AS date_id,
        |       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS monthly_payment_total
        |FROM orders GROUP BY 1, 2, 3""".stripMargin,
    "q1_monthly_revenue" ->
      """WITH fact AS (
        |  SELECT o_custkey, o_orderkey,
        |         CAST(year(o_orderdate)*10000 + month(o_orderdate)*100 + 1 AS INTEGER) AS date_id,
        |         SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS monthly_payment_total
        |  FROM orders GROUP BY 1, 2, 3)
        |SELECT CAST(strptime(CAST(date_id AS VARCHAR), '%Y%m%d') AS DATE) AS month_start,
        |       CAST(SUM(monthly_payment_total) AS DOUBLE) AS monthly_revenue
        |FROM fact GROUP BY 1""".stripMargin,
    "q2_top_parts" ->
      """WITH fact AS (
        |  SELECT CAST(strftime(o_orderdate, '%Y%m%d') AS INTEGER) AS date_id,
        |         l_partkey, l_suppkey, COUNT(*) AS inventory_count
        |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |  GROUP BY 1, 2, 3)
        |SELECT p_name, CAST(SUM(inventory_count) AS BIGINT) AS total_inventory
        |FROM fact JOIN part ON l_partkey = p_partkey
        |GROUP BY p_name
        |ORDER BY total_inventory DESC, p_name
        |LIMIT 10""".stripMargin,
    "q3_daily_series" ->
      """WITH fact AS (
        |  SELECT CAST(strftime(o_orderdate, '%Y%m%d') AS INTEGER) AS date_id,
        |         l_partkey, l_suppkey, COUNT(*) AS inventory_count
        |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |  GROUP BY 1, 2, 3)
        |SELECT CAST(strptime(CAST(date_id AS VARCHAR), '%Y%m%d') AS DATE) AS date,
        |       CAST(SUM(inventory_count) AS BIGINT) AS inventory_count
        |FROM fact WHERE l_suppkey = 1
        |GROUP BY 1""".stripMargin,
    "clean_fixture" ->
      """WITH dirty(rental_id, rental_date, inventory_id, customer_id, return_date) AS (VALUES
        |  (16000, CAST(NULL AS TIMESTAMP), 1525, 130, TIMESTAMP '2025-05-25 10:00:00'),
        |  (16001, TIMESTAMP '2025-05-23 12:00:00', 99999, 130, TIMESTAMP '2025-05-24 13:00:00'),
        |  (16002, TIMESTAMP '2025-05-22 11:00:00', 1525, 130, TIMESTAMP '2025-05-25 10:00:00'),
        |  (16002, TIMESTAMP '2025-05-22 11:00:00', 1525, 130, TIMESTAMP '2025-05-25 10:00:00'))
        |SELECT DISTINCT rental_id, rental_date, inventory_id, customer_id, return_date
        |FROM dirty
        |WHERE rental_id IS NOT NULL AND rental_date IS NOT NULL
        |  AND inventory_id IS NOT NULL AND customer_id IS NOT NULL AND return_date IS NOT NULL""".stripMargin,
    "q_pricing_summary" ->
      """SELECT l_returnflag, l_linestatus,
        |       CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
        |       CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
        |       CAST(SUM(CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2))) AS DECIMAL(18,4))) AS DOUBLE) AS sum_disc_price,
        |       COUNT(*) AS count_order
        |FROM lineitem
        |WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
        |GROUP BY 1, 2""".stripMargin,
    "q_region_revenue" ->
      """SELECT r_name, CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
        |FROM orders
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |GROUP BY 1""".stripMargin,
    "q_top_customers" ->
      """WITH spend AS (
        |  SELECT o_custkey, CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_spend
        |  FROM orders GROUP BY 1
        |  ORDER BY total_spend DESC, o_custkey LIMIT 10)
        |SELECT o_custkey, c_name, total_spend
        |FROM spend JOIN customer ON o_custkey = c_custkey""".stripMargin,
    "q_window_top_parts" ->
      """WITH per_part AS (
        |  SELECT l_suppkey, l_partkey, CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS qty
        |  FROM lineitem GROUP BY 1, 2)
        |SELECT * FROM (
        |  SELECT l_suppkey, l_partkey, qty,
        |         CAST(ROW_NUMBER() OVER (PARTITION BY l_suppkey ORDER BY qty DESC, l_partkey) AS INTEGER) AS rn
        |  FROM per_part) t
        |WHERE rn <= 3""".stripMargin,
    "q_running_revenue" ->
      """WITH monthly AS (
        |  SELECT date_trunc('month', o_orderdate) AS month_start,
        |         SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS monthly_revenue
        |  FROM orders GROUP BY 1)
        |SELECT month_start, CAST(monthly_revenue AS DOUBLE) AS monthly_revenue,
        |       CAST(SUM(monthly_revenue) OVER (ORDER BY month_start
        |         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) AS cumulative_revenue
        |FROM monthly""".stripMargin,
    "q_moving_revenue" ->
      """WITH monthly AS (
        |  SELECT date_trunc('month', o_orderdate) AS month_start,
        |         SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS monthly_revenue
        |  FROM orders GROUP BY 1)
        |SELECT month_start,
        |       CAST(monthly_revenue AS DOUBLE) AS monthly_revenue,
        |       CAST(SUM(monthly_revenue) OVER (ORDER BY month_start
        |         ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) AS DOUBLE) AS rev_3mo
        |FROM monthly""".stripMargin,
    "q_semi_join" ->
      """SELECT c_custkey, c_name FROM customer
        |WHERE EXISTS (SELECT 1 FROM orders
        |              WHERE o_custkey = c_custkey AND year(o_orderdate) = 1995)""".stripMargin,
    "q_anti_join" ->
      """SELECT c_custkey, c_name FROM customer
        |WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)""".stripMargin,
    "q_rollup_revenue" ->
      """SELECT CAST(year(o_orderdate) AS INTEGER) AS o_year,
        |       CAST(month(o_orderdate) AS INTEGER) AS o_month,
        |       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
        |FROM orders
        |GROUP BY ROLLUP(1, 2)""".stripMargin,
    "q_balance_quartiles" ->
      """SELECT c_custkey, c_acctbal,
        |       CAST(NTILE(4) OVER (ORDER BY c_acctbal, c_custkey) AS INTEGER) AS quartile
        |FROM customer""".stripMargin,
    "q_cube_revenue" ->
      """SELECT o_orderstatus, o_orderpriority,
        |       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue,
        |       COUNT(*) AS n_orders
        |FROM orders
        |GROUP BY CUBE(o_orderstatus, o_orderpriority)""".stripMargin,
    "q_mom_delta" ->
      """WITH monthly AS (
        |  SELECT date_trunc('month', o_orderdate) AS month_start,
        |         SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS monthly_revenue
        |  FROM orders GROUP BY 1)
        |SELECT month_start, CAST(monthly_revenue AS DOUBLE) AS monthly_revenue,
        |       CAST(LAG(monthly_revenue, 1) OVER (ORDER BY month_start) AS DOUBLE) AS prev_revenue,
        |       CAST(monthly_revenue - LAG(monthly_revenue, 1) OVER (ORDER BY month_start) AS DOUBLE) AS mom_delta
        |FROM monthly""".stripMargin,
    "q_string_ops" ->
      """SELECT c_custkey,
        |       upper(c_name) AS name_upper,
        |       substring(c_name, 1, 8) AS name_prefix,
        |       CAST(length(c_name) AS INTEGER) AS name_len,
        |       regexp_extract(c_name, '([0-9]+)', 1) AS name_digits,
        |       concat(c_mktsegment, '#', CAST(c_custkey AS VARCHAR)) AS seg_key
        |FROM customer""".stripMargin,
    "q_monthly_active" ->
      """SELECT date_trunc('month', o_orderdate) AS month_start,
        |       COUNT(DISTINCT o_custkey) AS active_customers,
        |       COUNT(*) AS n_orders
        |FROM orders GROUP BY 1""".stripMargin,
    "q_nation_set_ops" ->
      """WITH c AS (SELECT DISTINCT c_nationkey AS nationkey FROM customer),
        |     s AS (SELECT DISTINCT s_nationkey AS nationkey FROM supplier)
        |SELECT nationkey, 'union' AS set_op FROM (SELECT nationkey FROM c UNION SELECT nationkey FROM s)
        |UNION ALL
        |SELECT nationkey, 'intersect' AS set_op FROM (SELECT nationkey FROM c INTERSECT SELECT nationkey FROM s)
        |UNION ALL
        |SELECT nationkey, 'except' AS set_op FROM (SELECT nationkey FROM c EXCEPT SELECT nationkey FROM s)""".stripMargin,
    "q_events_hourly" ->
      """SELECT date_trunc('hour', ts) AS window_start, event_type,
        |       COUNT(*) AS n_events,
        |       CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
        |FROM events GROUP BY 1, 2""".stripMargin,
    "q_top_event_type" ->
      """WITH hourly AS (
        |  SELECT date_trunc('hour', ts) AS window_start, event_type,
        |         COUNT(*) AS n_events
        |  FROM events GROUP BY 1, 2)
        |SELECT window_start, event_type, n_events FROM (
        |  SELECT *, ROW_NUMBER() OVER (PARTITION BY window_start
        |           ORDER BY n_events DESC, event_type) AS rn
        |  FROM hourly) t
        |WHERE rn = 1""".stripMargin,
    "q_event_sessions" ->
      """WITH x AS (
        |  SELECT user_id, ts, event_id,
        |         lag(epoch_ms(ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ms
        |  FROM events),
        |y AS (
        |  SELECT user_id,
        |         CASE WHEN prev_ms IS NULL THEN 0
        |              WHEN epoch_ms(ts) - prev_ms > 1800000 THEN 1 ELSE 0 END AS is_new
        |  FROM x)
        |SELECT user_id, CAST(SUM(is_new) + 1 AS BIGINT) AS n_sessions, COUNT(*) AS n_events
        |FROM y GROUP BY 1""".stripMargin,
    "q_json_extract" ->
      """SELECT event_type,
        |       CAST(SUM(CAST(props->>'k' AS INTEGER)) AS BIGINT) AS sum_k,
        |       COUNT(*) AS n_events,
        |       CAST(MAX(CAST(props->>'k' AS INTEGER)) AS INTEGER) AS max_k
        |FROM events GROUP BY 1""".stripMargin,
    "q_percentiles" ->
      """SELECT l_returnflag,
        |       round(quantile_cont(l_quantity, 0.5), 6) AS p50,
        |       round(quantile_cont(l_quantity, 0.9), 6) AS p90,
        |       round(quantile_cont(l_quantity, 0.99), 6) AS p99
        |FROM lineitem GROUP BY 1""".stripMargin,
    // DuckDB runs ITS own HLL and exact count; the hashable output is the
    // error-bound verdict both engines agree on (estimates themselves are
    // implementation-specific and deliberately not compared)
    "q_approx_distinct" ->
      """SELECT o_year, exact_customers,
        |       abs(approx_customers - exact_customers)
        |         <= exact_customers * 0.05 AS approx_ok
        |FROM (SELECT CAST(year(o_orderdate) AS INTEGER) AS o_year,
        |             approx_count_distinct(o_custkey) AS approx_customers,
        |             COUNT(DISTINCT o_custkey) AS exact_customers
        |      FROM orders GROUP BY 1) t""".stripMargin,
    // exact token counts replayed; the SpaceSaving guarantees (true heavy
    // hitters present, overestimate <= N/k) are pinned TRUE — they hold
    // under any merge order, so a violation is a real sketch bug
    "q_heavy_hitters" ->
      """WITH toks AS (
        |  SELECT unnest(regexp_split_to_array(trim(text), '\s+')) AS raw FROM documents),
        |t2 AS (SELECT lower(raw) AS token FROM toks WHERE raw <> ''),
        |exact AS (SELECT token, COUNT(*) AS n_exact FROM t2 GROUP BY 1),
        |total AS (SELECT COUNT(*) AS n_total FROM t2)
        |SELECT token, n_exact, TRUE AS in_sketch, TRUE AS bounds_ok
        |FROM exact CROSS JOIN total
        |WHERE n_exact * 30 > n_total""".stripMargin,
    // t-digest (DuckDB) vs rank sketch (Spark): each engine verifies its
    // own estimate against its own exact interpolated percentile
    "q_approx_percentiles" ->
      """WITH a AS (
        |  SELECT l_returnflag, COUNT(*) AS n_rows,
        |         approx_quantile(l_quantity, 0.5) AS p50,
        |         approx_quantile(l_quantity, 0.9) AS p90,
        |         approx_quantile(l_quantity, 0.99) AS p99
        |  FROM lineitem GROUP BY 1),
        |e AS (
        |  SELECT l_returnflag,
        |         round(quantile_cont(l_quantity, 0.5), 6) AS p50,
        |         round(quantile_cont(l_quantity, 0.9), 6) AS p90,
        |         round(quantile_cont(l_quantity, 0.99), 6) AS p99
        |  FROM lineitem GROUP BY 1)
        |SELECT a.l_returnflag, a.n_rows,
        |       abs(a.p50 - e.p50) <= 1.0 AS p50_ok,
        |       abs(a.p90 - e.p90) <= 1.0 AS p90_ok,
        |       abs(a.p99 - e.p99) <= 1.0 AS p99_ok
        |FROM a JOIN e ON a.l_returnflag = e.l_returnflag""".stripMargin,
    // data-derived metrics recomputed exactly (1e-9 fixed-point, the
    // fit's own truncation scheme); model invariants pinned as expected
    // verdicts — a broken fit/projection flips a bit and fails the hash
    "embed_pca" ->
      """WITH ex AS (
        |  SELECT generate_subscripts(embedding, 1) AS pos,
        |         CAST(unnest(embedding) AS DOUBLE) AS x
        |  FROM embeddings),
        |mu AS (
        |  SELECT pos,
        |         CAST(SUM(CAST(trunc(x * 1.0E9) AS BIGINT)) AS DOUBLE)
        |           / (CAST(COUNT(*) AS DOUBLE) * 1.0E9) AS m
        |  FROM ex GROUP BY 1),
        |tv AS (
        |  SELECT CAST(SUM(CAST(trunc((x - m) * (x - m) * 1.0E9) AS BIGINT)) AS DOUBLE) AS v
        |  FROM ex JOIN mu USING (pos))
        |SELECT 'n_rows' AS metric,
        |       CAST((SELECT COUNT(*) FROM embeddings) AS DOUBLE) AS value
        |UNION ALL SELECT 'dim', CAST((SELECT MAX(len(embedding)) FROM embeddings) AS DOUBLE)
        |UNION ALL SELECT 'k', 4.0
        |UNION ALL SELECT 'total_var_nano', (SELECT v FROM tv)
        |UNION ALL SELECT 'orthonormal_ok', 1.0
        |UNION ALL SELECT 'eigs_desc_ok', 1.0
        |UNION ALL SELECT 'explained_ratio_in_01', 1.0
        |UNION ALL SELECT 'proj_var_matches_eig', 1.0""".stripMargin,
    "q_pivot_status" ->
      """SELECT CAST(year(o_orderdate) AS INTEGER) AS o_year,
        |       CAST(SUM(CASE WHEN o_orderstatus = 'O' THEN CAST(o_totalprice AS DECIMAL(18,2)) END) AS DOUBLE) AS rev_open,
        |       CAST(SUM(CASE WHEN o_orderstatus = 'F' THEN CAST(o_totalprice AS DECIMAL(18,2)) END) AS DOUBLE) AS rev_fulfilled,
        |       CAST(SUM(CASE WHEN o_orderstatus = 'P' THEN CAST(o_totalprice AS DECIMAL(18,2)) END) AS DOUBLE) AS rev_pending
        |FROM orders GROUP BY 1""".stripMargin,
    "q_range_join" ->
      """WITH bands(tier, lo, hi) AS (VALUES
        |  ('tier0', 0.0, 920.0), ('tier1', 920.0, 940.0), ('tier2', 940.0, 960.0),
        |  ('tier3', 960.0, 980.0), ('tier4', 980.0, 1e18))
        |SELECT tier, COUNT(*) AS n_parts,
        |       CAST(SUM(CAST(p_retailprice AS DECIMAL(18,2))) AS DOUBLE) AS total_price
        |FROM part JOIN bands ON p_retailprice >= lo AND p_retailprice < hi
        |GROUP BY 1""".stripMargin,
    "q_scalar_subquery" ->
      """SELECT c_custkey, c_name, c_acctbal AS acctbal
        |FROM customer c
        |WHERE c_acctbal > (SELECT AVG(c2.c_acctbal) FROM customer c2
        |                   WHERE c2.c_nationkey = c.c_nationkey)""".stripMargin,
    "q_stats_summary" ->
      """WITH sums AS (
        |  SELECT l_returnflag, COUNT(*) AS n_rows,
        |         CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sx,
        |         CAST(SUM(CAST(l_quantity AS DECIMAL(18,2)) * CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sx2,
        |         CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sy,
        |         CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sy2,
        |         CAST(SUM(CAST(l_quantity AS DECIMAL(18,2)) * CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sxy
        |  FROM lineitem GROUP BY 1),
        |s2 AS (SELECT *, CAST(n_rows AS DOUBLE) AS nd FROM sums)
        |SELECT l_returnflag, n_rows,
        |       sx / nd AS mean_qty,
        |       sqrt((nd*sx2 - sx*sx) / (nd*(nd-1.0))) AS stddev_qty,
        |       (nd*sxy - sx*sy) / (sqrt(nd*sx2 - sx*sx) * sqrt(nd*sy2 - sy*sy)) AS corr_qty_price
        |FROM s2""".stripMargin,
    "q_top_order_month" ->
      """SELECT date_trunc('month', o_orderdate) AS month_start,
        |       arg_max(o_orderkey, CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) * 10000000000 + o_orderkey) AS top_orderkey,
        |       arg_max(o_totalprice, CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) * 10000000000 + o_orderkey) AS top_totalprice,
        |       COUNT(*) AS n_orders
        |FROM orders GROUP BY 1""".stripMargin,
    "q_range_frame" ->
      """WITH daily AS (
        |  SELECT CAST(o_orderdate AS DATE) AS order_day,
        |         SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS rev
        |  FROM orders GROUP BY 1),
        |d2 AS (SELECT order_day, rev,
        |              datediff('day', DATE '1990-01-01', order_day) AS day_num
        |       FROM daily)
        |SELECT order_day, CAST(rev AS DOUBLE) AS daily_revenue,
        |       CAST(SUM(rev) OVER (ORDER BY day_num
        |         RANGE BETWEEN 6 PRECEDING AND CURRENT ROW) AS DOUBLE) AS rev_7d
        |FROM d2""".stripMargin,
    "q_rank_dist" ->
      """SELECT c_custkey, c_acctbal,
        |       percent_rank() OVER (ORDER BY c_acctbal) AS pct_rank,
        |       cume_dist() OVER (ORDER BY c_acctbal) AS cume
        |FROM customer""".stripMargin,
    "q_collect_set" ->
      """SELECT c_nationkey,
        |       array_to_string(list_sort(list(DISTINCT c_mktsegment)), ',') AS segments,
        |       COUNT(DISTINCT c_mktsegment) AS n_segments
        |FROM customer GROUP BY 1""".stripMargin,
    "q_full_outer" ->
      """WITH c AS (SELECT c_nationkey AS c_nk, COUNT(*) AS n_customers
        |           FROM customer WHERE c_mktsegment = 'MACHINERY' GROUP BY 1),
        |     s AS (SELECT s_nationkey AS s_nk, COUNT(*) AS n_suppliers
        |           FROM supplier WHERE s_acctbal > 9000.0 GROUP BY 1)
        |SELECT COALESCE(c_nk, s_nk) AS nationkey,
        |       COALESCE(n_customers, 0) AS n_customers,
        |       COALESCE(n_suppliers, 0) AS n_suppliers
        |FROM c FULL JOIN s ON c_nk = s_nk""".stripMargin,
    "q_grouping_sets" ->
      """WITH o AS (SELECT CAST(year(o_orderdate) AS INTEGER) AS o_year,
        |                  o_orderstatus AS status, o_totalprice
        |           FROM orders)
        |SELECT o_year, status,
        |       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue,
        |       COUNT(*) AS n_orders,
        |       CAST(GROUPING(o_year) AS INTEGER) AS g_year,
        |       CAST(GROUPING(status) AS INTEGER) AS g_status
        |FROM o
        |GROUP BY GROUPING SETS ((o_year), (status), ())""".stripMargin,
    "q_unpivot" ->
      """WITH pivoted AS (
        |  SELECT CAST(year(o_orderdate) AS INTEGER) AS o_year,
        |         CAST(SUM(CASE WHEN o_orderstatus = 'O' THEN CAST(o_totalprice AS DECIMAL(18,2)) END) AS DOUBLE) AS rev_open,
        |         CAST(SUM(CASE WHEN o_orderstatus = 'F' THEN CAST(o_totalprice AS DECIMAL(18,2)) END) AS DOUBLE) AS rev_fulfilled,
        |         CAST(SUM(CASE WHEN o_orderstatus = 'P' THEN CAST(o_totalprice AS DECIMAL(18,2)) END) AS DOUBLE) AS rev_pending
        |  FROM orders GROUP BY 1)
        |SELECT o_year, status_bucket, revenue FROM (
        |  SELECT o_year, status_bucket, revenue
        |  FROM pivoted UNPIVOT (revenue FOR status_bucket IN (rev_open, rev_fulfilled, rev_pending))) t
        |WHERE revenue IS NOT NULL""".stripMargin,
    "q_rank_dense" ->
      """SELECT p_brand, p_partkey, p_retailprice,
        |       CAST(rank() OVER w AS INTEGER) AS price_rank,
        |       CAST(dense_rank() OVER w AS INTEGER) AS price_dense
        |FROM part
        |WINDOW w AS (PARTITION BY p_brand ORDER BY p_retailprice DESC)""".stripMargin,
    "q_array_ops" ->
      """WITH base AS (
        |  SELECT doc_id, CASE WHEN length(trim(text)) = 0 THEN CAST([] AS VARCHAR[])
        |         ELSE regexp_split_to_array(trim(text), '\s+') END AS toks
        |  FROM documents)
        |SELECT doc_id,
        |       CAST(len(toks) AS INTEGER) AS n_tokens,
        |       CAST(len(list_filter(toks, t -> length(t) > 5)) AS INTEGER) AS n_long_tokens,
        |       CASE WHEN len(toks) = 0 THEN 0.0
        |            ELSE CAST(list_sum(list_transform(toks, t -> length(t))) AS DOUBLE) / len(toks)
        |       END AS mean_token_len,
        |       CAST(coalesce(list_aggregate(list_transform(toks, t -> length(t)), 'max'), 0) AS INTEGER) AS max_token_len
        |FROM base""".stripMargin,
    "q_interval_join" ->
      """WITH spans AS (
        |  SELECT user_id, CAST(ts AS DATE) AS day,
        |         MIN(ts) AS span_start, MAX(ts) AS span_end
        |  FROM events GROUP BY 1, 2),
        |incidents(incident_id, i_start, i_end) AS (VALUES
        |  ('inc_a', TIMESTAMP '2024-01-03 06:00:00', TIMESTAMP '2024-01-03 18:00:00'),
        |  ('inc_b', TIMESTAMP '2024-01-10 00:00:00', TIMESTAMP '2024-01-12 00:00:00'),
        |  ('inc_c', TIMESTAMP '2024-01-20 22:00:00', TIMESTAMP '2024-01-21 02:00:00'))
        |SELECT incident_id, user_id, day, span_start, span_end
        |FROM spans JOIN incidents
        |  ON span_start < i_end AND i_start < span_end""".stripMargin,
    "q_gap_fill" ->
      """WITH daily AS (
        |  SELECT CAST(o_orderdate AS DATE) AS d, COUNT(*) AS n
        |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |  WHERE l_suppkey = 1
        |  GROUP BY 1),
        |bounds AS (SELECT MIN(d) AS lo, MAX(d) AS hi FROM daily),
        |spine AS (SELECT CAST(unnest(generate_series(lo, hi, INTERVAL 1 DAY)) AS DATE) AS d
        |          FROM bounds),
        |j AS (SELECT spine.d, daily.n FROM spine LEFT JOIN daily ON spine.d = daily.d)
        |SELECT d AS order_day, n AS n_items,
        |       last_value(n IGNORE NULLS) OVER (ORDER BY d
        |         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS n_items_filled
        |FROM j""".stripMargin,
    "q_distinct_agg" ->
      """SELECT CAST(year(o_orderdate) AS INTEGER) AS o_year,
        |       CAST(SUM(DISTINCT CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_distinct_price,
        |       COUNT(DISTINCT o_custkey) AS n_customers
        |FROM orders GROUP BY 1""".stripMargin,
    "q_value_windows" ->
      """SELECT o_orderkey, o_custkey, o_orderdate,
        |       first_value(o_orderdate) OVER w AS first_date,
        |       last_value(o_orderdate) OVER wf AS last_date,
        |       nth_value(o_orderdate, 2) OVER wf AS second_date,
        |       lead(o_orderdate, 1) OVER w AS next_date
        |FROM orders
        |WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey),
        |       wf AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
        |              ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)""".stripMargin,
    "q_funnel" ->
      """WITH v AS (SELECT user_id, MIN(ts) AS vt FROM events
        |          WHERE event_type = 'view' GROUP BY 1),
        |c AS (SELECT e.user_id, MIN(e.ts) AS ct FROM events e
        |      JOIN v ON e.user_id = v.user_id
        |      WHERE e.event_type = 'click' AND e.ts > v.vt GROUP BY 1),
        |p AS (SELECT e.user_id, MIN(e.ts) AS pt FROM events e
        |      JOIN c ON e.user_id = c.user_id
        |      WHERE e.event_type = 'purchase' AND e.ts > c.ct GROUP BY 1)
        |SELECT '1_view' AS stage, COUNT(*) AS n_users FROM v
        |UNION ALL SELECT '2_click', COUNT(*) FROM c
        |UNION ALL SELECT '3_purchase', COUNT(*) FROM p""".stripMargin,
    "q_retention" ->
      """WITH activity AS (
        |  SELECT DISTINCT user_id, CAST(ts AS DATE) AS d FROM events),
        |cohort AS (
        |  SELECT user_id, MIN(d) AS cohort_day FROM activity GROUP BY 1)
        |SELECT cohort_day,
        |       CAST(date_diff('day', cohort_day, d) AS INTEGER) AS day_offset,
        |       COUNT(DISTINCT a.user_id) AS n_users
        |FROM activity a JOIN cohort c ON a.user_id = c.user_id
        |GROUP BY 1, 2""".stripMargin,
    "q_scd2_status" ->
      s"""$scd2HistCte
        |SELECT o_custkey, status, eff_from, eff_to,
        |       CAST(eff_to = DATE '9999-12-31' AS INTEGER) AS is_current
        |FROM chained""".stripMargin,
    // fi/okb mirror the engine's Apriori item prune + maxBasketSize cap
    // (pairs come only from baskets with ≤ 4096 surviving frequent items;
    // TPC-H baskets are ≤ 7 items so the cap is inert on fixtures, but the
    // replay now agrees by construction if it ever binds)
    "q_market_basket" ->
      """WITH items AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
        |n AS (SELECT COUNT(DISTINCT l_orderkey) AS n_orders FROM items),
        |ic AS (SELECT l_partkey, COUNT(*) AS c_item FROM items GROUP BY 1),
        |fi AS (
        |  SELECT i.l_orderkey, i.l_partkey FROM items i
        |  JOIN ic ON ic.l_partkey = i.l_partkey AND ic.c_item >= 2),
        |okb AS (SELECT l_orderkey FROM items GROUP BY 1 HAVING COUNT(*) <= 4096),
        |pairs AS (
        |  SELECT a.l_partkey AS part_a, b.l_partkey AS part_b, COUNT(*) AS c_pair
        |  FROM fi a
        |  JOIN okb ON okb.l_orderkey = a.l_orderkey
        |  JOIN fi b
        |    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
        |  GROUP BY 1, 2 HAVING COUNT(*) >= 2)
        |SELECT part_a, part_b, c_pair,
        |       CAST(c_pair * n_orders AS DOUBLE) / CAST(ca.c_item * cb.c_item AS DOUBLE) AS lift
        |FROM pairs
        |JOIN ic ca ON ca.l_partkey = part_a
        |JOIN ic cb ON cb.l_partkey = part_b
        |CROSS JOIN n
        |ORDER BY lift DESC, part_a, part_b
        |LIMIT 100""".stripMargin,
    // id-ordered triangle enumeration attributing all three corners —
    // different orientation than the engine's degree-ordered walk
    "q_clustering_coef" ->
      """WITH items AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
        |e AS (
        |  SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
        |  FROM items a JOIN items b
        |    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey),
        |deg AS (SELECT n, COUNT(*) AS d FROM
        |        (SELECT u AS n FROM e UNION ALL SELECT v FROM e) GROUP BY 1),
        |tris AS (
        |  SELECT e1.u AS a, e1.v AS b, e2.v AS c
        |  FROM e e1
        |  JOIN e e2 ON e2.u = e1.u AND e2.v > e1.v
        |  JOIN e e3 ON e3.u = e1.v AND e3.v = e2.v),
        |corners AS (SELECT a AS n FROM tris UNION ALL
        |            SELECT b FROM tris UNION ALL SELECT c FROM tris),
        |tc AS (SELECT n, COUNT(*) AS n_tri FROM corners GROUP BY 1)
        |SELECT deg.n AS node, deg.d AS degree,
        |       COALESCE(tc.n_tri, 0) AS n_triangles,
        |       CASE WHEN deg.d < 2 THEN 0.0
        |            ELSE CAST(COALESCE(tc.n_tri, 0) * 2 AS DOUBLE)
        |                 / CAST(deg.d * (deg.d - 1) AS DOUBLE) END AS clustering_coef
        |FROM deg LEFT JOIN tc ON deg.n = tc.n""".stripMargin,
    // synchronous LPA rounds unrolled as CTEs, same (count desc, label
    // asc) argmax tie-break — bit-identical label evolution
    "q_label_prop" -> graft.analytics.LabelProp.labelPropOracleSql(),
    "q_modularity" -> graft.analytics.LabelProp.modularityOracleSql(),
    // frontier rounds unrolled as CTEs; BFS layers are set-valued so
    // there is no tie-break to diverge on
    "q_bfs_hops" -> graft.analytics.Bfs.hubDistancesOracleSql(),
    "q_hyperanf" -> graft.analytics.HyperAnf.effectiveDiameterOracleSql(),
    "q_graph_spid" -> graft.analytics.HyperAnf.distanceStatsOracleSql(),
    "q_hyperball_closeness" ->
      graft.analytics.HyperAnf.closenessTopKOracleSql(),
    // peel rounds unrolled as CTEs; peeling is set-valued, no tie-breaks
    "q_kcore" -> graft.analytics.GraphStats.kCoreOracleSql(),
    // exact HUGEINT power sums, one shared IEEE Pearson expression
    "q_degree_assort" -> graft.analytics.GraphStats.assortativityOracleSql,
    // FULL per-round relaxation vs the engine's delta frontier — same
    // <=r-edge distances, different algorithm shape (differential proof);
    // exact BIGINT weights and path sums
    "q_sssp_weighted" -> graft.analytics.Sssp.hubWeightedOracleSql(),
    // wedge enumeration re-derived from the raw basket relation; RA as
    // exact integer-division sums — no IEEE fold on either engine
    "q_link_pred" -> Breadth4.linkPredictionOracleSql(),
    // same contribution expansion; COUNT(DISTINCT) per window end
    "q_rolling_active" -> Breadth4.rollingActiveUsersOracleSql(),
    // verdict-style: each engine's own HLL vs its own exact (sketch
    // internals never cross); hashed cols (window_end, exact, bool)
    "q_rolling_hll" -> Breadth4.rollingActiveHllOracleSql(),
    // doubled average ranks (exact ints) -> HUGEINT power sums -> one
    // final IEEE expression, mirroring the engine's DECIMAL(38,0) sums
    "q_spearman" -> Breadth4.spearmanOracleSql,
    // exact integer-cents bucket subtotals, micro-cent integer-division
    // LOO means, scaled-identity deviation sums; one final IEEE sqrt
    "q_jackknife" -> Breadth4.jackknifeOracleSql(),
    // q_pricing_summary decimal-volume convention; share is one IEEE
    // division of exact decimal sums per year
    "q_market_share" -> Breadth4.marketShareOracleSql(),
    // Nelson-Aalen hazard as exact 10^12-div integer sums (the hashed
    // column); KM survival via nano-quantized ln terms (the q_psi_drift
    // quantized-transcendental convention), 1e-6-rounded both sides
    "q_survival" -> Breadth5.survivalOracleSql,
    // BM25 replay at depth 10 as the subquery; discounts are a shared
    // literal VALUES table (no transcendental on either engine); IDCG
    // from count-rearranged per-level relevance
    "q_ndcg" -> Breadth5.ndcgOracleSql(bm25TopkOracle(10)),
    // exact-cents min-max ppm score, bin by integer division; Brier from
    // exact squared-ppm residual sums, one IEEE division per column
    "q_calibration" -> Breadth5.calibrationOracleSql(),
    // 40/20/40 micro credits with integer-division middles; credited
    // value exact micro-cents
    "q_attribution_position" -> Breadth5.positionAttributionOracleSql,
    // per-landmark frontier rounds unrolled as CTE pairs; harmonic sum
    // as exact 10^6-div integers
    "q_harmonic" -> graft.analytics.Harmonic.landmarkHarmonicOracleSql(),
    // forward sigma levels anti-joined per round; backward dependency
    // folds replay the SAME per-edge HUGEINT product // division terms
    // level by level — all values nonnegative, so truncate == floor
    "q_betweenness" ->
      graft.analytics.Betweenness.landmarkBetweennessOracleSql(),
    // BM25 replay at depth 10; precision prefix and reciprocal rank as
    // pure integer divisions — the whole row hash-compares as integers
    "q_map_mrr" -> Breadth5.mapMrrOracleSql(bm25TopkOracle(10)),
    // nano-quantized ln over EXACT integer-count ratios; final fold in
    // correctly-rounded IEEE doubles (integer div would split on
    // truncate-vs-floor for near-zero negative folds)
    "text_jsd" -> graft.text.Divergence.sourceTokenJsdOracleSql,
    // q_item_cf replay on train baskets; test edges from raw baskets;
    // canonical-pair verdict join, counts exact, rate one IEEE division
    "q_cf_eval" -> graft.analytics.Baskets.cfHitRateOracleSql(),
    // walk rounds unrolled as CTEs, identical md5 neighbor draws
    "q_random_walks" -> graft.analytics.GraphSample.randomWalksOracleSql(),
    // same md5 tape ranks; two windowed top-k joins replayed verbatim
    "q_neighbor_sample" -> graft.analytics.GraphSample.neighborSampleOracleSql(),
    // position self-join formulation vs the engine's row-local explode
    // (differential proof, not a replay)
    "text_skipgrams" -> TextOps.skipgramOracleSql(),
    // identical integer numerator, one final division
    "q_wasserstein" -> graft.analytics.Drift.wassersteinOracleSql(),
    // the dedup_minhash + dedup_ngram_jaccard oracle pipelines, intersected
    "dedup_eval" -> Dedup.lshEvalOracleSql(),
    // identical word graph; PageRank rounds unrolled (q_pagerank structure)
    "text_textrank" -> graft.text.TextRank.keywordsOracleSql(),
    // unrolled per-bucket CASE sums, HUGEINT cum products, one int div
    "q_drift_windows" -> graft.analytics.Drift.hourlyValueDriftOracleSql(),
    // same nano ln-literals interpolated into both plans (q_ndcg rule)
    "q_sprt" -> graft.analytics.Experiments.sprtOracleSql(),
    // Welch-convention power sums; fixed-form IEEE derived columns
    "q_cuped" -> graft.analytics.Experiments.cupedOracleSql(),
    // identical Poisson-CDF threshold literals; scaled-identity spread
    "q_poisson_bootstrap" ->
      graft.analytics.Experiments.poissonBootstrapOracleSql(),
    // identical grouped-rank algebra; tie-corrected z fold
    "q_mannwhitney" -> graft.analytics.Experiments.mannWhitneyOracleSql(),
    // identical digest/index/sign integer ops
    "text_feature_hash" -> TextOps.featureHashOracleSql(),
    // same minimax algebra on the bins^3-bounded interval relation
    "q_isotonic" -> graft.analytics.Experiments.isotonicOracleSql(),
    // same k = ceil((n+1)(1-alpha)) rank arithmetic, integer fractions
    "q_conformal" -> graft.analytics.Experiments.conformalOracleSql(),
    // exact rational chi-square, shared threshold literal
    "q_srm" -> graft.analytics.Experiments.srmOracleSql(),
    // window-formulation twin of the distributed prefix-sum ranking
    "q_pareto_abc" -> graft.analytics.Metrics.paretoAbcOracleSql(),
    // same (ts, event_id) order, same prefix cap via ranked subquery
    "q_top_paths" -> Breadth3.topSessionPathsOracleSql(),
    // oracle recomputes the top-10 from the merged snapshot — proves
    // incremental == recompute including the delete stripe
    "q_ivm_topk" ->
      """WITH merged AS (
        |  SELECT l_partkey, l_quantity FROM lineitem
        |  WHERE l_orderkey % 13 <> 0 AND NOT (l_orderkey % 17 = 3)
        |  UNION ALL
        |  SELECT l_partkey, l_quantity FROM lineitem WHERE l_orderkey % 13 = 0)
        |SELECT l_partkey, COUNT(*) AS cnt,
        |       CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS total
        |FROM merged GROUP BY 1
        |ORDER BY total DESC, l_partkey ASC
        |LIMIT 10""".stripMargin,
    // exact integer day lags; per-user firsts by min-agg both sides
    "q_conversion_lag" -> Breadth4.conversionLagOracleSql,
    // trunc(min) vs min(trunc) — equivalent by monotonicity (differential)
    "q_repeat_rate" -> Breadth4.cohortRepeatRateOracleSql,
    // HITS rounds unrolled as CTE pairs, HUGEINT `//` renormalization
    "q_hits" -> graft.analytics.Hits.hitsOracleSql(),
    // same pair counts (the HAVING >= 2 pair filter subsumes the item
    // prune losslessly), symmetrized, one shared IEEE cosine, ROW_NUMBER
    // top-k. okb mirrors the engine's maxBasketSize cap over FULL
    // baskets — the shared counted-pair base relation caps before any
    // prune (inert on ≤7-item TPC-H baskets, exact if it ever binds)
    "q_item_cf" ->
      """WITH items AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
        |ic AS (SELECT l_partkey, COUNT(*) AS c_item FROM items GROUP BY 1),
        |fi AS (
        |  SELECT i.l_orderkey, i.l_partkey FROM items i
        |  JOIN ic ON ic.l_partkey = i.l_partkey AND ic.c_item >= 2),
        |okb AS (SELECT l_orderkey FROM items GROUP BY 1 HAVING COUNT(*) <= 4096),
        |pairs AS (
        |  SELECT a.l_partkey AS item_a, b.l_partkey AS item_b, COUNT(*) AS c_pair
        |  FROM fi a
        |  JOIN okb ON okb.l_orderkey = a.l_orderkey
        |  JOIN fi b
        |    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
        |  GROUP BY 1, 2 HAVING COUNT(*) >= 2),
        |directed AS (
        |  SELECT item_a AS item, item_b AS neighbor, c_pair FROM pairs
        |  UNION ALL
        |  SELECT item_b, item_a, c_pair FROM pairs),
        |scored AS (
        |  SELECT d.item, d.neighbor, d.c_pair,
        |         CAST(d.c_pair AS DOUBLE) /
        |           sqrt(CAST(ci.c_item * cn.c_item AS DOUBLE)) AS cosine
        |  FROM directed d
        |  JOIN ic ci ON ci.l_partkey = d.item
        |  JOIN ic cn ON cn.l_partkey = d.neighbor)
        |SELECT item, neighbor, c_pair, cosine, rank FROM (
        |  SELECT *, CAST(ROW_NUMBER() OVER (
        |    PARTITION BY item ORDER BY cosine DESC, neighbor) AS INTEGER) AS rank
        |  FROM scored) t
        |WHERE rank <= 5""".stripMargin,
    // identical lag window + left-associated dyadic weighted sum
    "q_ewma" -> graft.analytics.Drift.ewmaOracleSql(),
    // six unrolled HUGEINT // power-iteration rounds over lead-window pairs
    "q_markov_stationary" -> graft.analytics.Markov.stationaryOracleSql(),
    // two identical lag-window chains; bit-equal doubles, no folds
    "q_forecast_brown" -> graft.analytics.Drift.brownOracleSql(),
    "q_forecast_hw" -> graft.analytics.Drift.holtWintersOracleSql(),
    // NTILE over identical total orders; exact cents and day arithmetic
    "q_rfm" -> Breadth3.rfmOracleSql(),
    "q_forecast_naive" -> graft.analytics.Drift.seasonalNaiveOracleSql(),
    "q_ab_ttest" -> graft.analytics.Metrics.welchTTestOracleSql(),
    // exact integer month offsets; cumulative over the cohort matrix
    "q_cohort_ltv" -> Breadth3.cohortLtvOracleSql(),
    // IGNORE NULLS first/last over the same (ts, event_id) total order
    "q_attribution" ->
      """WITH tl AS (
        |  SELECT user_id, ts, event_id, event_type,
        |         CAST(value AS DECIMAL(18,2)) AS v,
        |         FIRST_VALUE(CASE WHEN event_type <> 'purchase' THEN event_type END IGNORE NULLS)
        |           OVER (PARTITION BY user_id ORDER BY ts, event_id
        |                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS first_touch,
        |         LAST_VALUE(CASE WHEN event_type <> 'purchase' THEN event_type END IGNORE NULLS)
        |           OVER (PARTITION BY user_id ORDER BY ts, event_id
        |                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS last_touch
        |  FROM events),
        |purchases AS (
        |  SELECT COALESCE(first_touch, '(none)') AS ft,
        |         COALESCE(last_touch, '(none)') AS lt, v
        |  FROM tl WHERE event_type = 'purchase'),
        |by_first AS (
        |  SELECT ft AS channel, CAST(SUM(v) * 100 AS BIGINT) AS first_touch_cents,
        |         COUNT(*) AS n_first
        |  FROM purchases GROUP BY 1),
        |by_last AS (
        |  SELECT lt AS channel, CAST(SUM(v) * 100 AS BIGINT) AS last_touch_cents,
        |         COUNT(*) AS n_last
        |  FROM purchases GROUP BY 1)
        |SELECT COALESCE(f.channel, l.channel) AS channel,
        |       COALESCE(first_touch_cents, 0) AS first_touch_cents,
        |       COALESCE(last_touch_cents, 0) AS last_touch_cents,
        |       COALESCE(n_first, 0) AS n_first,
        |       COALESCE(n_last, 0) AS n_last
        |FROM by_first f FULL OUTER JOIN by_last l ON f.channel = l.channel""".stripMargin,
    // exact shared-gram counts over raw string shingles (the engine's
    // xxhash64 fold is injective, so containment values are unchanged).
    // `rare` mirrors the engine's maxDocsPerGram cap on BOTH candidate
    // generation and the verify intersection (capped gram universe,
    // full-|a| denominator) — inert at the 1M default, exact if it binds
    "dedup_containment" ->
      """WITH toks AS (
        |  SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS t FROM documents),
        |grams AS (
        |  SELECT doc_id, list_distinct(CASE WHEN len(t) < 3 THEN [array_to_string(t, ' ')]
        |    ELSE list_transform(range(1, len(t) - 1), i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2]) END) AS g
        |  FROM toks),
        |sizes AS (SELECT doc_id, len(g) AS n_grams FROM grams),
        |inv AS (SELECT doc_id, unnest(g) AS gram FROM grams),
        |rare AS (SELECT gram FROM inv GROUP BY 1 HAVING COUNT(*) <= 1000000),
        |f AS (SELECT inv.doc_id, inv.gram FROM inv JOIN rare USING (gram)),
        |shared AS (
        |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS shared
        |  FROM f a JOIN f b ON a.gram = b.gram AND a.doc_id <> b.doc_id
        |  GROUP BY 1, 2)
        |SELECT doc_a, doc_b,
        |       CAST(shared AS DOUBLE) / sa.n_grams AS containment
        |FROM shared
        |JOIN sizes sa ON sa.doc_id = doc_a
        |WHERE CAST(shared AS DOUBLE) / sa.n_grams >= 0.7""".stripMargin,
    // plain id-ordered triple join — a DIFFERENT orientation than the
    // engine's degree-ordered wedges, same triangles: differential proof
    "q_triangles" ->
      """WITH items AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
        |e AS (
        |  SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
        |  FROM items a JOIN items b
        |    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey)
        |SELECT COUNT(*) AS n_triangles
        |FROM e e1
        |JOIN e e2 ON e2.u = e1.u AND e2.v > e1.v
        |JOIN e e3 ON e3.u = e1.v AND e3.v = e2.v""".stripMargin,
    // unrolled peel rounds, id-ordered triple joins per round vs the
    // engine's degree-oriented iterator — differential per round
    "q_ktruss" -> graft.analytics.Triangles.kTrussOracleSql(),
    // converged peel: the engine iterates to fixpoint; the oracle stays
    // a BOUNDED unrolled replay because peeling is idempotent past the
    // fixpoint — PROVIDED the unroll covers the convergence depth.
    // Measured (PLANS.md, round 9): sf0.01 converges at round 2,
    // sf0.1 at round 7; ktrussOracleRounds = 10 is margin over the
    // deepest measured SF at ~0.65 s/round under the materialized CTEs.
    // The margin is no longer an unchecked empirical constant: the
    // engine side runs with maxRounds = ktrussOracleRounds + 1 and
    // requireConverged = true, so a dataset whose peel outruns this
    // unroll throws at dump time instead of hash-mismatching here.
    "q_ktruss_converged" ->
      graft.analytics.Triangles.kTrussOracleSql(rounds = ktrussOracleRounds),
    // ten HUGEINT power sums -> one shared Cramer/IEEE expression tree
    "q_ols" -> graft.analytics.Ols.priceModelOracleSql,
    "q_trend_slope" ->
      """WITH pts AS (
        |  SELECT l_suppkey,
        |         CAST(year(l_shipdate) * 12 + month(l_shipdate) AS BIGINT) AS x,
        |         CAST(FLOOR(l_quantity) AS BIGINT) AS y
        |  FROM lineitem),
        |s AS (
        |  SELECT l_suppkey, COUNT(*) AS n,
        |         CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(y) AS BIGINT) AS sy,
        |         CAST(SUM(x*y) AS BIGINT) AS sxy, CAST(SUM(x*x) AS BIGINT) AS sxx
        |  FROM pts GROUP BY 1)
        |SELECT l_suppkey, n,
        |       CASE WHEN n*sxx - sx*sx = 0 THEN NULL
        |            ELSE CAST(n*sxy - sx*sy AS DOUBLE) / CAST(n*sxx - sx*sx AS DOUBLE)
        |       END AS qty_slope
        |FROM s""".stripMargin,
    // the SCD2 history CTE reused as the dimension; containment join on
    // [eff_from, eff_to) — the equi-key carries the selectivity
    "q_pit_join" ->
      s"""$scd2HistCte
        |SELECT e.event_id, e.user_id, CAST(e.ts AS DATE) AS event_date,
        |       c.status, c.eff_from
        |FROM events e JOIN chained c
        |  ON e.user_id = c.o_custkey
        | AND CAST(e.ts AS DATE) >= c.eff_from AND CAST(e.ts AS DATE) < c.eff_to""".stripMargin,
    "q_fuzzy_pairs" ->
      """SELECT a.p_brand, a.p_partkey AS key_a, b.p_partkey AS key_b,
        |       a.p_name AS name_a, b.p_name AS name_b,
        |       CAST(levenshtein(a.p_name, b.p_name) AS INTEGER) AS dist
        |FROM part a JOIN part b
        |  ON a.p_brand = b.p_brand AND a.p_partkey < b.p_partkey
        |WHERE levenshtein(a.p_name, b.p_name) <= 2""".stripMargin,
    // same match edges as q_fuzzy_pairs, closed transitively by the
    // recursive-CTE min-label closure (dedup_clusters' oracle pattern),
    // singletons attached, then the canonical-record rollup
    "q_entity_resolution" ->
      """WITH RECURSIVE fpairs AS (
        |  SELECT a.p_partkey AS doc_a, b.p_partkey AS doc_b
        |  FROM part a JOIN part b
        |    ON a.p_brand = b.p_brand AND a.p_partkey < b.p_partkey
        |  WHERE levenshtein(a.p_name, b.p_name) <= 2),
        |edges AS (SELECT doc_a AS src, doc_b AS dst FROM fpairs
        |          UNION SELECT doc_b, doc_a FROM fpairs),
        |nodes AS (SELECT DISTINCT src AS id FROM edges),
        |reach(id, r) AS (
        |  SELECT id, id FROM nodes
        |  UNION
        |  SELECT reach.id, edges.dst FROM reach JOIN edges ON reach.r = edges.src),
        |labels AS (SELECT id AS doc_id, MIN(r) AS cluster_id FROM reach GROUP BY 1),
        |members AS (
        |  SELECT CAST(COALESCE(l.cluster_id, p.p_partkey) AS BIGINT) AS entity_id,
        |         p.p_partkey AS doc_id, p.p_name, p.p_retailprice
        |  FROM part p LEFT JOIN labels l ON l.doc_id = p.p_partkey)
        |SELECT entity_id, COUNT(*) AS n_members,
        |       arg_min(p_name, doc_id) AS canonical_name,
        |       MIN(p_retailprice) AS price_min,
        |       MAX(p_retailprice) AS price_max
        |FROM members GROUP BY 1""".stripMargin,
    // oracle runs the PLAIN join — hash equality proves the salted join
    // preserves the row multiset
    "q_skew_report" ->
      graft.operators.SkewJoin.skewReportOracleSql("lineitem", "l_suppkey"),
    // plain-join oracle again: the auto-guard + salting must be invisible
    // in the row multiset
    "q_salted_auto" ->
      """WITH li AS (
        |  SELECT CASE WHEN l_linenumber >= 4 THEN 1 ELSE l_suppkey END AS supp,
        |         l_extendedprice, l_discount
        |  FROM lineitem)
        |SELECT s_nationkey,
        |       CAST(SUM(CAST(CAST(l_extendedprice AS DECIMAL(18,2))
        |                     * (1 - CAST(l_discount AS DECIMAL(18,2))) AS DECIMAL(18,4)))
        |            AS DOUBLE) AS revenue,
        |       COUNT(*) AS n_items
        |FROM li JOIN supplier ON supp = s_suppkey
        |GROUP BY 1""".stripMargin,
    "q_salted_join" ->
      """SELECT o_orderpriority,
        |       CAST(SUM(CAST(CAST(l_extendedprice AS DECIMAL(18,2))
        |                     * (1 - CAST(l_discount AS DECIMAL(18,2))) AS DECIMAL(18,4)))
        |            AS DOUBLE) AS revenue,
        |       COUNT(*) AS n_items
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |GROUP BY 1""".stripMargin,
    // dispatch is plan-only: whichever branch the sketch advice picks,
    // the row multiset equals the plain join
    "q_salted_join_sketch" ->
      """SELECT o_orderpriority,
        |       CAST(SUM(CAST(CAST(l_extendedprice AS DECIMAL(18,2))
        |                     * (1 - CAST(l_discount AS DECIMAL(18,2))) AS DECIMAL(18,4)))
        |            AS DOUBLE) AS revenue,
        |       COUNT(*) AS n_items
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |GROUP BY 1""".stripMargin,
    "q_join_card_kmv" -> graft.analytics.Kmv.joinCardinalityOracleSql(
      "lineitem", "l_partkey", "lineitem", "l_partkey"),
    "q_transitions" ->
      """WITH seq AS (
        |  SELECT user_id, event_type,
        |         LEAD(event_type) OVER (PARTITION BY user_id
        |                                ORDER BY ts, event_id) AS to_type
        |  FROM events),
        |pairs AS (
        |  SELECT event_type AS from_type, to_type, COUNT(*) AS n
        |  FROM seq WHERE to_type IS NOT NULL GROUP BY 1, 2),
        |tot AS (SELECT from_type, CAST(SUM(n) AS BIGINT) AS n_from
        |        FROM pairs GROUP BY 1)
        |SELECT pr.from_type, pr.to_type, pr.n,
        |       CAST(pr.n AS DOUBLE) / CAST(t.n_from AS DOUBLE) AS prob
        |FROM pairs pr JOIN tot t ON pr.from_type = t.from_type""".stripMargin,
    "q_revenue_share" ->
      """WITH per_nation AS (
        |  SELECT n_name, SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS rev_dec
        |  FROM orders
        |  JOIN customer ON o_custkey = c_custkey
        |  JOIN nation ON c_nationkey = n_nationkey
        |  GROUP BY 1),
        |tot AS (SELECT SUM(rev_dec) AS tot_dec FROM per_nation)
        |SELECT n_name, CAST(rev_dec AS DOUBLE) AS revenue,
        |       CAST(rev_dec AS DOUBLE) / CAST(tot_dec AS DOUBLE) AS share
        |FROM per_nation CROSS JOIN tot""".stripMargin,
    "text_redact" ->
      s"""SELECT c_custkey,
        |       regexp_replace(regexp_replace(
        |         c_name || ' <user' || CAST(c_custkey AS VARCHAR)
        |           || '@example.com> ref '
        |           || lpad(CAST(c_custkey * 7919 % 1000000000 AS VARCHAR), 9, '0'),
        |         '${TextOps.EmailRe}', '[EMAIL]', 'g'),
        |         '${TextOps.DigitRunRe}', '[NUM]', 'g') AS contact
        |FROM customer""".stripMargin,
    "q_global_shuffle" ->
      """SELECT doc_id, md5('shuf:' || CAST(doc_id AS VARCHAR)) AS skey,
        |       ROW_NUMBER() OVER (ORDER BY md5('shuf:' || CAST(doc_id AS VARCHAR)),
        |                          doc_id) AS shuffle_pos
        |FROM documents""".stripMargin,
    "q_map_ops" ->
      """SELECT event_type, CAST(ts AS DATE) AS day, COUNT(*) AS n
        |FROM events GROUP BY 1, 2""".stripMargin,
    "q_split" ->
      """SELECT doc_id,
        |       CASE WHEN u < 0.8 THEN 'train'
        |            WHEN u < 0.9 THEN 'val'
        |            ELSE 'test' END AS split
        |FROM (
        |  SELECT doc_id,
        |         CAST(('0x' || substring(md5('split:' || CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT
        |              AS DOUBLE) / 1152921504606846976.0 AS u
        |  FROM documents)""".stripMargin,
    "q_mix_sources" ->
      """SELECT doc_id, source FROM (
        |  SELECT doc_id,
        |         (['books', 'web', 'code'])[CAST(doc_id % 3 + 1 AS INTEGER)] AS source,
        |         CAST(('0x' || substring(md5('mix:' || CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT
        |              AS DOUBLE) / 1152921504606846976.0 AS u
        |  FROM documents)
        |WHERE u < CASE source WHEN 'books' THEN 1.0 WHEN 'web' THEN 0.5
        |                      WHEN 'code' THEN 0.25 ELSE 0.0 END""".stripMargin,
    "text_chunks" ->
      """WITH toks AS (
        |  SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS t
        |  FROM documents WHERE length(trim(text)) > 0),
        |starts AS (
        |  SELECT doc_id, t, len(t) AS n, unnest(range(0, len(t), 24)) AS start
        |  FROM toks)
        |SELECT doc_id, CAST(start // 24 AS INTEGER) AS chunk_id,
        |       array_to_string(t[start+1 : start+32], ' ') AS chunk_text,
        |       CAST(LEAST(n - start, 32) AS INTEGER) AS n_tokens
        |FROM starts""".stripMargin,
    "q_sliding_windows" ->
      """WITH grid AS (
        |  SELECT CAST(to_timestamp(FLOOR(epoch(ts) / 1800) * 1800) AS TIMESTAMP) AS w0,
        |         event_type, value
        |  FROM events),
        |assigned AS (
        |  SELECT unnest([w0, w0 - INTERVAL 30 MINUTE]) AS win_start, event_type, value
        |  FROM grid)
        |SELECT win_start, win_start + INTERVAL 1 HOUR AS win_end, event_type,
        |       COUNT(*) AS n_events,
        |       CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
        |FROM assigned
        |GROUP BY 1, 2, 3""".stripMargin,
    // hi = lo guard mirrors priceHistogram's degenerate-input handling
    // (constant column → everything in bin 0, not NULL bins)
    "q_histogram" ->
      """WITH bounds AS (
        |  SELECT MIN(o_totalprice) AS lo, MAX(o_totalprice) AS hi FROM orders)
        |SELECT CAST(CASE WHEN hi = lo THEN 0
        |            ELSE LEAST(FLOOR((o_totalprice - lo) / ((hi - lo) / 20.0)), 19)
        |            END AS INTEGER) AS bin,
        |       COUNT(*) AS n_orders
        |FROM orders CROSS JOIN bounds
        |GROUP BY 1""".stripMargin,
    // same derived sign matrix regenerated in SQL; 1e-9 fixed-point
    // folds before the signed sum make the per-dim total exact
    "embed_rp" ->
      """WITH ex AS (
        |  SELECT vec_id,
        |         generate_subscripts(embedding, 1) AS j1,
        |         CAST(unnest(embedding) AS DOUBLE) AS x
        |  FROM embeddings),
        |dims AS (SELECT CAST(range AS INTEGER) AS out_dim FROM range(8)),
        |proj AS (
        |  SELECT vec_id, out_dim,
        |         SUM(CAST(trunc(x * 1e9) AS BIGINT) *
        |             (CASE WHEN ((CAST(out_dim AS BIGINT) * 131 + (j1 - 1)) * 2654435761) % 65536 < 32768
        |                   THEN 1 ELSE -1 END)) AS s9
        |  FROM ex CROSS JOIN dims
        |  GROUP BY 1, 2)
        |SELECT vec_id, out_dim, CAST(s9 AS DOUBLE) / 1e9 AS comp
        |FROM proj""".stripMargin,
    "embed_mmd_drift" -> graft.similarity.Mmd.mmdLinearOracleSql(),
    "embed_normalize" ->
      """WITH e AS (
        |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        |  FROM embeddings),
        |n AS (
        |  SELECT vec_id, v,
        |         sqrt(CAST(list_sum(list_transform(v,
        |                x -> CAST(trunc(x * x * 1.0E12) AS BIGINT))) AS DOUBLE)
        |              / 1.0E12) AS norm
        |  FROM e)
        |SELECT vec_id, round(norm, 6) AS norm,
        |       CASE WHEN norm = 0
        |            THEN array_to_string(list_transform(v, x -> 0), ',')
        |            ELSE array_to_string(list_transform(v,
        |                   x -> CAST(floor(x / norm * 1.0E6 + 0.5) AS BIGINT)), ',')
        |       END AS unit_micro_csv
        |FROM n""".stripMargin,
    "embed_centroids" ->
      """WITH ex AS (
        |  SELECT label,
        |         generate_subscripts(embedding, 1) AS dim,
        |         CAST(unnest(embedding) AS DOUBLE) AS x
        |  FROM embeddings)
        |SELECT label, CAST(dim AS INTEGER) AS dim,
        |       CAST(SUM(CAST(trunc(x * 1.0E9) AS BIGINT)) AS DOUBLE)
        |         / (CAST(COUNT(*) AS DOUBLE) * 1.0E9) AS centroid,
        |       COUNT(*) AS n
        |FROM ex GROUP BY 1, 2""".stripMargin,
    "embed_quantize" ->
      """WITH e AS (
        |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        |  FROM embeddings),
        |m AS (
        |  SELECT vec_id, v, list_max(list_transform(v, x -> abs(x))) AS amax FROM e)
        |SELECT vec_id, amax / 127.0 AS scale,
        |       CASE WHEN amax = 0
        |            THEN array_to_string(list_transform(v, x -> 0), ',')
        |            ELSE array_to_string(list_transform(v,
        |                   x -> CAST(round(x / (amax / 127.0)) AS INTEGER)), ',')
        |       END AS q_csv
        |FROM m""".stripMargin,
    "text_tfidf" ->
      """WITH toks AS (
        |  SELECT doc_id, lower(unnest(regexp_split_to_array(trim(text), '\s+'))) AS token
        |  FROM documents),
        |tok AS (SELECT doc_id, token FROM toks WHERE token <> ''),
        |tf AS (SELECT doc_id, token, COUNT(*) AS tf FROM tok GROUP BY 1, 2),
        |dfreq AS (SELECT token, COUNT(*) AS df FROM tf GROUP BY 1),
        |n AS (SELECT COUNT(*) AS n_docs FROM documents),
        |scored AS (
        |  SELECT doc_id, token, tf,
        |         round(CAST(tf AS DOUBLE)
        |               * ln(CAST(n_docs AS DOUBLE) / CAST(df AS DOUBLE)), 6) AS tfidf
        |  FROM tf JOIN dfreq USING (token) CROSS JOIN n),
        |ranked AS (
        |  SELECT doc_id, token, tf, tfidf,
        |         ROW_NUMBER() OVER (PARTITION BY doc_id
        |                            ORDER BY tfidf DESC, token) AS rnk
        |  FROM scored)
        |SELECT doc_id, token, CAST(tf AS BIGINT) AS tf, tfidf,
        |       CAST(rnk AS INTEGER) AS rnk
        |FROM ranked WHERE rnk <= 3""".stripMargin,
    "text_top_tokens" ->
      """WITH toks AS (
        |  SELECT unnest(regexp_split_to_array(trim(text), '\s+')) AS raw FROM documents)
        |SELECT lower(raw) AS token, COUNT(*) AS n
        |FROM toks WHERE raw <> ''
        |GROUP BY 1
        |ORDER BY n DESC, token
        |LIMIT 20""".stripMargin,
    // identical left-associative double ratio of exact counts, one ln,
    // rounded 1e-6 — the engine's expression transcribed
    "text_pmi" ->
      """WITH toks AS (
        |  SELECT regexp_split_to_array(trim(text), '\s+') AS t FROM documents),
        |uni AS (
        |  SELECT lower(raw) AS w FROM
        |  (SELECT unnest(t) AS raw FROM toks) WHERE raw <> ''),
        |cuni AS (SELECT w, COUNT(*) AS c_w FROM uni GROUP BY 1),
        |ntok AS (SELECT COUNT(*) AS n_tok FROM uni),
        |bg AS (
        |  SELECT split_part(p, ' ', 1) AS w_a, split_part(p, ' ', 2) AS w_b FROM
        |  (SELECT unnest(list_transform(range(1, len(t)),
        |     i -> lower(t[i]) || ' ' || lower(t[i+1]))) AS p
        |   FROM toks WHERE len(t) >= 2)),
        |nbg AS (SELECT COUNT(*) AS n_bg FROM bg),
        |cp AS (
        |  SELECT w_a, w_b, COUNT(*) AS c_pair FROM bg
        |  GROUP BY 1, 2 HAVING COUNT(*) >= 5)
        |SELECT w_a, w_b, c_pair,
        |       round(ln(CAST(c_pair AS DOUBLE) * n_tok * n_tok /
        |             (CAST(n_bg AS DOUBLE) * ca.c_w * cb.c_w)), 6) AS pmi
        |FROM cp
        |JOIN cuni ca ON ca.w = cp.w_a
        |JOIN cuni cb ON cb.w = cp.w_b
        |CROSS JOIN ntok CROSS JOIN nbg""".stripMargin,
    // the same OLS-over-milli-logs: ranks by (count desc, token), each ln
    // rounded once to 1e-3, exact integer moments, one division
    "text_heaps_law" -> TextOps.heapsLawOracleSql(),
    "text_zipf_slope" ->
      """WITH toks AS (
        |  SELECT unnest(regexp_split_to_array(trim(text), '\s+')) AS token
        |  FROM documents WHERE length(trim(text)) > 0),
        |counts AS (SELECT token, COUNT(*) AS c FROM toks GROUP BY 1),
        |ranked AS (
        |  SELECT c, ROW_NUMBER() OVER (ORDER BY c DESC, token) AS r FROM counts),
        |pts AS (
        |  SELECT CAST(floor(ln(CAST(r AS DOUBLE)) * 1e3 + 0.5) AS BIGINT) AS x,
        |         CAST(floor(ln(CAST(c AS DOUBLE)) * 1e3 + 0.5) AS BIGINT) AS y
        |  FROM ranked WHERE r <= 65536),
        |s AS (
        |  SELECT COUNT(*) AS n, CAST(SUM(x) AS BIGINT) AS sx,
        |         CAST(SUM(y) AS BIGINT) AS sy,
        |         CAST(SUM(x*y) AS BIGINT) AS sxy, CAST(SUM(x*x) AS BIGINT) AS sxx
        |  FROM pts)
        |SELECT CAST(n AS BIGINT) AS n_types,
        |       CASE WHEN n*sxx - sx*sx = 0 THEN NULL
        |            ELSE CAST(n*sxy - sx*sy AS DOUBLE) / CAST(n*sxx - sx*sx AS DOUBLE)
        |       END AS zipf_slope
        |FROM s""".stripMargin,
    // DSIR replay: identical md5-bucketed unigrams, identical Laplace
    // log-ratio rounded ONCE per bucket to micro longs, exact long sums
    // per doc — ln() agreement across engines is already proven by
    // text_tfidf; the single rounding point keeps sums exact
    "q_dsir_weights" ->
      """WITH toks AS (
        |  SELECT doc_id, lang = 'en' AS is_tgt,
        |         unnest(regexp_split_to_array(trim(text), '\s+')) AS token
        |  FROM documents WHERE length(trim(text)) > 0),
        |tok AS (
        |  SELECT doc_id, is_tgt,
        |         ('0x' || substring(md5(token), 1, 15))::BIGINT % 4096 AS b
        |  FROM toks WHERE token <> ''),
        |stats AS (
        |  SELECT b, COUNT(*) AS cnt_s,
        |         SUM(CASE WHEN is_tgt THEN 1 ELSE 0 END) AS cnt_t
        |  FROM tok GROUP BY 1),
        |totals AS (SELECT SUM(cnt_s) AS n_s, SUM(cnt_t) AS n_t FROM stats),
        |ratio AS (
        |  SELECT b,
        |         CAST(floor((ln(CAST(cnt_t AS DOUBLE) + 1.0)
        |                     - ln(CAST(n_t AS DOUBLE) + 4096.0)
        |                     - ln(CAST(cnt_s AS DOUBLE) + 1.0)
        |                     + ln(CAST(n_s AS DOUBLE) + 4096.0)) * 1e6 + 0.5) AS BIGINT)
        |           AS ratio_micro
        |  FROM stats CROSS JOIN totals)
        |SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_tokens,
        |       CAST(SUM(ratio_micro) AS BIGINT) AS weight_micro
        |FROM tok JOIN ratio USING (b)
        |GROUP BY doc_id
        |ORDER BY weight_micro DESC, doc_id
        |LIMIT 50""".stripMargin,
    // one scored CTE, two disjoint bands: all positives >= 0.35, top-5
    // ranked negatives in [0, 0.35) — same rounded-cosine replay as
    // ann_topk_brute
    "embed_contrastive" ->
      """WITH e AS (
        |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        |  FROM embeddings),
        |q AS (SELECT vec_id AS anchor_id, v AS qv FROM e WHERE vec_id < 10),
        |scored AS (
        |  SELECT anchor_id, vec_id AS pair_id,
        |         round(list_sum(list_transform(range(1, len(qv)+1), i -> qv[i]*v[i])) /
        |               (sqrt(list_sum(list_transform(qv, x -> x*x))) *
        |                sqrt(list_sum(list_transform(v, x -> x*x)))), 6) AS cosine
        |  FROM q, e WHERE vec_id <> anchor_id)
        |SELECT anchor_id, pair_id, cosine, 'pos' AS kind
        |FROM scored WHERE cosine >= 0.35
        |UNION ALL
        |SELECT anchor_id, pair_id, cosine, 'neg' AS kind FROM (
        |  SELECT *, ROW_NUMBER() OVER (
        |    PARTITION BY anchor_id ORDER BY cosine DESC, pair_id) AS rk
        |  FROM scored WHERE cosine >= 0.0 AND cosine < 0.35) t
        |WHERE rk <= 5""".stripMargin,
    // the identical merge-rule replace chain over the identical
    // delimiter-wrapped symbol strings — non-overlapping left-to-right
    // replace is leftmost-greedy BPE on both engines, so the counts are
    // exact (the merge table is a shared literal, trained driver-side on
    // the fixture corpus)
    "text_bpe_encode" ->
      s"""WITH words AS (
         |  SELECT doc_id, unnest(regexp_split_to_array(trim(text), '\\s+')) AS word
         |  FROM documents WHERE length(trim(text)) > 0),
         |flt AS (SELECT doc_id, word FROM words WHERE regexp_matches(word, '^[a-z]+$$')),
         |sym AS (
         |  SELECT doc_id,
         |         substring(regexp_replace(word, '(.)', '(\\1)', 'g'), 1,
         |                   length(regexp_replace(word, '(.)', '(\\1)', 'g')) - 1)
         |           || '</w>)' AS s0
         |  FROM flt),
         |enc AS (SELECT doc_id, $bpeReplaceChainSql AS s FROM sym)
         |SELECT doc_id,
         |       CAST(COUNT(*) AS BIGINT) AS n_words,
         |       CAST(SUM(length(s) - length(replace(s, '(', ''))) AS BIGINT) AS n_bpe_tokens
         |FROM enc
         |GROUP BY doc_id""".stripMargin,
    // the unigram-LM family: DuckDB replays the WHOLE 2-round hard-EM
    // training (seed counts, recursive-CTE Viterbi lattice, backtrack,
    // M-step, prune) and then the final-model encode — generated beside
    // the operator (graft.text.Unigram) so the two engines share one
    // integer-exact recipe
    "text_unigram_train" -> graft.text.Unigram.trainOracleSql,
    "text_unigram_encode" -> graft.text.Unigram.encodeOracleSql,
    "text_unigram_fertility" -> graft.text.Unigram.fertilityOracleSql,
    "text_maxmatch_encode" -> graft.text.Unigram.maxMatchOracleSql,
    "text_tokenizer_compare" -> graft.text.Unigram.tokenizerCompareOracleSql,
    // same replace chain per word, per-source sums, one integer division
    "text_fertility" ->
      s"""WITH words AS (
         |  SELECT source, unnest(regexp_split_to_array(trim(text), '\\s+')) AS word
         |  FROM documents WHERE length(trim(text)) > 0),
         |flt AS (SELECT source, word FROM words WHERE regexp_matches(word, '^[a-z]+$$')),
         |sym AS (
         |  SELECT source, length(word) AS n_chars,
         |         substring(regexp_replace(word, '(.)', '(\\1)', 'g'), 1,
         |                   length(regexp_replace(word, '(.)', '(\\1)', 'g')) - 1)
         |           || '</w>)' AS s0
         |  FROM flt),
         |enc AS (SELECT source, n_chars, $bpeReplaceChainSql AS s FROM sym),
         |agg AS (
         |  SELECT source,
         |         CAST(COUNT(*) AS BIGINT) AS n_words,
         |         CAST(SUM(n_chars) AS BIGINT) AS n_word_chars,
         |         CAST(SUM(length(s) - length(replace(s, '(', ''))) AS BIGINT) AS n_bpe_tokens
         |  FROM enc GROUP BY source)
         |SELECT source, n_words, n_word_chars, n_bpe_tokens,
         |       CAST((1000000 * CAST(n_word_chars AS HUGEINT)) // n_bpe_tokens AS BIGINT) AS fertility_micro,
         |       FLOOR(CAST(n_word_chars AS DOUBLE) / CAST(n_bpe_tokens AS DOUBLE) * 1e6 + 0.5) / 1e6 AS fertility
         |FROM agg""".stripMargin,
    "text_token_count" ->
      """SELECT doc_id, n_chars,
        |       CAST(CASE WHEN length(trim(text)) = 0 THEN 0
        |            ELSE len(regexp_split_to_array(trim(text), '\s+')) END AS INTEGER) AS n_tokens,
        |       CAST(len(regexp_extract_all(text, '[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\s]')) AS INTEGER) AS n_subwords
        |FROM documents""".stripMargin,
    "text_quality" ->
      """WITH base AS (
        |  SELECT doc_id, n_chars,
        |         CASE WHEN length(trim(text)) = 0 THEN CAST([] AS VARCHAR[])
        |              ELSE regexp_split_to_array(trim(text), '\s+') END AS toks,
        |         CAST(length(text) - length(regexp_replace(text, '[!-/:-@\[-`{-~]', '', 'g')) AS INTEGER) AS n_punct
        |  FROM documents),
        |counted AS (
        |  SELECT doc_id, n_chars, CAST(len(toks) AS INTEGER) AS n_tokens, n_punct,
        |         CAST(len(list_filter(toks, x -> list_contains(
        |           ['the','a','an','of','to','in','is','and','or','for','on',
        |            'with','as','at','by','it','be','this','that','are'], x))) AS INTEGER) AS n_stopwords
        |  FROM base)
        |SELECT doc_id, n_chars, n_tokens, n_punct, n_stopwords,
        |       CASE WHEN n_chars > 0 THEN CAST(n_punct AS DOUBLE) / n_chars ELSE 0.0 END AS punct_ratio,
        |       CASE WHEN n_tokens > 0 THEN CAST(n_stopwords AS DOUBLE) / n_tokens ELSE 0.0 END AS stopword_ratio,
        |       least(CAST(n_tokens AS DOUBLE) / 100.0, 1.0) *
        |         (1.0 - CASE WHEN n_chars > 0 THEN CAST(n_punct AS DOUBLE) / n_chars ELSE 0.0 END) AS quality_score
        |FROM counted""".stripMargin,
    "text_langid" ->
      """WITH base AS (
        |  SELECT doc_id, text,
        |         CASE WHEN length(trim(text)) = 0 THEN CAST([] AS VARCHAR[])
        |              ELSE regexp_split_to_array(trim(text), '\s+') END AS toks
        |  FROM documents),
        |hits AS (
        |  SELECT doc_id, CAST(len(toks) AS INTEGER) AS n_tokens, length(text) AS tlen,
        |         length(regexp_replace(text, '[^\x{4e00}-\x{9fff}]', '', 'g')) AS n_cjk,
        |         len(list_filter(toks, x -> list_contains(['the','and','of','is','to','in','that','it','with','for'], x))) AS h_en,
        |         len(list_filter(toks, x -> list_contains(['el','la','de','que','y','los','las','en','un','una','es'], x))) AS h_es,
        |         len(list_filter(toks, x -> list_contains(['der','die','und','das','ist','nicht','ein','eine','mit','zu'], x))) AS h_de,
        |         len(list_filter(toks, x -> list_contains(['le','la','les','et','des','est','une','dans','que','pour'], x))) AS h_fr
        |  FROM base)
        |SELECT doc_id,
        |       CASE WHEN n_cjk * 2 > tlen THEN 'zh'
        |            WHEN greatest(h_en, h_es, h_de, h_fr) = 0 THEN 'und'
        |            WHEN h_en = greatest(h_en, h_es, h_de, h_fr) THEN 'en'
        |            WHEN h_es = greatest(h_en, h_es, h_de, h_fr) THEN 'es'
        |            WHEN h_de = greatest(h_en, h_es, h_de, h_fr) THEN 'de'
        |            ELSE 'fr' END AS lang_pred,
        |       CASE WHEN n_tokens > 0
        |            THEN CAST(greatest(h_en, h_es, h_de, h_fr) AS DOUBLE) / n_tokens
        |            ELSE 0.0 END AS lang_score
        |FROM hits""".stripMargin,
    "dedup_exact" ->
      """SELECT sha256(text) AS text_sha, MIN(doc_id) AS doc_id, COUNT(*) AS n_copies
        |FROM documents GROUP BY 1""".stripMargin,
    "dedup_ngram_jaccard" ->
      """WITH toks AS (
        |  SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS t FROM documents),
        |grams AS (
        |  SELECT doc_id, list_distinct(CASE WHEN len(t) < 3 THEN [array_to_string(t, ' ')]
        |    ELSE list_transform(range(1, len(t) - 1), i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2]) END) AS g
        |  FROM toks),
        |sizes AS (SELECT doc_id, len(g) AS n_grams FROM grams),
        |inv AS (SELECT doc_id, unnest(g) AS gram FROM grams),
        |rare AS (SELECT gram FROM inv GROUP BY 1 HAVING COUNT(*) <= 1000000),
        |f AS (SELECT inv.doc_id, inv.gram FROM inv JOIN rare USING (gram)),
        |shared AS (
        |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS shared
        |  FROM f a JOIN f b ON a.gram = b.gram AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2)
        |SELECT doc_a, doc_b,
        |       CAST(shared AS DOUBLE) / (sa.n_grams + sb.n_grams - shared) AS jaccard
        |FROM shared
        |JOIN sizes sa ON sa.doc_id = doc_a
        |JOIN sizes sb ON sb.doc_id = doc_b
        |WHERE CAST(shared AS DOUBLE) / (sa.n_grams + sb.n_grams - shared) >= 0.5""".stripMargin,
    "dedup_contamination" ->
      """WITH toks AS (
        |  SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS t FROM documents),
        |grams AS (
        |  SELECT doc_id, list_distinct(CASE WHEN len(t) < 3 THEN [array_to_string(t, ' ')]
        |    ELSE list_transform(range(1, len(t) - 1), i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2]) END) AS g
        |  FROM toks),
        |hashes AS (
        |  SELECT doc_id, ('0x' || substring(md5(gram), 1, 15))::BIGINT AS hv
        |  FROM (SELECT doc_id, unnest(g) AS gram FROM grams))
        |SELECT tr.doc_id, ev.doc_id AS eval_id, COUNT(*) AS n_shared
        |FROM (SELECT * FROM hashes WHERE doc_id % 50 <> 0) tr
        |JOIN (SELECT * FROM hashes WHERE doc_id % 50 = 0) ev USING (hv)
        |GROUP BY 1, 2
        |HAVING COUNT(*) >= 2""".stripMargin,
    // per-source DISTINCT shingle sets, pair intersection on the hash —
    // the same shingle/md5 replay as dedup_contamination, keyed by source
    "dedup_source_overlap" ->
      """WITH toks AS (
        |  SELECT source, regexp_split_to_array(trim(text), '\s+') AS t FROM documents),
        |grams AS (
        |  SELECT source, list_distinct(CASE WHEN len(t) < 3 THEN [array_to_string(t, ' ')]
        |    ELSE list_transform(range(1, len(t) - 1), i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2]) END) AS g
        |  FROM toks),
        |sh AS (
        |  SELECT DISTINCT source AS src, ('0x' || substring(md5(gram), 1, 15))::BIGINT AS hv
        |  FROM (SELECT source, unnest(g) AS gram FROM grams)),
        |sizes AS (SELECT src, COUNT(*) AS n FROM sh GROUP BY 1),
        |inter AS (
        |  SELECT a.src AS src_a, b.src AS src_b, COUNT(*) AS n_common
        |  FROM sh a JOIN sh b ON a.hv = b.hv AND a.src < b.src
        |  GROUP BY 1, 2)
        |SELECT src_a, src_b,
        |       sa.n AS n_a, sb.n AS n_b, n_common,
        |       CAST(n_common AS DOUBLE) / CAST(sa.n + sb.n - n_common AS DOUBLE) AS jaccard
        |FROM inter
        |JOIN sizes sa ON sa.src = src_a
        |JOIN sizes sb ON sb.src = src_b""".stripMargin,
    // transitive closure of the minhash pairs via DuckDB's recursive CTE
    // (Spark side: hybrid union-find / min-label propagation — Dedup.dupClusters)
    "dedup_clusters" -> dupClustersOracle,
    "dedup_clusters_star" -> dupClustersOracle,
    // the k-means training loop replayed end-to-end (seeding, rounded
    // argmin, fixed-point means) — generated CTE-per-iteration
    "ann_kmeans" -> graft.similarity.Ann.kmeansOracleSql(),
    // k-means|| replay: rounds + greedy steps unrolled, HUGEINT margins
    "ann_kmeanspp_init" -> graft.similarity.Ann.kmeansParallelInitOracleSql(),
    // identical training CTEs; b = min distance over OTHER centroids
    "embed_silhouette" -> graft.similarity.Ann.silhouetteOracleSql(),
    // identical kmeans replay + within-cluster pair filter + survivor rule
    "embed_semdedup" -> graft.similarity.Ann.semDedupOracleSql(),
    // survivors = min-id representative per cluster
    "dedup_survivors" ->
      s"SELECT doc_id FROM ($dupClustersOracle) c WHERE doc_id = cluster_id",
    // same minhash clusters; the split bucket replays the md5-of-cluster
    // arithmetic (60-bit non-negative, so % 100 agrees across engines)
    "q_leakage_split" ->
      s"""WITH m AS (
        |  SELECT d.doc_id,
        |         CAST(COALESCE(l.cluster_id, d.doc_id) AS BIGINT) AS cluster_id
        |  FROM documents d LEFT JOIN ($dupClustersOracle) l USING (doc_id)),
        |b AS (
        |  SELECT doc_id, cluster_id,
        |         ('0x' || substring(md5('split:' || CAST(cluster_id AS VARCHAR)), 1, 15))::BIGINT % 100 AS bucket
        |  FROM m)
        |SELECT doc_id, cluster_id,
        |       CASE WHEN bucket < 80 THEN 'train'
        |            WHEN bucket < 90 THEN 'val'
        |            ELSE 'test' END AS split
        |FROM b""".stripMargin,
    // survivors = best-quality member per cluster (same score expression
    // as text_quality; product of two deterministic doubles → identical)
    "dedup_best_survivors" ->
      s"""WITH q AS (
        |  SELECT doc_id,
        |         least(CAST(CASE WHEN length(trim(text)) = 0 THEN 0
        |                    ELSE len(regexp_split_to_array(trim(text), '\\s+')) END AS DOUBLE) / 100.0, 1.0) *
        |         (1.0 - CASE WHEN n_chars > 0
        |                THEN CAST(length(text) - length(regexp_replace(text, '[!-/:-@\\[-`{-~]', '', 'g')) AS DOUBLE) / n_chars
        |                ELSE 0.0 END) AS quality_score
        |  FROM documents),
        |r AS (
        |  SELECT c.cluster_id, c.doc_id, q.quality_score,
        |         ROW_NUMBER() OVER (PARTITION BY c.cluster_id
        |           ORDER BY q.quality_score DESC, c.doc_id) AS rn
        |  FROM ($dupClustersOracle) c JOIN q USING (doc_id))
        |SELECT cluster_id, doc_id AS best_doc_id, quality_score FROM r WHERE rn = 1""".stripMargin,
    // deterministic PQ (md5 seeds, fixed-point means, rounded+tie-broken
    // argmins) → deterministic distance-ratio/range verdicts, pinned TRUE;
    // candidate cardinality is data-derived and cross-checked
    "ann_topk_pq" ->
      """SELECT vec_id AS query_id,
        |       LEAST(10, (SELECT COUNT(*) FROM embeddings) - 1) AS n_candidates,
        |       TRUE AS dist_ratio_ok, TRUE AS codes_in_range
        |FROM embeddings WHERE vec_id < 10""".stripMargin,
    "ann_topk_brute" -> bruteTopkOracle(),
    // greedy MMR unrolled as k CTE rounds (anti-join selected, argmax by
    // obj DESC then vec_id); identical 1e-6-rounded cosines both sides
    "ann_mmr_rerank" -> Ann.mmrOracleSql(),
    // recall@5 of both approximate indexes against the exact brute top-5,
    // composed from the same three replays so all four stay in lockstep
    "ann_recall" -> annRecallOracle,
    // identical cosine replay, banded to [0, 0.45) before the rank — the
    // 1e-6 rounding happens BEFORE the band test on both engines, so a
    // knife-edge 0.450000 excludes identically
    "embed_hard_negatives" ->
      """WITH e AS (
        |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        |  FROM embeddings),
        |q AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id < 10),
        |scored AS (
        |  SELECT query_id, vec_id,
        |         round(list_sum(list_transform(range(1, len(qv)+1), i -> qv[i]*v[i])) /
        |               (sqrt(list_sum(list_transform(qv, x -> x*x))) *
        |                sqrt(list_sum(list_transform(v, x -> x*x)))), 6) AS cosine
        |  FROM q, e WHERE vec_id <> query_id),
        |banded AS (SELECT * FROM scored WHERE cosine >= 0.0 AND cosine < 0.45)
        |SELECT query_id, vec_id, cosine, rank FROM (
        |  SELECT *, CAST(ROW_NUMBER() OVER (
        |    PARTITION BY query_id ORDER BY cosine DESC, vec_id) AS INTEGER) AS rank
        |  FROM banded) t
        |WHERE rank <= 5""".stripMargin,
    "mm_frames" ->
      """WITH media AS (
        |  SELECT doc_id AS media_id,
        |         (['image','audio','video'])[CAST(doc_id % 3 AS INTEGER) + 1] AS kind,
        |         text
        |  FROM documents),
        |frames AS (
        |  SELECT media_id, kind, i AS frame_idx,
        |         substring(text, CAST(i * 64 + 1 AS INTEGER), 64) AS f
        |  FROM media, range(0, 4) t(i))
        |SELECT media_id, kind, CAST(frame_idx AS INTEGER) AS frame_idx,
        |       sha256(f) AS frame_sha, CAST(length(f) AS INTEGER) AS frame_len
        |FROM frames WHERE length(f) > 0""".stripMargin,
    "q_asof_join" ->
      """WITH r AS (
        |  SELECT o_orderkey, o_custkey, o_orderdate, o_totalprice FROM (
        |    SELECT o_orderkey, o_custkey, o_orderdate, o_totalprice,
        |           ROW_NUMBER() OVER (PARTITION BY o_custkey, o_orderdate
        |                              ORDER BY o_orderkey DESC) AS rn
        |    FROM orders) t WHERE rn = 1)
        |SELECT e.event_id, e.user_id, e.ts,
        |       r.o_orderkey, r.o_orderdate, r.o_totalprice
        |FROM events e ASOF LEFT JOIN r
        |  ON e.user_id = r.o_custkey AND e.ts >= r.o_orderdate""".stripMargin,
    "q_sample_per_class" ->
      """SELECT vec_id, label FROM (
        |  SELECT vec_id, label,
        |         ROW_NUMBER() OVER (PARTITION BY label
        |           ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) AS rn
        |  FROM embeddings) t
        |WHERE rn <= 5""".stripMargin,
    // every hash below is md5-derived (md5Base60), so the sketches replay
    // exactly in DuckDB — see Dedup.md5Base60
    "text_fingerprint" ->
      """WITH g AS (
        |  SELECT doc_id, list_transform(range(1, greatest(length(text) - 7, 1) + 1),
        |         i -> md5(substring(text, CAST(i AS INTEGER), 8))) AS gh
        |  FROM documents)
        |SELECT doc_id, list_aggregate(gh, 'min') AS fp_min,
        |       list_aggregate(gh, 'max') AS fp_max,
        |       CAST(len(gh) AS INTEGER) AS n_grams
        |FROM g""".stripMargin,
    // winnowing selection replayed positionally: rightmost window min =
    // list_max over positions attaining list_min of the window slice
    "text_winnow" -> TextOps.winnowOracleSql(),
    "dedup_winnow" -> graft.dedup.Dedup.winnowPairsOracleSql(),
    "dedup_minhash" -> minhashPairsOracle,
    // incremental replay: same signature/band pipeline, but candidates
    // come from batch-bands probing corpus-bands — never corpus × corpus
    "dedup_incremental" -> {
      val perms = Dedup.seedTriples(32)
        .map { case (i, a, b) => s"($i, $a, $b)" }.mkString(", ")
      s"""WITH toks AS (
        |  SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS t FROM documents),
        |grams AS (
        |  SELECT doc_id, list_distinct(CASE WHEN len(t) < 3 THEN [array_to_string(t, ' ')]
        |    ELSE list_transform(range(1, len(t) - 1), i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2]) END) AS g
        |  FROM toks),
        |bases AS (
        |  SELECT doc_id, ('0x' || substring(md5(gram), 1, 15))::BIGINT % 2147483647 AS h
        |  FROM (SELECT doc_id, unnest(g) AS gram FROM grams)),
        |perms(perm, a, b) AS (VALUES $perms),
        |sig AS (
        |  SELECT doc_id, perm, MIN((a * h + b) % 2147483647) AS s
        |  FROM bases CROSS JOIN perms GROUP BY 1, 2),
        |bands AS (
        |  SELECT doc_id, perm // 4 AS band,
        |         string_agg(CAST(s AS VARCHAR), ',' ORDER BY perm) AS bh
        |  FROM sig GROUP BY 1, 2),
        |cand AS (
        |  SELECT DISTINCT n.doc_id AS batch_doc, c.doc_id AS corpus_doc
        |  FROM bands n JOIN bands c ON n.band = c.band AND n.bh = c.bh
        |  WHERE n.doc_id % 5 = 0 AND c.doc_id % 5 <> 0)
        |SELECT batch_doc, corpus_doc, est_jaccard FROM (
        |  SELECT batch_doc, corpus_doc,
        |         SUM(CASE WHEN sa.s = sb.s THEN 1 ELSE 0 END) / 32.0 AS est_jaccard
        |  FROM cand JOIN sig sa ON sa.doc_id = batch_doc
        |            JOIN sig sb ON sb.doc_id = corpus_doc AND sa.perm = sb.perm
        |  GROUP BY 1, 2) t
        |WHERE est_jaccard >= 0.5""".stripMargin
    },
    "dedup_simhash" -> {
      val bitSums = (0 until Dedup.SimhashBits)
        .map(j => s"SUM(CASE WHEN (v >> $j) & 1 = 1 THEN 1 ELSE -1 END) AS b$j")
        .mkString(",\n")
      val simExpr = (0 until Dedup.SimhashBits)
        .map(j => s"(CASE WHEN b$j > 0 THEN ${1L << j} ELSE 0 END)")
        .mkString(" + ")
      s"""WITH toks AS (
        |  SELECT doc_id, unnest(CASE WHEN length(trim(text)) = 0 THEN CAST([] AS VARCHAR[])
        |         ELSE regexp_split_to_array(trim(text), '\\s+') END) AS token
        |  FROM documents),
        |h AS (SELECT doc_id, ('0x' || substring(md5(token), 1, 15))::BIGINT AS v FROM toks),
        |bits AS (SELECT doc_id, $bitSums FROM h GROUP BY 1),
        |sk AS (SELECT doc_id, CAST($simExpr AS BIGINT) AS simhash FROM bits),
        |ch AS (SELECT doc_id, simhash, c, (simhash >> CAST(c * 15 AS INTEGER)) & 32767 AS cv
        |       FROM sk CROSS JOIN range(4) t(c)),
        |pairs AS (
        |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |         a.simhash AS sha, b.simhash AS shb
        |  FROM ch a JOIN ch b ON a.c = b.c AND a.cv = b.cv AND a.doc_id < b.doc_id)
        |SELECT doc_a, doc_b, CAST(bit_count(xor(sha, shb)) AS INTEGER) AS hamming
        |FROM pairs WHERE bit_count(xor(sha, shb)) <= 3""".stripMargin
    },
    "ann_topk_ivf" -> ivfTopkOracle,
    "q_ivm_ann" -> ivmAnnOracle,
    "ann_topk_ivfpq" -> ivfPqOracle,
    // greedy farthest-point trajectory replayed round by round (rounded
    // exact-fold distances, vec_id tie-breaks — the kmeans/MMR pattern)
    "embed_kcenter" -> graft.similarity.Kcenter.kcenterOracleSql(),
    "mm_features" ->
      """WITH media AS (
        |  SELECT doc_id AS media_id,
        |         (['image','audio','video'])[CAST(doc_id % 3 AS INTEGER) + 1] AS kind,
        |         text
        |  FROM documents),
        |chars AS (SELECT media_id, unnest(regexp_extract_all(text, '[\s\S]')) AS ch FROM media),
        |agg AS (SELECT media_id, COUNT(*) AS n, SUM(ord(ch)) AS s FROM chars GROUP BY 1)
        |SELECT m.media_id, m.kind, CAST(length(m.text) AS INTEGER) AS n_bytes,
        |       CASE WHEN a.n IS NULL THEN 0.0 ELSE CAST(a.s AS DOUBLE) / a.n END AS byte_mean,
        |       ('0x' || substring(md5(m.text), 1, 15))::BIGINT AS phash
        |FROM media m LEFT JOIN agg a ON a.media_id = m.media_id""".stripMargin,
    // features computed straight from the generating PCM formula
    // s_i = ((id·31 + i·7919) mod 2^16) − 2^15 — the engine round-trips
    // the same signal through a real WAV encode+decode, so equality
    // proves codec losslessness; all features exact integers
    // per-frame features straight from the generating pixel formula
    // v(id,f,x,y) = (id·31 + f·97 + x·7 + y·13) mod 256 — the engine
    // round-trips the frames through a real animated-GIF encode+decode
    // (palette-indexed, lossless), so the hash match proves the demux
    // and codec path; all features exact integers
    "mm_video" ->
      """WITH nf AS (SELECT doc_id, 2 + doc_id % 4 AS n_frames FROM documents),
        |px AS (
        |  SELECT nf.doc_id, f.i AS frame_idx, nf.n_frames,
        |         (nf.doc_id * 31 + f.i * 97 + x.i * 7 + y.i * 13) % 256 AS v,
        |         (nf.doc_id * 31 + (f.i - 1) * 97 + x.i * 7 + y.i * 13) % 256 AS pv
        |  FROM nf
        |  CROSS JOIN range(0, 5) f(i)
        |  CROSS JOIN range(0, 16) x(i)
        |  CROSS JOIN range(0, 12) y(i)
        |  WHERE f.i < nf.n_frames)
        |SELECT doc_id AS media_id,
        |       CAST(frame_idx AS INTEGER) AS frame_idx,
        |       CAST(n_frames AS INTEGER) AS n_frames,
        |       CAST(16 AS INTEGER) AS frame_w, CAST(12 AS INTEGER) AS frame_h,
        |       CAST(SUM(v) AS BIGINT) AS intensity_sum,
        |       CAST(SUM(CASE WHEN v > 127 THEN 1 ELSE 0 END) AS BIGINT) AS bright_px,
        |       CAST(SUM(CASE WHEN frame_idx = 0 THEN 0 ELSE abs(v - pv) END) AS BIGINT)
        |         AS motion_sum
        |FROM px GROUP BY 1, 2, 3""".stripMargin,
    "mm_audio" ->
      """WITH ns AS (SELECT doc_id, 256 + doc_id % 256 AS n FROM documents),
        |s AS (
        |  SELECT ns.doc_id, t.i,
        |         ((ns.doc_id * 31 + t.i * 7919) % 65536) - 32768 AS v
        |  FROM ns, range(0, 512) t(i)
        |  WHERE t.i < ns.n),
        |lagged AS (
        |  SELECT doc_id, i, v,
        |         LAG(v) OVER (PARTITION BY doc_id ORDER BY i) AS prev
        |  FROM s)
        |SELECT doc_id AS media_id,
        |       CAST(256 + doc_id % 256 AS BIGINT) AS n_samples,
        |       CAST(8000 AS INTEGER) AS sample_rate,
        |       CAST(SUM(CASE WHEN prev IS NOT NULL AND ((v < 0) <> (prev < 0))
        |                     THEN 1 ELSE 0 END) AS BIGINT) AS zero_crossings,
        |       CAST(SUM(CAST(v AS HUGEINT) * v) AS BIGINT) AS energy
        |FROM lagged
        |GROUP BY doc_id""".stripMargin,
    "ann_topk_lsh" -> lshTopkOracle,
    "embed_neardup" -> {
      s"""WITH e AS (
        |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        |  FROM embeddings),
        |planes(j, p) AS (VALUES $planes),
        |bits AS (
        |  SELECT e.vec_id, planes.j,
        |         CASE WHEN round(list_sum(list_transform(range(1, 65),
        |             k -> coalesce(e.v[k] * planes.p[k], 0.0))), 6) > 0
        |              THEN 1 ELSE 0 END AS bit
        |  FROM e CROSS JOIN planes),
        |buckets AS (
        |  SELECT vec_id, j // 8 AS t, SUM(bit * (1 << CAST(j % 8 AS INTEGER))) AS bucket
        |  FROM bits GROUP BY 1, 2),
        |prs AS (
        |  SELECT DISTINCT a.vec_id AS vec_a, b.vec_id AS vec_b
        |  FROM buckets a JOIN buckets b
        |    ON a.t = b.t AND a.bucket = b.bucket AND a.vec_id < b.vec_id)
        |SELECT vec_a, vec_b, cosine FROM (
        |  SELECT p.vec_a, p.vec_b,
        |         round(list_sum(list_transform(range(1, len(ea.v)+1), i -> ea.v[i]*eb.v[i])) /
        |             (sqrt(list_sum(list_transform(ea.v, x -> x*x))) *
        |              sqrt(list_sum(list_transform(eb.v, x -> x*x)))), 6) AS cosine
        |  FROM prs p JOIN e ea ON ea.vec_id = p.vec_a
        |             JOIN e eb ON eb.vec_id = p.vec_b) t
        |WHERE cosine >= 0.35""".stripMargin
    },
    "pipeline_curate" -> curateOracle,
    "pipeline_mm_curate" -> mmCurateOracle,
    // curate → vocab → encode → pack, one differential check end to end
    // (outer CTEs p-prefixed so they can't shadow names inside curateOracle)
    "pipeline_corpus_prep" ->
      s"""WITH cur AS ($curateOracle),
        |ptoks AS (
        |  SELECT doc_id, CASE WHEN length(trim(text)) = 0 THEN CAST([] AS VARCHAR[])
        |         ELSE regexp_split_to_array(trim(text), '\\s+') END AS t
        |  FROM cur),
        |pflat AS (
        |  SELECT doc_id, unnest(range(1, len(t) + 1)) AS pos, unnest(t) AS token FROM ptoks),
        |pcounts AS (SELECT token, COUNT(*) AS token_count FROM pflat GROUP BY 1),
        |pv AS (
        |  SELECT token, token_id FROM (
        |    SELECT token, CAST(ROW_NUMBER() OVER (ORDER BY token_count DESC, token) AS BIGINT) AS token_id
        |    FROM pcounts) v
        |  WHERE token_id <= 65536),
        |penc AS (
        |  SELECT f.doc_id,
        |         CAST(COUNT(*) AS BIGINT) AS n_tokens,
        |         CAST(SUM(CASE WHEN pv.token_id IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_oov,
        |         string_agg(CAST(COALESCE(pv.token_id, 0) AS VARCHAR), ',' ORDER BY f.pos) AS token_ids
        |  FROM pflat f LEFT JOIN pv ON f.token = pv.token
        |  GROUP BY 1),
        |pencfull AS (
        |  SELECT c.doc_id,
        |         COALESCE(e.n_tokens, 0) AS n_tokens,
        |         COALESCE(e.n_oov, 0) AS n_oov,
        |         COALESCE(e.token_ids, '') AS token_ids
        |  FROM cur c LEFT JOIN penc e ON c.doc_id = e.doc_id),
        |prun AS (
        |  SELECT doc_id,
        |         CAST(COALESCE(SUM(len(t)) OVER (ORDER BY doc_id
        |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS prev,
        |         CAST(len(t) AS BIGINT) AS nt
        |  FROM ptoks)
        |SELECT ef.doc_id, ef.n_tokens, ef.n_oov, ef.token_ids,
        |       r.prev // 2048 AS pack_id,
        |       r.prev % 2048 AS pack_offset,
        |       (r.prev % 2048 + r.nt > 2048) AS spans_boundary
        |FROM pencfull ef JOIN prun r ON ef.doc_id = r.doc_id""".stripMargin,
    // Laplace unigram LM; ln pinned to micro-longs, exact per-doc sums
    "text_lm_score" ->
      """WITH toks AS (
        |  SELECT doc_id, lower(t) AS token
        |  FROM (SELECT doc_id, unnest(regexp_split_to_array(trim(text), '\s+')) AS t
        |        FROM documents) u
        |  WHERE t <> ''),
        |counts AS (SELECT token, COUNT(*) AS c FROM toks GROUP BY 1),
        |stats AS (SELECT SUM(c) AS n_total, COUNT(*) AS v_size FROM counts),
        |scored AS (
        |  SELECT tk.doc_id,
        |         CAST(COUNT(*) AS BIGINT) AS n_tokens,
        |         CAST(SUM(CAST(floor(ln((cn.c + 1.0) / (s.n_total + s.v_size)) * 1000000.0 + 0.5) AS BIGINT)) AS BIGINT) AS lp_sum_micro
        |  FROM toks tk JOIN counts cn ON tk.token = cn.token CROSS JOIN stats s
        |  GROUP BY 1)
        |SELECT d.doc_id,
        |       COALESCE(sc.n_tokens, 0) AS n_tokens,
        |       COALESCE(sc.lp_sum_micro, 0) AS lp_sum_micro,
        |       CASE WHEN sc.n_tokens IS NULL OR sc.n_tokens = 0 THEN 0.0
        |            ELSE CAST(sc.lp_sum_micro AS DOUBLE) / (sc.n_tokens * 1000000.0) END
        |         AS avg_logprob
        |FROM documents d LEFT JOIN scored sc ON d.doc_id = sc.doc_id""".stripMargin,
    // KN continuation-probability smoothing, micro-long pinned like
    // text_lm_score; every division forced double by identical casts
    "text_kn_bigram" -> graft.text.Bm25.knBigramOracleSql,
    // same RapidFuzz-convention Jaro-Winkler on both engines, round 1e-6
    "q_jaro_pairs" ->
      """SELECT key_a, key_b, jw FROM (
        |  SELECT a.p_partkey AS key_a, b.p_partkey AS key_b,
        |         round(jaro_winkler_similarity(a.p_name, b.p_name), 6) AS jw
        |  FROM part a JOIN part b
        |    ON a.p_brand = b.p_brand AND a.p_partkey < b.p_partkey) t
        |WHERE jw >= 0.85""".stripMargin,
    // OHLC bars: first/last by row_number, epoch-aligned 15-min buckets
    "q_ohlc_bars" ->
      """WITH base AS (
        |  SELECT event_type, ts, event_id, value,
        |         time_bucket(INTERVAL 15 MINUTE, ts) AS bar_start,
        |         ROW_NUMBER() OVER (PARTITION BY event_type, time_bucket(INTERVAL 15 MINUTE, ts)
        |           ORDER BY ts ASC, event_id ASC) AS rna,
        |         ROW_NUMBER() OVER (PARTITION BY event_type, time_bucket(INTERVAL 15 MINUTE, ts)
        |           ORDER BY ts DESC, event_id DESC) AS rnd
        |  FROM events)
        |SELECT event_type, bar_start,
        |       CAST(COUNT(*) AS BIGINT) AS n_events,
        |       MAX(CASE WHEN rna = 1 THEN value END) AS open,
        |       MAX(value) AS high,
        |       MIN(value) AS low,
        |       MAX(CASE WHEN rnd = 1 THEN value END) AS close,
        |       CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS volume
        |FROM base GROUP BY 1, 2""".stripMargin,
    // MAD outliers: two scalar medians, one literal 4.4478 = 3·1.4826
    "q_mad_outliers" ->
      """WITH med AS (SELECT quantile_cont(o_totalprice, 0.5) AS med FROM orders),
        |mad AS (SELECT quantile_cont(ABS(o_totalprice - med.med), 0.5) AS mad
        |        FROM orders, med)
        |SELECT o_orderkey, o_totalprice,
        |       (ABS(o_totalprice - med.med) > 4.4478 * mad.mad) AS is_outlier
        |FROM orders, med, mad""".stripMargin,
    // Efraimidis–Spirakis keys from the same md5 uniforms, round-before-rank
    "q_weighted_sample" ->
      """SELECT doc_id, n_chars FROM (
        |  SELECT doc_id, n_chars,
        |         round(ln((('0x' || substring(md5('ws:' || CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT::DOUBLE + 1.0)
        |               / 1152921504606846976.0) / n_chars, 6) AS es_key
        |  FROM documents) t
        |ORDER BY es_key DESC, doc_id
        |LIMIT 100""".stripMargin,
    // same A-ES keys ranked per stratum (row_number <= k within source)
    "q_weighted_sample_group" ->
      """SELECT source, doc_id, n_chars FROM (
        |  SELECT source, doc_id, n_chars,
        |         ROW_NUMBER() OVER (PARTITION BY source ORDER BY es_key DESC, doc_id) AS rn
        |  FROM (
        |    SELECT source, doc_id, n_chars,
        |           round(ln((('0x' || substring(md5('wsg:' || CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT::DOUBLE + 1.0)
        |                 / 1152921504606846976.0) / n_chars, 6) AS es_key
        |    FROM documents) t) t2
        |WHERE rn <= 20""".stripMargin,
    // replay the identical kmeans run (shared CTEs), then the per-cluster
    // A-ES reservoir over (dist + 1) weights
    "ann_cluster_sample" ->
      s"""WITH ${graft.similarity.Ann.kmeansOracleCtes()},
        |keyed AS (
        |  SELECT vec_id, cid, d,
        |         round(ln((('0x' || substring(md5('wsg:' || CAST(vec_id AS VARCHAR)), 1, 15))::BIGINT::DOUBLE + 1.0)
        |               / 1152921504606846976.0) / (d + 1.0), 6) AS es_key
        |  FROM afinal)
        |SELECT vec_id, CAST(cid AS INTEGER) AS cid, d AS dist FROM (
        |  SELECT vec_id, cid, d,
        |         ROW_NUMBER() OVER (PARTITION BY cid ORDER BY es_key DESC, vec_id) AS rn
        |  FROM keyed) t
        |WHERE rn <= 25""".stripMargin,
    // per-dim exact quartile bins; strict-< on identical doubles replays
    "embed_equidepth" ->
      """WITH e AS (
        |  SELECT vec_id, unnest(range(1, 65)) AS dim,
        |         unnest(list_transform(embedding, x -> CAST(x AS DOUBLE))) AS x
        |  FROM embeddings),
        |b AS (SELECT dim, quantile_cont(x, [0.25, 0.5, 0.75]) AS q FROM e GROUP BY 1),
        |binned AS (
        |  SELECT e.vec_id, e.dim,
        |         CASE WHEN x < q[1] THEN 0 WHEN x < q[2] THEN 1
        |              WHEN x < q[3] THEN 2 ELSE 3 END AS bin
        |  FROM e JOIN b ON e.dim = b.dim)
        |SELECT vec_id, string_agg(CAST(bin AS VARCHAR), ',' ORDER BY dim) AS bins_csv
        |FROM binned GROUP BY 1""".stripMargin,
    // Morton interleave as generated bit-math terms, fully parenthesized
    "q_zorder" -> {
      val terms = (0 until 21).flatMap { i =>
        Seq(s"(((user_id >> $i) & 1) << ${2 * i})",
          s"(((CAST(floor(value) AS BIGINT) >> $i) & 1) << ${2 * i + 1})")
      }.mkString(" | ")
      s"SELECT event_id, ($terms) AS zval FROM events"
    },
    // identical unrolled quadrant-rotation CTE chain (shared template)
    "q_hilbert" -> graft.operators.Hilbert.hilbertOracleSql(),
    // NTILE zone maps + overlap predicate per layout; hilbert CTE reuse
    "q_layout_prune" -> graft.operators.LayoutPrune.layoutPruneOracleSql(),
    // BM25: identical literal constants and association order; scores are
    // exact micro-unit long sums, so partial-agg order can't move them
    "text_bm25_topk" -> bm25TopkOracle(),
    // bm25 CTE chain + feedback/harvest/re-score rounds, exact long sums
    "text_prf_topk" -> prfTopkOracle(),
    // RRF fusion of the same two replays at depth 20
    "q_hybrid_rrf" -> hybridRrfOracle,
    // one SELECT per profiled column, stacked
    "q_profile" -> Seq("o_orderkey", "o_custkey", "o_orderstatus",
        "o_totalprice", "o_orderdate", "o_orderpriority")
      .map(c => s"""SELECT '$c' AS col_name,
        | CAST(COUNT(*) - COUNT($c) AS BIGINT) AS n_nulls,
        | CAST(COUNT(DISTINCT $c) AS BIGINT) AS n_distinct FROM orders""".stripMargin)
      .mkString("\nUNION ALL\n"),
    // count-min sketch, replayed cell-for-cell: same md5 bucket function,
    // same depth/width, estimate = min over the key's counters
    "q_countmin" ->
      """WITH h AS (
        |  SELECT user_id, i,
        |         ('0x' || substring(md5(CAST(i AS VARCHAR) || ':' || CAST(user_id AS VARCHAR)), 1, 15))::BIGINT % 256 AS bucket
        |  FROM events CROSS JOIN range(4) t(i)),
        |cells AS (SELECT i, bucket, CAST(COUNT(*) AS BIGINT) AS cnt FROM h GROUP BY 1, 2),
        |exact AS (SELECT user_id, CAST(COUNT(*) AS BIGINT) AS exact_count FROM events GROUP BY 1),
        |keyed AS (
        |  SELECT e.user_id, e.exact_count, i,
        |         ('0x' || substring(md5(CAST(i AS VARCHAR) || ':' || CAST(e.user_id AS VARCHAR)), 1, 15))::BIGINT % 256 AS bucket
        |  FROM exact e CROSS JOIN range(4) t(i))
        |SELECT k.user_id, k.exact_count, CAST(MIN(c.cnt) AS BIGINT) AS cm_estimate
        |FROM keyed k JOIN cells c ON k.i = c.i AND k.bucket = c.bucket
        |GROUP BY 1, 2""".stripMargin,
    // per-source rollup of token/char mass + C4 pass rate
    "text_corpus_stats" ->
      """WITH flags AS (
        |  SELECT doc_id,
        |         (len(list_filter(string_split(text, chr(10)), l ->
        |           substring(l, -1, 1) IN ('.', '!', '?', '"')
        |           AND len(regexp_split_to_array(trim(l), '\s+')) >= 5
        |           AND NOT contains(l, '{')
        |           AND NOT contains(lower(l), 'javascript')
        |           AND NOT contains(lower(l), 'lorem ipsum'))) > 0) AS c4_keep
        |  FROM documents),
        |base AS (
        |  SELECT d.doc_id, d.source, d.n_chars,
        |         CAST(CASE WHEN length(trim(d.text)) = 0 THEN 0
        |              ELSE len(regexp_split_to_array(trim(d.text), '\s+')) END AS BIGINT) AS n_toks,
        |         f.c4_keep
        |  FROM documents d JOIN flags f ON d.doc_id = f.doc_id)
        |SELECT source,
        |       CAST(COUNT(*) AS BIGINT) AS n_docs,
        |       CAST(SUM(n_toks) AS BIGINT) AS total_tokens,
        |       CAST(SUM(n_chars) AS BIGINT) AS total_chars,
        |       CAST(SUM(n_chars) AS DOUBLE) / COUNT(*) AS mean_chars,
        |       CAST(SUM(CASE WHEN c4_keep THEN 1 ELSE 0 END) AS DOUBLE) / COUNT(*) AS c4_keep_frac
        |FROM base GROUP BY 1""".stripMargin,
    // C4 line filter, replayed predicate-for-predicate via list_filter
    "text_c4_filter" ->
      """WITH staged AS (
        |  SELECT doc_id, string_split(text, chr(10)) AS lines FROM documents),
        |f AS (
        |  SELECT doc_id, lines,
        |         list_filter(lines, l ->
        |           substring(l, -1, 1) IN ('.', '!', '?', '"')
        |           AND len(regexp_split_to_array(trim(l), '\s+')) >= 5
        |           AND NOT contains(l, '{')
        |           AND NOT contains(lower(l), 'javascript')
        |           AND NOT contains(lower(l), 'lorem ipsum')) AS kept
        |  FROM staged)
        |SELECT doc_id,
        |       COALESCE(array_to_string(kept, chr(10)), '') AS clean_text,
        |       CAST(len(kept) AS INTEGER) AS n_lines_kept,
        |       CAST(len(lines) - len(kept) AS INTEGER) AS n_lines_dropped,
        |       (len(kept) > 0) AS c4_keep
        |FROM f""".stripMargin,
    // frequency-ranked vocabulary; rank = row_number by (count desc, token)
    "text_vocab" ->
      """WITH toks AS (
        |  SELECT doc_id, CASE WHEN length(trim(text)) = 0 THEN CAST([] AS VARCHAR[])
        |         ELSE regexp_split_to_array(trim(text), '\s+') END AS t
        |  FROM documents),
        |flat AS (SELECT doc_id, unnest(t) AS token FROM toks),
        |counts AS (SELECT token, CAST(COUNT(*) AS BIGINT) AS token_count FROM flat GROUP BY 1)
        |SELECT token, token_id, token_count FROM (
        |  SELECT token, token_count,
        |         CAST(ROW_NUMBER() OVER (ORDER BY token_count DESC, token) AS BIGINT) AS token_id
        |  FROM counts) v
        |WHERE token_id <= 65536""".stripMargin,
    // corpus → token-id sequences against the top-16 vocab; parallel
    // unnest(range, t) zips (pos, token) in lockstep
    "text_encode" ->
      """WITH toks AS (
        |  SELECT doc_id, CASE WHEN length(trim(text)) = 0 THEN CAST([] AS VARCHAR[])
        |         ELSE regexp_split_to_array(trim(text), '\s+') END AS t
        |  FROM documents),
        |flat AS (
        |  SELECT doc_id, unnest(range(1, len(t) + 1)) AS pos, unnest(t) AS token FROM toks),
        |counts AS (SELECT token, CAST(COUNT(*) AS BIGINT) AS token_count FROM flat GROUP BY 1),
        |vv AS (
        |  SELECT token, token_id FROM (
        |    SELECT token, CAST(ROW_NUMBER() OVER (ORDER BY token_count DESC, token) AS BIGINT) AS token_id
        |    FROM counts) v
        |  WHERE token_id <= 16),
        |enc AS (
        |  SELECT f.doc_id,
        |         CAST(COUNT(*) AS BIGINT) AS n_tokens,
        |         CAST(SUM(CASE WHEN vv.token_id IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_oov,
        |         string_agg(CAST(COALESCE(vv.token_id, 0) AS VARCHAR), ',' ORDER BY f.pos) AS token_ids
        |  FROM flat f LEFT JOIN vv ON f.token = vv.token
        |  GROUP BY 1)
        |SELECT d.doc_id,
        |       COALESCE(e.n_tokens, 0) AS n_tokens,
        |       COALESCE(e.n_oov, 0) AS n_oov,
        |       COALESCE(e.token_ids, '') AS token_ids
        |FROM documents d LEFT JOIN enc e ON d.doc_id = e.doc_id""".stripMargin,
    // Gopher-style repetition signals; every ratio is one IEEE division of
    // exact longs so the doubles (and the keep flag) replay bit-identically
    "text_repetition" ->
      """WITH staged AS (
        |  SELECT doc_id, n_chars,
        |         CASE WHEN length(trim(text)) = 0 THEN CAST([] AS VARCHAR[])
        |              ELSE regexp_split_to_array(trim(text), '\s+') END AS t,
        |         string_split(text, chr(10)) AS lines
        |  FROM documents),
        |base AS (
        |  SELECT doc_id, n_chars,
        |         CAST(len(t) AS INTEGER) AS n_tokens,
        |         CAST(len(list_distinct(t)) AS BIGINT) AS n_distinct_tokens,
        |         CAST(len(lines) AS INTEGER) AS n_lines,
        |         CAST(len(list_distinct(lines)) AS BIGINT) AS n_distinct_lines,
        |         CAST(COALESCE(list_sum(list_transform(lines, x -> length(x))), 0) AS BIGINT) AS line_chars,
        |         CAST(COALESCE(list_sum(list_transform(list_distinct(lines), x -> length(x))), 0) AS BIGINT) AS distinct_line_chars
        |  FROM staged),
        |grams AS (
        |  SELECT doc_id, unnest(list_transform(range(1, len(t)), i -> t[i] || ' ' || t[i+1])) AS gram
        |  FROM staged WHERE len(t) >= 2),
        |gc AS (SELECT doc_id, gram, COUNT(*) AS c FROM grams GROUP BY 1, 2),
        |gs AS (
        |  SELECT doc_id,
        |         CAST(MAX(c * length(gram)) AS BIGINT) AS top_mass,
        |         CAST(SUM(CASE WHEN c > 1 THEN c * length(gram) ELSE 0 END) AS BIGINT) AS dup_mass
        |  FROM gc GROUP BY 1),
        |r AS (
        |  SELECT b.doc_id, b.n_tokens, b.n_lines,
        |         CASE WHEN b.n_lines > 0
        |              THEN CAST(b.n_lines - b.n_distinct_lines AS DOUBLE) / b.n_lines
        |              ELSE 0.0 END AS dup_line_frac,
        |         CASE WHEN b.line_chars > 0
        |              THEN CAST(b.line_chars - b.distinct_line_chars AS DOUBLE) / b.line_chars
        |              ELSE 0.0 END AS dup_line_char_frac,
        |         CASE WHEN b.n_tokens > 0
        |              THEN CAST(b.n_tokens - b.n_distinct_tokens AS DOUBLE) / b.n_tokens
        |              ELSE 0.0 END AS dup_token_frac,
        |         CASE WHEN b.n_chars > 0
        |              THEN CAST(COALESCE(g.top_mass, 0) AS DOUBLE) / b.n_chars
        |              ELSE 0.0 END AS top_2gram_frac,
        |         CASE WHEN b.n_chars > 0
        |              THEN CAST(COALESCE(g.dup_mass, 0) AS DOUBLE) / b.n_chars
        |              ELSE 0.0 END AS dup_2gram_frac
        |  FROM base b LEFT JOIN gs g ON b.doc_id = g.doc_id)
        |SELECT *,
        |       (dup_line_frac <= 0.3 AND top_2gram_frac <= 0.2 AND dup_2gram_frac <= 0.6)
        |         AS repetition_keep
        |FROM r""".stripMargin,
    // exclusive running token total over doc_id order, cut every 2048 tokens;
    // the oracle's 1-partition window IS the semantics the distributed
    // prefix sum must reproduce (Packing.withRunningTotal)
    "pack_assign" ->
      """WITH toks AS (
        |  SELECT doc_id,
        |         CAST(CASE WHEN length(trim(text)) = 0 THEN 0
        |              ELSE len(regexp_split_to_array(trim(text), '\s+')) END AS BIGINT) AS n_tokens
        |  FROM documents),
        |run AS (
        |  SELECT doc_id, n_tokens,
        |         CAST(COALESCE(SUM(n_tokens) OVER (ORDER BY doc_id
        |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS prev
        |  FROM toks)
        |SELECT doc_id, n_tokens,
        |       prev // 2048 AS pack_id,
        |       prev % 2048 AS pack_offset,
        |       (prev % 2048 + n_tokens > 2048) AS spans_boundary
        |FROM run""".stripMargin,
    // the whole DBSCAN replayed: identical LSH buckets (planes as
    // literals), degree/core classification, recursive-CTE components
    // over core-core edges, min-cluster border attachment
    "embed_dbscan" -> embedDbscanOracle,
    // full recompute over the merged snapshot — the incremental result
    // must land on exactly this (deletes remove %10==7, updates bump
    // %10==3 by +100.00, inserts duplicate %10==5 rows' months)
    "q_ivm_monthly" ->
      """WITH merged AS (
        |  SELECT o_orderdate, CAST(o_totalprice AS DECIMAL(18,2)) AS p
        |  FROM orders WHERE o_orderkey % 10 NOT IN (3, 7)
        |  UNION ALL
        |  SELECT o_orderdate, CAST(o_totalprice AS DECIMAL(18,2)) + 100.00
        |  FROM orders WHERE o_orderkey % 10 = 3
        |  UNION ALL
        |  SELECT o_orderdate, CAST(o_totalprice AS DECIMAL(18,2))
        |  FROM orders WHERE o_orderkey % 10 = 5)
        |SELECT CAST(date_trunc('month', o_orderdate) AS DATE) AS month_start,
        |       COUNT(*) AS cnt,
        |       CAST(SUM(p) AS DOUBLE) AS total
        |FROM merged
        |GROUP BY 1""".stripMargin,
    // full recompute over the same merged snapshot as q_ivm_monthly —
    // the incremental decimal power sums must land exactly on it; the
    // derived mean/variance doubles share the expression shape
    "q_ivm_variance" ->
      """WITH merged AS (
        |  SELECT o_orderdate, CAST(o_totalprice AS DECIMAL(18,2)) AS p
        |  FROM orders WHERE o_orderkey % 10 NOT IN (3, 7)
        |  UNION ALL
        |  SELECT o_orderdate, CAST(o_totalprice AS DECIMAL(18,2)) + 100.00
        |  FROM orders WHERE o_orderkey % 10 = 3
        |  UNION ALL
        |  SELECT o_orderdate, CAST(o_totalprice AS DECIMAL(18,2))
        |  FROM orders WHERE o_orderkey % 10 = 5),
        |sums AS (
        |  SELECT CAST(date_trunc('month', o_orderdate) AS DATE) AS month_start,
        |         COUNT(*) AS cnt,
        |         SUM(p) AS sx,
        |         SUM(p * p) AS sx2
        |  FROM merged GROUP BY 1)
        |SELECT month_start, cnt,
        |       CAST(sx AS DOUBLE) / cnt AS mean,
        |       CAST(CAST(cnt * sx2 - sx * sx AS VARCHAR) AS DOUBLE)
        |         / (CAST(cnt AS DOUBLE) * cnt) AS var_pop
        |FROM sums""".stripMargin,
    // full recompute over the merged snapshot: deletes remove every row
    // at its month's max price (forcing the retraction-repair path for
    // every group) plus non-max %10==7 rows; inserts duplicate %10==5
    // rows' months at +1000.00 — the incremental min/max must land
    // exactly on this
    "q_ivm_minmax" ->
      """WITH priced AS (
        |  SELECT o_orderdate, o_orderkey, CAST(o_totalprice AS DECIMAL(18,2)) AS p,
        |         MAX(CAST(o_totalprice AS DECIMAL(18,2))) OVER (
        |           PARTITION BY date_trunc('month', o_orderdate)) AS mxp
        |  FROM orders),
        |merged AS (
        |  SELECT o_orderdate, p FROM priced
        |  WHERE NOT (p = mxp OR o_orderkey % 10 = 7)
        |  UNION ALL
        |  SELECT o_orderdate, CAST(o_totalprice AS DECIMAL(18,2)) + 1000.00 AS p
        |  FROM orders WHERE o_orderkey % 10 = 5)
        |SELECT CAST(date_trunc('month', o_orderdate) AS DATE) AS month_start,
        |       COUNT(*) AS cnt,
        |       CAST(MIN(p) AS DOUBLE) AS mn,
        |       CAST(MAX(p) AS DOUBLE) AS mx
        |FROM merged
        |GROUP BY 1""".stripMargin,
    // exact decimal power sums → micro-rounded σ → pure integer Neyman
    // weights and floor-div allocation: bit-identical on both engines
    "q_neyman_alloc" ->
      """WITH sums AS (
        |  SELECT o_orderpriority AS stratum, COUNT(*) AS n_rows,
        |         CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sx,
        |         CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))
        |                  * CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sx2
        |  FROM orders GROUP BY 1),
        |sig AS (
        |  SELECT stratum, n_rows,
        |         CAST(floor(sqrt(greatest(CAST(n_rows AS DOUBLE) * sx2 - sx * sx, 0.0))
        |                    / CAST(n_rows AS DOUBLE) * 1e6 + 0.5) AS BIGINT) AS sigma_micro
        |  FROM sums),
        |w AS (SELECT stratum, n_rows, sigma_micro,
        |             n_rows * sigma_micro AS wt FROM sig),
        |t AS (SELECT COALESCE(SUM(wt), 0) AS total_w FROM w)
        |SELECT stratum, n_rows, sigma_micro,
        |       CAST(CASE WHEN total_w = 0 THEN 0
        |            ELSE (1000 * wt) // total_w END AS BIGINT) AS alloc_n
        |FROM w CROSS JOIN t""".stripMargin,
    // full recompute of the post-batch join view — equality proves the
    // bilinear delta + aggregate merge maintained it exactly
    "q_ivm_join" ->
      """SELECT a.o_orderpriority, COUNT(*) AS cnt,
        |       CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS total
        |FROM (SELECT o_orderkey, o_orderpriority FROM orders
        |      WHERE o_orderkey % 13 = 0 OR o_orderkey % 17 <> 3) a
        |JOIN (SELECT l_orderkey, l_extendedprice FROM lineitem
        |      WHERE l_orderkey % 13 = 0
        |         OR (l_orderkey + l_linenumber) % 19 <> 2) b
        |  ON a.o_orderkey = b.l_orderkey
        |GROUP BY 1""".stripMargin,
    // full COUNT(DISTINCT) recompute from the merged snapshot — equality
    // proves the multiplicity support relation maintained it exactly
    // (values leave precisely when their last supporting row retracts)
    "q_ivm_distinct" ->
      """SELECT CAST(date_trunc('month', o_orderdate) AS DATE) AS month_start,
        |       COUNT(DISTINCT o_custkey) AS n_active
        |FROM orders
        |WHERE o_orderkey % 13 = 0
        |   OR (o_orderkey % 13 <> 0 AND o_orderkey % 17 <> 3)
        |GROUP BY 1""".stripMargin,
    // exact-median recompute from the merged snapshot, written as the
    // same smallest-value-reaching-half-mass window (no quantile-function
    // interpolation semantics to drift cross-engine)
    "q_ivm_median" ->
      """WITH merged AS (
        |  SELECT l_partkey, CAST(l_quantity AS BIGINT) AS qty FROM lineitem
        |  WHERE l_orderkey % 13 = 0
        |     OR (l_orderkey % 13 <> 0 AND l_orderkey % 17 <> 3)),
        |pv AS (SELECT l_partkey, qty, COUNT(*) AS c FROM merged GROUP BY 1, 2),
        |cum AS (
        |  SELECT l_partkey, qty,
        |         SUM(c) OVER (PARTITION BY l_partkey ORDER BY qty
        |                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cumc,
        |         SUM(c) OVER (PARTITION BY l_partkey) AS n_rows
        |  FROM pv)
        |SELECT l_partkey, CAST(n_rows AS BIGINT) AS n_rows,
        |       CAST(MIN(qty) AS BIGINT) AS median_qty
        |FROM cum WHERE cumc * 2 >= n_rows
        |GROUP BY l_partkey, n_rows""".stripMargin,
    // full recompute of the log-bucket histogram from the merged
    // snapshot (same stripes as q_ivm_monthly family), then the same
    // integer cross-multiplied discrete-quantile read-out and the same
    // string-built bucket lower bounds — the maintained view must land
    // exactly on it
    "q_ivm_quantile" ->
      """WITH merged AS (
        |  SELECT o_orderdate,
        |         CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents
        |  FROM orders
        |  WHERE o_orderkey % 13 = 0
        |     OR (o_orderkey % 13 <> 0 AND o_orderkey % 17 <> 3)),
        |hist AS (
        |  SELECT CAST(date_trunc('month', o_orderdate) AS DATE) AS month_start,
        |         CASE WHEN length(CAST(cents AS VARCHAR)) = 1
        |              THEN 100 + cents * 10
        |              ELSE length(CAST(cents AS VARCHAR)) * 100
        |                   + CAST(substr(CAST(cents AS VARCHAR), 1, 2) AS BIGINT)
        |         END AS bucket,
        |         COUNT(*) AS cnt
        |  FROM merged GROUP BY 1, 2),
        |cum AS (
        |  SELECT month_start, bucket,
        |         SUM(cnt) OVER (PARTITION BY month_start ORDER BY bucket
        |                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS c,
        |         SUM(cnt) OVER (PARTITION BY month_start) AS n
        |  FROM hist),
        |qb AS (
        |  SELECT month_start, CAST(MAX(n) AS BIGINT) AS n_rows,
        |         MIN(CASE WHEN c * 1000000 >= n * 500000 THEN bucket END) AS b50,
        |         MIN(CASE WHEN c * 1000000 >= n * 950000 THEN bucket END) AS b95
        |  FROM cum GROUP BY 1)
        |SELECT month_start, n_rows,
        |       CASE WHEN b50 < 200 THEN (b50 - 100) // 10
        |            ELSE CAST(rpad(CAST(b50 % 100 AS VARCHAR),
        |                           CAST(b50 // 100 AS INT), '0') AS BIGINT)
        |       END AS q500000_lo,
        |       CASE WHEN b95 < 200 THEN (b95 - 100) // 10
        |            ELSE CAST(rpad(CAST(b95 % 100 AS VARCHAR),
        |                           CAST(b95 // 100 AS INT), '0') AS BIGINT)
        |       END AS q950000_lo
        |FROM qb""".stripMargin,
    // τ=1/2 source rebalancing: rate = √(n_min/n_src) in micro-units
    // (sqrt is correctly rounded — the one cross-engine-safe power), keep
    // test on the seeded 60-bit md5 uniform, same as q_mix_sources
    "q_temperature_mix" ->
      """WITH counts AS (SELECT source, COUNT(*) AS n_src FROM documents GROUP BY 1),
        |mn AS (SELECT MIN(n_src) AS n_min FROM counts),
        |rates AS (
        |  SELECT source,
        |         CAST(floor(sqrt(CAST(n_min AS DOUBLE)/CAST(n_src AS DOUBLE)) * 1e6 + 0.5) AS BIGINT) AS rate_micro
        |  FROM counts CROSS JOIN mn)
        |SELECT d.doc_id, d.text, d.lang, d.source, d.n_chars, r.rate_micro
        |FROM documents d JOIN rates r USING (source)
        |WHERE CAST(floor(('0x' || substring(md5('tmix:' || CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT
        |        / 1152921504606846976.0 * 1e6) AS BIGINT) < r.rate_micro""".stripMargin,
    // the oracle is the textbook all-pairs NOT EXISTS dominance test — a
    // different algorithm from the engine's prefix-max formulation, so
    // the hash match is a real differential proof
    "q_skyline" ->
      """WITH per AS (
        |  SELECT o_custkey,
        |         CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) * 100 AS BIGINT) AS spend_cents,
        |         MAX(o_orderdate) AS last_order
        |  FROM orders GROUP BY 1)
        |SELECT p.o_custkey, p.spend_cents, p.last_order
        |FROM per p
        |WHERE NOT EXISTS (
        |  SELECT 1 FROM per q
        |  WHERE q.spend_cents >= p.spend_cents AND q.last_order >= p.last_order
        |    AND (q.spend_cents > p.spend_cents OR q.last_order > p.last_order))""".stripMargin,
    // per-engine estimator vs per-engine exact (the q_approx_distinct
    // pattern): DuckDB has no mergeable-HLL surface, so it asserts its
    // direct estimate; the hashed verdict columns agree when both
    // estimators are within tolerance
    "q_hll_rollup" ->
      """SELECT r_name, exact_customers,
        |       abs(approx_customers - exact_customers)
        |         <= exact_customers * 0.05 AS rollup_ok
        |FROM (SELECT r_name,
        |             approx_count_distinct(c_custkey) AS approx_customers,
        |             COUNT(DISTINCT c_custkey) AS exact_customers
        |      FROM customer JOIN nation ON c_nationkey = n_nationkey
        |                    JOIN region ON n_regionkey = r_regionkey
        |      GROUP BY 1) t""".stripMargin,
    // full md5-exact sketch replay: hashes, k-min ranking, HUGEINT //
    // estimator arithmetic all identical — estimates are hash-compared
    "q_kmv_sketch" -> graft.analytics.Kmv.kmvCompareOracleSql(
      """SELECT CASE WHEN CAST(o_orderdate AS DATE) < DATE '1998-07-01'
        |            THEN 'early' ELSE 'late' END AS grp,
        |       o_custkey AS id
        |FROM orders""".stripMargin, "early", "late"),
    // exact counts; the estimator verdict is TRUE by the 3-sigma bound
    // argument (the estimate itself never leaves the Spark side)
    "q_hll_intersect" ->
      """WITH c AS (
        |  SELECT o_custkey AS k,
        |         CAST(o_orderdate AS DATE) < DATE '1995-01-01' AS is_a
        |  FROM orders)
        |SELECT COUNT(DISTINCT CASE WHEN is_a THEN k END) AS n_a,
        |       COUNT(DISTINCT CASE WHEN NOT is_a THEN k END) AS n_b,
        |       COUNT(DISTINCT CASE WHEN is_a THEN k END)
        |         + COUNT(DISTINCT CASE WHEN NOT is_a THEN k END)
        |         - COUNT(DISTINCT k) AS n_common,
        |       TRUE AS inter_ok
        |FROM c""".stripMargin,
    // spine-filled class and global CDFs, HUGEINT EMD numerators
    "q_tcloseness" -> graft.analytics.Privacy.tClosenessOracleSql(),
    // identical md5 lattice uniform + inverse-CDF Laplace, one fold point
    "q_dp_counts" -> graft.analytics.Privacy.dpNoisyCountsOracleSql(),
    // one UNION ALL branch per ordered column pair, same NULL sentinel
    "q_fd_discovery" -> graft.etl.Dependencies.functionalDepsOracleSql(
      "part", Seq("p_name", "p_brand", "p_type", "p_size")),
    // same split, counts, ln() micro-quantization points and argmax tie-break
    "text_nb_classify" -> graft.text.NaiveBayes.classifyOracleSql(),
    // classify chain + three margin aggregates, identical guarded folds
    "text_nb_eval" -> graft.text.NaiveBayes.evaluateOracleSql(),
    // identical derived-then-corrupted fixture, integer agreement gate
    "q_fd_repair" ->
      """WITH p AS (
        |  SELECT p_partkey, p_brand,
        |         CASE WHEN p_partkey % 37 = 0 THEN 'Mfgr#X'
        |              ELSE 'Mfgr#' || substring(p_brand, 7, 1) END AS mfgr
        |  FROM part),
        |counts AS (
        |  SELECT p_brand AS lhs_val, mfgr AS rhs_val, COUNT(*) AS n_rhs
        |  FROM p GROUP BY 1, 2),
        |g AS (
        |  SELECT lhs_val, rhs_val, n_rhs,
        |         ROW_NUMBER() OVER (PARTITION BY lhs_val
        |           ORDER BY n_rhs DESC, rhs_val) AS rk,
        |         SUM(n_rhs) OVER (PARTITION BY lhs_val) AS n_rows
        |  FROM counts),
        |maj AS (
        |  SELECT lhs_val, rhs_val AS suggested_rhs,
        |         CAST(n_rows AS BIGINT) AS n_rows,
        |         CAST(n_rhs AS BIGINT) AS n_majority
        |  FROM g
        |  WHERE rk = 1 AND n_rows >= 4
        |    AND n_rhs * 100 >= n_rows * 90 AND n_rhs < n_rows)
        |SELECT p.p_partkey AS id, p.p_brand AS lhs_val, p.mfgr AS bad_rhs,
        |       m.suggested_rhs, m.n_rows, m.n_majority
        |FROM p JOIN maj m ON m.lhs_val = p.p_brand
        |WHERE p.mfgr <> m.suggested_rhs""".stripMargin,
    // brute cosine replay on the disjoint splits, plurality-vote argmax
    "embed_knn_classify" ->
      """WITH e AS (
        |  SELECT vec_id, label,
        |         list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        |  FROM embeddings),
        |t AS (SELECT vec_id AS query_id, label AS true_label, v AS qv
        |      FROM e WHERE vec_id % 5 = 0),
        |tr AS (SELECT * FROM e WHERE vec_id % 5 <> 0),
        |scored AS (
        |  SELECT query_id, true_label, vec_id, tr.label AS nb_label,
        |         round(list_sum(list_transform(range(1, len(qv)+1), i -> qv[i]*v[i])) /
        |               (sqrt(list_sum(list_transform(qv, x -> x*x))) *
        |                sqrt(list_sum(list_transform(v, x -> x*x)))), 6) AS cosine
        |  FROM t, tr),
        |topk AS (
        |  SELECT query_id, true_label, nb_label
        |  FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
        |          ORDER BY cosine DESC, vec_id) AS rnk FROM scored) s
        |  WHERE rnk <= 5),
        |votes AS (
        |  SELECT query_id, true_label, nb_label, COUNT(*) AS n_votes
        |  FROM topk GROUP BY 1, 2, 3)
        |SELECT query_id AS vec_id, true_label AS label, nb_label AS pred,
        |       n_votes, nb_label = true_label AS correct
        |FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
        |        ORDER BY n_votes DESC, nb_label) AS rk FROM votes) v
        |WHERE rk = 1""".stripMargin,
    // quantile_cont == Spark percentile (linear interpolation); clipped
    // values fold to cents before the exact sum
    "q_winsorize" ->
      """WITH cuts AS (
        |  SELECT quantile_cont(o_totalprice, 0.01) AS lo,
        |         quantile_cont(o_totalprice, 0.99) AS hi
        |  FROM orders),
        |clipped AS (
        |  SELECT o_totalprice AS x, lo, hi,
        |         LEAST(GREATEST(o_totalprice, lo), hi) AS w
        |  FROM orders CROSS JOIN cuts)
        |SELECT COUNT(*) AS n,
        |       CAST(SUM(CASE WHEN x < lo THEN 1 ELSE 0 END) AS BIGINT) AS n_clipped_lo,
        |       CAST(SUM(CASE WHEN x > hi THEN 1 ELSE 0 END) AS BIGINT) AS n_clipped_hi,
        |       FLOOR(MAX(lo) * 1e6 + 0.5) / 1e6 AS lo_cut,
        |       FLOOR(MAX(hi) * 1e6 + 0.5) / 1e6 AS hi_cut,
        |       FLOOR(CAST(SUM(CAST(FLOOR(w * 100 + 0.5) AS HUGEINT)) AS DOUBLE)
        |             / 100.0 / CAST(COUNT(*) AS DOUBLE) * 1e6 + 0.5) / 1e6 AS mean_wins
        |FROM clipped""".stripMargin,
    // distinct-value prefix windows, HUGEINT rank sums, one shared fold
    "q_gini" -> graft.analytics.Metrics.giniRevenueOracleSql(),
    "q_auc" -> graft.analytics.Metrics.aucPriceUrgencyOracleSql(),
    "q_decile_lift" -> graft.analytics.Metrics.decileLiftOracleSql(),
    "q_target_encoding" -> graft.analytics.Metrics.targetEncodingOracleSql(),
    "q_table_checksum" -> graft.analytics.Metrics.tableChecksumOracleSql(),
    "q_mutual_info" -> graft.analytics.Metrics.mutualInfoOracleSql(),
    "q_benford" -> graft.analytics.Metrics.benfordDigitsOracleSql(),
    "q_acf" -> graft.analytics.Metrics.dailyAcfOracleSql(),
    // five synchronous integer-arithmetic PageRank rounds unrolled as CTEs
    "q_pagerank" -> graft.analytics.PageRank.pagerankOracleSql(),
    "q_ppr" -> graft.analytics.PageRank.pprOracleSql(),
    // MERGE replay: next snapshot = unmatched target rows + surviving
    // changes. The 1.1 price bump stays in exact DECIMAL until the final
    // cast so both engines produce the identical double.
    "q_merge_upsert" ->
      """WITH changes AS (
        |  SELECT o_orderkey, o_custkey, 'U' AS o_orderstatus,
        |         CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 1.1 AS DOUBLE) AS o_totalprice,
        |         o_orderdate, o_orderpriority, FALSE AS is_delete
        |  FROM orders WHERE o_orderkey % 10 = 3
        |  UNION ALL
        |  SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice,
        |         o_orderdate, o_orderpriority, TRUE
        |  FROM orders WHERE o_orderkey % 10 = 7
        |  UNION ALL
        |  SELECT o_orderkey + 10000000, o_custkey, 'I', o_totalprice,
        |         o_orderdate, o_orderpriority, FALSE
        |  FROM orders WHERE o_orderkey % 10 = 5)
        |SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice, o_orderdate, o_orderpriority
        |FROM orders WHERE o_orderkey NOT IN (SELECT o_orderkey FROM changes)
        |UNION ALL
        |SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice, o_orderdate, o_orderpriority
        |FROM changes WHERE NOT is_delete""".stripMargin,
    // funnel replay: same quality expressions as text_quality, one
    // aggregate row of counters unpivoted into one row per cascade stage
    "text_filter_funnel" ->
      """WITH base AS (
        |  SELECT doc_id, n_chars,
        |         CASE WHEN length(trim(text)) = 0 THEN CAST([] AS VARCHAR[])
        |              ELSE regexp_split_to_array(trim(text), '\s+') END AS toks,
        |         length(text) - length(regexp_replace(text, '[!-/:-@\[-`{-~]', '', 'g')) AS n_punct
        |  FROM documents),
        |r AS (
        |  SELECT n_chars >= 150 AS p1,
        |         len(toks) >= 40 AS p2,
        |         (CASE WHEN n_chars > 0 THEN CAST(n_punct AS DOUBLE) / n_chars ELSE 0.0 END) <= 0.1 AS p3,
        |         (CASE WHEN len(toks) > 0 THEN CAST(len(list_filter(toks, x -> list_contains(
        |           ['the','a','an','of','to','in','is','and','or','for','on',
        |            'with','as','at','by','it','be','this','that','are'], x))) AS DOUBLE) / len(toks)
        |          ELSE 0.0 END) >= 0.05 AS p4
        |  FROM base),
        |a AS (
        |  SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
        |         CAST(SUM(CASE WHEN NOT p1 THEN 1 ELSE 0 END) AS BIGINT) AS f1,
        |         CAST(SUM(CASE WHEN NOT p2 THEN 1 ELSE 0 END) AS BIGINT) AS f2,
        |         CAST(SUM(CASE WHEN NOT p3 THEN 1 ELSE 0 END) AS BIGINT) AS f3,
        |         CAST(SUM(CASE WHEN NOT p4 THEN 1 ELSE 0 END) AS BIGINT) AS f4,
        |         CAST(SUM(CASE WHEN NOT p1 AND p2 AND p3 AND p4 THEN 1 ELSE 0 END) AS BIGINT) AS m1,
        |         CAST(SUM(CASE WHEN p1 AND NOT p2 AND p3 AND p4 THEN 1 ELSE 0 END) AS BIGINT) AS m2,
        |         CAST(SUM(CASE WHEN p1 AND p2 AND NOT p3 AND p4 THEN 1 ELSE 0 END) AS BIGINT) AS m3,
        |         CAST(SUM(CASE WHEN p1 AND p2 AND p3 AND NOT p4 THEN 1 ELSE 0 END) AS BIGINT) AS m4,
        |         CAST(SUM(CASE WHEN NOT p1 THEN 1 ELSE 0 END) AS BIGINT) AS k1,
        |         CAST(SUM(CASE WHEN p1 AND NOT p2 THEN 1 ELSE 0 END) AS BIGINT) AS k2,
        |         CAST(SUM(CASE WHEN p1 AND p2 AND NOT p3 THEN 1 ELSE 0 END) AS BIGINT) AS k3,
        |         CAST(SUM(CASE WHEN p1 AND p2 AND p3 AND NOT p4 THEN 1 ELSE 0 END) AS BIGINT) AS k4
        |  FROM r)
        |SELECT 1 AS stage, 'len_ge_150' AS rule, n_docs AS n_enter,
        |       k1 AS n_killed_here, f1 AS n_fail_total, m1 AS n_marginal FROM a
        |UNION ALL SELECT 2, 'tok_ge_40', n_docs - k1, k2, f2, m2 FROM a
        |UNION ALL SELECT 3, 'punct_le_10pct', n_docs - k1 - k2, k3, f3, m3 FROM a
        |UNION ALL SELECT 4, 'stop_ge_5pct', n_docs - k1 - k2 - k3, k4, f4, m4 FROM a""".stripMargin,
    // rounds + final share unrolled CTE-per-step, integer floor divisions
    "q_mix_waterfill" -> graft.operators.Sampling.waterfillOracleSql(),
    // take-while under a per-source token budget: exclusive running total
    // in (md5, doc_id) order must stay under budget for the doc to survive
    "q_token_budget" ->
      """WITH t AS (
        |  SELECT doc_id, source, md5(CAST(doc_id AS VARCHAR)) AS h,
        |         CAST(len(CASE WHEN length(trim(text)) = 0 THEN CAST([] AS VARCHAR[])
        |              ELSE regexp_split_to_array(trim(text), '\s+') END) AS BIGINT) AS n_tokens
        |  FROM documents),
        |c AS (
        |  SELECT doc_id, source, n_tokens,
        |         CAST(COALESCE(SUM(n_tokens) OVER (PARTITION BY source ORDER BY h, doc_id
        |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS prior
        |  FROM t)
        |SELECT doc_id, source, n_tokens, prior + n_tokens AS cum_tokens
        |FROM c WHERE prior < 1000""".stripMargin,
    // ×6-scaled integer detrending (6 // c exact for c ∈ {2,3}), the
    // same fixed-shape double expressions, each rounded once
    "q_seasonal" ->
      """WITH monthly AS (
        |  SELECT CAST(date_trunc('month', o_orderdate) AS DATE) AS month_start,
        |         CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) * 100 AS BIGINT) AS x
        |  FROM orders GROUP BY 1),
        |ma AS (
        |  SELECT month_start, x,
        |         CAST(SUM(x) OVER (ORDER BY month_start
        |              ROWS BETWEEN 1 PRECEDING AND 1 FOLLOWING) AS BIGINT) AS s,
        |         COUNT(*) OVER (ORDER BY month_start
        |              ROWS BETWEEN 1 PRECEDING AND 1 FOLLOWING) AS c,
        |         month(month_start) AS moy
        |  FROM monthly),
        |d AS (SELECT *, 6 * x - (6 // c) * s AS d6 FROM ma),
        |seas AS (SELECT moy, CAST(SUM(d6) AS BIGINT) AS s6, COUNT(*) AS k
        |         FROM d GROUP BY 1)
        |SELECT month_start, x AS revenue_cents,
        |       floor(CAST(s AS DOUBLE) / c * 1e6 + 0.5) / 1e6 AS trend,
        |       floor(CAST(s6 AS DOUBLE) / (6.0 * k) * 1e6 + 0.5) / 1e6 AS seasonal,
        |       floor((CAST(x AS DOUBLE) - CAST(s AS DOUBLE) / c
        |              - CAST(s6 AS DOUBLE) / (6.0 * k)) * 1e6 + 0.5) / 1e6 AS residual
        |FROM d JOIN seas USING (moy)""".stripMargin,
    // pure integer-cents CUSUM deviation; ties break to the earliest day
    "q_changepoint" ->
      """WITH daily AS (
        |  SELECT CAST(o_orderdate AS DATE) AS day,
        |         CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) * 100 AS BIGINT) AS cents
        |  FROM orders GROUP BY 1),
        |t AS (SELECT CAST(SUM(cents) AS BIGINT) AS t_cents,
        |             COUNT(*) AS n_days FROM daily),
        |c AS (SELECT day,
        |             CAST(SUM(cents) OVER (ORDER BY day) AS BIGINT) AS cum,
        |             ROW_NUMBER() OVER (ORDER BY day) AS i
        |      FROM daily)
        |SELECT day AS cp_day, n_days,
        |       abs(n_days * cum - i * t_cents) AS max_abs_dev
        |FROM c CROSS JOIN t
        |ORDER BY abs(n_days * cum - i * t_cents) DESC, day
        |LIMIT 1""".stripMargin,
    // smoothed integer-ratio bins, milli-quantized ln, exact long sum
    "q_psi_drift" -> graft.analytics.Drift.psiOracleSql(),
    // micro-quantized per-category terms, exact long sum
    "q_chisq_drift" -> graft.analytics.Drift.chiSquareOracleSql,
    // exact KS: integer cross-multiplied numerator picks the argmax, the
    // winning value alone is divided and rounded
    "q_ks_drift" ->
      """WITH g AS (
        |  SELECT n_chars AS x, CAST(substring(source, 4) AS INT) % 2 = 0 AS is_a
        |  FROM documents),
        |counts AS (
        |  SELECT x, SUM(CASE WHEN is_a THEN 1 ELSE 0 END) AS ca,
        |            SUM(CASE WHEN NOT is_a THEN 1 ELSE 0 END) AS cb
        |  FROM g GROUP BY 1),
        |cum AS (
        |  SELECT x, SUM(ca) OVER (ORDER BY x) AS cuma,
        |            SUM(cb) OVER (ORDER BY x) AS cumb
        |  FROM counts),
        |tot AS (SELECT MAX(cuma) AS na, MAX(cumb) AS nb FROM cum),
        |scored AS (
        |  SELECT x, abs(CAST(cuma AS HUGEINT) * nb - CAST(cumb AS HUGEINT) * na) AS d_num,
        |         na, nb
        |  FROM cum CROSS JOIN tot)
        |SELECT CAST(na AS BIGINT) AS n_a, CAST(nb AS BIGINT) AS n_b, x AS ks_at,
        |       round(CAST(d_num AS DOUBLE) / (CAST(na AS DOUBLE) * CAST(nb AS DOUBLE)), 6) AS ks_stat
        |FROM scored ORDER BY d_num DESC, x ASC LIMIT 1""".stripMargin,
    // k-anonymity: CAST(floor) lands on BIGINT like Spark's floor; the
    // /100 quotient only touches an integer boundary when the cents value
    // is an exact multiple of 100.00, where IEEE division is exact
    "q_kanon" ->
      """SELECT c_nationkey, c_mktsegment,
        |       CAST(floor(c_acctbal / 100) AS BIGINT) AS bal_bucket,
        |       COUNT(*) AS class_size,
        |       COUNT(*) < 5 AS at_risk
        |FROM customer
        |GROUP BY 1, 2, 3""".stripMargin,
    "q_expectations" ->
      """SELECT 'totalprice_positive' AS check_name, COUNT(*) AS n_rows,
        |       CAST(SUM(CASE WHEN COALESCE(o_totalprice > 0, FALSE) THEN 0 ELSE 1 END) AS BIGINT) AS n_violations,
        |       SUM(CASE WHEN COALESCE(o_totalprice > 0, FALSE) THEN 0 ELSE 1 END) = 0 AS passed
        |FROM orders
        |UNION ALL
        |SELECT 'orderdate_not_null', COUNT(*),
        |       CAST(SUM(CASE WHEN o_orderdate IS NOT NULL THEN 0 ELSE 1 END) AS BIGINT),
        |       SUM(CASE WHEN o_orderdate IS NOT NULL THEN 0 ELSE 1 END) = 0
        |FROM orders
        |UNION ALL
        |SELECT 'status_in_domain', COUNT(*),
        |       CAST(SUM(CASE WHEN COALESCE(o_orderstatus IN ('O','F','P'), FALSE) THEN 0 ELSE 1 END) AS BIGINT),
        |       SUM(CASE WHEN COALESCE(o_orderstatus IN ('O','F','P'), FALSE) THEN 0 ELSE 1 END) = 0
        |FROM orders
        |UNION ALL
        |SELECT 'priority_in_domain', COUNT(*),
        |       CAST(SUM(CASE WHEN COALESCE(o_orderpriority IN
        |         ('1-URGENT','2-HIGH','3-MEDIUM','4-NOT SPECIFIED','5-LOW'), FALSE)
        |         THEN 0 ELSE 1 END) AS BIGINT),
        |       SUM(CASE WHEN COALESCE(o_orderpriority IN
        |         ('1-URGENT','2-HIGH','3-MEDIUM','4-NOT SPECIFIED','5-LOW'), FALSE)
        |         THEN 0 ELSE 1 END) = 0
        |FROM orders
        |UNION ALL
        |SELECT 'orderkey_unique', COUNT(*),
        |       COUNT(*) - COUNT(DISTINCT o_orderkey),
        |       COUNT(*) = COUNT(DISTINCT o_orderkey)
        |FROM orders
        |UNION ALL
        |SELECT 'custkey_references_customer', COUNT(*),
        |       CAST(SUM(CASE WHEN c_custkey IS NULL THEN 1 ELSE 0 END) AS BIGINT),
        |       SUM(CASE WHEN c_custkey IS NULL THEN 1 ELSE 0 END) = 0
        |FROM orders LEFT JOIN (SELECT DISTINCT c_custkey FROM customer) c
        |  ON o_custkey = c_custkey""".stripMargin,
    "q_ldiversity" ->
      """SELECT c_nationkey,
        |       CAST(floor(c_acctbal / 100) AS BIGINT) AS bal_bucket,
        |       COUNT(*) AS class_size,
        |       COUNT(DISTINCT c_mktsegment) AS n_sensitive,
        |       COUNT(DISTINCT c_mktsegment) < 3 AS at_risk
        |FROM customer
        |GROUP BY 1, 2""".stripMargin,
    // version diff replay: rebuild the next snapshot exactly as
    // q_merge_upsert does, then full-outer it against the base; a key
    // survives only when it is new-only (I), old-only (D), or any payload
    // column IS DISTINCT (U). COALESCE prefers the new payload.
    "q_snapshot_diff" ->
      s"""$orderSnapshotCte
        |SELECT COALESCE(o.o_orderkey, n.o_orderkey) AS o_orderkey,
        |       CASE WHEN o.o_orderkey IS NULL THEN 'I'
        |            WHEN n.o_orderkey IS NULL THEN 'D'
        |            ELSE 'U' END AS change_type,
        |       COALESCE(n.o_custkey, o.o_custkey) AS o_custkey,
        |       COALESCE(n.o_orderstatus, o.o_orderstatus) AS o_orderstatus,
        |       COALESCE(n.o_totalprice, o.o_totalprice) AS o_totalprice,
        |       COALESCE(n.o_orderdate, o.o_orderdate) AS o_orderdate,
        |       COALESCE(n.o_orderpriority, o.o_orderpriority) AS o_orderpriority
        |FROM orders o FULL OUTER JOIN new_snap n ON o.o_orderkey = n.o_orderkey
        |WHERE o.o_orderkey IS NULL OR n.o_orderkey IS NULL
        |   OR o.o_custkey       IS DISTINCT FROM n.o_custkey
        |   OR o.o_orderstatus   IS DISTINCT FROM n.o_orderstatus
        |   OR o.o_totalprice    IS DISTINCT FROM n.o_totalprice
        |   OR o.o_orderdate     IS DISTINCT FROM n.o_orderdate
        |   OR o.o_orderpriority IS DISTINCT FROM n.o_orderpriority""".stripMargin,
    // non-overlapping 8-token segments (1-based slice, full segments
    // only); doc frequency from the distinct projection; fully-keyed
    // top-k
    "dedup_boilerplate" ->
      """WITH toks AS (
        |  SELECT doc_id, CASE WHEN length(trim(text)) = 0 THEN CAST([] AS VARCHAR[])
        |         ELSE regexp_split_to_array(trim(text), '\s+') END AS t
        |  FROM documents),
        |segs AS (
        |  SELECT doc_id, array_to_string(t[(i * 8 + 1):(i * 8 + 8)], ' ') AS seg
        |  FROM toks, unnest(range(len(t) // 8)) AS u(i)),
        |totals AS (SELECT seg, COUNT(*) AS n_total FROM segs GROUP BY 1),
        |df AS (
        |  SELECT seg, COUNT(*) AS n_docs
        |  FROM (SELECT DISTINCT doc_id, seg FROM segs) GROUP BY 1)
        |SELECT d.seg, d.n_docs, t.n_total
        |FROM df d JOIN totals t ON t.seg = d.seg
        |WHERE d.n_docs >= 2
        |ORDER BY d.n_docs DESC, t.n_total DESC, d.seg ASC
        |LIMIT 50""".stripMargin,
    // distinct 15-token spans per doc, md5-folded; a span is duplicated
    // when its hash occurs in >= 2 documents (per-doc distinctness makes
    // COUNT(*) the document frequency)
    "dedup_spans" ->
      """WITH toks AS (
        |  SELECT doc_id, CASE WHEN length(trim(text)) = 0 THEN CAST([] AS VARCHAR[])
        |         ELSE regexp_split_to_array(trim(text), '\s+') END AS t
        |  FROM documents),
        |spans AS (
        |  SELECT doc_id, list_distinct(CASE WHEN len(t) < 15 THEN [array_to_string(t, ' ')]
        |    ELSE list_transform(range(1, len(t) - 13),
        |         i -> array_to_string(list_slice(t, i, i + 14), ' ')) END) AS g
        |  FROM toks),
        |inv AS (
        |  SELECT doc_id, ('0x' || substring(md5(span), 1, 15))::BIGINT AS hv
        |  FROM (SELECT doc_id, unnest(g) AS span FROM spans)),
        |sdf AS (SELECT hv, COUNT(*) AS span_df FROM inv GROUP BY 1)
        |SELECT doc_id,
        |       COUNT(*) AS n_spans,
        |       CAST(SUM(CASE WHEN span_df >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_spans,
        |       CAST(SUM(CASE WHEN span_df >= 2 THEN 1 ELSE 0 END) AS DOUBLE) / COUNT(*) AS dup_span_frac
        |FROM inv JOIN sdf USING (hv)
        |GROUP BY 1""".stripMargin,
    // the oracle verifies cosine pairs with a FULL feature self-join (no
    // prefix) — a genuine differential check that the Spark side's AllPairs
    // prefix filter generated every qualifying candidate, not a replay of
    // the same pruning. Fixed-point micro/pico arithmetic matches
    // CosinePairs exactly (see its scaladoc).
    "dedup_cosine_pairs" ->
      """WITH toks AS (
        |  SELECT doc_id, lower(unnest(regexp_split_to_array(trim(text), '\s+'))) AS token
        |  FROM documents),
        |tok AS (SELECT doc_id, token FROM toks WHERE token <> ''),
        |tf AS (SELECT doc_id, ('0x' || substring(md5(token),1,15))::BIGINT AS hv, COUNT(*) AS tf
        |       FROM tok GROUP BY doc_id, token),
        |dfreq AS (SELECT hv, COUNT(*) AS df FROM tf GROUP BY 1),
        |n AS (SELECT COUNT(*) AS n_docs FROM documents),
        |wpos AS (
        |  SELECT doc_id, hv,
        |         CAST(floor(CAST(tf AS DOUBLE) * ln(CAST(n_docs AS DOUBLE)/CAST(df AS DOUBLE)) * 1e6 + 0.5) AS BIGINT) AS w_micro
        |  FROM tf JOIN dfreq USING (hv) CROSS JOIN n),
        |wp AS (SELECT * FROM wpos WHERE w_micro > 0),
        |norms AS (SELECT doc_id, CAST(SUM(w_micro*w_micro) AS BIGINT) AS norm2 FROM wp GROUP BY 1),
        |feats AS (
        |  SELECT doc_id, hv,
        |         CAST(floor(CAST(w_micro AS DOUBLE) * 1e6 / sqrt(CAST(norm2 AS DOUBLE)) + 0.5) AS BIGINT) AS wn
        |  FROM wp JOIN norms USING (doc_id)),
        |fp AS (SELECT * FROM feats WHERE wn > 0),
        |dot AS (
        |  SELECT fa.doc_id AS doc_a, fb.doc_id AS doc_b, CAST(SUM(fa.wn * fb.wn) AS BIGINT) AS dot_pico
        |  FROM fp fa JOIN fp fb ON fb.hv = fa.hv AND fa.doc_id < fb.doc_id
        |  GROUP BY 1, 2)
        |SELECT doc_a, doc_b, CAST(dot_pico AS DOUBLE)/1e12 AS cosine
        |FROM dot WHERE dot_pico >= 900000000000""".stripMargin,
    // plain semi-join: the bloom prefilter is a superset pass whose false
    // positives the exact join removes, so results are join-identical —
    // only the Spark plan (scan-side row drop) differs
    "q_bloom_join" ->
      """SELECT l_returnflag, l_linestatus,
        |       CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
        |       CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price,
        |       COUNT(*) AS n_items
        |FROM lineitem
        |WHERE l_orderkey IN (
        |  SELECT o_orderkey FROM orders
        |  WHERE o_orderpriority = '1-URGENT' AND o_totalprice > 400000.0)
        |GROUP BY 1, 2""".stripMargin,
    "q_theil_sen" -> graft.analytics.Breadth6.theilSenOracleSql(),
    "q_anova" -> graft.analytics.Breadth6.anovaOracleSql(),
    "q_hhi" -> graft.analytics.Breadth6.hhiOracleSql(),
    "text_readability" -> TextOps.readabilityOracleSql(),
    "embed_matryoshka" -> matryoshkaOracle(),
    "embed_centroid_drift" -> Ann.centroidDriftOracleSql(),
    "q_delete_propagation" -> graft.etl.Erasure.erasureAuditOracleSql(),
    "q_basket_triples" -> graft.analytics.Baskets.frequentTriplesOracleSql(),
    "q_kendall_tau" -> graft.analytics.Breadth7.kendallTauOracleSql(),
    "q_cramers_v" -> graft.analytics.Breadth7.cramersVOracleSql(),
    "q_xyz_class" -> graft.analytics.Breadth7.xyzClassOracleSql(),
    "q_lorenz" -> graft.analytics.Breadth7.lorenzCurveOracleSql(),
    "q_rolling_regression" ->
      graft.analytics.Breadth7.rollingRegressionOracleSql(),
    "embed_binary_quant" ->
      graft.similarity.BinaryQuant.hammingTopKOracleSql(),
    "embed_binary_mih" ->
      graft.similarity.BinaryQuant.mihTopKOracleSql(),
    "embed_mih_recall" ->
      graft.similarity.BinaryQuant.mihRecallOracleSql(),
    "q_fs_weights" ->
      graft.pipeline.EntityResolution.fsWeightsOracleSql(),
    "q_profile_diff" -> graft.etl.Profile.profileDiffOracleSql(
      orderSnapshotCte, "orders", "new_snap", profileDiffCols),
    "mm_image_ahash" -> Multimodal.nearDupImagePairsOracleSql(),
    "mm_audio_neardup" -> Multimodal.nearDupAudioPairsOracleSql(),
    "mm_video_neardup" -> Multimodal.nearDupVideoPairsOracleSql(),
    // verdict gate: n_images is recomputed from the table (quarantine
    // losses fail the hash); the bound rows are pinned TRUE — if the
    // codec or either decoder drifts past a bound, Spark emits 0 and
    // the hash mismatches (the q_approx_distinct verdict convention)
    "mm_image_jpeg" ->
      """SELECT 'n_images' AS check, COUNT(*)::BIGINT AS value FROM documents
        |UNION ALL SELECT 'double_encode_deterministic', 1::BIGINT
        |UNION ALL SELECT 'drift_max_le_8', 1::BIGINT
        |UNION ALL SELECT 'alt_decoder_max_sample_diff_le_1', 1::BIGINT
        |UNION ALL SELECT 'alt_decoder_ahash_hamming_le_2', 1::BIGINT""".stripMargin
  )

  /** DuckDB replay of `Ann.matryoshkaRecall` — the bruteTopkOracle CTE
    * shape instantiated twice (full vectors, then `v[1:dims]` prefixes)
    * and graded with the recallEval join.
    */
  private def matryoshkaOracle(dims: Int = 16, k: Int = 5,
                               nQueries: Int = 10): String = {
    def cosSql = (qv: String, v: String) =>
      s"""round(list_sum(list_transform(range(1, len($qv)+1), i -> $qv[i]*$v[i])) /
         |               (sqrt(list_sum(list_transform($qv, x -> x*x))) *
         |                sqrt(list_sum(list_transform($v, x -> x*x)))), 6)""".stripMargin
    s"""WITH e AS (
      |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
      |  FROM embeddings),
      |q AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id < $nQueries),
      |scored AS (
      |  SELECT query_id, vec_id, ${cosSql("qv", "v")} AS cosine
      |  FROM q, e WHERE vec_id <> query_id),
      |brute AS (
      |  SELECT query_id, vec_id FROM (
      |    SELECT *, ROW_NUMBER() OVER (
      |      PARTITION BY query_id ORDER BY cosine DESC, vec_id) AS rank
      |    FROM scored) t WHERE rank <= $k),
      |et AS (SELECT vec_id, v[1:$dims] AS v FROM e),
      |qt AS (SELECT vec_id AS query_id, v AS qv FROM et WHERE vec_id < $nQueries),
      |scored_t AS (
      |  SELECT query_id, vec_id, ${cosSql("qv", "v")} AS cosine
      |  FROM qt, et e WHERE vec_id <> query_id),
      |tr AS (
      |  SELECT query_id, vec_id FROM (
      |    SELECT *, ROW_NUMBER() OVER (
      |      PARTITION BY query_id ORDER BY cosine DESC, vec_id) AS rank
      |    FROM scored_t) t WHERE rank <= $k),
      |hits AS (
      |  SELECT t.query_id, COUNT(*) AS n_hit
      |  FROM tr t JOIN brute b ON b.query_id = t.query_id AND b.vec_id = t.vec_id
      |  GROUP BY 1),
      |grid AS (SELECT DISTINCT query_id FROM brute)
      |SELECT g.query_id,
      |       CAST(COALESCE(h.n_hit, 0) AS INTEGER) AS n_hit,
      |       round(CAST(COALESCE(h.n_hit, 0) AS DOUBLE) / $k, 6) AS recall_at_$k
      |FROM grid g LEFT JOIN hits h USING (query_id)""".stripMargin
  }

  /** SCD2 history derivation (islands-and-gaps runs chained into
    * [eff_from, eff_to) intervals) as a reusable WITH prefix — shared by
    * the q_scd2_status oracle and the point-in-time join oracle.
    */
  private lazy val scd2HistCte: String =
    """WITH obs AS (
      |  SELECT o_custkey, o_orderstatus, CAST(o_orderdate AS DATE) AS d, o_orderkey,
      |         ROW_NUMBER() OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
      |         - ROW_NUMBER() OVER (PARTITION BY o_custkey, o_orderstatus
      |                              ORDER BY o_orderdate, o_orderkey) AS grp
      |  FROM orders),
      |runs AS (
      |  SELECT o_custkey, o_orderstatus, grp,
      |         MIN(d) AS eff_from, MIN(o_orderkey) AS first_key
      |  FROM obs GROUP BY 1, 2, 3),
      |chained AS (
      |  SELECT o_custkey, o_orderstatus AS status, eff_from,
      |         COALESCE(LEAD(eff_from) OVER (PARTITION BY o_custkey
      |                                       ORDER BY eff_from, first_key),
      |                  DATE '9999-12-31') AS eff_to
      |  FROM runs)""".stripMargin

  /** DuckDB replay of `Dbscan.dbscan` at the registered defaults
    * (eps 0.35, minPts 3): the embed_neardup candidate pipeline feeding
    * degree/core classification, a recursive-CTE min-label closure over
    * core-core edges, and deterministic min-cluster border attachment.
    */
  private lazy val embedDbscanOracle: String =
    s"""WITH RECURSIVE e AS (
      |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
      |  FROM embeddings),
      |planes(j, p) AS (VALUES $planes),
      |bits AS (
      |  SELECT e.vec_id, planes.j,
      |         CASE WHEN round(list_sum(list_transform(range(1, 65),
      |             k -> coalesce(e.v[k] * planes.p[k], 0.0))), 6) > 0
      |              THEN 1 ELSE 0 END AS bit
      |  FROM e CROSS JOIN planes),
      |buckets AS (
      |  SELECT vec_id, j // 8 AS t, SUM(bit * (1 << CAST(j % 8 AS INTEGER))) AS bucket
      |  FROM bits GROUP BY 1, 2),
      |prs AS (
      |  SELECT DISTINCT a.vec_id AS vec_a, b.vec_id AS vec_b
      |  FROM buckets a JOIN buckets b
      |    ON a.t = b.t AND a.bucket = b.bucket AND a.vec_id < b.vec_id),
      |sims AS (
      |  SELECT vec_a, vec_b FROM (
      |    SELECT p.vec_a, p.vec_b,
      |           round(list_sum(list_transform(range(1, len(ea.v)+1), i -> ea.v[i]*eb.v[i])) /
      |               (sqrt(list_sum(list_transform(ea.v, x -> x*x))) *
      |                sqrt(list_sum(list_transform(eb.v, x -> x*x)))), 6) AS cosine
      |    FROM prs p JOIN e ea ON ea.vec_id = p.vec_a
      |               JOIN e eb ON eb.vec_id = p.vec_b) t
      |  WHERE cosine >= 0.35),
      |sym AS (SELECT vec_a AS id, vec_b AS nb FROM sims
      |        UNION ALL SELECT vec_b, vec_a FROM sims),
      |deg AS (SELECT id, COUNT(*) AS n FROM sym GROUP BY 1),
      |core AS (SELECT id FROM deg WHERE n + 1 >= 3),
      |ce AS (SELECT s.id AS src, s.nb AS dst
      |       FROM sym s JOIN core c1 ON s.id = c1.id JOIN core c2 ON s.nb = c2.id),
      |nodes AS (SELECT DISTINCT src AS id FROM ce),
      |reach(id, r) AS (
      |  SELECT id, id FROM nodes
      |  UNION
      |  SELECT reach.id, ce.dst FROM reach JOIN ce ON reach.r = ce.src),
      |cl AS (SELECT id, MIN(r) AS cluster_id FROM reach GROUP BY 1),
      |corecl AS (
      |  SELECT c.id, COALESCE(cl.cluster_id, c.id) AS cluster_id
      |  FROM core c LEFT JOIN cl ON c.id = cl.id),
      |border AS (
      |  SELECT s.id, MIN(k.cluster_id) AS cluster_id
      |  FROM sym s JOIN corecl k ON s.nb = k.id
      |  WHERE s.id NOT IN (SELECT id FROM core)
      |  GROUP BY 1)
      |SELECT a.vec_id,
      |       CASE WHEN cc.id IS NOT NULL THEN 'core'
      |            WHEN b.id IS NOT NULL THEN 'border'
      |            ELSE 'noise' END AS role,
      |       COALESCE(cc.cluster_id, b.cluster_id) AS cluster_id
      |FROM embeddings a
      |LEFT JOIN corecl cc ON a.vec_id = cc.id
      |LEFT JOIN border b ON a.vec_id = b.id""".stripMargin

  /** 64-element ±1.0 list literals of the LSH planes, shared by the lsh /
    * neardup oracles (identical planes to Ann.planeSigns).
    */
  private def planes: String =
    (0 until 64).map { j =>
      val arr = graft.similarity.Ann.planeSigns(j, 64)
        .map(d => if (d > 0) "1.0" else "-1.0").mkString(", ")
      s"($j, [$arr])"
    }.mkString(", ")

  /** Literal (perm, a, b) VALUES rows of the minhash permutation family. */
  private def perms: String =
    Dedup.seedTriples(32).map { case (i, a, b) => s"($i, $a, $b)" }.mkString(", ")

  // --- ANN top-k oracle replays, shared between the three ann_topk_*
  // entries and the ann_recall composition (so the recall oracle can never
  // drift from the per-method oracles it grades) ---

  private def bm25TopkOracle(k: Int = 5): String =
    s"""WITH toks AS (
      |  SELECT doc_id, lower(t) AS token
      |  FROM (SELECT doc_id, unnest(regexp_split_to_array(trim(text), '\\s+')) AS t
      |        FROM documents) u
      |  WHERE t <> ''),
      |tf AS (SELECT doc_id, token, COUNT(*) AS tf FROM toks GROUP BY 1, 2),
      |dl AS (SELECT doc_id, SUM(tf) AS dl FROM tf GROUP BY 1),
      |dfreq AS (SELECT token, COUNT(*) AS df FROM tf GROUP BY 1),
      |stats AS (SELECT (SELECT COUNT(*) FROM documents) AS n_docs,
      |                 (SELECT SUM(dl) FROM dl) AS total_len),
      |posting AS (
      |  SELECT tf.doc_id, tf.token,
      |         CAST(floor(
      |           ln((s.n_docs - d.df + 0.5) / (d.df + 0.5) + 1.0)
      |           * ((tf.tf * 2.2) / (tf.tf + 1.2 * (0.25 + 0.75 * CAST(dl.dl AS DOUBLE)
      |                / (CAST(s.total_len AS DOUBLE) / s.n_docs))))
      |           * 1000000.0 + 0.5) AS BIGINT) AS s_micro
      |  FROM tf JOIN dl ON tf.doc_id = dl.doc_id
      |          JOIN dfreq d ON tf.token = d.token
      |          CROSS JOIN stats s),
      |q AS (SELECT DISTINCT doc_id AS query_id, token FROM toks WHERE doc_id < 10),
      |scored AS (
      |  SELECT q.query_id, p.doc_id, CAST(SUM(p.s_micro) AS BIGINT) AS score_micro
      |  FROM posting p JOIN q ON p.token = q.token
      |  WHERE p.doc_id <> q.query_id
      |  GROUP BY 1, 2)
      |SELECT query_id, doc_id, score_micro,
      |       CAST(score_micro AS DOUBLE) / 1000000.0 AS score,
      |       CAST(rnk AS INTEGER) AS rank
      |FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
      |        ORDER BY score_micro DESC, doc_id) AS rnk FROM scored) t
      |WHERE rnk <= $k""".stripMargin

  /** RM3-style PRF replay: the bm25TopkOracle CTE chain extended with
    * feedback-doc selection, NOT-EXISTS new-term harvest (exact long
    * weights, token tie-break) and the expanded-term re-score.
    */
  private def prfTopkOracle(k: Int = 5, fbDocs: Int = 5, fbTerms: Int = 3): String =
    s"""WITH toks AS (
      |  SELECT doc_id, lower(t) AS token
      |  FROM (SELECT doc_id, unnest(regexp_split_to_array(trim(text), '\\s+')) AS t
      |        FROM documents) u
      |  WHERE t <> ''),
      |tf AS (SELECT doc_id, token, COUNT(*) AS tf FROM toks GROUP BY 1, 2),
      |dl AS (SELECT doc_id, SUM(tf) AS dl FROM tf GROUP BY 1),
      |dfreq AS (SELECT token, COUNT(*) AS df FROM tf GROUP BY 1),
      |stats AS (SELECT (SELECT COUNT(*) FROM documents) AS n_docs,
      |                 (SELECT SUM(dl) FROM dl) AS total_len),
      |posting AS (
      |  SELECT tf.doc_id, tf.token,
      |         CAST(floor(
      |           ln((s.n_docs - d.df + 0.5) / (d.df + 0.5) + 1.0)
      |           * ((tf.tf * 2.2) / (tf.tf + 1.2 * (0.25 + 0.75 * CAST(dl.dl AS DOUBLE)
      |                / (CAST(s.total_len AS DOUBLE) / s.n_docs))))
      |           * 1000000.0 + 0.5) AS BIGINT) AS s_micro
      |  FROM tf JOIN dl ON tf.doc_id = dl.doc_id
      |          JOIN dfreq d ON tf.token = d.token
      |          CROSS JOIN stats s),
      |q AS (SELECT DISTINCT doc_id AS query_id, token FROM toks WHERE doc_id < 10),
      |scored1 AS (
      |  SELECT q.query_id, p.doc_id, CAST(SUM(p.s_micro) AS BIGINT) AS score_micro
      |  FROM posting p JOIN q ON p.token = q.token
      |  WHERE p.doc_id <> q.query_id
      |  GROUP BY 1, 2),
      |fb AS (
      |  SELECT query_id, doc_id
      |  FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
      |          ORDER BY score_micro DESC, doc_id) AS rnk FROM scored1) t
      |  WHERE rnk <= $fbDocs),
      |cand AS (
      |  SELECT f.query_id, p.token, CAST(SUM(p.s_micro) AS BIGINT) AS w_micro
      |  FROM posting p JOIN fb f ON p.doc_id = f.doc_id
      |  GROUP BY 1, 2),
      |expn AS (
      |  SELECT query_id, token
      |  FROM (SELECT c.query_id, c.token, ROW_NUMBER() OVER (
      |          PARTITION BY c.query_id ORDER BY c.w_micro DESC, c.token) AS rk
      |        FROM cand c
      |        WHERE NOT EXISTS (SELECT 1 FROM q
      |                          WHERE q.query_id = c.query_id AND q.token = c.token)) t
      |  WHERE rk <= $fbTerms),
      |expanded AS (SELECT query_id, token FROM q
      |             UNION ALL SELECT query_id, token FROM expn),
      |nterms AS (SELECT query_id, COUNT(*) AS n_query_terms FROM expanded GROUP BY 1),
      |scored2 AS (
      |  SELECT e.query_id, p.doc_id, CAST(SUM(p.s_micro) AS BIGINT) AS score_micro
      |  FROM posting p JOIN expanded e ON p.token = e.token
      |  WHERE p.doc_id <> e.query_id
      |  GROUP BY 1, 2)
      |SELECT s.query_id, s.doc_id, s.score_micro,
      |       CAST(s.rnk AS INTEGER) AS rank, n.n_query_terms
      |FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
      |        ORDER BY score_micro DESC, doc_id) AS rnk FROM scored2) s
      |JOIN nterms n ON n.query_id = s.query_id
      |WHERE s.rnk <= $k""".stripMargin

  /** RRF fusion (SIGIR'09) of the BM25 and brute-cosine replays at
    * depth 20: integer-division micro-contributions so the fused score
    * is an exact long both engines agree on.
    */
  private def hybridRrfOracle: String =
    s"""WITH lex AS (
      |  SELECT query_id, doc_id, rank AS lex_rank
      |  FROM (${bm25TopkOracle(20)}) a),
      |dense AS (
      |  SELECT query_id, vec_id AS doc_id, rank AS dense_rank
      |  FROM (${bruteTopkOracle(20)}) b),
      |fused AS (
      |  SELECT COALESCE(l.query_id, d.query_id) AS query_id,
      |         COALESCE(l.doc_id, d.doc_id) AS doc_id,
      |         CAST(COALESCE(1000000 // (60 + l.lex_rank), 0)
      |            + COALESCE(1000000 // (60 + d.dense_rank), 0) AS BIGINT) AS rrf_micro,
      |         l.lex_rank IS NOT NULL AS in_lexical,
      |         d.dense_rank IS NOT NULL AS in_dense
      |  FROM lex l FULL OUTER JOIN dense d
      |    ON l.query_id = d.query_id AND l.doc_id = d.doc_id)
      |SELECT query_id, doc_id, rrf_micro, in_lexical, in_dense,
      |       CAST(rnk AS INTEGER) AS rank
      |FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
      |        ORDER BY rrf_micro DESC, doc_id) AS rnk FROM fused) t
      |WHERE rnk <= 10""".stripMargin

  private def bruteTopkOracle(k: Int = 5): String =
    s"""WITH e AS (
      |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
      |  FROM embeddings),
      |q AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id < 10),
      |scored AS (
      |  SELECT query_id, vec_id,
      |         round(list_sum(list_transform(range(1, len(qv)+1), i -> qv[i]*v[i])) /
      |               (sqrt(list_sum(list_transform(qv, x -> x*x))) *
      |                sqrt(list_sum(list_transform(v, x -> x*x)))), 6) AS cosine
      |  FROM q, e WHERE vec_id <> query_id)
      |SELECT query_id, vec_id, cosine, rank FROM (
      |  SELECT *, CAST(ROW_NUMBER() OVER (
      |    PARTITION BY query_id ORDER BY cosine DESC, vec_id) AS INTEGER) AS rank
      |  FROM scored) t
      |WHERE rank <= $k""".stripMargin

  /** Shared coarse-IVF replay: the rounded-cosine centroid assignment and
    * query probes both `ann_topk_ivf` and `ann_topk_ivfpq` are built on. */
  private def ivfCoarsePrefix: String =
    """e AS (
      |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
      |  FROM embeddings),
      |cents AS (SELECT vec_id AS cent_id, v AS cv FROM e WHERE vec_id % 29 = 0),
      |assign AS (
      |  SELECT vec_id, cent_id FROM (
      |    SELECT e.vec_id, c.cent_id,
      |           ROW_NUMBER() OVER (PARTITION BY e.vec_id ORDER BY
      |             round(list_sum(list_transform(range(1, len(v)+1), i -> v[i]*cv[i])) /
      |             (sqrt(list_sum(list_transform(v, x -> x*x))) *
      |              sqrt(list_sum(list_transform(cv, x -> x*x)))), 6) DESC, c.cent_id) AS rn
      |    FROM e CROSS JOIN cents c) t WHERE rn = 1),
      |q AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id < 10),
      |probes AS (
      |  SELECT query_id, cent_id FROM (
      |    SELECT q.query_id, c.cent_id,
      |           ROW_NUMBER() OVER (PARTITION BY q.query_id ORDER BY
      |             round(list_sum(list_transform(range(1, len(qv)+1), i -> qv[i]*cv[i])) /
      |             (sqrt(list_sum(list_transform(qv, x -> x*x))) *
      |              sqrt(list_sum(list_transform(cv, x -> x*x)))), 6) DESC, c.cent_id) AS rn
      |    FROM q CROSS JOIN cents c) t WHERE rn <= 3),
      |cand AS (
      |  SELECT DISTINCT p.query_id, a.vec_id
      |  FROM probes p JOIN assign a USING (cent_id)
      |  WHERE a.vec_id <> p.query_id)""".stripMargin

  /** `q_ivm_ann`: full replay of the CDC-maintained IVF — frozen
    * centroids from the BASE corpus (vec_id ≢ 0 mod 13, ≡ 0 mod 29),
    * base assignment, the delete (base ∧ vec_id ≡ 3 mod 17) anti-set and
    * insert (≡ 0 mod 13) assignment, then probes + re-rank against the
    * MAINTAINED posting lists. Cross joins + row_number here vs the
    * engine's broadcast joins + ranked windows — a real differential.
    * Chained relation CTEs are MATERIALIZED (the q_ktruss lesson).
    */
  private def ivmAnnOracle: String = {
    val l2cos = (a: String, b: String) =>
      s"""round(list_sum(list_transform(range(1, len($a)+1), i -> $a[i]*$b[i])) /
         |             (sqrt(list_sum(list_transform($a, x -> x*x))) *
         |              sqrt(list_sum(list_transform($b, x -> x*x)))), 6)""".stripMargin
    s"""WITH e AS MATERIALIZED (
      |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
      |  FROM embeddings),
      |old AS MATERIALIZED (SELECT * FROM e WHERE vec_id % 13 <> 0),
      |cents AS MATERIALIZED (
      |  SELECT vec_id AS cent_id, v AS cv FROM old WHERE vec_id % 29 = 0),
      |base AS MATERIALIZED (
      |  SELECT vec_id, v, cent_id FROM (
      |    SELECT o.vec_id, o.v, c.cent_id,
      |           ROW_NUMBER() OVER (PARTITION BY o.vec_id ORDER BY
      |             ${l2cos("o.v", "cv")} DESC, c.cent_id) AS rn
      |    FROM old o CROSS JOIN cents c) t WHERE rn = 1),
      |ins AS MATERIALIZED (
      |  SELECT vec_id, v, cent_id FROM (
      |    SELECT i.vec_id, i.v, c.cent_id,
      |           ROW_NUMBER() OVER (PARTITION BY i.vec_id ORDER BY
      |             ${l2cos("i.v", "cv")} DESC, c.cent_id) AS rn
      |    FROM (SELECT * FROM e WHERE vec_id % 13 = 0) i
      |    CROSS JOIN cents c) t WHERE rn = 1),
      |maintained AS MATERIALIZED (
      |  SELECT * FROM base
      |  WHERE vec_id NOT IN (SELECT vec_id FROM old WHERE vec_id % 17 = 3)
      |  UNION ALL
      |  SELECT * FROM ins),
      |q AS MATERIALIZED (
      |  SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id < 10),
      |probes AS MATERIALIZED (
      |  SELECT query_id, cent_id FROM (
      |    SELECT q.query_id, c.cent_id,
      |           ROW_NUMBER() OVER (PARTITION BY q.query_id ORDER BY
      |             ${l2cos("qv", "cv")} DESC, c.cent_id) AS rn
      |    FROM q CROSS JOIN cents c) t WHERE rn <= 3),
      |cand AS MATERIALIZED (
      |  SELECT DISTINCT p.query_id, m.vec_id
      |  FROM probes p JOIN maintained m USING (cent_id)
      |  WHERE m.vec_id <> p.query_id),
      |scored AS (
      |  SELECT cd.query_id, cd.vec_id, ${l2cos("qv", "m.v")} AS cosine
      |  FROM cand cd JOIN q ON q.query_id = cd.query_id
      |               JOIN maintained m ON m.vec_id = cd.vec_id)
      |SELECT query_id, vec_id, cosine, rank FROM (
      |  SELECT *, CAST(ROW_NUMBER() OVER (
      |    PARTITION BY query_id ORDER BY cosine DESC, vec_id) AS INTEGER) AS rank
      |  FROM scored) t
      |WHERE rank <= 5""".stripMargin
  }

  private def ivfTopkOracle: String =
    s"""WITH $ivfCoarsePrefix,
      |scored AS (
      |  SELECT cd.query_id, cd.vec_id,
      |         round(list_sum(list_transform(range(1, len(qv)+1), i -> qv[i]*v[i])) /
      |             (sqrt(list_sum(list_transform(qv, x -> x*x))) *
      |              sqrt(list_sum(list_transform(v, x -> x*x)))), 6) AS cosine
      |  FROM cand cd JOIN q ON q.query_id = cd.query_id
      |               JOIN e ON e.vec_id = cd.vec_id)
      |SELECT query_id, vec_id, cosine, rank FROM (
      |  SELECT *, CAST(ROW_NUMBER() OVER (
      |    PARTITION BY query_id ORDER BY cosine DESC, vec_id) AS INTEGER) AS rank
      |  FROM scored) t
      |WHERE rank <= 5""".stripMargin

  /** `ann_topk_ivfpq`: the coarse stage (assignment, probes, candidate
    * lists) is replayed bit-exactly by [[ivfCoarsePrefix]], pinning the
    * data-derived candidate cardinality; the PQ-residual verdicts are
    * deterministic booleans pinned TRUE (the `ann_topk_pq` contract). */
  private def ivfPqOracle: String =
    s"""WITH $ivfCoarsePrefix
      |SELECT query_id, LEAST(10, COUNT(*)) AS n_candidates,
      |       TRUE AS pq_ratio_ok, TRUE AS ivf_ratio_ok, TRUE AS codes_in_range
      |FROM cand GROUP BY query_id""".stripMargin

  private def lshTopkOracle: String =
    s"""WITH e AS (
      |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
      |  FROM embeddings),
      |planes(j, p) AS (VALUES $planes),
      |bits AS (
      |  SELECT e.vec_id, planes.j,
      |         CASE WHEN round(list_sum(list_transform(range(1, 65),
      |             k -> coalesce(e.v[k] * planes.p[k], 0.0))), 6) > 0
      |              THEN 1 ELSE 0 END AS bit
      |  FROM e CROSS JOIN planes),
      |buckets AS (
      |  SELECT vec_id, j // 8 AS t, SUM(bit * (1 << CAST(j % 8 AS INTEGER))) AS bucket
      |  FROM bits GROUP BY 1, 2),
      |qb AS (SELECT vec_id AS query_id, t, bucket FROM buckets WHERE vec_id < 10),
      |cand AS (
      |  SELECT DISTINCT qb.query_id, b.vec_id
      |  FROM buckets b JOIN qb ON b.t = qb.t AND b.bucket = qb.bucket
      |  WHERE b.vec_id <> qb.query_id),
      |scored AS (
      |  SELECT cd.query_id, cd.vec_id,
      |         round(list_sum(list_transform(range(1, len(q.v)+1), i -> q.v[i]*e.v[i])) /
      |             (sqrt(list_sum(list_transform(q.v, x -> x*x))) *
      |              sqrt(list_sum(list_transform(e.v, x -> x*x)))), 6) AS cosine
      |  FROM cand cd JOIN e q ON q.vec_id = cd.query_id
      |               JOIN e ON e.vec_id = cd.vec_id)
      |SELECT query_id, vec_id, cosine, rank FROM (
      |  SELECT *, CAST(ROW_NUMBER() OVER (
      |    PARTITION BY query_id ORDER BY cosine DESC, vec_id) AS INTEGER) AS rank
      |  FROM scored) t
      |WHERE rank <= 5""".stripMargin

  /** recall@5 of each approximate index vs the exact brute top-5. Every
    * (query, method) pair emits exactly one row — a method whose candidate
    * set came up empty for a query scores 0, it doesn't vanish.
    */
  private def annRecallOracle: String =
    s"""WITH brute AS (SELECT * FROM (${bruteTopkOracle()}) tb),
      |lsh_r AS (SELECT * FROM ($lshTopkOracle) tl),
      |ivf_r AS (SELECT * FROM ($ivfTopkOracle) ti),
      |methods AS (
      |  SELECT 'lsh' AS method, query_id, vec_id FROM lsh_r
      |  UNION ALL
      |  SELECT 'ivf', query_id, vec_id FROM ivf_r),
      |grid AS (
      |  SELECT m.method, q.query_id
      |  FROM (SELECT DISTINCT query_id FROM brute) q
      |  CROSS JOIN (SELECT 'lsh' AS method UNION ALL SELECT 'ivf') m),
      |hits AS (
      |  SELECT m.method, m.query_id, COUNT(*) AS n_hit
      |  FROM methods m JOIN brute b
      |    ON b.query_id = m.query_id AND b.vec_id = m.vec_id
      |  GROUP BY 1, 2)
      |SELECT g.method, g.query_id,
      |       CAST(COALESCE(h.n_hit, 0) AS INTEGER) AS n_hit,
      |       round(COALESCE(h.n_hit, 0) / 5.0, 6) AS recall_at_5
      |FROM grid g LEFT JOIN hits h
      |  ON g.method = h.method AND g.query_id = h.query_id""".stripMargin
}
