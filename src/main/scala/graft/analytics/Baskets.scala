package graft.analytics

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Market-basket co-occurrence analytics (association-rule mining's
  * counting core — Agrawal & Srikant's support/lift, VLDB'94): which
  * items appear in the same basket more often than independence predicts.
  *
  * Scale shape: the quadratic step is per-basket pair expansion, and it
  * is DOUBLY guarded. (1) Apriori prune: an item in fewer than
  * `minSupport` baskets cannot be in any pair with `c_pair >= minSupport`
  * (support is anti-monotone), so sub-support items are dropped BEFORE
  * pairing — lossless for [[pairLift]], and it is exactly the degenerate
  * mega-basket (a crawler session, a bot cart) whose items are mostly
  * singletons. (2) An explicit basket-size cap: baskets with more than
  * `maxBasketSize` surviving items are dropped (documented lossy guard —
  * a 10⁶-item basket would otherwise emit 10¹² pairs on one key, the
  * classic skew killer). Pairs are expanded IN-ROW from one sorted
  * per-basket array (a single shuffle to group the basket, then a codegen
  * lambda — no self-join shuffling the items relation twice), so the only
  * wide exchanges are the basket group-by and the pair count. Lift is
  * exact integer counts with one final IEEE division, so results
  * hash-match any engine.
  */
object Baskets {

  /** Per-basket sorted distinct item arrays from a (basket, item)
    * relation, explode-guarded: baskets larger than `maxBasketSize` are
    * DROPPED (they are degenerate at real scale and would emit |b|²/2
    * pairs on a single key downstream).
    */
  private def basketArrays(basketItems: DataFrame, basketCol: String,
                           itemCol: String, maxBasketSize: Int): DataFrame =
    basketItems
      .groupBy(basketCol)
      .agg(array_sort(collect_set(col(itemCol))).as("items"))
      .filter(size(col("items")).between(2, maxBasketSize))

  /** All unordered in-basket pairs (item_a < item_b), one row per
    * (basket, pair). `items` is sorted, so the nested slice-lambda emits
    * each pair exactly once in canonical order, in-row under codegen.
    */
  private def basketPairs(arrays: DataFrame): DataFrame =
    arrays.select(explode(expr(
      """flatten(transform(items, (x, i) ->
        |  transform(slice(items, i + 2, size(items) - i - 1),
        |            y -> struct(x AS item_a, y AS item_b))))""".stripMargin))
      .as("p"))
      .select(col("p.item_a"), col("p.item_b"))

  /** (item_a, item_b, c_pair, lift) for item pairs co-occurring in at
    * least `minSupport` baskets, top `k` by lift (ties broken on the
    * pair), from a (basket, item) relation. Items below `minSupport`
    * are Apriori-pruned before pairing (lossless); baskets larger than
    * `maxBasketSize` after the prune are dropped (skew guard).
    */
  def pairLift(basketItems: DataFrame, basketCol: String, itemCol: String,
               minSupport: Long = 2L, k: Int = 100,
               maxBasketSize: Int = 4096): DataFrame = {
    require(minSupport >= 1, "minSupport must be >= 1")
    require(k >= 1, "k must be >= 1")
    // items feeds nBaskets, itemCnt AND the pair expansion — eagerly
    // materialized so the scan+distinct runs once, not once per
    // concurrently-scheduled consumer stage
    val items = graft.Caching.materialize(
      basketItems.select(col(basketCol), col(itemCol)).distinct())
    val nBaskets = items.agg(countDistinct(col(basketCol)).as("n_baskets"))
    // itemCnt feeds the prune and both per-side count joins (3 branches)
    val itemCnt = graft.Caching.materialize(
      items.groupBy(itemCol).agg(count(lit(1)).as("c_item")))
    // Apriori prune: c_pair <= min(c_a, c_b), so an item with
    // c_item < minSupport cannot appear in any surviving pair
    val frequent = items.join(
      itemCnt.filter(col("c_item") >= minSupport).select(itemCol), itemCol)
    val pairs = basketPairs(basketArrays(frequent, basketCol, itemCol, maxBasketSize))
      .groupBy("item_a", "item_b")
      .agg(count(lit(1)).as("c_pair"))
      .filter(col("c_pair") >= minSupport)
    pairs
      .join(itemCnt.select(col(itemCol).as("item_a"), col("c_item").as("c_a")), "item_a")
      .join(itemCnt.select(col(itemCol).as("item_b"), col("c_item").as("c_b")), "item_b")
      .crossJoin(broadcast(nBaskets))
      // lift = P(ab)/(P(a)P(b)) = c_ab·N / (c_a·c_b): exact longs, ONE division
      .select(col("item_a"), col("item_b"), col("c_pair"),
        ((col("c_pair") * col("n_baskets")).cast("double") /
          (col("c_a") * col("c_b")).cast("double")).as("lift"))
      .orderBy(desc("lift"), col("item_a"), col("item_b"))
      .limit(k)
  }

  /** Item-item collaborative-filtering neighbors (Sarwar et al.,
    * "Item-based collaborative filtering recommendation algorithms",
    * WWW'01): for every item, its top-`nPerItem` co-bought partners by
    * cosine similarity over basket incidence vectors —
    * cos(a,b) = c_ab / √(c_a·c_b) with all counts exact longs and the
    * cosine ONE shared IEEE expression (bit-identical cross-engine).
    *
    * Output: (item, neighbor, c_pair, cosine, rank), rank 1..nPerItem
    * per item by (cosine desc, neighbor asc).
    *
    * Scale shape: reuses the Apriori-pruned, explode-guarded pair
    * expansion of [[pairLift]] — the quadratic step stays per-basket and
    * capped. The per-item top-k window partitions by item, and an item's
    * partner count is bounded by its basket-capped co-occurrence degree —
    * no global window, no unbounded partition.
    */
  def itemNeighbors(basketItems: DataFrame, basketCol: String, itemCol: String,
                    minSupport: Long = 2L, nPerItem: Int = 5,
                    maxBasketSize: Int = 4096): DataFrame = {
    require(minSupport >= 1 && nPerItem >= 1, "need support and k >= 1")
    val items = graft.Caching.materialize(
      basketItems.select(col(basketCol), col(itemCol)).distinct())
    val itemCnt = graft.Caching.materialize(
      items.groupBy(itemCol).agg(count(lit(1)).as("c_item")))
    val frequent = items.join(
      itemCnt.filter(col("c_item") >= minSupport).select(itemCol), itemCol)
    val pairs = basketPairs(basketArrays(frequent, basketCol, itemCol, maxBasketSize))
      .groupBy("item_a", "item_b")
      .agg(count(lit(1)).as("c_pair"))
      .filter(col("c_pair") >= minSupport)
    // symmetrize: each surviving pair is a neighbor candidate in BOTH
    // directions
    val directed = pairs.select(col("item_a").as("item"),
        col("item_b").as("neighbor"), col("c_pair"))
      .unionByName(pairs.select(col("item_b").as("item"),
        col("item_a").as("neighbor"), col("c_pair")))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("item").orderBy(desc("cosine"), asc("neighbor"))
    directed
      .join(itemCnt.select(col(itemCol).as("item"), col("c_item").as("c_i")), "item")
      .join(itemCnt.select(col(itemCol).as("neighbor"), col("c_item").as("c_n")), "neighbor")
      .select(col("item"), col("neighbor"), col("c_pair"),
        (col("c_pair").cast("double") /
          sqrt((col("c_i") * col("c_n")).cast("double"))).as("cosine"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= nPerItem)
  }

  /** In-basket co-occurrence pairs (item_a < item_b), one row per
    * (basket, pair) — NOT deduplicated across baskets. Feed this to
    * consumers that canonicalize + distinct the edge relation themselves
    * (both [[Triangles]] operators do), saving one full shuffle over the
    * pair stream. Baskets larger than `maxBasketSize` are dropped
    * (explode guard: one degenerate basket would otherwise contribute
    * |b|²/2 pair rows on a single key).
    */
  def coOccurrencePairs(basketItems: DataFrame, basketCol: String,
                        itemCol: String, maxBasketSize: Int = 4096): DataFrame =
    basketPairs(basketArrays(
      basketItems.select(col(basketCol), col(itemCol)),
      basketCol, itemCol, maxBasketSize))

  /** UNPRUNED co-occurrence pair counts (item_a < item_b, c_pair) — the
    * single base relation every basket consumer derives from: its
    * projection is the distinct co-bought edge set (grouped keys are
    * distinct by construction), `c_pair >= minSupport` recovers the
    * Apriori-pruned pair relation losslessly (c_pair ≤ min(c_a, c_b),
    * so no pair of an infrequent item survives the filter), and
    * `10^6 div c_pair` is the SSSP affinity weight.
    *
    * NOTE the `maxBasketSize` explode guard applies to FULL baskets
    * (distinct items, before any frequency prune) — the one semantic
    * difference vs pruning items first, visible only when the cap
    * binds (never on ≤7-item TPC-H baskets); oracles mirror this.
    */
  def coOccurrenceCounts(basketItems: DataFrame, basketCol: String,
                         itemCol: String, maxBasketSize: Int = 4096): DataFrame =
    coOccurrencePairs(basketItems, basketCol, itemCol, maxBasketSize)
      .groupBy("item_a", "item_b")
      .agg(count(lit(1)).as("c_pair"))

  /** Per-item incidence counts (`item`, `c_item`) and the 1-row basket
    * count (`n_baskets`) off ONE materialized distinct (basket, item)
    * relation — the other two model relations basket consumers share.
    */
  def itemStats(basketItems: DataFrame, basketCol: String,
                itemCol: String): (DataFrame, DataFrame) = {
    val items = graft.Caching.materialize(
      basketItems.select(col(basketCol), col(itemCol)).distinct())
    val itemCnt = graft.Caching.checkpointed(
      items.groupBy(col(itemCol).as("item")).agg(count(lit(1)).as("c_item")))
    val nBaskets = graft.Caching.checkpointed(
      items.agg(countDistinct(col(basketCol)).as("n_baskets")))
    items.unpersist()
    (itemCnt, nBaskets)
  }

  /** [[pairLift]] tail over prebuilt [[coOccurrenceCounts]] /
    * [[itemStats]] relations — identical output (the pair-level
    * `c_pair >= minSupport` filter subsumes the Apriori item prune).
    */
  def pairLiftOnCounts(counts: DataFrame, itemCnt: DataFrame,
                       nBaskets: DataFrame, minSupport: Long = 2L,
                       k: Int = 100): DataFrame =
    counts.filter(col("c_pair") >= minSupport)
      .join(itemCnt.select(col("item").as("item_a"), col("c_item").as("c_a")), "item_a")
      .join(itemCnt.select(col("item").as("item_b"), col("c_item").as("c_b")), "item_b")
      .crossJoin(broadcast(nBaskets))
      .select(col("item_a"), col("item_b"), col("c_pair"),
        ((col("c_pair") * col("n_baskets")).cast("double") /
          (col("c_a") * col("c_b")).cast("double")).as("lift"))
      .orderBy(desc("lift"), col("item_a"), col("item_b"))
      .limit(k)

  /** [[itemNeighbors]] tail over prebuilt relations — identical output
    * for the same reason as [[pairLiftOnCounts]].
    */
  def itemNeighborsOnCounts(counts: DataFrame, itemCnt: DataFrame,
                            minSupport: Long = 2L, nPerItem: Int = 5): DataFrame = {
    val pairs = counts.filter(col("c_pair") >= minSupport)
    val directed = pairs.select(col("item_a").as("item"),
        col("item_b").as("neighbor"), col("c_pair"))
      .unionByName(pairs.select(col("item_b").as("item"),
        col("item_a").as("neighbor"), col("c_pair")))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("item").orderBy(desc("cosine"), asc("neighbor"))
    directed
      .join(itemCnt.select(col("item"), col("c_item").as("c_i")), "item")
      .join(itemCnt.select(col("item").as("neighbor"), col("c_item").as("c_n")), "neighbor")
      .select(col("item"), col("neighbor"), col("c_pair"),
        (col("c_pair").cast("double") /
          sqrt((col("c_i") * col("c_n")).cast("double"))).as("cosine"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= nPerItem)
  }

  /** Distinct co-occurrence edges (item_a < item_b) — the input graph for
    * [[Triangles.triangleCount]] and other graph statistics. Same guard
    * as [[coOccurrencePairs]].
    */
  def coOccurrenceEdges(basketItems: DataFrame, basketCol: String,
                        itemCol: String, maxBasketSize: Int = 4096): DataFrame =
    coOccurrencePairs(basketItems, basketCol, itemCol, maxBasketSize).distinct()

  /** Temporal holdout evaluation of [[itemNeighbors]] — the offline
    * hit-rate@rank protocol every recommender ships with: train the
    * item-item CF model on baskets BEFORE `splitDate`, then call a
    * recommendation (item → neighbor at rank r) a HIT if the pair
    * actually co-occurs in some basket ON/AFTER the split. Output one
    * row per rank position: (rank, n_recs, n_hits, hit_rate) — counts
    * exact, the rate ONE IEEE division — so "how much better is rank 1
    * than rank 5" is read directly.
    *
    * Scale: train-side cost is [[itemNeighbors]] (Apriori-pruned,
    * explode-guarded); test-side is one more guarded pair expansion to
    * the DISTINCT test edge set; the verdict join is recs (≤ k·|items|
    * rows) against test edges on the canonical pair key — one hash
    * join, then a k-row aggregate.
    */
  def cfHitRate(lineitem: DataFrame, orders: DataFrame,
                splitDate: String = "1997-01-01",
                minSupport: Long = 2L, nPerItem: Int = 5,
                maxBasketSize: Int = 4096): DataFrame = {
    val dated = lineitem.select(col("l_orderkey"), col("l_partkey"))
      .join(orders.select(col("o_orderkey"), col("o_orderdate")),
        col("l_orderkey") === col("o_orderkey"))
      .select(col("l_orderkey"), col("l_partkey"), col("o_orderdate"))
    val train = dated.filter(col("o_orderdate") < lit(splitDate))
    val test = dated.filter(col("o_orderdate") >= lit(splitDate))
    val recs = itemNeighbors(train, "l_orderkey", "l_partkey",
      minSupport, nPerItem, maxBasketSize)
    val testEdges = coOccurrenceEdges(test, "l_orderkey", "l_partkey",
      maxBasketSize)
    val canon = recs.select(col("rank"),
      least(col("item"), col("neighbor")).as("item_a"),
      greatest(col("item"), col("neighbor")).as("item_b"))
    canon
      .join(testEdges.withColumn("__hit", lit(1L)),
        Seq("item_a", "item_b"), "left_outer")
      .groupBy("rank")
      .agg(count(lit(1)).as("n_recs"),
        sum(coalesce(col("__hit"), lit(0L))).as("n_hits"))
      .select(col("rank"), col("n_recs"), col("n_hits"),
        (col("n_hits").cast("double") / col("n_recs")).as("hit_rate"))
  }

  /** DuckDB twin of [[cfHitRate]]: the q_item_cf replay restricted to
    * train baskets, the test edge set re-derived from raw baskets, and
    * the same canonical-pair verdict join. The maxBasketSize cap is the
    * same documented parity precondition as q_item_cf (inert on ≤7-item
    * TPC-H baskets).
    */
  def cfHitRateOracleSql(splitDate: String = "1997-01-01",
                         minSupport: Long = 2L, nPerItem: Int = 5,
                         maxBasketSize: Int = 4096): String =
    s"""WITH dated AS (
      |  SELECT l.l_orderkey, l.l_partkey, o.o_orderdate
      |  FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey),
      |titems AS (SELECT DISTINCT l_orderkey, l_partkey FROM dated
      |           WHERE o_orderdate < TIMESTAMP '$splitDate 00:00:00'),
      |ic AS (SELECT l_partkey, COUNT(*) AS c_item FROM titems GROUP BY 1),
      |fi AS (
      |  SELECT i.l_orderkey, i.l_partkey FROM titems i
      |  JOIN ic ON ic.l_partkey = i.l_partkey AND ic.c_item >= $minSupport),
      |okb AS (SELECT l_orderkey FROM titems GROUP BY 1
      |        HAVING COUNT(*) <= $maxBasketSize),
      |pairs AS (
      |  SELECT a.l_partkey AS item_a, b.l_partkey AS item_b, COUNT(*) AS c_pair
      |  FROM fi a
      |  JOIN okb ON okb.l_orderkey = a.l_orderkey
      |  JOIN fi b
      |    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
      |  GROUP BY 1, 2 HAVING COUNT(*) >= $minSupport),
      |directed AS (
      |  SELECT item_a AS item, item_b AS neighbor, c_pair FROM pairs
      |  UNION ALL
      |  SELECT item_b, item_a, c_pair FROM pairs),
      |scored AS (
      |  SELECT d.item, d.neighbor,
      |         CAST(d.c_pair AS DOUBLE) /
      |           sqrt(CAST(ci.c_item * cn.c_item AS DOUBLE)) AS cosine
      |  FROM directed d
      |  JOIN ic ci ON ci.l_partkey = d.item
      |  JOIN ic cn ON cn.l_partkey = d.neighbor),
      |ranked AS (
      |  SELECT item, neighbor, rank FROM (
      |    SELECT *, CAST(ROW_NUMBER() OVER (
      |      PARTITION BY item ORDER BY cosine DESC, neighbor) AS INTEGER) AS rank
      |    FROM scored) t
      |  WHERE rank <= $nPerItem),
      |teitems AS (SELECT DISTINCT l_orderkey, l_partkey FROM dated
      |            WHERE o_orderdate >= TIMESTAMP '$splitDate 00:00:00'),
      |tokb AS (SELECT l_orderkey FROM teitems GROUP BY 1
      |         HAVING COUNT(*) <= $maxBasketSize),
      |tedges AS (
      |  SELECT DISTINCT a.l_partkey AS item_a, b.l_partkey AS item_b
      |  FROM teitems a
      |  JOIN tokb ON tokb.l_orderkey = a.l_orderkey
      |  JOIN teitems b
      |    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey),
      |canon AS (
      |  SELECT rank, LEAST(item, neighbor) AS item_a,
      |         GREATEST(item, neighbor) AS item_b
      |  FROM ranked),
      |verdict AS (
      |  SELECT c.rank,
      |         CASE WHEN t.item_a IS NULL THEN 0 ELSE 1 END AS hit
      |  FROM canon c LEFT JOIN tedges t
      |    ON t.item_a = c.item_a AND t.item_b = c.item_b)
      |SELECT CAST(rank AS INTEGER) AS rank, COUNT(*) AS n_recs,
      |       CAST(SUM(hit) AS BIGINT) AS n_hits,
      |       CAST(SUM(hit) AS DOUBLE) / COUNT(*) AS hit_rate
      |FROM verdict GROUP BY 1""".stripMargin

  /** Top-k frequent 3-itemsets (Agrawal & Srikant, VLDB'94 Apriori,
    * level 3): the unordered item triples co-occurring in the most
    * baskets — what a bundling/assortment analysis reads after the pair
    * family ([[pairLift]], [[itemNeighbors]]).
    *
    * Level-1 Apriori prune (items below `minSupport` can't be in any
    * frequent triple — lossless) runs before the expansion; the triple
    * expansion itself is ROW-LOCAL over each basket's sorted
    * frequent-item array (nested slice-lambdas under codegen, each
    * canonical a<b<c triple emitted exactly once), explode-guarded by
    * `maxBasketSize` — one degenerate basket would otherwise emit
    * |b|³/6 rows on one key, so the cap is the skew guard (mirrored in
    * the oracle). Output is top-k by (support DESC, triple ASC) —
    * plans as TakeOrderedAndProject, deterministic at any scale
    * (supports tie at 1 on sparse corpora; the lexicographic key still
    * pins the result).
    *
    * Scale shape: one distinct + one count shuffle for the prune, one
    * basket group-by, the in-row expansion, one counting aggregate
    * (map-side combined — triples from the same basket prefix combine
    * before the shuffle), one top-k. Level-2 pruning (restrict to
    * frequent PAIRS before expanding) is the next knob if a corpus's
    * triple stream ever dominates; at cap=256 the per-basket bound is
    * ~2.8M rows, and real baskets are far below the cap.
    */
  def frequentTriples(basketItems: DataFrame, basketCol: String,
                      itemCol: String, minSupport: Long = 2L, k: Int = 100,
                      maxBasketSize: Int = 256): DataFrame = {
    require(minSupport >= 1 && k >= 1, "need support and k >= 1")
    require(maxBasketSize >= 3, "triples need baskets of at least 3 items")
    val items = basketItems.select(col(basketCol), col(itemCol)).distinct()
    val itemCnt = items.groupBy(itemCol).agg(count(lit(1)).as("c_item"))
    val frequent = items.join(
      itemCnt.filter(col("c_item") >= minSupport).select(itemCol), itemCol)
    val arrays = frequent.groupBy(basketCol)
      .agg(array_sort(collect_set(col(itemCol))).as("items"))
      .filter(size(col("items")).between(3, maxBasketSize))
    arrays.select(explode(expr(
      """flatten(transform(items, (x, i) ->
        |  flatten(transform(slice(items, i + 2, size(items) - i - 1), (y, j) ->
        |    transform(slice(items, i + j + 3, size(items) - i - j - 2),
        |              z -> struct(x AS item_a, y AS item_b, z AS item_c))))))"""
        .stripMargin)).as("t"))
      .select(col("t.item_a"), col("t.item_b"), col("t.item_c"))
      .groupBy("item_a", "item_b", "item_c")
      .agg(count(lit(1)).as("support"))
      .orderBy(desc("support"), asc("item_a"), asc("item_b"), asc("item_c"))
      .limit(k)
  }

  /** DuckDB replay of [[frequentTriples]] on order baskets — the
    * equi-keyed three-way self-join (every join edge carries the basket
    * key; a chained inequality-only edge would explode the planner's
    * join order) with the identical prune/cap/top-k.
    */
  def frequentTriplesOracleSql(minSupport: Long = 2L, k: Int = 100,
                               maxBasketSize: Int = 256): String =
    s"""WITH items AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
       |ic AS (SELECT l_partkey, COUNT(*) AS c_item FROM items GROUP BY 1),
       |fi AS (
       |  SELECT i.l_orderkey, i.l_partkey FROM items i
       |  JOIN ic ON ic.l_partkey = i.l_partkey AND ic.c_item >= $minSupport),
       |ok AS (SELECT l_orderkey FROM fi GROUP BY 1
       |       HAVING COUNT(*) BETWEEN 3 AND $maxBasketSize),
       |f AS (SELECT fi.* FROM fi JOIN ok USING (l_orderkey))
       |SELECT a.l_partkey AS item_a, b.l_partkey AS item_b,
       |       c.l_partkey AS item_c, COUNT(*) AS support
       |FROM f a
       |JOIN f b ON b.l_orderkey = a.l_orderkey AND b.l_partkey > a.l_partkey
       |JOIN f c ON c.l_orderkey = b.l_orderkey AND c.l_partkey > b.l_partkey
       |GROUP BY 1, 2, 3
       |ORDER BY support DESC, item_a, item_b, item_c
       |LIMIT $k""".stripMargin
}
