package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.io.Tables
import graft.operators.SkewJoin

/** Scale techniques: salting equivalence and bucketed co-located joins. */
class ScaleTechniquesSpec extends AnyFunSuite {
  import TestSpark.{spark, sfDir}
  import spark.implicits._

  test("saltedJoin: row-identical to the plain inner join") {
    val li  = Tables.lineitem(spark, sfDir).select("l_orderkey", "l_quantity")
    val ord = Tables.orders(spark, sfDir).select("o_orderkey", "o_totalprice")
      .withColumnRenamed("o_orderkey", "l_orderkey")
    val plain  = li.join(ord, "l_orderkey")
    val salted = SkewJoin.saltedJoin(li, ord, "l_orderkey", nSalts = 8)
      .select(plain.columns.map(col): _*)
    assert(salted.count() === plain.count())
    assert(salted.exceptAll(plain).isEmpty && plain.exceptAll(salted).isEmpty)
  }

  test("dispatchedBlockJoin: broadcast under budget, salted beyond it, same rows") {
    val p = Tables.part(spark, sfDir).select("p_brand", "p_partkey", "p_name")
    val a = p.select($"p_brand", $"p_partkey".as("key_a"))
    val b = p.select($"p_brand", $"p_partkey".as("key_b"))
    // small candidate side → broadcast path, stream side round-robin spread
    val bc = SkewJoin.dispatchedBlockJoin(a, b, "p_brand")
    val bcPlan = bc.queryExecution.executedPlan.toString
    assert(bcPlan.contains("BroadcastExchange"), s"expected broadcast path:\n$bcPlan")
    assert(bcPlan.contains("RoundRobinPartitioning"),
      s"stream side must be spread to full parallelism:\n$bcPlan")
    // budget forced to 1 byte → salted path; disable Spark's own
    // auto-broadcast so the no-corpus-broadcast guarantee is visible
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val salted = SkewJoin.dispatchedBlockJoin(a, b, "p_brand", broadcastBudgetBytes = 1L)
      val sPlan = salted.queryExecution.executedPlan.toString
      assert(!sPlan.contains("BroadcastExchange"),
        s"salted path must not broadcast the corpus:\n$sPlan")
      val cols = bc.columns.map(col)
      assert(salted.select(cols: _*).exceptAll(bc).isEmpty &&
        bc.exceptAll(salted.select(cols: _*)).isEmpty)
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("bucketed tables: co-located join plans without a shuffle exchange") {
    // disable auto-broadcast so the exchange-free plan is due to bucketing
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
    spark.sql("DROP TABLE IF EXISTS li_b")
    spark.sql("DROP TABLE IF EXISTS ord_b")
    Tables.lineitem(spark, sfDir).select("l_orderkey", "l_quantity")
      .write.mode("overwrite").bucketBy(8, "l_orderkey").sortBy("l_orderkey")
      .saveAsTable("li_b")
    Tables.orders(spark, sfDir).select("o_orderkey", "o_totalprice")
      .write.mode("overwrite").bucketBy(8, "o_orderkey").sortBy("o_orderkey")
      .saveAsTable("ord_b")
    val joined = spark.table("li_b").join(spark.table("ord_b"),
      $"l_orderkey" === $"o_orderkey")
    val plan = joined.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange hashpartitioning"),
      s"bucketed join should not shuffle:\n$plan")
    assert(joined.count() > 0)
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("runtime bloom filter prunes the probe side of a selective join") {
    // At 100 TB this is the optimizer feature that turns "scan all of
    // lineitem, then join" into "scan lineitem pre-filtered by a bloom
    // filter of the few surviving orderkeys". On by default in Spark 4;
    // size thresholds lowered here so the sf0.01 fixture qualifies, and
    // broadcast disabled so the join actually shuffles (runtime filters
    // target shuffle joins — broadcasts already prune via DPP/reuse).
    val prevBroadcast = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set("spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold", "500MB")
    spark.conf.set("spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold", "0")
    try {
      val li = Tables.lineitem(spark, sfDir)
      val ord = Tables.orders(spark, sfDir)
        .filter(col("o_totalprice") > 400000.0) // selective build side
      val q = li.join(ord, li("l_orderkey") === ord("o_orderkey"))
        .groupBy("o_orderpriority").count()
      val plan = q.queryExecution.optimizedPlan.toString
      assert(plan.toLowerCase.contains("bloomfilter"),
        s"expected a runtime bloom filter on the probe side:\n$plan")
      assert(q.count() > 0)
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevBroadcast)
      spark.conf.unset("spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold")
      spark.conf.unset("spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold")
    }
  }

  test("skewReport: planted hot key tops the report with the right salt advice") {
    import spark.implicits._
    // 1 hot key with 60 rows + 30 cold keys with 2 rows each: mean = 120/31,
    // hot skew = 60*31/120 = 15.5x -> salts = ceil(15.5) = 16
    val rows = (1 to 60).map(_ => 999L) ++ (1L to 30L).flatMap(k => Seq(k, k))
    val df = rows.toDF("k")
    val top = graft.operators.SkewJoin.skewReport(df, "k", k = 3).collect()
    assert(top.head.getLong(0) === 999L)
    assert(top.head.getLong(1) === 60L)
    assert(top.head.getLong(2) === 500000L)      // 60/120 in ppm
    assert(top.head.getLong(3) === 15500L)       // 15.5x in milli
    assert(top.head.getLong(4) === 16L)
    // cold keys: skew 2*31/120 = 0.516x, salts = ceil = 1
    assert(top(1).getLong(3) === 516L && top(1).getLong(4) === 1L)
    spark.catalog.clearCache()
  }

  test("autoSaltedJoin: salted branch on the hot key, plain below threshold, rows identical") {
    import spark.implicits._
    // left: 1 hot key (60 rows) + 30 cold keys (2 rows each) — skew 15.5x
    val hot = ((1 to 60).map(_ => 999L) ++ (1L to 30L).flatMap(k => Seq(k, k)))
      .zipWithIndex.map { case (k, i) => (k, i.toLong) }.toDF("k", "payload")
    val right = (1L to 30L).map(k => (k, s"dim$k")).toDF("k", "name")
      .union(Seq((999L, "dimHot")).toDF("k", "name"))
    val plain = hot.join(right, "k")
    // hot input → the guard takes the salted branch: the plan replicates
    // the right side (explode over the salt sequence)
    val auto = SkewJoin.autoSaltedJoin(hot, right, "k", maxSalts = 8)
    assert(auto.queryExecution.optimizedPlan.toString.contains("explode"),
      "skewed input must dispatch the salted branch")
    val autoSel = auto.select(plain.columns.map(col): _*)
    assert(autoSel.exceptAll(plain).isEmpty && plain.exceptAll(autoSel).isEmpty)
    // uniform input → the plain branch: no salt explode anywhere
    val flat = (1L to 31L).flatMap(k => Seq(k, k)).zipWithIndex
      .map { case (k, i) => (k, i.toLong) }.toDF("k", "payload")
    val auto2 = SkewJoin.autoSaltedJoin(flat, right, "k")
    assert(!auto2.queryExecution.optimizedPlan.toString.contains("explode"),
      "uniform input must dispatch the plain join")
    val plain2 = flat.join(right, "k")
    val auto2Sel = auto2.select(plain2.columns.map(col): _*)
    assert(auto2Sel.exceptAll(plain2).isEmpty && plain2.exceptAll(auto2Sel).isEmpty)
    spark.catalog.clearCache()
  }
}
