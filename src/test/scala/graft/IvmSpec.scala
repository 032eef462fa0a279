package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Ivm

/** IVM: incremental maintenance equals recompute, groups appear and
  * disappear correctly, and the plan never touches the base relation.
  */
class IvmSpec extends AnyFunSuite {
  import TestSpark.spark
  import spark.implicits._

  private def agg(rows: org.apache.spark.sql.DataFrame) =
    rows.groupBy("g").agg(count(lit(1)).as("cnt"),
      sum($"v".cast("decimal(18,2)")).as("total"))

  test("applyDelta equals recompute across inserts, deletes, and updates") {
    val base = Seq(("a", 10.0), ("a", 20.0), ("b", 5.0), ("c", 7.0)).toDF("g", "v")
    // update a/10→15 (delete+insert), delete c/7 (group vanishes), insert d/9 (new group)
    val changes = Seq(
      ("a", 10.0, true), ("a", 15.0, false),
      ("c", 7.0, true),
      ("d", 9.0, false)
    ).toDF("g", "v", "is_delete")
    val incremental = Ivm.applyDelta(
      agg(base), changes.withColumn("v", $"v".cast("decimal(18,2)")), Seq("g"), "v")
    val snapshot = Seq(("a", 15.0), ("a", 20.0), ("b", 5.0), ("d", 9.0)).toDF("g", "v")
    val recompute = agg(snapshot)
    assert(incremental.exceptAll(recompute).isEmpty &&
      recompute.exceptAll(incremental).isEmpty)
    // c reached count 0 and is gone
    assert(incremental.filter($"g" === "c").isEmpty)
  }

  test("NULL group keys merge like any other group (null-safe join)") {
    val base = Seq((Some("a"), 1.0), (None, 2.0), (None, 3.0))
      .toDF("g", "v")
    val changes = Seq((None: Option[String], 2.0, true), (Some("b"), 9.0, false))
      .toDF("g", "v", "is_delete")
      .withColumn("v", $"v".cast("decimal(18,2)"))
    val out = Ivm.applyDelta(agg(base), changes, Seq("g"), "v")
    val recompute = agg(Seq((Some("a"), 1.0), (None, 3.0), (Some("b"), 9.0)).toDF("g", "v"))
    assert(out.exceptAll(recompute).isEmpty && recompute.exceptAll(out).isEmpty,
      s"null-group delta lost:\n${out.collect().mkString("\n")}")
  }

  test("empty delta is the identity") {
    val base = Seq(("a", 1.0), ("b", 2.0)).toDF("g", "v")
    val empty = Seq.empty[(String, Double, Boolean)].toDF("g", "v", "is_delete")
      .withColumn("v", $"v".cast("decimal(18,2)"))
    val out = Ivm.applyDelta(agg(base), empty, Seq("g"), "v")
    assert(out.exceptAll(agg(base)).isEmpty && agg(base).exceptAll(out).isEmpty)
  }

  test("streaming deltas folded per micro-batch equal the final recompute") {
    // the streaming-IVM twin: foreachBatch maintains a versioned agg with
    // applyDelta; two batches of CDC land on the recompute of the final
    // snapshot (one versioned directory per batch, delta-sized work)
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    val tableDir = java.nio.file.Files.createTempDirectory("graft_ivm_tbl").toString
    val chk = java.nio.file.Files.createTempDirectory("graft_ivm_chk").toString
    val base = Seq(("a", 10.0), ("a", 20.0), ("b", 5.0)).toDF("g", "v")
    agg(base).write.mode("overwrite").parquet(s"$tableDir/v0")
    val stream = MemoryStream[(String, Double, Boolean)]
    val q = stream.toDF().toDF("g", "v", "is_delete")
      .withColumn("v", $"v".cast("decimal(18,2)"))
      .writeStream.option("checkpointLocation", chk)
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, id: Long) =>
        val cur = batch.sparkSession.read.parquet(s"$tableDir/v$id")
        Ivm.applyDelta(cur, batch, Seq("g"), "v")
          .write.mode("overwrite").parquet(s"$tableDir/v${id + 1}")
      }.start()
    try {
      stream.addData(("a", 10.0, true), ("a", 15.0, false)) // update a
      q.processAllAvailable()
      stream.addData(("b", 5.0, true), ("c", 9.0, false))   // delete b, insert c
      q.processAllAvailable()
    } finally q.stop()
    val got = spark.read.parquet(s"$tableDir/v2")
    val recompute = agg(Seq(("a", 15.0), ("a", 20.0), ("c", 9.0)).toDF("g", "v"))
    assert(got.exceptAll(recompute).isEmpty && recompute.exceptAll(got).isEmpty)
  }

  private def aggMinMax(rows: org.apache.spark.sql.DataFrame) =
    rows.groupBy("g").agg(count(lit(1)).as("cnt"),
      min($"v".cast("decimal(18,2)")).as("mn"),
      max($"v".cast("decimal(18,2)")).as("mx"))

  test("applyDeltaMinMax equals recompute, including extremum retractions") {
    val base = Seq(("a", 10.0), ("a", 20.0), ("a", 20.0), ("b", 5.0), ("b", 8.0),
      ("c", 7.0), ("e", 1.0), ("e", 4.0)).toDF("g", "v")
    // a: delete ONE of the two max rows (max survives at same value) and
    //    the min row (min retracts to a recomputed 20.0);
    // b: insert a new max (clean algebraic path);
    // c: group vanishes entirely (no repair attempted);
    // d: brand-new group;
    // e: untouched.
    val changes = Seq(
      ("a", 20.0, true), ("a", 10.0, true),
      ("b", 11.0, false),
      ("c", 7.0, true),
      ("d", 9.0, false), ("d", 3.0, false)
    ).toDF("g", "v", "is_delete").withColumn("v", $"v".cast("decimal(18,2)"))
    val after = Seq(("a", 20.0), ("b", 5.0), ("b", 8.0), ("b", 11.0),
      ("d", 9.0), ("d", 3.0), ("e", 1.0), ("e", 4.0)).toDF("g", "v")
    val incremental = Ivm.applyDeltaMinMax(
      aggMinMax(base), changes,
      after.withColumn("v", $"v".cast("decimal(18,2)")), Seq("g"), "v")
    val recompute = aggMinMax(after)
    assert(incremental.exceptAll(recompute).isEmpty &&
      recompute.exceptAll(incremental).isEmpty,
      s"got:\n${incremental.collect().mkString("\n")}")
    spark.catalog.clearCache()
  }

  test("applyDeltaMinMax: null groups and null measures follow SQL semantics") {
    val base = Seq((Some("a"), Some(1.0)), (None, Some(2.0)), (None, Some(6.0)))
      .toDF("g", "v")
    // delete the null group's max (retraction on a NULL key), insert a
    // null measure into a (ignored by min/max, counted by cnt)
    val changes = Seq(
      (None: Option[String], Some(6.0), true),
      (Some("a"), None: Option[Double], false)
    ).toDF("g", "v", "is_delete").withColumn("v", $"v".cast("decimal(18,2)"))
    val after = Seq((Some("a"), Some(1.0)), (Some("a"), None: Option[Double]),
      (None, Some(2.0))).toDF("g", "v")
    val incremental = Ivm.applyDeltaMinMax(
      aggMinMax(base), changes,
      after.withColumn("v", $"v".cast("decimal(18,2)")), Seq("g"), "v")
    val recompute = aggMinMax(after)
    assert(incremental.exceptAll(recompute).isEmpty &&
      recompute.exceptAll(incremental).isEmpty,
      s"got:\n${incremental.collect().mkString("\n")}")
    spark.catalog.clearCache()
  }

  test("streaming min/max deltas folded per micro-batch equal the final recompute") {
    // the streaming twin of applyDeltaMinMax: foreachBatch maintains BOTH
    // a versioned multiset base (g, v, mult — deletes decrement one
    // occurrence, never anti-join away duplicates) and the (cnt, mn, mx)
    // view; each batch's repair reads the post-batch base, and two
    // batches of CDC (including a delete AT the stored max) land on the
    // recompute of the final snapshot
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("graft_ivm_mm").toString
    val chk = java.nio.file.Files.createTempDirectory("graft_ivm_mm_chk").toString
    val base = Seq(("a", 10.0), ("a", 20.0), ("a", 20.0), ("b", 5.0)).toDF("g", "v")
    base.groupBy("g", "v").agg(count(lit(1)).as("mult"))
      .withColumn("v", $"v".cast("decimal(18,2)"))
      .write.mode("overwrite").parquet(s"$dir/base_v0")
    aggMinMax(base).write.mode("overwrite").parquet(s"$dir/agg_v0")
    val stream = MemoryStream[(String, Double, Boolean)]
    val q = stream.toDF().toDF("g", "v", "is_delete")
      .withColumn("v", $"v".cast("decimal(18,2)"))
      .writeStream.option("checkpointLocation", chk)
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, id: Long) =>
        val ss = batch.sparkSession
        val prevBase = ss.read.parquet(s"$dir/base_v$id")
        val d = batch.groupBy("g", "v")
          .agg(sum(when(col("is_delete"), -1L).otherwise(1L)).as("md"))
        val nextBase = prevBase.alias("b")
          .join(d.alias("d"), col("b.g") <=> col("d.g") && col("b.v") <=> col("d.v"), "full_outer")
          .select(coalesce(col("b.g"), col("d.g")).as("g"),
            coalesce(col("b.v"), col("d.v")).as("v"),
            (coalesce(col("mult"), lit(0L)) + coalesce(col("md"), lit(0L))).as("mult"))
          .filter(col("mult") > 0)
        nextBase.write.mode("overwrite").parquet(s"$dir/base_v${id + 1}")
        val baseAfter = ss.read.parquet(s"$dir/base_v${id + 1}").select("g", "v")
        val prevAgg = ss.read.parquet(s"$dir/agg_v$id")
        Ivm.applyDeltaMinMax(prevAgg, batch, baseAfter, Seq("g"), "v")
          .write.mode("overwrite").parquet(s"$dir/agg_v${id + 1}")
      }.start()
    try {
      // batch 0: delete one of a's two maxima (max survives), insert b/12
      stream.addData(("a", 20.0, true), ("b", 12.0, false))
      q.processAllAvailable()
      // batch 1: delete a's REMAINING max (true retraction), delete b/12 back
      stream.addData(("a", 20.0, true), ("b", 12.0, true), ("c", 3.0, false))
      q.processAllAvailable()
    } finally q.stop()
    val got = spark.read.parquet(s"$dir/agg_v2")
    val recompute = aggMinMax(Seq(("a", 10.0), ("b", 5.0), ("c", 3.0)).toDF("g", "v"))
    assert(got.exceptAll(recompute).isEmpty && recompute.exceptAll(got).isEmpty,
      s"got:\n${got.collect().mkString("\n")}")
    spark.catalog.clearCache()
  }

  test("maintenance cost is delta-sized: base relation absent from the plan") {
    val base = agg(Seq(("a", 1.0)).toDF("g", "v"))
      .write.mode("overwrite").parquet("/tmp/graft_ivm_base")
    val baseAgg = spark.read.parquet("/tmp/graft_ivm_base")
    val changes = Seq(("a", 2.0, false)).toDF("g", "v", "is_delete")
      .withColumn("v", $"v".cast("decimal(18,2)"))
    val plan = Ivm.applyDelta(baseAgg, changes, Seq("g"), "v")
      .queryExecution.executedPlan.toString
    // exactly one parquet scan: the AGGREGATE, never a fact table rescan
    assert(plan.split("Scan parquet").length - 1 === 1, plan)
  }

  test("joinViewChanges + applyDelta equal the recomputed join view") {
    // A(k, g): join attribute g; B(k, v): measure. Batch exercises all
    // three bilinear terms: dA⋈B, A⋈dB, and the dA⋈dB re-insert.
    val aOld = Seq((1L, "x"), (2L, "y"), (3L, "x")).toDF("ak", "g")
    val bOld = Seq((1L, 10.0), (1L, 20.0), (2L, 5.0), (3L, 7.0))
      .toDF("bk", "v").withColumn("v", $"v".cast("decimal(18,2)"))
    val base = aOld.join(bOld, $"ak" === $"bk")
      .groupBy("g").agg(count(lit(1)).as("cnt"),
        sum($"v".cast("decimal(18,2)")).as("total"))
    // delete order 2 entirely (A-side), delete one lineitem of order 1
    // (B-side), insert order 4 with a lineitem (BOTH sides: dA⋈dB)
    val dA = Seq((2L, "y", true), (4L, "z", false)).toDF("ak", "g", "is_delete")
    val dB = Seq((1L, 20.0, true), (2L, 5.0, true), (4L, 9.0, false))
      .toDF("bk", "v", "is_delete").withColumn("v", $"v".cast("decimal(18,2)"))
    val changes = Ivm.joinViewChanges(aOld, dA, bOld, dB, "ak", "bk")
      .select($"g", $"v", $"is_delete")
    val incremental = Ivm.applyDelta(base, changes, Seq("g"), "v")
    val aNew = Seq((1L, "x"), (3L, "x"), (4L, "z")).toDF("ak", "g")
    val bNew = Seq((1L, 10.0), (3L, 7.0), (4L, 9.0))
      .toDF("bk", "v").withColumn("v", $"v".cast("decimal(18,2)"))
    val recompute = aNew.join(bNew, $"ak" === $"bk")
      .groupBy("g").agg(count(lit(1)).as("cnt"),
        sum($"v".cast("decimal(18,2)")).as("total"))
    assert(incremental.exceptAll(recompute).isEmpty &&
      recompute.exceptAll(incremental).isEmpty)
    // y vanished with order 2; z appeared with order 4
    assert(incremental.filter($"g" === "y").isEmpty)
    assert(incremental.filter($"g" === "z").count() === 1)
  }

  test("join view folded per CDC micro-batch equals the final recompute") {
    // dimension static, fact arriving as three CDC batches (the common
    // warehouse shape): each batch folds through joinViewChanges +
    // applyDelta against the RUNNING view and the RUNNING fact state
    val dim = Seq((1L, "x"), (2L, "y"), (3L, "z")).toDF("ak", "g")
    def fact(rows: (Long, Double)*) = rows.toDF("bk", "v")
      .withColumn("v", $"v".cast("decimal(18,2)"))
    def dfact(rows: (Long, Double, Boolean)*) = rows.toDF("bk", "v", "is_delete")
      .withColumn("v", $"v".cast("decimal(18,2)"))
    val emptyA = Seq.empty[(Long, String, Boolean)].toDF("ak", "g", "is_delete")

    var bState = fact((1L, 10.0), (2L, 5.0))
    var view = dim.join(bState, $"ak" === $"bk")
      .groupBy("g").agg(count(lit(1)).as("cnt"),
        sum($"v".cast("decimal(18,2)")).as("total"))
    val batches = Seq(
      dfact((3L, 7.0, false), (1L, 20.0, false)),            // inserts
      dfact((2L, 5.0, true), (3L, 9.0, false)),              // delete + insert
      dfact((1L, 10.0, true), (1L, 20.0, true)))             // y…x drains
    for (batch <- batches) {
      val changes = Ivm.joinViewChanges(dim, emptyA, bState, batch, "ak", "bk")
        .select($"g", $"v", $"is_delete")
      view = Ivm.applyDelta(view, changes, Seq("g"), "v")
      bState = bState.unionByName(batch.filter(!$"is_delete").drop("is_delete"))
        .exceptAll(batch.filter($"is_delete").drop("is_delete"))
    }
    val recompute = dim.join(bState, $"ak" === $"bk")
      .groupBy("g").agg(count(lit(1)).as("cnt"),
        sum($"v".cast("decimal(18,2)")).as("total"))
    assert(view.exceptAll(recompute).isEmpty &&
      recompute.exceptAll(view).isEmpty)
  }

  test("joinViewChanges: a delete-delete pair re-inserts, net effect exact") {
    // deleting the A row AND its matching B row must remove the join row
    // ONCE: the two cross terms subtract twice, dA⋈dB adds back once
    val aOld = Seq((1L, "x")).toDF("ak", "g")
    val bOld = Seq((1L, 10.0)).toDF("bk", "v")
      .withColumn("v", $"v".cast("decimal(18,2)"))
    val base = aOld.join(bOld, $"ak" === $"bk")
      .groupBy("g").agg(count(lit(1)).as("cnt"),
        sum($"v".cast("decimal(18,2)")).as("total"))
    val dA = Seq((1L, "x", true)).toDF("ak", "g", "is_delete")
    val dB = Seq((1L, 10.0, true)).toDF("bk", "v", "is_delete")
      .withColumn("v", $"v".cast("decimal(18,2)"))
    val changes = Ivm.joinViewChanges(aOld, dA, bOld, dB, "ak", "bk")
      .select($"g", $"v", $"is_delete")
    // net: one insert-weight and two delete-weights over the same row
    val net = changes.groupBy("g")
      .agg(sum(when($"is_delete", -1L).otherwise(1L)).as("w"))
    assert(net.as[(String, Long)].collect().toSeq === Seq(("x", -1L)))
    assert(Ivm.applyDelta(base, changes, Seq("g"), "v").isEmpty)
  }

  test("count-distinct support folded per CDC batch equals the recompute") {
    // (g, v) multiplicities: v leaves g exactly when its LAST row
    // retracts. Batches exercise: insert of an existing value (count
    // unchanged), partial delete of a multi-row value (count unchanged),
    // last-row delete (count drops), new value (count grows), and a
    // value re-inserted after draining.
    def rows(xs: (String, Long)*) = xs.toDF("g", "v")
    def batch(xs: (String, Long, Boolean)*) = xs.toDF("g", "v", "is_delete")
    var state = rows(("a", 1L), ("a", 1L), ("a", 2L), ("b", 5L))
    var support = state.groupBy("g", "v").agg(count(lit(1)).as("cnt"))
    val batches = Seq(
      batch(("a", 1L, false), ("b", 6L, false)),              // dup insert + new value
      batch(("a", 1L, true), ("a", 2L, true), ("b", 5L, true)), // partial + last-row deletes
      batch(("a", 2L, false), ("a", 1L, true), ("a", 1L, true))) // re-insert + drain a/1
    for (b <- batches) {
      support = Ivm.applyDeltaDistinct(support, b, Seq("g"), "v")
      state = state.unionByName(b.filter(!$"is_delete").drop("is_delete"))
        .exceptAll(b.filter($"is_delete").drop("is_delete"))
    }
    val got = Ivm.distinctCounts(support, Seq("g"), "v")
    val recompute = state.groupBy("g").agg(countDistinct($"v").as("n_distinct"))
    assert(got.exceptAll(recompute).isEmpty && recompute.exceptAll(got).isEmpty,
      s"got:\n${got.collect().mkString("\n")}\nexpect:\n${recompute.collect().mkString("\n")}")
    // a ends with exactly {2}: 1 drained after its re-count dance
    assert(got.filter($"g" === "a").as[(String, Long)].collect().toSeq
      === Seq(("a", 1L)))
  }

  test("median view folded per CDC batch equals the recompute") {
    // deletes that MOVE the median are the non-self-maintainable case the
    // support relation exists for: drain the values above the median and
    // it must slide down; insert a run below and it must slide up.
    def rows(xs: (String, Long)*) = xs.toDF("g", "v")
    def batch(xs: (String, Long, Boolean)*) = xs.toDF("g", "v", "is_delete")
    var state = rows(("a", 1L), ("a", 3L), ("a", 5L), ("a", 7L), ("b", 2L))
    var support = state.groupBy("g", "v").agg(count(lit(1)).as("cnt"))
    val batches = Seq(
      batch(("a", 5L, true), ("a", 7L, true)),               // median slides down
      batch(("a", 0L, false), ("a", 0L, false), ("b", 9L, false)), // slides again
      batch(("a", 1L, true), ("a", 0L, true)))               // partial drain
    for (b <- batches) {
      support = Ivm.applyDeltaDistinct(support, b, Seq("g"), "v")
      state = state.unionByName(b.filter(!$"is_delete").drop("is_delete"))
        .exceptAll(b.filter($"is_delete").drop("is_delete"))
    }
    val got = Ivm.medianView(support, Seq("g"), "v")
      .as[(String, Long, Long)].collect()
      .map { case (g, n, m) => g -> ((n, m)) }.toMap
    // recompute: smallest v whose cumulative count reaches half the total
    val st = state.as[(String, Long)].collect().toSeq.groupBy(_._1)
      .map { case (g, vs) =>
        val sorted = vs.map(_._2).sorted
        val n = sorted.size
        g -> ((n.toLong, sorted((n - 1) / 2))) // PERCENTILE_DISC(0.5)
      }
    assert(got == st, s"got $got expect $st")
  }

  test("applyDeltaDistinct: maintenance cost is delta-sized, null-safe keys") {
    // null group key and null value: the null GROUP matches null-safely;
    // a NULL value is tracked in the support but excluded by
    // distinctCounts, matching COUNT(DISTINCT) semantics
    val support = Seq((Option("a"), Option(1L), 1L), (Option.empty[String], Option(2L), 2L),
      (Option("a"), Option.empty[Long], 1L)).toDF("g", "v", "cnt")
    val changes = Seq((Option.empty[String], Option(2L), true),
      (Option.empty[String], Option(2L), true),
      (Option("a"), Option.empty[Long], false))
      .toDF("g", "v", "is_delete")
    val sup2 = Ivm.applyDeltaDistinct(support, changes, Seq("g"), "v")
    // null-group value 2 drained (2 - 2 = 0); a's null value now cnt 2
    assert(sup2.filter($"g".isNull).isEmpty)
    assert(sup2.filter($"g" === "a" && $"v".isNull).as[(String, Option[Long], Long)]
      .collect().map(_._3).toSeq === Seq(2L))
    // distinctCounts ignores the NULL value: a counts only v=1
    assert(Ivm.distinctCounts(sup2, Seq("g"), "v").as[(String, Long)]
      .collect().toSeq === Seq(("a", 1L)))
  }

  test("streaming distinct + median support folds equal the final recompute") {
    // the streaming twin of applyDeltaDistinct: foreachBatch maintains the
    // versioned (g, v, cnt) SUPPORT relation; BOTH derived views —
    // count-distinct and exact median — read the same maintained support,
    // and two CDC batches (draining a value's last occurrence, thinning a
    // duplicated value without dropping it, an update pair, and a NULL
    // value insert) land on the recompute of the final snapshot
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("graft_ivm_sup").toString
    val chk = java.nio.file.Files.createTempDirectory("graft_ivm_sup_chk").toString
    val base = Seq(("a", Option(10L)), ("a", Option(10L)), ("a", Option(30L)),
      ("b", Option(5L))).toDF("g", "v")
    base.groupBy("g", "v").agg(count(lit(1)).as("cnt"))
      .write.mode("overwrite").parquet(s"$dir/sup_v0")
    val stream = MemoryStream[(String, Option[Long], Boolean)]
    val q = stream.toDF().toDF("g", "v", "is_delete")
      .writeStream.option("checkpointLocation", chk)
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, id: Long) =>
        val cur = batch.sparkSession.read.parquet(s"$dir/sup_v$id")
        Ivm.applyDeltaDistinct(cur, batch, Seq("g"), "v")
          .write.mode("overwrite").parquet(s"$dir/sup_v${id + 1}")
      }.start()
    try {
      // thin one of a's duplicated 10s (distinct unchanged), update b 5→7
      stream.addData(("a", Option(10L), true), ("b", Option(5L), true),
        ("b", Option(7L), false))
      q.processAllAvailable()
      // drain a's LAST 10 (distinct drops), insert c/9 and a NULL value
      stream.addData(("a", Option(10L), true), ("c", Option(9L), false),
        ("c", Option.empty[Long], false))
      q.processAllAvailable()
    } finally q.stop()
    val sup = spark.read.parquet(s"$dir/sup_v2")
    val finalRows = Seq(("a", Option(30L)), ("b", Option(7L)),
      ("c", Option(9L)), ("c", Option.empty[Long])).toDF("g", "v")
    val wantDistinct = finalRows.groupBy("g")
      .agg(countDistinct($"v").as("n_distinct"))
    val gotDistinct = Ivm.distinctCounts(sup, Seq("g"), "v")
    assert(gotDistinct.exceptAll(wantDistinct).isEmpty &&
      wantDistinct.exceptAll(gotDistinct).isEmpty)
    val wantMedian = finalRows.filter($"v".isNotNull).groupBy("g")
      .agg(count(lit(1)).as("n_rows"),
        expr("percentile_disc(0.5) WITHIN GROUP (ORDER BY v)").as("median"))
    val gotMedian = Ivm.medianView(sup, Seq("g"), "v")
    assert(gotMedian.exceptAll(wantMedian).isEmpty &&
      wantMedian.exceptAll(gotMedian).isEmpty,
      s"got:\n${gotMedian.collect().mkString("\n")}")
    spark.catalog.clearCache()
  }

  test("streaming top-k re-ranks per micro-batch equal the final recompute") {
    // the streaming twin of topKView: foreachBatch folds applyDelta into
    // the versioned (g, cnt, total) aggregate AND emits the re-ranked
    // top-k per batch; a delete retracts the reigning top group out of
    // the top set (the no-repair-needed property), and the final emitted
    // view equals the recompute
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("graft_ivm_topk").toString
    val chk = java.nio.file.Files.createTempDirectory("graft_ivm_topk_chk").toString
    val base = Seq(("a", 50.0), ("b", 30.0), ("c", 20.0), ("d", 10.0))
      .toDF("g", "v")
    agg(base).write.mode("overwrite").parquet(s"$dir/agg_v0")
    val stream = MemoryStream[(String, Double, Boolean)]
    val q = stream.toDF().toDF("g", "v", "is_delete")
      .withColumn("v", $"v".cast("decimal(18,2)"))
      .writeStream.option("checkpointLocation", chk)
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, id: Long) =>
        val ss = batch.sparkSession
        val cur = ss.read.parquet(s"$dir/agg_v$id")
        // ONE fold serves both artifacts: the next version and its top-k
        Ivm.applyDelta(cur, batch, Seq("g"), "v")
          .write.mode("overwrite").parquet(s"$dir/agg_v${id + 1}")
        ss.read.parquet(s"$dir/agg_v${id + 1}")
          .orderBy($"total".desc, $"g".asc).limit(2)
          .write.mode("overwrite").parquet(s"$dir/topk_v${id + 1}")
      }.start()
    try {
      // batch 0: c surges into the top 2
      stream.addData(("c", 25.0, false))
      q.processAllAvailable()
      // batch 1: retract the reigning top group a entirely
      stream.addData(("a", 50.0, true), ("d", 2.0, false))
      q.processAllAvailable()
    } finally q.stop()
    val got = spark.read.parquet(s"$dir/topk_v2")
    val finalRows = Seq(("b", 30.0), ("c", 20.0), ("c", 25.0), ("d", 10.0),
      ("d", 2.0)).toDF("g", "v")
    val want = agg(finalRows).orderBy($"total".desc, $"g".asc).limit(2)
    assert(got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty,
      s"got:\n${got.collect().mkString("\n")}")
    // a must be gone from the emitted view (retracted, not repaired)
    assert(got.filter($"g" === "a").isEmpty)
    spark.catalog.clearCache()
  }

  test("applyDeltaStats equals recompute: exact power-sum retraction") {
    def stats(df: org.apache.spark.sql.DataFrame) = df
      .withColumn("v", $"v".cast("decimal(18,2)"))
      .groupBy("g").agg(count(lit(1)).as("cnt"),
        sum($"v").as("sx"), sum($"v" * $"v").as("sx2"))
    val base = Seq(("a", 10.0), ("a", 20.0), ("b", 5.0), ("c", 7.0)).toDF("g", "v")
    val changes = Seq(
      ("a", 10.0, true), ("a", 15.0, false),  // update 10 -> 15
      ("c", 7.0, true),                        // group vanishes
      ("d", 9.0, false)                        // new group
    ).toDF("g", "v", "is_delete").withColumn("v", $"v".cast("decimal(18,2)"))
    val out = Ivm.applyDeltaStats(stats(base), changes, Seq("g"), "v")
    val recompute = stats(Seq(("a", 15.0), ("a", 20.0), ("b", 5.0), ("d", 9.0)).toDF("g", "v"))
    assert(out.exceptAll(recompute).isEmpty && recompute.exceptAll(out).isEmpty,
      s"power sums diverged:\n${out.collect().mkString("\n")}")
    assert(out.filter($"g" === "c").isEmpty)
    // derived variance from the maintained sums is exact: group a holds
    // {15, 20} -> mean 17.5, var_pop 6.25
    val a = out.filter($"g" === "a")
      .select(($"sx2".cast("double") * $"cnt" - $"sx".cast("double") * $"sx") /
        ($"cnt" * $"cnt")).head.getDouble(0)
    assert(math.abs(a - 6.25) < 1e-9)
  }

  test("applyDeltaStats: retraction after many folds stays exact (decimal, not float)") {
    def stats(df: org.apache.spark.sql.DataFrame) = df
      .withColumn("v", $"v".cast("decimal(18,2)"))
      .groupBy("g").agg(count(lit(1)).as("cnt"),
        sum($"v").as("sx"), sum($"v" * $"v").as("sx2"))
    // fold 50 insert+delete pairs of an awkward decimal through the view:
    // the sums must land bit-exactly back on the base (floats would drift)
    var view = stats(Seq(("g", 0.1), ("g", 0.2)).toDF("g", "v"))
    for (_ <- 1 to 50) {
      val batch = Seq(("g", 123456.78, false), ("g", 123456.78, true))
        .toDF("g", "v", "is_delete").withColumn("v", $"v".cast("decimal(18,2)"))
      view = Ivm.applyDeltaStats(view, batch, Seq("g"), "v")
    }
    val expected = stats(Seq(("g", 0.1), ("g", 0.2)).toDF("g", "v"))
    assert(view.exceptAll(expected).isEmpty && expected.exceptAll(view).isEmpty)
  }

  test("streaming stats folds per micro-batch equal the final recompute") {
    // the streaming twin of applyDeltaStats: a versioned power-sum view
    // maintained with foreachBatch lands on the recompute of the final
    // snapshot after two CDC batches (delta-sized work per batch)
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    def stats(df: org.apache.spark.sql.DataFrame) = df
      .withColumn("v", $"v".cast("decimal(18,2)"))
      .groupBy("g").agg(count(lit(1)).as("cnt"),
        sum($"v").as("sx"), sum($"v" * $"v").as("sx2"))
    val tableDir = java.nio.file.Files.createTempDirectory("graft_ivms_tbl").toString
    val chk = java.nio.file.Files.createTempDirectory("graft_ivms_chk").toString
    val base = Seq(("a", 10.0), ("a", 20.0), ("b", 5.0)).toDF("g", "v")
    stats(base).write.mode("overwrite").parquet(s"$tableDir/v0")
    val stream = MemoryStream[(String, Double, Boolean)]
    val q = stream.toDF().toDF("g", "v", "is_delete")
      .withColumn("v", $"v".cast("decimal(18,2)"))
      .writeStream.option("checkpointLocation", chk)
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, id: Long) =>
        val cur = batch.sparkSession.read.parquet(s"$tableDir/v$id")
        Ivm.applyDeltaStats(cur, batch, Seq("g"), "v")
          .write.mode("overwrite").parquet(s"$tableDir/v${id + 1}")
      }.start()
    try {
      stream.addData(("a", 10.0, true), ("a", 15.0, false)) // update a
      q.processAllAvailable()
      stream.addData(("b", 5.0, true), ("c", 9.0, false))   // delete b, insert c
      q.processAllAvailable()
    } finally q.stop()
    val got = spark.read.parquet(s"$tableDir/v2")
    val recompute = stats(Seq(("a", 15.0), ("a", 20.0), ("c", 9.0)).toDF("g", "v"))
    assert(got.exceptAll(recompute).isEmpty && recompute.exceptAll(got).isEmpty)
  }
}
