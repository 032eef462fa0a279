package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.analytics.Sketches

class SketchesSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  test("count-min estimates are one-sided: estimate >= exact, always") {
    val rnd = new scala.util.Random(3)
    // zipfish: key k appears ~1000/k times over a 2000-key domain
    val rows = (1 to 5000).map(_ => (rnd.nextInt(2000) + 1).toString).toDF("k")
    val est = Sketches.countMinEstimates(rows, "k", width = 64)
    assert(est.filter(col("cm_estimate") < col("exact_count")).count() === 0)
    // with 5000 rows over 64 buckets the estimate is still bounded:
    // CM error ≤ N/width per row, min over 4 rows keeps it far tighter
    val worst = est.select(max(col("cm_estimate") - col("exact_count"))).as[Long].head()
    assert(worst < 5000 / 64 * 4, s"worst overestimate $worst out of bounds")
  }

  test("collision-free domain reproduces exact counts") {
    val rows = Seq("a", "a", "a", "b", "b", "c").toDF("k")
    val est = Sketches.countMinEstimates(rows, "k", width = 1024)
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    // 3 keys in 1024 buckets × 4 independent rows: P[min-row collision] ≈ 0
    assert(est("a") === ((3L, 3L)))
    assert(est("b") === ((2L, 2L)))
    assert(est("c") === ((1L, 1L)))
  }

  test("a width below 1 is rejected at call time, before any job runs") {
    val rows = Seq("a", "b").toDF("k")
    for (w <- Seq(0, -1)) {
      assertThrows[IllegalArgumentException](Sketches.countMin(rows, "k", width = w))
      assertThrows[IllegalArgumentException](Sketches.countMinEstimates(rows, "k", width = w))
    }
  }

  test("sketch size is depth × ≤width regardless of input size") {
    val rows = (1 to 3000).map(i => s"key$i").toDF("k")
    val cells = Sketches.countMin(rows, "k", width = 32)
    assert(cells.count() <= Sketches.Depth * 32)
    // every input row landed in each of the 4 counter rows
    val perRow = cells.groupBy("i").agg(sum("cnt").as("s"))
      .select("s").as[Long].collect()
    assert(perRow.length === Sketches.Depth && perRow.forall(_ === 3000L))
  }
}
