package graft

import org.scalacheck.{Gen, Prop, Test => SCTest}
import org.scalatest.funsuite.AnyFunSuite

import graft.etl.Clean

/** Port of the reference's own dirty-data test (`filmETLs.ipynb#cell3`):
  * 4-row rental fixture, one null row + one exact duplicate → 2 survivors.
  */
class CleanSpec extends AnyFunSuite {
  import TestSpark.spark
  import spark.implicits._

  private def ts(s: String) = java.sql.Timestamp.valueOf(s)

  private def dirty = Seq(
    (16000, Option.empty[java.sql.Timestamp], 1525, 130, ts("2025-05-25 10:00:00")),
    (16001, Some(ts("2025-05-23 12:00:00")), 99999, 130, ts("2025-05-24 13:00:00")),
    (16002, Some(ts("2025-05-22 11:00:00")), 1525, 130, ts("2025-05-25 10:00:00")),
    (16002, Some(ts("2025-05-22 11:00:00")), 1525, 130, ts("2025-05-25 10:00:00"))
  ).toDF("rental_id", "rental_date", "inventory_id", "customer_id", "return_date")

  test("reference fixture: null row and exact duplicate removed, 2 survive") {
    val (cleaned, removed) = Clean.cleanCounted(dirty)
    assert(removed === 2)
    val ids = cleaned.select("rental_id").as[Int].collect().sorted
    assert(ids.toSeq === Seq(16001, 16002))
  }

  test("clean is idempotent") {
    val once  = Clean.clean(dirty)
    val twice = Clean.clean(once)
    assert(once.count() === twice.count())
    assert(once.exceptAll(twice).isEmpty && twice.exceptAll(once).isEmpty)
  }

  test("clean drops any-null rows and exact duplicates (property)") {
    val genRows = Gen.nonEmptyListOf(
      Gen.zip(Gen.option(Gen.choose(0, 5)), Gen.option(Gen.oneOf("x", "y", "z"))))
    val prop = Prop.forAll(genRows) { rows =>
      val cleaned = Clean.clean(rows.toDF("a", "b"))
      val expected = rows.filter { case (a, b) => a.isDefined && b.isDefined }.distinct
      cleaned.count() == expected.size
    }
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(20), prop)
    assert(res.passed, res.status.toString)
  }
}
