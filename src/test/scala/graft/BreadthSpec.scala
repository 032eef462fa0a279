package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.analytics.Breadth
import graft.io.Tables

class BreadthSpec extends AnyFunSuite {
  import TestSpark.{spark, sfDir}
  import spark.implicits._

  test("pricing summary: few groups, counts cover filtered input") {
    val li = Tables.lineitem(spark, sfDir)
    val got = Breadth.pricingSummary(li).cache()
    assert(got.count() > 0 && got.count() <= 10)
    val totalCount = got.agg(org.apache.spark.sql.functions.sum("count_order"))
      .as[Long].head()
    val expected = li.filter($"l_shipdate" <= "1998-09-02").count()
    assert(totalCount === expected)
    got.unpersist()
  }

  test("region revenue: one row per region, uses broadcast joins") {
    val got = Breadth.regionRevenue(Tables.orders(spark, sfDir),
      Tables.customer(spark, sfDir), Tables.nation(spark, sfDir), Tables.region(spark, sfDir))
    assert(got.count() === 5)
    val plan = got.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), s"expected broadcast joins in:\n$plan")
  }

  test("topCustomers rejects k < 1 up front") {
    val (ord, cust) = (Tables.orders(spark, sfDir), Tables.customer(spark, sfDir))
    for (k <- Seq(0, -1))
      assertThrows[IllegalArgumentException](Breadth.topCustomers(ord, cust, k))
  }

  test("window top parts: at most 3 per supplier, rank starts at 1") {
    val got = Breadth.windowTopParts(Tables.lineitem(spark, sfDir)).cache()
    val maxPerSupp = got.groupBy("l_suppkey").count()
      .agg(org.apache.spark.sql.functions.max("count")).as[Long].head()
    assert(maxPerSupp <= 3)
    assert(got.filter($"rn" < 1 || $"rn" > 3).count() === 0)
    got.unpersist()
  }

  test("semi + anti join partition the customer set") {
    val cust = Tables.customer(spark, sfDir)
    val ord  = Tables.orders(spark, sfDir)
    val semiAll = cust.select("c_custkey", "c_name")
      .join(ord.select("o_custkey"), $"c_custkey" === $"o_custkey", "left_semi")
    val anti = Breadth.customersWithoutOrders(cust, ord)
    assert(semiAll.count() + anti.count() === cust.count())
  }

  test("rollup: grand-total row equals sum of year subtotals") {
    val got = Breadth.revenueRollup(Tables.orders(spark, sfDir)).cache()
    // revenue doubles are exact cent values — re-sum through decimal so the
    // subtotal/grand-total identity is exact, not float-order-dependent
    val decRev = $"revenue".cast(org.apache.spark.sql.types.DecimalType(18, 2))
    val grand = got.filter($"o_year".isNull && $"o_month".isNull)
      .select(decRev).as[java.math.BigDecimal].head()
    val years = got.filter($"o_year".isNotNull && $"o_month".isNull)
      .agg(org.apache.spark.sql.functions.sum(decRev))
      .as[java.math.BigDecimal].head()
    assert(grand.compareTo(years) === 0)
    got.unpersist()
  }

  test("event sessions: session count within [1, n_events]") {
    val got = Breadth.eventSessions(Tables.events(spark, sfDir))
    assert(got.filter($"n_sessions" < 1 || $"n_sessions" > $"n_events").count() === 0)
    assert(got.count() > 0)
  }

  test("session_window agrees with the lag-based sessionizer on counts") {
    val batch = Tables.events(spark, sfDir)
    // batch-mode session_window: Spark's built-in 30-minute-gap sessionizer
    val viaWindow = batch
      .groupBy(org.apache.spark.sql.functions.session_window($"ts", "30 minutes"),
        $"user_id")
      .count()
      .groupBy("user_id")
      .agg(org.apache.spark.sql.functions.count(
        org.apache.spark.sql.functions.lit(1)).as("n_sessions"))
      .as[(Long, Long)].collect().toMap
    val viaLag = graft.analytics.Breadth.eventSessions(batch)
      .select("user_id", "n_sessions").as[(Long, Long)].collect().toMap
    assert(viaWindow === viaLag)
  }

  test("running revenue: cumulative is monotonically non-decreasing") {
    val rows = Breadth.runningRevenue(Tables.orders(spark, sfDir))
      .orderBy("month_start")
      .select("cumulative_revenue").as[Double].collect()
    assert(rows.sliding(2).forall {
      case Array(a, b) => a <= b
      case _ => true
    })
  }
}
