package graft.analytics

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.etl.{Dims, Facts}
import graft.functions.MoneyFunctions.cents_sum

/** The reference's three analytics reads (`filmETLs.ipynb#cell11-13`),
  * re-expressed over the fixture star schema (FIXTURES.md §C).
  *
  * In the reference these run as pushed-down MySQL SQL plus client-side
  * pandas (SURVEY.md §3.3); in Spark each is one declarative plan —
  * Catalyst pushes the filters/projections into the parquet scans, picks
  * broadcast-hash joins for small dims, and plans the top-K as
  * `TakeOrderedAndProject` (no full sort at any scale).
  */
object Queries {

  /** Q1 — monthly revenue trend (`filmETLs.ipynb#cell11:13-24`):
    * P4 (int key → date) + P7 (month truncation) + A4 (time-bucketed sum).
    * Computed from the monthly fact exactly as the reference does (it reads
    * fact_monthly_payment back and re-buckets client-side).
    */
  def q1MonthlyRevenue(orders: DataFrame): DataFrame = {
    val fact = Facts.factMonthlyPayment(orders)
    fact
      .withColumn("month_start", Dims.keyDate(col("date_id")))    // P4
      .groupBy("month_start")                                      // P7 grain
      // the fact's doubles are exact cent values (≤ 15 significant digits),
      // so cents_sum re-sums them exactly, as integer cents, in any order
      .agg(cents_sum(col("monthly_payment_total"))
        .cast("double").as("monthly_revenue"))                     // A4
  }

  /** Q2 — top-10 parts by activity (`filmETLs.ipynb#cell12:2-9`):
    * J2 (fact ⋈ dim) + A3 (group-sum over join) + O1 (top-K).
    * A deterministic secondary sort key (`p_name`) breaks ties so the
    * result *set* is stable across engines (the reference relies on MySQL's
    * arbitrary tie order).
    */
  def q2TopParts(lineitem: DataFrame, orders: DataFrame, part: DataFrame,
                 k: Int = 10): DataFrame = {
    require(k >= 1, "k must be at least 1")
    val fact = Facts.factDailyInventory(lineitem, orders)
    fact
      .join(part.select("p_partkey", "p_name"),
        fact("l_partkey") === part("p_partkey"), "inner")          // J2
      .groupBy("p_name")
      .agg(sum("inventory_count").as("total_inventory"))           // A3
      .orderBy(desc("total_inventory"), asc("p_name"))             // O1
      .limit(k)
  }

  /** Q3 — daily series for one entity (`filmETLs.ipynb#cell13:2-9`):
    * F1 (pushed-down filter) + P4 + A5 (group-sum per day). The filter on
    * the fact's supplier key reaches the scan via Catalyst predicate
    * pushdown — the 100 TB version reads only matching row groups (and only
    * matching partitions if the fact is written partitioned by key).
    */
  def q3DailySeries(lineitem: DataFrame, orders: DataFrame,
                    suppkey: Long = 1L): DataFrame = {
    val fact = Facts.factDailyInventory(lineitem, orders)
    fact
      .filter(col("l_suppkey") === suppkey)                        // F1
      .withColumn("date", Dims.keyDate(col("date_id")))            // P4
      .groupBy("date")
      .agg(sum("inventory_count").as("inventory_count"))           // A5
  }
}
