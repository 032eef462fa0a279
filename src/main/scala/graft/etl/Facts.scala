package graft.etl

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.functions.MoneyFunctions.cents_sum

/** Fact-table builders — Spark-native equivalents of the reference's two
  * fact ETLs, re-expressed over the driver fixtures (FIXTURES.md §C):
  *
  *  - fact_daily_inventory (`filmETLs.ipynb#cell9`, `rentalFilmDAG.py:75-84`)
  *    = rentals ⋈ inventory then group-count by (day, film, store);
  *    here: lineitem ⋈ orders then group-count by (day, part, supplier).
  *  - fact_monthly_payment (`filmETLs.ipynb#cell10`, `rentalFilmDAG.py:87-97`)
  *    = payments group-sum by (staff, rental, YYYYMM01);
  *    here: orders group-sum by (customer, order, YYYYMM01).
  *
  * Scale notes: the join shuffles both sides on the join key unless one is
  * broadcastable — at fixture scale `orders` projected to two columns is
  * tiny and AQE/broadcast handles it; at 100 TB both sides are large, so
  * the shuffle-on-`l_orderkey` sort-merge plan is the right one and the
  * group-by keys are high-cardinality enough to spread evenly. Aggregations
  * are hash aggs with map-side partial combine (no driver state): one
  * partial + one final `HashAggregate` per fact. The reference's post-agg
  * `clean_dataframe` keeps only its null-drop here: its dedup half can
  * remove nothing from rows already unique on the group keys (Spark's
  * optimizer drops that aggregate too, `RemoveRedundantAggregates`, so
  * the plans are unchanged; the code no longer relies on the rule).
  */
object Facts {

  /** J1 + P3 + A1 (+ post-agg clean, as the reference orders it:
    * `filmETLs.ipynb#cell9:15` cleans *after* grouping — SURVEY.md §7.4.4;
    * on grouped output that clean is the null-drop alone).
    *
    * Output grain: (date_id, l_partkey, l_suppkey) with a row-count
    * measure, mirroring fact_daily_inventory's (date, film, store) grain.
    */
  def factDailyInventory(lineitem: DataFrame, orders: DataFrame): DataFrame = {
    val li  = lineitem.select("l_orderkey", "l_partkey", "l_suppkey")
    val ord = orders.select("o_orderkey", "o_orderdate")
    val joined = li.join(ord, li("l_orderkey") === ord("o_orderkey"), "inner")
    val fact = joined
      .withColumn("date_id", Dims.dateKey(col("o_orderdate")))    // P3
      .groupBy("date_id", "l_partkey", "l_suppkey")
      .agg(count(lit(1)).as("inventory_count"))                   // A1
    // no dropDuplicates: groupBy output is already unique on its keys
    fact.na.drop("any")
  }

  /** P5 + P6 + A2 (+ post-agg clean, `filmETLs.ipynb#cell10:13`: the
    * null-drop only, as in [[factDailyInventory]]).
    *
    * `date_id = year*10000 + month*100 + 1` is the reference's deliberate
    * first-of-month encoding (`filmETLs.ipynb#cell10:6`) — preserved, not
    * "fixed" (SURVEY.md §7.4.7). The measure is summed exactly at
    * DECIMAL(18,2), as integer cents per row and one decimal per group
    * (`cents_sum`), so the result is independent of partial-aggregation
    * order — double-precision sums would drift between run topologies
    * (and vs the DuckDB oracle). The exact sum is then emitted as DOUBLE (one
    * correctly-rounded conversion, bit-identical across engines) so the
    * driver's pandas-level hash sees float64 on both sides.
    */
  def factMonthlyPayment(orders: DataFrame): DataFrame = {
    val fact = orders
      .select("o_custkey", "o_orderkey", "o_orderdate", "o_totalprice")
      .withColumn("date_id",
        (year(col("o_orderdate")) * 10000 + month(col("o_orderdate")) * 100 + 1)
          .cast("int"))                                           // P5 + P6
      .groupBy("o_custkey", "o_orderkey", "date_id")
      .agg(cents_sum(col("o_totalprice"))
        .cast("double").as("monthly_payment_total"))              // A2
    // no dropDuplicates: groupBy output is already unique on its keys
    fact.na.drop("any")
  }
}
