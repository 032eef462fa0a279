package graft.etl

import java.time.LocalDate
import java.time.format.DateTimeParseException

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Dimension-table builders — Spark-native equivalents of the reference's
  * dim ETLs (`filmETLs.ipynb#cell4-8`, `rentalFilmDAG.py:35-72`): project a
  * column subset of a source table, clean it, load it. Re-expressed over the
  * driver fixtures per FIXTURES.md §C (customer/supplier/part/orders play
  * the staff/film/store/rental roles).
  *
  * Each builder is a pure `DataFrame => DataFrame`: projection happens
  * before cleaning (so null-drop sees only the consumed columns, SURVEY.md
  * §7.4.1) and Catalyst pushes the projection into the parquet scan.
  */
object Dims {

  /** dim_staff analogue (`filmETLs.ipynb#cell4:2-5`): key + name + FK. */
  def dimCustomer(customer: DataFrame): DataFrame =
    Clean.clean(customer.select("c_custkey", "c_name", "c_nationkey"))

  /** dim_store analogue (`filmETLs.ipynb#cell6:2-5`). */
  def dimSupplier(supplier: DataFrame): DataFrame =
    Clean.clean(supplier.select("s_suppkey", "s_name", "s_nationkey"))

  /** dim_film analogue (`filmETLs.ipynb#cell5:2-5`): key + descriptive cols. */
  def dimPart(part: DataFrame): DataFrame =
    Clean.clean(part.select("p_partkey", "p_name", "p_brand", "p_type"))

  /** dim_rental analogue (`filmETLs.ipynb#cell8:2-7`): event key + timestamp
    * + FKs.
    */
  def dimOrder(orders: DataFrame): DataFrame =
    Clean.clean(orders.select("o_orderkey", "o_orderdate", "o_custkey"))

  /** dim_date generator (SURVEY.md §2 S5; `filmETLs.ipynb#cell7:2-10`,
    * `rentalFilmDAG.py:56-65`): a continuous daily calendar with an integer
    * YYYYMMDD surrogate key. The reference hardcodes 2005–2006 for Sakila;
    * the fixture data spans 1995-01-01..2001-12-31, so that is our default
    * range.
    *
    * Generated declaratively with `sequence` + `explode` — a single-row
    * seed exploded on an executor, no driver-side loop, trivially
    * parallelizable (a calendar is tiny at any data scale).
    *
    * @throws IllegalArgumentException where a bound is not an ISO date
    *         (`yyyy-MM-dd`) or `end` is before `start`
    */
  def dimDate(spark: SparkSession,
              start: String = "1995-01-01",
              end: String   = "2001-12-31"): DataFrame = {
    def date(d: String) =
      try LocalDate.parse(d)
      catch {
        case e: DateTimeParseException => throw new IllegalArgumentException(s"not an ISO date: $d", e)
      }
    val (first, last) = (date(start), date(end))
    require(!last.isBefore(first), s"dim_date ends before it starts: $start..$end")
    spark.range(1)
      .select(explode(sequence(lit(first), lit(last), expr("interval 1 day")))
        .as("full_date"))
      .select(
        dateKey(col("full_date")).as("date_id"),
        col("full_date"),
        month(col("full_date")).as("month"),   // P5 (`#cell7:6-7`)
        year(col("full_date")).as("year"))
  }

  /** P3: the integer YYYYMMDD surrogate key of a date or timestamp, equal
    * to `strftime('%Y%m%d')` as an int (`filmETLs.ipynb#cell7:4`) for every
    * year 1..9999, computed with integer arithmetic instead of formatting
    * a string per row.
    */
  def dateKey(d: Column): Column =
    year(d) * 10000 + month(d) * 100 + dayofmonth(d)

  /** P4: the date of a [[dateKey]] (integer division, so years below 1000,
    * whose keys have fewer than 8 digits, map back too).
    */
  def keyDate(k: Column): Column = {
    def div(n: Int) = call_function("div", k, lit(n))
    make_date(div(10000), div(100) % 100, k % 100)
  }
}
