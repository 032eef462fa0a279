package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** As-of (point-in-time) join — an operator Spark's joins don't express
  * directly. For each left row, attach the single right row with the same
  * key whose timestamp is the greatest at-or-before the left timestamp
  * (backward; forward = smallest at-or-after).
  *
  * Implementation is preference (a) from the build rules: a composition of
  * built-in operators, not a custom physical node. Both sides are tagged
  * and unioned, shuffled once by key, and a partitioned window ordered by
  * (ts, side) carries the most recent right payload forward with
  * `last(_, ignoreNulls = true)`. This is the plan a native as-of
  * implementation would produce anyway — sort-merge by (key, time) — and
  * at 100 TB it costs exactly one shuffle of each side, never a
  * time-range cross product. Rows sort right-before-left on timestamp
  * ties, so exact matches are included.
  *
  * The right side must be unique per (key, ts) — ambiguity there makes
  * "the" as-of row undefined; callers pre-deduplicate (e.g. with
  * [[latestPerKeyTs]]) to pin determinism.
  */
object AsOfJoin {

  /** Deterministic per-(key, ts) dedup helper: keeps the row with the
    * greatest `tieBreak` value.
    */
  def latestPerKeyTs(df: DataFrame, key: String, ts: String, tieBreak: String): DataFrame = {
    require(!df.columns.contains("__rn"),
      "input already has a __rn column — rename it before calling latestPerKeyTs")
    val w = Window.partitionBy(key, ts).orderBy(desc(tieBreak))
    df.withColumn("__rn", row_number().over(w)).filter(col("__rn") === 1).drop("__rn")
  }

  /** Internal column names used by the union/window plumbing; inputs must
    * not use them (checked below) or the tagged union would produce
    * ambiguous columns and silently wrong matches.
    */
  private val ReservedCols = Set("__key", "__ts", "__side", "__payload", "__match")

  /** Backward as-of join (exact matches allowed).
    *
    * @param rightPayload right columns to attach (left keeps all columns);
    *                     names must not clash with left's.
    */
  def asOf(left: DataFrame, right: DataFrame,
           leftKey: String, rightKey: String,
           leftTs: String, rightTs: String,
           rightPayload: Seq[String]): DataFrame = {
    require(rightPayload.nonEmpty, "rightPayload must name at least one column")
    val clashes = rightPayload.toSet intersect left.columns.toSet
    require(clashes.isEmpty,
      s"rightPayload columns clash with left columns: ${clashes.mkString(", ")} — rename before joining")
    val reservedHits = (left.columns.toSet ++ rightPayload) intersect ReservedCols
    require(reservedHits.isEmpty,
      s"columns ${reservedHits.mkString(", ")} collide with asOf's reserved internal names " +
        s"(${ReservedCols.mkString(", ")}) — rename before joining")
    val leftCols = left.columns.toSeq
    val payload = struct(rightPayload.map(col): _*)

    // a null-ts/null-key right row would sort before every real row and be
    // carried as a bogus "earliest" match — as-of semantics exclude them
    val cleanRight = right.filter(col(rightTs).isNotNull && col(rightKey).isNotNull)
    val taggedRight = cleanRight.select(
      Seq(col(rightKey).as("__key"), col(rightTs).as("__ts"),
        lit(0).as("__side"), payload.as("__payload")) ++
        leftCols.map(c => lit(null).cast(left.schema(c).dataType).as(c)): _*)
    val taggedLeft = left.select(
      Seq(col(leftKey).as("__key"), col(leftTs).as("__ts"),
        lit(1).as("__side"), lit(null).cast(taggedRight.schema("__payload").dataType)
          .as("__payload")) ++ leftCols.map(col): _*)

    // rights (__side 0) sort before lefts at equal ts → inclusive match
    val w = Window.partitionBy("__key")
      .orderBy(col("__ts").asc, col("__side").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val carried = taggedRight.unionByName(taggedLeft)
      .withColumn("__match", last(col("__payload"), ignoreNulls = true).over(w))

    carried.filter(col("__side") === 1)
      .select(leftCols.map(col) ++
        rightPayload.map(c => col(s"__match.$c").as(c)): _*)
  }

  /** Point-in-time join of facts to an SCD2 dimension: each fact row
    * matches the dimension version whose validity interval
    * [effFrom, effTo) contains the fact's timestamp — the canonical
    * "customer status AS OF the order date" warehouse lookup.
    *
    * Shape: equi-join on the business key, interval containment as a
    * residual predicate. SCD2 versions per key are few (one per change),
    * so the residual evaluates on key-matched rows only — this is NOT a
    * range join needing binning; the key equi-join carries all the
    * selectivity and shuffles/broadcasts like any fact⋈dim join. Facts
    * before the first version (or after a deletion) drop, as inner join
    * semantics demand; use the SCD2 convention of an open 9999-12-31
    * current version so live keys always match.
    */
  def pointInTime(facts: DataFrame, dim: DataFrame,
                  factKey: String, dimKey: String, factTs: String,
                  effFrom: String = "eff_from", effTo: String = "eff_to"): DataFrame =
    facts.join(dim,
      facts(factKey) === dim(dimKey) &&
        facts(factTs) >= dim(effFrom) && facts(factTs) < dim(effTo))
}
