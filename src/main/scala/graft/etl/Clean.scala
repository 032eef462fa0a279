package graft.etl

import org.apache.spark.sql.{DataFrame, Observation}
import org.apache.spark.sql.functions.{count, lit}

/** Data-cleaning combinator: the Spark-native equivalent of the reference's
  * `clean_dataframe` (`filmETLs.ipynb#cell2:1-25`, `rentalFilmDAG.py:27-33`):
  * drop rows with any null column (C1), then drop exact duplicate rows (C2),
  * and report how many rows were removed (C3).
  *
  * Semantics pinned by SURVEY.md §7.4:
  *  - null-drop applies to the *projected* columns only — callers project
  *    first, clean second, as the reference does;
  *  - pandas `drop_duplicates` keeps the first occurrence, Spark keeps an
  *    arbitrary one; for full-row dedup the survivor is value-identical, so
  *    results are set-equal (oracle comparisons are order-insensitive).
  *
  * Scale: `dropDuplicates()` over all columns is a hash aggregation on the
  * full row — one shuffle, map-side partial combine included. At 100 TB this
  * is the canonical exact-dedup plan; no driver-side state.
  */
object Clean {

  /** C1 + C2 as a pure DataFrame combinator (no counting, single pass). */
  def clean(df: DataFrame): DataFrame =
    df.na.drop("any").dropDuplicates()

  /** C1 + C2 + C3 without the extra counting job: the input row count is
    * attached as an `Observation` metric collected during whatever action
    * the caller runs anyway (SURVEY.md §7.3). After an action,
    * `removed = obs.get("rows_in") - <output rows>`. At 100 TB this halves
    * the audit's cost versus [[cleanCounted]]'s extra pass.
    */
  def cleanObserved(df: DataFrame, label: String = "clean_audit"): (DataFrame, Observation) = {
    val obs = new Observation(label)
    val observed = df.observe(obs, count(lit(1)).as("rows_in"))
    (clean(observed), obs)
  }

  /** C1 + C2 + C3: cleaned frame plus removed-row count. Runs two Spark
    * jobs (count before / count after) like the reference's
    * `original_shape[0] - cleaned_shape[0]` (`filmETLs.ipynb#cell2:12-23`).
    * Use only where the audit number is actually needed.
    */
  def cleanCounted(df: DataFrame): (DataFrame, Long) = {
    val before  = df.count()
    val cleaned = clean(df)
    val after   = cleaned.count()
    (cleaned, before - after)
  }
}
