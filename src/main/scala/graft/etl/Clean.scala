package graft.etl

import org.apache.spark.sql.DataFrame

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
