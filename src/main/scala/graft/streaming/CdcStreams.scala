package graft.streaming

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.streaming.StreamingQuery

import graft.io.Tables
import graft.operators.Merge

/** Streaming CDC apply — the streaming twin of [[Merge.scd1Merge]]: a
  * change stream folds into a versioned copy-on-write table, one new
  * snapshot version per micro-batch (exactly the lakehouse MERGE loop:
  * Delta/Hudi write a new table version per applied batch too).
  *
  * Idempotence: version directories are named by `batchId`, so a replayed
  * micro-batch after a restart overwrites ITS OWN version instead of
  * double-applying — the standard idempotent-sink contract that makes
  * foreachBatch exactly-once from an at-least-once engine. Reads resolve
  * the highest version; a crash mid-write leaves a partial higher version
  * whose rewrite is the first thing recovery does.
  *
  * In-batch ordering: `seqCol` resolves several changes to one key within
  * a micro-batch (latest-wins, delete beats update on ties — see
  * [[Merge.scd1Merge]]); ACROSS batches, batch order is the sequence, as
  * in any log-structured CDC consumer.
  *
  * Scale: each version write is the anti-join + union plan of the batch
  * MERGE — target scanned once, never shuffled when the batch key set
  * broadcasts. Version retention/compaction is the caller's policy
  * (drop `v*` dirs below a watermark), as with any table format.
  */
object CdcStreams {

  private val VersionPrefix = "v"

  /** Highest committed version directory under `tableDir`. Only strictly
    * `v<digits>` entries count — stray files (markers, backups, editor
    * droppings) must neither crash the parse nor masquerade as versions.
    */
  def latestVersion(tableDir: String): String = {
    val dirs = Option(new java.io.File(tableDir).listFiles()).getOrElse(Array.empty)
    val versions = dirs.map(_.getName)
      .filter(_.matches(s"$VersionPrefix\\d+"))
      .map(_.stripPrefix(VersionPrefix).toLong)
    require(versions.nonEmpty, s"no snapshot versions under $tableDir")
    s"$tableDir/$VersionPrefix${versions.max}"
  }

  /** Current snapshot (highest version) as a DataFrame. */
  def snapshot(spark: org.apache.spark.sql.SparkSession, tableDir: String): DataFrame =
    Tables.parquet(spark, latestVersion(tableDir))

  /** All committed version numbers under `tableDir`, ascending — the
    * table's history listing (Delta's DESCRIBE HISTORY shape).
    */
  def versions(tableDir: String): Seq[Long] = {
    val dirs = Option(new java.io.File(tableDir).listFiles()).getOrElse(Array.empty)
    dirs.map(_.getName)
      .filter(_.matches(s"$VersionPrefix\\d+"))
      .map(_.stripPrefix(VersionPrefix).toLong)
      .sorted.toSeq
  }

  /** TIME TRAVEL: the table as of snapshot `version` — the lakehouse
    * `VERSION AS OF` read. Copy-on-write versioning makes this a plain
    * parquet scan of the requested version directory: no log replay, no
    * reconstruction, full predicate/column pushdown like any other scan.
    * Fails fast (with the available history) on a missing version rather
    * than silently reading a neighbor.
    */
  def snapshotAsOf(spark: org.apache.spark.sql.SparkSession, tableDir: String,
                   version: Long): DataFrame = {
    val have = versions(tableDir)
    require(have.contains(version),
      s"version $version not present under $tableDir (have: ${have.mkString(", ")})")
    Tables.parquet(spark, s"$tableDir/$VersionPrefix$version")
  }

  /** Row-level audit between two committed versions: inserts, deletes,
    * and updates keyed on `key`, via [[Merge.snapshotDiff]] — "what did
    * batch range (fromV, toV] change", the debugging read behind any
    * CDC pipeline. Cost is one full-outer join of the two version scans.
    */
  def versionDiff(spark: org.apache.spark.sql.SparkSession, tableDir: String,
                  fromV: Long, toV: Long, key: String): DataFrame =
    Merge.snapshotDiff(
      snapshotAsOf(spark, tableDir, fromV),
      snapshotAsOf(spark, tableDir, toV), key)

  /** Streaming CDC maintenance of an IVF ANN index — the arrival-time
    * twin of `q_ivm_ann` ([[graft.similarity.Ann.ivfMaintainPostings]]
    * folded per micro-batch, exactly like [[cdcApply]] folds
    * [[Merge.scd1Merge]]): a change stream of (vec_id, v, is_delete)
    * rows maintains versioned posting-list snapshots under FROZEN
    * centroids (the FAISS incremental-ingest protocol — the coarse
    * quantizer never moves between scheduled rebuilds).
    *
    * Per-batch work is ∝ |batch| (the plan AnnSpec pins: broadcast
    * anti-join delete leg, delta-only assignment insert leg — the
    * corpus-sized posting relation is streamed, never reshuffled), and
    * the same versioned-directory idempotence as [[cdcApply]] makes a
    * replayed batch overwrite its own version. `centroids` (cent_id,
    * cv) is collected ONCE here — bounded k×dim model state, the
    * [[graft.similarity.Ann]] driver-state discipline — and re-localized
    * per batch, so batch plans never reference the caller's analysis-
    * time plan. The maintained relation after any batch EQUALS a fresh
    * assignment of the merged corpus (spec-pinned batch twin), so reads
    * via [[snapshot]] can feed `Ann.searchPostings` directly.
    */
  def ivfCdcApply(changeStream: DataFrame, initialPostings: DataFrame,
                  centroids: DataFrame, tableDir: String,
                  checkpointDir: String): StreamingQuery = {
    val centRows = centroids.collect() // frozen quantizer, k×dim bounded
    val centSchema = centroids.schema
    versionedFold(changeStream, initialPostings, tableDir, checkpointDir) {
      (current, batch) =>
        val cents = batch.sparkSession.createDataFrame(
          java.util.Arrays.asList(centRows: _*), centSchema)
        graft.similarity.Ann.ivfMaintainPostings(current, batch, cents)
    }
  }

  /** The shared versioned-fold skeleton behind [[cdcApply]] and
    * [[ivfCdcApply]]: seed v0, then fold each micro-batch through
    * `merge(current-version, batch)` into the NEXT version directory.
    * Batch k reads vk and writes v(k+1) — NOT latestVersion: a replayed
    * batch must source the version before itself, never its own
    * (possibly partial) output. That version-by-batchId naming is the
    * whole idempotence contract; keeping it in ONE place means the next
    * fix to the replay/versioning discipline lands in every CDC fold.
    */
  private def versionedFold(changeStream: DataFrame, initial: DataFrame,
                            tableDir: String, checkpointDir: String)
                           (merge: (DataFrame, DataFrame) => DataFrame)
      : StreamingQuery = {
    Files.createDirectories(Paths.get(tableDir))
    initial.write.mode("overwrite").parquet(s"$tableDir/${VersionPrefix}0")
    changeStream.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val current = batch.sparkSession.read
          .parquet(s"$tableDir/$VersionPrefix$batchId")
        merge(current, batch)
          .write.mode("overwrite")
          .parquet(s"$tableDir/$VersionPrefix${batchId + 1}")
      }
      .start()
  }

  /** Start folding `changeStream` into a versioned snapshot table seeded
    * with `initial` at version 0. Returns the running query; callers stop
    * it and read [[snapshot]].
    */
  def cdcApply(changeStream: DataFrame, initial: DataFrame, tableDir: String,
               checkpointDir: String, key: String,
               deleteCol: String = "is_delete",
               seqCol: Option[String] = None): StreamingQuery =
    versionedFold(changeStream, initial, tableDir, checkpointDir) {
      (current, batch) => Merge.scd1Merge(current, batch, key, deleteCol, seqCol)
    }
}
