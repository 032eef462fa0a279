package graft.etl

import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._

import graft.io.Tables

/** Full warehouse build — the engine's equivalent of the reference's
  * Airflow DAG `etl_dimensional_model` (`rentalFilmDAG.py:99-164`, SURVEY.md
  * §2 D1): five dimensions then two facts, dims strictly before facts.
  *
  * Airflow task edges become plain statement order: Spark actions are
  * synchronous, so `{dims} >> facts` is just sequential writes (dims could
  * run concurrently from separate threads; at cluster scale the scheduler
  * interleaves their jobs anyway). Facts are written partitioned by year —
  * the 100 TB layout where downstream date-filtered reads prune whole
  * partitions (the reference's daily re-append, `#cell4:5`, is replaced by
  * idempotent overwrite per SURVEY.md §7.4.6).
  */
object Warehouse {

  case class BuildReport(table: String, rows: Long)

  /** Build the star schema from `inDir` fixtures into `outDir` parquet.
    * Returns per-table loaded row counts, observed while each table is
    * written (an `Observation` on the write itself, no re-read of the
    * output); `orders` is read once and feeds `dim_order` and both facts.
    * (The C3 cleaning audit is a per-frame concern — use
    * `Clean.cleanCounted`/`cleanObserved` around individual builders when
    * the removed-count is needed.)
    */
  def buildAll(spark: SparkSession, inDir: String, outDir: String): Seq[BuildReport] = {
    def write(name: String, df: DataFrame, partitionBy: Seq[String] = Nil): BuildReport = {
      // unique per call, so concurrent builds in one session never read
      // each other's counts
      val obs = new Observation(s"$name-${java.util.UUID.randomUUID()}")
      Tables.write(df.observe(obs, count(lit(1)).as("rows")), s"$outDir/$name", partitionBy)
      BuildReport(name, obs.get("rows").asInstanceOf[Long])
    }
    val orders = Tables.orders(spark, inDir)

    // --- dimensions (reference cells 4-8) ---
    val dims = Seq(
      write("dim_customer", Dims.dimCustomer(Tables.customer(spark, inDir))),
      write("dim_supplier", Dims.dimSupplier(Tables.supplier(spark, inDir))),
      write("dim_part",     Dims.dimPart(Tables.part(spark, inDir))),
      write("dim_order",    Dims.dimOrder(orders)),
      write("dim_date",     Dims.dimDate(spark)))

    // --- facts (reference cells 9-10), after dims, partitioned by year ---
    val daily = Facts.factDailyInventory(Tables.lineitem(spark, inDir), orders)
      .withColumn("year", (col("date_id") / 10000).cast("int"))
    val monthly = Facts.factMonthlyPayment(orders)
      .withColumn("year", (col("date_id") / 10000).cast("int"))
    val facts = Seq(
      write("fact_daily_inventory", daily, Seq("year")),
      write("fact_monthly_payment", monthly, Seq("year")))

    dims ++ facts
  }

  /** CDC-style upsert: apply `updates` onto `base` by `key` — updated
    * keys replace their base rows, new keys append, untouched rows pass
    * through. Anti-join + union is the metastore-free MERGE: both sides
    * shuffle once on the key, nothing is collected.
    *
    * PRECONDITION: `updates` must be key-unique — a CDC batch carrying
    * several versions of one key keeps them all (pre-collapse with
    * [[graft.operators.AsOfJoin.latestPerKeyTs]] or a groupBy first).
    * Pair with [[overwritePartitions]] to land the merge incrementally.
    */
  def upsertByKey(base: DataFrame, updates: DataFrame, key: String): DataFrame =
    base.join(updates.select(key), Seq(key), "left_anti").unionByName(updates)

  /** Bucketed star layout: orders and customer hash-bucketed (and
    * sorted) on the join key via `saveAsTable` into the session catalog —
    * no Hive metastore needed, Spark's built-in catalog tracks bucketing
    * metadata for parquet tables. A downstream equi-join on the bucket
    * key then reads co-located buckets and skips BOTH shuffles (and with
    * sortBy, both sorts): at 100 TB that converts the biggest recurring
    * join from a full-network shuffle into a local merge per bucket.
    * Bucket count is a layout decision — size it so one bucket of the
    * big side fits an executor's memory (e.g. 4096 buckets for a 10 TB
    * fact ≈ 2.5 GB each); it must match on both tables to co-locate.
    */
  def buildBucketed(spark: SparkSession, inDir: String, buckets: Int = 8): Unit = {
    Tables.orders(spark, inDir).write.mode("overwrite")
      .bucketBy(buckets, "o_custkey").sortBy("o_custkey")
      .format("parquet").saveAsTable("orders_bucketed")
    Tables.customer(spark, inDir).write.mode("overwrite")
      .bucketBy(buckets, "c_custkey").sortBy("c_custkey")
      .format("parquet").saveAsTable("customer_bucketed")
  }

  /** Shuffle-free join over the bucketed layout: spend per market segment.
    * With both sides bucketed on the key, the only exchange left in the
    * plan is the tiny post-join aggregation by segment.
    */
  def bucketedSpendPerSegment(spark: SparkSession): DataFrame =
    spark.table("orders_bucketed")
      .join(spark.table("customer_bucketed"),
        col("o_custkey") === col("c_custkey"))
      .groupBy("c_mktsegment")
      .agg(sum(col("o_totalprice").cast(org.apache.spark.sql.types.DecimalType(18, 2)))
        .cast("double").as("segment_spend"),
        count(lit(1)).as("n_orders"))

  /** Incremental maintenance: recompute and overwrite ONLY the partitions
    * present in `updated` (dynamic partition overwrite), leaving all other
    * partitions byte-identical. This is the idempotent replacement for the
    * reference's `if_exists='append'` daily re-run (`rentalFilmDAG.py:39`
    * etc.), which double-loads on retry — the exact failure Airflow's
    * retry policy (`rentalFilmDAG.py:103-104`) would trigger. At 100 TB a
    * daily run rewrites one year=.../day's partition, not the table.
    */
  def overwritePartitions(spark: SparkSession, updated: DataFrame,
                          path: String, partitionCol: String): Unit = {
    val prev = spark.conf.getOption("spark.sql.sources.partitionOverwriteMode")
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    try updated.write.mode("overwrite").partitionBy(partitionCol).parquet(path)
    finally prev match {
      case Some(v) => spark.conf.set("spark.sql.sources.partitionOverwriteMode", v)
      case None => spark.conf.unset("spark.sql.sources.partitionOverwriteMode")
    }
  }

  /** Small-file compaction — the maintenance pass every streaming or
    * micro-batch sink eventually needs (a 1-minute-trigger sink writes
    * ~1440 files/day/partition; scans then pay one task + one footer
    * read per file). Rewrites a dataset into ceil(rows/targetRecords)
    * near-equal files using round-robin repartition, plus
    * `maxRecordsPerFile` as the hard ceiling for writer-side splits.
    * Optionally sorts within files by `sortCols` to restore min/max
    * skipping that streaming appends destroyed (compose with
    * [[graft.operators.ZOrder.clusterByZ]] for two-dimensional layouts).
    */
  def compact(df: DataFrame, outPath: String, targetRecords: Long,
              sortCols: Seq[String] = Nil): Long = {
    require(targetRecords > 0, "targetRecords must be positive")
    val rows = df.count()
    val nFiles = math.max(1L, (rows + targetRecords - 1) / targetRecords).toInt
    val arranged =
      if (sortCols.isEmpty) df.repartition(nFiles)
      else df.repartitionByRange(nFiles, sortCols.map(org.apache.spark.sql.functions.col): _*)
        .sortWithinPartitions(sortCols.map(org.apache.spark.sql.functions.col): _*)
    arranged.write.mode("overwrite")
      .option("maxRecordsPerFile", targetRecords)
      .parquet(outPath)
    rows
  }
}
