package graft.io

import java.time.{Instant, LocalDate}
import java.time.temporal.ChronoUnit

import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.parquet.column.statistics.Statistics
import org.apache.parquet.format.converter.ParquetMetadataConverter
import org.apache.parquet.hadoop.Footer
import org.apache.parquet.hadoop.metadata.{ColumnPath, ParquetMetadata}
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.parquet.schema.LogicalTypeAnnotation.{
  DateLogicalTypeAnnotation, IntLogicalTypeAnnotation, TimestampLogicalTypeAnnotation, TimeUnit}
import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName.{INT32, INT64}
import org.apache.parquet.schema.Type.Repetition.REPEATED
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.util.DateTimeUtils
import org.apache.spark.sql.execution.datasources.{FileStatusCache, HadoopFsRelation, InMemoryFileIndex}
import org.apache.spark.sql.execution.datasources.parquet.{
  ParquetFileFormat, ParquetFooterReader, ParquetToSparkSchemaConverter}
import org.apache.spark.sql.graftbridge.SchemaBridge
import org.apache.spark.sql.types.StructType

/** Parquet table catalog over the driver fixtures (`TESTDATA.md`).
  *
  * The reference reads projected column subsets of MySQL tables via
  * SQLAlchemy (`filmETLs.ipynb#cell4:3`, `rentalFilmDAG.py:37`); our engine
  * reads the equivalent relations from parquet. Parquet is self-describing,
  * so schemas come from the file footers — [[expectedColumns]] documents the
  * contract and lets callers assert it.
  *
  * Every read is [[read]] of a [[listing]]: the data files under a path,
  * listed once on the driver. Spark then lists nothing: the relation is
  * built over a file index that holds exactly the listed files and infers
  * `k=v` partition columns from their directories, as Spark's own does.
  * Nor does a read start a Spark job for the schema: it is the footer
  * schema of the table's first data file by path, read on the driver.
  * That is Spark's own `mergeSchema=false` rule (all files assumed
  * consistent), which a plain `spark.read.parquet` runs as a one-task job
  * shipping the whole Hadoop configuration to read that one footer. Where
  * the rule does not apply — a parquet summary file (which Spark prefers),
  * an unreadable footer, or `spark.sql.parquet.mergeSchema` on — Spark
  * infers the schema from the listed files its own way, so it raises its
  * own errors and does its own merging. A listing with no data file (a
  * missing path, an empty directory) reads through `spark.read.parquet`,
  * which raises Spark's own error.
  *
  * A reader that needs one consistent set of files — a warehouse build
  * whose inputs receive new files while it runs — lists them once and
  * reads exactly those, or any subset of them, with the table's schema.
  *
  * Footers also give a file's rows ([[rowCount]]) and the least and
  * greatest value of an integer, date or timestamp column ([[range]]), so
  * a planner can tell from metadata alone which files can hold a key and
  * which days and years a file's dates fall on. The calls that take a Hadoop
  * configuration let a caller that touches many files copy the session's
  * once.
  *
  * Scale note (100 TB posture): `spark.read.parquet` on a directory of
  * files partitions by `spark.sql.files.maxPartitionBytes` (128 MB default),
  * so the same call distributes across a real cluster unchanged. Column
  * pruning + predicate pushdown reach the scan automatically when callers
  * stay declarative (`select`/`filter` before any wide op).
  */
object Tables {

  val all: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** Columns each fixture table is expected to expose (FIXTURES.md §B). */
  val expectedColumns: Map[String, Seq[String]] = Map(
    "region"     -> Seq("r_regionkey", "r_name"),
    "nation"     -> Seq("n_nationkey", "n_name", "n_regionkey"),
    "customer"   -> Seq("c_custkey", "c_name", "c_nationkey", "c_acctbal", "c_mktsegment"),
    "supplier"   -> Seq("s_suppkey", "s_name", "s_nationkey", "s_acctbal"),
    "part"       -> Seq("p_partkey", "p_name", "p_brand", "p_type", "p_size", "p_retailprice"),
    "orders"     -> Seq("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice", "o_orderdate", "o_orderpriority"),
    "lineitem"   -> Seq("l_orderkey", "l_partkey", "l_suppkey", "l_linenumber", "l_quantity",
                        "l_extendedprice", "l_discount", "l_tax", "l_returnflag", "l_linestatus", "l_shipdate"),
    "events"     -> Seq("event_id", "ts", "user_id", "event_type", "value", "props"),
    "documents"  -> Seq("doc_id", "text", "lang", "source", "n_chars"),
    "embeddings" -> Seq("vec_id", "embedding", "label"))

  /** Scan one fixture table. Equivalent of the reference's projected
    * `pd.read_sql` (SURVEY.md §2 S1) — callers `.select(...)` immediately so
    * Catalyst prunes the parquet scan to just the needed columns.
    */
  def table(spark: SparkSession, dir: String, name: String): DataFrame =
    parquet(spark, s"$dir/$name.parquet")

  /** Every data file under `path` now, read as [[read]] reads a listing. */
  def parquet(spark: SparkSession, path: String): DataFrame = read(spark, listing(spark, path))

  /** One data file of a table at one moment: what [[listing]] finds,
    * [[read]] reads and a warehouse build manifest records.
    */
  final case class DataFile(path: String, length: Long, mtime: Long)

  /** The data files under `root` (qualified), sorted by path, and the
    * parquet summary files beside them.
    */
  final case class Listing(root: String, files: Seq[DataFile], summaries: Seq[DataFile])

  /** Every data file under `path` now: the names Spark's file listing keeps,
    * recursively, with parquet summary files apart; no file where the path
    * is missing. Driver-side, no Spark job.
    */
  def listing(spark: SparkSession, path: String): Listing =
    listing(spark.sessionState.newHadoopConf(), path)

  def listing(conf: Configuration, path: String): Listing = {
    val root = new Path(path)
    val fs = root.getFileSystem(conf)
    def walk(st: FileStatus): Seq[FileStatus] =
      if (!st.isDirectory) Seq(st)
      else fs.listStatus(st.getPath).toSeq.filter(c => listed(c.getPath.getName)).flatMap(walk)
    val (summaries, files) = (if (!fs.exists(root)) Nil else walk(fs.getFileStatus(root)))
      .partition(f => summary(f.getPath.getName))
    def sorted(fs: Seq[FileStatus]) =
      fs.map(f => DataFile(f.getPath.toString, f.getLen, f.getModificationTime)).sortBy(_.path)
    Listing(fs.makeQualified(root).toString, sorted(files), sorted(summaries))
  }

  /** Read exactly `files` of `table` (all of them in the overloads), whatever
    * lands under its root meanwhile, with the table's schema: the footer
    * schema of its first file, or Spark's inference from `files` and the
    * table's summary files where that rule does not apply. Partition
    * columns are inferred from the files' directories under the root. An
    * empty listing reads through `spark.read.parquet`, which raises Spark's
    * own error for a missing or empty table.
    */
  def read(spark: SparkSession, table: Listing, files: Seq[DataFile],
           conf: Configuration): DataFrame = {
    require(files.nonEmpty || table.files.isEmpty, s"no file of ${table.root} to read")
    val sqlConf = spark.sessionState.conf
    // Spark's `mergeSchema=false` rule, on the driver
    val footer = table.files.headOption
      .filter(_ => table.summaries.isEmpty && !sqlConf.isParquetSchemaMergingEnabled)
      .flatMap(f => try Some(footerSchema(spark, conf, status(f))) catch { case NonFatal(_) => None })
    lazy val index = new ListedIndex(spark, qualified(table.root), files, footer)
    // as `DataSource.resolveRelation` takes them: partition columns leave a
    // given schema for the directories', and stay in place in an inferred one
    def given(s: StructType) = StructType(s.filterNot(f =>
      index.partitionSchema.exists(p => sqlConf.resolver(p.name, f.name))))
    def inferred = new ParquetFileFormat().inferSchema(spark, Map.empty, (table.summaries ++ files).map(status))
    (if (files.isEmpty) None else footer.map(given).orElse(inferred)) match {
      case Some(data) => spark.baseRelationToDataFrame(HadoopFsRelation(
        index, index.partitionSchema, SchemaBridge.nullable(data), None, new ParquetFileFormat(), Map.empty)(spark))
      case None => spark.read.parquet(table.root)
    }
  }

  /** Spark's file index over `root` whose one listing is `files`: Spark
    * lists nothing and infers partition columns from the files'
    * directories. It equals another only over the same files, so a plan
    * (a cached frame, a reused exchange) over one set of a table's files
    * never stands for a plan over another.
    */
  private final class ListedIndex(spark: SparkSession, root: Path, val files: Seq[DataFile],
                                  schema: Option[StructType])
    extends InMemoryFileIndex(spark, Seq(root), Map.empty, schema, new FileStatusCache {
      private val leaves = files.map(status).toArray
      override def getLeafFiles(path: Path): Option[Array[FileStatus]] = Some(leaves)
      override def putLeafFiles(path: Path, leafFiles: Array[FileStatus]): Unit = ()
      override def invalidateAll(): Unit = ()
    }) {
    override def equals(o: Any): Boolean = o match {
      case l: ListedIndex => super.equals(l) && l.files == files
      case _ => false
    }
    override def hashCode: Int = (super.hashCode, files).hashCode
  }

  def read(spark: SparkSession, table: Listing, files: Seq[DataFile]): DataFrame =
    read(spark, table, files, spark.sessionState.newHadoopConf())

  def read(spark: SparkSession, table: Listing): DataFrame = read(spark, table, table.files)

  /** Rows of a parquet file, summed from its footer's row groups on the
    * driver.
    */
  def rowCount(conf: Configuration, file: DataFile): Long =
    footer(conf, file).getBlocks.asScala.map(_.getRowCount).sum

  /** The least and greatest value of one column in one file, as parquet
    * stores them: a signed integer, a DATE's days or a TIMESTAMP's ticks
    * since the epoch. `kind` names the stored type, and ranges of two kinds
    * never compare as disjoint. `days` spans the calendar days (since the
    * epoch) that Spark's `year()`, `month()` and `dayofmonth()` read the
    * values on, and `years` their years, for a date or a millisecond or
    * microsecond timestamp from 1900 on (Spark rebases older values of a
    * legacy-calendar file on read). Two values whose ticks differ can
    * share a day, so only `days` tells whether they can.
    */
  final case class Range(kind: String, min: Long, max: Long, days: Option[(Long, Long)]) {
    /** Whether a value can lie in both ranges. */
    def overlaps(o: Range): Boolean = kind != o.kind || (min <= o.max && o.min <= max)

    /** The range of the values of both, where they are of one kind. */
    def union(o: Range): Option[Range] = Option.when(kind == o.kind)(Range(kind,
      min min o.min, max max o.max, for ((a, b) <- days; (c, d) <- o.days) yield (a min c, b max d)))

    def years: Option[(Int, Int)] =
      days.map { case (a, b) => (LocalDate.ofEpochDay(a).getYear, LocalDate.ofEpochDay(b).getYear) }
  }

  /** The [[Range]] of top-level `column` in `file`, from the row-group
    * statistics of its footer, read on the driver. An all-null row group
    * adds nothing. None where a row group lacks statistics, where every
    * value is null or the file lacks the column, and unless the column is
    * a signed integer, a DATE or an INT64 TIMESTAMP (so never for an INT96
    * one). A TIMESTAMP's days are taken where Spark's `year()`,
    * `month()` and `dayofmonth()` take them: a UTC-adjusted one's (or any
    * one's, with `inferTimestampNTZ` off) in the session time zone, a
    * local one's as it is stored.
    */
  def range(spark: SparkSession, conf: Configuration, file: DataFile,
            column: String): Option[Range] = {
    val meta = footer(conf, file)
    val sqlConf = spark.sessionState.conf
    // the first and last local day of the instants lo..hi in `zone`: those
    // of lo and hi, unless the clock turns back across midnight between them
    def daysAt(zone: String)(lo: Long, hi: Long): (Long, Long) = {
      val z = DateTimeUtils.getZoneId(zone)
      def at(micros: Long) = Instant.EPOCH.plus(micros, ChronoUnit.MICROS)
      def day(t: Instant) = t.atZone(z).toLocalDate.toEpochDay
      def next(t: Instant) = z.getRules.nextTransition(t)
      val back = Iterator.iterate(next(at(lo)))(t => next(t.getInstant))
        .takeWhile(t => t != null && !t.getInstant.isAfter(at(hi))).filter(_.isOverlap)
        .flatMap(t => Seq(day(t.getInstant), day(t.getInstant.minusNanos(1)))).toSeq
      ((back :+ day(at(lo))).min, (back :+ day(at(hi))).max)
    }
    // (kind, the days of stored values lo..hi where they have them)
    type Days = (Long, Long) => (Long, Long)
    val typed: Option[(String, Option[Days])] = meta.getFileMetaData.getSchema.getFields
      .asScala.find(f => f.getName == column && f.isPrimitive && !f.isRepetition(REPEATED))
      .map(_.asPrimitiveType).flatMap[(String, Option[Days])](t =>
        (t.getPrimitiveTypeName, t.getLogicalTypeAnnotation) match {
          case (p @ (INT32 | INT64), null) => Some((p.toString, None))
          case (p @ (INT32 | INT64), i: IntLogicalTypeAnnotation) if i.isSigned => Some((p.toString, None))
          case (INT32, _: DateLogicalTypeAnnotation) => Some(("DATE", Some((lo, hi) => (lo, hi))))
          case (INT64, ts: TimestampLogicalTypeAnnotation) =>
            val zone = if (ts.isAdjustedToUTC || !sqlConf.parquetInferTimestampNTZEnabled)
              sqlConf.sessionLocalTimeZone else "UTC"
            Some((ts.toString, ts.getUnit match {
              case TimeUnit.MILLIS => Some((lo, hi) => daysAt(zone)(lo * 1000, hi * 1000))
              case TimeUnit.MICROS => Some(daysAt(zone))
              case TimeUnit.NANOS => None
            }))
          case _ => None
        })
    // per row group: Some(values' (min, max)), Some(None) where all are
    // null, None where unknown
    def groups = meta.getBlocks.asScala.toSeq.map { b =>
      b.getColumns.asScala.find(_.getPath == ColumnPath.get(column)).flatMap { c =>
        val s: Statistics[_] = c.getStatistics
        if (s == null) None
        else if (s.hasNonNullValue) Some(Some((
          s.genericGetMin.asInstanceOf[Number].longValue, s.genericGetMax.asInstanceOf[Number].longValue)))
        else Option.when(s.isNumNullsSet && s.getNumNulls == c.getValueCount)(None)
      }
    }
    for {
      (kind, days) <- typed
      gs = groups if gs.forall(_.isDefined) && gs.exists(_.get.isDefined)
    } yield {
      val values = gs.flatten.flatten
      val (lo, hi) = (values.map(_._1).min, values.map(_._2).max)
      Range(kind, lo, hi, days.map(_(lo, hi)).filter(_._1 >= Rebased))
    }
  }

  // 1900-01-01: Spark rebases earlier values of a legacy-calendar file on read
  private val Rebased = LocalDate.of(1900, 1, 1).toEpochDay

  private def footer(conf: Configuration, file: DataFile): ParquetMetadata =
    ParquetFooterReader.readFooter(
      HadoopInputFile.fromStatus(status(file), conf), ParquetMetadataConverter.NO_FILTER)

  private def status(f: DataFile) = new FileStatus(f.length, false, 0, 0, f.mtime, qualified(f.path))

  /** `path` as Spark qualifies a path it reads: a scheme without an
    * authority (`file:`) gets an empty one, so file names read back as
    * `spark.read.parquet` gives them (`file:///…`).
    */
  private def qualified(path: String): Path = {
    val uri = new Path(path).toUri
    new Path(uri.getScheme, Option(uri.getAuthority).getOrElse(""), uri.getPath)
  }

  /** The schema of one parquet file's footer, converted as Spark's
    * inference task converts it (`ParquetFileFormat.mergeSchemasInParallel`):
    * five settings from the session, the rest at their defaults.
    */
  private def footerSchema(spark: SparkSession, hadoopConf: Configuration,
                           f: FileStatus): StructType = {
    val sqlConf = spark.sessionState.conf
    val footer = ParquetFooterReader.readFooter(
      HadoopInputFile.fromStatus(f, hadoopConf), ParquetMetadataConverter.SKIP_ROW_GROUPS)
    val converter = new ParquetToSparkSchemaConverter(
      assumeBinaryIsString = sqlConf.isParquetBinaryAsString,
      assumeInt96IsTimestamp = sqlConf.isParquetINT96AsTimestamp,
      inferTimestampNTZ = sqlConf.parquetInferTimestampNTZEnabled,
      nanosAsLong = sqlConf.legacyParquetNanosAsLong,
      respectUnknownTypeAnnotation = sqlConf.parquetReaderRespectUnknownTypeAnnotation)
    ParquetFileFormat.readSchemaFromFooter(new Footer(f.getPath, footer), converter)
  }

  /** Names Spark's file listing keeps (`HadoopFSUtils.shouldFilterOutPathName`). */
  private def listed(name: String): Boolean =
    !((name.startsWith("_") && !name.contains("=")) || name.startsWith(".") ||
      name.endsWith("._COPYING_")) ||
      name.startsWith("_common_metadata") || name.startsWith("_metadata")

  private def summary(name: String): Boolean =
    name == "_metadata" || name == "_common_metadata"

  def region(spark: SparkSession, dir: String): DataFrame     = table(spark, dir, "region")
  def nation(spark: SparkSession, dir: String): DataFrame     = table(spark, dir, "nation")
  def customer(spark: SparkSession, dir: String): DataFrame   = table(spark, dir, "customer")
  def supplier(spark: SparkSession, dir: String): DataFrame   = table(spark, dir, "supplier")
  def part(spark: SparkSession, dir: String): DataFrame       = table(spark, dir, "part")
  def orders(spark: SparkSession, dir: String): DataFrame     = table(spark, dir, "orders")
  def lineitem(spark: SparkSession, dir: String): DataFrame   = table(spark, dir, "lineitem")
  /** `events.ts` is parquet TIMESTAMP(NANOS) which Spark's reader rejects
    * ([PARQUET_TYPE_ILLEGAL]); read it as raw nanos via the legacy flag and
    * floor-convert to a microsecond TimestampType column (matching how
    * DuckDB/most engines narrow ns → µs). Integer `div` — a double division
    * would lose precision above 2^53 ns.
    *
    * CONFIG CONTRACT: the session should be built with
    * `spark.sql.legacy.parquet.nanosAsLong=true` (Verify/test
    * builders all do). As a convenience for ad-hoc sessions this method
    * sets the flag if it is still unset — a deliberate, documented session
    * side effect: later reads of *other* nanos-timestamped parquet in the
    * same session then get LongType nanos instead of an error, and should
    * convert the same way this method does. A session that explicitly set
    * the flag to false is left alone (the read then fails with Spark's
    * PARQUET_TYPE_ILLEGAL, which is what that setting asks for).
    */
  def events(spark: SparkSession, dir: String): DataFrame = {
    if (spark.conf.getOption("spark.sql.legacy.parquet.nanosAsLong").isEmpty)
      spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val raw = table(spark, dir, "events")
    raw.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        raw.withColumn("ts",
          org.apache.spark.sql.functions.timestamp_micros(
            org.apache.spark.sql.functions.expr("ts div 1000")))
      // some fixture generations write ts as timestamp[us] WITHOUT a
      // timezone (→ TIMESTAMP_NTZ in Spark 4, which unix_millis/micros
      // reject); the session runs in UTC, so the cast re-labels the same
      // micros value as an instant without shifting it
      case org.apache.spark.sql.types.TimestampNTZType =>
        raw.withColumn("ts", raw("ts").cast("timestamp"))
      case _ => raw
    }
  }

  /** documents/embeddings feed CPU-heavy PER-ROW stages (tokenization,
    * shingle/md5 chains, winnowing folds, codecs, vector arithmetic)
    * whose parallelism is otherwise capped by the SCAN's split count —
    * and a single-row-group parquet file is ONE unsplittable partition
    * no matter its size, serializing all of that work onto one core.
    * When the scan is narrower than the session's shuffle width, spread
    * it by key with an EXPLICIT partition count (a keyless repartition
    * would be AQE-coalesced right back: coalescing sizes by shuffle
    * BYTES, which is the wrong objective for a shuffle that exists to
    * spread per-row CPU). At real corpus scale the scan arrives as many
    * splits and this is a no-op — the condition, not the repartition,
    * is the contract.
    *
    * The split count is probed (`df.rdd.getNumPartitions`) on every call,
    * so a rewritten file layout is seen by the next read.
    */
  private[graft] def cpuSpread(df: DataFrame, key: String): DataFrame = {
    val n = df.sparkSession.sessionState.conf.numShufflePartitions
    if (df.rdd.getNumPartitions >= n) df
    else df.repartition(n, org.apache.spark.sql.functions.col(key))
  }

  def documents(spark: SparkSession, dir: String): DataFrame  =
    cpuSpread(table(spark, dir, "documents"), "doc_id")
  def embeddings(spark: SparkSession, dir: String): DataFrame =
    cpuSpread(table(spark, dir, "embeddings"), "vec_id")

  /** JDBC source — the reference's ACTUAL input topology: projected
    * `pd.read_sql` against MySQL via SQLAlchemy (`filmETLs.ipynb#cell1`
    * engine setup, `rentalFilmDAG.py:15-20,37`). The driver harness feeds
    * parquet, but a user of the reference switching to this library needs
    * the same capability natively.
    *
    * Scale shape: a bare JDBC read is ONE connection pulling the whole
    * table through the driver — the anti-pattern. This helper always
    * plans a RANGE-PARTITIONED parallel read: `numPartitions` executors
    * each issue `WHERE partitionColumn BETWEEN lo AND hi` against the
    * database, so ingest bandwidth scales with executor count (and with
    * the DB's read replicas at real scale). Bounds default to a one-row
    * MIN/MAX probe query — two values over the wire — matching how
    * Sqoop/`spark.read.jdbc` deployments bootstrap. Filters and column
    * pruning push into the remote SQL (`PushedFilters` in the scan node);
    * `fetchsize` streams rows through the cursor instead of buffering
    * each partition's result set.
    */
  def readJdbc(spark: SparkSession, url: String, table: String,
               partitionColumn: String,
               numPartitions: Int = 8,
               bounds: Option[(Long, Long)] = None,
               driver: Option[String] = None,
               fetchSize: Int = 10000,
               props: Map[String, String] = Map.empty): DataFrame = {
    val base = spark.read.format("jdbc")
      .option("url", url)
      .option("fetchsize", fetchSize.toString)
    val withDriver = driver.fold(base)(d => base.option("driver", d))
    val withProps = props.foldLeft(withDriver) { case (r, (k, v)) => r.option(k, v) }
    val (lo, hi) = bounds.getOrElse {
      // identifier quoted per the target database's dialect — unquoted
      // names case-fold differently across engines (Derby/Oracle upper,
      // Postgres lower) while Spark's JDBC writer creates quoted columns
      val qc = org.apache.spark.sql.jdbc.JdbcDialects.get(url)
        .quoteIdentifier(partitionColumn)
      val row = withProps
        .option("dbtable", s"(SELECT MIN($qc) AS lo, MAX($qc) AS hi FROM $table) b")
        .load().head()
      (row.getAs[Number](0).longValue(), row.getAs[Number](1).longValue())
    }
    withProps
      .option("dbtable", table)
      .option("partitionColumn", partitionColumn)
      .option("lowerBound", lo.toString)
      .option("upperBound", math.max(hi, lo + 1).toString)
      .option("numPartitions", numPartitions.toString)
      .load()
  }

  /** JDBC sink — the reference's `to_sql(..., if_exists='append')` load
    * step (`filmETLs.ipynb#cell4:5`, `rentalFilmDAG.py:39`). Each
    * partition opens one connection and writes `batchsize`-row batches;
    * at scale, coalesce to a partition count the database can absorb
    * (1000 executors hammering one primary is a DB outage, not a load).
    */
  def writeJdbc(df: DataFrame, url: String, table: String,
                mode: String = "append",
                driver: Option[String] = None,
                batchSize: Int = 1000,
                props: Map[String, String] = Map.empty): Unit = {
    val base = df.write.format("jdbc")
      .option("url", url)
      .option("dbtable", table)
      .option("batchsize", batchSize.toString)
      .mode(mode)
    val withDriver = driver.fold(base)(d => base.option("driver", d))
    props.foldLeft(withDriver) { case (w, (k, v)) => w.option(k, v) }.save()
  }

  /** Append/overwrite sink (SURVEY.md §2 K1). The reference appends via
    * `to_sql(..., if_exists='append')` (`filmETLs.ipynb#cell4:5`), which is
    * non-idempotent on re-run; we deliberately default to overwrite
    * (SURVEY.md §7.4.6). Partitioning by a low-cardinality key (e.g.
    * `date_id`) keeps 100 TB fact writes prunable for downstream readers.
    */
  def write(df: DataFrame, path: String, partitionBy: Seq[String] = Nil,
            mode: String = "overwrite"): Unit = {
    val w = df.write.mode(mode)
    (if (partitionBy.nonEmpty) w.partitionBy(partitionBy: _*) else w).parquet(path)
  }
}
