package graft

import java.time.{Instant, LocalDate, LocalDateTime}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{IntegerType, TimestampType}
import org.scalatest.funsuite.AnyFunSuite

import graft.io.Tables
import graft.io.Tables.Range

/** `Tables.read` builds a read from its listing, with the schema from one
  * footer on the driver: it must give the schema, rows and file names
  * `spark.read.parquet` gives, raise the errors it raises, and start no
  * Spark job, however many files it reads. `Tables.range` reads a column's least
  * and greatest value from the row-group statistics, and gives none
  * where they cannot tell.
  */
class TablesSpec extends AnyFunSuite {
  import TestSpark.{jobsStartedBy, spark, sfDir}
  import spark.implicits._

  private def tmpDir(): String =
    java.nio.file.Files.createTempDirectory("graft_tables").toString

  private def sameRead(dir: String, name: String): DataFrame = {
    val got = Tables.table(spark, dir, name)
    assert(got.schema === spark.read.parquet(s"$dir/$name.parquet").schema, name)
    got
  }

  test("fixture tables: footer schema equals spark.read.parquet's") {
    Tables.all.foreach(sameRead(sfDir, _))
    // events through Tables.events: raw nanos still become a timestamp
    val raw = spark.read.parquet(s"$sfDir/events.parquet").schema
    val events = Tables.events(spark, sfDir).schema
    assert(events.fieldNames.toSeq === raw.fieldNames.toSeq)
    assert(events("ts").dataType === TimestampType)
    assert(events.filter(_.name != "ts") === raw.filter(_.name != "ts"))
  }

  test("partitionBy directory: partition column discovered with the same type") {
    val dir = tmpDir()
    spark.range(0, 30)
      .select(col("id"), (col("id") % 3 + 2020).cast("int").as("year"),
        concat(lit("n"), col("id").cast("string")).as("name"))
      .write.partitionBy("year").parquet(s"$dir/parted.parquet")
    val got = sameRead(dir, "parted")
    assert(got.schema("year").dataType === IntegerType)
    assert(got.filter(col("year") === 2021).count() === 10L)
  }

  test("directory with _SUCCESS and .crc files beside several data files") {
    val dir = tmpDir()
    spark.range(0, 100).select(col("id"), (col("id") * 0.5).as("half"))
      .repartition(3).write.parquet(s"$dir/multi.parquet")
    val names = new java.io.File(s"$dir/multi.parquet").list().toSeq
    assert(names.contains("_SUCCESS"))
    assert(names.exists(n => n.startsWith(".") && n.endsWith(".crc")))
    assert(sameRead(dir, "multi").count() === 100L)
  }

  test("files that disagree: Spark's first file by path, or its merge when asked") {
    val dir = tmpDir()
    val t = s"$dir/mixed.parquet"
    spark.range(3).select(col("id").as("a"), lit("x").as("b")).write.parquet(s"$t/k=1")
    // `k=1-x/…` is the least data file path ('-' sorts before '/')
    spark.range(3).select(col("id").as("a")).write.parquet(s"$t/k=1-x")
    assert(sameRead(dir, "mixed").columns.toSeq === Seq("a", "k"))
    spark.conf.set("spark.sql.parquet.mergeSchema", "true")
    try assert(sameRead(dir, "mixed").columns.toSeq === Seq("a", "b", "k"))
    finally spark.conf.unset("spark.sql.parquet.mergeSchema")
  }

  test("a parquet summary file's schema wins, as in spark.read.parquet") {
    val dir = tmpDir()
    val t = s"$dir/summed.parquet"
    spark.range(3).select(col("id").as("a")).write.parquet(t)
    // a footer with one more column, where Spark looks for a summary
    val wider = written(spark.range(1).select(col("id").as("a"), lit("x").as("b")))
    java.nio.file.Files.copy(java.nio.file.Paths.get(new java.net.URI(wider.path)),
      java.nio.file.Paths.get(t, "_common_metadata"))
    assert(Tables.listing(spark, t).summaries.size === 1)
    assert(sameRead(dir, "summed").columns.toSeq === Seq("a", "b"))
  }

  test("missing path and empty directory raise spark.read.parquet's exception class") {
    val dir = tmpDir()
    new java.io.File(s"$dir/empty.parquet").mkdir()
    Seq("missing", "empty").foreach { name =>
      val ours = intercept[Throwable](Tables.table(spark, dir, name))
      val spark0 = intercept[Throwable](spark.read.parquet(s"$dir/$name.parquet"))
      assert(ours.getClass === spark0.getClass, name)
    }
  }

  test("Tables.table starts no Spark job") {
    val dir = tmpDir()
    spark.range(0, 10).select(col("id"), (col("id") % 2).cast("int").as("year"))
      .write.partitionBy("year").parquet(s"$dir/parted.parquet")
    // the detector sees the inference job of a plain read
    assert(jobsStartedBy(spark.read.parquet(s"$dir/parted.parquet")) >= 1)
    assert(jobsStartedBy {
      Tables.all.foreach(Tables.table(spark, sfDir, _))
      Tables.table(spark, dir, "parted")
    } === 0)
  }

  test("documents: a rewritten layout's split count is probed again in the same session") {
    val dir = tmpDir()
    val src = Tables.table(spark, sfDir, "documents")
    val width = spark.sessionState.conf.numShufflePartitions
    def scanSplits = Tables.table(spark, dir, "documents").rdd.getNumPartitions
    src.repartition(16).write.parquet(s"$dir/documents.parquet")
    assert(scanSplits >= width, "the first layout must be at least the shuffle width")
    assert(Tables.documents(spark, dir).rdd.getNumPartitions === scanSplits)
    src.coalesce(1).write.mode("overwrite").parquet(s"$dir/documents.parquet")
    assert(scanSplits === 1)
    // one split is narrower than the shuffle width: spread again
    val again = Tables.documents(spark, dir)
    assert(again.rdd.getNumPartitions === width)
    assert(again.count() === src.count())
  }

  test("Tables.read reads exactly a listing's files, a subset with the table's schema") {
    val dir = tmpDir()
    val t = s"$dir/t.parquet"
    Seq((1L, 1.5)).toDF("k", "v").coalesce(1).write.parquet(s"$t/a=1")
    val listed = Tables.listing(spark, t)
    assert(listed.files.size === 1)
    // a file that lands after the listing is not read
    Seq((2L, 2.5)).toDF("k", "v").coalesce(1).write.mode("append").parquet(s"$t/a=1")
    assert(Tables.read(spark, listed).as[(Long, Double, Int)].collect().toSeq === Seq((1L, 1.5, 1)))
    val now = Tables.listing(spark, t)
    assert(now.files.size === 2)
    val added = now.files.filterNot(listed.files.toSet)
    val sub = Tables.read(spark, now, added)
    assert(sub.schema === Tables.parquet(spark, t).schema)
    assert(sub.as[(Long, Double, Int)].collect().toSeq === Seq((2L, 2.5, 1)))
    // a table that is one file, and a missing one
    val file = now.files.head.path
    assert(Tables.read(spark, Tables.listing(spark, file)).count() === 1)
    assert(Tables.listing(spark, s"$dir/none.parquet").files.isEmpty)
    assert(jobsStartedBy(Tables.read(spark, now)) === 0)
  }

  /** A `partitionBy("year")` table of 40 files: 10 tasks, each writing
    * one file into each of 4 years.
    */
  private def fortyFiles(): Tables.Listing = {
    val t = s"${tmpDir()}/t.parquet"
    spark.range(0, 400, 1, 10)
      .select(col("id"), (col("id") % 4 + 2020).cast("int").as("year"), (col("id") * 0.5).as("half"))
      .write.partitionBy("year").parquet(t)
    val listed = Tables.listing(spark, t)
    assert(listed.files.size === 40)
    listed
  }

  test("Tables.read of 40 files starts no job and reads what spark.read.parquet of them reads") {
    val listed = fortyFiles()
    var ours: DataFrame = null
    // Spark looks up 33 or more paths in a listing job of its own
    assert(jobsStartedBy { ours = Tables.read(spark, listed) } === 0)
    val theirs = spark.read.option("basePath", listed.root).parquet(listed.files.map(_.path): _*)
    assert(ours.schema === theirs.schema)
    assert(ours.exceptAll(theirs).isEmpty && theirs.exceptAll(ours).isEmpty)
    def named(df: DataFrame) = df.select(col("id"), input_file_name().as("file"))
    assert(named(ours).exceptAll(named(theirs)).isEmpty && named(theirs).exceptAll(named(ours)).isEmpty)
    assert(named(ours).select("file").distinct().count() === 40L)
  }

  test("reads of two sets of one table's files are two plans: no cache or exchange of one serves the other") {
    val listed = fortyFiles()
    val (a, b) = listed.files.splitAt(15)
    def perYear(fs: Seq[Tables.DataFile]) = Tables.read(spark, listed, fs).groupBy("year").count()
    // the same aggregate over each set: equal plans would share one exchange
    val both = perYear(a).unionByName(perYear(b)).groupBy("year").agg(sum("count").as("n"))
    assert(both.as[(Int, Long)].collect().toMap === (2020 to 2023).map(_ -> 100L).toMap)
    val cached = Tables.read(spark, listed, a).cache()
    try {
      assert(cached.count() === a.map(f => Tables.read(spark, listed, Seq(f)).count()).sum)
      assert(Tables.read(spark, listed, b).count() === 400L - cached.count())
      assert(Tables.read(spark, listed).count() === 400L)
    } finally cached.unpersist()
  }

  /** The one data file `df` is written as, with the writer `options`. */
  private def written(df: DataFrame, options: (String, String)*): Tables.DataFile = {
    val path = s"${tmpDir()}/t.parquet"
    df.coalesce(1).write.options(options.toMap).parquet(path)
    val files = Tables.listing(spark, path).files
    assert(files.size === 1)
    files.head
  }

  private def range(f: Tables.DataFile, column: String, s: SparkSession = spark): Option[Range] =
    Tables.range(s, s.sessionState.newHadoopConf(), f, column)

  private def micros(t: Instant): Long = t.getEpochSecond * 1000000L + t.getNano / 1000

  test("range: signed INT64 and INT32 keys, none for a missing column") {
    val f = written(Seq((5L, 3), (-2L, 9), (7L, -4)).toDF("k", "i"))
    assert(range(f, "k") === Some(Range("INT64", -2, 7, None)))
    assert(range(f, "i") === Some(Range("INT32", -4, 9, None)))
    assert(range(f, "missing") === None)
  }

  test("range: DATE days and TIMESTAMP_NTZ micros, with their years") {
    val days = Seq("1999-12-31", "2001-01-01", "2000-06-15").map(LocalDate.parse)
    val f = written(days.toDF("d"))
    assert(range(f, "d") ===
      Some(Range("DATE", days(0).toEpochDay, days(1).toEpochDay, Some((days(0).toEpochDay, days(1).toEpochDay)))))
    assert(range(f, "d").flatMap(_.years) === Some((1999, 2001)))
    val times = Seq(LocalDateTime.of(2003, 1, 1, 0, 0), LocalDateTime.of(2003, 12, 31, 23, 59, 59, 999999000))
    val g = written(times.toDF("t"))
    val r = range(g, "t").get
    assert(r.kind.startsWith("TIMESTAMP(MICROS") && r.years === Some((2003, 2003)))
    assert((r.min, r.max) === (micros(times(0).toInstant(java.time.ZoneOffset.UTC)),
      micros(times(1).toInstant(java.time.ZoneOffset.UTC))))
  }

  test("range: a UTC-adjusted TIMESTAMP takes its year in the session time zone, an INT96 one gives none") {
    def session(zone: String, tsType: String) = {
      val s = spark.newSession()
      s.conf.set("spark.sql.session.timeZone", zone)
      s.conf.set("spark.sql.parquet.outputTimestampType", tsType)
      s
    }
    val at = Instant.parse("2000-12-31T23:30:00Z")
    val utc = session("UTC", "TIMESTAMP_MICROS")
    val f = {
      val path = s"${tmpDir()}/t.parquet"
      utc.range(1).select(lit(at).as("t")).coalesce(1).write.parquet(path)
      Tables.listing(utc, path).files.head
    }
    val plus1 = session("+01:00", "TIMESTAMP_MICROS")
    assert(range(f, "t", utc).map(r => (r.min, r.max, r.years)) ===
      Some((micros(at), micros(at), Some((2000, 2000)))))
    assert(range(f, "t", plus1).flatMap(_.years) === Some((2001, 2001)))
    val newYear = LocalDate.of(2001, 1, 1).toEpochDay
    assert(range(f, "t", plus1).flatMap(_.days) === Some((newYear, newYear)))
    assert(range(f, "t", utc).flatMap(_.days) === Some((newYear - 1, newYear - 1)))
    // as year() takes it
    assert(plus1.read.parquet(f.path).select(year(col("t"))).as[Int].head() === 2001)
    val int96 = session("UTC", "INT96")
    val g = {
      val path = s"${tmpDir()}/t.parquet"
      int96.range(1).select(lit(at).as("t")).coalesce(1).write.parquet(path)
      Tables.listing(int96, path).files.head
    }
    assert(range(g, "t", int96) === None)
  }

  test("range: days span every day the values fall on where the clock turns back across midnight") {
    // St John's turned its clocks back from 00:01 to 23:01 the day before
    // on 1999-10-31, so the later of these instants falls on the earlier day
    val s = spark.newSession()
    s.conf.set("spark.sql.session.timeZone", "America/St_Johns")
    s.conf.set("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
    val at = Seq("1999-10-31T02:30:30Z", "1999-10-31T03:00:00Z").map(Instant.parse)
    val path = s"${tmpDir()}/t.parquet"
    s.range(1).select(explode(array(at.map(t => lit(t)): _*)).as("t")).coalesce(1).write.parquet(path)
    val f = Tables.listing(s, path).files.head
    val r = range(f, "t", s).get
    assert((r.min, r.max) === (micros(at(0)), micros(at(1))))
    val (oct30, oct31) = (LocalDate.of(1999, 10, 30).toEpochDay, LocalDate.of(1999, 10, 31).toEpochDay)
    assert(r.days === Some((oct30, oct31)))
    assert(s.read.parquet(path).select(dayofmonth(col("t"))).as[Int].collect().toSeq.sorted === Seq(30, 31))
  }

  test("range: spans row groups, skips all-null ones, none for an all-null column or no statistics") {
    val oneRowGroups = "parquet.block.row.count.limit" -> "1"
    val f = written(Seq(Some(4L), None, Some(-3L), Some(11L)).toDF("k")
      .withColumn("n", lit(null).cast("long")), oneRowGroups)
    val reader = org.apache.parquet.hadoop.ParquetFileReader.open(
      org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
        new org.apache.hadoop.fs.Path(f.path), spark.sessionState.newHadoopConf()))
    try assert(reader.getRowGroups.size === 4) finally reader.close()
    assert(range(f, "k") === Some(Range("INT64", -3, 11, None)))
    assert(range(f, "n") === None)
    val g = written(Seq(1L, 2L).toDF("k"), "parquet.column.statistics.enabled" -> "false")
    assert(range(g, "k") === None)
  }

  test("range: ranges of two parquet types never compare as disjoint") {
    val f = written(Seq((1, LocalDate.ofEpochDay(100))).toDF("i", "d"))
    val (i, d) = (range(f, "i").get, range(f, "d").get)
    assert(i.kind === "INT32" && d.kind === "DATE" && i.max < d.min)
    assert(i.overlaps(d) && d.overlaps(i))
    assert(i.union(d) === None)
    assert(!i.overlaps(i.copy(min = d.min, max = d.max)))
    assert(i.union(i.copy(min = d.min, max = d.max)) === Some(Range("INT32", 1, 100, None)))
  }
}
