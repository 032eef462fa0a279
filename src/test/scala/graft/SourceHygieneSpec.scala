package graft

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._
import org.scalatest.funsuite.AnyFunSuite

/** Source checks that no compiler flag catches. An orphaned scaladoc
  * block — a `/** … */` followed, after only blank lines, by another
  * doc block — documents nothing: scaladoc attaches only the second
  * block, so the first one's text silently drops out of the API docs
  * and usually describes a definition that moved elsewhere. A bare
  * `.read.parquet(` starts a schema-inference job per call and lists the
  * path again; library reads go through `Tables.read`, which reads the
  * schema on the driver and builds the relation from its own listing, and
  * every footer read (schema, row count, column range) goes through
  * `Tables`, so all of them take one path. A
  * library call that sets a session conf changes every query other
  * threads run on that session meanwhile; writers take per-write options
  * instead. A JVM-wide map of results (a `ConcurrentHashMap` memo) keeps
  * serving what it saw before a write and keeps every session it saw
  * reachable; queries build their inputs per call instead. The
  * library is a nightly batch load plus batch queries: a Structured
  * Streaming entry point is surface no query or workload runs. A money
  * sum of one DOUBLE column goes through `cents_sum`, which equals
  * `sum(x.cast(DecimalType(18, 2)))` but builds no BigDecimal per row.
  */
class SourceHygieneSpec extends AnyFunSuite {

  /** (line of the orphaned block's opening, 1-based) for every orphaned
    * scaladoc block in `lines`.
    */
  private def orphanedDocs(lines: IndexedSeq[String]): Seq[Int] = {
    val out = Seq.newBuilder[Int]
    var i = 0
    while (i < lines.length) {
      if (lines(i).trim.startsWith("/**")) {
        val start = i
        while (i < lines.length && !lines(i).contains("*/")) i += 1
        // a block closed mid-line (`/** … */ def x`) documents that line
        val closedAlone = i < lines.length &&
          lines(i).substring(lines(i).indexOf("*/") + 2).trim.isEmpty
        var j = i + 1
        while (j < lines.length && lines(j).trim.isEmpty) j += 1
        if (closedAlone && j < lines.length && lines(j).trim.startsWith("/**"))
          out += start + 1
      }
      i += 1
    }
    out.result()
  }

  private def mainSources: Seq[java.nio.file.Path] = {
    val files = Files.walk(Paths.get("src/main/scala")).iterator().asScala
      .filter(p => Files.isRegularFile(p) && p.toString.endsWith(".scala"))
      .toSeq
    assert(files.nonEmpty, "src/main/scala not found from the test's working directory")
    files
  }

  test("no orphaned scaladoc blocks under src/main/scala") {
    // the detector itself: only the block followed by another block counts
    val sample = IndexedSeq(
      "  /** first */", "", "  /** second", "    */", "  def a = 1",
      "  /** inline */ def b = 2", "  /** third */", "  def c = 3")
    assert(orphanedDocs(sample) === Seq(1))
    val sites = for {
      f <- mainSources
      line <- orphanedDocs(Files.readAllLines(f).asScala.toIndexedSeq)
    } yield s"$f:$line"
    if (sites.nonEmpty)
      fail(s"scaladoc blocks followed only by another scaladoc block:\n${sites.sorted.mkString("\n")}")
  }

  test("no schema-inferring .read.parquet( under src/main/scala outside io/Tables.scala") {
    val tables = Paths.get("src/main/scala/graft/io/Tables.scala")
    val sites = for {
      f <- mainSources if f != tables
      (line, i) <- Files.readAllLines(f).asScala.zipWithIndex
      if line.contains(".read.parquet(")
    } yield s"$f:${i + 1}"
    if (sites.nonEmpty)
      fail(s"read parquet through graft.io.Tables.parquet, not spark.read.parquet:\n${sites.sorted.mkString("\n")}")
  }

  test("no session-conf mutation under src/main/scala but the documented nanosAsLong default") {
    val tables = Paths.get("src/main/scala/graft/io/Tables.scala")
    val sites = for {
      f <- mainSources
      (line, i) <- Files.readAllLines(f).asScala.zipWithIndex
      if line.contains("conf.set(")
      // Tables.events sets it only where the session left it unset
      if !(f == tables && line.contains("\"spark.sql.legacy.parquet.nanosAsLong\", \"true\""))
    } yield s"$f:${i + 1}"
    if (sites.nonEmpty)
      fail(s"library code must not set session confs:\n${sites.sorted.mkString("\n")}")
  }

  test("no ParquetFooterReader under src/main/scala outside io/Tables.scala") {
    val tables = Paths.get("src/main/scala/graft/io/Tables.scala")
    assert(Files.readAllLines(tables).asScala.exists(_.contains("ParquetFooterReader")))
    val sites = for {
      f <- mainSources if f != tables
      (line, i) <- Files.readAllLines(f).asScala.zipWithIndex
      if line.contains("ParquetFooterReader")
    } yield s"$f:${i + 1}"
    if (sites.nonEmpty)
      fail(s"read parquet footers through graft.io.Tables:\n${sites.sorted.mkString("\n")}")
  }

  test("no relation built under src/main/scala outside io/Tables.scala and the graftbridge") {
    val tables = Paths.get("src/main/scala/graft/io/Tables.scala")
    val bridge = Paths.get("src/main/scala/org/apache/spark/sql/graftbridge")
    val apis = Seq("InMemoryFileIndex", "HadoopFsRelation", "baseRelationToDataFrame")
    assert(apis.forall(api => Files.readAllLines(tables).asScala.exists(_.contains(api))))
    val sites = for {
      f <- mainSources if f != tables && !f.startsWith(bridge)
      (line, i) <- Files.readAllLines(f).asScala.zipWithIndex
      if apis.exists(line.contains)
    } yield s"$f:${i + 1}"
    if (sites.nonEmpty)
      fail(s"read tables through graft.io.Tables.read, the one read path:\n${sites.sorted.mkString("\n")}")
  }

  test("no ConcurrentHashMap under src/main/scala") {
    val sites = for {
      f <- mainSources
      (line, i) <- Files.readAllLines(f).asScala.zipWithIndex
      if line.contains("ConcurrentHashMap")
    } yield s"$f:${i + 1}"
    if (sites.nonEmpty)
      fail(s"no JVM-wide memo in library code; build inputs per call:\n${sites.sorted.mkString("\n")}")
  }

  test("no sum of one column cast to DecimalType(18, 2) under src/main/scala") {
    // the whole argument of `sum(` is one column, cast as `.cast(DecimalType(18, 2))` or `dec(…)`
    val plainCastSum =
      """(?<!\w)sum\(\s*(?:dec\([^()]*\)|[\w$]+\([^()]*\)\.cast\(DecimalType\(18, ?2\)\))\s*\)""".r
    Seq("""sum(dec("l_quantity"))""", """sum(col("o_totalprice").cast(DecimalType(18, 2)))""",
        """.agg(sum(col(c).cast(DecimalType(18,2))).as("s"))""")
      .foreach(line => assert(plainCastSum.findFirstIn(line).nonEmpty, line))
    Seq("""sum_distinct(dec("o_totalprice"))""", """sum(dec("p") * dec("q"))""",
        """sum((dec("p") * (lit(1) - dec("d"))).cast(DecimalType(18, 4)))""",
        """sum(col("x").cast(DecimalType(18, 2)) * col("y"))""")
      .foreach(line => assert(plainCastSum.findFirstIn(line).isEmpty, line))
    val sites = for {
      f <- mainSources
      (line, i) <- Files.readAllLines(f).asScala.zipWithIndex
      if plainCastSum.findFirstIn(line).nonEmpty
    } yield s"$f:${i + 1}"
    if (sites.nonEmpty)
      fail(s"sum money as integer cents with MoneyFunctions.cents_sum:\n${sites.sorted.mkString("\n")}")
  }

  test("no Structured Streaming under src/main/scala") {
    val apis = Seq("writeStream", "readStream", "foreachBatch", "GroupState", "withWatermark")
    val files = mainSources.filter(f =>
      Files.readAllLines(f).asScala.exists(line => apis.exists(line.contains)))
    if (files.nonEmpty)
      fail(s"batch library: no Structured Streaming API (${apis.mkString(", ")}) in:\n" +
        files.map(_.toString).sorted.mkString("\n"))
  }
}
