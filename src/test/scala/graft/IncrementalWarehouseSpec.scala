package graft

import java.nio.file.{Files, Path, Paths}
import java.time.{Instant, LocalDateTime}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.etl.Warehouse
import graft.io.Tables

/** `Warehouse.buildAll` is incremental: after every night of new input
  * files, the warehouse it updates in place must equal one built from
  * scratch over the same inputs, table for table and count for count, and
  * it must rewrite only what the night's files change.
  */
class IncrementalWarehouseSpec extends AnyFunSuite {
  import TestSpark.{jobsStartedBy, spark, sfDir, startedBy}
  import spark.implicits._

  private val inputs = Seq("customer", "supplier", "part", "orders", "lineitem")
  private val tables = Seq("dim_customer", "dim_supplier", "dim_part", "dim_order", "dim_date",
    "fact_daily_inventory", "fact_monthly_payment")

  private def tmp(prefix: String): String = Files.createTempDirectory(prefix).toString

  /** A copy of the fixtures with each table a directory, as nightly loads
    * land them; `orders` and `lineitem` as `baseFiles` files.
    */
  private def fixtures(baseFiles: Int = 1): String = {
    val in = tmp("graft_inc_in")
    for (t <- inputs) {
      val dir = Paths.get(in, s"$t.parquet")
      if (baseFiles == 1 || !Seq("orders", "lineitem").contains(t)) {
        Files.createDirectories(dir)
        Files.copy(Paths.get(sfDir, s"$t.parquet"), dir.resolve("part-00000.parquet"))
      } else spark.read.parquet(s"$sfDir/$t.parquet").repartition(baseFiles).write.parquet(dir.toString)
    }
    in
  }

  /** Write `df` as the one file `name` of input table `t`. */
  private def land(in: String, t: String, name: String, df: DataFrame): Unit = {
    val out = tmp("graft_inc_night") + "/out"
    df.coalesce(1).write.parquet(out)
    val file = Files.list(Paths.get(out)).iterator.asScala
      .find(_.getFileName.toString.endsWith(".parquet")).get
    Files.move(file, Paths.get(in, s"$t.parquet", name))
  }

  private def table(in: String, t: String): DataFrame = Tables.table(spark, in, t)

  /** (path, length, mtime) of a warehouse table's data files. */
  private def files(wh: String, t: String): Set[Tables.DataFile] =
    Tables.listing(spark, s"$wh/$t").files.toSet

  /** Every file under `dir`, manifests included, with its length and mtime. */
  private def everyFile(dir: String): Map[Path, (Long, Long)] = {
    val s = Files.walk(Paths.get(dir))
    try s.iterator.asScala.filter(Files.isRegularFile(_))
      .map(p => p -> (Files.size(p), Files.getLastModifiedTime(p).toMillis)).toMap
    finally s.close()
  }

  /** Build `wh` incrementally and a fresh warehouse from scratch over `in`;
    * both must hold the same rows and report the same counts.
    */
  private def buildMatchesScratch(in: String, wh: String, s: SparkSession = spark): Unit = {
    val scratch = tmp("graft_inc_scratch")
    assert(Warehouse.buildAll(s, in, wh) === Warehouse.buildAll(s, in, scratch))
    for (t <- tables) {
      val a = s.read.parquet(s"$wh/$t")
      val b = s.read.parquet(s"$scratch/$t")
      assert(a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty, t)
    }
  }

  /** Snapshot of every table's files, to tell what a build rewrote. */
  private def state(wh: String): Map[String, Set[Tables.DataFile]] =
    tables.map(t => t -> files(wh, t)).toMap

  private def unchanged(before: Map[String, Set[Tables.DataFile]], wh: String, ts: String*): Unit =
    ts.foreach(t => assert(files(wh, t) === before(t), s"$t was rewritten"))

  private def rebuilt(before: Map[String, Set[Tables.DataFile]], wh: String, t: String): Unit =
    assert((files(wh, t) intersect before(t)).isEmpty, s"$t kept files of the old build")

  /** Files of a fact outside the given year partitions. */
  private def outside(fs: Set[Tables.DataFile], years: Int*): Set[Tables.DataFile] =
    fs.filterNot(f => years.exists(y => f.path.contains(s"/year=$y/")))

  /** Fact `t` rewrote its year `y` and no other. */
  private def rewroteYear(before: Map[String, Set[Tables.DataFile]], wh: String, t: String, y: Int): Unit = {
    val held = before(t) -- outside(before(t), y)
    assert(held.nonEmpty && (held intersect files(wh, t)).isEmpty, s"$t kept files of year $y")
    assert(outside(files(wh, t), y) === outside(before(t), y), s"$t rewrote another year")
  }

  private val daily = "fact_daily_inventory"
  private val monthly = "fact_monthly_payment"

  test("nightly loads: incremental build equals a from-scratch build after every night") {
    val in = fixtures()
    val wh = tmp("graft_inc_wh")
    buildMatchesScratch(in, wh)
    val orders = table(in, "orders")
    val lineitem = table(in, "lineitem")
    val lineitemCols = lineitem.columns.toSeq.map(col)
    // the base load's lineitems of `os`, moved to the order keys `os` get
    // `shift` added
    def linesOf(os: DataFrame, shift: Long) = lineitem
      .join(os.select("o_orderkey"), $"l_orderkey" === $"o_orderkey")
      .withColumn("l_orderkey", $"l_orderkey" + shift).select(lineitemCols: _*)

    // night 1: orders of a year the warehouse has not seen, with lineitems
    val first = orders.orderBy("o_orderkey").limit(5)
    land(in, "orders", "night-01.parquet", first
      .withColumn("o_orderkey", $"o_orderkey" + 10000000L)
      .withColumn("o_orderdate", lit(LocalDateTime.of(2010, 3, 15, 0, 0))))
    land(in, "lineitem", "night-01.parquet", linesOf(first, 10000000L))
    var before = state(wh)
    buildMatchesScratch(in, wh)
    unchanged(before, wh, "dim_customer", "dim_supplier", "dim_part", "dim_date")
    // the new orders land as one file beside the old ones
    assert(before("dim_order").subsetOf(files(wh, "dim_order")))
    assert(files(wh, "dim_order").size === before("dim_order").size + 1)
    for (f <- Seq("fact_daily_inventory", "fact_monthly_payment")) {
      assert(files(wh, f).exists(_.path.contains("/year=2010/")), f)
      assert(outside(files(wh, f), 2010) === outside(before(f), 2010), f)
    }

    // night 2: rows re-sent from night 1 and from the base load
    land(in, "orders", "night-02.parquet", table(in, "orders").orderBy("o_orderkey").limit(3)
      .unionByName(table(in, "orders").where($"o_orderkey" >= 10000000L)))
    land(in, "lineitem", "night-02.parquet", lineitem.orderBy("l_orderkey", "l_linenumber").limit(4))
    buildMatchesScratch(in, wh)

    // night 3: lineitems only, of an order placed in 1996
    val in1996 = orders.where(year($"o_orderdate") === 1996).orderBy("o_orderkey").limit(1)
      .select("o_orderkey")
    land(in, "lineitem", "night-03.parquet", lineitem.join(in1996, $"l_orderkey" === $"o_orderkey")
      .withColumn("l_linenumber", $"l_linenumber" + 100).select(lineitemCols: _*))
    before = state(wh)
    buildMatchesScratch(in, wh)
    unchanged(before, wh, "dim_order", "fact_monthly_payment")
    assert(outside(files(wh, "fact_daily_inventory"), 1996) ===
      outside(before("fact_daily_inventory"), 1996))
    assert(files(wh, "fact_daily_inventory") !== before("fact_daily_inventory"))

    // night 4: orders with a null date or a null customer, with lineitems
    val four = orders.orderBy("o_orderkey").limit(4)
    land(in, "orders", "night-04.parquet", four
      .withColumn("o_orderkey", $"o_orderkey" + 20000000L)
      .withColumn("o_orderdate", when($"o_orderkey" % 2 === 0, $"o_orderdate"))
      .withColumn("o_custkey", when($"o_orderkey" % 2 =!= 0, $"o_custkey")))
    land(in, "lineitem", "night-04.parquet", linesOf(four, 20000000L))
    buildMatchesScratch(in, wh)

    // night 5: a customer file, with new, re-sent and null-named customers
    val customer = table(in, "customer")
    land(in, "customer", "night-05.parquet", customer.orderBy("c_custkey").limit(3)
      .withColumn("c_custkey", $"c_custkey" + 1000)
      .unionByName(customer.orderBy("c_custkey").limit(2))
      .unionByName(customer.orderBy("c_custkey").limit(1)
        .withColumn("c_custkey", $"c_custkey" + 2000).withColumn("c_name", lit(null).cast("string"))))
    before = state(wh)
    buildMatchesScratch(in, wh)
    unchanged(before, wh, tables.filter(_ != "dim_customer"): _*)
    assert(files(wh, "dim_customer") !== before("dim_customer"))

    // night 6: an input file removed — its tables rebuild in full
    Files.delete(Paths.get(in, "orders.parquet", "night-02.parquet"))
    before = state(wh)
    buildMatchesScratch(in, wh)
    Seq("dim_order", "fact_daily_inventory", "fact_monthly_payment").foreach(rebuilt(before, wh, _))
    unchanged(before, wh, "dim_customer", "dim_supplier", "dim_part", "dim_date")

    // night 7: an input file rewritten in place — its tables rebuild in full
    val night1 = Paths.get(in, "lineitem.parquet", "night-01.parquet")
    val rewritten = table(in, "lineitem").where($"l_orderkey" >= 10000000L).limit(1)
      .localCheckpoint()
    Files.delete(night1)
    land(in, "lineitem", "night-01.parquet", rewritten)
    Files.setLastModifiedTime(night1, java.nio.file.attribute.FileTime.fromMillis(1000000000000L))
    before = state(wh)
    buildMatchesScratch(in, wh)
    rebuilt(before, wh, "fact_daily_inventory")
    unchanged(before, wh, tables.filter(_ != "fact_daily_inventory"): _*)
  }

  /** A night's new orders, keyed past every order so far and placed on
    * `day`, with their lineitems.
    */
  private def night(in: String, name: String, day: LocalDateTime, shift: Long,
                    orders: DataFrame): Unit = nightAt(in, name, lit(day), shift, orders)

  /** [[night]] at `date`, cast to the orders' date type. */
  private def nightAt(in: String, name: String, date: Column, shift: Long, orders: DataFrame): Unit = {
    land(in, "orders", name, orders.withColumn("o_orderkey", $"o_orderkey" + shift)
      .withColumn("o_orderdate", date.cast(orders.schema("o_orderdate").dataType)))
    land(in, "lineitem", name, linesOf(in, orders, shift))
  }

  /** The lineitems of `orders`, moved to the order keys `orders` get `shift` added. */
  private def linesOf(in: String, orders: DataFrame, shift: Long): DataFrame = {
    val lineitem = Tables.table(orders.sparkSession, in, "lineitem")
    lineitem.join(orders.select("o_orderkey"), $"l_orderkey" === $"o_orderkey")
      .withColumn("l_orderkey", $"l_orderkey" + shift).select(lineitem.columns.toSeq.map(col): _*)
  }

  /** sf0.01's orders run from 1995-01-01 to 2001-08-01. */
  private val newDay = LocalDateTime.of(2001, 12, 30, 0, 0)

  test("a night of new keys on a new day appends both facts' rows and keeps every file they hold") {
    val in = fixtures()
    val wh = tmp("graft_inc_wh")
    Warehouse.buildAll(spark, in, wh)
    night(in, "night-01.parquet", newDay, 30000000L, table(in, "orders").orderBy("o_orderkey").limit(8))
    val before = state(wh)
    // dim_order and each fact: one append each, and no years query
    assert(startedBy(Warehouse.buildAll(spark, in, wh)).sqlExecutions === 3)
    for (f <- Seq(daily, monthly)) {
      assert(before(f).subsetOf(files(wh, f)), s"$f rewrote a file it held")
      val gained = files(wh, f) -- before(f)
      assert(gained.nonEmpty && gained.forall(_.path.contains("/year=2001/")), f)
    }
    buildMatchesScratch(in, wh)
  }

  // The guards below land the same orders twice under new keys, so both
  // nights' lineitems fall in the same (part, supplier) groups: a wrong
  // append shows as a group held twice.

  test("new orders later on a held order's day rewrite the daily fact's year") {
    val in = fixtures()
    val wh = tmp("graft_inc_wh")
    val some = table(in, "orders").orderBy("o_orderkey").limit(5).localCheckpoint()
    night(in, "night-01.parquet", newDay, 30000000L, some)
    Warehouse.buildAll(spark, in, wh)
    // ticks after every held one, on the day of the held night
    night(in, "night-02.parquet", newDay.plusHours(18), 40000000L, some)
    val before = state(wh)
    buildMatchesScratch(in, wh)
    rewroteYear(before, wh, daily, 2001)
    // a monthly group holds its order's key, and every key is new
    assert(before(monthly).subsetOf(files(wh, monthly)))
  }

  test("a held lineitem of a late-arriving order rewrites the daily fact's year") {
    val in = fixtures()
    val some = table(in, "orders").orderBy("o_orderkey").limit(5).localCheckpoint()
    // the lineitems land a night before their orders
    land(in, "lineitem", "night-01.parquet", linesOf(in, some, 30000000L))
    val wh = tmp("graft_inc_wh")
    Warehouse.buildAll(spark, in, wh)
    // the orders, with their lineitems sent again
    night(in, "night-02.parquet", newDay, 30000000L, some)
    val before = state(wh)
    buildMatchesScratch(in, wh)
    rewroteYear(before, wh, daily, 2001)
  }

  test("a new lineitem of a held order rewrites that order's year") {
    val in = fixtures()
    val wh = tmp("graft_inc_wh")
    Warehouse.buildAll(spark, in, wh)
    val orders = table(in, "orders")
    night(in, "night-01.parquet", newDay, 30000000L, orders.orderBy("o_orderkey").limit(5))
    val in1996 = orders.where(year($"o_orderdate") === 1996).orderBy("o_orderkey").limit(1)
    land(in, "lineitem", "night-01b.parquet", linesOf(in, in1996, 0L)
      .withColumn("l_linenumber", $"l_linenumber" + 100))
    val before = state(wh)
    buildMatchesScratch(in, wh)
    for (y <- Seq(1996, 2001))
      assert((before(daily) -- outside(before(daily), y)).intersect(files(wh, daily)).isEmpty, y)
    assert(outside(files(wh, daily), 1996, 2001) === outside(before(daily), 1996, 2001))
  }

  test("a UTC-adjusted order date falls on its day in the session time zone") {
    val in = fixtures()
    // the orders' dates as UTC-adjusted INT64 timestamps, read at +01:00
    val plus1 = spark.newSession()
    plus1.conf.set("spark.sql.session.timeZone", "+01:00")
    plus1.conf.set("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
    val orders = Tables.table(plus1, in, "orders")
      .withColumn("o_orderdate", $"o_orderdate".cast("timestamp")).localCheckpoint()
    Files.delete(Paths.get(in, "orders.parquet", "part-00000.parquet"))
    land(in, "orders", "part-00000.parquet", orders)
    val some = orders.orderBy("o_orderkey").limit(5).localCheckpoint()
    // 2001-12-30 00:30 and 01:30 at +01:00, but two days apart in UTC
    val at = Seq("2001-12-29T23:30:00Z", "2001-12-30T00:30:00Z").map(Instant.parse)
    nightAt(in, "night-01.parquet", lit(at(0)), 30000000L, some)
    val wh = tmp("graft_inc_wh")
    Warehouse.buildAll(plus1, in, wh)
    nightAt(in, "night-02.parquet", lit(at(1)), 40000000L, some)
    val conf = spark.sessionState.newHadoopConf()
    def days(s: SparkSession, night: String) = Tables.listing(conf, s"$in/orders.parquet").files
      .filter(_.path.endsWith(night)).flatMap(Tables.range(s, conf, _, "o_orderdate")).map(_.days)
    assert(days(plus1, "night-01.parquet") === days(plus1, "night-02.parquet"))
    assert(days(spark, "night-01.parquet") !== days(spark, "night-02.parquet"))
    val before = state(wh)
    buildMatchesScratch(in, wh, plus1)
    rewroteYear(before, wh, daily, 2001)
  }

  test("an append whose manifest was not published is followed by a full rebuild, not a second append") {
    val in = fixtures()
    val wh = tmp("graft_inc_wh")
    Warehouse.buildAll(spark, in, wh)
    night(in, "night-01.parquet", newDay, 30000000L, table(in, "orders").orderBy("o_orderkey").limit(8))
    // a directory where the daily fact's manifest is staged: its append
    // commits, then publishing the manifest fails
    val staged = Paths.get(wh, "_manifest", s".$daily.json.tmp")
    Files.createDirectories(staged.resolve("x"))
    val before = files(wh, daily)
    intercept[Exception](Warehouse.buildAll(spark, in, wh))
    assert(before.subsetOf(files(wh, daily)) && files(wh, daily).size > before.size)
    assert(!Files.exists(Paths.get(wh, "_manifest", s"$daily.json")))
    Files.delete(staged.resolve("x"))
    Files.delete(staged)
    // equal rows, so no inventory count is doubled
    buildMatchesScratch(in, wh)
  }

  test("a benchmark-shaped night plans from the footers: one SQL execution per table it writes") {
    val in = fixtures()
    val wh = tmp("graft_inc_wh")
    Warehouse.buildAll(spark, in, wh)
    val base = table(in, "orders").orderBy("o_orderkey").limit(8)
      // null customers, and rows re-sent within the night
      .withColumn("o_custkey", when($"o_orderkey" % 3 =!= 0, $"o_custkey"))
      .localCheckpoint()
    night(in, "night-01.parquet", LocalDateTime.of(1996, 7, 4, 0, 0), 30000000L,
      base.unionByName(base.limit(2)))
    val before = state(wh)
    // dim_order, fact_daily_inventory and fact_monthly_payment: one write
    // each, and neither a years query nor an anti-join against dim_order
    assert(startedBy(Warehouse.buildAll(spark, in, wh)).sqlExecutions === 3)
    unchanged(before, wh, "dim_customer", "dim_supplier", "dim_part", "dim_date")
    assert(files(wh, "dim_order").size === before("dim_order").size + 1)
    for (f <- Seq("fact_daily_inventory", "fact_monthly_payment")) {
      assert(outside(files(wh, f), 1996) === outside(before(f), 1996), f)
      assert(files(wh, f) !== before(f), f)
    }
    buildMatchesScratch(in, wh)
  }

  test("orders with INT96 timestamps have no date statistics and rewrite the same years") {
    val in = fixtures()
    // the orders as Spark writes a TIMESTAMP by default: INT96
    val int96 = spark.newSession()
    int96.conf.set("spark.sql.parquet.outputTimestampType", "INT96")
    val orders = Tables.table(int96, in, "orders")
      .withColumn("o_orderdate", $"o_orderdate".cast("timestamp")).localCheckpoint()
    Files.delete(Paths.get(in, "orders.parquet", "part-00000.parquet"))
    land(in, "orders", "part-00000.parquet", orders)
    val wh = tmp("graft_inc_wh")
    buildMatchesScratch(in, wh)

    // new orders in 2010 with their lineitems, and a lineitem of an order
    // placed in 1996
    night(in, "night-01.parquet", LocalDateTime.of(2010, 3, 15, 0, 0), 10000000L,
      table(in, "orders").orderBy("o_orderkey").limit(5))
    val lineitem = table(in, "lineitem")
    val in1996 = table(in, "orders").where(year($"o_orderdate") === 1996).orderBy("o_orderkey").limit(1)
    land(in, "lineitem", "night-01b.parquet", lineitem
      .join(in1996.select("o_orderkey"), $"l_orderkey" === $"o_orderkey")
      .withColumn("l_linenumber", $"l_linenumber" + 100).select(lineitem.columns.toSeq.map(col): _*))
    val conf = spark.sessionState.newHadoopConf()
    val landed = Tables.listing(conf, s"$in/orders.parquet").files
    assert(landed.size === 2 && landed.forall(Tables.range(spark, conf, _, "o_orderdate").isEmpty))
    val before = state(wh)
    buildMatchesScratch(in, wh)
    val daily = "fact_daily_inventory"
    assert(outside(files(wh, daily), 1996, 2010) === outside(before(daily), 1996, 2010))
    assert(files(wh, daily).exists(_.path.contains("/year=2010/")))
    assert((files(wh, daily) -- outside(files(wh, daily), 1996)) !==
      (before(daily) -- outside(before(daily), 1996)))
    val monthly = "fact_monthly_payment"
    assert(outside(files(wh, monthly), 2010) === outside(before(monthly), 2010))
    assert(files(wh, monthly).exists(_.path.contains("/year=2010/")))
  }

  test("a night over 33 files of orders and of lineitem starts as many jobs as over 2") {
    // new keys on a held order's day: the daily fact rewrites that year
    // from every orders and lineitem file
    def nightJobs(baseFiles: Int): Int = {
      val in = fixtures(baseFiles)
      val wh = tmp("graft_inc_wh")
      Warehouse.buildAll(spark, in, wh)
      val some = table(in, "orders").orderBy("o_orderkey").limit(8).localCheckpoint()
      val day = some.select("o_orderdate").as[LocalDateTime].head()
      night(in, "night-01.parquet", day, 30000000L, some)
      for (t <- Seq("orders", "lineitem"))
        assert(Tables.listing(spark, s"$in/$t.parquet").files.size === baseFiles + 1, t)
      val before = state(wh)
      val jobs = jobsStartedBy(Warehouse.buildAll(spark, in, wh))
      rewroteYear(before, wh, daily, day.getYear)
      buildMatchesScratch(in, wh)
      jobs
    }
    assert(nightJobs(32) === nightJobs(1))
  }

  test("a build with no new file starts no Spark job and rewrites nothing") {
    val in = fixtures()
    val wh = tmp("graft_inc_wh")
    val first = Warehouse.buildAll(spark, in, wh)
    val before = everyFile(wh)
    var again: Seq[Warehouse.BuildReport] = Nil
    assert(jobsStartedBy { again = Warehouse.buildAll(spark, in, wh) } === 0)
    assert(again === first)
    assert(everyFile(wh) === before)
  }

  test("a build that fails mid-facts is followed by one equal to a from-scratch build") {
    val in = fixtures()
    val wh = tmp("graft_inc_wh")
    Warehouse.buildAll(spark, in, wh)
    val orders = table(in, "orders")
    land(in, "orders", "night-01.parquet", orders.orderBy("o_orderkey").limit(5)
      .withColumn("o_orderkey", $"o_orderkey" + 10000000L))
    val bad = Paths.get(in, "lineitem.parquet", "night-01.parquet")
    Files.write(bad, "not a parquet file".getBytes("UTF-8"))
    val dimOrder = files(wh, "dim_order")
    intercept[Exception](Warehouse.buildAll(spark, in, wh))
    // the dimensions had landed the night's orders when the facts failed
    assert(files(wh, "dim_order").size === dimOrder.size + 1)
    Files.delete(bad)
    buildMatchesScratch(in, wh)
  }

  test("a lost output file or an unreadable manifest rebuilds that table") {
    val in = fixtures()
    val wh = tmp("graft_inc_wh")
    Warehouse.buildAll(spark, in, wh)
    var before = state(wh)
    Files.delete(Paths.get(before("dim_part").head.path.stripPrefix("file:")))
    buildMatchesScratch(in, wh)
    rebuilt(before, wh, "dim_part")
    unchanged(before, wh, tables.filter(_ != "dim_part"): _*)

    before = state(wh)
    Files.write(Paths.get(wh, "_manifest", "dim_supplier.json"), "{".getBytes("UTF-8"))
    buildMatchesScratch(in, wh)
    rebuilt(before, wh, "dim_supplier")
    unchanged(before, wh, tables.filter(_ != "dim_supplier"): _*)
  }
}
