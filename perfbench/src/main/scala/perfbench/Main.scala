package perfbench

import java.nio.file.{Files, Paths, StandardCopyOption}
import java.util.concurrent.CyclicBarrier

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.ReusedExchangeExec
import org.apache.spark.sql.execution.joins.BaseJoinExec
import org.apache.spark.sql.functions.col
import org.apache.spark.storage.StorageLevel

import graft.analytics.{Breadth, Breadth2, Queries}
import graft.dedup.Dedup
import graft.etl.{Dims, Facts, Warehouse}
import graft.io.Tables
import graft.operators.Sampling
import graft.pipeline.Curation
import graft.text.TextOps

/** One benchmark invocation inside one JVM: build the session, run the
  * untimed warm-up, run timed rounds of the closed loop for `--seconds`, and
  * with `--trace 1` a second, traced pass over as many rounds. Everything
  * measured is written to `--out` as JSON; `run.py` turns it into metrics
  * and checks the outputs.
  *
  * Usage: Main --workload W --data DIR --work DIR --seconds S --trace 0|1
  *             --cores N --out FILE [--stream FILE]
  */
object Main {

  final case class OpRec(client: Int, index: Int, label: String, startUs: Long, endUs: Long,
                         ok: Boolean, error: String, attrs: Map[String, Any])

  /** A closed-loop workload run in rounds: in a round each of `clients`
    * threads runs its ops back to back, then waits for the others, so every
    * measured window holds whole rounds.
    */
  trait Workload {
    def clients: Int = 1
    def warmup(): Unit
    /** Rounds the (pre-generated) inputs hold. */
    def rounds: Int
    /** Op indices client `c` runs in round `r`. */
    def ops(c: Int, r: Int): Seq[Int] = Seq(r)
    def label(c: Int, i: Int): String
    def op(c: Int, i: Int, t: Tracer): Map[String, Any]
    def extra: Map[String, Any] = Map.empty
    /** Whether the traced pass replays the timed pass's rounds (stateless
      * workloads) rather than continuing after them.
      */
    def replays: Boolean = false
  }

  private def noop(df: DataFrame): Unit = df.write.mode("overwrite").format("noop").save()

  def main(argv: Array[String]): Unit = {
    val a = argv.grouped(2).map { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val cores = a("cores").toInt
    val seconds = a("seconds").toDouble
    val traced = a("trace") == "1"
    val work = a("work")

    val t0 = Clock.nowUs
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sessionUs = Clock.nowUs - t0

    val w: Workload = a("workload") match {
      case "etl_nightly" => new EtlNightly(spark, a("data"), work)
      case "bi_dashboard" => new BiDashboard(spark, a("data"), a("stream"))
      case "corpus_ingest" => new CorpusIngest(spark, a("data"), work)
      case other => sys.error(s"unknown workload $other")
    }
    val heap = new HeapMonitor

    val tw = Clock.nowUs
    w.warmup()
    val warmupUs = Clock.nowUs - tw
    // every timed region starts from the same collected heap
    System.gc()

    val off = new Tracer(spark.sparkContext, enabled = false)
    val setupCpuS = Usage.cpuS
    val alloc0 = Usage.allocatedBytes
    heap.arm()
    val (timed, timedRounds) = runPhase(w, off, Some(seconds * (if (traced) 0.5 else 1.0)))
    heap.disarm()
    val windowCpuS = Usage.cpuS - setupCpuS
    val windowAlloc = Usage.allocatedBytes - alloc0
    val (gcs, peakOldMb) = heap.peak()

    var tracedPhase: Option[(Seq[OpRec], Tracer, JobRecorder)] = None
    if (traced) {
      val rec = new JobRecorder
      spark.sparkContext.addSparkListener(rec)
      val tracer = new Tracer(spark.sparkContext, enabled = true)
      val (ops, _) = runPhase(w, tracer, None, if (w.replays) 0 else timedRounds, timedRounds)
      JobRecorder.drain(spark.sparkContext)
      tracedPhase = Some((ops, tracer, rec))
    }

    def opsJson(ops: Seq[OpRec]) = ops.map(o => Map("client" -> o.client, "index" -> o.index,
      "label" -> o.label, "start_us" -> o.startUs, "end_us" -> o.endUs, "ok" -> o.ok,
      "error" -> o.error, "attrs" -> o.attrs))
    val out = Map[String, Any](
      "workload" -> a("workload"), "cores" -> cores,
      "session_s" -> sessionUs / 1e6, "warmup_s" -> warmupUs / 1e6,
      "setup_cpu_s" -> setupCpuS, "window_cpu_s" -> windowCpuS,
      "window_alloc_bytes" -> windowAlloc, "window_gcs" -> gcs, "peak_old_gen_mb" -> peakOldMb,
      "ops" -> opsJson(timed),
      "traced" -> tracedPhase.map { case (ops, tracer, rec) =>
        Map("ops" -> opsJson(ops), "spans" -> tracer.dump, "jobs" -> rec.dump,
          "scans" -> rec.scansDump)
      },
      "extra" -> w.extra)
    Files.write(Paths.get(a("out")), Json.write(out).getBytes("UTF-8"))
    spark.stop()
  }

  /** Run rounds from `firstRound` on until the deadline has passed (checked
    * when a round ends), `maxRounds` are done or the inputs run out.
    * Returns the ops run and the number of rounds.
    */
  def runPhase(w: Workload, t: Tracer, seconds: Option[Double], firstRound: Int = 0,
               maxRounds: Int = Int.MaxValue): (Seq[OpRec], Int) = {
    val deadlineUs = seconds.map(s => Clock.nowUs + (s * 1e6).toLong)
    val recs = java.util.Collections.synchronizedList(new java.util.ArrayList[OpRec]())
    var round = firstRound
    def more = round < w.rounds && round - firstRound < maxRounds && deadlineUs.forall(Clock.nowUs < _)
    var go = more
    val barrier = new CyclicBarrier(w.clients, () => { round += 1; go = more })
    val threads = (0 until w.clients).map { c =>
      new Thread(() => while (go) {
        for (i <- w.ops(c, round)) {
          val s = Clock.nowUs
          val (ok, err, attrs) =
            try { val at = t.span("op") { sp =>
                    if (sp != null) sp.attrs("label") = w.label(c, i)
                    w.op(c, i, t) }
                  (true, null, at) }
            catch { case e: Throwable =>
              System.err.println(s"[perfbench] op ${w.label(c, i)} failed: $e")
              e.printStackTrace()
              (false, e.toString, Map.empty[String, Any]) }
          recs.add(OpRec(c, i, w.label(c, i), s, Clock.nowUs, ok, err, attrs))
        }
        barrier.await()
      }, s"perfbench-client-$c")
    }
    threads.foreach(_.start())
    threads.foreach(_.join())
    (recs.asScala.toSeq.sortBy(_.startUs), round - firstRound)
  }

  /** Java objects of a collected row as JSON-friendly values. */
  def plain(v: Any): Any = v match {
    case null => null
    case d: java.sql.Date => d.toString
    case d: java.time.LocalDate => d.toString
    case ts: java.sql.Timestamp => ts.toString
    case ts: java.time.LocalDateTime => ts.toString
    case b: java.math.BigDecimal => b.toPlainString
    case other => other
  }

  /** Every node of an executed plan, looking through adaptive query stages. */
  def planNodes(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => planNodes(a.executedPlan)
    case q: QueryStageExec => planNodes(q.plan)
    case r: ReusedExchangeExec => planNodes(r.child)
    case other => other +: other.children.flatMap(planNodes)
  }

  /** numOutputRows of every join in an executed plan. */
  def joinOutputRows(p: SparkPlan): Seq[Long] =
    planNodes(p).collect { case j: BaseJoinExec => j }.flatMap(_.metrics.get("numOutputRows")).map(_.value)

  def fileCount(dir: String): Long = {
    val p = Paths.get(dir)
    if (!Files.exists(p)) 0L
    else {
      val s = Files.walk(p)
      try s.iterator.asScala.count(f => f.getFileName.toString.endsWith(".parquet")).toLong
      finally s.close()
    }
  }

  // --------------------------------------------------------------- workloads

  /** The reference's daily DAG: each op lands one night of new input files
    * in the table directories, then rebuilds the warehouse.
    */
  final class EtlNightly(spark: SparkSession, data: String, work: String) extends Workload {
    private val wh = s"$work/warehouse"
    private val nights = {
      val p = Paths.get(data, "nights")
      if (Files.isDirectory(p)) Files.list(p).iterator.asScala.count(Files.isDirectory(_)) else 0
    }
    @volatile private var landed = 0

    // the first build compiles most code paths; after one build only, the
    // first timed night allocated 10% more than the next
    def warmup(): Unit = (1 to 2).foreach(_ => Warehouse.buildAll(spark, data, wh))
    def rounds: Int = nights
    def label(c: Int, i: Int): String = f"night-${i + 1}%04d"

    private def land(i: Int): Unit = {
      val n = f"${i + 1}%04d"
      for (table <- Seq("orders", "lineitem")) {
        val src = Paths.get(data, "nights", n, s"$table.parquet", "part-00000.parquet")
        Files.move(src, Paths.get(data, s"$table.parquet", s"night-$n.parquet"),
          StandardCopyOption.ATOMIC_MOVE)
      }
      landed = i + 1
    }

    def op(c: Int, i: Int, t: Tracer): Map[String, Any] = {
      t.span("io.land")(_ => land(i))
      if (t.enabled) isolateLayers(t)
      val reports = t.span("etl.load") { sp =>
        val r = Warehouse.buildAll(spark, data, wh)
        if (sp != null) sp.attrs("files") = fileCount(wh)
        r
      }
      Map("rows" -> reports.map(r => r.table -> r.rows).toMap)
    }

    /** Traced op only: each dimension and fact builder materialized on its
      * own (into a cache, through the noop sink), then each cached result
      * written on its own, so compute and write time separate.
      */
    private def isolateLayers(t: Tracer): Unit = {
      def year(df: DataFrame) = df.withColumn("year", (col("date_id") / 10000).cast("int"))
      val builders: Seq[(String, String, () => DataFrame)] = Seq(
        ("etl.dims", "dim_customer", () => Dims.dimCustomer(Tables.customer(spark, data))),
        ("etl.dims", "dim_supplier", () => Dims.dimSupplier(Tables.supplier(spark, data))),
        ("etl.dims", "dim_part", () => Dims.dimPart(Tables.part(spark, data))),
        ("etl.dims", "dim_order", () => Dims.dimOrder(Tables.orders(spark, data))),
        ("etl.dims", "dim_date", () => Dims.dimDate(spark)),
        ("etl.facts", "fact_daily_inventory", () => year(Facts.factDailyInventory(
          Tables.lineitem(spark, data), Tables.orders(spark, data)))),
        ("etl.facts", "fact_monthly_payment", () => year(Facts.factMonthlyPayment(
          Tables.orders(spark, data)))))
      for ((layer, name, build) <- builders) {
        val df = t.span(layer) { sp =>
          sp.attrs("table") = name
          val d = build().persist(StorageLevel.MEMORY_AND_DISK)
          noop(d)
          d
        }
        t.span("io.write") { sp =>
          sp.attrs("table") = name
          val path = s"$work/trace-warehouse/$name"
          Tables.write(df, path, if (layer == "etl.facts") Seq("year") else Nil)
          sp.attrs("files") = fileCount(path)
        }
        df.unpersist(blocking = true)
      }
    }

    override def extra: Map[String, Any] = Map("nights_landed" -> landed, "warehouse" -> wh)
  }

  /** Dashboard panels loading at once: a round is one refresh of the
    * dashboard, whose panels (`template:param`, one line of the pre-generated
    * stream file) two closed-loop clients sharing the session load in turn.
    */
  final class BiDashboard(spark: SparkSession, data: String, streamFile: String) extends Workload {
    private val refreshes: IndexedSeq[IndexedSeq[(String, Int)]] =
      Files.readAllLines(Paths.get(streamFile)).asScala.toIndexedSeq.map(_.trim).filter(_.nonEmpty)
        .map(_.split(" ").toIndexedSeq.map { q => val Array(t, p) = q.split(":"); (t, p.toInt) })
    private val panels = refreshes.head.size
    private val captured = new java.util.concurrent.ConcurrentHashMap[String, Map[String, Any]]()

    override def clients: Int = 2
    override def replays: Boolean = true
    def rounds: Int = refreshes.size
    override def ops(c: Int, r: Int): Seq[Int] = (c until panels by clients).map(r * panels + _)
    private def panel(i: Int) = refreshes(i / panels)(i % panels)

    def query(t: String, p: Int): DataFrame = {
      def li = Tables.lineitem(spark, data)
      def ord = Tables.orders(spark, data)
      t match {
        case "q1" => Queries.q1MonthlyRevenue(ord)
        case "q2" => Queries.q2TopParts(li, ord, Tables.part(spark, data), p)
        case "q3" => Queries.q3DailySeries(li, ord, p.toLong)
        case "top_customers" => Breadth.topCustomers(ord, Tables.customer(spark, data), p)
        case "rollup" => Breadth.revenueRollup(ord)
        case "trailing7" => Breadth2.trailing7DayRevenue(ord)
        case "gapfill" => Breadth2.gapFillDaily(li, ord, p.toLong)
      }
    }

    private def run(t: String, p: Int, tr: Tracer, capture: Boolean): Array[Row] = {
      if (tr.enabled && Set("q2", "q3", "gapfill")(t))
        tr.span("etl.facts")(_ => noop(Facts.factDailyInventory(
          Tables.lineitem(spark, data), Tables.orders(spark, data))))
      val rows = tr.span("analytics.query") { sp =>
        if (sp != null) sp.attrs("template") = t
        val df = tr.span("analytics.build")(_ => query(t, p))
        tr.span("analytics.plan")(_ => df.queryExecution.executedPlan)
        val r = tr.span("analytics.exec")(_ => df.collect())
        (df.columns, r)
      }
      // gapfill persists an intermediate; the library leaves its release
      // to the caller
      if (t == "gapfill") spark.catalog.clearCache()
      val key = s"$t:$p"
      if (capture && !captured.containsKey(key))
        captured.putIfAbsent(key, Map("columns" -> rows._1.toSeq,
          "rows" -> rows._2.toSeq.map(r => r.toSeq.map(plain))))
      rows._2
    }

    /** The first refresh, twice: after one the queries still run several
      * times slower than warm.
      */
    def warmup(): Unit = (1 to 2).foreach(_ => runPhase(this, new Tracer(null, false), None, 0, 1))
    def label(c: Int, i: Int): String = { val (t, p) = panel(i); s"$t:$p" }
    def op(c: Int, i: Int, tr: Tracer): Map[String, Any] = {
      val (t, p) = panel(i)
      Map("result_rows" -> run(t, p, tr, capture = !tr.enabled).length)
    }
    override def extra: Map[String, Any] = Map("captured" -> captured.asScala.toMap)
  }

  /** LLM-data ingest: each op curates one crawl batch, drops what is a
    * near-duplicate of the corpus so far, and appends the rest to it.
    */
  final class CorpusIngest(spark: SparkSession, data: String, work: String) extends Workload {
    private val corpusDir = s"$data/corpus.parquet"
    private val batches = {
      val p = Paths.get(data, "batches")
      if (Files.isDirectory(p)) Files.list(p).iterator.asScala.count(Files.isDirectory(_)) else 0
    }
    @volatile private var ingested = 0

    def warmup(): Unit = {
      val base = Curation.curate(Tables.documents(spark, s"$data/base"))
      Tables.write(base, corpusDir)
      spark.catalog.clearCache()
      // warm the probe path on a slice of the base
      noop(Dedup.incrementalNearDup(corpus, Tables.documents(spark, s"$data/base").limit(500)))
    }

    private def corpus: DataFrame = Tables.table(spark, data, "corpus")
    def rounds: Int = batches
    def label(c: Int, i: Int): String = f"batch-${i + 1}%04d"

    def op(c: Int, i: Int, t: Tracer): Map[String, Any] = {
      val batch = Tables.documents(spark, f"$data/batches/${i + 1}%04d")
      if (t.enabled) isolateLayers(batch, t)
      val curated = t.span("pipeline.curate") { sp =>
        val cur = Curation.curate(batch).persist(StorageLevel.MEMORY_AND_DISK)
        if (sp != null) sp.attrs("curated_rows") = cur.count()
        cur
      }
      val probe = Dedup.incrementalNearDup(corpus, curated)
      val dups = t.span("dedup.probe") { sp =>
        val pairs = probe.collect()
        if (sp != null) {
          sp.attrs("candidate_pairs") = joinOutputRows(probe.queryExecution.executedPlan).sum
          sp.attrs("pairs") = pairs.length.toLong
        }
        pairs.map(_.getLong(0)).distinct
      }
      if (t.enabled) t.span("dedup.index")(_.attrs("corpus_rows") = corpus.count())
      val survivors = curated.filter(!col("doc_id").isin(dups.toSeq: _*))
      t.span("io.write") { sp =>
        val before = fileCount(corpusDir)
        Tables.write(survivors, corpusDir, mode = "append")
        if (sp != null) sp.attrs("files") = fileCount(corpusDir) - before
      }
      if (t.enabled) t.span("pipeline.cache") { sp =>
        sp.attrs("cache_bytes") = spark.sparkContext.getRDDStorageInfo
          .map(r => r.memSize + r.diskSize).sum
      }
      spark.catalog.clearCache()
      ingested = i + 1
      Map("near_dups_dropped" -> dups.length)
    }

    /** Traced op only: each layer function of the curation pipeline
      * materialized on its own through the noop sink.
      */
    private def isolateLayers(batch: DataFrame, t: Tracer): Unit = {
      t.span("text.quality")(_ => noop(TextOps.quality(batch)))
      t.span("dedup.exact")(_ => noop(Dedup.exactDedup(batch)))
      t.span("dedup.minhash")(_ => noop(Dedup.minhashDedup(batch, threshold = 0.7)))
      spark.catalog.clearCache()
      t.span("operators.sample")(_ => noop(
        Sampling.hashSamplePerGroup(batch, "source", "doc_id", 1000000)))
    }

    override def extra: Map[String, Any] = Map("batches_ingested" -> ingested)
  }
}
