package perfbench

import java.lang.management.ManagementFactory
import java.util.concurrent.ConcurrentHashMap
import javax.management.{Notification, NotificationEmitter, NotificationListener}
import javax.management.openmbean.CompositeData

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import com.sun.management.GarbageCollectionNotificationInfo
import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** The result file's JSON, written with the Jackson Scala module Spark ships. */
object Json {
  private val mapper = new ObjectMapper().registerModule(DefaultScalaModule)
  def write(v: Any): String = mapper.writeValueAsString(v)
}

/** Wall clock in epoch microseconds with nanosecond-timer resolution, so
  * span times line up with the listener's epoch-millisecond job times.
  */
object Clock {
  private val baseEpochUs = System.currentTimeMillis() * 1000L
  private val baseNs = System.nanoTime()
  def nowUs: Long = baseEpochUs + (System.nanoTime() - baseNs) / 1000L
}

/** Summed GC time of every collector, milliseconds. */
object Gc {
  private val beans = ManagementFactory.getGarbageCollectorMXBeans.asScala.toSeq
  def totalMs: Long = beans.map(b => math.max(0L, b.getCollectionTime)).sum
}

/** In-memory span recorder. A span has an id, a parent (the span open on
  * the same thread when it started), a name, start and end times and free
  * attributes. Spark jobs submitted inside a span carry its id as the job's
  * local property [[Tracer.SpanProperty]], which [[JobRecorder]] reads.
  * When disabled, `span` just runs its body.
  */
final class Tracer(sc: SparkContext, val enabled: Boolean) {
  final class Span(val id: Int, val parent: Int, val name: String, val startUs: Long,
                   val gcStartMs: Long) {
    @volatile var endUs: Long = -1L
    @volatile var gcEndMs: Long = -1L
    val attrs: mutable.Map[String, Any] = mutable.LinkedHashMap.empty
  }

  private val spans = mutable.ArrayBuffer.empty[Span]
  private val open = new ThreadLocal[List[Span]] { override def initialValue(): List[Span] = Nil }

  /** Run `body` inside a span; `attrs` may be filled by the body through
    * the span handed to it.
    */
  def span[T](name: String)(body: Span => T): T =
    if (!enabled) body(null)
    else {
      val stack = open.get()
      val s = spans.synchronized {
        val s = new Span(spans.size, stack.headOption.map(_.id).getOrElse(-1), name,
          Clock.nowUs, Gc.totalMs)
        spans += s
        s
      }
      open.set(s :: stack)
      sc.setLocalProperty(Tracer.SpanProperty, s.id.toString)
      try body(s)
      finally {
        s.endUs = Clock.nowUs
        s.gcEndMs = Gc.totalMs
        open.set(stack)
        sc.setLocalProperty(Tracer.SpanProperty, stack.headOption.map(_.id.toString).orNull)
      }
    }

  def dump: Seq[Map[String, Any]] = spans.synchronized(spans.toList).map { s =>
    Map("id" -> s.id, "parent" -> s.parent, "name" -> s.name,
      "start_us" -> s.startUs, "end_us" -> s.endUs,
      "gc_s" -> (s.gcEndMs - s.gcStartMs) / 1000.0, "attrs" -> s.attrs.toMap)
  }
}

object Tracer { val SpanProperty = "perfbench.span" }

/** SparkListener that sums task metrics per job and records, per job, the
  * span it ran under, its start and end, and the scheduling wait of its
  * stages (stage submission to first task launch).
  */
final class JobRecorder extends SparkListener {
  final class Job(val id: Int, val span: Int, val execution: Long, val startMs: Long) {
    var endMs: Long = -1L
    var tasks, runMs, outBytes, shuffleWrite, spill = 0L
    var schedWaitMs = 0L
  }
  private val jobs = new ConcurrentHashMap[Int, Job]()
  private val stageJob = new ConcurrentHashMap[Int, Job]()
  private val stageSubmit = new ConcurrentHashMap[Int, java.lang.Long]()
  private val scans = new ConcurrentHashMap[Long, Map[String, Long]]()

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val span = Option(e.properties).flatMap(p => Option(p.getProperty(Tracer.SpanProperty)))
      .map(_.toInt).getOrElse(-1)
    val execution = Option(e.properties).flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
      .map(_.toLong).getOrElse(-1L)
    val j = new Job(e.jobId, span, execution, e.time)
    jobs.put(e.jobId, j)
    e.stageIds.foreach(sid => stageJob.putIfAbsent(sid, j))
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobs.get(e.jobId)).foreach(j => j.synchronized(j.endMs = e.time))
  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
    stageSubmit.put(e.stageInfo.stageId,
      java.lang.Long.valueOf(e.stageInfo.submissionTime.getOrElse(System.currentTimeMillis())))
  override def onTaskStart(e: SparkListenerTaskStart): Unit = {
    // the first launch of a stage closes its scheduling wait
    val sub = stageSubmit.remove(e.stageId)
    if (sub != null) Option(stageJob.get(e.stageId)).foreach { j =>
      j.synchronized(j.schedWaitMs += math.max(0L, e.taskInfo.launchTime - sub))
    }
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    Option(stageJob.get(e.stageId)).filter(_ => m != null).foreach { j => j.synchronized {
      j.tasks += 1
      j.runMs += m.executorRunTime
      j.outBytes += m.outputMetrics.bytesWritten
      j.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      j.spill += m.memoryBytesSpilled + m.diskBytesSpilled
    }}
  }

  /** Per SQL execution, the bytes, files and rows its file scans read, from
    * the scans' SQL metrics in the executed plan. (The tasks' input metrics
    * miss what the parquet reader fetches through vectored reads.) The
    * execution-end event carries its QueryExecution in a Spark-internal
    * field, hence the reflective read.
    */
  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case end: org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd =>
      val qe = try end.getClass.getMethod("qe").invoke(end)
        catch { case _: ReflectiveOperationException => null }
      qe match {
        case q: org.apache.spark.sql.execution.QueryExecution =>
          val nodes = Main.planNodes(q.executedPlan)
            .collect { case f: org.apache.spark.sql.execution.FileSourceScanLike => f.metrics }
          def sum(key: String) = nodes.flatMap(_.get(key)).map(_.value).sum
          scans.put(end.executionId, Map("bytes" -> sum("filesSize"), "files" -> sum("numFiles"),
            "rows" -> sum("numOutputRows")))
        case _ =>
      }
    case _ =>
  }

  def scansDump: Map[String, Map[String, Long]] =
    scans.asScala.map { case (k, v) => k.toString -> v }.toMap

  def dump: Seq[Map[String, Any]] = jobs.values.asScala.toSeq.sortBy(_.id).map { j =>
    j.synchronized(Map[String, Any]("id" -> j.id, "span" -> j.span, "execution" -> j.execution,
      "start_us" -> j.startMs * 1000L, "end_us" -> j.endMs * 1000L, "tasks" -> j.tasks,
      "run_s" -> j.runMs / 1000.0, "output_bytes" -> j.outBytes,
      "shuffle_write_bytes" -> j.shuffleWrite, "spill_bytes" -> j.spill,
      "sched_wait_s" -> j.schedWaitMs / 1000.0))
  }
}

object JobRecorder {
  /** Block until the listener bus has delivered every posted event. The bus
    * is Spark-internal, hence the reflective call.
    */
  def drain(sc: SparkContext): Unit = {
    val bus = sc.getClass.getMethod("listenerBus").invoke(sc)
    bus.getClass.getMethod("waitUntilEmpty").invoke(bus)
  }
}

/** Process-wide counters read at the edges of a measured window. */
object Usage {
  private val os = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  private val threads = ManagementFactory.getThreadMXBean.asInstanceOf[com.sun.management.ThreadMXBean]

  /** CPU time of every thread of this JVM since it started, seconds. */
  def cpuS: Double = os.getProcessCpuTime / 1e9

  /** Heap bytes allocated by every thread since the JVM started, threads
    * that have ended included.
    */
  def allocatedBytes: Long = threads.getTotalThreadAllocatedBytes
}

/** Old-generation occupancy right after each collection that ran while the
  * monitor was armed, from the JMX GC notifications. Young collections count
  * too: what they promote is memory the ops held long enough to survive
  * them. Notifications arrive asynchronously, so collections are matched to
  * the armed window by their per-collector sequence number.
  */
final class HeapMonitor {
  private val beans = ManagementFactory.getGarbageCollectorMXBeans.asScala.toSeq
  // (collector, sequence number) -> old generation bytes after the collection
  private val after = mutable.Map.empty[(String, Long), Long]
  private var armedAt, disarmedAt = Map.empty[String, Long]

  private def counts = beans.map(b => b.getName -> b.getCollectionCount).toMap
  def arm(): Unit = synchronized { armedAt = counts }
  def disarm(): Unit = synchronized { disarmedAt = counts }

  private val listener = new NotificationListener {
    override def handleNotification(n: Notification, handback: Any): Unit =
      if (n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
        val info = GarbageCollectionNotificationInfo.from(n.getUserData.asInstanceOf[CompositeData])
        val old = info.getGcInfo.getMemoryUsageAfterGc.asScala
          .collect { case (pool, usage) if HeapMonitor.isOld(pool) => usage.getUsed }.sum
        HeapMonitor.this.synchronized(after((info.getGcName, info.getGcInfo.getId)) = old)
      }
  }
  beans.foreach {
    case e: NotificationEmitter => e.addNotificationListener(listener, null, null)
    case _ =>
  }

  /** Collections in the armed window, and the largest old-generation
    * occupancy after one of them in MB (0 when none ran). Waits up to 2 s
    * for the window's notifications.
    */
  def peak(): (Long, Double) = {
    def inWindow = synchronized(after.filter { case ((name, id), _) =>
      id > armedAt.getOrElse(name, 0L) && id <= disarmedAt.getOrElse(name, 0L) })
    val expected = disarmedAt.map { case (k, v) => v - armedAt.getOrElse(k, 0L) }.sum
    val deadline = System.nanoTime() + 2000000000L
    while (inWindow.size < expected && System.nanoTime() < deadline) Thread.sleep(10)
    val seen = inWindow
    (expected, if (seen.isEmpty) 0.0 else seen.values.max / (1024.0 * 1024.0))
  }
}

object HeapMonitor {
  def isOld(pool: String): Boolean = pool.contains("Old Gen") || pool.contains("Tenured")
}
