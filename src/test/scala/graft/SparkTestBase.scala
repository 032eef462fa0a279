package graft

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicInteger

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.exchange.ReusedExchangeExec
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart

/** One shared local SparkSession for the whole test JVM (sbt forks one). */
object TestSpark {
  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.warehouse.dir",
        java.nio.file.Files.createTempDirectory("graft_wh_").toString)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
  val sfDir = "/root/testdata/sf0.001"

  /** Jobs started while `body` runs on this thread. A sentinel job run
    * after `body` in the same job group marks the end: listener events
    * arrive in order, so once the sentinel is seen every job `body`
    * started has been counted.
    */
  def jobsStartedBy(body: => Unit): Int = startedBy(body).jobs

  final case class Starts(jobs: Int, sqlExecutions: Int)

  /** Jobs and SQL executions (one per Dataset action, an eager cache
    * build included) started while `body` runs on this thread, both
    * counted up to the same sentinel.
    */
  def startedBy(body: => Unit): Starts = {
    val sc = spark.sparkContext
    val group = s"jobs-${java.util.UUID.randomUUID()}"
    val seen = new ConcurrentLinkedQueue[String]()
    val executions = new AtomicInteger()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (e.properties != null && e.properties.getProperty("spark.jobGroup.id") == group)
          seen.add(String.valueOf(e.properties.getProperty("spark.job.description")))
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case x: SparkListenerSQLExecutionStart if x.jobGroupId.contains(group) =>
          executions.incrementAndGet()
        case _ =>
      }
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, "body")
      body
      sc.setJobGroup(group, "sentinel")
      sc.parallelize(Seq(1), 1).count()
      val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
      while (!seen.contains("sentinel") && System.nanoTime() < deadline) Thread.sleep(10)
      assert(seen.contains("sentinel"), "the listener never saw the sentinel job")
      Starts(seen.asScala.count(_ != "sentinel"), executions.get())
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(listener)
    }
  }

  /** Every node of an executed plan, each once: through AQE stages and
    * into each in-memory relation's cached plan (a relation scanned twice
    * is walked once). A reused exchange is a leaf — the subtree it reuses
    * is counted where it first appears.
    */
  def planNodes(plan: SparkPlan): Seq[SparkPlan] = {
    val walked = java.util.Collections.newSetFromMap(
      new java.util.IdentityHashMap[AnyRef, java.lang.Boolean]())
    def walk(p: SparkPlan): Seq[SparkPlan] = p match {
      case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
      case q: QueryStageExec => walk(q.plan)
      case r: ReusedExchangeExec => Seq(r)
      case m: InMemoryTableScanExec =>
        m +: (if (walked.add(m.relation.cacheBuilder)) walk(m.relation.cachedPlan) else Nil)
      case other => other +: other.children.flatMap(walk)
    }
    walk(plan)
  }

  /** The aggregate operators (hash, sort or object-hash) of an executed plan. */
  def aggregateNodes(plan: SparkPlan): Seq[BaseAggregateExec] =
    planNodes(plan).collect { case a: BaseAggregateExec => a }
}
