package perfbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.QueryPlanningTracker
import org.apache.spark.sql.catalyst.plans.logical.{Command, LogicalPlan}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.util.QueryExecutionListener

/** A timed interval at one layer boundary. Times are epoch microseconds
  * so the benchmark's own spans and Spark's listener events (epoch
  * milliseconds) share one clock.
  */
case class Span(id: Long, parent: Long, rid: String, layer: String,
    name: String, startUs: Long, endUs: Long)

/** Work counters of one operation (a request or an operator run),
  * summed over the Spark jobs tagged with its request id.
  */
final class Counters {
  val v = new ConcurrentHashMap[String, java.lang.Double]()
  def add(k: String, x: Double): Unit = v.merge(k, x, (a, b) => a + b)
}

/** All tracing lives in the benchmark: spans kept in memory and written
  * out once at the end, a SparkListener for jobs/stages/tasks, a
  * QueryExecutionListener for scanned files, and an analyzer rule that
  * records which QueryPlanningTracker served each operation so its
  * Catalyst phase times can be read afterwards.
  */
object Trace {
  /** Local property carrying the request id onto every Spark job. */
  val RidKey = "perfbench.rid"

  @volatile var on: Boolean = false

  private val ids = new AtomicLong(0)
  val spans = new ConcurrentLinkedQueue[Span]()
  val counters = new ConcurrentHashMap[String, Counters]()
  private val trackers = new ConcurrentHashMap[QueryPlanningTracker, String]()
  private val byRid = new ConcurrentHashMap[String, ConcurrentLinkedQueue[QueryPlanningTracker]]()
  private val commandTrackers = ConcurrentHashMap.newKeySet[QueryPlanningTracker]()
  private val stageRid = new ConcurrentHashMap[Int, String]()
  private val stageSubmitMs = new ConcurrentHashMap[Int, java.lang.Long]()
  private val jobRid = new ConcurrentHashMap[Int, (String, Long)]()
  private val currentRid = new ThreadLocal[String]()

  private val epochUs0 = System.currentTimeMillis() * 1000L
  private val nano0 = System.nanoTime()
  def nowUs(): Long = epochUs0 + (System.nanoTime() - nano0) / 1000L

  def counters(rid: String): Counters = counters.computeIfAbsent(rid, _ => new Counters)

  def newId(): Long = ids.incrementAndGet()

  def span(parent: Long, rid: String, layer: String, name: String,
      startUs: Long, endUs: Long, id: Long = newId()): Long = {
    if (on) spans.add(Span(id, parent, rid, layer, name, startUs, endUs))
    id
  }

  /** Run `body` with this thread's Spark jobs and plans attributed to
    * `rid` (restored afterwards: HTTP handler threads are pooled).
    */
  def tagged[T](spark: SparkSession, rid: String)(body: => T): T = {
    if (!on) return body
    val sc = spark.sparkContext
    val prev = sc.getLocalProperty(RidKey)
    sc.setLocalProperty(RidKey, rid)
    currentRid.set(rid)
    try body
    finally { sc.setLocalProperty(RidKey, prev); currentRid.remove() }
  }

  /** Catalyst phase milliseconds summed over every tracker an
    * operation used (spark.sql's parse/analyze tracker and the tracker
    * of the plan actually executed are distinct objects). A command's
    * "analysis" phase runs the command itself (a write executes
    * eagerly), so it is left out; its planning phases stay.
    */
  def phasesMs(rid: String): Map[String, Double] = {
    val ts = Option(byRid.get(rid)).map(_.asScala.toSeq).getOrElse(Nil)
    ts.flatMap(t => t.phases.toSeq.filterNot(p =>
        p._1 == QueryPlanningTracker.ANALYSIS && commandTrackers.contains(t)))
      .groupBy(_._1).map { case (k, xs) => k -> xs.map(_._2.durationMs.toDouble).sum }
  }

  private def noteTracker(plan: LogicalPlan): Unit = {
    val rid = currentRid.get()
    if (rid != null) QueryPlanningTracker.get.foreach { t =>
      if (plan.isInstanceOf[Command]) commandTrackers.add(t)
      if (trackers.putIfAbsent(t, rid) == null)
        byRid.computeIfAbsent(rid, _ => new ConcurrentLinkedQueue()).add(t)
    }
  }

  /** Analyzer rule that changes nothing; it only notes the tracker. */
  object CaptureRule extends Rule[LogicalPlan] {
    override def apply(plan: LogicalPlan): LogicalPlan = { if (on) noteTracker(plan); plan }
  }

  object ExecListener extends SparkListener {
    private def ridOf(props: java.util.Properties): String =
      Option(props).flatMap(p => Option(p.getProperty(RidKey))).orNull

    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val rid = ridOf(e.properties)
      if (on && rid != null) {
        jobRid.put(e.jobId, (rid, e.time))
        e.stageIds.foreach(s => stageRid.put(s, rid))
        counters(rid).add("jobs", 1)
      }
    }

    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobRid.remove(e.jobId)).foreach { case (rid, t0) =>
        span(0, rid, "exec", s"job-${e.jobId}", t0 * 1000, e.time * 1000)
      }

    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = {
      val rid = stageRid.get(e.stageInfo.stageId)
      if (rid != null) {
        counters(rid).add("stages", 1)
        stageSubmitMs.put(e.stageInfo.stageId,
          Long.box(e.stageInfo.submissionTime.getOrElse(System.currentTimeMillis())))
      }
    }

    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val rid = stageRid.get(e.stageId)
      if (rid == null) return
      val c = counters(rid)
      val info = e.taskInfo
      c.add("tasks", 1)
      if (!info.successful) c.add("failed_tasks", 1)
      Option(stageSubmitMs.get(e.stageId)).foreach(s =>
        c.add("task_wait_ms", math.max(0L, info.launchTime - s)))
      val m = e.taskMetrics
      if (m != null) {
        c.add("task_run_ms", m.executorRunTime)
        c.add("task_cpu_ms", m.executorCpuTime / 1e6)
        c.add("task_gc_ms", m.jvmGCTime)
        c.add("shuffle_read_bytes", m.shuffleReadMetrics.totalBytesRead)
        c.add("shuffle_write_bytes", m.shuffleWriteMetrics.bytesWritten)
        c.add("spill_bytes", m.memoryBytesSpilled + m.diskBytesSpilled)
        c.add("input_bytes", m.inputMetrics.bytesRead)
        c.add("output_bytes", m.outputMetrics.bytesWritten)
      }
    }
  }

  object PlanListener extends QueryExecutionListener with AdaptiveSparkPlanHelper {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
      val rid = trackers.get(qe.tracker)
      if (rid == null) return
      val files = collectWithSubqueries(qe.executedPlan) {
        case s: FileSourceScanExec => s.metrics.get("numFiles").map(_.value).getOrElse(0L)
      }.sum
      counters(rid).add("scan_files", files.toDouble)
    }
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
  }

  def install(spark: SparkSession): Unit = {
    spark.sparkContext.addSparkListener(ExecListener)
    spark.listenerManager.register(PlanListener)
  }

  /** Block until the listener bus has delivered every event so far. */
  def drain(spark: SparkSession): Unit = org.apache.spark.PerfbenchBridge.drain(spark)
}

/** Loaded through `spark.sql.extensions` (a JVM system property the
  * session builder reads), so the served session is still built by
  * `SparkEngine.local` itself.
  */
class TraceExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(e: SparkSessionExtensions): Unit =
    e.injectResolutionRule(_ => Trace.CaptureRule)
}
