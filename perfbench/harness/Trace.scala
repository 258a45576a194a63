package perfbench

import java.util.concurrent.ConcurrentLinkedQueue

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.ReusedExchangeExec
import org.apache.spark.sql.util.QueryExecutionListener

/** One traced interval. Times are epoch nanoseconds; `parent` is -1 for an
  * op's root span. Spark job spans hang under the harness span that was
  * open when the job started; stage spans hang under their job.
  */
final case class Span(id: Long, parent: Long, op: Int, name: String,
    start: Long, end: Long)

/** The traced run's collectors: a SparkListener for jobs, stages and task
  * metrics, a QueryExecutionListener for executions and their plan
  * metrics, and the harness's own spans. Work is keyed by op id, which the
  * harness sets as a Spark local property before each op, so a job is
  * charged to the op that submitted it. Spans stay in memory and are
  * written out once, at the end of the run.
  */
final class Trace(spark: SparkSession) {
  import Trace._

  val spans = mutable.ArrayBuffer.empty[Span]
  private var nextId = 0L
  private def newId(): Long = { nextId += 1; nextId }
  private val events = new ConcurrentLinkedQueue[Event]()
  private val qes = new ConcurrentLinkedQueue[QeStats]()

  private def opOf(p: java.util.Properties): Int =
    Option(p).flatMap(x => Option(x.getProperty(OpKey))).map(_.toInt).getOrElse(-1)

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit =
      events.add(JobStart(opOf(e.properties), e.jobId, e.time,
        e.stageInfos.map(_.stageId)))
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      events.add(JobEnd(e.jobId, e.time))
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val si = e.stageInfo
      val m = si.taskMetrics
      events.add(StageDone(si.stageId, si.submissionTime.getOrElse(0L),
        si.completionTime.getOrElse(0L), si.numTasks,
        if (m == null) StageMetrics() else StageMetrics(
          cpuNs = m.executorCpuTime, runMs = m.executorRunTime,
          gcMs = m.jvmGCTime,
          spill = m.memoryBytesSpilled + m.diskBytesSpilled,
          shuffleWrite = m.shuffleWriteMetrics.bytesWritten,
          shuffleRead = m.shuffleReadMetrics.totalBytesRead,
          fetchWaitMs = m.shuffleReadMetrics.fetchWaitTime)))
    }
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
      qes.add(planStats(qe))
    override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit =
      qes.add(planStats(qe))
  }

  spark.sparkContext.addSparkListener(listener)
  spark.listenerManager.register(qeListener)

  def close(): Unit = {
    spark.sparkContext.removeSparkListener(listener)
    spark.listenerManager.unregister(qeListener)
  }

  def beginOp(op: Int): Unit = {
    drainBuses(spark)
    events.clear(); qes.clear()
    spark.sparkContext.setLocalProperty(OpKey, op.toString)
  }

  /** Runs `body` inside a span named `name` under `parent`. */
  def span[A](op: Int, parent: Long, name: String)(body: Long => A): A = {
    val id = newId()
    val t0 = now()
    try body(id)
    finally spans += Span(id, parent, op, name, t0, now())
  }

  /** Waits for the listener buses, then returns what `op` did in Spark
    * and adds its job and stage spans.
    */
  def endOp(op: Int): OpTrace = {
    drainBuses(spark)
    spark.sparkContext.setLocalProperty(OpKey, null)
    val jobs = mutable.LinkedHashMap.empty[Int, (Long, Long)]
    val stageJob = mutable.Map.empty[Int, Int]
    val done = mutable.ArrayBuffer.empty[StageDone]
    var e = events.poll()
    while (e != null) {
      e match {
        case JobStart(o, j, t, st) if o == op =>
          jobs(j) = (t * Ms, t * Ms); st.foreach(stageJob(_) = j)
        case JobEnd(j, t) if jobs.contains(j) => jobs(j) = (jobs(j)._1, t * Ms)
        case d: StageDone if stageJob.contains(d.stageId) => done += d
        case _ => ()
      }
      e = events.poll()
    }
    val opSpans = spans.filter(_.op == op).toSeq
    def owner(t: Long): Option[Span] = opSpans
      .filter(s => s.start <= t + Ms && t <= s.end)
      .sortBy(s => s.end - s.start).headOption
    val jobSpan = mutable.Map.empty[Int, Long]
    jobs.foreach { case (j, (s, en)) =>
      jobSpan(j) = newId()
      spans += Span(jobSpan(j), owner(s).map(_.id).getOrElse(-1L), op, "spark.job", s, en)
    }
    done.foreach { d =>
      spans += Span(newId(), jobSpan(stageJob(d.stageId)), op, "spark.stage",
        d.submitted * Ms, d.completed * Ms)
    }
    val plans = mutable.ArrayBuffer.empty[QeStats]
    var q = qes.poll()
    while (q != null) { plans += q; q = qes.poll() }
    OpTrace(jobs.size, done.size, done.map(_.tasks).sum, jobs.values.toSeq,
      done.map(_.metrics).foldLeft(StageMetrics())(_ + _), plans.toSeq)
  }
}

object Trace {
  val OpKey = "perfbench.op"
  private val Ms = 1000000L

  private val epochBase = System.currentTimeMillis() * Ms
  private val nanoBase = System.nanoTime()
  /** Epoch nanoseconds on the monotonic clock (listener times are epoch ms). */
  def now(): Long = epochBase + (System.nanoTime() - nanoBase)

  sealed trait Event
  final case class JobStart(op: Int, job: Int, time: Long, stages: Seq[Int]) extends Event
  final case class JobEnd(job: Int, time: Long) extends Event
  final case class StageDone(stageId: Int, submitted: Long, completed: Long,
      tasks: Int, metrics: StageMetrics) extends Event

  final case class StageMetrics(cpuNs: Long = 0, runMs: Long = 0, gcMs: Long = 0,
      spill: Long = 0, shuffleWrite: Long = 0, shuffleRead: Long = 0,
      fetchWaitMs: Long = 0) {
    def +(o: StageMetrics): StageMetrics = StageMetrics(cpuNs + o.cpuNs,
      runMs + o.runMs, gcMs + o.gcMs, spill + o.spill,
      shuffleWrite + o.shuffleWrite, shuffleRead + o.shuffleRead,
      fetchWaitMs + o.fetchWaitMs)
  }

  /** File-scan metrics summed over the scans of one executed plan. */
  final case class QeStats(files: Long, bytes: Long, rows: Long, scanNs: Long)

  final case class OpTrace(jobs: Int, stages: Int, tasks: Int,
      jobIntervals: Seq[(Long, Long)], metrics: StageMetrics, plans: Seq[QeStats])

  /** Walks the executed plan (through adaptive stages and subqueries,
    * counting a reused exchange once) and sums the file-scan metrics.
    */
  def planStats(qe: QueryExecution): QeStats = {
    var files, bytes, rows, ns = 0L
    def visit(p: SparkPlan): Unit = p match {
      case a: AdaptiveSparkPlanExec => visit(a.executedPlan)
      case s: QueryStageExec => visit(s.plan)
      case _: ReusedExchangeExec => ()
      case other =>
        val m = other.metrics
        if (m.contains("numFiles")) {
          files += m("numFiles").value
          bytes += m.get("filesSize").map(_.value).getOrElse(0L)
          rows += m.get("numOutputRows").map(_.value).getOrElse(0L)
          ns += m.get("scanTime").map { t =>
            if (t.metricType == "nsTiming") t.value else t.value * Ms
          }.getOrElse(0L)
        }
        other.children.foreach(visit)
        other.subqueries.foreach(visit)
    }
    try visit(qe.executedPlan) catch { case _: Throwable => () }
    QeStats(files, bytes, rows, ns)
  }

  /** Blocks until the Spark listener bus has delivered every queued event
    * (`waitUntilEmpty` is public in the bytecode, not in the Scala API).
    */
  def drainBuses(spark: SparkSession): Unit =
    try {
      val bus = spark.sparkContext.getClass.getMethod("listenerBus")
        .invoke(spark.sparkContext)
      bus.getClass.getMethod("waitUntilEmpty", java.lang.Long.TYPE)
        .invoke(bus, java.lang.Long.valueOf(10000L))
    } catch { case _: Throwable => Thread.sleep(200) }
}
