package perfbench

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
import org.apache.spark.sql.util.QueryExecutionListener

/** One traced interval. Times are epoch milliseconds; the harness's own
  * spans carry sub-millisecond digits, Spark's listener events whole ones. */
final case class Span(
    id: Long, name: String, start: Double, end: Double, parent: Long,
    op: String, pass: Int, attrs: Map[String, Any] = Map.empty) {
  def toMap: Map[String, Any] = Map(
    "id" -> id, "name" -> name, "start" -> start, "end" -> end,
    "parent" -> parent, "op" -> op, "pass" -> pass) ++ attrs
}

/** In-memory span recorder fed from outside the program: the harness's
  * calls into graft, Spark's public SparkListener events (jobs, stages,
  * tasks with their metrics) and QueryExecutionListener callbacks (the
  * QueryPlanningTracker phases and the executed plan). Nothing is written
  * until [[spans]] is read at exit.
  *
  * Jobs carry the harness's `perfbench.op`/`perfbench.pass` local
  * properties, so stages and tasks are attributed to the op that ran them.
  * Query executions finish on the listener bus with no such property; they
  * are attributed by time in the analysis, which is sound because one
  * client thread issues one op at a time. */
final class Trace extends SparkListener with QueryExecutionListener
    with AdaptiveSparkPlanHelper {
  @volatile var enabled = false
  @volatile private var lastEventMs = System.currentTimeMillis()
  private val out = new ConcurrentLinkedQueue[Span]()
  private val ids = new java.util.concurrent.atomic.AtomicLong(0)

  /** jobId -> (span id, op, pass, parent span, start ms) of running jobs. */
  private val jobOf =
    new java.util.concurrent.ConcurrentHashMap[Int, (Long, String, Int, Long, Long)]()
  /** stageId -> (job span id, op, pass). */
  private val stageOf = new java.util.concurrent.ConcurrentHashMap[Int, (Long, String, Int)]()

  def nextId(): Long = ids.incrementAndGet()

  def add(s: Span): Unit = if (enabled) out.add(s)

  private def seen(): Unit = lastEventMs = System.currentTimeMillis()

  /** True once no job is open and no event arrived for `quietMs`. */
  def quiet(quietMs: Long): Boolean =
    jobOf.isEmpty && System.currentTimeMillis() - lastEventMs >= quietMs

  def spans: Seq[Span] = out.asScala.toSeq

  override def onJobStart(e: SparkListenerJobStart): Unit = if (enabled) {
    seen()
    def prop(k: String): Option[String] =
      Option(e.properties).flatMap(p => Option(p.getProperty(k)))
    val op = prop("perfbench.op").getOrElse("")
    val pass = prop("perfbench.pass").map(_.toInt).getOrElse(-1)
    val parent = prop("perfbench.span").map(_.toLong).getOrElse(0L)
    val id = nextId()
    jobOf.put(e.jobId, (id, op, pass, parent, e.time))
    e.stageIds.foreach(s => stageOf.put(s, (id, op, pass)))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = if (enabled) {
    seen()
    Option(jobOf.remove(e.jobId)).foreach { case (id, op, pass, parent, start) =>
      out.add(Span(id, "job", start.toDouble, e.time.toDouble, parent, op, pass,
        Map("ok" -> (e.jobResult == JobSucceeded))))
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = if (enabled) {
    seen()
    val info = e.stageInfo
    Option(stageOf.get(info.stageId)).foreach { case (jobSpan, op, pass) =>
      val start = info.submissionTime.getOrElse(0L).toDouble
      val end = info.completionTime.getOrElse(0L).toDouble
      out.add(Span(nextId(), "stage", start, end, jobSpan, op, pass,
        Map("stage" -> info.stageId, "attempt" -> info.attemptNumber(),
          "tasks" -> info.numTasks)))
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = if (enabled) {
    seen()
    val ti = e.taskInfo
    val m = Option(e.taskMetrics)
    val (jobSpan, op, pass) = Option(stageOf.get(e.stageId)).getOrElse((0L, "", -1))
    def metric(f: org.apache.spark.executor.TaskMetrics => Long): Long = m.map(f).getOrElse(0L)
    out.add(Span(nextId(), "task", ti.launchTime.toDouble, ti.finishTime.toDouble,
      jobSpan, op, pass, Map(
        "stage" -> e.stageId,
        "ok" -> ti.successful,
        "run_ms" -> metric(_.executorRunTime),
        "cpu_ms" -> metric(_.executorCpuTime) / 1e6,
        "gc_ms" -> metric(_.jvmGCTime),
        "in_bytes" -> metric(_.inputMetrics.bytesRead),
        "in_records" -> metric(_.inputMetrics.recordsRead),
        "shuffle_read" -> metric(x => x.shuffleReadMetrics.remoteBytesRead +
          x.shuffleReadMetrics.localBytesRead),
        "shuffle_write" -> metric(_.shuffleWriteMetrics.bytesWritten),
        "spill" -> metric(x => x.memoryBytesSpilled + x.diskBytesSpilled),
        "out_bytes" -> metric(_.outputMetrics.bytesWritten))))
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    record(qe, ok = true)

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
    record(qe, ok = false)

  private def record(qe: QueryExecution, ok: Boolean): Unit = if (enabled) {
    seen()
    val id = nextId()
    val phases = qe.tracker.phases
    phases.foreach { case (phase, p) =>
      out.add(Span(nextId(), s"catalyst.$phase", p.startTimeMs.toDouble,
        p.endTimeMs.toDouble, id, "", -1))
    }
    val plan = qe.executedPlan
    val exchanges = collectWithSubqueries(plan) { case x: ShuffleExchangeLike => x }.size
    val kernels = plan.toString.contains("graft_")
    // the span covers the planning phases; execution itself shows as jobs
    val t0 = phases.values.map(_.startTimeMs).minOption.getOrElse(System.currentTimeMillis())
    val t1 = phases.values.map(_.endTimeMs).maxOption.getOrElse(t0)
    out.add(Span(id, "query_execution", t0.toDouble, t1.toDouble, 0L, "", -1,
      Map("ok" -> ok, "exchanges" -> exchanges, "kernels" -> kernels)))
  }
}

object Trace {
  /** Listener events arrive asynchronously; before a pass's recording is
    * switched off, wait (untimed) until its events have been delivered. */
  def drain(t: Trace): Unit = {
    val deadline = System.currentTimeMillis() + 5000
    while (!t.quiet(200) && System.currentTimeMillis() < deadline) Thread.sleep(20)
  }
}
