package perfbench

import java.lang.management.ManagementFactory

import scala.jdk.CollectionConverters._

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.SparkSession

/** One timed unit of work. `define` is the call that builds the operation
  * (for a query, `SparkEntry.queries(name)(spark, dir)`); `act` is the
  * action that follows it, told whether this is the cold pass; a Map it
  * returns is kept with the sample. `check` runs untimed after the op's
  * first execution and returns an error message when the output is wrong. */
final case class Op(
    name: String, kind: String,
    define: () => Any,
    act: (Any, Boolean) => Any,
    check: Any => Option[String] = _ => None)

/** Runs passes over an op list in a closed loop (one op at a time, from
  * this thread) and records every op's define and action time.
  *
  * The warm phase is bounded by a pass count, never by wall clock: a fixed
  * number of discarded passes lets JIT and codegen settle, then a fixed
  * number of timed passes is measured, so the measured point on the
  * warm-up curve does not depend on machine speed. */
final class Runner(
    val spark: SparkSession, val dataDir: String, val workDir: String,
    val seed: Long, trace: Option[Trace]) {
  private val sc = spark.sparkContext

  /** The op order of pass `pass`: a seeded shuffle, different per pass. */
  def order[T](items: Seq[T], pass: Int): Seq[T] =
    new scala.util.Random(seed * 1000003L + pass).shuffle(items)

  /** Runs `nDiscard` + `nTimed` passes after one cold pass; `ordered`
    * gives a pass's op sequence. Returns the passes as raw samples. */
  def passes(nDiscard: Int, nTimed: Int, ordered: Int => Seq[Op]): Seq[Map[String, Any]] =
    (0 to nDiscard + nTimed).map { p =>
      val kind = if (p == 0) "cold" else if (p <= nDiscard) "discard" else "timed"
      // in a traced run the timed passes are traced in a pattern mirrored
      // about the middle pass (T U T, T U U T, ...), so a warm-up trend that
      // is still linear over them cancels from the tracing overhead
      val i = p - nDiscard - 1
      val traced = trace.isDefined &&
        (p == 0 || (kind == "timed" && math.min(i, nTimed - 1 - i) % 2 == 0))
      runPass(p, kind, traced, ordered(p))
    }

  private def runPass(pass: Int, kind: String, traced: Boolean, ops: Seq[Op]): Map[String, Any] = {
    trace.foreach(_.enabled = traced)
    val before = Counters.read()
    var checkNs = 0L
    val t0 = System.nanoTime()
    val startMs = System.currentTimeMillis()
    val samples = ops.map { op =>
      val s = runOp(op, pass, cold = kind == "cold")
      if (kind == "cold" && s("ok") == true) {
        val c0 = System.nanoTime()
        val verdict =
          try op.check(s("value"))
          catch { case e: Throwable => Some(s"check failed: ${e.getClass.getSimpleName}: ${e.getMessage}") }
        checkNs += System.nanoTime() - c0
        s - "value" ++ Map("ok" -> verdict.isEmpty, "error" -> verdict.orNull)
      } else s - "value"
    }
    val wallNs = System.nanoTime() - t0 - checkNs
    val after = Counters.read()
    trace.foreach { t =>
      if (traced) {
        t.add(Span(t.nextId(), "pass", startMs.toDouble, startMs + (System.nanoTime() - t0) / 1e6,
          0L, "", pass, Map("kind" -> kind)))
        Trace.drain(t)
      }
      t.enabled = false
    }
    Map("index" -> pass, "kind" -> kind, "traced" -> traced,
      "wall_s" -> wallNs / 1e9, "check_s" -> checkNs / 1e9,
      "counters" -> Counters.delta(before, after), "ops" -> samples)
  }

  private def runOp(op: Op, pass: Int, cold: Boolean): Map[String, Any] = {
    val spanId = trace.map(_.nextId()).getOrElse(0L)
    sc.setLocalProperty("perfbench.op", op.name)
    sc.setLocalProperty("perfbench.pass", pass.toString)
    sc.setLocalProperty("perfbench.span", spanId.toString)
    val compiles0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    val startMs = System.currentTimeMillis()
    val t0 = System.nanoTime()
    var t1 = t0
    var value: Any = null
    var result: Map[String, Any] = Map.empty
    val error =
      try {
        value = op.define()
        t1 = System.nanoTime()
        op.act(value, cold) match {
          case m: Map[_, _] => result = m.asInstanceOf[Map[String, Any]]
          case _ =>
        }
        None
      } catch {
        case e: Throwable =>
          if (t1 == t0) t1 = System.nanoTime()
          Some(s"${e.getClass.getSimpleName}: ${Option(e.getMessage).getOrElse("").take(300)}")
      }
    val t2 = System.nanoTime()
    Seq("perfbench.op", "perfbench.pass", "perfbench.span").foreach(sc.setLocalProperty(_, null))
    trace.foreach { t =>
      def ms(ns: Long) = startMs + (ns - t0) / 1e6
      // a DataFrame is analyzed when it is defined, so its analysis phase
      // is in its own planning tracker, not in the action's
      value match {
        case df: org.apache.spark.sql.Dataset[_] =>
          df.queryExecution.tracker.phases.get("analysis").foreach { p =>
            t.add(Span(t.nextId(), "catalyst.analysis", p.startTimeMs.toDouble,
              p.endTimeMs.toDouble, spanId, op.name, pass))
          }
        case _ =>
      }
      t.add(Span(spanId, "op", startMs.toDouble, ms(t2), 0L, op.name, pass, Map("kind" -> op.kind)))
      t.add(Span(t.nextId(), "define", startMs.toDouble, ms(t1), spanId, op.name, pass))
      t.add(Span(t.nextId(), "action", ms(t1), ms(t2), spanId, op.name, pass))
    }
    Map("name" -> op.name, "kind" -> op.kind,
      "define_ms" -> (t1 - t0) / 1e6, "action_ms" -> (t2 - t1) / 1e6,
      "compiles" -> (CodegenMetrics.METRIC_COMPILATION_TIME.getCount - compiles0),
      "ok" -> error.isEmpty, "error" -> error.orNull, "value" -> value) ++ result
  }
}

/** JVM-wide counters read between passes: Janino compiles (count and ms,
  * from Spark's CodegenMetrics histogram), HotSpot JIT time and GC time. */
object Counters {
  def read(): Map[String, Double] = {
    val h = CodegenMetrics.METRIC_COMPILATION_TIME
    Map(
      "codegen_compiles" -> h.getCount.toDouble,
      // the histogram's reservoir keeps every sample below 1028 of them,
      // which one benchmark JVM stays under
      "codegen_compile_ms" -> h.getSnapshot.getValues.map(_.toDouble).sum,
      "jit_ms" -> ManagementFactory.getCompilationMXBean.getTotalCompilationTime.toDouble,
      "gc_ms" -> ManagementFactory.getGarbageCollectorMXBeans.asScala
        .map(_.getCollectionTime.max(0L)).sum.toDouble)
  }

  def delta(a: Map[String, Double], b: Map[String, Double]): Map[String, Double] =
    b.map { case (k, v) => k -> (v - a(k)) }
}
