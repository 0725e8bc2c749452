package perfbench

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.SparkSession

/** One benchmark process: set up graft, run one workload, write the raw
  * samples as JSON. `perfbench/run.py` launches it in a fresh JVM per run,
  * derives the metrics and checks the outputs.
  *
  * Usage: Main <setup|run> <workload> <dataDir> <workDir> <seed> <trace 0|1> <outJson>
  *
  * `setup` stops once graft is ready, so set-up time can be sampled in
  * more than one JVM per run. */
object Main {
  private val mapper = new ObjectMapper().registerModule(DefaultScalaModule)

  def main(args: Array[String]): Unit = {
    val status =
      try { run(args); 0 }
      catch { case e: Throwable => e.printStackTrace(); 1 }
    // the caller removes Spark's scratch dirs, which it placed in the
    // benchmark's own work dir; skipping the shutdown hooks keeps a
    // set-up sample from paying for a context stop it does not measure
    Runtime.getRuntime.halt(status)
  }

  private def run(args: Array[String]): Unit = {
    val Array(mode, workloadName, dataDir, workDir, seedArg, traceArg, outJson) = args
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    val workload = Workload.byName(workloadName)
    val cores = Runtime.getRuntime.availableProcessors()

    val t0 = System.nanoTime()
    val spark = graft.Engine.session(s"local[$cores]", cores)
    val t1 = System.nanoTime()
    workload.inputs.foreach(t => graft.Tables(spark, dataDir, t))
    val t2 = System.nanoTime()
    val readyMs = System.currentTimeMillis()
    val setup = Map(
      "setup_s" -> (readyMs - jvmStartMs) / 1e3,
      "session_ms" -> (t1 - t0) / 1e6,
      "tables_ms" -> (t2 - t1) / 1e6)

    val result: Map[String, Any] =
      if (mode == "setup") Map("setup" -> setup)
      else {
        val trace = if (traceArg == "1") Some(new Trace) else None
        trace.foreach { t =>
          spark.sparkContext.addSparkListener(t)
          spark.listenerManager.register(t)
        }
        val runner = new Runner(spark, dataDir, workDir, seedArg.toLong, trace)
        val body = workload.run(runner)
        Map("setup" -> setup, "env" -> env(spark, dataDir, workload)) ++ body ++
          trace.map(t => "spans" -> t.spans.sortBy(_.start).map(_.toMap)).toMap
      }
    Files.write(Paths.get(outJson),
      mapper.writeValueAsBytes(result + ("peak_rss_mb" -> peakRssMb())))
  }

  /** High-water resident set size of this JVM (Linux), in MB. */
  private def peakRssMb(): Double =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:"))
      .map(_.replaceAll("[^0-9]", "").toDouble / 1024).getOrElse(0.0)

  private def env(spark: SparkSession, dataDir: String, w: Workload): Map[String, Any] = {
    val inputs = w.inputs.map { t =>
      val path = s"$dataDir/$t.parquet"
      val groups = graft.sources.ParquetMeta.rowGroupStats(path)
      t -> Map("bytes" -> new File(path).length(), "rows" -> groups.map(_._1).sum,
        "row_groups" -> groups.size)
    }.toMap
    Map(
      "default_parallelism" -> spark.sparkContext.defaultParallelism,
      "jvm_flags" -> ManagementFactory.getRuntimeMXBean.getInputArguments.asScala.toSeq,
      "spark_version" -> spark.version,
      "inputs" -> inputs)
  }
}
