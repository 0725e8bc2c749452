package perfbench

import java.io.File
import java.nio.file.{Files, Paths}

import org.apache.spark.sql.DataFrame

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule

/** A benchmark workload: the tables it reads and the passes it runs. */
trait Workload {
  def name: String
  def inputs: Seq[String]
  def run(r: Runner): Map[String, Any]
}

object Workload {
  val all: Seq[Workload] = Seq(
    // Per-op time at sf0.1 is define-time work, Catalyst, codegen and
    // scheduling. The ops: the b1 floor, scalars (x1), set ops (t3), a
    // window (w1), a layout-riding event-time aggregate (g1) and join
    // (j12), and a Spread-wired kernel (l24).
    Olap("olap-sf0.1", Seq(
      "b1_floor_select1", "x1_string_scalars", "t3_distinct", "w1_window_rank",
      "g1_tumbling_window", "j12_q5_shape", "l24_hashed_classifier"),
      discard = 5, timed = 5),
    IngestLookup)

  def byName(n: String): Workload = all.find(_.name == n).getOrElse(
    throw new IllegalArgumentException(s"unknown workload $n; known: ${all.map(_.name).mkString(", ")}"))

  private val mapper = new ObjectMapper().registerModule(DefaultScalaModule)

  def writeJson(path: String, v: Any): Unit = {
    new File(path).getParentFile.mkdirs()
    Files.write(Paths.get(path), mapper.writeValueAsBytes(v))
  }

  def readJson(path: String): Option[Map[String, String]] =
    if (!new File(path).exists()) None
    else Some(mapper.readValue(new File(path), classOf[Map[String, String]]))

  /** Removes a directory tree if present. */
  def rmTree(path: String): Unit = {
    val p = Paths.get(path)
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.sorted(java.util.Comparator.reverseOrder()).forEach(x => Files.delete(x))
      finally s.close()
    }
  }
}

/** Analytic reads through `SparkEntry.queries`. Every pass, the cold one
  * too, runs each query into Spark's `noop` sink, so every operator runs
  * with zero sink cost and all passes run the same plans. After the last
  * pass, untimed, the cold pass's DataFrames are written out for the
  * oracle check. */
final case class Olap(name: String, ops: Seq[String], discard: Int, timed: Int)
    extends Workload {
  val inputs: Seq[String] = graft.Tables.names

  def run(r: Runner): Map[String, Any] = {
    val (root, suffix) = SinkState.of(r.dataDir)
    val othersBefore = SinkState.others(root, suffix)
    val removed = SinkState.clear(root, suffix)
    val checkDir = s"${r.workDir}/check"
    Workload.rmTree(checkDir)
    val coldDfs = scala.collection.mutable.LinkedHashMap.empty[String, DataFrame]
    val opList = ops.map { n =>
      val fn = graft.SparkEntry.queries(n)
      Op(n, "query",
        define = () => fn(r.spark, r.dataDir),
        act = (df, cold) => {
          if (cold) coldDfs(n) = df.asInstanceOf[DataFrame]
          df.asInstanceOf[DataFrame].write.mode("overwrite").format("noop").save()
        })
    }
    val passes = r.passes(discard, timed, p => r.order(opList, p))
    // every entry was created by this run: the cold pass builds the layouts
    // and later passes reuse them
    val layoutBuilds = SinkState.owned(root, suffix).count(!_.getName.endsWith(".lock"))
    // an op whose result is not written here fails the oracle check
    coldDfs.foreach { case (n, df) =>
      try df.write.mode("overwrite").parquet(s"$checkDir/$n")
      catch { case e: Exception => System.err.println(s"oracle output of $n not written: $e") }
    }
    val oracle = graft.SparkEntry.oracleSql.filter { case (k, _) => ops.contains(k) }
    Workload.writeJson(s"$checkDir/oracle_sql.json", oracle)
    Map(
      "passes" -> passes,
      "check_dir" -> checkDir,
      "sink" -> Map(
        "suffix" -> suffix,
        "removed_before_cold" -> removed.size,
        "layout_builds" -> layoutBuilds,
        "others_unchanged" -> (SinkState.others(root, suffix) == othersBefore)))
  }
}
