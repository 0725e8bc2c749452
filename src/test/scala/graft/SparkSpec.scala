package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for all specs (getOrCreate → one JVM-wide
  * session, so suites don't pay repeated startup). Built by
  * [[Engine.session]], so specs run the engine's own settings; the
  * warehouse dir is a static conf, set in build.sbt's
  * `Test / javaOptions`. */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = Engine.session("local[4]", 4)

  /** The driver-generated testdata dir every spec reads (ADVICE r6:
    * single definition, so a relocation is a one-line change). */
  val testdataRoot = "/root/testdata/sf0.001"
  def sf(name: String): String = s"$testdataRoot/$name.parquet"
  val refDir = "/root/reference"

  override def beforeAll(): Unit = {
    spark.sparkContext.setLogLevel("WARN")
    super.beforeAll()
  }

  /** Spark jobs started while `body` runs. A marker job run afterwards
    * flushes the listener queue, which delivers events in order. */
  def jobsDuring(body: => Unit): Int = {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val group = "jobs-during-" + java.util.UUID.randomUUID()
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        seen.add(Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
          .getOrElse(""))
    }
    val sc = spark.sparkContext
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, "counted")
      try body finally sc.clearJobGroup()
      sc.setJobGroup(group + "-marker", "marker")
      try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
      val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
      while (!seen.contains(group + "-marker") && System.nanoTime() < deadline) Thread.sleep(10)
      assert(seen.contains(group + "-marker"), "listener never saw the marker job")
      seen.toArray.count(_ == group)
    } finally sc.removeSparkListener(listener)
  }

  def tmpDir(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString
}
