package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** What a block of code set off: the Spark jobs it started and the
  * external catalog events (table or database created, dropped or
  * altered) it fired. See [[SparkSpec.activityDuring]]. */
final case class Activity(jobs: Int, catalogEvents: Int)

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

  /** [[Activity]] of `body`. Jobs are told apart by a job group. Catalog
    * events carry none, so marker jobs run before and after `body`, and
    * the events between them are counted: the listener queue delivers
    * events in order, and the closing marker also flushes it. */
  def activityDuring(body: => Unit): Activity = {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent, SparkListenerJobStart}
    import org.apache.spark.sql.catalyst.catalog.ExternalCatalogEvent
    val group = "activity-during-" + java.util.UUID.randomUUID()
    val catalogEvent = "catalog-event"
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        seen.add(Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
          .getOrElse(""))
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case _: ExternalCatalogEvent => seen.add(catalogEvent)
        case _ =>
      }
    }
    val sc = spark.sparkContext
    def marker(tag: String): Unit = {
      sc.setJobGroup(group + tag, "marker")
      try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
    }
    sc.addSparkListener(listener)
    try {
      marker("-start")
      sc.setJobGroup(group, "counted")
      try body finally sc.clearJobGroup()
      marker("-end")
      val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
      while (!seen.contains(group + "-end") && System.nanoTime() < deadline) Thread.sleep(10)
      assert(seen.contains(group + "-end"), "listener never saw the marker job")
      val during = seen.toArray.toSeq.map(_.toString)
        .dropWhile(_ != group + "-start").takeWhile(_ != group + "-end")
      Activity(during.count(_ == group), during.count(_ == catalogEvent))
    } finally sc.removeSparkListener(listener)
  }

  /** Spark jobs started while `body` runs (see [[activityDuring]]). */
  def jobsDuring(body: => Unit): Int = activityDuring(body).jobs

  def tmpDir(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString
}
