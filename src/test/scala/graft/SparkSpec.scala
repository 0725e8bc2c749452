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

  def tmpDir(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString
}
