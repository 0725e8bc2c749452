package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** Guards the one-of-each design: one session builder, one native
  * function registry feeding both install paths, one rebase rule. */
class EngineSpec extends SparkSpec {

  private def rebaseRules(s: SparkSession): Int =
    s.sessionState.optimizer.extendedOperatorOptimizationRules
      .count(_.isInstanceOf[plans.CorruptDateRebaseRule]) +
      s.experimental.extraOptimizations
        .count(_.isInstanceOf[plans.CorruptDateRebaseRule])

  private def unresolved(s: SparkSession): Seq[String] =
    GraftFunctions.registry.map(_._1).filterNot(s.catalog.functionExists)

  test("Engine.session resolves every registry entry and installs the rebase rule once") {
    val names = GraftFunctions.registry.map(_._1)
    assert(names.nonEmpty && names.distinct.size == names.size,
      s"registry names must be unique: $names")
    assert(unresolved(spark).isEmpty, s"unresolved in Engine.session: ${unresolved(spark)}")
    assert(rebaseRules(spark) == 1)
    GraftFunctions.ensureRegistered(spark)
    assert(rebaseRules(spark) == 1, "ensureRegistered must not add a second rebase rule")
  }

  test("a bare session resolves every registry entry after ensureRegistered") {
    // a session built without GraftExtensions, like a caller's own; its
    // SparkContext constructor is package-private to Scala, so it is
    // reached by reflection rather than by a second session builder
    val bare = classOf[org.apache.spark.sql.classic.SparkSession]
      .getConstructor(classOf[org.apache.spark.SparkContext])
      .newInstance(spark.sparkContext)
    assert(GraftFunctions.registry.exists(e => !bare.catalog.functionExists(e._1)),
      "the bare session must start without graft's functions")
    assert(rebaseRules(bare) == 0)
    GraftFunctions.ensureRegistered(bare)
    GraftFunctions.ensureRegistered(bare)
    assert(unresolved(bare).isEmpty, s"unresolved in bare session: ${unresolved(bare)}")
    assert(rebaseRules(bare) == 1)
    assert(bare.sql("SELECT graft_cosine(array(1.0D, 0.0D), array(1.0D, 0.0D))")
      .head().getDouble(0) == 1.0)
  }

  private def scalaFiles(roots: String*): Seq[java.nio.file.Path] =
    roots.flatMap { root =>
      val dir = Paths.get(root)
      assert(Files.isDirectory(dir), s"run from the repo root: $root missing")
      val files = Files.walk(dir)
      try files.iterator().asScala.filter(_.toString.endsWith(".scala")).toList
      finally files.close()
    }

  test("src/main and src/test hold exactly one session builder call") {
    val builder = """\bSparkSession\s*\.\s*builder\b""".r
    val hits = scalaFiles("src/main", "src/test").flatMap { p =>
      builder.findAllIn(Files.readString(p)).map(_ => p.toString).toList
    }
    assert(hits == Seq("src/main/scala/graft/Engine.scala"), hits)
  }

  test("src/main reads exactly the pinned environment variables, properties and graft confs") {
    // every read is `<file>:<key>`; a read without a literal key shows
    // as `<file>:?`. Adding a knob means editing this list.
    val read = """\b(?:sys\.(?:env|props)|System\.(?:getenv|getProperty))\b(?:\.\w+)?(?:\(\s*"([^"]*)")?""".r
    val conf = """\bconf\.get\w*\(\s*"(graft\.[^"]*)"""".r
    val hits = scalaFiles("src/main").flatMap { p =>
      val src = Files.readString(p)
      val file = p.getFileName.toString
      (read.findAllMatchIn(src).map(m => Option(m.group(1)).getOrElse("?")) ++
        conf.findAllMatchIn(src).map(_.group(1))).map(k => s"$file:$k").toList
    }.sorted
    val pinned = Seq(
      "Bench.scala:SPARK_GRAFT_BASELINE",
      "Bench.scala:SPARK_GRAFT_BENCH_ONLY",
      "Bench.scala:SPARK_GRAFT_BENCH_REPS",
      "Bench.scala:SPARK_GRAFT_BENCH_SKIP",
      "Bench.scala:SPARK_GRAFT_BENCH_WARMUP",
      "Bench.scala:SPARK_GRAFT_SF_DIR",
      "Engine.scala:SPARK_GRAFT_CPUS",
      "PlanDirDump.scala:SPARK_GRAFT_SF_DIR",
      "RangeFrame.scala:graft.rangeframe.decomposeOverBytes",
      "TextOps.scala:graft.l36.broadcastVocabMax",
      "Verify.scala:SPARK_GRAFT_VERIFY_ONLY",
      "Verify.scala:SPARK_GRAFT_VERIFY_SKIP")
    assert(hits == pinned, hits.mkString("\n"))
  }
}
