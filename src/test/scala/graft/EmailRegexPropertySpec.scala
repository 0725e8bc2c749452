package graft

import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

import graft.queries.TextOps

/** l8's linear email pattern must find exactly what the plain pattern
  * finds: equal `regexp_count` and `regexp_replace` results through
  * Spark's own (Java regex) functions, on generated and adversarial
  * strings (raw ScalaCheck generators with fixed seeds). */
class EmailRegexPropertySpec extends SparkSpec {
  import spark.implicits._

  test("linear email pattern == plain pattern under regexp_count and regexp_replace") {
    // tokens weighted toward the pattern's own classes and boundaries,
    // so matches start mid-run, end at '.', and abut each other
    val token = Gen.oneOf(
      "a", "Z", "0", "9", "x", ".", "_", "%", "+", "-", "@", "@", "@b",
      ".com", ".c", ".de", "co", " ", "é", "user", "@example.com", "1@c.de")
    val str = Gen.choose(0, 30).flatMap(n => Gen.listOfN(n, token).map(_.mkString))
    val generated = (1 to 20000).map(i => str.pureApply(Gen.Parameters.default, Seed(i.toLong)))
    val adversarial = Seq(
      "x" * 5000, "x" * 5000 + "@", "x" * 5000 + "@b.co", "a@" + "b." * 2000,
      ("a" * 50 + "@b.co") * 20, "a@b.comx@c.de", "a@b.com1@c.de", "a@b.co.uk.x@y.org",
      "-@-.zz", "a@b.cd@e.fg", "..@..aa", "contact user10@example.com or 555-867-5309", "")
    val df = (generated ++ adversarial).toDF("s")
    val both = df.select($"s",
      regexp_count($"s", lit(TextOps.EmailRe)).as("n0"),
      regexp_count($"s", lit(TextOps.EmailReLinear)).as("n1"),
      regexp_replace($"s", TextOps.EmailRe, "<EMAIL>").as("r0"),
      regexp_replace($"s", TextOps.EmailReLinear, "<EMAIL>").as("r1"))
    val diff = both.filter($"n0" =!= $"n1" || $"r0" =!= $"r1").limit(5).collect()
    assert(diff.isEmpty, diff.mkString("\n"))
    // the inputs exercise the matcher: many rows match, some more than once
    assert(both.filter($"n0" > 0).count() > 1000)
    assert(both.filter($"n0" > 1).count() > 100)
  }
}
