package graft

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Salting for hot keys: the complementary *aggregation* strategy to
  * AQE's runtime skew-join handling, for when one group key holds a
  * disproportionate share of rows. Two-phase: partial-aggregate on
  * (key, salt), spreading the hot key over `saltBuckets` reducers, then
  * final-aggregate on the key. No query calls it; SkewSpec pins that it
  * equals a direct aggregation. */
object Skew {

  /** Salted two-phase sum/count aggregation.
    *
    * @param aggs (outputName, valueColumn) pairs summed per key.
    * Deterministic: results are identical to a direct groupBy — the salt
    * only changes physical distribution. The salt is derived from a
    * stable hash of a tiebreak column (not rand()) so re-runs and
    * retried tasks agree.
    */
  def saltedSum(
      df: DataFrame,
      keyCol: String,
      saltSource: Column,
      aggs: Seq[(String, Column)],
      saltBuckets: Int = 16): DataFrame = {
    require(!aggs.exists(_._1 == keyCol) && !aggs.exists(_._1 == "n_rows"),
      "agg output names must not collide with the key column or n_rows")
    val salted = df.withColumn("__salt", pmod(xxhash64(saltSource), lit(saltBuckets)))
    val partial = salted
      .groupBy(col(keyCol), col("__salt"))
      .agg(count(lit(1)).as("__cnt"),
        aggs.map { case (n, c) => sum(c).as(s"__sum_$n") }: _*)
    partial
      .groupBy(col(keyCol)) // output keeps the caller's key column name
      .agg(sum(col("__cnt")).as("n_rows"),
        aggs.map { case (n, _) => sum(col(s"__sum_$n")).as(n) }: _*)
  }
}

class SkewSpec extends SparkSpec {
  import spark.implicits._

  test("salted aggregation equals direct aggregation on a hot-keyed table") {
    // 90% of rows share one key — the shape that melts a single reducer
    val hot = (1 to 9000).map(i => ("hot", i.toLong)) ++
      (1 to 1000).map(i => (s"k${i % 50}", i.toLong))
    val df = hot.toDF("k", "v")
      .withColumn("vd", $"v".cast(DecimalType(38, 6)))

    val salted = Skew.saltedSum(df, "k", $"v", Seq("total" -> $"vd"), saltBuckets = 16)
      .orderBy($"k").collect()
      .map(r => (r.getAs[String]("k"), r.getAs[Long]("n_rows"),
        r.getAs[java.math.BigDecimal]("total")))

    val direct = df.groupBy($"k").agg(count(lit(1)).as("n"), sum($"vd").as("t"))
      .orderBy($"k").collect()
      .map(r => (r.getAs[String]("k"), r.getAs[Long]("n"),
        r.getAs[java.math.BigDecimal]("t")))

    assert(salted.toSeq == direct.toSeq)
  }

  test("salting actually spreads the hot key over buckets") {
    val df = (1 to 1000).map(i => ("hot", i.toLong)).toDF("k", "v")
    val buckets = df
      .withColumn("__salt", pmod(xxhash64($"v"), lit(16)))
      .select($"__salt").distinct().count()
    assert(buckets >= 12, s"expected ~16 salt buckets, got $buckets")
  }

  test("AQE splits a skewed join partition at runtime (skew=true in the final plan)") {
    // one key owns ~95% of the fact side. With broadcast disabled the
    // sort-merge join would put the whole hot key on ONE reducer; AQE's
    // OptimizeSkewedJoin must detect the oversized partition at runtime
    // and split it. This is the no-code-change answer to skew the README
    // promises (salting is the explicit fallback) — pin that it FIRES,
    // with thresholds scaled down to test size.
    val conf = Seq(
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.skewJoin.enabled" -> "true",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor" -> "2",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> "16KB",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "8KB",
      "spark.sql.adaptive.coalescePartitions.minPartitionSize" -> "1KB")
    val saved = conf.map { case (k, _) => k -> spark.conf.getOption(k) }
    conf.foreach { case (k, v) => spark.conf.set(k, v) }
    try {
      val fact = ((1 to 95000).map(_ => 1L) ++ (1 to 5000).map(i => (i % 97).toLong + 2))
        .zipWithIndex.map { case (k, i) => (k, s"payload_$i") }.toDF("k", "p")
      val dim = (1L to 100L).map(k => (k, s"dim_$k")).toDF("k", "d")
      val joined = fact.join(dim, "k")
      // execute THIS df (count() would plan a different query and leave
      // joined's adaptive plan un-finalized)
      assert(joined.collect().length == 100000)
      val finalPlan = joined.queryExecution.executedPlan.toString
      assert(finalPlan.contains("skew=true"),
        s"OptimizeSkewedJoin did not fire; final plan:\n$finalPlan")
    } finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }
}
