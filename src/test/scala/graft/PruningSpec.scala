package graft

import org.apache.spark.sql.functions._
import graft.sources.ParquetIO

/** Scan-elimination audits beyond static pushdown (PlanSpec): dynamic
  * partition pruning — the 100 TB star-schema feature where the dim
  * filter's key set is computed at RUNTIME and pushed into the fact
  * scan's partition filters, so a "WHERE dim.attr = X" join touches
  * only the fact partitions that can match — and sorted-bucket reads
  * that let a sort-merge join skip its sorts entirely. */
class PruningSpec extends SparkSpec {

  test("dynamic partition pruning: dim filter prunes fact partitions at runtime") {
    val base = tmpDir("dpp")
    val out = base + "/orders_part"
    spark.read.parquet(sf("orders"))
      .write.mode("overwrite").partitionBy("o_orderstatus").parquet(out)
    // dim: status attributes, filtered on a NON-partition attribute so
    // the surviving key set exists only at runtime. The dim must be a
    // FILE source: a local relation would constant-fold the filter away
    // and the DPP rule needs a surviving selective predicate.
    spark.createDataFrame(Seq(("F", "closed"), ("O", "open"), ("P", "pending")))
      .toDF("status", "label")
      .write.mode("overwrite").parquet(base + "/dim")
    val dim = spark.read.parquet(base + "/dim")
    val fact = spark.read.parquet(out)
    val j = fact.join(dim, fact("o_orderstatus") === dim("status"))
      .filter(col("label") === "open")
      .groupBy(col("status")).agg(count(lit(1)).as("n"))
    val plan = j.queryExecution.executedPlan.toString
    assert(plan.contains("dynamicpruning"),
      s"fact scan must carry a runtime partition-pruning predicate:\n$plan")
    val rows = j.collect()
    assert(rows.length == 1 && rows(0).getString(0) == "O")
    // cross-check the count against the unpartitioned source
    val expected = spark.read.parquet(sf("orders"))
      .filter(col("o_orderstatus") === "O").count()
    assert(rows(0).getLong(1) == expected)
  }

  test("sorted single-file buckets let the sort-merge join drop its sorts") {
    // one file per bucket is the precondition for Spark to trust the
    // on-disk sort order (multi-file buckets would need a merge)
    // repartition INTO THE BUCKET HASH (same murmur3-pmod layout the
    // bucketing spec uses) so each task holds exactly one bucket's keys
    // and writes exactly one file per bucket
    ParquetIO.writeBucketed(
      spark.read.parquet(sf("orders")).repartition(4, col("o_orderkey")),
      "orders_sb", buckets = 4, keys = Seq("o_orderkey"))
    ParquetIO.writeBucketed(
      spark.read.parquet(sf("lineitem")).withColumnRenamed("l_orderkey", "lo_key")
        .repartition(4, col("lo_key")),
      "lineitem_sb", buckets = 4, keys = Seq("lo_key"))
    // restored in `finally` to the values set before the test, so later
    // specs see the session's own confs
    val touched = Seq("spark.sql.autoBroadcastJoinThreshold",
      "spark.sql.legacy.bucketedTableScan.outputOrdering")
    val prior = touched.map(k => k -> spark.conf.getOption(k))
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    // trusting on-disk bucket order moved behind a legacy flag in Spark
    // 3.0 (the one-file-per-bucket check costs a file listing); opt in
    // for the read that actually has one sorted file per bucket
    spark.conf.set("spark.sql.legacy.bucketedTableScan.outputOrdering", "true")
    try {
      val j = spark.table("orders_sb")
        .join(spark.table("lineitem_sb"), col("o_orderkey") === col("lo_key"))
        .select(col("o_orderkey"), col("l_linenumber"))
      val p = j.queryExecution.executedPlan.toString
      assert(p.contains("SortMergeJoin"), p)
      assert(!p.contains("Exchange hashpartitioning"),
        s"bucketed join must not shuffle:\n$p")
      assert(!p.contains("Sort "),
        s"sorted buckets must eliminate both SMJ sorts:\n$p")
      assert(j.count() == spark.read.parquet(sf("lineitem")).count())
    } finally {
      prior.foreach {
        case (k, Some(v)) => spark.conf.set(k, v)
        case (k, None) => spark.conf.unset(k)
      }
      spark.sql("DROP TABLE IF EXISTS orders_sb")
      spark.sql("DROP TABLE IF EXISTS lineitem_sb")
    }
  }

  test("nested schema pruning: selecting one struct field narrows the parquet ReadSchema") {
    // event-payload shape: a wide struct column where queries touch one
    // leaf. At 100 TB the scan must read ONLY that leaf's pages —
    // Spark's nestedSchemaPruning (on by default) rewrites the read
    // schema; pin it so a regression (or an accidental opt-out) that
    // silently re-reads whole structs can't land.
    val out = tmpDir("nested-prune") + "/events_struct"
    spark.read.parquet(sf("orders"))
      .select(col("o_orderkey"),
        struct(col("o_orderstatus").as("status"),
          col("o_totalprice").as("price"),
          col("o_orderdate").as("odate"),
          col("o_orderpriority").as("priority")).as("payload"))
      .write.mode("overwrite").parquet(out)
    val q = spark.read.parquet(out)
      .select(col("o_orderkey"), col("payload.status").as("status"))
      .filter(col("status") === "O")
    q.collect()
    val plan = q.queryExecution.executedPlan.toString
    val readSchema = plan.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    assert(readSchema.contains("status"),
      s"pruned schema must keep the selected leaf: $readSchema")
    for (dropped <- Seq("price", "odate", "priority"))
      assert(!readSchema.contains(dropped),
        s"leaf '$dropped' must be pruned from the scan: $readSchema")
  }
}

/** Pipeline observability: Dataset.observe rides data-quality counters
  * on an existing action — at 100 TB the difference between "free
  * metrics on the scan you were already doing" and "a second scan to
  * count nulls" is the whole cost of the audit. */
class ObservabilitySpec extends SparkSpec {

  test("observe() collects quality counters on the same pass as the real action") {
    val obs = new org.apache.spark.sql.Observation("quality")
    val li = spark.read.parquet(sf("lineitem"))
      .observe(obs,
        count(lit(1)).as("n_rows"),
        sum(when(col("l_quantity").isNull, 1).otherwise(0)).as("n_null_qty"),
        max(col("l_quantity")).as("max_qty"))
      .filter(col("l_quantity") > 10)
    val kept = li.count() // one action drives both the filter and the metrics
    val m = obs.get
    assert(m("n_rows").asInstanceOf[Long] > kept, "metrics see pre-filter rows")
    assert(m("n_null_qty").asInstanceOf[Long] == 0L)
    assert(m("max_qty").asInstanceOf[Double] <= 50.0)
  }
}

/** Physical-strategy control a 100 TB operator needs on demand: join
  * hints override the planner when its size estimates are wrong (the
  * classic "stats say broadcast, runtime says OOM"), and
  * maxRecordsPerFile bounds output file sizes so a petabyte write
  * doesn't emit unsplittable monsters or a million tiny files. */
class StrategyControlSpec extends SparkSpec {

  test("join hints select the physical strategy: shuffle_hash / merge / broadcast") {
    val li = spark.read.parquet(sf("lineitem"))
    val ord = spark.read.parquet(sf("orders"))
    val shj = li.join(ord.hint("shuffle_hash"), col("l_orderkey") === col("o_orderkey"))
      .queryExecution.executedPlan.toString
    assert(shj.contains("ShuffledHashJoin"), shj)
    val smj = li.join(ord.hint("merge"), col("l_orderkey") === col("o_orderkey"))
      .queryExecution.executedPlan.toString
    assert(smj.contains("SortMergeJoin"), smj)
    val bhj = li.join(ord.hint("broadcast"), col("l_orderkey") === col("o_orderkey"))
      .queryExecution.executedPlan.toString
    assert(bhj.contains("BroadcastHashJoin"), bhj)
  }

  test("maxRecordsPerFile bounds output file sizes") {
    val out = tmpDir("mrpf") + "/orders_sized"
    spark.read.parquet(sf("orders"))
      .repartition(2)
      .write.mode("overwrite")
      .option("maxRecordsPerFile", 500)
      .parquet(out)
    val files = new java.io.File(out).listFiles()
      .filter(f => f.getName.endsWith(".parquet"))
    val total = spark.read.parquet(sf("orders")).count()
    assert(files.length >= (total / 500).toInt,
      s"expected >= ${total / 500} files, got ${files.length}")
    // every file individually respects the cap
    for (f <- files)
      assert(spark.read.parquet(f.getAbsolutePath).count() <= 500, f.getName)
  }
}
