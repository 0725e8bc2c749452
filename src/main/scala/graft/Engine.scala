package graft

import org.apache.spark.sql.SparkSession

/** Session factory for the graft engine: every main and the test base
  * build their session here, so the oracle checks the engine that is
  * benchmarked.
  *
  * Scale posture: every knob here is chosen for a real multi-executor
  * cluster and merely *tested* on local[32] — AQE handles runtime
  * re-planning (skew joins, partition coalescing), shuffle partitions
  * default to the local core count but are overridable, and parquet
  * pushdown/pruning is left on so Catalyst can do its job.
  */
object Engine {

  /** Local core count for the mains: `SPARK_GRAFT_CPUS`, else the
    * machine's cores capped at 32. */
  def cpus: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.trim.toInt)
    .getOrElse(math.min(32, Runtime.getRuntime.availableProcessors()))

  /** [[session]] on `local[cpus]` with one shuffle partition per core
    * (not 200 — at sf0.1 oversized shuffles are pure scheduling
    * overhead; on a real cluster this knob scales with executor count). */
  def localSession(): SparkSession = session(s"local[$cpus]", cpus)

  /** Build (or reuse) a session with graft defaults. */
  def session(master: String = "local[32]", shufflePartitions: Int = 32): SparkSession = {
    val b = SparkSession.builder()
      .master(master)
      .appName("graft")
      .config("spark.sql.shuffle.partitions", shufflePartitions.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      // Post-shuffle sizing stays at AQE defaults (parallelismFirst=true,
      // minPartitionSize=1m): measured head-to-head at sf0.1, the
      // documented production alternative (parallelismFirst=false +
      // advisory 64m) SERIALIZES cpu-heavy byte-light stages — a14's
      // keyed decimal window went 0.79 s -> 1.62 s, w1 0.34 -> 0.84 —
      // while KB-sized exchanges already coalesce to one task under the
      // 1 MB default minimum, so the floor gains nothing. On a 100 TB
      // cluster, where reducer inputs are GBs and the concern is spill
      // rather than task-launch overhead, flip parallelismFirst=false
      // and raise the advisory — that knob is deployment tuning, not
      // engine code.
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      // constraintPropagation=off was A/B'd (r9) as a floor-shaving
      // candidate and REJECTED: a sequential two-pass probe showed
      // planning 0.93 -> 0.55 s on the 17 planning-heaviest queries,
      // but the "win" inverted when the pass order flipped — pure JIT
      // warm-up bias. The order-free interleaved A/B (alternating the
      // conf per rep, same queries) measured 7.34 vs 7.40 s — under 1%,
      // within noise — so the default stays, keeping the inferred
      // isnotnull pruning for free on ad-hoc plans.
      .config("spark.sql.parquet.filterPushdown", "true")
      .config("spark.sql.parquet.aggregatePushdown", "true")
      .config("spark.sql.parquet.enableVectorizedReader", "true")
      // graft's bucketed writes repartition to one file per bucket, so
      // the scan's sortBy order is trustworthy — this elides the
      // read-side sorts in bucketed merge joins (Spark guards the claim
      // per-scan when a bucket has >1 file, so it's safe as a default)
      .config("spark.sql.legacy.bucketedTableScan.outputOrdering", "true")
      // older events.parquet generations store ts as TIMESTAMP(NANOS);
      // Spark's reader needs this to map it (to LongType nanos) instead
      // of erroring. Tables normalizes every encoding to nano-longs.
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // static conf (effective when this builder owns the JVM's first
      // session): many distinct plans x multiple codegen stages overflow
      // the default 100-entry generated-class cache and force Janino
      // recompiles per execution — measured 6x inflation on a1 when 33
      // plans cycled the default cache
      .config("spark.sql.codegen.cache.maxEntries", "10000")
      // native expressions (graft_cosine, graft_minhash) + the
      // transparent corrupt-date rebase rule
      .withExtensions(new GraftExtensions)
    val s = b.getOrCreate()
    // getOrCreate may return a pre-existing session whose extensions
    // were fixed at ITS creation — runtime registration closes the gap
    GraftFunctions.ensureRegistered(s)
    s
  }
}
