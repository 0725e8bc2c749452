package graft.operators

import org.apache.spark.sql.{Column, DataFrame}

/** Split-gated spread: restore scan parallelism for compute-heavy
  * per-row kernels when the input arrives as fewer splits than cores —
  * WITHOUT reintroducing the unconditional payload shuffles r13
  * removed.
  *
  * The problem (guide §2.5 "input skew", §6 split sizing): a 50–120 MB
  * single parquet file plans as ONE scan task at the default 128 MB
  * split size, so every narrow transformation chained on the scan —
  * shingle/simhash/n-gram kernels, cosine probe passes, media decodes —
  * runs on one core no matter how many the session has. Measured at
  * sf10 (single-file synth tables): l1e_simhash 5.7 s (r12, spread) →
  * 15.3 s (r13, fence only) once the spread was gone. At sf0.1 the
  * same spread is a pure LOSS: the shuffle's fixed cost exceeds the
  * sub-second kernel work it parallelizes (r13 measured the barrier
  * cohort 5.2 → 3.0 s by removing it).
  *
  * So the spread is gated twice, and fires only when both gates fail:
  *   - estimated input bytes < 8 MiB → no-op (the sf0.1 regime:
  *     fixed shuffle cost dominates; 8 MiB sits between sf0.1's
  *     largest gated input, events at 2.0 MB, and sf10's smallest
  *     serialized one, embeddings at 52 MB). Checked FIRST: the
  *     estimate comes off the optimized plan's statistics, so a small
  *     input starts no physical planning at define time;
  *   - splits >= defaultParallelism → no-op (a real warehouse scan is
  *     already parallel; this gate alone makes the op a no-op at
  *     cluster scale, where shuffling payload bytes for "parallelism"
  *     is exactly what guide §2.3 forbids). `df.rdd.getNumPartitions`
  *     plans the scan, so it runs only past the byte gate.
  *
  * The repartition hashes on the caller's unique id — deterministic
  * under retry (guide §2.5: never round-robin non-deterministic input;
  * ids are unique so the hash spreads evenly) and free of round-robin's
  * sort-before-repartition.
  */
object Spread {
  private val minBytes = BigInt(8L << 20)

  private[graft] def ifNarrow(df: DataFrame, key: Column): DataFrame = {
    val target = df.sparkSession.sparkContext.defaultParallelism
    if (df.queryExecution.optimizedPlan.stats.sizeInBytes < minBytes ||
        df.rdd.getNumPartitions >= target) df
    else df.repartition(target, key)
  }
}
