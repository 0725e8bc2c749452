package graft.sources

import org.apache.spark.sql.SparkSession

/** Small-file compaction — the standing maintenance op for a parquet
  * lake: streaming ingest and fine-grained partitioned writes leave
  * directories of KB-sized files whose per-file open/footer/task cost
  * eventually dominates scans (the "small files problem"). Compaction
  * rewrites a directory into approximately target-sized files.
  *
  * Shape: one [[ParquetMeta.listing]] of the input on the driver (file
  * count + byte total — the same listing every scan's split planning
  * performs), the input schema from its first footer through
  * [[ParquetMeta.sparkSchema]] (no inference job), then ONE
  * round-robin repartition to `ceil(bytes / targetBytes)` writers. The
  * rewrite is a full read+write of the directory by construction —
  * that is what compaction IS — parallelized across the cluster; no
  * collect of data, no shuffle beyond the single repartition exchange.
  * Content is preserved row-for-row (certified by the s14 oracle);
  * file COUNT becomes deterministic from the byte total (pinned in
  * CompactionSpec). Production callers swap the output directory in
  * atomically (manifest/metastore pointer flip); here the output path
  * is the caller's to manage.
  */
object Compaction {

  final case class CompactionStats(
      nFilesBefore: Int, bytesBefore: Long, nFilesAfter: Int)

  /** The parquet part files of a table, RECURSIVELY, as
    * [[ParquetMeta.listing]] sees them: (count, total bytes,
    * sawSubdirFiles). `sawSubdirFiles` reports whether any part file
    * lives below the top level (a partitioned/Hive layout). */
  def dataFiles(spark: SparkSession, dir: String): (Int, Long, Boolean) =
    counts(ParquetMeta.listing(dir, spark.sessionState.newHadoopConf()))

  private def counts(l: ParquetMeta.Listing): (Int, Long, Boolean) =
    (l.files.size, l.files.map(_.getLen).sum, l.nested)

  /** Rewrite `in` into `out` as ~`targetBytes`-sized files:
    * n = max(1, ceil(Σ bytes / targetBytes)) writers. Returns the
    * before/after stats. (n is computed from the INPUT's compressed
    * bytes; output files land near the target because parquet
    * re-compresses similarly — exact sizing would need a second pass
    * and buys nothing for the open-cost problem being solved.) */
  def compact(
      spark: SparkSession,
      in: String,
      out: String,
      targetBytes: Long): CompactionStats = {
    require(targetBytes > 0, "targetBytes must be positive")
    val conf = spark.sessionState.newHadoopConf()
    val listing = ParquetMeta.listing(in, conf)
    val (nBefore, bytes, nested) = counts(listing)
    // a partitioned (Hive-layout) input would have its partition
    // columns silently folded into data columns by this flat rewrite —
    // refuse loudly; partitioned tables compact per-partition-directory
    // (each leaf directory is a flat input to this same call)
    require(!nested,
      s"compact: '$in' contains data files in subdirectories " +
        "(partitioned layout) — compact each leaf partition directory " +
        "separately; a flat rewrite would fold partition columns into " +
        "the data files")
    val n = math.max(1L, (bytes + targetBytes - 1) / targetBytes).toInt
    // the input's own footer gives the schema; a Spark-written empty
    // input still carries it in its one empty part file
    val schema = ParquetMeta.sparkSchema(spark, in, listing,
      ParquetMeta.footerOf(listing.files.head, conf))
    spark.read.schema(schema).parquet(in)
      .repartition(n) // explicit numPartitions: AQE does not coalesce it
      .write.mode("overwrite").parquet(out)
    val (nAfter, _, _) = dataFiles(spark, out)
    CompactionStats(nBefore, bytes, nAfter)
  }
}
