package graft

import graft.sources.ParquetMeta
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}

/** Typed access to the driver's synthetic star schema (TESTDATA.md).
  *
  * All query functions read through here so session-level quirks are
  * handled in exactly one place.
  *
  * `events.parquet` has been regenerated by the driver with different
  * physical `ts` encodings across rounds (TIMESTAMP(NANOS) through
  * round 4, TIMESTAMP(MICROS) isAdjustedToUTC=false since round 5).
  * Every downstream query does integer arithmetic on `ts` and every
  * DuckDB oracle uses `epoch_ns(ts)`, so the contract HERE is: after
  * `Tables(spark, dir, "events")`, `ts` is ALWAYS LongType epoch
  * nanoseconds, whatever the file stores:
  *
  *  - TIMESTAMP(NANOS): only representable in Spark as LongType via
  *    `spark.sql.legacy.parquet.nanosAsLong`, which `Engine.session`
  *    sets and the footer→schema conversion follows — already nanos,
  *    passed through.
  *  - TIMESTAMP(MICROS) isAdjustedToUTC=false → TimestampNTZType:
  *    sessions pin `spark.sql.session.timeZone=UTC`, so casting to
  *    TimestampType is value-preserving and `unix_micros * 1000`
  *    equals DuckDB's `epoch_ns` on the same naive value.
  *  - TIMESTAMP(MICROS) isAdjustedToUTC=true → TimestampType:
  *    `unix_micros * 1000` directly.
  *
  * TablesSpec writes fixture files for all three encodings and pins
  * this normalization so the next driver regeneration can't silently
  * break the 12 events-time queries again.
  */
object Tables {
  /** Nano-long view of a timestamp-ish column, whatever its loaded type. */
  private def toEpochNanos(c: Column, dt: org.apache.spark.sql.types.DataType): Column =
    dt match {
      case LongType         => c
      case TimestampType    => unix_micros(c) * lit(1000L)
      case TimestampNTZType => unix_micros(c.cast(TimestampType)) * lit(1000L)
      case other =>
        throw new IllegalStateException(
          s"events.ts loaded as unsupported type $other; extend Tables.toEpochNanos")
    }

  /** Analyzed-DataFrame catalog, keyed by (session, dir, table).
    *
    * Each table resolves once per session: one listing and one footer
    * read through [[graft.sources.ParquetMeta.sparkSchema]], then a
    * `spark.read.schema(...)` read that skips Spark's schema inference,
    * so resolving a table starts no Spark job. A real deployment
    * registers tables in a catalog once and resolves by name afterwards;
    * this map is that catalog. Execution is NOT cached (no `.persist`):
    * each action still scans the files, so data freshness only assumes
    * the testdata dirs are immutable (they are driver-written, read-only
    * to us). Per-query sink read-backs (s5/s6/l4...) do not go through
    * Tables and stay uncached. Keyed by session identity so a stopped
    * session's plans can't leak into a new one.
    */
  private val catalog =
    new java.util.concurrent.ConcurrentHashMap[(SparkSession, String, String), DataFrame]()

  def apply(spark: SparkSession, sfDir: String, name: String): DataFrame =
    catalog.computeIfAbsent((spark, sfDir, name), { _ =>
      val path = s"$sfDir/$name.parquet"
      normalized(name, spark.read.schema(ParquetMeta.sparkSchema(spark, path)).parquet(path))
    })

  /** The per-table normalization applied to a raw read: `events.ts` as
    * epoch-nanosecond longs; every other table unchanged. */
  private[graft] def normalized(name: String, df: DataFrame): DataFrame =
    if (name == "events") df.withColumn("ts", toEpochNanos(df("ts"), df.schema("ts").dataType))
    else df

  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")
}
