package graft.sources

import org.apache.parquet.hadoop.metadata.BlockMetaData
import org.apache.parquet.schema.{LogicalTypeAnnotation, PrimitiveType}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.expressions.{Attribute, AttributeReference}
import org.apache.spark.sql.catalyst.plans.logical.Project
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation, PartitioningAwareFileIndex}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, DoubleType, FloatType, IntegerType, LongType}

import scala.jdk.CollectionConverters._

/** Z-order (Morton-curve) clustered layout writer — the multi-dimensional
  * data-skipping technique for 100 TB fact tables.
  *
  * A table range-partitioned and sorted by ONE key gives tight per-file
  * min/max statistics on that key only: point/range predicates on any
  * other column must open every file. Interleaving the bits of several
  * rank-bucketed keys into one Morton value and laying files out along
  * that curve keeps per-file ranges narrow on EVERY participating
  * dimension simultaneously, so parquet footer stats (and row-group
  * stats inside each file) prune files for predicates on any of them.
  * This is the layout strategy behind Delta/Iceberg `OPTIMIZE ZORDER`,
  * re-expressed as plain Spark: column bounds, a codegen'd bit
  * interleave, `repartitionByRange` on the z-value, and a sorted write.
  *
  * Scale shape: bounds from the input's footer statistics when it is a
  * plain Parquet read (else one min/max aggregation over the scan —
  * combiner-only, tiny result collected to the driver), then one
  * range-exchange on the z-value. No other shuffle; the
  * interleave is a pure Column expression evaluated inside the scan
  * stage. Reference capability context: the reference's layout control
  * is row-group sizing only (`ParquetConverter.java:173-175`); z-order
  * is the beyond-reference layout op a warehouse-scale user needs.
  */
object ZOrder {

  /** Morton z-value of `buckets`, each already an integer bucket id in
    * [0, 2^bits): interleaves the low `bits` bits of each column,
    * column 0 owning the least-significant interleave slot. Pure
    * shift/or arithmetic — whole-stage-codegen'd, no UDF. */
  def interleave(buckets: Seq[Column], bits: Int): Column = {
    require(buckets.nonEmpty, "need at least one column")
    require(buckets.size * bits <= 62, "z-value must fit a signed long")
    val n = buckets.size
    val terms = for {
      i <- 0 until bits
      (b, j) <- buckets.zipWithIndex
    } yield shiftleft(shiftright(b, i).bitwiseAND(lit(1L)), i * n + j)
    terms.reduce((a, c) => a.bitwiseOR(c))
  }

  /** Rank-bucket `v` into [0, 2^bits) over the closed range [lo, hi]
    * (degenerate lo==hi maps everything to bucket 0). width_bucket
    * handles the scaling; the clamp absorbs its nb+1 upper-bound
    * convention and any out-of-range values. */
  def bucketize(v: Column, lo: Double, hi: Double, bits: Int): Column = {
    val nb = 1L << bits
    if (lo == hi) lit(0L)
    else least(lit(nb - 1), greatest(lit(0L),
      width_bucket(v.cast("double"), lit(lo), lit(hi), lit(nb)) - 1L))
  }

  /** Per-column (min, max) as doubles. None = empty input / all-null
    * column.
    *
    * When `df` is a flat Parquet relation, or a projection of bare
    * columns of one, with no partition columns, and every z column is a
    * top-level INT, BIGINT, FLOAT or DOUBLE stored as that physical type,
    * the bounds come from the part files' footer statistics through
    * `ParquetMeta`'s metadata cache: no Spark job, and no file opened
    * twice in a JVM. That needs every row group to carry statistics for
    * the column with a non-NaN min and max, or to be all-null. Any other
    * input runs one min/max aggregate over the scan. So a repeated layout
    * run over an unchanged Parquet input pays nothing for its bounds,
    * with no hand-kept cache at the caller.
    *
    * Footer and aggregate bounds can differ on a FLOAT or DOUBLE column
    * that holds NaN in a file whose writer leaves NaN out of its min/max
    * statistics: the footer's max is finite, the aggregate's is NaN.
    * (parquet-mr counts NaN as the largest value, and its reader drops
    * such a min/max, so its own files fall back to the aggregate.) Bounds
    * only steer clustering ([[bucketize]] clamps), so the rows written
    * are the same either way. */
  def columnBounds(
      df: DataFrame, cols: Seq[String]): Seq[Option[(Double, Double)]] =
    footerBounds(df, cols).getOrElse {
      val aggs = cols.flatMap(c =>
        Seq(min(col(c).cast("double")).as(s"lo_$c"),
          max(col(c).cast("double")).as(s"hi_$c")))
      val row = df.agg(aggs.head, aggs.tail: _*).head()
      cols.indices.map { i =>
        if (row.isNullAt(2 * i) || row.isNullAt(2 * i + 1)) None
        else Some((row.getDouble(2 * i), row.getDouble(2 * i + 1)))
      }
    }

  /** [[columnBounds]] from footer statistics, or None when `df` or its
    * files do not qualify. */
  private def footerBounds(
      df: DataFrame, cols: Seq[String]): Option[Seq[Option[(Double, Double)]]] = {
    val plan = df.queryExecution.analyzed
    val relation = plan match {
      case r: LogicalRelation => Some(r.relation)
      case Project(list, r: LogicalRelation) if list.forall(_.isInstanceOf[AttributeReference]) =>
        Some(r.relation)
      case _ => None
    }
    val resolver = df.sparkSession.sessionState.conf.resolver
    val attrs = cols.flatMap(c => plan.output.find(a => resolver(a.name, c)))
    relation match {
      case Some(fs: HadoopFsRelation) if fs.fileFormat.isInstanceOf[ParquetFileFormat] &&
          fs.partitionSchema.isEmpty && attrs.size == cols.size =>
        fs.location match {
          case index: PartitioningAwareFileIndex =>
            val conf = df.sparkSession.sessionState.newHadoopConfWithOptions(fs.options)
            val blocks = index.allFiles().flatMap(ParquetMeta.footerOf(_, conf).getBlocks.asScala)
            val ranges = attrs.map(footerRange(blocks, _))
            if (ranges.forall(_.isDefined)) Some(ranges.flatten) else None
          case _ => None
        }
      case _ => None
    }
  }

  /** A top-level column's (min, max) over `blocks` from their
    * statistics: Some(None) when it holds no value, None when some row
    * group's statistics cannot tell. */
  private def footerRange(
      blocks: Seq[BlockMetaData], column: Attribute): Option[Option[(Double, Double)]] = {
    val perBlock = blocks.map { block =>
      block.getColumns.asScala
        .find(cc => cc.getPath.size == 1 && cc.getPath.toArray.head == column.name)
        .filter(cc => storedAs(column.dataType, cc.getPrimitiveType))
        .flatMap(cc => Option(cc.getStatistics))
        .flatMap { st =>
          if (st.hasNonNullValue) {
            val lo = st.genericGetMin.asInstanceOf[Number].doubleValue
            val hi = st.genericGetMax.asInstanceOf[Number].doubleValue
            if (lo.isNaN || hi.isNaN) None else Some(Some((lo, hi)))
          } else if (st.isNumNullsSet && st.getNumNulls == block.getRowCount) Some(None)
          else None
        }
    }
    if (perBlock.exists(_.isEmpty)) None
    else {
      val ranges = perBlock.flatten.flatten
      Some(if (ranges.isEmpty) None else Some((ranges.map(_._1).min, ranges.map(_._2).max)))
    }
  }

  /** Whether Spark reads values of parquet type `t` unchanged as `dt`,
    * one of the four types whose footer statistics serve as bounds. */
  private def storedAs(dt: DataType, t: PrimitiveType): Boolean = {
    val logical = t.getLogicalTypeAnnotation
    def signedInt(bits: Int): Boolean = logical == null || (logical match {
      case i: LogicalTypeAnnotation.IntLogicalTypeAnnotation => i.isSigned && i.getBitWidth == bits
      case _ => false
    })
    import PrimitiveType.PrimitiveTypeName._
    (dt, t.getPrimitiveTypeName) match {
      case (IntegerType, INT32) => signedInt(32)
      case (LongType, INT64) => signedInt(64)
      case (FloatType, FLOAT) | (DoubleType, DOUBLE) => logical == null
      case _ => false
    }
  }

  /** Z-value from precomputed bounds (see [[columnBounds]]). */
  def zvalueFromBounds(
      bounds: Seq[Option[(Double, Double)]], cols: Seq[String],
      bits: Int = 16): Column = {
    require(bounds.size == cols.size, "one bound pair per column")
    val buckets = cols.zip(bounds).map {
      // empty input / all-null column -> null min/max; degrade to a
      // constant bucket instead of an opaque NPE (the write still
      // succeeds, just unclustered on that column)
      case (_, None) => lit(0L)
      case (c, Some((lo, hi))) => bucketize(col(c), lo, hi, bits)
    }
    interleave(buckets, bits)
  }

  /** Write `df` clustered along the z-curve of `cols`: range-partition
    * into `numFiles` output files by z-value, sort within each file, and
    * drop the helper column. Every file then covers a narrow range of
    * EVERY z-ordered column — parquet min/max footer stats prune on any
    * of them. */
  def writeZOrdered(
      df: DataFrame,
      path: String,
      cols: Seq[String],
      numFiles: Int,
      bits: Int = 16,
      mode: String = "overwrite"): Unit = {
    val z = zvalueFromBounds(columnBounds(df, cols), cols, bits)
    df.withColumn("__z", z)
      .repartitionByRange(numFiles, col("__z"))
      .sortWithinPartitions(col("__z"))
      .drop("__z")
      .write.mode(mode).option("compression", "snappy").parquet(path)
  }

  /** Per-file [min, max] of a long-typed column from footer statistics
    * only (no data pages) — the observability hook the skipping spec
    * asserts on, and what a file-pruning reader would consult. */
  def fileRanges(path: String, column: String): Seq[(String, Long, Long)] =
    ParquetMeta.filesWithFooters(path).flatMap {
      case (file, footer) =>
        val perBlock = footer.getBlocks.asScala.flatMap { block =>
          block.getColumns.asScala
            .find(_.getPath.toDotString == column)
            .flatMap { cc =>
              Option(cc.getStatistics).filter(_.hasNonNullValue).flatMap { s =>
                // integer-typed stats only; other physical types are
                // skipped (None), not a MatchError
                (s.genericGetMin, s.genericGetMax) match {
                  case (mn: java.lang.Long, mx: java.lang.Long) =>
                    Some((mn.longValue, mx.longValue))
                  case (mn: java.lang.Integer, mx: java.lang.Integer) =>
                    Some((mn.longValue, mx.longValue))
                  case _ => None
                }
              }
            }
        }
        if (perBlock.isEmpty) None
        else Some((file.getName, perBlock.map(_._1).min, perBlock.map(_._2).max))
    }
}
