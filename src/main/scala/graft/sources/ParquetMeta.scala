package graft.sources

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.parquet.HadoopReadOptions
import org.apache.parquet.hadoop.{Footer, ParquetFileReader}
import org.apache.parquet.hadoop.metadata.ParquetMetadata
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat, ParquetToSparkSchemaConverter}
import org.apache.spark.sql.types.{ArrayType, DataType, MapType, StructType}

import scala.jdk.CollectionConverters._

/** Footer/metadata utilities (SURVEY §2A R13–R15, R18–R22 analogs):
  * row counts, row-group stats, writer identification — driver-side
  * footer reads only (a footer is KBs; no data pages are touched), used
  * for planning decisions like the corrupt-date rescue.
  *
  * Every footer is read with the caller's Hadoop conf: it builds the
  * file system, the read options and the per-file decryption lookup
  * (`parquet.crypto.factory.class`). Callers holding a SparkSession
  * pass its Hadoop conf; the default is one conf loaded once per JVM.
  * Each call lists the table once and opens each file once.
  *
  * This is the one place that lists a Parquet table ([[listing]]) and
  * turns its footer into the Spark schema a read would infer
  * ([[sparkSchema]]); `Tables`, `ParquetIO.readPointLookup` and
  * `Compaction` all go through it.
  */
object ParquetMeta {

  /** The default conf: loaded once per JVM and never mutated, so a
    * footer read does not pay for parsing a fresh `Configuration`. */
  private lazy val jvmConf: Configuration = new Configuration()

  /** One listing of a table: its part files in path order, whether
    * they are exactly what Spark's file index reads — a single directory
    * (or file) of `.parquet` files, with no partition or other
    * subdirectories, no summary files (`_metadata`, `_common_metadata`)
    * and no data files under another suffix — whether any part file
    * sits below the root directory, and the partition-column names of
    * the `k=v` directories below the root. */
  final case class Listing(
      files: Seq[FileStatus], flat: Boolean, nested: Boolean, partitionCols: Set[String])

  /** Lists `path` once — via the Hadoop FileSystem API so URI-style and
    * remote paths (file:/, hdfs://, s3a://) resolve like local ones.
    * Recurses into subdirectories (skipping _temporary/_SUCCESS/hidden
    * entries) so partitioned layouts (`p=.../part-*.parquet`) resolve
    * too. A plain file lists as itself. Only directories BELOW `path`
    * name partition columns: a relative `path` or an ancestor directory
    * containing '=' never adds one. */
  def listing(path: String, conf: Configuration = jvmConf): Listing = {
    val p = new Path(path)
    val fs = p.getFileSystem(conf)
    val root = fs.getFileStatus(p)
    if (!root.isDirectory) return Listing(Seq(root), flat = true, nested = false, Set.empty)
    def hidden(n: String) = n.startsWith("_") || n.startsWith(".")
    def summary(n: String) = n.startsWith("_metadata") || n.startsWith("_common_metadata")
    var flat = true
    var nested = false
    val partitionCols = Set.newBuilder[String]
    def walk(d: Path, depth: Int): Seq[FileStatus] = fs.listStatus(d).toSeq.flatMap { st =>
      val n = st.getPath.getName
      // Spark's file index reads summary files and `_k=v` directories,
      // which this listing skips as hidden
      if (summary(n) || (hidden(n) && n.contains('='))) flat = false
      if (hidden(n)) Nil
      else if (st.isDirectory) {
        flat = false
        if (n.contains('=')) partitionCols += n.takeWhile(_ != '=')
        walk(st.getPath, depth + 1)
      }
      else if (n.endsWith(".parquet")) { if (depth > 0) nested = true; Seq(st) }
      else { flat = false; Nil }
    }
    val parts = walk(p, 0).sortBy(_.getPath.toString)
    if (parts.isEmpty) throw new IllegalArgumentException(s"no parquet files in $path")
    Listing(parts, flat, nested, partitionCols.result())
  }

  /** The parquet part files under `path` (itself, if a plain file), in
    * path order; see [[listing]]. */
  def partFiles(path: String, conf: Configuration = jvmConf): Seq[Path] =
    listing(path, conf).files.map(_.getPath)

  /** Opens a listed file with read options built from `conf` and the
    * file's own path, which keeps the per-file decryption lookup. */
  private def open(file: FileStatus, conf: Configuration): ParquetFileReader =
    ParquetFileReader.open(HadoopInputFile.fromStatus(file, conf),
      HadoopReadOptions.builder(conf, file.getPath).build())

  private[sources] def footerOf(file: FileStatus, conf: Configuration): ParquetMetadata = {
    val r = open(file, conf)
    try r.getFooter finally r.close()
  }

  /** Footer of the one part file at `path` — a file, or a directory
    * (Spark write output) holding exactly one. Throws
    * `IllegalArgumentException` on a listing of several part files,
    * rather than answering for the first one; use [[footers]] there. */
  def footer(path: String, conf: Configuration = jvmConf): ParquetMetadata =
    listing(path, conf).files match {
      case Seq(only) => footerOf(only, conf)
      case many => throw new IllegalArgumentException(
        s"$path holds ${many.size} part files; this footer read describes one file")
    }

  /** The schema `spark.read.parquet(path)` infers, read from the first
    * part file's footer without a Spark job: Spark's own footer→schema
    * conversion under the session's current confs, made nullable as
    * Spark's file relation declares it. Without schema merging Spark
    * infers a flat table's schema from that one footer; partition
    * directories, summary files or other data files change what Spark
    * reads, so those tables keep Spark's own inference. */
  def sparkSchema(spark: SparkSession, path: String): StructType = {
    val conf = spark.sessionState.newHadoopConf()
    val l = listing(path, conf)
    sparkSchema(spark, path, l, footerOf(l.files.head, conf))
  }

  /** [[sparkSchema]] of an already-listed table, given the footer of its
    * first part file (read only when the footer decides). */
  def sparkSchema(spark: SparkSession, path: String, listing: Listing,
      firstFooter: => ParquetMetadata): StructType =
    if (listing.flat && !spark.sessionState.conf.isParquetSchemaMergingEnabled) {
      val converter = new ParquetToSparkSchemaConverter(spark.sessionState.conf)
      asNullable(ParquetFileFormat.readSchemaFromFooter(
        new Footer(listing.files.head.getPath, firstFooter), converter)).asInstanceOf[StructType]
    } else spark.read.parquet(path).schema

  /** `t` with every field, array element and map value nullable, as
    * Spark's file relation declares an inferred schema. */
  private[graft] def asNullable(t: DataType): DataType = t match {
    case s: StructType =>
      StructType(s.fields.map(f => f.copy(dataType = asNullable(f.dataType), nullable = true)))
    case a: ArrayType => ArrayType(asNullable(a.elementType), containsNull = true)
    case m: MapType => MapType(asNullable(m.keyType), asNullable(m.valueType), valueContainsNull = true)
    case other => other
  }

  /** Every part file of a file-or-directory path with its footer. */
  def filesWithFooters(path: String, conf: Configuration = jvmConf): Seq[(Path, ParquetMetadata)] =
    listing(path, conf).files.map(st => st.getPath -> footerOf(st, conf))

  /** All part-file footers of a file-or-directory path. */
  def footers(path: String, conf: Configuration = jvmConf): Seq[ParquetMetadata] =
    filesWithFooters(path, conf).map(_._2)

  /** R15: row count of every part file, from footers only. */
  def rowCount(path: String, conf: Configuration = jvmConf): Long =
    footers(path, conf).flatMap(_.getBlocks.asScala).map(_.getRowCount).sum

  /** R13 analog: per-row-group (rows, totalByteSize, starting offset),
    * over every part file in path order. */
  def rowGroupStats(path: String, conf: Configuration = jvmConf): Seq[(Long, Long, Long)] =
    footers(path, conf).flatMap(_.getBlocks.asScala).map(b =>
      (b.getRowCount, b.getTotalByteSize, b.getStartingPos))

  /** The writer of the one part file at `path` (see [[footer]]). */
  def createdBy(path: String, conf: Configuration = jvmConf): Option[String] =
    Option(footer(path, conf).getFileMetaData.getCreatedBy)

  /** R21 analog: row-group indexes of the one part file at `path` (see
    * [[footer]]) whose start offset falls in
    * [splitStart, splitStart+len) — Hive/Drill split semantics. */
  def rowGroupsForSplit(path: String, splitStart: Long, splitLen: Long,
      conf: Configuration = jvmConf): Seq[Int] =
    footer(path, conf).getBlocks.asScala.toSeq.zipWithIndex.collect {
      case (b, i) if b.getStartingPos >= splitStart &&
        b.getStartingPos < splitStart + splitLen => i
    }

  /** Columns that carry a bloom filter in any row group of any part file
    * (reference corpus artifact `bloom_filter.bin`: a footer-referenced
    * SBBF). */
  def bloomFilterColumns(path: String, conf: Configuration = jvmConf): Seq[String] =
    footers(path, conf).flatMap(_.getBlocks.asScala)
      .flatMap(_.getColumns.asScala)
      .filter(_.getBloomFilterOffset >= 0)
      .map(_.getPath.toDotString)
      .distinct

  /** (part-file path, row-group index) pairs whose bloom filter for
    * `column` might contain `value` — the skip primitive a reader uses
    * on equality predicates: a pair absent from the result is PROVABLY
    * value-free and its pages are never fetched. Walks EVERY part file
    * of a directory; see [[bloomProbe]]. */
  def bloomCandidateRowGroups(path: String, column: String, value: Any,
      conf: Configuration = jvmConf): Seq[(String, Int)] =
    bloomProbe(listing(path, conf).files, column, value, conf).flatMap {
      case (file, _, kept) => kept.map(file.getPath.toString -> _)
    }

  /** Each listed file with its footer and the indexes of the row groups
    * whose bloom filter for `column` might contain `value`, opening each
    * file once. A row group is kept (must-read) when it has no filter,
    * the filter can't be decoded, or the probe value can't be coerced to
    * the column's parquet PHYSICAL type — the filter hashed physical
    * encodings at write time, so probing with the wrong width (e.g. a
    * Long against an INT32 column) would silently miss every file;
    * coercion, not runtime-class dispatch, keeps that sound. */
  def bloomProbe(files: Seq[FileStatus], column: String, value: Any,
      conf: Configuration): Seq[(FileStatus, ParquetMetadata, Seq[Int])] =
    files.map { file =>
      val r = open(file, conf)
      try {
        val kept = r.getFooter.getBlocks.asScala.toSeq.zipWithIndex.filter { case (block, _) =>
          block.getColumns.asScala.find(_.getPath.toDotString == column) match {
            case Some(cc) if cc.getBloomFilterOffset >= 0 =>
              // readBloomFilter returns null when the filter can't be
              // decoded (IO error, encrypted column) → must read
              Option(r.getBloomFilterDataReader(block).readBloomFilter(cc)) match {
                case Some(bloom) =>
                  import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName._
                  val hash: Option[Long] = cc.getPrimitiveType.getPrimitiveTypeName match {
                    case INT64 => value match {
                      case l: Long => Some(bloom.hash(l))
                      case iv: Int => Some(bloom.hash(iv.toLong))
                      case _ => None
                    }
                    case INT32 => value match {
                      case iv: Int => Some(bloom.hash(iv))
                      case l: Long if l.isValidInt => Some(bloom.hash(l.toInt))
                      case _ => None
                    }
                    case DOUBLE => value match {
                      case d: Double => Some(bloom.hash(d))
                      case f: Float => Some(bloom.hash(f.toDouble))
                      case _ => None
                    }
                    case FLOAT => value match {
                      case f: Float => Some(bloom.hash(f))
                      case _ => None
                    }
                    case BINARY => value match {
                      case s: String =>
                        Some(bloom.hash(org.apache.parquet.io.api.Binary.fromString(s)))
                      case b: Array[Byte] =>
                        Some(bloom.hash(org.apache.parquet.io.api.Binary.fromConstantByteArray(b)))
                      case _ => None
                    }
                    case _ => None
                  }
                  hash.forall(bloom.findHash)
                case None => true
              }
            case _ => true // no filter → must read
          }
        }.map(_._2)
        (file, r.getFooter, kept)
      } finally r.close()
    }
}
