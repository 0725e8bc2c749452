package graft.sources

import org.apache.parquet.hadoop.metadata.ParquetMetadata
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import scala.jdk.CollectionConverters._

/** Parquet read/write façade (SURVEY §2A R1, R8–R11, §2B S1–S6) plus the
  * corrupt-date rescue read option (R18–R20, DRILL-4203 semantics).
  *
  * Thin by design: Spark's vectorized reader + Catalyst pushdown already
  * dominate the reference's row-at-a-time scan; this object only fixes
  * the policy surface (modes, compression, schema, mergeSchema) and adds
  * the one read-time normalization Spark lacks.
  */
object ParquetIO {

  /** R8/R10 semantics: default errorifexists + snappy. `bloomFilterCols`
    * writes a split-block bloom filter per named column (the reference
    * corpus's `bloom_filter.bin` artifact) so readers can prove a row
    * group free of an equality-probe value without touching its pages —
    * the point-lookup skip index for 100 TB append-only fact tables. */
  def write(
      df: DataFrame,
      path: String,
      mode: String = "errorifexists",
      compression: String = "snappy",
      partitionCols: Seq[String] = Nil,
      bloomFilterCols: Seq[String] = Nil,
      bloomNdv: Long = 100000L,
      extraOptions: Map[String, String] = Map.empty): Unit = {
    var w = df.write.mode(mode).option("compression", compression)
    bloomFilterCols.foreach { c =>
      w = w.option(s"parquet.bloom.filter.enabled#$c", "true")
        .option(s"parquet.bloom.filter.expected.ndv#$c", bloomNdv.toString)
    }
    extraOptions.foreach { case (k, v) => w = w.option(k, v) }
    if (partitionCols.nonEmpty) w = w.partitionBy(partitionCols: _*)
    w.parquet(path)
  }

  /** Point lookup with bloom-filter file skipping: probe every part
    * file's bloom filters driver-side (footer + filter bytes only, no
    * data pages) and scan ONLY the files where some row group might
    * contain `value`. On a 100 TB append-only table keyed for point
    * lookups this turns "open every file" into "open the handful the
    * filters can't rule out" before Spark's own row-group pruning takes
    * over inside each file. Falls back to scanning a file when it has no
    * (or an unreadable) filter — absence can only be proven, never
    * assumed. The table is listed once; footers and filters come from
    * `ParquetMeta`'s metadata cache, so a repeated lookup on an unchanged
    * table opens no file. On a non-partitioned table no Spark job runs
    * before the action, and a key the filters prove absent from every
    * file answers on the driver: an empty local relation with the
    * table's schema, whose collect starts no job either. */
  def readPointLookup(
      spark: SparkSession,
      path: String,
      column: String,
      value: Any): DataFrame = {
    val eq = col(s"`$column`") === lit(value)
    val conf = spark.sessionState.newHadoopConf()
    val listing = ParquetMeta.listing(path, conf)
    // A partition column exists only in directory names, never in the
    // part files — no file carries a bloom filter for it, and a
    // file-list read without basePath would surface it as all-NULL.
    // The right plan for a partition-key lookup is Catalyst's own
    // partition pruning on a plain read (prunes to the one directory
    // at planning time, zero data files opened elsewhere). Partition
    // columns come from the listing's `name=value` directories rather
    // than any file's physical schema: under schema evolution a DATA
    // column can be absent from individual part files, and probing one
    // footer would misroute its lookups to a full scan, defeating the
    // skip index (files genuinely lacking the column are instead kept
    // by the bloom probe — absence is proven, never assumed).
    if (listing.partitionCols.contains(column))
      return spark.read.parquet(path).filter(eq)
    val probed = ParquetMeta.bloomProbe(listing.files, column, value, conf)
    // the probe has already read the first file's footer
    val schema = ParquetMeta.sparkSchema(spark, path, listing, probed.head._2)
    val candidateFiles = probed.collect {
      case (file, _, kept) if kept.nonEmpty => file.getPath.toString
    }
    if (candidateFiles.isEmpty)
      spark.createDataFrame(java.util.Collections.emptyList[org.apache.spark.sql.Row](), schema)
    else
      // basePath keeps directory-derived partition values recoverable
      // when the surviving files sit under partition directories — the
      // merged schema includes those columns, and without basePath the
      // file-list read returns them as NULL
      spark.read.option("basePath", path).schema(schema)
        .parquet(candidateFiles: _*).filter(eq)
  }

  /** Bucketed table write: pre-shuffles once at write time so every
    * future equi-join/aggregation on `keys` is exchange-free (the
    * co-located-join strategy for repeatedly-joined 100 TB fact tables;
    * bucket counts should match across tables joined together). */
  def writeBucketed(
      df: DataFrame,
      table: String,
      buckets: Int,
      keys: Seq[String],
      mode: String = "overwrite"): Unit =
    df.write.mode(mode)
      .bucketBy(buckets, keys.head, keys.tail: _*)
      .sortBy(keys.head, keys.tail: _*)
      .option("compression", "snappy")
      .saveAsTable(table)

  /** Drill's corrupt-date shift: 2 × 2440588 days
    * (ParquetReaderUtility.java:39). */
  val CorrectCorruptDateShiftDays: Int = 2 * 2440588

  /** Dates written by bad Drill versions land ~year 12000+; the probe
    * threshold is ~year 5000 in days-since-epoch
    * (ParquetReaderUtility.java:46-47). */
  val CorruptThresholdDays: Int = 1106685

  /** R18–R20: read with `corruptDateRebase` ∈ auto|on|off.
    *  - on:   unconditionally shift all DATE columns back
    *  - off:  plain read
    *  - auto: per-footer DRILL-4203 detection with the reference's exact
    *    decision tree (ParquetReaderUtility.java:91-155):
    *      1. `drill.version`/`dremio.version` key present ⇒ corrupt UNLESS
    *         `parquet-writer.version` parses to an int ≥ 2 or
    *         `is.date.correct` = true;
    *      2. otherwise created_by null or bare "parquet-mr" ⇒ stats probe;
    *      3. otherwise parse created_by: semver 1.8.1 with "drill" in the
    *         pre-release tag (migrated Drill file) ⇒ corrupt; any other
    *         parseable writer ⇒ sane; unparseable ⇒ stats probe.
    *    The stats probe walks EVERY row group; a DATE max beyond the
    *    year-5000 threshold ⇒ corrupt, a DATE chunk with no stats ⇒
    *    unclear (reference: META_UNCLEAR_TEST_VALUES, java:224) and the
    *    actual column values of that file are probed with a scan —
    *    missing stats must not silently pass as "sane".
    * The read goes through [[graft.plans.CorruptDateRebaseRule]]: the
    * rule rebases DATA date columns only (partition DATE columns come
    * from directory names) with a conditional `date_sub` projection —
    * scan-speed, no shuffle. Every part footer is sniffed in auto mode;
    * a directory mixing corrupt and sane writers is rejected loudly. */
  def readCorruptDateAware(
      spark: SparkSession,
      path: String,
      corruptDateRebase: String = "auto"): DataFrame = {
    graft.GraftFunctions.ensureRegistered(spark)
    spark.read.option("corruptDateRebase", corruptDateRebase).parquet(path)
  }

  /** Verdict cache for [[rebaseNeeded]] — the optimizer rule re-runs on
    * every query optimization, and re-opening every part footer (plus
    * possible value-probe scans) per action would make planning cost
    * O(files) each time. Keyed on (paths, dateCols, mode); call
    * [[clearRebaseCache]] if files under a cached path are rewritten
    * mid-session. */
  private val rebaseVerdicts =
    new java.util.concurrent.ConcurrentHashMap[String, java.lang.Boolean]()

  def clearRebaseCache(): Unit = rebaseVerdicts.clear()

  /** Shared verdict for a read: does `mode` require shifting DATE
    * columns for the part files under `paths`? Used by the
    * [[graft.plans.CorruptDateRebaseRule]] optimizer rule, which every
    * `corruptDateRebase` read ([[readCorruptDateAware]] included) runs
    * through. */
  def rebaseNeeded(
      spark: SparkSession,
      paths: Seq[String],
      dateCols: Set[String],
      mode: String): Boolean = mode match {
    case "off" => false
    case "on" => true
    case "auto" =>
      val key = paths.sorted.mkString(";") + "|" +
        dateCols.toSeq.sorted.mkString(",") + "|" + mode
      rebaseVerdicts.computeIfAbsent(key, _ => {
        // sniff EVERY part footer: applying one file's verdict to a
        // mixed-provenance directory would silently shift correct dates
        // by ~13k years (or leave corrupt ones unfixed). Uniform verdict
        // → apply; mixed → refuse loudly.
        val conf = spark.sessionState.newHadoopConf()
        val verdicts = paths.flatMap(p => ParquetMeta.filesWithFooters(p, conf)).map {
          case (file, ft) => footerVerdict(spark, file.toString, ft, dateCols)
        }
        if (verdicts.distinct.size > 1)
          throw new IllegalStateException(
            s"${paths.mkString(",")} mixes corrupt-date and sane-date files; " +
              "split the read or pass corruptDateRebase=on/off per file group")
        // no sniffable part files (e.g. suffix-less names) → no evidence
        // of corruption → leave the data alone rather than crash
        java.lang.Boolean.valueOf(verdicts.headOption.getOrElse(false))
      }).booleanValue()
    case other =>
      throw new IllegalArgumentException(s"corruptDateRebase=$other")
  }

  /** Reference decision tree (ParquetReaderUtility.java:91-155) for one
    * part file; true = dates corrupt. */
  private def footerVerdict(
      spark: SparkSession,
      file: String,
      ft: ParquetMetadata,
      dateCols: Set[String]): Boolean = {
    val meta = ft.getFileMetaData
    val kv = meta.getKeyValueMetaData.asScala
    if (kv.contains("drill.version") || kv.contains("dremio.version")) {
      // Drill >= 1.3.0 or any Dremio. Writer version >= 2 (DRILL-4980) or
      // the is.date.correct flag (Drill 1.9.0, all Dremio) mean sane;
      // a MISSING writer version in this family wrote shifted dates.
      // An UNPARSEABLE one (e.g. "2.0") is a different case: the
      // reference fails loudly (Integer.parseInt throws,
      // ParquetReaderUtility.java:104) rather than guessing — silently
      // classifying it corrupt would shift sane dates by ~13k years.
      // We log and fall through to the stats/value probe, which decides
      // from the actual data instead of the malformed claim.
      val declaredCorrect = kv.get("is.date.correct").exists(_.trim.equalsIgnoreCase("true"))
      kv.get("parquet-writer.version") match {
        case _ if declaredCorrect => false
        case None => true
        case Some(v) => scala.util.Try(v.trim.toInt).toOption match {
          case Some(i) => i < 2
          case None =>
            System.err.println(
              s"[graft] $file: unparseable parquet-writer.version '$v' " +
                "on a drill/dremio file — probing stats/values instead")
            statsThenValueProbe(spark, file, ft, dateCols)
        }
      }
    } else Option(meta.getCreatedBy) match {
      case None => statsThenValueProbe(spark, file, ft, dateCols)
      case Some("parquet-mr") => statsThenValueProbe(spark, file, ft, dateCols)
      case Some(created) =>
        // created_by format: "writer version M.m.p[-pre] (build sha)".
        // STRICT like the reference's SemanticVersion parse: the patch
        // number must be followed by end/space/paren/pre-release dash —
        // "1.6.0rc3-drill-r0.3" (pre-1.3 Drill) must NOT parse, so those
        // files fall through to the stats probe that catches their
        // shifted dates (VersionParseException branch, java:149-151).
        val semver = raw"version\s+(\d+)\.(\d+)\.(\d+)(?:-([^\s(]+))?(?=[\s(]|$$)".r
        semver.findFirstMatchIn(created) match {
          case Some(m) =>
            // migrated Drill files: parquet-mr 1.8.1 with drill-r0 in the
            // pre-release slot (ParquetReaderUtility.java:143)
            m.group(1) == "1" && m.group(2) == "8" && m.group(3) == "1" &&
              Option(m.group(4)).exists(_.toLowerCase.contains("drill"))
          case None => statsThenValueProbe(spark, file, ft, dateCols)
        }
    }
  }

  /** R19: min/max stats of DATE columns beyond the year-5000 threshold,
    * over every row group. A DATE chunk lacking stats makes the footer
    * inconclusive (reference META_UNCLEAR_TEST_VALUES) → scan that file's
    * date columns and test the actual max day value. */
  private def statsThenValueProbe(
      spark: SparkSession,
      file: String,
      ft: ParquetMetadata,
      dateCols: Set[String]): Boolean = {
    var unclear = false
    val corrupt = ft.getBlocks.asScala.exists { block =>
      block.getColumns.asScala.exists { cc =>
        dateCols.contains(cc.getPath.toDotString) && {
          val st = cc.getStatistics
          if (st == null || (!st.hasNonNullValue && st.getNumNulls < block.getRowCount)) {
            unclear = true; false
          } else st.hasNonNullValue && (st.genericGetMax match {
            case i: java.lang.Integer => i > CorruptThresholdDays
            case _ => false
          })
        }
      }
    }
    if (corrupt) true
    else if (!unclear) false
    else {
      // value probe: one pruned single-column-set scan of this part file
      // (unix_date = days since epoch; DATE doesn't cast to INT directly)
      val probe = spark.read.parquet(file)
        .select(dateCols.toSeq.map(c => max(unix_date(col(s"`$c`"))).as(c)): _*)
        .head()
      (0 until probe.length).exists(i => !probe.isNullAt(i) && probe.getInt(i) > CorruptThresholdDays)
    }
  }

  /** R11 parity (reference LoadParquet.java:61-71): the reference's only
    * concurrency is a TransferManager multipart upload to S3 (5 MiB
    * threshold, 16-thread pool). The Spark-native equivalent is the s3a
    * connector's incremental multipart upload plus a zero-rename
    * committer — these are the settings [[writeS3]] applies per-write.
    * File-source writer options are merged into the job's Hadoop conf
    * (`newHadoopConfWithOptions`), so nothing leaks into the session.
    *
    * Values mirror the reference's shape at cluster-appropriate sizes:
    * 64 MiB parts (5 MiB is pathological at 100 TB — S3's 10k-part cap
    * would truncate objects >48.8 GiB), 16 upload threads per executor,
    * disk-buffered fast upload so a slow upload can't OOM the task.
    * A live write additionally needs hadoop-aws on the classpath and,
    * for the magic committer, `spark.sql.sources.commitProtocolClass` =
    * PathOutputCommitProtocol at session build — recorded in
    * [[s3aSessionConf]]; this sandbox has no s3a jars and zero egress,
    * so SourcesSpec asserts the conf surface, not a live upload. */
  val s3aWriteOptions: Map[String, String] = Map(
    "fs.s3a.multipart.size" -> (64L * 1024 * 1024).toString,
    "fs.s3a.multipart.threshold" -> (64L * 1024 * 1024).toString,
    "fs.s3a.fast.upload" -> "true",
    "fs.s3a.fast.upload.buffer" -> "disk",
    "fs.s3a.threads.max" -> "16",
    "fs.s3a.connection.maximum" -> "96",
    "fs.s3a.committer.name" -> "magic",
    "fs.s3a.committer.magic.enabled" -> "true")

  /** Session-build confs for zero-rename S3 commits (require the
    * spark-hadoop-cloud + hadoop-aws jars, absent in this sandbox). */
  val s3aSessionConf: Map[String, String] = Map(
    "spark.sql.sources.commitProtocolClass" ->
      "org.apache.spark.internal.io.cloud.PathOutputCommitProtocol",
    "spark.sql.parquet.output.committer.class" ->
      "org.apache.spark.internal.io.cloud.BindingParquetOutputCommitter",
    "spark.hadoop.mapreduce.outputcommitter.factory.scheme.s3a" ->
      "org.apache.hadoop.fs.s3a.commit.S3ACommitterFactory")

  /** Parquet write carrying the s3a multipart/committer options; works
    * against any scheme (the fs.s3a.* keys are inert off s3a paths, so
    * the same call is testable locally). */
  def writeS3(
      df: DataFrame,
      path: String,
      mode: String = "errorifexists",
      compression: String = "snappy",
      partitionCols: Seq[String] = Nil): Unit =
    write(df, path, mode, compression, partitionCols,
      extraOptions = s3aWriteOptions)

  /** Decode a Hive-escaped partition-directory VALUE: strictly the
    * `%XX` (two-hex-digit) sequences Hive's `escapePathName` emits,
    * nothing else — mirrors Catalyst's
    * `ExternalCatalogUtils.unescapePathName`. NOT url_decode: Hive
    * never escapes space or '+', so x-www-form-urlencoded decoding
    * would corrupt a literal '+' in a partition value into a space.
    * A '%' not followed by two hex digits passes through verbatim
    * (same as the Catalyst impl). */
  def unescapeHivePath(s: String): String = {
    if (s == null) return null
    if (s.indexOf('%') < 0) return s // common case: nothing escaped
    val sb = new java.lang.StringBuilder(s.length)
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (c == '%' && i + 2 < s.length) {
        // both chars must be hex DIGITS — parseInt alone would also
        // accept a signed "+5"/"-5" pair, which is not a Hive escape
        val h1 = Character.digit(s.charAt(i + 1), 16)
        val h2 = Character.digit(s.charAt(i + 2), 16)
        if (h1 >= 0 && h2 >= 0) { sb.append((h1 * 16 + h2).toChar); i += 3 }
        else { sb.append(c); i += 1 }
      } else { sb.append(c); i += 1 }
    }
    sb.toString
  }

  /** Column form of [[unescapeHivePath]]. A UDF is the right tool here
    * (no builtin decodes only-%XX), but callers must keep it OFF the
    * scan path — apply it to aggregated partition values, whose
    * cardinality is the partition count, not the row count. */
  def unescapeHivePathUdf(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    org.apache.spark.sql.functions.udf(unescapeHivePath _).apply(c)
}
