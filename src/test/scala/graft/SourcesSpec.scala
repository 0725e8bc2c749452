package graft

import org.apache.spark.sql.functions._
import graft.sources.{AvroIO, ParquetIO, ParquetMeta}

class ParquetIOSpec extends SparkSpec {
  import spark.implicits._

  /** A point lookup's schema must be the one Spark infers for the table,
    * whether the probe keeps files (hit) or none (miss). */
  private def assertLookupSchema(dir: String, column: String, hit: Any, miss: Any): Unit = {
    val want = spark.read.parquet(dir).schema
    for (v <- Seq(hit, miss))
      assert(ParquetIO.readPointLookup(spark, dir, column, v).schema == want, s"$column = $v")
  }

  test("write modes: errorifexists throws on rewrite, overwrite succeeds, append doubles") {
    val dir = tmpDir("graft-modes") + "/t"
    val df = Seq((1, "a"), (2, "b")).toDF("id", "s")
    ParquetIO.write(df, dir) // errorifexists default (reference R8 Mode.CREATE)
    intercept[Exception] { ParquetIO.write(df, dir) }
    ParquetIO.write(df, dir, mode = "overwrite")
    assert(spark.read.parquet(dir).count() == 2)
    ParquetIO.write(df, dir, mode = "append")
    assert(spark.read.parquet(dir).count() == 4)
  }

  test("compression codecs round-trip") {
    for (codec <- Seq("snappy", "gzip", "zstd", "lz4", "none")) {
      val dir = tmpDir(s"graft-$codec") + "/t"
      val df = spark.read.parquet(sf("nation"))
      ParquetIO.write(df, dir, compression = codec)
      assert(spark.read.parquet(dir).count() == df.count(), codec)
    }
  }

  test("partitioned write prunes on read") {
    val dir = tmpDir("graft-part") + "/t"
    ParquetIO.write(spark.read.parquet(sf("orders")), dir,
      partitionCols = Seq("o_orderstatus"))
    val pruned = spark.read.parquet(dir).filter($"o_orderstatus" === "F")
    val expected = spark.read.parquet(sf("orders")).filter($"o_orderstatus" === "F").count()
    assert(pruned.count() == expected)
    // physical plan must show partition filters, not data filters only
    val plan = pruned.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") && plan.contains("o_orderstatus"))
  }

  test("footer metadata: row counts and row-group stats") {
    assert(ParquetMeta.rowCount(sf("lineitem")) == 6000)
    val stats = ParquetMeta.rowGroupStats(sf("lineitem"))
    assert(stats.map(_._1).sum == 6000)
    assert(stats.forall(_._3 >= 4)) // data starts after the PAR1 magic
    assert(ParquetMeta.createdBy(sf("lineitem")).exists(_.nonEmpty))
    // split → row-group mapping covers all groups exactly once
    val all = ParquetMeta.rowGroupsForSplit(sf("lineitem"), 0, Long.MaxValue / 2)
    assert(all == stats.indices.toSeq)
  }

  test("footer metadata of a multi-file table describes every part file") {
    val dir = tmpDir("graft-footer-multi") + "/t"
    val orders = spark.read.parquet(sf("orders"))
    orders.repartition(4).write.parquet(dir)
    val parts = ParquetMeta.partFiles(dir)
    assert(parts.size == 4)
    assert(ParquetMeta.rowCount(dir) == orders.count())
    assert(ParquetMeta.rowGroupStats(dir).size ==
      parts.map(p => ParquetMeta.rowGroupStats(p.toString).size).sum)
    // the one-file readers refuse a listing of several files
    intercept[IllegalArgumentException](ParquetMeta.createdBy(dir))
    intercept[IllegalArgumentException](ParquetMeta.rowGroupsForSplit(dir, 0, Long.MaxValue / 2))
  }

  test("footer reads honour a property set only on the conf passed in") {
    // an encrypted footer opens only when the decryption factory is on
    // the conf the footer is read with
    val dir = tmpDir("graft-footer-conf") + "/t"
    Seq((1.5, 2.5f, "x"), (3.5, 4.5f, "y")).toDF("double_field", "float_field", "tag")
      .repartition(1).write
      .option("parquet.crypto.factory.class", classOf[graft.sources.CorpusCryptoFactory].getName)
      .parquet(dir)
    val conf = spark.sessionState.newHadoopConf()
    conf.set("parquet.crypto.factory.class", classOf[graft.sources.CorpusCryptoFactory].getName)
    import scala.jdk.CollectionConverters._
    assert(ParquetMeta.footers(dir, conf).flatMap(_.getBlocks.asScala).map(_.getRowCount).sum == 2)
    assert(ParquetMeta.rowGroupStats(dir, conf).map(_._1).sum == 2)
    // the default conf carries no factory, so the same reads must fail
    intercept[Exception](ParquetMeta.footers(dir))
    intercept[Exception](ParquetMeta.rowGroupStats(dir))
  }

  test("corrupt-date rescue: on/off/auto") {
    import java.sql.Date
    val dir = tmpDir("graft-dates") + "/t"
    // simulate a Drill-corrupted file: dates shifted forward 2×2440588 days
    val good = Seq((1, Date.valueOf("1995-06-17")), (2, Date.valueOf("2001-01-01")))
      .toDF("id", "d")
    val corrupted = good.withColumn("d",
      date_add($"d", ParquetIO.CorrectCorruptDateShiftDays))
    corrupted.write.parquet(dir)

    val fixed = ParquetIO.readCorruptDateAware(spark, dir, "on")
      .orderBy($"id").collect().map(_.getDate(1).toString)
    assert(fixed.toSeq == Seq("1995-06-17", "2001-01-01"))

    val off = ParquetIO.readCorruptDateAware(spark, dir, "off")
      .orderBy($"id").collect().map(_.getDate(1).toString)
    assert(off.head != "1995-06-17")

    // auto, reference decision tree (ParquetReaderUtility.java:91-155):
    // Spark's created_by ("parquet-mr version X.Y.Z (build …)") parses to
    // a non-drill semver → sane writer → wild future dates are trusted,
    // NOT rewritten (DRILL-4203 explicitly allows intentional far-future
    // dates from non-Drill tools).
    val auto = ParquetIO.readCorruptDateAware(spark, dir, "auto")
      .orderBy($"id").collect().map(_.getDate(1).toString)
    assert(auto.head != "1995-06-17")

    // auto on a sane file: untouched
    val sane = tmpDir("graft-dates2") + "/t"
    good.write.parquet(sane)
    val kept = ParquetIO.readCorruptDateAware(spark, sane, "auto")
      .orderBy($"id").collect().map(_.getDate(1).toString)
    assert(kept.toSeq == Seq("1995-06-17", "2001-01-01"))
  }

  private val drillSchema = org.apache.parquet.schema.MessageTypeParser.parseMessageType(
    "message t { required int32 id; required int32 d (DATE); }")
  private val goodDays = java.time.LocalDate.of(1995, 6, 17).toEpochDay.toInt
  private val corruptDays = goodDays + ParquetIO.CorrectCorruptDateShiftDays

  /** Write a one-row parquet DATE file with custom key-value metadata
    * (simulating Drill/Dremio writer provenance). */
  private def writeWithKv(file: String, days: Int, kv: Map[String, String]): Unit = {
    import scala.jdk.CollectionConverters._
    val f = new org.apache.parquet.example.data.simple.SimpleGroupFactory(drillSchema)
    val w = org.apache.parquet.hadoop.example.ExampleParquetWriter
      .builder(new org.apache.hadoop.fs.Path(file))
      .withType(drillSchema).withExtraMetaData(kv.asJava).build()
    try w.write(f.newGroup().append("id", 1).append("d", days))
    finally w.close()
  }

  test("corrupt-date auto: drill.version metadata decides like the reference") {
    // Drill 1.3–1.9 (drill.version, no writer version, no is.date.correct)
    // ⇒ META_SHOWS_CORRUPTION: fixed from metadata alone
    val drillOld = tmpDir("graft-drill-old") + "/f.parquet"
    writeWithKv(drillOld, corruptDays, Map("drill.version" -> "1.8.0"))
    val fixedAuto = ParquetIO.readCorruptDateAware(spark, drillOld, "auto")
      .collect().map(_.getDate(1).toString)
    assert(fixedAuto.toSeq == Seq("1995-06-17"))

    // Drill ≥ 1.10 (parquet-writer.version = 2) ⇒ sane even with a
    // far-future date value
    val drillNew = tmpDir("graft-drill-new") + "/f.parquet"
    writeWithKv(drillNew, corruptDays,
      Map("drill.version" -> "1.10.0", "parquet-writer.version" -> "2"))
    val keptNew = ParquetIO.readCorruptDateAware(spark, drillNew, "auto")
      .collect().map(_.getDate(1).toString)
    assert(keptNew.head != "1995-06-17")

    // Dremio flavor: is.date.correct = true ⇒ sane
    val dremio = tmpDir("graft-dremio") + "/f.parquet"
    writeWithKv(dremio, goodDays,
      Map("dremio.version" -> "4.0.0", "is.date.correct" -> "true"))
    val keptDremio = ParquetIO.readCorruptDateAware(spark, dremio, "auto")
      .collect().map(_.getDate(1).toString)
    assert(keptDremio.toSeq == Seq("1995-06-17"))
  }

  test("corrupt-date rebase is transparent via read option (optimizer rule)") {
    GraftFunctions.ensureRegistered(spark) // installs CorruptDateRebaseRule
    val drillOld = tmpDir("graft-drill-rule") + "/f.parquet"
    writeWithKv(drillOld, corruptDays, Map("drill.version" -> "1.8.0"))

    // plain read: shifted ~13k years; with the option: fixed transparently
    val plain = spark.read.parquet(drillOld).collect().map(_.getDate(1).toString)
    assert(plain.head != "1995-06-17")
    val rebased = spark.read.option("corruptDateRebase", "auto").parquet(drillOld)
    assert(rebased.collect().map(_.getDate(1).toString).toSeq == Seq("1995-06-17"))

    // a filter over the date column sees REBASED values (the Project
    // sits below the filter; pushdown cannot bypass it)
    val filtered = spark.read.option("corruptDateRebase", "auto").parquet(drillOld)
      .filter(col("d") === java.sql.Date.valueOf("1995-06-17"))
    assert(filtered.count() == 1)

    // sane file + auto: untouched; off: untouched
    val sane = tmpDir("graft-sane-rule") + "/f.parquet"
    writeWithKv(sane, goodDays,
      Map("dremio.version" -> "4.0.0", "is.date.correct" -> "true"))
    val kept = spark.read.option("corruptDateRebase", "auto").parquet(sane)
    assert(kept.collect().map(_.getDate(1).toString).toSeq == Seq("1995-06-17"))
    val off = spark.read.option("corruptDateRebase", "off").parquet(drillOld)
    assert(off.collect().map(_.getDate(1).toString).head != "1995-06-17")
  }

  test("bloom filter write: footer carries the filter and equality probes skip row groups") {
    val dir = tmpDir("graft-bloom") + "/t"
    val df = spark.read.parquet("/root/testdata/sf0.01/lineitem.parquet")
      .select($"l_orderkey", $"l_suppkey")
      .repartition(1).sortWithinPartitions($"l_orderkey")
    // tiny row groups force several per file so skipping is observable;
    // dictionary encoding must be off — parquet-mr skips the bloom
    // filter when every page is dictionary-encoded (the dictionary is
    // already an exact membership index)
    ParquetIO.write(df, dir,
      bloomFilterCols = Seq("l_orderkey"), bloomNdv = 20000,
      extraOptions = Map(
        "parquet.enable.dictionary" -> "false",
        "parquet.block.size" -> "65536",
        "parquet.page.size" -> "8192"))

    assert(ParquetMeta.bloomFilterColumns(dir) == Seq("l_orderkey"))
    val nGroups = ParquetMeta.rowGroupStats(dir).size
    assert(nGroups >= 2, s"need multiple row groups to observe skipping, got $nGroups")

    // a real key lives in few row groups (sorted write) — the bloom probe
    // must keep at least one and prove most of the rest value-free
    val someKey = df.select($"l_orderkey").head().getLong(0)
    val hits = ParquetMeta.bloomCandidateRowGroups(dir, "l_orderkey", someKey)
    assert(hits.nonEmpty && hits.size < nGroups,
      s"key $someKey: ${hits.size} of $nGroups row groups kept")

    // an absent key should be provably absent from every row group
    // (false positives possible but wildly unlikely at ndv=2000)
    val misses = ParquetMeta.bloomCandidateRowGroups(dir, "l_orderkey", -12345L)
    assert(misses.isEmpty, s"absent key matched row groups $misses")

    // and the data itself still reads correctly through the filter
    val expect = spark.read.parquet("/root/testdata/sf0.01/lineitem.parquet")
      .filter($"l_orderkey" === someKey).count()
    assert(spark.read.parquet(dir).filter($"l_orderkey" === someKey).count() == expect)
  }

  test("point lookup scans only the part files the bloom filters keep") {
    val dir = tmpDir("graft-bloom-pl") + "/t"
    // two part files with DISJOINT key ranges (repartitionByRange), each
    // carrying a bloom filter on the key
    val df = spark.read.parquet("/root/testdata/sf0.01/lineitem.parquet")
      .select($"l_orderkey", $"l_suppkey")
      .repartitionByRange(2, $"l_orderkey")
      .sortWithinPartitions($"l_orderkey")
    ParquetIO.write(df, dir,
      bloomFilterCols = Seq("l_orderkey"), bloomNdv = 20000,
      extraOptions = Map("parquet.enable.dictionary" -> "false"))
    assert(ParquetMeta.partFiles(dir).size == 2)

    val (loKey, hiKey) = {
      val r = df.agg(min($"l_orderkey"), max($"l_orderkey")).head()
      (r.getLong(0), r.getLong(1))
    }
    // a key from the low range must read exactly one file
    val lookup = ParquetIO.readPointLookup(spark, dir, "l_orderkey", loKey)
    assert(lookup.inputFiles.length == 1,
      s"expected 1 file scanned, got ${lookup.inputFiles.length}")
    val expect = spark.read.parquet(dir).filter($"l_orderkey" === loKey).count()
    assert(lookup.count() == expect && expect > 0)
    // both range extremes resolve to different single files
    val hiFiles = ParquetIO.readPointLookup(spark, dir, "l_orderkey", hiKey).inputFiles
    assert(hiFiles.length == 1 && hiFiles.toSet != lookup.inputFiles.toSet)
    // an absent key scans nothing and returns an empty, correctly-typed frame
    val none = ParquetIO.readPointLookup(spark, dir, "l_orderkey", -999L)
    assert(none.count() == 0 && none.schema.fieldNames.contains("l_suppkey"))
    assertLookupSchema(dir, "l_orderkey", loKey, -999L)
  }

  test("a non-partitioned point lookup starts no Spark job before its action") {
    val dir = tmpDir("graft-bloom-jobs") + "/t"
    ParquetIO.write(spark.read.parquet(sf("orders"))
      .select($"o_orderkey", $"o_custkey").repartitionByRange(4, $"o_orderkey"), dir,
      bloomFilterCols = Seq("o_orderkey"), extraOptions = Map("parquet.enable.dictionary" -> "false"))
    val key = spark.read.parquet(dir).select($"o_orderkey").head().getLong(0)
    // the counter sees jobs: Spark's own schema inference runs one
    assert(jobsDuring(spark.read.parquet(dir).schema) > 0)
    for (k <- Seq(key, -1L)) {
      var lookup: org.apache.spark.sql.DataFrame = null
      assert(jobsDuring { lookup = ParquetIO.readPointLookup(spark, dir, "o_orderkey", k) } == 0,
        s"lookup of $k started a job before its action")
      assert(lookup.count() == (if (k == key) 1 else 0))
    }
  }

  /** Bytes read so far through the local file system, over all threads. */
  private def localBytesRead(): Long = {
    import scala.jdk.CollectionConverters._
    org.apache.hadoop.fs.FileSystem.getAllStatistics.asScala
      .filter(_.getScheme == "file").map(_.getBytesRead).sum
  }

  /** sf0.001 `orders` keys in 4 range-partitioned part files, with a
    * bloom filter on `o_orderkey`; returns the directory. */
  private def bloomOrders(prefix: String): String = {
    val dir = tmpDir(prefix) + "/t"
    ParquetIO.write(spark.read.parquet(sf("orders"))
      .select($"o_orderkey", $"o_custkey").repartitionByRange(4, $"o_orderkey"), dir,
      bloomFilterCols = Seq("o_orderkey"), extraOptions = Map("parquet.enable.dictionary" -> "false"))
    dir
  }

  test("a repeated bloom probe or row-group stats read of an unchanged table reads no bytes") {
    val dir = bloomOrders("graft-meta-reuse")
    val key = spark.read.parquet(dir).select($"o_orderkey").head().getLong(0)
    val kept = ParquetMeta.bloomCandidateRowGroups(dir, "o_orderkey", key)
    val stats = ParquetMeta.rowGroupStats(dir)
    assert(kept.nonEmpty && stats.size == 4)
    val before = localBytesRead()
    assert(ParquetMeta.bloomCandidateRowGroups(dir, "o_orderkey", key) == kept)
    assert(ParquetMeta.bloomCandidateRowGroups(dir, "o_orderkey", -1L).isEmpty)
    assert(ParquetMeta.rowGroupStats(dir) == stats)
    assert(localBytesRead() == before, "a cached footer or filter was read again")
  }

  test("a table overwritten through Spark is probed from its new files") {
    val dir = tmpDir("graft-meta-overwrite") + "/t"
    def write(keys: Seq[Long]): Unit = ParquetIO.write(keys.toDF("k").repartition(2), dir,
      mode = "overwrite", bloomFilterCols = Seq("k"),
      extraOptions = Map("parquet.enable.dictionary" -> "false"))
    write(1L to 1000L)
    assert(ParquetMeta.bloomCandidateRowGroups(dir, "k", 5000L).isEmpty)
    assert(ParquetMeta.bloomCandidateRowGroups(dir, "k", 5L).nonEmpty)
    val oldFiles = ParquetMeta.partFiles(dir).map(_.toString).toSet
    write(4001L to 5000L)
    val hits = ParquetMeta.bloomCandidateRowGroups(dir, "k", 5000L)
    assert(hits.nonEmpty && hits.forall(h => !oldFiles.contains(h._1)))
    // the old files' filters hold 5; the new ones prove it absent
    assert(ParquetMeta.bloomCandidateRowGroups(dir, "k", 5L).isEmpty)
    assert(ParquetIO.readPointLookup(spark, dir, "k", 5000L).collect().map(_.getLong(0)).toSeq ==
      Seq(5000L))
  }

  test("concurrent probes of one cached table keep every present key's row group") {
    val dir = tmpDir("graft-meta-threads") + "/t"
    val df = spark.read.parquet("/root/testdata/sf0.01/lineitem.parquet")
      .select($"l_orderkey", $"l_suppkey")
      .repartition(1).sortWithinPartitions($"l_orderkey")
    ParquetIO.write(df, dir, bloomFilterCols = Seq("l_orderkey"), bloomNdv = 20000,
      extraOptions = Map(
        "parquet.enable.dictionary" -> "false",
        "parquet.block.size" -> "65536",
        "parquet.page.size" -> "8192"))
    import scala.jdk.CollectionConverters._
    val file = ParquetMeta.partFiles(dir).head.toString
    // the file is sorted on the key, so a present key lives in exactly
    // the row groups whose [min, max] covers it
    val ranges = ParquetMeta.footer(dir).getBlocks.asScala.toSeq.map { b =>
      val st = b.getColumns.asScala.find(_.getPath.toDotString == "l_orderkey").get.getStatistics
      (st.genericGetMin.asInstanceOf[java.lang.Long].longValue,
        st.genericGetMax.asInstanceOf[java.lang.Long].longValue)
    }
    assert(ranges.size >= 2, s"need several row groups, got ${ranges.size}")
    val keys = new scala.util.Random(7).shuffle(
      df.select($"l_orderkey").distinct().collect().map(_.getLong(0)).toSeq).take(800)
    assert(keys.size == 800)
    ParquetMeta.bloomCandidateRowGroups(dir, "l_orderkey", keys.head)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(8)
    val missed = try {
      keys.grouped(100).toSeq.map { batch =>
        pool.submit(new java.util.concurrent.Callable[Seq[Long]] {
          def call(): Seq[Long] = batch.filterNot { k =>
            val kept = ParquetMeta.bloomCandidateRowGroups(dir, "l_orderkey", k).toSet
            ranges.indices.filter(i => ranges(i)._1 <= k && k <= ranges(i)._2)
              .forall(i => kept.contains(file -> i))
          }
        })
      }.flatMap(_.get())
    } finally pool.shutdown()
    assert(missed.isEmpty, s"${missed.size} present keys lost their row group, e.g. ${missed.take(5)}")
  }

  test("a key the bloom filters prove absent defines and collects without a Spark job") {
    val dir = bloomOrders("graft-bloom-absent")
    val key = spark.read.parquet(dir).select($"o_orderkey").head().getLong(0)
    val hit = ParquetIO.readPointLookup(spark, dir, "o_orderkey", key)
    var miss: org.apache.spark.sql.DataFrame = null
    var rows: Array[org.apache.spark.sql.Row] = null
    assert(jobsDuring {
      miss = ParquetIO.readPointLookup(spark, dir, "o_orderkey", -1L)
      rows = miss.collect()
    } == 0)
    assert(rows.isEmpty)
    assert(miss.schema == hit.schema)
    assert(hit.collect().map(_.getLong(0)).toSeq == Seq(key))
    assertLookupSchema(dir, "o_orderkey", key, -1L)
  }

  test("point-lookup schema keeps Spark's nullability on required nested columns") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val dir = tmpDir("graft-bloom-nested") + "/t"
    val schema = StructType(Seq(
      StructField("k", LongType, nullable = false),
      StructField("s", StructType(Seq(StructField("a", IntegerType, nullable = false))), nullable = false),
      StructField("xs", ArrayType(IntegerType, containsNull = false), nullable = false),
      StructField("m", MapType(StringType, IntegerType, valueContainsNull = false), nullable = false)))
    val rows = (1L to 200L).map(i => Row(i, Row(i.toInt), Seq(i.toInt), Map("v" -> i.toInt)))
    ParquetIO.write(spark.createDataFrame(spark.sparkContext.parallelize(rows, 2), schema), dir,
      bloomFilterCols = Seq("k"), extraOptions = Map("parquet.enable.dictionary" -> "false"))
    assertLookupSchema(dir, "k", 7L, -7L)
    assert(ParquetIO.readPointLookup(spark, dir, "k", 7L).collect().map(_.getLong(0)).toSeq == Seq(7L))
  }

  test("bloom probe coerces to the column's physical type (Long probe on INT32)") {
    val dir = tmpDir("graft-bloom-int32") + "/t"
    // INT32 physical key: the filter hashed 4-byte encodings, so an
    // uncoerced 8-byte Long probe would miss every row group silently
    val df = (1 to 5000).map(i => (i, i % 7)).toDF("k", "v").repartition(1)
    ParquetIO.write(df, dir, bloomFilterCols = Seq("k"), bloomNdv = 5000,
      extraOptions = Map("parquet.enable.dictionary" -> "false"))
    assert(ParquetMeta.bloomFilterColumns(dir) == Seq("k"))
    assert(ParquetMeta.bloomCandidateRowGroups(dir, "k", 42L).nonEmpty,
      "Long probe against INT32 column must coerce, not miss")
    assert(ParquetMeta.bloomCandidateRowGroups(dir, "k", 42).nonEmpty)
    assert(ParquetMeta.bloomCandidateRowGroups(dir, "k", 999999L).isEmpty)
    assert(ParquetIO.readPointLookup(spark, dir, "k", 42L).count() == 1)
    // the footer declares `k` required; Spark's relation makes it nullable
    assertLookupSchema(dir, "k", 42L, 999999L)
  }

  test("point lookup composes with the module's own partitioned write") {
    val dir = tmpDir("graft-bloom-part") + "/t"
    val df = spark.read.parquet("/root/testdata/sf0.01/orders.parquet")
      .select($"o_orderkey", $"o_custkey", $"o_orderstatus")
    ParquetIO.write(df, dir, partitionCols = Seq("o_orderstatus"),
      bloomFilterCols = Seq("o_orderkey"), bloomNdv = 20000,
      extraOptions = Map("parquet.enable.dictionary" -> "false"))
    val someKey = df.select($"o_orderkey").head().getLong(0)
    val got = ParquetIO.readPointLookup(spark, dir, "o_orderkey", someKey)
    // FULL-ROW compare, not counts: the partition column lives only in
    // directory names, so a file-list read without basePath would return
    // it as all-NULL while still passing a count check
    val canon = (d: org.apache.spark.sql.DataFrame) => d
      .select($"o_orderkey", $"o_custkey", $"o_orderstatus")
      .orderBy($"o_orderkey", $"o_custkey", $"o_orderstatus")
      .collect().toSeq
    val expect = df.filter($"o_orderkey" === someKey)
    assert(expect.count() > 0)
    assert(canon(got) == canon(expect))
    assert(got.filter($"o_orderstatus".isNull).count() == 0,
      "directory-derived partition values must be recovered (basePath)")
    // partition subdirectories resolve; absent key still proves empty
    assert(ParquetIO.readPointLookup(spark, dir, "o_orderkey", -1L).count() == 0)
    assertLookupSchema(dir, "o_orderkey", someKey, -1L)
  }

  test("point lookup on a PARTITION column falls back to partition pruning") {
    val dir = tmpDir("graft-bloom-partkey") + "/t"
    val df = spark.read.parquet("/root/testdata/sf0.01/orders.parquet")
      .select($"o_orderkey", $"o_custkey", $"o_orderstatus")
    ParquetIO.write(df, dir, partitionCols = Seq("o_orderstatus"),
      bloomFilterCols = Seq("o_orderkey"), bloomNdv = 20000,
      extraOptions = Map("parquet.enable.dictionary" -> "false"))
    // no file carries a bloom filter (or any data) for the partition
    // column — the lookup must route to a plain pruned read, not filter
    // an all-NULL reconstructed column down to zero rows
    val got = ParquetIO.readPointLookup(spark, dir, "o_orderstatus", "O")
    val expect = df.filter($"o_orderstatus" === "O").count()
    assert(expect > 0 && got.count() == expect)
    // planning-time pruning, not post-read filtering: the physical scan
    // must carry the predicate as a partition filter and select only
    // the matching directory (inputFiles would lie here — it lists the
    // whole relation before pruning)
    val scan = got.queryExecution.executedPlan.collectFirst {
      case f: org.apache.spark.sql.execution.FileSourceScanExec => f
    }.get
    assert(scan.partitionFilters.exists(_.references.exists(_.name == "o_orderstatus")),
      s"expected a partition filter, got: ${scan.partitionFilters}")
    assert(scan.selectedPartitions.toPartitionArray
      .forall(_.urlEncodedPath.contains("o_orderstatus=O")),
      "partition-key lookup should prune to the one partition directory")
  }

  test("s3a write surface carries multipart + magic-committer settings (R11)") {
    // Zero-egress sandbox: no live S3 — assert the conf surface the
    // writer would use, and that the same call path works off-s3a.
    val opts = ParquetIO.s3aWriteOptions
    assert(opts("fs.s3a.multipart.size").toLong >= 5L * 1024 * 1024,
      "parts below S3's 5 MiB floor are rejected by the service")
    assert(opts("fs.s3a.multipart.size").toLong == opts("fs.s3a.multipart.threshold").toLong)
    assert(opts("fs.s3a.fast.upload") == "true" &&
      opts("fs.s3a.fast.upload.buffer") == "disk")
    assert(opts("fs.s3a.threads.max").toInt == 16,
      "mirror the reference's 16-thread TransferManager pool (LoadParquet.java:64-66)")
    assert(opts("fs.s3a.committer.name") == "magic" &&
      opts("fs.s3a.committer.magic.enabled") == "true")
    assert(ParquetIO.s3aSessionConf("spark.sql.sources.commitProtocolClass")
      .endsWith("PathOutputCommitProtocol"))
    // writer options reach the job Hadoop conf (how fs.s3a.* keys are
    // consumed by the s3a filesystem at write time)
    val hc = spark.sessionState.newHadoopConfWithOptions(opts)
    assert(hc.get("fs.s3a.multipart.size") == opts("fs.s3a.multipart.size"))
    assert(hc.get("fs.s3a.committer.name") == "magic")
    // same call path is scheme-agnostic: the options are inert locally
    val dir = tmpDir("graft-s3a-surface") + "/t"
    ParquetIO.writeS3(Seq((1L, "a"), (2L, "b")).toDF("k", "v"), dir)
    assert(spark.read.parquet(dir).count() == 2)
  }
}

class AvroIOSpec extends SparkSpec {

  test("reads the reference Avro fixture (R7)") {
    val df = AvroIO.read(spark, s"$refDir/3records.1.AVRO")
    assert(df.count() == 3)
    assert(df.columns.toSeq == Seq("id", "id2"))
    val rows = df.orderBy(col("id")).collect()
    assert(rows.map(_.getString(0)).toSeq == Seq("1", "2", "3"))
    assert(rows.map(_.getSeq[String](1)).toSeq == Seq(Seq("1"), Seq("2"), Seq("3")))
  }

  test("avro → parquet round-trip matches the reference golden pair (R8)") {
    val avro = AvroIO.read(spark, s"$refDir/3records.1.AVRO")
    val out = tmpDir("graft-avro") + "/t"
    ParquetIO.write(avro, out) // snappy, errorifexists — LoadParquet.java:84-85
    val back = spark.read.parquet(out).orderBy(col("id")).collect()
    val golden = spark.read.parquet(s"$refDir/yolo.parquet").orderBy(col("id")).collect()
    assert(back.map(_.toString).toSeq == golden.map(_.toString).toSeq)
  }

  test("distributed avro read decodes on executors") {
    val df = AvroIO.readDistributed(spark, s"$refDir/3records.1.AVRO")
    assert(df.count() == 3)
    assert(df.select(col("id")).orderBy(col("id")).collect().map(_.getString(0)).toSeq ==
      Seq("1", "2", "3"))
  }
  test("distributed read of a 2-file glob starts no job before its action and returns every row") {
    import org.apache.avro.SchemaBuilder
    import org.apache.avro.file.DataFileWriter
    import org.apache.avro.generic.{GenericData, GenericDatumWriter, GenericRecord}
    val schema = SchemaBuilder.record("Rows").fields()
      .requiredLong("id")
      .optionalString("name")
      .endRecord()
    val dir = tmpDir("graft-avro-glob")
    for ((ids, i) <- Seq(0L until 50L, 50L until 120L).zipWithIndex) {
      val w = new DataFileWriter[GenericRecord](new GenericDatumWriter[GenericRecord](schema))
      try {
        w.create(schema, new java.io.File(dir, f"part-$i%02d.avro"))
        for (id <- ids) {
          val r = new GenericData.Record(schema)
          r.put("id", id)
          r.put("name", if (id % 7 == 0) null else s"n$id")
          w.append(r)
        }
      } finally w.close()
    }
    var df: org.apache.spark.sql.DataFrame = null
    assert(jobsDuring { df = AvroIO.readDistributed(spark, s"$dir/*.avro") } == 0)
    assert(df.columns.toSeq == Seq("id", "name"))
    val rows = df.collect().map(r => (r.getLong(0), Option(r.getString(1)))).sortBy(_._1).toSeq
    assert(rows == (0L until 120L).map(id => (id, if (id % 7 == 0) None else Some(s"n$id"))))
  }
}

class ZOrderSpec extends SparkSpec {
  import org.apache.spark.sql.functions._
  import graft.sources.{ParquetMeta, ZOrder}

  test("interleave is the Morton bit pattern") {
    // b0=01, b1=10 -> z bits (from LSB): b0[0]=1, b1[0]=0, b0[1]=0, b1[1]=1 -> 0b1001
    val z = spark.range(1)
      .select(ZOrder.interleave(Seq(lit(1L), lit(2L)), bits = 2).as("z"))
      .head().getLong(0)
    assert(z == 9L)
    // identity on a single column
    val z1 = spark.range(1)
      .select(ZOrder.interleave(Seq(lit(13L)), bits = 8).as("z")).head().getLong(0)
    assert(z1 == 13L)
  }

  /** mean fraction of the global [min,max] span each file covers */
  private def coverage(ranges: Seq[(String, Long, Long)]): Double = {
    val lo = ranges.map(_._2).min.toDouble
    val hi = ranges.map(_._3).max.toDouble
    ranges.map(r => (r._3 - r._2).toDouble / (hi - lo)).sum / ranges.size
  }

  test("z-order keeps per-file ranges narrow on BOTH dimensions; single-key sort does not") {
    val li = spark.read.parquet(sf("lineitem"))
      .select(col("l_orderkey"), col("l_partkey"), col("l_quantity"))
    val zPath = tmpDir("graft-zorder") + "/z"
    val sPath = tmpDir("graft-zorder") + "/s"
    ZOrder.writeZOrdered(li, zPath, Seq("l_orderkey", "l_partkey"), numFiles = 8)
    // contrast: classic single-key layout (range-partition + sort by orderkey)
    li.repartitionByRange(8, col("l_orderkey"))
      .sortWithinPartitions(col("l_orderkey"))
      .write.mode("overwrite").parquet(sPath)

    // footer ranges are each non-empty part file's data min/max, in
    // path order
    for (c <- Seq("l_orderkey", "l_partkey")) {
      val want = ParquetMeta.partFiles(zPath).flatMap { f =>
        val r = spark.read.parquet(f.toString).agg(min(col(c)), max(col(c))).head()
        if (r.isNullAt(0)) None else Some((f.getName, r.getLong(0), r.getLong(1)))
      }
      assert(ZOrder.fileRanges(zPath, c) == want, c)
    }
    val zOrd = coverage(ZOrder.fileRanges(zPath, "l_orderkey"))
    val zPart = coverage(ZOrder.fileRanges(zPath, "l_partkey"))
    val sOrd = coverage(ZOrder.fileRanges(sPath, "l_orderkey"))
    val sPart = coverage(ZOrder.fileRanges(sPath, "l_partkey"))
    // single-key sort: tight on its key, ~full-width on the other
    assert(sOrd < 0.3, s"sorted layout orderkey coverage $sOrd")
    assert(sPart > 0.8, s"sorted layout partkey coverage $sPart")
    // z-order: materially narrow on BOTH (8 files on a 2-D curve ->
    // ~1/sqrt(8) of each dimension plus bucketing slack)
    assert(zOrd < 0.65, s"z-order orderkey coverage $zOrd")
    assert(zPart < 0.65, s"z-order partkey coverage $zPart")

    // content is a pure relayout: nothing added, dropped, or mutated —
    // multiset equality (exceptAll both ways), not just set equality
    val back = spark.read.parquet(zPath)
    assert(back.count() == li.count())
    assert(back.exceptAll(li).isEmpty && li.exceptAll(back).isEmpty)
  }

  /** Bounds from a min/max aggregate: the witness footer bounds are
    * checked against. */
  private def aggregateBounds(
      df: org.apache.spark.sql.DataFrame, cols: Seq[String]): Seq[Option[(Double, Double)]] = {
    val aggs = cols.flatMap(c => Seq(min(col(c).cast("double")), max(col(c).cast("double"))))
    val r = df.agg(aggs.head, aggs.tail: _*).head()
    cols.indices.map(i =>
      if (r.isNullAt(2 * i)) None else Some((r.getDouble(2 * i), r.getDouble(2 * i + 1))))
  }

  test("z bounds of a plain Parquet read come from footers, start no job and equal the aggregate's") {
    val dir = "/root/testdata/sf0.01"
    val lineitem = Tables(spark, dir, "lineitem")
      .select(col("l_orderkey"), col("l_partkey"), col("l_quantity"), col("l_extendedprice"))
    for ((df, cols) <- Seq(
        Tables(spark, dir, "orders") -> Seq("o_custkey", "o_totalprice"),
        lineitem -> Seq("l_orderkey", "l_partkey"))) {
      var bounds: Seq[Option[(Double, Double)]] = null
      assert(jobsDuring { bounds = ZOrder.columnBounds(df, cols) } == 0, cols)
      assert(bounds.forall(_.nonEmpty) && bounds == aggregateBounds(df, cols), cols)
    }
    // without column statistics the footers cannot answer: the
    // aggregate runs and gives the same bounds
    val noStats = tmpDir("graft-zbounds") + "/t"
    Tables(spark, dir, "orders").select(col("o_custkey"), col("o_totalprice")).repartition(2)
      .write.option("parquet.column.statistics.enabled", "false").parquet(noStats)
    val df = spark.read.parquet(noStats)
    val cols = Seq("o_custkey", "o_totalprice")
    var bounds: Seq[Option[(Double, Double)]] = null
    assert(jobsDuring { bounds = ZOrder.columnBounds(df, cols) } > 0)
    assert(bounds == aggregateBounds(Tables(spark, dir, "orders"), cols))
  }

  test("footer stats prune files for predicates on the secondary z dimension") {
    val li = spark.read.parquet(sf("lineitem"))
      .select(col("l_orderkey"), col("l_partkey"), col("l_quantity"))
    val zPath = tmpDir("graft-zorder") + "/zp"
    val sPath = tmpDir("graft-zorder") + "/sp"
    ZOrder.writeZOrdered(li, zPath, Seq("l_orderkey", "l_partkey"), numFiles = 8)
    li.repartitionByRange(8, col("l_orderkey"))
      .sortWithinPartitions(col("l_orderkey"))
      .write.mode("overwrite").parquet(sPath)
    val probe = li.agg(min(col("l_partkey"))).head().getLong(0)
    def skippable(path: String): Int =
      ZOrder.fileRanges(path, "l_partkey").count(r => probe < r._2 || probe > r._3)
    // the single-key layout can prove nothing about partkey; z-order can
    assert(skippable(sPath) == 0, "orderkey-sorted layout should be unable to skip")
    assert(skippable(zPath) >= 3,
      s"z-order should rule out most files for a min-partkey probe, skipped=${skippable(zPath)}")
  }
}

class CompressionSpec extends SparkSpec {
  test("s11: every codec round-trips identical bytes; real codecs beat 'none' on text") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val base = tmpDir("graft-compression")
    def sizeOf(codec: String): Long = {
      val out = s"$base/$codec"
      docs.write.mode("overwrite").option("compression", codec).parquet(out)
      val back = spark.read.schema(docs.schema).parquet(out)
      assert(back.exceptAll(docs).isEmpty && docs.exceptAll(back).isEmpty,
        s"codec $codec must round-trip the exact multiset")
      new java.io.File(out).listFiles().filter(_.getName.endsWith(".parquet"))
        .map(_.length()).sum
    }
    val sizes = Seq("none", "snappy", "gzip", "lz4", "zstd")
      .map(c => c -> sizeOf(c)).toMap
    // token text compresses well under every real codec; the heavier
    // codecs must also beat snappy's fast-path ratio on this corpus
    for (c <- Seq("snappy", "gzip", "lz4", "zstd"))
      assert(sizes(c) < sizes("none"),
        s"$c (${sizes(c)}B) should be smaller than uncompressed (${sizes("none")}B)")
    for (c <- Seq("gzip", "zstd"))
      assert(sizes(c) < sizes("snappy"),
        s"$c (${sizes(c)}B) should out-compress snappy (${sizes("snappy")}B)")
  }
}

class CompactionSpec extends SparkSpec {
  import graft.sources.Compaction

  test("compacts a fragmented directory to ceil(bytes/target) files, content intact") {
    val frag = tmpDir("graft-compact") + "/frag"
    val out = tmpDir("graft-compact") + "/out"
    val docs = spark.read.parquet(sf("documents"))
    docs.repartition(24).write.mode("overwrite").parquet(frag)
    val (nBefore, bytes, nested) = Compaction.dataFiles(spark, frag)
    assert(!nested, "flat layout expected")
    assert(nBefore == 24, s"fragmentation setup: $nBefore files")
    val target = 256L * 1024
    val stats = Compaction.compact(spark, frag, out, target)
    val expectedN = math.max(1L, (bytes + target - 1) / target).toInt
    assert(stats.nFilesAfter == expectedN,
      s"file-count arithmetic: got ${stats.nFilesAfter}, expected $expectedN " +
        s"from $bytes bytes at $target")
    assert(stats.nFilesAfter < nBefore, "compaction must shrink the file count")
    // content byte-identical row-for-row (order-insensitive)
    val a = docs
    val b = spark.read.schema(docs.schema).parquet(out)
    assert(a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty, "content drift")
  }

  test("single-file target and empty input degenerate cleanly") {
    val frag = tmpDir("graft-compact1") + "/frag"
    val out = tmpDir("graft-compact1") + "/out"
    val docs = spark.read.parquet(sf("nation"))
    docs.repartition(4).write.mode("overwrite").parquet(frag)
    // huge target: everything lands in ONE file
    val stats = Compaction.compact(spark, frag, out, 1L << 40)
    assert(stats.nFilesAfter == 1, stats.toString)
    // empty input: zero data files in, one empty part file out, no crash
    val emptyIn = tmpDir("graft-compact2") + "/in"
    val emptyOut = tmpDir("graft-compact2") + "/out"
    docs.limit(0).write.mode("overwrite").parquet(emptyIn)
    val es = Compaction.compact(spark, emptyIn, emptyOut, 1024)
    assert(spark.read.schema(docs.schema).parquet(emptyOut).count() == 0, es.toString)
  }

  test("refuses a partitioned (nested) layout instead of folding partition columns") {
    val part = tmpDir("graft-compact3") + "/part"
    val out = tmpDir("graft-compact3") + "/out"
    val docs = spark.read.parquet(sf("documents"))
    docs.withColumn("lang_k", org.apache.spark.sql.functions.coalesce(
        org.apache.spark.sql.functions.col("lang"),
        org.apache.spark.sql.functions.lit("__null__")))
      .write.mode("overwrite").partitionBy("lang_k").parquet(part)
    val (n, bytes, nested) = Compaction.dataFiles(spark, part)
    assert(nested, "partitioned layout must be detected as nested")
    assert(n > 0 && bytes > 0, s"recursive listing must see the leaf files: $n/$bytes")
    val ex = intercept[IllegalArgumentException] {
      Compaction.compact(spark, part, out, 256L * 1024)
    }
    assert(ex.getMessage.contains("partition"), ex.getMessage)
  }
}
