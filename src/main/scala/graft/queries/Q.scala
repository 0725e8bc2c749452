package graft.queries

import graft.sources.ParquetMeta
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.TableIdentifier
import org.apache.spark.sql.catalyst.catalog.BucketSpec
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, InMemoryFileIndex}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.types.StructType

/** One certified query: a Spark definition and an optional DuckDB
  * oracle (ANSI SQL over the same parquet tables).
  *
  * Determinism contract (SURVEY §2B): result VALUES are deterministic —
  * float aggregates are computed on DECIMAL(38,6) so summation order
  * can't change the result; timestamps are rendered as UTC strings;
  * LIMIT only after a total order (the one place ordering is semantic).
  * Result row ORDER is deliberately unconstrained: the gate's comparator
  * canonicalizes it (sorts rows by every column, then hashes rendered
  * cells), so a final total-order ORDER BY would buy nothing and cost a
  * full-output range-exchange — at corpus scale, a sampling pass plus a
  * sort of every output row that no consumer needs. Queries whose
  * SEMANTIC is ordering (sort/top-k operators, window ORDER BY) keep
  * their sorts; the oracle SQL mirrors whatever the Spark side declares.
  * Column names are aliased identically on both sides (the comparator
  * sorts columns by name before hashing).
  *
  * Large-sum landmine (r11, caught by the sf1 oracle check): once a
  * decimal aggregate exceeds ~2^53 at its scaled magnitude (~17
  * significant digits — a 6-scale money sum past ~9×10⁹ units), DuckDB's
  * direct `CAST(decimal AS DOUBLE)` rounds 1 ulp off (int128→double,
  * THEN scale — two roundings) while Spark's BigDecimal.doubleValue
  * rounds correctly. Oracle SQL for such sums must route
  * `CAST(CAST(dec AS VARCHAR) AS DOUBLE)` — strtod correctly rounds the
  * same decimal string, making both engines' doubles bit-identical at
  * any magnitude (see a1's q1Sql).
  */
final case class QDef(
    name: String,
    spark: (SparkSession, String) => DataFrame,
    oracle: Option[String])

trait QGroup {
  def defs: Seq[QDef]
}

/** Suite-wide constants of the determinism contract. */
object QShared {
  import org.apache.spark.sql.Column
  import org.apache.spark.sql.functions._

  /** All float/money aggregates are computed on this type so results are
    * independent of partitioning and summation order (Q.scala contract). */
  val dec: org.apache.spark.sql.types.DecimalType =
    org.apache.spark.sql.types.DecimalType(38, 6)

  /** (max mtime, total length) version token of a source that may be a
    * single parquet FILE or a multi-part parquet DIRECTORY. For a
    * directory, the token derives from the LEAF data files (recursive;
    * `_SUCCESS`/dot markers skipped, leaf count folded into the length
    * term) — an in-place part-file rewrite can leave the directory
    * inode's own mtime/length unchanged, which would serve a stale
    * statsCache entry under a bare `(f.lastModified, f.length)` key
    * (r11 ADVICE on the l36 vocab gate). */
  private[graft] def fileVersion(f: java.io.File): (Long, Long) =
    if (f.isDirectory) {
      val leaves = Option(f.listFiles()).getOrElse(Array.empty)
        .filterNot(x => x.getName.startsWith("_") || x.getName.startsWith("."))
      val sub = leaves.map(fileVersion)
      (sub.foldLeft(0L)((a, v) => math.max(a, v._1)),
        sub.foldLeft(leaves.length.toLong)((a, v) => a + v._2))
    } else (f.lastModified(), f.length())

  /** Exact order-independent money sum — the fast twin of
    * `sum(e.cast(dec))`.
    *
    * The contract's naive form casts every summand double to
    * DECIMAL(38,6), which on the JVM is a `Double.toString` + BigDecimal
    * parse + BigDecimal add PER ROW (Spark's precision-38 decimals leave
    * the compact long representation) — measured at ~4× the cost of the
    * whole aggregation on Q1. This helper computes the IDENTICAL value
    * on primitive longs: each summand becomes its exact micro-unit
    * integer (round-half-away-from-zero at scale 6, the same rounding
    * `cast(e as decimal(38,6))` applies), the micro value is split into
    * hi = micros >> 20 and lo = micros & 0xFFFFF, and the group
    * accumulates TWO plain BIGINT sums that whole-stage codegen turns
    * into register adds. The exact total Σmicros = Σhi·2²⁰ + Σlo is
    * reassembled in decimal space once per GROUP (not per row) and
    * rescaled by the exact literal 1e-6, yielding the same
    * DecimalType(38,6) value, null-on-empty behavior, and rendered hash
    * as `sum(e.cast(dec))`.
    *
    * Why this is exact, order-independent, and 100 TB-safe:
    *   - Summands are money-grid values: every TPC-H-ish money/quantity
    *     column (and any product of ≤3 of them) carries ≤6 decimal
    *     places, so its micro image is an INTEGER and the double
    *     representation sits within ~1e-4 micros of it — far from the
    *     .5 rounding boundary, so float rounding recovers the exact
    *     grid point every time (same value the decimal cast's
    *     shortest-string path produces).
    *   - Integer addition is associative and commutative: partitioning
    *     and merge order cannot change either partial sum.
    *   - Overflow headroom scales with ROWS PER GROUP, not SF: with
    *     |summand| ≤ ~8.9e9 (micros < 2⁵³, also the double-exactness
    *     bound), hi ≤ 2³³ and lo < 2²⁰, so the BIGINT partials overflow
    *     past ~10¹² rows in a single group at the maximal summand —
    *     and past ~10¹⁴ rows at TPC-H magnitudes (≤ 5e5) — versus ~10⁷
    *     for the rejected single-BIGINT-micros design. 100 TB lineitem
    *     is ~7e11 rows TOTAL; a group exceeding the bound trips Spark's
    *     ANSI long-sum overflow error loudly rather than wrapping.
    *
    * Domain bounds (caller's obligation, asserted by the oracle gate):
    * |e| ≤ 8.9e9 and ≤6 decimal places. All money columns in the suite
    * are 2-dp-grid doubles (verified against the testdata), so products
    * of up to three of them qualify.
    */
  def gridSum(e: Column): Column = decFromMicroSums(sum _, e)

  /** Windowed twin of [[gridSum]]: exact `sum(e.cast(dec)).over(w)` —
    * the two primitive long sums ride the SAME window frame, so any
    * frame (rows, range, cumulative) yields the exact decimal total. */
  def gridSumOver(e: Column, w: org.apache.spark.sql.expressions.WindowSpec): Column =
    decFromMicroSums(c => sum(c).over(w), e)

  private def decFromMicroSums(agg: Column => Column, e: Column): Column =
    (splitSumAgg(agg, gridMicros(e), Seq(20))
      * lit(new java.math.BigDecimal("0.000001"))).cast(dec)

  /** Exact order-independent integer sum as DECIMAL(38,0) — the fast
    * twin of `sum(e.cast("decimal(38,0)"))` for LONG-valued `e`.
    *
    * Accumulating longs through decimal(38,0) converts every row to a
    * BigDecimal (precision 38 leaves Spark's compact long decimal rep);
    * this splits each value at the given ascending bit `cuts` into
    * bounded primitive-long parts, sums each part as a plain BIGINT
    * (codegen register adds), and reassembles the exact total
    * Σe = Σtop·2^cut_k + … + Σlo once per GROUP in decimal space.
    * The two's-complement identity x = (x>>c)·2^c + (x & (2^c−1)) makes
    * the split exact for negatives too (arithmetic shift + non-negative
    * masked parts).
    *
    * Pick cuts so every part's per-row bound × expected max rows/group
    * stays under 2⁶³ (the masked parts are < 2^width; the top part is
    * ≤ |e|/2^lastCut). A group beyond the bound fails loudly via
    * Spark's ANSI long-sum overflow, never silently. One cut at
    * ~log2(√max|e|) balances the bounds; full-range 64-bit values take
    * cuts (21, 42) for a ≥4×10¹² rows/group ceiling. */
  def splitSum(e: Column, cuts: Seq[Int]): Column =
    splitSumAgg(sum _, e, cuts)

  private def splitSumAgg(agg: Column => Column, e: Column, cuts: Seq[Int]): Column = {
    require(cuts.nonEmpty && cuts == cuts.sorted && cuts.forall(c => c > 0 && c < 63))
    val dec0 = org.apache.spark.sql.types.DecimalType(38, 0)
    val top = agg(shiftright(e, cuts.last)).cast(dec0) * lit(1L << cuts.last)
    val parts = (0 +: cuts).sliding(2).toSeq.map { case Seq(fromBit, toBit) =>
      val part = shiftright(e, fromBit).bitwiseAND(lit((1L << (toBit - fromBit)) - 1L))
      if (fromBit == 0) agg(part).cast(dec0)
      else agg(part).cast(dec0) * lit(1L << fromBit)
    }
    parts.foldLeft(top)(_ + _)
  }

  /** Exact micro-unit (1e-6) integer image of a money-grid double:
    * round-half-away-from-zero at scale 6, computed with one multiply
    * and one floor instead of Spark's per-row Double.toString/BigDecimal
    * round-trip. Null-preserving. Exact for |e| ≤ 8.9e9 with ≤6
    * decimals (see [[gridSum]]). */
  def gridMicros(e: Column): Column =
    when(e >= 0, floor(e * lit(1000000d) + lit(0.5d)))
      .otherwise(-floor(-e * lit(1000000d) + lit(0.5d)))

  /** Idempotent sink path for queries that exercise the write path:
    * stable per (sf dir, query), overwritten on rerun. */
  def sink(dir: String, name: String): String =
    s"/tmp/graft_sink/${name}_${Integer.toHexString(dir.hashCode)}"

  /** Per-layout-path monitors for [[withLayoutLock]]: two callers in
    * one JVM asking for the same layout build it once, and neither
    * lists the layout's files while the other is still overwriting
    * them. Cross-PROCESS builders sharing a sink dir are serialized by
    * a file lock on `<path>.lock`. Distinct layouts stay concurrent (the
    * a11/s11 concurrent-jobs path). */
  private val layoutLocks =
    new java.util.concurrent.ConcurrentHashMap[String, Object]()

  /** (mtime, byte length) version token of the layout's source
    * file(s) — the l13 history-bloom key. Bare marker-mtime >=
    * source-mtime can miss a same-timestamp rewrite, and the l40b/l41
    * sidecars are WRONG-not-slow when stale, so every persisted layout
    * gets the stronger key, written as `_GRAFT_SRC_VERSION` next to
    * _SUCCESS. */
  private def srcVersion(srcs: Seq[java.io.File]): String =
    srcs.map { f =>
      val (m, l) = QShared.fileVersion(f) // directory-safe (leaf-derived)
      s"$m:$l"
    }.mkString(";")

  private[graft] def layoutFresh(
      path: String, srcs: Seq[java.io.File]): Boolean = {
    val tok = new java.io.File(path, "_GRAFT_SRC_VERSION")
    new java.io.File(path, "_SUCCESS").exists() && srcs.forall(_.exists()) &&
      tok.exists() && {
        val bytes = java.nio.file.Files.readAllBytes(tok.toPath)
        new String(bytes, java.nio.charset.StandardCharsets.UTF_8) ==
          srcVersion(srcs)
      }
  }

  /** The ONE cross-build lock for persisted layouts: serialized per
    * layout `path` within the JVM and across processes via a `java.nio`
    * file lock on `<path>.lock` — two drivers sharing one testdata dir
    * build once instead of racing the overwrite. Under the lock,
    * `build` runs only when the layout's version token is missing or
    * stale, and the token is written after it returns; `use` then runs,
    * still under the lock. The loser of a cross-process race therefore
    * reuses the winner's files. */
  private[graft] def withLayoutLock[T](path: String, srcs: Seq[java.io.File])(
      build: => Unit)(use: => T): T = {
    val monitor = layoutLocks.computeIfAbsent(path, _ => new Object)
    monitor.synchronized {
      val lockFile = new java.io.File(path + ".lock")
      Option(lockFile.getParentFile).foreach(_.mkdirs())
      val chan = java.nio.channels.FileChannel.open(
        lockFile.toPath,
        java.nio.file.StandardOpenOption.CREATE,
        java.nio.file.StandardOpenOption.WRITE)
      val flock = chan.lock()
      try {
        if (!layoutFresh(path, srcs)) {
          build
          java.nio.file.Files.write(
            new java.io.File(path, "_GRAFT_SRC_VERSION").toPath,
            srcVersion(srcs).getBytes(
              java.nio.charset.StandardCharsets.UTF_8))
        }
        use
      } finally {
        flock.release()
        chan.close()
      }
    }
  }

  /** The one persisted-layout primitive, shared by [[bucketedFact]],
    * [[eventsByTimeBucket]], [[variantEvents]] and the l26/l40b/l41
    * sidecars: the layout at `path`, versioned on `srcs`, holding
    * `data`.
    *
    * A missing or stale layout is rebuilt under [[withLayoutLock]]. A
    * bucketed one is written with one writer task per bucket, so each
    * bucket is ONE file and the read-side merge join skips the
    * per-bucket sort too. `bucketBy` has no path-only writer, so that
    * write goes through `saveAsTable` and its catalog entry is dropped
    * as soon as the write returns. An unbucketed layout is plain
    * Parquet.
    *
    * Built or reused, the layout is read back as a file relation over
    * `path` carrying `buckets`, so bucket-keyed joins and aggregations
    * ride its HashPartitioning. The read runs no catalog statement and
    * sets no conf, so defining a query leaves the session as it found
    * it. Its schema is `data`'s, nullable as a file relation declares
    * it: an empty bucketed write leaves no part file to read a footer
    * from. Callers key `path` by everything in `buckets`, because
    * reading one arrangement's files as another's would be silently
    * wrong. */
  def layout(
      s: SparkSession, path: String, srcs: Seq[java.io.File],
      buckets: Option[BucketSpec])(data: => DataFrame): DataFrame = {
    lazy val df = data
    withLayoutLock(path, srcs) {
      buckets match {
        case Some(b) =>
          val name = "graft_layout_" + new java.io.File(path).getName
          val keys = b.bucketColumnNames
          val w = df.repartition(b.numBuckets, keys.map(col): _*)
            .write.mode("overwrite").bucketBy(b.numBuckets, keys.head, keys.tail: _*)
          val sorted = b.sortColumnNames match {
            case h +: t => w.sortBy(h, t: _*)
            case _ => w
          }
          try sorted.option("path", path).saveAsTable(name)
          finally s.sessionState.catalog.dropTable(
            TableIdentifier(name), ignoreIfNotExists = true, purge = false)
        case None => df.write.mode("overwrite").parquet(path)
      }
    } {
      s.baseRelationToDataFrame(HadoopFsRelation(
        new InMemoryFileIndex(s, Seq(new Path(path)), Map.empty, None),
        partitionSchema = new StructType(),
        dataSchema = ParquetMeta.asNullable(df.schema).asInstanceOf[StructType],
        bucketSpec = buckets,
        fileFormat = new ParquetFileFormat,
        options = Map.empty)(s))
    }
  }

  /** Data-sized bucket count for a dir's persisted layouts. The r11
    * three-decade pairing (sf0.1/sf1/sf10) caught the fixed 8-bucket
    * default becoming the BOTTLENECK one decade up: a zero-exchange
    * plan over an 8-bucket layout runs its whole keyed pipeline in 8
    * tasks, so at sf10 (1.3 GB lineitem, 60M rows) the layout-riding
    * g1 measured SLOWER than a plain 32-split scan (1.59 vs 1.35 s —
    * the exchange it saved cost less than the 4× parallelism it gave
    * up). Buckets must scale with the data: ~8 MB of compressed fact
    * per bucket, quantized to {8,16,32} and derived from the dir's
    * DOMINANT fact (lineitem) so every layout in a dir shares one
    * count and co-bucketed joins stay exchange-free (equal counts on
    * both sides). sf0.1 and below stay at 8 — identical layouts,
    * identical bench basis. On a cluster the same knob is
    * snapshot-bytes / target-bucket-bytes with the cap at the fleet's
    * core count, not 32. */
  def dirBuckets(dir: String): Int = {
    val bytes = new java.io.File(s"$dir/lineitem.parquet").length()
    val raw = bytes / (8L << 20)
    if (raw >= 32) 32 else if (raw >= 16) 16 else 8
  }

  /** Mtime-guarded bucketed fact layout — the s12 machinery, shared:
    * the fact is written ONCE as `bucketBy(n, key).sortBy(key)` with
    * one file per bucket and every later call reads the existing
    * files back, so ALL fact-fact joins/aggregations on `keyCol` ride
    * the layout's HashPartitioning with no exchange and no sort (the
    * session's legacy bucketed-scan ordering flag, set by
    * `Engine.session`, lets the read side trust the sortBy order). This
    * is the production pre-partitioning story for 100 TB fact joins:
    * the relayout is paid once per ingested snapshot, amortized across
    * every query after it. The relayout reruns whenever the source
    * parquet's (mtime, byte length) version token differs from the
    * layout's (see [[layout]]); a stale layout the guard somehow
    * missed still fails loudly at the oracle gate, which reads the
    * live tables. */
  def bucketedFact(
      s: SparkSession, dir: String, name: String, keyCol: String,
      nBuckets0: Int = 0, sortCols: Seq[String] = Nil): DataFrame = {
    val nBuckets = if (nBuckets0 > 0) nBuckets0 else dirBuckets(dir)
    // the path MUST be keyed by the bucket column, not just the table:
    // two layouts of the same table on different keys are different
    // data arrangements, and reading one as the other would be
    // silently WRONG (same-key rows would no longer be co-located —
    // caught live by the r10 j29 probe, whose partkey request picked
    // up the orderkey files before this keyed the path).
    // sortCols extends the in-bucket sort past the key (the SORTED-BY
    // projection story: a window over (keyCol ORDER BY sortCols) rides
    // the layout with no exchange AND no sort) — a different sort
    // signature is a different physical arrangement, so it is part of
    // the layout identity too.
    val sortSig = if (sortCols.isEmpty) "" else "_s" + sortCols.mkString("_")
    val path = sink(dir, s"bucketed_${name}_${keyCol}_$nBuckets$sortSig")
    val src = new java.io.File(s"$dir/$name.parquet")
    layout(s, path, Seq(src), Some(BucketSpec(nBuckets, Seq(keyCol), keyCol +: sortCols)))(
      graft.Tables(s, dir, name))
  }

  /** Date-partitioned lineitem — the OTHER canonical warehouse layout
    * beside hash bucketing: the fact written under `l_shipyear=YYYY/`
    * directories (derived once at relayout), so a shipdate-window scan
    * (a21's Q6 shape, the commonest fact predicate there is) reads ONLY
    * the matching year partitions instead of filtering the whole
    * corpus. Callers filter on BOTH the partition column (directory
    * pruning) and the real `l_shipdate` bound (row exactness within the
    * year). Same mtime+length freshness guard and cross-process lock as
    * [[bucketedFact]]; read back through `basePath` so the partition
    * column is recovered from the directory names. At 100 TB this is
    * ingest-time date partitioning — every warehouse already stores its
    * facts this way, and the relayout is paid once per snapshot. */
  def lineitemByShipYear(s: SparkSession, dir: String): DataFrame = {
    val path = sink(dir, "lineitem_by_shipyear")
    val src = new java.io.File(s"$dir/lineitem.parquet")
    withLayoutLock(path, Seq(src)) {
      graft.Tables(s, dir, "lineitem")
        .withColumn("l_shipyear", year(col("l_shipdate")))
        .write.mode("overwrite").partitionBy("l_shipyear")
        .parquet(path)
    }(())
    // explicit schema (source schema + the partition column): an EMPTY
    // source writes a zero-partition directory that schema inference
    // cannot read back (UNABLE_TO_INFER_SCHEMA), and a pinned schema is
    // also the scale posture — no footer-sampling job on a directory of
    // thousands of files
    val schema = graft.Tables(s, dir, "lineitem").schema
      .add("l_shipyear", org.apache.spark.sql.types.IntegerType)
    s.read.option("basePath", path).schema(schema).parquet(path)
  }

  /** The ONE shared custkey orders projection (layout identity includes
    * the sort signature — every rider must use the same call or it gets
    * a second physical copy): sorted by (custkey, orderdate, orderkey)
    * so the w2/w2b/w3 analytic windows ride with no exchange AND no
    * sort; order-insensitive riders (a2, w4, w5) read the same layout
    * and re-sort locally where their ORDER BY differs (A/B: the extra
    * sort columns cost them nothing). */
  def ordersByCustkey(s: SparkSession, dir: String): DataFrame =
    bucketedFact(s, dir, "orders", "o_custkey",
      sortCols = Seq("o_orderdate", "o_orderkey"))

  /** Time-bucketed events projection: events plus a DERIVED `bucket`
    * column (`ts div bucketNs`, ts already normalized to long nanos by
    * Tables), persisted bucketed BY that column — the ingest-time
    * time-clustering every event warehouse maintains. Grouping on
    * `bucket` (g1's tumbling windows) rides HashPartitioning(bucket)
    * with zero exchanges, and any REFINEMENT of the bucket (g1b's
    * 5-minute `k` when bucketNs is 10 minutes) rides too by grouping on
    * (bucket, k) — same-k rows share a bucket, and subset clustering
    * lets the partitioning satisfy the wider key. The g14 lesson
    * generalized: an expression-derived group key CAN ride a layout —
    * store the derivation. */
  def eventsByTimeBucket(
      s: SparkSession, dir: String, bucketNs: Long,
      nBuckets0: Int = 0): DataFrame = {
    val nBuckets = if (nBuckets0 > 0) nBuckets0 else dirBuckets(dir)
    val path = sink(dir, s"bucketed_events_tb${bucketNs}_$nBuckets")
    val src = new java.io.File(s"$dir/events.parquet")
    layout(s, path, Seq(src), Some(BucketSpec(nBuckets, Seq("bucket"), Nil)))(
      graft.Tables(s, dir, "events").withColumn("bucket", expr(s"ts div $bucketNs")))
  }

  /** Variant-encoded events projection — the x6b FLOORS row's cluster
    * lever ("parse-once-persist: at warehouse scale the variant column
    * is ENCODED AT INGEST") made real: `parse_json(props)` runs ONCE
    * per snapshot and persists as a Parquet VARIANT logical-type column
    * (Spark 4 writes/reads VARIANT natively), mtime+length-guarded by
    * the shared [[layout]] primitive like every other persisted layout.
    * Queries against it pay extraction only — the x6b stepwise
    * decomposition showed parse_json is ~4/5 of the live query's cost.
    * x6b itself keeps the live parse (it certifies the encode path);
    * x6d rides this projection. */
  def variantEvents(s: SparkSession, dir: String): DataFrame =
    layout(s, sink(dir, "variant_events"), Seq(new java.io.File(s"$dir/events.parquet")), None)(
      graft.Tables(s, dir, "events").select(col("event_id"), parse_json(col("props")).as("v")))

  /** Small driver-side statistics cache (the catalog's ANALYZE-stats
    * analog): column bounds and similar tiny stat results keyed by
    * (session, dir, tag, source version token) — the version token in
    * the KEY is the staleness guard (mtime for perf-only entries like
    * the a26 edges; (mtime, length) for the l13 history bloom, where a
    * stale entry would be unsound, not just slow), so a regenerated
    * source simply computes a fresh entry (and strands the old one;
    * see the eviction below). Never caches row data.
    *
    * Compute-if-absent with bounded growth: stranded entries (old
    * version tokens, dead sessions) accumulate ~bytes each, but a
    * long-running service regenerating sources forever shouldn't leak
    * even bytes. Past `cap` entries the LEAST-RECENTLY-USED HALF drops
    * ([[graft.Lru]], one unit of weight per entry), so a hot long-lived
    * entry — e.g. the l13 history bloom, hit every batch — survives
    * churn of one-off stat entries. The compute runs OUTSIDE the lock
    * (it is a Spark job); a concurrent same-key race computes twice and
    * keeps one — stats are idempotent, correctness never depended on the
    * cache. */
  object statsCache {
    private[graft] val cap = 4096
    private val lru =
      new graft.Lru[(org.apache.spark.sql.SparkSession, String, String, Any), AnyRef](cap, _ => 1L)
    private[graft] def size: Int = lru.size
    private[graft] def contains(
        key: (org.apache.spark.sql.SparkSession, String, String, Any)): Boolean =
      lru.contains(key)
    def computeIfAbsent(
        key: (org.apache.spark.sql.SparkSession, String, String, Any),
        f: Any => AnyRef): AnyRef =
      lru.getOrElseUpdate(key)(f(key))
  }

  /** DuckDB rendering of `TextAnalysis.qualityMetrics`' composite
    * score over a `text` column — ONE definition interpolated into
    * every oracle that scores quality (l3d, l18, l19): three drifting
    * copies of a 16-line formula is how oracle parity silently breaks
    * for exactly one query. */
  val qualityScoreSql: String =
    """round(greatest(0.0, least(1.0,
      |    1.0
      |    - (CAST(length(text) - length(regexp_replace(text, '[[:punct:]]', '', 'g')) AS DOUBLE)
      |       / greatest(length(text), 1)) * 2.0
      |    - CAST(length(regexp_replace(text, '[^0-9]', '', 'g')) AS DOUBLE)
      |      / greatest(length(text), 1)
      |    - CASE WHEN CAST(length(replace(text, ' ', '')) AS DOUBLE)
      |                / (length(text) - length(replace(text, ' ', '')) + 1) < 2.0
      |             OR CAST(length(replace(text, ' ', '')) AS DOUBLE)
      |                / (length(text) - length(replace(text, ' ', '')) + 1) > 12.0
      |           THEN 0.3 ELSE 0.0 END
      |    - CASE WHEN length(text) - length(replace(text, ' ', '')) + 1 < 5
      |           THEN 0.3 ELSE 0.0 END)), 4)""".stripMargin

  /** Render every array/map/struct column as its JSON string. The
    * driver's comparator sorts result rows with pandas, which crashes on
    * ndarray cells ("unhashable type: numpy.ndarray", VERDICT r1 §2) —
    * complex-typed outputs must be stringified to be checkable at all. */
  def jsonifyComplex(df: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.functions.{col, to_json}
    import org.apache.spark.sql.types.{ArrayType, MapType, StructType}
    val cols = df.schema.fields.toSeq.map { f =>
      f.dataType match {
        case _: ArrayType | _: MapType | _: StructType =>
          to_json(col(s"`${f.name}`")).as(f.name)
        case _ => col(s"`${f.name}`")
      }
    }
    df.select(cols: _*)
  }
}
