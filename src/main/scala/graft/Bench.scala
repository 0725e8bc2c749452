package graft

/** Benchmark main (driver contract): times every SparkEntry query at
  * SPARK_GRAFT_SF_DIR. Prints the full per-query JSON line, then a short
  * parse-safe summary line last (the driver tail-captures stdout).
  *
  * Method: WARMUP untimed full passes (JIT + codegen-cache + FS-cache
  * fill), then REPS timed full passes against a `noop` sink — full
  * materialization of every operator with zero sink cost — reporting
  * each query's MIN across the passes. Single-shot timing in a shared
  * ~190-query JVM couples each number to its neighbors' GC/codegen
  * pressure (round 2 recorded an 18.4 s reading for a query that runs
  * in 1.2 s isolated); min-of-N decouples it, and interleaving the reps
  * (pass-by-pass, not per-query) keeps one bursty system hiccup from
  * poisoning all N samples of the same query.
  *
  * If BASELINE_TIMES.json (DuckDB wall-times for the committed oracle SQL
  * on the same data, produced by scripts/baseline_times.py) is present,
  * the detail line carries per-query spark/duckdb ratios and the summary
  * line the aggregate ratio, so the "within 2x of baseline" gate is a
  * measured number rather than a claim.
  */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = Engine.cpus
    val warmup = sys.env.getOrElse("SPARK_GRAFT_BENCH_WARMUP", "1").toInt
    // min-of-5: repeated full-suite runs vary ±20% with machine load
    // (r8's driver print moved 25% on environment alone — its b1 floor
    // probe ran 77% over the previous round's on identical binaries);
    // two more interleaved reps tighten each per-query minimum for
    // ~2 min extra suite time, and the env block below records the
    // floor + load so machine state is readable from the artifact
    val reps = sys.env.getOrElse("SPARK_GRAFT_BENCH_REPS", "5").toInt.max(1)
    val spark = Engine.localSession()
    spark.sparkContext.setLogLevel("WARN")
    val loadStart = java.lang.management.ManagementFactory
      .getOperatingSystemMXBean.getSystemLoadAverage

    def runOnce(name: String): Double = {
      val t0 = System.nanoTime()
      try SparkEntry.queries(name)(spark, sfDir)
        .write.format("noop").mode("overwrite").save()
      catch {
        case e: Throwable =>
          System.err.println(s"[bench] $name failed: ${e.getMessage}")
          return -1.0
      }
      (System.nanoTime() - t0) / 1e9
    }

    // SPARK_GRAFT_BENCH_ONLY=x1_string_scalars,l3f (comma-separated name
    // prefixes) isolates queries for probing — a shared ~100-query JVM
    // couples numbers to neighbors' GC/JIT pressure, so one-off outliers
    // must be re-timed alone before being treated as regressions.
    val only = sys.env.get("SPARK_GRAFT_BENCH_ONLY")
      .map(_.split(',').map(_.trim).filter(_.nonEmpty).toSeq)
    // SPARK_GRAFT_BENCH_SKIP: exclusion twin of _ONLY (the Verify
    // precedent) for scale pairings where a named query's fixed demo
    // parameter degenerates with corpus size (l39's k, j5's theta
    // output). Skips must be ledgered by the artifact citing the run.
    val skipQ = sys.env.get("SPARK_GRAFT_BENCH_SKIP")
      .map(_.split(',').map(_.trim).filter(_.nonEmpty).toSeq)
      .getOrElse(Nil)
    val names = SparkEntry.all.map(_.name)
      .filter(n => only.forall(_.exists(n.startsWith)))
      .filterNot(n => skipQ.exists(n.startsWith))
    // r13 (ADVICE): a skip silently changes the aggregate ratio, so the
    // artifact must be self-describing (the baseline_times.py _meta
    // precedent): record the SKIP env verbatim AND the resolved query
    // names it dropped — prefix over-matching is then visible in the
    // artifact rather than discoverable only by diffing query lists.
    val skippedNames = SparkEntry.all.map(_.name)
      .filter(n => only.forall(_.exists(n.startsWith)))
      .filter(n => skipQ.exists(n.startsWith))
    val skipJson =
      if (skipQ.isEmpty) ""
      else
        s""","skip_env":"${skipQ.mkString(",")}","skipped":${
          skippedNames.map("\"" + _ + "\"").mkString("[", ",", "]")}"""

    // INTERLEAVED reps: full warmup pass(es) over every query, then
    // `reps` complete timed passes, min per query across passes. The
    // earlier per-query consecutive min-of-3 let one bursty system
    // hiccup (shared VM) poison all three samples of whichever query it
    // landed on — observed as 1.5-2x single-query outliers that moved
    // between runs (l25 2.8→4.7 s run-over-run with identical code).
    // Separating a query's samples by a whole suite pass (~25 s)
    // decorrelates them from any single burst at identical total work.
    val best = scala.collection.mutable.Map[String, Double]()
    for (_ <- 1 to warmup; n <- names) if (runOnce(n) < 0) best(n) = -1.0
    for (_ <- 1 to reps; n <- names if !best.get(n).contains(-1.0)) {
      val t = runOnce(n)
      if (t < 0) best(n) = -1.0
      else if (!best.get(n).exists(_ <= t)) best(n) = t
    }
    val results = names.map(n => n -> best.getOrElse(n, -1.0))
    val failed = results.count(_._2 < 0)

    // DuckDB wall-times for the same oracle SQL on the same data (committed
    // out-of-band by scripts/baseline_times.py) -> per-query ratios.
    var baselineMeta: String = ""
    var baselineSfDir: String = ""
    val baseline: Map[String, Double] = {
      // SPARK_GRAFT_BASELINE points a pairing at a non-default
      // denominator snapshot (e.g. BASELINE_TIMES_SF10.json for an sf10
      // run) without overwriting the committed sf0.1 gate basis; the
      // sf_dir guard above still applies to whatever file is named.
      val p = java.nio.file.Paths.get(
        sys.env.getOrElse("SPARK_GRAFT_BASELINE", "BASELINE_TIMES.json"))
      if (!java.nio.file.Files.exists(p)) Map.empty
      else
        try {
          // real JSON parse (jackson ships with Spark), restricted to the
          // times_sec object — a flat regex over the whole file would also
          // capture _meta fields (n_queries, total_sec, ...) and a future
          // name collision would silently skew the gate ratio
          val root = new com.fasterxml.jackson.databind.ObjectMapper()
            .readTree(java.nio.file.Files.readAllBytes(p))
          val times = root.path("times_sec")
          if (times.isMissingNode || !times.isObject) {
            // an old flat-format or malformed file must disable the gate
            // LOUDLY, not vacuously skip every ratio check
            System.err.println(
              "[bench] BASELINE_TIMES.json has no times_sec object - " +
                "ratios disabled; regenerate with scripts/baseline_times.py")
            Map.empty[String, Double]
          } else {
            import scala.jdk.CollectionConverters._
            // record WHICH baseline basis produced the ratios: the
            // snapshot's own timestamp + total, plus the file mtime as
            // the same-day-pairing witness (a pairing is honest only if
            // this mtime and the bench run are minutes apart)
            val meta = root.path("_meta")
            val gen = meta.path("generated_at").asText("")
            val tot = meta.path("total_sec").asDouble(-1.0)
            // which denominator the ratios are computed on: the r10+
            // snapshots time DuckDB's own COPY+read-back for the 11
            // write-lane queries ("symmetric-write-lane"); older
            // snapshots ratioed them against read-only oracle SQL
            val basis = meta.path("basis").asText("read-only-oracles")
            baselineSfDir = meta.path("sf_dir").asText("")
            val mtime = java.time.Instant
              .ofEpochMilli(java.nio.file.Files.getLastModifiedTime(p).toMillis)
              .toString
            baselineMeta =
              s""","baseline":{"generated_at":"$gen","file_mtime":"$mtime"""" +
                s""","basis":"$basis","sf_dir":"$baselineSfDir"""" +
                f""","total_sec":$tot%.3f}"""
            times.fieldNames.asScala
              .map(k => k -> times.get(k).asDouble()).toMap
          }
        } catch {
          case e: Exception =>
            System.err.println(s"[bench] BASELINE_TIMES.json unreadable: $e")
            Map.empty[String, Double]
        }
    }
    // ratio provenance guard (r11 verdict #5): a Spark leg on one SF
    // ratioed against a denominator measured on ANOTHER SF is not a
    // pairing — PROBES.jsonl once printed 6.51 for a run that was
    // actually 0.786x. When the bench dir differs from the committed
    // denominator's sf_dir (old snapshots without sf_dir fail CLOSED),
    // every ratio field is suppressed and the artifact says why.
    val sfMatch = baselineSfDir == sfDir
    if (baseline.nonEmpty && !sfMatch)
      System.err.println(
        s"[bench] BASELINE_TIMES.json was measured on '$baselineSfDir' " +
          s"but this run is on '$sfDir' - ratios suppressed")
    val ratios =
      if (!sfMatch) Seq.empty[(String, Double)]
      else results.collect {
        case (k, v) if v >= 0 && baseline.get(k).exists(_ > 0) =>
          k -> v / baseline(k)
      }

    val qs = results.map { case (k, v) => "\"" + k + "\":" + f"$v%.3f" }
      .mkString("{", ",", "}")
    val total = results.map(_._2).filter(_ >= 0).sum
    // The driver captures only a tail window of stdout, so a single ~2 KB
    // line gets its head truncated and fails to parse. Full per-query
    // detail goes to a file; the LAST stdout line is a short JSON summary
    // with the slowest 5 queries inlined.
    val ratioJson =
      if (ratios.isEmpty) ""
      else {
        val rs = ratios.map { case (k, v) => "\"" + k + "\":" + f"$v%.2f" }
          .mkString("{", ",", "}")
        s""","ratios_vs_duckdb":$rs"""
      }
    // env block: this run's own constant-work floor probes (b1 = no-scan
    // select 1, b2 = 5-row region scan) + 1-min system load at start and
    // end, so machine state is readable from the artifact itself —
    // r8's driver print was ~25% environment, detectable only by
    // cross-referencing b1 against the previous round
    val loadEnd = java.lang.management.ManagementFactory
      .getOperatingSystemMXBean.getSystemLoadAverage
    val resultMap0 = results.toMap
    val floors = Seq("b1_floor_select1", "b2_floor_scan_region")
      .flatMap(n => resultMap0.get(n).filter(_ >= 0)
        .map(v => "\"" + n + "\":" + f"$v%.3f"))
    val envJson =
      s""","env":{${(floors ++ Seq(
        f""""load_avg_start":$loadStart%.2f""",
        f""""load_avg_end":$loadEnd%.2f""",
        s""""cpus":$cpus""",
        // r13 verdict #2: the honored core count, read back from the
        // LIVE context — the artifact then proves $SPARK_GRAFT_CPUS
        // reached the scheduler instead of leaving it to inference
        s""""default_parallelism":${spark.sparkContext.defaultParallelism}""")).mkString(",")}$baselineMeta}"""
    val detail = f"""{"metric":"total","value":$total%.3f,"unit":"sec","method":"warmup=$warmup%d,min_of=$reps%d,interleaved","queries":$qs$ratioJson$skipJson$envJson,"sf":"$sfDir"}"""
    // best-effort: an unwritable CWD must not lose the stdout lines the
    // driver parses after the whole benchmark already ran
    try java.nio.file.Files.write(
      java.nio.file.Paths.get("bench_detail.json"), detail.getBytes("UTF-8"))
    catch { case e: Exception => System.err.println(s"[bench] detail file not written: $e") }
    val top5 = results.filter(_._2 >= 0).sortBy(-_._2).take(5)
      .map { case (k, v) => "\"" + k + "\":" + f"$v%.3f" }.mkString("{", ",", "}")
    val aggRatio =
      if (baseline.nonEmpty && !sfMatch)
        s""","ratio_suppressed":"sf_mismatch: baseline=$baselineSfDir run=$sfDir""""
      else if (ratios.isEmpty) ""
      else {
        val resultMap = results.toMap
        val sparkSum = ratios.map { case (k, _) => resultMap(k) }.sum
        val duckSum = ratios.map { case (k, _) => baseline(k) }.sum
        f""","ratio_vs_duckdb":${sparkSum / duckSum}%.2f,"n_ratioed":${ratios.size}%d"""
      }
    println(detail)
    val summary = f"""{"metric":"total","value":$total%.3f,"unit":"sec","n_queries":${names.size},"n_failed":$failed,"method":"warmup=$warmup%d,min_of=$reps%d,interleaved"$aggRatio,"slowest":$top5$skipJson$envJson,"detail":"bench_detail.json","sf":"$sfDir"}"""
    println(summary)
    // append every bench run (full suite or BENCH_ONLY probe) to the
    // PROBES.jsonl trail with a timestamp: cross-round perf claims then
    // carry their machine-state context (b1/b2 floors, load averages)
    // mechanically instead of via BASELINE.md prose (r10 verdict #7).
    // Best-effort like bench_detail.json.
    try java.nio.file.Files.write(
      java.nio.file.Paths.get("PROBES.jsonl"),
      (s"""{"ts":"${java.time.Instant.now()}"""" +
        only.map(o => s""","only":"${o.mkString(",")}"""").getOrElse("") +
        s""",${summary.drop(1)}""" + "\n").getBytes("UTF-8"),
      java.nio.file.StandardOpenOption.CREATE,
      java.nio.file.StandardOpenOption.APPEND)
    catch { case e: Exception => System.err.println(s"[bench] PROBES.jsonl not written: $e") }
    spark.stop()
  }
}
