package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Near-duplicate detection for document corpora (SURVEY §2B L1 family):
  * MinHash+LSH banding and SimHash fingerprints.
  *
  * Everything here is hash-based and seedless-deterministic (xxhash64
  * with constant salts, no `rand()`), expressed entirely in codegen'd
  * built-ins (HOFs over arrays) — no UDFs, no driver-side loops.
  *
  * Scale shape: signature computation is a narrow map at scan speed;
  * candidate generation shuffles once on (band, bandHash) — the classic
  * inverted-index plan whose cost is O(candidates), never O(n²).
  */
object Dedup {

  /** Word-token shingles of size `n` (falls back to the whole text when
    * shorter than `n` tokens). */
  def shingles(text: Column, n: Int = 3): Column = {
    val toks = split(text, " ")
    when(size(toks) < n, array(text)).otherwise(
      array_distinct(transform(sequence(lit(0), size(toks) - n), i =>
        concat_ws(" ", (0 until n).map(j => element_at(toks, (i + j + 1).cast("int"))): _*))))
  }

  /** Base 64-bit hash of each shingle — computed ONCE per row; the
    * per-plane minhashes are derived from these longs with cheap integer
    * re-hashing (xxhash64 on a long is codegen'd), never re-touching the
    * strings. Shingle hashes are themselves built from per-token hashes
    * (`xxhash64(h[i], h[i+1], h[i+2])`), so each token's string is
    * hashed exactly once regardless of shingle overlap — zero string
    * concatenation, O(tokens) string work total. */
  def shingleHashes(text: Column, n: Int = 3): Column = {
    require(n == 3, "token-hash shingling is specialized to n=3")
    // zip_with over shifted slices, NOT element_at inside a lambda: a
    // lambda body re-evaluates referenced non-lambda expressions per
    // element (no CSE), which would make this O(tokens²) per row. HOF
    // *arguments* are evaluated once per row.
    def th = transform(split(text, " "), t => xxhash64(t))
    val m = size(th) - 2
    val h12 = zip_with(slice(th, lit(1), m), slice(th, lit(2), m), (a, b) => xxhash64(a, b))
    val h123 = zip_with(h12, slice(th, lit(3), m), (a, b) => xxhash64(a, b))
    when(size(split(text, " ")) < n, array(xxhash64(text)))
      .otherwise(array_distinct(h123))
  }

  /** MinHash signature over pre-hashed shingles:
    * `sig[h] = min over x of xxhash64(x, h)`. */
  def minHashSignatureFromHashes(hashes: Column, numHashes: Int): Column =
    transform(sequence(lit(0), lit(numHashes - 1)), h =>
      array_min(transform(hashes, x => xxhash64(x, h))))

  /** LSH banding: candidate pairs (d1 < d2) that collide in ≥1 band.
    * Output: (d1, d2, n_bands) where n_bands counts colliding bands. */
  def minHashLshPairs(
      df: DataFrame,
      idCol: String,
      textCol: String,
      numHashes: Int = 64,
      bands: Int = 16): DataFrame = {
    require(numHashes % bands == 0, "bands must divide numHashes")
    val r = numHashes / bands
    // NULL text can't be near-duplicate of anything — left in, every
    // null-text row would hash to the SAME band buckets (the band hash
    // of a null signature degenerates to the constant seed) and pair up.
    // r14: the signature kernel runs on the scan's partitioning, which
    // for the single-file synth tables means 2–5 effective tasks (row-
    // group-bounded) at sf10 — Spread restores full-width parallelism
    // there while staying a no-op at sf0.1 (byte gate) and at cluster
    // scale (split gate); the r13 graft_barrier fence below still owns
    // the CollapseProject hazard.
    val sig = Spread.ifNarrow(df.filter(col(textCol).isNotNull), col(idCol))
      // native one-pass shingle hashing and signature (graft_shingle_hashes,
      // graft_minhash): bit-identical to the shingleHashes /
      // minHashSignatureFromHashes compositions, pinned in DedupSpec,
      // without their per-row intermediate arrays.
      // r13: graft_barrier replaces the repartition-as-projection-
      // barrier — same single evaluation of sh (and of sig, which the
      // banded posexplode lambda would otherwise re-inline per band),
      // ZERO shuffle of the text/hash payload (guide §2.3/§4.4; the
      // old exchange cost ~0.5 s per query at 32 cores on sf0.1 and
      // moved the whole corpus' shingle arrays at scale).
      // graft_minhash references sh once, so the fence on SH is not
      // load-bearing; it is kept so the plan shape PlanSpec locks does
      // not move. The fence on SIG is: the banding lambda is a HOF.
      .select(col(idCol).as("id"),
        graft.GraftFunctions.barrier(df.sparkSession,
          graft.GraftFunctions.shingleHashesNative(df.sparkSession, col(textCol))).as("sh"))
      .select(col("id"), graft.GraftFunctions.barrier(df.sparkSession,
        graft.GraftFunctions.minhashNative(df.sparkSession, col("sh"), numHashes)).as("sig"))
    val banded = sig.select(col("id"),
      posexplode(transform(sequence(lit(0), lit(bands - 1)), b =>
        xxhash64(slice(col("sig"), b * r + 1, lit(r)), lit(42)))))
      .withColumnRenamed("pos", "band").withColumnRenamed("col", "band_hash")
    val a = banded.select(col("id").as("d1"), col("band"), col("band_hash"))
    val b = banded.select(col("id").as("d2"), col("band"), col("band_hash"))
    a.join(b, Seq("band", "band_hash")).filter(col("d1") < col("d2"))
      .groupBy(col("d1"), col("d2"))
      .agg(count(lit(1)).as("n_bands"))
  }

  /** Near-dup CLUSTERS instead of pairs — the 100 TB shape when
    * duplication is heavy. [[minHashLshPairs]] materializes O(c²) rows
    * per duplicate clique of size c (measured: 16× amplified docs →
    * 666k pairs from 5k originals); a dedup policy only needs each
    * doc's cluster representative, which is O(n). The doc↔band-bucket
    * incidence goes straight to [[componentsByKey]] — no pair
    * materialization ever, and its star rounds converge on long
    * duplicate *chains* (A~B~C~…~Z through distinct buckets) as fast
    * as on cliques.
    * Output: (id, cluster) where cluster = min doc id reached. */
  def minHashLshClusters(
      df: DataFrame,
      idCol: String,
      textCol: String,
      numHashes: Int = 64,
      bands: Int = 16): DataFrame = {
    require(numHashes % bands == 0, "bands must divide numHashes")
    val r = numHashes / bands
    // NULL-text docs are singleton clusters by definition — banding them
    // would merge every null-text doc into one bogus clique through the
    // degenerate constant band hash (same reason minHashLshPairs and
    // simHashPairs filter them)
    val sig = Spread.ifNarrow(df.filter(col(textCol).isNotNull), col(idCol))
      // native one-pass shingle hashing (see minHashLshPairs)
      .select(col(idCol).as("id"),
        graft.GraftFunctions.shingleHashesNative(df.sparkSession, col(textCol)).as("sh"))
      // r13: the banded posexplode lambda downstream references sig per
      // band — graft_barrier keeps it computed once with no shuffle
      // (was repartition(defaultParallelism); see minHashLshPairs)
      .select(col("id"), graft.GraftFunctions.barrier(df.sparkSession,
        graft.GraftFunctions.minhashNative(df.sparkSession, col("sh"), numHashes)).as("sig"))
    // no cache() here: componentsByKey checkpoints its incidence
    // eagerly, which runs this upstream plan exactly once
    val banded = sig.select(col("id"),
      posexplode(transform(sequence(lit(0), lit(bands - 1)), b =>
        xxhash64(slice(col("sig"), b * r + 1, lit(r)), lit(42)))))
      // LONG bucket key (band index folded into the band hash by one
      // more xxhash64) instead of a "pos:hash" string: an 8-byte key
      // beats a ~25-byte string through every keyed exchange of the
      // component rounds. A 64-bit collision merges two buckets — the
      // same failure mode (and magnitude) the 64-bit band hash itself
      // already carries.
      .select(col("id"), xxhash64(col("col"), col("pos")).as("bucket"))
    val singletons = df.filter(col(textCol).isNull)
      .select(col(idCol).as("id")).withColumn("label", col("id"))
    componentsByKey(banded, "id", "bucket").unionByName(singletons)
      .select(col("id"), col("label").as("cluster"))
  }

  /** Free the block-manager storage behind a `localCheckpoint`ed
    * Dataset. `Dataset.unpersist` only touches the cache-manager entry,
    * not the checkpointed RDD's blocks, which otherwise linger until
    * driver GC runs the ContextCleaner — a storage-pressure leak when an
    * iterative loop checkpoints a snapshot per round at corpus scale. */
  private[graft] def unpersistCheckpoint(df: DataFrame): Unit =
    df.queryExecution.analyzed.foreach {
      case lr: org.apache.spark.sql.execution.LogicalRDD =>
        lr.rdd.unpersist(blocking = false)
      case _ => ()
    }

  /** Distinct word tokens of each doc as 64-bit HASH keys, one row per
    * (doc_id, tok). The token is an internal join/aggregation key
    * (never output), so an 8-byte long through the df aggregation +
    * anti-join + inverted-index self-join beats the string on every
    * pass; distinct-per-doc runs on the hashed array (cheaper
    * compares). Collision budget — stated precisely because the
    * consumers' OUTPUTS are counts, so the family is PROBABILISTICALLY
    * exact, not exact, at corpus scale: with T distinct tokens the
    * expected colliding token pairs are ~T²/2^65 (birthday) — at the
    * 100 TB design point of T ~ 10^12 that is ~3·10^4 collided pairs
    * among 10^12 tokens, i.e. a relative count perturbation of order
    * 10^-8 on any aggregate a pipeline reads, and the affected pairs
    * inflate n_inter by AT MOST 1 each. The l1c/l28/l23 oracles
    * recompute with STRING tokens and stay hash-exact on the gated data
    * (certifying zero collisions there). Exactness-critical audits can
    * swap the key for a 128-bit struct(xxhash64(t), xxhash64(t, seed2))
    * — expected collisions ~10^-15 at T = 10^12 — at the measured cost
    * of doubling key bytes through every exchange; 64-bit is the
    * shipped default because a 10^-8 count perturbation is far below
    * the sampling noise of any decision these counts feed. */
  private def hashedTokens(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.select(col(idCol).as("doc_id"),
      explode(array_distinct(
        transform(split(col(textCol), " "), t => xxhash64(t)))).as("tok"))

  /** Token-set overlap of every doc pair sharing an informative token,
    * via the inverted-index plan: self-join [[hashedTokens]] on the
    * token and count intersections. Never a cross product — cost is
    * Σ df(tok)² over tokens, which is why the document-frequency cap
    * matters: at corpus scale, stopword-grade tokens ("the" in ~every
    * doc) each contribute a quadratic hot bucket on the join key while
    * carrying ~zero overlap signal. Tokens with df > maxDfRatio × n_docs
    * are dropped BEFORE the self-join via a broadcast anti-join (the
    * hot list is tiny by construction: at most Σtokens/(ratio·n_docs)
    * entries), and set sizes are computed over the surviving tokens so
    * every ratio derived from them stays internally consistent.
    *
    * Output: (d1, d2, n_inter, n1, n2) with d1 < d2. */
  private def tokenOverlap(
      df: DataFrame, idCol: String, textCol: String, maxDfRatio: Double): DataFrame = {
    val toks = hashedTokens(df, idCol, textCol)
    val nDocs = toks.agg(countDistinct(col("doc_id")).as("n_docs"))
    // toks is distinct per (doc, tok), so count(*) per tok IS document
    // frequency; the hot list stays small enough to broadcast whenever
    // the cap is meaningful, keeping the kept-token path shuffle-free
    val hot = toks.groupBy(col("tok")).agg(count(lit(1)).as("df"))
      .crossJoin(broadcast(nDocs))
      .filter(col("df") > lit(maxDfRatio) * col("n_docs"))
      .select(col("tok"))
    val kept = toks.join(broadcast(hot), Seq("tok"), "left_anti")
    val sizes = kept.groupBy(col("doc_id")).agg(count(lit(1)).as("n_tok"))
    val a = kept.select(col("doc_id").as("d1"), col("tok"))
    val b = kept.select(col("doc_id").as("d2"), col("tok"))
    a.join(b, Seq("tok")).filter(col("d1") < col("d2"))
      .groupBy(col("d1"), col("d2")).agg(count(lit(1)).as("n_inter"))
      .join(sizes.withColumnRenamed("doc_id", "d1").withColumnRenamed("n_tok", "n1"), "d1")
      .join(sizes.withColumnRenamed("doc_id", "d2").withColumnRenamed("n_tok", "n2"), "d2")
  }

  /** Exact token-set Jaccard similarity pairs over [[tokenOverlap]]:
    * Jaccard from |A|+|B|-|A∩B|. The declared semantic is "Jaccard over
    * informative tokens" (the df cap), mirrored exactly in the l1c
    * oracle SQL.
    *
    * Output: (d1, d2, n_inter, jpm) with jpm = Jaccard per-mille
    * (integer-div, float-free for oracle stability), filtered to
    * jpm >= minJpm and d1 < d2. */
  def jaccardPairs(
      df: DataFrame,
      idCol: String,
      textCol: String,
      minJpm: Int = 500,
      maxDfRatio: Double = 0.9): DataFrame =
    tokenOverlap(df, idCol, textCol, maxDfRatio)
      .withColumn("jpm", expr("(n_inter * 1000) div (n1 + n2 - n_inter)"))
      .filter(col("jpm") >= minJpm)
      .select(col("d1"), col("d2"), col("n_inter"), col("jpm"))

  /** Asymmetric token-set containment pairs: for each candidate pair,
    * cpm = |A∩B| / min(|A|,|B|) in per-mille — the "near-superset"
    * detector. Jaccard misses the classic boilerplate case (a short
    * doc wholly embedded in a long one scores |A|/|B| ≈ 0 Jaccard but
    * 1000 cpm); dedup policies usually drop the contained side.
    * Same [[tokenOverlap]] plan and df cap as [[jaccardPairs]].
    * Integer per-mille division on both engines — oracle-hashable. */
  def containmentPairs(
      df: DataFrame,
      idCol: String,
      textCol: String,
      minCpm: Int = 800,
      maxDfRatio: Double = 0.9): DataFrame =
    tokenOverlap(df, idCol, textCol, maxDfRatio)
      .withColumn("cpm", expr("(n_inter * 1000) div least(n1, n2)"))
      .filter(col("cpm") >= minCpm)
      .select(col("d1"), col("d2"), col("n_inter"), col("cpm"))

  /** Distinct word n-grams of `textCol` as 64-BIT HASH KEYS, one row
    * per (id, gram). Every consumer (dup-fraction, cross-source
    * overlap, decontamination, gram components) treats the gram as an
    * opaque join/aggregation key and never outputs it, so r8 swapped
    * the string gram (`concat_ws ∘ slice` per gram — a ~25-byte value
    * through every gram-keyed exchange) for the native one-pass
    * [[graft.functions.NgramHashes]] key (8 bytes, no per-gram string
    * allocation). Clamped-window semantics unchanged: docs shorter
    * than `n` tokens contribute ONE gram over all their tokens (the
    * SQL `t[i:i+n-1]` idiom the l9/l17/l34/l25 oracles replicate with
    * string grams — the oracle gate therefore also certifies that no
    * 64-bit gram collision occurs on the certified data. Consumers
    * whose outputs are COUNTS are thereby probabilistically exact at
    * corpus scale — see the quantified budget in [[hashedTokens]]
    * (~G²/2^65 collided gram pairs, order-10^-8 count perturbation at
    * G ~ 10^12; two-seed 128-bit struct keys are the substitution when
    * that matters). The
    * text stays below a repartition barrier so the kernel runs spread
    * across cores, not on the scan's few input splits. */
  private[graft] def ngramRows(
      df: DataFrame, idCol: String, textCol: String, n: Int): DataFrame =
    // r13: the repartition-as-barrier is GONE — `explode(native(txt))`
    // has no CollapseProject hazard (GenerateExec evaluates its
    // generator child exactly once per input row), so the exchange's
    // only effect was shuffling the full text payload to spread a
    // single-split small file across cores. At sf0.1 that shuffle COST
    // 2-5x the gram work it parallelized (l9 0.92→0.36 s at 32 cores);
    // at warehouse scale the scan is already distributed and shuffling
    // text payloads is exactly what guide §2.3 forbids.
    // r14: a Spread.ifNarrow here was A/B'd at sf10 and REVERTED — the
    // native gram kernel is cheap per byte, so the ~5 row-group tasks
    // already keep up and the added text exchange only stacked on the
    // gram-keyed exchange below (l34 10.9→20.4, l17 3.2→3.4, l9 flat;
    // PROBES 2026-08-19T20:10 vs the 04:48/06:26 legs). Contrast the
    // simhash/minhash/cosine heads, where per-row kernels dominate and
    // the gated spread measured 3-7x.
    df.filter(col(textCol).isNotNull)
      .select(col(idCol).as("id"), col(textCol).as("__txt"))
      .select(col("id"), explode(graft.GraftFunctions
        .ngramHashesNative(df.sparkSession, col("__txt"), n)).as("gram"))

  /** Benchmark-contamination detection (training-data hygiene): for
    * each train doc, how many of its distinct word n-grams also occur
    * in the benchmark corpus. The decontamination primitive — train
    * docs that reproduce eval-set n-grams leak the benchmark into the
    * training distribution and must be dropped or flagged.
    *
    * Scale shape: the benchmark side is assumed to be an eval suite —
    * thousands of docs against a 100 TB corpus — so its distinct-gram
    * set is BROADCAST. That is an explicit hint — Spark honors it
    * regardless of size — so a corpus-sized "bench" side would OOM the
    * driver; callers comparing two corpora should drop the hint and let
    * the planner pick a shuffled join instead.
    * The train side pays one repartition (ngramRows' full token-array
    * shuffle, the deliberate projection barrier that keeps the n-gram
    * lambda O(tokens) — see ngramRows) plus ONE per-doc aggregation:
    * the broadcast probe marks each gram hit/miss left-outer (bench
    * grams are distinct, so no fan-out), and n_grams and n_hits come
    * out of the same keyed count — the old sizes⋈hits form aggregated
    * the gram stream by doc twice and joined the results back. Never a
    * corpus self-join; cost is linear in corpus grams.
    *
    * Output: (doc_id, n_grams, n_hits, cpm) for train docs with ≥1 hit;
    * cpm = contaminated grams per mille (integer-div, oracle-stable). */
  def ngramContamination(
      train: DataFrame,
      bench: DataFrame,
      idCol: String,
      textCol: String,
      n: Int = 8): DataFrame = {
    val trainGrams = ngramRows(train, idCol, textCol, n)
    val benchGrams = ngramRows(bench, idCol, textCol, n)
      .select(col("gram")).distinct()
    trainGrams
      .join(broadcast(benchGrams.withColumn("__hit", lit(1L))),
        Seq("gram"), "left_outer")
      .groupBy(col("id"))
      .agg(count(lit(1)).as("n_grams"),
        sum(coalesce(col("__hit"), lit(0L))).as("n_hits"))
      .filter(col("n_hits") > 0)
      .select(col("id").as("doc_id"), col("n_grams"), col("n_hits"),
        expr("(n_hits * 1000) div n_grams").as("cpm"))
  }

  /** Within-corpus duplicated n-gram fraction per document (the
    * memorization-risk signal from exact-substring dedup work: spans
    * repeated across documents are what models memorize first). For
    * each doc, the share of its distinct word n-grams whose corpus
    * document-frequency exceeds 1.
    *
    * Scale shape: ONE gram-keyed exchange. The document frequency is a
    * count-over-window on that partitioning, annotating every gram row
    * in place — the aggregate-then-join-back form exchanged the gram
    * stream twice (once partial-aggregated for the df table, once in
    * full for the join) for the same answer. The per-doc count is then
    * one combiner-friendly keyed aggregation. Never a doc↔doc
    * self-join — cost is linear in corpus grams. (The gram window is
    * corpus-cardinality — millions of partitions — so it can never
    * funnel into one task; hub grams concentrate exactly as much as
    * they would in the df aggregation.)
    *
    * Output: (doc_id, n_grams, n_dup, dpm); dpm = duplicated grams per
    * mille (integer-div, oracle-stable). */
  def ngramDupFraction(
      df: DataFrame, idCol: String, textCol: String, n: Int = 8): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    ngramRows(df, idCol, textCol, n)
      .repartition(col("gram"))
      .withColumn("df", count(lit(1)).over(Window.partitionBy(col("gram"))))
      .groupBy(col("id"))
      .agg(count(lit(1)).as("n_grams"),
        sum(when(col("df") > 1, 1L).otherwise(0L)).as("n_dup"))
      .select(col("id").as("doc_id"), col("n_grams"), col("n_dup"),
        expr("(n_dup * 1000) div n_grams").as("dpm"))
  }

  /** Cross-source contamination matrix: pairwise n-gram overlap between
    * corpus slices (crawl snapshots, vendors, dumps) — the diagnostic
    * that tells you two "independent" sources are actually the same
    * content before you over-weight it in a training mixture.
    *
    * Scale shape: NEVER a source×source gram join. One gram-keyed
    * exchange collects the distinct set of sources containing each gram
    * — an array bounded by |sources| (dimension-sized), not corpus size
    * — and the a19 recipe (sorted set + scan-local native i<j pairing,
    * `graft_sorted_pairs`)
    * fans each gram out to its source pairs; one pair-keyed count then
    * yields every |A∩B| in a single pass over corpus grams. Per-source
    * gram totals ride the same distinct gram relation.
    *
    * Output: (src_a, src_b, n_a, n_b, n_common, jaccard_pm) with
    * src_a < src_b; jaccard_pm = 1000·|A∩B| / |A∪B| (integer-div,
    * oracle-stable). */
  def crossSourceOverlap(
      df: DataFrame, groupCol: String, textCol: String, n: Int = 4): DataFrame = {
    // one gram-keyed repartition serves BOTH the (src, gram) distinct
    // (hashpartitioning(gram) ⊆ the dedup keys, so no second exchange)
    // and the per-gram source-set aggregation right below it; the old
    // pair-keyed distinct exchanged the deduped stream a second time
    // to get gram-clustered
    val sg = ngramRows(df, groupCol, textCol, n)
      .select(col("id").as("src"), col("gram"))
      .repartition(col("gram"))
      .dropDuplicates("src", "gram")
    val sizes = sg.groupBy(col("src")).agg(count(lit(1)).as("n_grams"))
    sg.groupBy(col("gram"))
      .agg(array_sort(collect_set(col("src"))).as("srcs"))
      .filter(size(col("srcs")) >= 2)
      // native i<j fan-out (graft_sorted_pairs, the a19 kernel): no
      // per-element slice allocation, no per-pair lambda dispatch
      .select(explode(graft.GraftFunctions
        .sortedPairsNative(df.sparkSession, col("srcs"))).as("p"))
      .groupBy(col("p.a").as("src_a"), col("p.b").as("src_b"))
      .agg(count(lit(1)).as("n_common"))
      .join(sizes.select(col("src").as("src_a"), col("n_grams").as("n_a")), Seq("src_a"))
      .join(sizes.select(col("src").as("src_b"), col("n_grams").as("n_b")), Seq("src_b"))
      .select(col("src_a"), col("src_b"), col("n_a"), col("n_b"), col("n_common"),
        expr("(n_common * 1000) div (n_a + n_b - n_common)").as("jaccard_pm"))
  }

  /** Sketch twin of [[crossSourceOverlap]]: per-source MinHash
    * signatures (numPerms independent min-hashes over the distinct
    * gram set) and pairwise estimated Jaccard from signature agreement.
    *
    * Why it exists at 100 TB: the exact matrix touches every distinct
    * (source, gram) row; the signature is a FIXED-SIZE mergeable state
    * per source (numPerms longs — min is associative/commutative, so
    * partials combine map-side and across corpus shards/days like
    * a3b's HLL rollup), after which the pairwise comparison is
    * dimension×dimension and free. Estimate error is spec-bounded
    * against the exact matrix (DedupSpec), not oracled — sketch
    * internals aren't portable SQL (the a3/u2b declaration pattern).
    *
    * Output: (src_a, src_b, n_match, jaccard_est_pm), src_a < src_b. */
  def sourceMinHashOverlap(
      df: DataFrame, groupCol: String, textCol: String,
      n: Int = 4, numPerms: Int = 64): DataFrame = {
    val gh = ngramRows(df, groupCol, textCol, n)
      .select(col("id").as("src"), xxhash64(col("gram")).as("gh")).distinct()
    val mins = (0 until numPerms).map(i => min(xxhash64(col("gh"), lit(i))).as(s"m$i"))
    val sigs = gh.groupBy(col("src"))
      .agg(mins.head, mins.tail: _*)
      .select(col("src"),
        array((0 until numPerms).map(i => col(s"m$i")): _*).as("sig"))
    sigs.as("x")
      .join(broadcast(sigs.as("y")), col("x.src") < col("y.src"))
      .select(col("x.src").as("src_a"), col("y.src").as("src_b"),
        expr("aggregate(zip_with(x.sig, y.sig, (a, b) -> if(a <=> b, 1, 0)), " +
          "0, (acc, v) -> acc + v)").as("n_match"))
      .withColumn("jaccard_est_pm", expr(s"(n_match * 1000) div $numPerms"))
  }

  /** Winnowing fingerprints (the MOSS local-fingerprinting scheme):
    * hash every k-token gram, slide a w-hash window over each document,
    * keep the minimum hash of every window, dedupe. Guarantees: any
    * shared token run of length >= k + w - 1 between two documents
    * yields at least one SHARED fingerprint (detection), and the kept
    * set is ~2/(w+1) of the grams (density) — the bounded-size
    * robust-to-edits signature that pure MinHash (global min, no
    * position locality) cannot give for partial overlap detection.
    *
    * Scale shape: gram construction is scan-local (positions come from
    * the gram array index, no lead() chain); ONE doc-keyed exchange
    * serves the window min AND the per-doc aggregation. Fingerprints
    * are hex-prefix strings of sha2 so lexicographic window MIN equals
    * numeric min of the hash value in any engine.
    *
    * Output: (doc_id, n_windows, n_fp, fp_min, fp_max). */
  def winnowedFingerprints(
      df: DataFrame, idCol: String, textCol: String,
      k: Int = 4, w: Int = 4): DataFrame = {
    // one native pass per document (graft_winnow_stats): the whole
    // signature summary is a pure function of the text, so the query is
    // scan + project — no gram explode, no doc-keyed window exchange,
    // no aggregation exchange. Bit-identity to the Column composition
    // below is pinned in NativeExprPropertySpec; the DuckDB oracle
    // (string grams + window min + countDistinct) is unchanged.
    val stats = graft.GraftFunctions
      .winnowStatsNative(df.sparkSession, col(textCol), k, w)
    df.filter(col(textCol).isNotNull)
      .select(col(idCol).as("doc_id"), stats.as("__s"))
      .select(col("doc_id"),
        col("__s.n_windows").as("n_windows"),
        col("__s.n_fp").as("n_fp"),
        col("__s.fp_min").as("fp_min"),
        col("__s.fp_max").as("fp_max"))
  }

  /** The pre-r11 Column composition of [[winnowedFingerprints]] — kept
    * as the independent semantics witness the native kernel is pinned
    * against (NativeExprPropertySpec), the same pattern as every other
    * native kernel's composed twin. */
  private[graft] def winnowedFingerprintsComposed(
      df: DataFrame, idCol: String, textCol: String,
      k: Int = 4, w: Int = 4): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val grams = df.filter(col(textCol).isNotNull)
      .select(col(idCol).as("id"), split(col(textCol), " ").as("__t"))
      .select(col("id"), posexplode(
        transform(sequence(lit(0), greatest(size(col("__t")) - k, lit(0))), i =>
          concat_ws(" ", slice(col("__t"), i + 1, lit(k))))))
      .select(col("id"), col("pos"),
        substring(sha2(col("col"), 256), 1, 16).as("fp"))
    val win = Window.partitionBy(col("id")).orderBy(col("pos").asc_nulls_first)
      .rowsBetween(Window.currentRow, w - 1)
    val cnt = Window.partitionBy(col("id"))
    grams
      .withColumn("wmin", min(col("fp")).over(win))
      .withColumn("n_grams", count(lit(1)).over(cnt))
      // clamp so short docs (< w grams) keep their one partial window
      // instead of vanishing from the signature set
      .filter(col("pos") <= greatest(col("n_grams") - w, lit(0)))
      .groupBy(col("id"))
      .agg(count(lit(1)).as("n_windows"),
        countDistinct(col("wmin")).as("n_fp"),
        min(col("wmin")).as("fp_min"), max(col("wmin")).as("fp_max"))
      .withColumnRenamed("id", "doc_id")
  }

  /** Incremental exact dedup — the append-only production pattern: a
    * new batch arrives daily and must be deduplicated against a 100 TB
    * history WITHOUT rescanning or shuffling the history per batch.
    *
    * Two-tier plan:
    *   1. The history's digest set is compacted into a bloom filter
    *      (one history aggregation, reusable across batches — callers
    *      can persist the serialized filter). A batch row whose digest
    *      misses the filter is DEFINITELY novel (blooms have no false
    *      negatives) and short-circuits past the join entirely.
    *   2. Only the "maybe seen" slice — true duplicates plus the fpp
    *      sliver of false positives — pays the exact anti-join against
    *      the history digests. For mostly-novel corpora (the common
    *      case) this keeps the per-batch shuffle proportional to the
    *      duplicate rate, not the batch size.
    * In-batch duplicates collapse to min-id per digest (same keep rule
    * as exact dedup l1).
    *
    * Output: (idCol, digest) of the kept batch rows. Exactness vs the
    * naive anti-join is pinned in DedupSpec; the digest is
    * sha256(coalesce(text,'')) — collision-free for any real corpus. */
  def incrementalDedup(
      batch: DataFrame,
      history: DataFrame,
      idCol: String,
      textCol: String,
      expectedHistoryItems: Long = 1L << 16,
      fpp: Double = 0.02,
      prebuiltBloom: Option[Array[Byte]] = None): DataFrame = {
    graft.GraftFunctions.ensureRegistered(batch.sparkSession)
    def digest(df: DataFrame): Column = sha2(coalesce(col(textCol), lit("")), 256)
    val hist = history.select(digest(history).as("digest")).distinct()
    // the bloom keys on the digest's 64-bit hash: the filter probes
    // longs; hashing a 256-bit hex digest down to 64 bits only adds to
    // the (harmless) false-positive rate, never creates false negatives.
    // `prebuiltBloom` is the production calling convention: the history
    // bloom is a persisted sidecar INDEX maintained across batches
    // (Streams.dedupIngest seeds it once and extends per batch), not
    // something each batch rebuilds from a full history scan — build it
    // via [[historyBloom]] once per history version and pass it in. Any
    // prebuilt filter over a SUPERSET of the history is sound (false
    // positives go to the exact anti-join; false negatives are
    // impossible for keys that were added) — a SUBSET (stale) filter
    // is NOT: see historyBloom's soundness contract. Exactness vs the
    // naive anti-join is pinned in OperatorsSpec for both the
    // self-built and prebuilt (incl. superset) paths, and the subset
    // divergence is demonstrated there too.
    val bloomBytes = prebuiltBloom.getOrElse(historyBloom(
      history, textCol, expectedHistoryItems, fpp))
    val b = batch
      .select(col(idCol), digest(batch).as("digest"))
      .groupBy(col("digest")).agg(min(col(idCol)).as(idCol))
    val maybeSeen = BloomJoin.mightContain(xxhash64(col("digest")), bloomBytes)
    val novel = b.filter(!maybeSeen)
    val checked = b.filter(maybeSeen)
      .join(hist, Seq("digest"), "left_anti")
    novel.unionByName(checked).select(col(idCol), col("digest"))
  }

  /** Exact-substring duplicate SPANS — the removal step of ExactSubstr
    * dedup (Lee et al. 2022, "Deduplicating Training Data Makes
    * Language Models Better"): for each doc, the maximal token ranges
    * covered by word n-grams occurring MORE THAN ONCE in the corpus
    * (cross-doc or repeated within one doc — both are memorizable
    * duplication). Downstream pipelines cut these spans from the text,
    * the surgical alternative to dropping whole near-dup docs. The
    * paper's suffix-array formulation finds byte-level repeats ≥ 50
    * tokens; this is the equivalent n-gram-anchored form — any repeated
    * run of ≥ n tokens is covered by a repeated n-gram at every offset,
    * so merging overlapping duplicated-gram intervals reconstructs the
    * maximal repeated runs (to n-token granularity at the edges).
    *
    * Scale shape (the l17 family): one projection-barrier repartition
    * keeps the gram kernel spread across cores; ONE gram-keyed exchange
    * serves both the occurrence count and the duplicate-gram join back
    * (8-byte native gram hashes through the exchange, never gram
    * strings); islands then ride ONE doc-keyed exchange (lag + running
    * sum + span aggregation on the same sort). Linear in corpus grams —
    * no doc↔doc self-join, no suffix array materialization.
    *
    * Output: (id, span_start, span_end, span_tokens, n_grams), token
    * positions 1-based inclusive, clamped to doc length (docs shorter
    * than `n` tokens contribute one whole-doc gram — the clamp the
    * kernel's equivalence spec pins). */
  def exactSubstringSpans(
      df: DataFrame, idCol: String, textCol: String, n: Int): DataFrame = {
    val base = gramStream(df, idCol, textCol, n)
    // total occurrence count per gram (NOT document frequency: a gram
    // repeated twice inside one doc is duplication too)
    val cnt = base.groupBy(col("gram")).agg(count(lit(1)).as("c"))
    val dup = base.join(cnt.filter(col("c") > 1), Seq("gram"))
      .select(col("id"), col("len"), col("pos"))
    spansFromDupPositions(dup, n)
  }

  /** Positional gram stream shared by the span operators: (id, len,
    * pos, gram) with 1-based token positions and 8-byte positional
    * kernel hashes (never gram strings) — the projection-barrier
    * repartition keeps the gram kernel spread across cores. */
  private[graft] def gramStream(
      df: DataFrame, idCol: String, textCol: String, n: Int): DataFrame = {
    graft.GraftFunctions.ensureRegistered(df.sparkSession)
    // r13: the ngramRows barrier-removal was A/B'd here too and KEPT as
    // a repartition — a measured NEGATIVE for removal: unlike ngramRows
    // (whose explode feeds straight into a keyed exchange), the
    // NON-distinct positional stream does heavy generate+window map
    // work before its first exchange, and on a single-split sf0.1 scan
    // that serialized (l40 0.75→1.64 s, l41 0.82→1.47 s at 32 cores,
    // quiet interleaved min-of-5).
    // r14 (verdict #7): the spread is GATED on the scan's planned split
    // count — it exists solely to parallelize the generate+window map
    // work when the input has fewer splits than cores (the sf0.1 case),
    // and an unconditional round-robin exchange of the full text
    // payload is exactly the r13 barrier-class hazard at any scale
    // where the scan is already parallel (sf10: 14 splits ≥ cores on a
    // cluster; the in-comment claim that it "coalesces into the first
    // keyed shuffle" was wrong — an explicit repartition always stays
    // in the plan).
    val sc = df.sparkSession.sparkContext
    val base = df.filter(col(textCol).isNotNull)
      .select(col(idCol).as("id"), col(textCol).as("__txt"))
    // hashed on the id, as Spread does: a round-robin repartition sorts
    // the text payload before the exchange
    val spread =
      if (base.rdd.getNumPartitions < sc.defaultParallelism)
        base.repartition(sc.defaultParallelism, col("id"))
      else base
    spread
      .select(col("id"),
        size(split(col("__txt"), " ", -1)).cast("long").as("len"),
        posexplode(graft.GraftFunctions
          .ngramHashesNative(df.sparkSession, col("__txt"), n,
            distinct = false)))
      .select(col("id"), col("len"),
        (col("pos") + 1).cast("long").as("pos"), col("col").as("gram"))
  }

  /** Island/merge stage shared by the span operators: merge
    * overlapping/touching [pos, pos+n-1] intervals per doc on ONE
    * doc-keyed exchange (lag + running sum + span aggregation on the
    * same sort). A new span starts when the gap to the previous
    * duplicated gram exceeds n (null lag on the first row falls to
    * otherwise(1)). */
  private[graft] def spansFromDupPositions(dup: DataFrame, n: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val wDoc = Window.partitionBy(col("id")).orderBy(col("pos"))
    val runs = dup
      .withColumn("brk",
        when(col("pos") - lag(col("pos"), 1).over(wDoc) <= n, lit(0))
          .otherwise(lit(1)))
      .withColumn("run",
        sum(col("brk")).over(wDoc.rowsBetween(Window.unboundedPreceding, 0)))
    runs.groupBy(col("id"), col("run"))
      .agg(min(col("pos")).as("span_start"),
        max(least(col("pos") + lit(n - 1), col("len"))).as("span_end"),
        count(lit(1)).as("n_grams"))
      .select(col("id"), col("span_start"), col("span_end"),
        (col("span_end") - col("span_start") + 1).as("span_tokens"),
        col("n_grams"))
  }

  /** Per-gram total occurrence counts of a corpus — the MERGEABLE
    * sidecar index for [[exactSubstringSpansIncremental]]: counts are
    * additive, so a daily pipeline extends the sidecar with the new
    * batch's [[gramCounts]] (sum per gram) instead of recounting the
    * history. Same positional kernel hashes as the span operators
    * (the l40 collision budget applies — the string-gram-recomputing
    * oracle certifies zero collisions on gated data).
    *
    * Output: (gram, c). */
  def gramCounts(df: DataFrame, textCol: String, n: Int): DataFrame = {
    graft.GraftFunctions.ensureRegistered(df.sparkSession)
    df.filter(col(textCol).isNotNull)
      .select(explode(graft.GraftFunctions
        .ngramHashesNative(df.sparkSession, col(textCol), n,
          distinct = false)).as("gram"))
      .groupBy(col("gram")).agg(count(lit(1)).as("c"))
  }

  /** Incremental ExactSubstr — [[exactSubstringSpans]] of a NEW batch
    * against a 100 TB history WITHOUT rescanning the history per batch
    * (the l13/G12 daily-drop pattern applied to span dedup): the
    * history's contribution is a persisted [[gramCounts]] sidecar, and
    * a batch gram is duplicated iff its batch count plus its sidecar
    * count exceeds one. Counts are additive over a disjoint
    * history/batch split, so the result equals the monolithic
    * [[exactSubstringSpans]] over (history UNION batch) restricted to
    * batch docs — EXACTLY (pinned in DedupSpec, randomized).
    *
    * Scale shape: the gram-keyed exchange carries only BATCH grams
    * (the batch-side count and the join back); the sidecar side reads
    * without an exchange when persisted bucketed by gram (the l41 QDef
    * does — the l26/s12 layout machinery). The island/reassembly pass
    * is batch-doc-keyed. Nothing scales with the history except the
    * one-time sidecar build.
    *
    * SOUNDNESS (the historyBloom contract, same shape): the sidecar
    * must cover AT LEAST the history corpus. Overcounts (a superset
    * sidecar) only widen spans toward the paper's conservative cut;
    * an UNDERCOUNTING (stale) sidecar silently misses duplicated runs
    * — wrong results, not slow ones. Version the persisted sidecar on
    * the history source, not wall-clock.
    *
    * Output: same as [[exactSubstringSpans]], batch docs only. */
  def exactSubstringSpansIncremental(
      batch: DataFrame, historyGramCounts: DataFrame,
      idCol: String, textCol: String, n: Int): DataFrame = {
    // the gram stream feeds BOTH the batch count and the dup join back;
    // without a cut the scan + native n-gram hashing + repartition run
    // twice per call (the j22/tfidfTopK reused-subtree precedent). Lazy
    // localCheckpoint: the count side materializes it, the join side
    // reads blocks.
    val base = gramStream(batch, idCol, textCol, n).localCheckpoint(false)
    val bc = base.groupBy(col("gram")).agg(count(lit(1)).as("__bc"))
    val tot = bc.join(
        historyGramCounts.select(col("gram"), col("c").as("__hc")),
        Seq("gram"), "left")
      .filter(col("__bc") + coalesce(col("__hc"), lit(0L)) > 1)
      .select(col("gram"))
    val dup = base.join(tot, Seq("gram"))
      .select(col("id"), col("len"), col("pos"))
    spansFromDupPositions(dup, n)
  }

  /** Apply [[exactSubstringSpans]]: rebuild each doc's text with every
    * corpus-duplicated token span CUT OUT (ExactSubstr dedup's actual
    * transformation — Lee et al. 2022 cut the repeated bytes and train
    * on the remainder). Docs whose text survives entirely keep it
    * verbatim; docs whose every token is duplicated drop out (nothing
    * left to train on — same convention as a keep-filter).
    *
    * Scale shape: the covered-position set comes from
    * [[exactSubstringSpans]]' MERGED spans — disjoint by construction,
    * so exploding them to token indices needs NO distinct and carries
    * ~|spans| source rows instead of the n×-fanned duplicated-gram
    * position stream. (r9 A/B: time-NEUTRAL at sf0.1 — 1.28 vs 1.29 s
    * isolated; the cost lives in the shared gram machinery + the token
    * reassembly, not the covered set. Kept for the structure: one
    * operator owns the span semantics, and the span-side explode is
    * the form whose shuffle stays ~|spans| when corpora get
    * duplication-heavy.) The rebuild explodes
    * tokens once (scan-linear), anti-joins the covered set on the doc
    * key, and reassembles per doc with an order-pinned collect_list —
    * doc-keyed hash operations on ONE key, no per-doc loops, no
    * quadratic anything.
    *
    * Caller-supplied `spans` is the paper's TWO-PHASE production shape
    * (the find phase persists the span table to disk; apply reads it —
    * the l40b QDef persists an mtime-guarded id-bucketed sidecar).
    * SOUNDNESS CONTRACT (the prebuilt-history-bloom rule): the frame
    * must be exactly [[exactSubstringSpans]](df, idCol, textCol, n)
    * for THIS df and n. A stale or subset span table silently leaves
    * duplicated runs in the output — WRONG results, not slow ones;
    * equivalence and the subset divergence are pinned in OperatorsSpec.
    *
    * Output: (id, clean_text, n_kept). */
  def removeDuplicateSpans(
      df: DataFrame, idCol: String, textCol: String, n: Int,
      spans: Option[DataFrame] = None): DataFrame = {
    graft.GraftFunctions.ensureRegistered(df.sparkSession)
    // spans are maximal and disjoint per doc -> their token indices are
    // exactly the covered set, no dedup required
    val covered = spans.getOrElse(exactSubstringSpans(df, idCol, textCol, n))
      .select(col("id"),
        explode(sequence(col("span_start"), col("span_end"))).as("ti"))
    val toks = df.filter(col(textCol).isNotNull)
      .select(col(idCol).as("id"),
        posexplode(split(col(textCol), " ", -1)))
      .select(col("id"), (col("pos") + 1).cast("long").as("ti"),
        col("col").as("tok"))
    toks.join(covered, Seq("id", "ti"), "left_anti")
      .groupBy(col("id"))
      .agg(
        concat_ws(" ", transform(
          array_sort(collect_list(struct(col("ti"), col("tok")))),
          x => x.getField("tok"))).as("clean_text"),
        count(lit(1)).as("n_kept"))
      .select(col("id"), col("clean_text"), col("n_kept"))
  }

  /** Serialized history bloom for [[incrementalDedup]]'s fast path —
    * one aggregation job over the history's distinct text digests.
    * Callers own its lifecycle: build once per history version and
    * reuse across batches.
    *
    * SOUNDNESS CONTRACT: the filter must cover a SUPERSET of the
    * history rows passed to [[incrementalDedup]]. Superset keys only
    * add false positives, which the exact anti-join absorbs; a filter
    * missing history keys (a STALE filter after the history grew — a
    * subset) produces false "definitely novel" verdicts that skip the
    * anti-join entirely — WRONG RESULTS, not slow ones. Version the
    * cache key on something stronger than bare mtime (l13 uses
    * (mtime, file length)); both the superset-equivalence and the
    * subset divergence are pinned in OperatorsSpec
    * ("prebuilt history bloom"). */
  def historyBloom(
      history: DataFrame,
      textCol: String,
      expectedHistoryItems: Long = 1L << 16,
      fpp: Double = 0.02): Array[Byte] =
    BloomJoin.serialize(BloomJoin.buildFilter(
      history.select(
        xxhash64(sha2(coalesce(col(textCol), lit("")), 256)).as("k"))
        .distinct(),
      "k", expectedHistoryItems, fpp))

  /** 64-bit SimHash over distinct word tokens: bit j is set iff the sum
    * of ±1 contributions (sign of the j-seeded token hash) is positive.
    * (Per-bit independent hashes rather than bit-slicing one hash — the
    * Column API has no variable-shift, and independent hashes are the
    * statistically cleaner variant anyway.) Per-bit signs from
    * PRE-HASHED tokens (longs): callers must materialize the hash array
    * as its own column first — a Column subexpression referenced inside
    * the 64-iteration lambda would be re-evaluated per bit (HOF lambdas
    * don't CSE). */
  def simHashBitsFromHashes(tokHashes: Column): Column =
    transform(sequence(lit(0), lit(63)), j =>
      when(aggregate(tokHashes, lit(0L), (acc, x) =>
        acc + when(xxhash64(x, j) > 0, 1L).otherwise(-1L)
      ) > 0, 1L).otherwise(0L))

  private val pow2: Array[Long] = Array.tabulate(64)(j => 1L << j)

  /** Fold SimHash bits into a single signed 64-bit fingerprint
    * (bit-weights via a literal power-of-two table + bitwise OR — no
    * overflow, ANSI-safe). */
  private def foldBits(bits: Column): Column =
    aggregate(zip_with(bits, typedlit(pow2), (b, p) => b * p),
      lit(0L), (acc, x) => acc.bitwiseOR(x))

  def simHash(df: DataFrame, idCol: String, textCol: String): DataFrame =
    // r13: graft_barrier instead of the repartition-as-barrier — token
    // hashes still computed once (not 64× per row via CollapseProject
    // re-inline into the per-bit lambdas), with zero shuffle.
    // r14: the 64-bit folding HOFs are the suite's heaviest per-row
    // text kernel and were row-group-serialized at sf10 (l1e 5.7 s
    // with the old spread → 15.3 s fence-only, isolated min-of-2);
    // Spread restores width there, no-op at sf0.1 / cluster scale.
    Spread.ifNarrow(df, col(idCol)).select(col(idCol),
        graft.GraftFunctions.barrier(df.sparkSession,
          transform(array_distinct(split(col(textCol), " ")), t => xxhash64(t))).as("__th"))
      .select(col(idCol), foldBits(simHashBitsFromHashes(col("__th"))).as("simhash"))

  /** Hamming distance between two SimHash fingerprints. */
  def hamming(f1: Column, f2: Column): Column = bit_count(f1.bitwiseXOR(f2))

  /** SimHash near-dup candidate pairs via 16-bit chunk bucketing: split
    * the 64-bit fingerprint into 4 chunks and bucket-join on (chunk
    * index, chunk value) — by pigeonhole, any pair within Hamming
    * distance ≤ 3 agrees on at least one whole chunk, so recall is
    * EXACT for maxHamming ≤ 3 while each row is only compared within
    * its 4 buckets (same banded shape as MinHash-LSH: one keyed
    * shuffle, no all-pairs). Output: (d1, d2, hamming) filtered to
    * `maxHamming`. */
  def simHashPairs(
      df: DataFrame,
      idCol: String,
      textCol: String,
      maxHamming: Int = 3): DataFrame = {
    require(maxHamming <= 3, "4-chunk bucketing only guarantees recall for hamming <= 3")
    // NULL text → all-zero fingerprint; every null-text pair would
    // report hamming 0 ("exact dup") — they can't be near anything
    val fp = simHash(df.filter(col(textCol).isNotNull), idCol, textCol)
    val chunked = fp.select(col(idCol).as("id"), col("simhash"),
      posexplode(array((0 until 4).map(c =>
        shiftright(col("simhash"), c * 16).bitwiseAND(lit(0xFFFFL))): _*)))
      .withColumnRenamed("pos", "chunk").withColumnRenamed("col", "chunk_val")
    val a = chunked.select(col("id").as("d1"), col("simhash").as("f1"),
      col("chunk"), col("chunk_val"))
    val b = chunked.select(col("id").as("d2"), col("simhash").as("f2"),
      col("chunk"), col("chunk_val"))
    a.join(b, Seq("chunk", "chunk_val")).filter(col("d1") < col("d2"))
      .select(col("d1"), col("d2"), hamming(col("f1"), col("f2")).as("hamming"))
      .filter(col("hamming") <= maxHamming)
      .distinct()
  }

  /** Star-round cap of [[componentsByKey]]: O(log² n) rounds put real
    * graphs far below it. */
  private val maxStarRounds = 50

  /** Connected components over a bipartite (node, key) incidence list:
    * nodes sharing any key are connected. Keys can be LSH buckets,
    * content digests, shared n-grams, blocking keys — anything that
    * co-locates rows; the GraphFrames-free dup-family closure.
    *
    * Algorithm: the incidence list first collapses to a per-key STAR
    * (every member → the key's min id — linear, never the O(Σdf²)
    * pairwise edge set), then alternating large-star / small-star
    * rounds (Kiveris et al., "Connected Components in MapReduce and
    * Beyond", SoCC'14 — public algorithm) contract the doc graph to
    * one star per component rooted at the component min. Star rounds
    * converge in O(log² n) INDEPENDENT of id placement along dup
    * chains — plain min-label propagation degrades to Ω(eccentricity)
    * rounds on chained dup families because knowledge of the true min
    * spreads one hop per round (measured: 16 rounds vs 6 on the l25
    * 4-gram graph). Every graft component query (l25's n-gram families,
    * l1g's LSH clusters) runs through this one implementation.
    * A graph that has not converged after [[maxStarRounds]] rounds
    * throws rather than return split families.
    *
    * Output: (id, label) — label = min node id of the component. */
  def componentsByKey(
      df: DataFrame,
      idCol: String,
      keyCol: String,
      localFinishEdges: Long = 1L << 18): DataFrame = {
    val spark = df.sparkSession
    val inc = df.select(col(idCol).as("id"), col(keyCol).as("bucket"))
      .localCheckpoint(true)
    val kmin = inc.groupBy(col("bucket")).agg(min(col("id")).as("m"))
    // lazy: the initial `prev` checksum below is the materializing action
    var edges = inc.join(kmin, "bucket").filter(col("id") =!= col("m"))
      .select(col("id").as("u"), col("m").as("v"))
      .distinct().localCheckpoint(false)
    // symmetric neighbor view + per-node min m(u) = min(N(u) ∪ {u}).
    // Exchange-lean form (A/B-measured −11% vs letting each consumer
    // plan its own exchange): ONE explicit repartition on u that both
    // the groupBy and the join ride (ClusteredDistribution(u) is
    // satisfied by HashPartitioning(u) — the subset-clustering rule).
    def withMins(e: DataFrame): DataFrame = {
      val s = e.union(e.select(col("v").as("u"), col("u").as("v")))
        .repartition(col("u"))
      s.join(
        s.groupBy(col("u")).agg(min(col("v")).as("nmin"))
          .select(col("u"), least(col("u"), col("nmin")).as("m")),
        "u")
    }
    // large-star: every neighbor w > u links to m(u); small-star: every
    // neighbor w ≤ u (and u itself) links to m(u). Alternation strictly
    // preserves connectivity and contracts to per-component min stars.
    def largeStar(e: DataFrame): DataFrame =
      withMins(e).filter(col("v") > col("u"))
        .select(col("v").as("u"), col("m").as("v"))
        .filter(col("u") =!= col("v")).distinct()
    def smallStar(e: DataFrame): DataFrame = {
      val wm = withMins(e)
      wm.filter(col("v") <= col("u"))
        .select(col("v").as("u"), col("m").as("v"))
        // the inner distinct looks redundant under the outer one, but
        // removing it is a measured LOSS (l25 2.47 s → 3.10 s): the
        // (u,m) branch is per-edge and heavily duplicated, and
        // pre-shrinking it is worth the extra exchange
        .union(wm.select(col("u"), col("m").as("v")).distinct())
        .filter(col("u") =!= col("v")).distinct()
    }
    // convergence: the edge multiset is stable — checked with one
    // order-independent aggregate (count + Σhash), not a self-join
    def checksum(e: DataFrame): (Long, java.math.BigDecimal) = {
      val r = e.agg(count(lit(1)),
        // split-sum: xxhash64 is full-range 64-bit, decimal(38,0)
        // accumulation would pay a BigDecimal per edge per round
        graft.queries.QShared.splitSum(xxhash64(col("u"), col("v")), Seq(21, 42))).head()
      (r.getLong(0), if (r.isNullAt(1)) java.math.BigDecimal.ZERO else r.getDecimal(1))
    }
    // ---- size-gated driver-local finish ----
    // Star contraction shrinks the edge set geometrically, but every
    // remaining round still pays full job-barrier + exchange floors over
    // ever-tinier data — the measured per-round cost becomes ~all
    // scheduling. Once the CONTRACTED edge set fits a bounded driver
    // budget (`localFinishEdges` rows — known from the convergence
    // probe's count, no extra job), collect it and finish with a local
    // union-find: same labels (components + per-component min are
    // preserved exactly by star rounds), zero further barriers. This is
    // the standard production CC endgame (a local fallback below a size
    // threshold), and it is exactly what a 1000-executor run wants too:
    // the tail rounds of an O(log² n) contraction are scheduling-bound
    // there as well. Driver memory is bounded by construction, with the
    // HONEST row cost: each collected edge is a GenericRow holding two
    // boxed endpoints (~100 B for long ids, more for strings), so the
    // 2^18 default budgets ~26 MB of Rows plus the union-find maps —
    // safe on a default 1g driver heap. (The earlier 2^20 default
    // under-counted at "~16 MB"; it was really 100–200 MB.) Raising the
    // threshold trades driver heap for fewer tail rounds. Spark-min
    // order is matched per type (UTF-8 bytes for strings —
    // String.compareTo disagrees on supplementary chars).
    def cmpIds(a: Any, b: Any): Int = (a, b) match {
      case (x: String, y: String) =>
        val xb = x.getBytes(java.nio.charset.StandardCharsets.UTF_8)
        val yb = y.getBytes(java.nio.charset.StandardCharsets.UTF_8)
        var i = 0
        val n = math.min(xb.length, yb.length)
        while (i < n) {
          val d = (xb(i) & 0xff) - (yb(i) & 0xff)
          if (d != 0) return d
          i += 1
        }
        xb.length - yb.length
      case (x: java.math.BigDecimal, y: java.math.BigDecimal) => x.compareTo(y)
      case (x: java.lang.Double, y: java.lang.Number) =>
        java.lang.Double.compare(x, y.doubleValue)
      case (x: java.lang.Number, y: java.lang.Double) =>
        java.lang.Double.compare(x.doubleValue, y)
      case (x: java.lang.Number, y: java.lang.Number) =>
        java.lang.Long.compare(x.longValue, y.longValue)
      case (x: Comparable[_], y) => x.asInstanceOf[Comparable[Any]].compareTo(y)
    }
    def localFinish(e: DataFrame): DataFrame = {
      import scala.collection.mutable
      val collected = e.collect()
      val parent = mutable.HashMap.empty[Any, Any]
      def find(x: Any): Any = {
        var root = x
        while (parent.getOrElse(root, root) != root) root = parent(root)
        var cur = x // path compression
        while (parent.getOrElse(cur, cur) != cur) {
          val nxt = parent(cur); parent(cur) = root; cur = nxt
        }
        root
      }
      collected.foreach { r =>
        val ra = find(r.get(0)); val rb = find(r.get(1))
        if (ra != rb) parent(ra) = rb
      }
      val minOf = mutable.HashMap.empty[Any, Any]
      collected.foreach { r =>
        Seq(r.get(0), r.get(1)).foreach { n =>
          val root = find(n)
          val cur = minOf.get(root)
          if (cur.isEmpty || cmpIds(n, cur.get) < 0) minOf(root) = n
        }
      }
      val outRows = new java.util.ArrayList[org.apache.spark.sql.Row]()
      val seen = mutable.HashSet.empty[Any]
      collected.foreach { r =>
        Seq(r.get(0), r.get(1)).foreach { n =>
          if (seen.add(n)) {
            val m = minOf(find(n))
            if (m != n)
              outRows.add(org.apache.spark.sql.Row(n, m))
          }
        }
      }
      spark.createDataFrame(outRows, e.schema)
    }
    var prev = checksum(edges)
    var localDone: Option[DataFrame] = None
    if (prev._1 <= localFinishEdges) {
      localDone = Some(localFinish(edges))
      unpersistCheckpoint(edges)
    }
    var converged = false
    var round = 0
    while (localDone.isEmpty && !converged && round < maxStarRounds) {
      round += 1
      // materialize the large-star half: the small-star half's symmetric
      // self-joins would otherwise inline (and re-execute) its plan ~4×
      // LAZY checkpoint for the small-star result: the convergence
      // checksum right below is the materializing action, so each round
      // runs TWO jobs (large-star + small-star⊕checksum) instead of
      // three — the checkpoint blocks are written as a side effect of
      // the checksum scan, and the next round's large-star reads them.
      // (ls stays EAGER: it is read by several sibling shuffle stages of
      // the small-star plan, which the scheduler may launch concurrently
      // — a lazily cached ls would be computed once per racing stage.)
      // (A/B-measured: fully fusing large-star into the small-star plan
      // — one job per round, ReuseExchange deduping the shared subtree —
      // timed the same at sf0.1, so the explicit two-job form stays for
      // its predictable memory behavior. Probing every 2nd round was
      // also measured and LOSES — it buys nothing but extra rounds of
      // work past the fixpoint.)
      val ls = largeStar(edges).localCheckpoint(true)
      val next = smallStar(ls).localCheckpoint(false)
      val sum = checksum(next)
      unpersistCheckpoint(ls)
      converged = sum == prev
      prev = sum
      unpersistCheckpoint(edges)
      edges = next
      if (!converged && sum._1 <= localFinishEdges) {
        localDone = Some(localFinish(edges))
        unpersistCheckpoint(edges)
      }
    }
    // split families would be a wrong result, not a slow one
    if (localDone.isEmpty && !converged)
      throw new IllegalStateException(
        s"componentsByKey: no star fixpoint after $maxStarRounds rounds")
    // at the fixpoint every edge is (child, componentMin); nodes absent
    // from the edge set are singletons labeled by themselves. inc stays
    // persisted — the returned plan still reads it (freed by the
    // ContextCleaner once the result's RDD is collected or dropped).
    val fin = localDone.getOrElse(edges)
    inc.select(col("id")).distinct()
      .join(fin.select(col("u").as("id"), col("v").as("label")), Seq("id"), "left")
      .select(col("id"), coalesce(col("label"), col("id")).as("label"))
  }

  /** Exact all-pairs Jaccard join with AllPairs/PPJoin prefix filtering
    * (Bayardo et al., WWW'07; Xiao et al., WWW'08 — public algorithms).
    * Returns EXACTLY the pairs a full quadratic Jaccard join at the same
    * threshold would (filtering is lossless), but candidate generation
    * touches only each document's PREFIX tokens under a global
    * (document-frequency asc, token asc) canonical order.
    *
    * Why it's lossless: J(x,y) ≥ θ forces |x∩y| ≥ ⌈θ·|x|⌉; if the
    * smallest common token (in canonical order) sat outside x's first
    * |x| − ⌈θ|x|⌉ + 1 tokens, all common tokens would have to fit in
    * the remaining ⌈θ|x|⌉ − 1 suffix slots — contradiction. The same
    * argument on y puts that token in BOTH prefixes, so the prefix
    * equi-join cannot miss a qualifying pair.
    *
    * Why it scales where [[jaccardPairs]] degrades: the inverted-index
    * join explodes on EVERY shared token — a token appearing in k docs
    * contributes k² candidate rows, so common vocabulary dominates the
    * shuffle. Canonical ordering puts the RAREST tokens in prefixes, so
    * the candidate join's fan-out is driven by df of rare tokens (≈1–2),
    * not the vocabulary head; the exact verification join then runs only
    * on the surviving candidate pairs against collected token sets.
    * Cost: one token-keyed df aggregation, one doc-keyed ranking window,
    * a prefix-only self-join, and a candidate-sized verify join — each
    * a standard keyed exchange with no driver-side state.
    *
    * Output: (d1, d2, n_inter, jpm) with d1 < d2 and
    * jpm = ⌊1000·J⌋ ≥ minJpm — the [[jaccardPairs]] output contract. */
  def prefixFilteredJaccardPairs(
      df: DataFrame,
      idCol: String,
      textCol: String,
      minJpm: Int = 500): DataFrame = {
    require(minJpm >= 1 && minJpm <= 1000, s"minJpm must be in [1,1000]: $minJpm")
    // hashed token keys: the canonical (df asc, tok asc) prefix order
    // becomes (df asc, hash asc) — ANY consistent global total order
    // preserves the prefix-filter losslessness theorem, and the exact
    // verify stage compares the same hashed sets on both sides (the
    // l23 oracle is the full quadratic STRING-token join, so the gate
    // certifies end-to-end equality)
    val toks = hashedTokens(df, idCol, textCol)
    val cand = ppjoinCandidates(toks, minJpm)
    val sets = toks.groupBy(col("doc_id"))
      .agg(sort_array(collect_list(col("tok"))).as("tokset"),
        count(lit(1)).as("n_tok"))
    cand
      .join(sets.select(col("doc_id").as("d1"), col("tokset").as("t1"),
        col("n_tok").as("n1")), "d1")
      .join(sets.select(col("doc_id").as("d2"), col("tokset").as("t2"),
        col("n_tok").as("n2")), "d2")
      .withColumn("n_inter", size(array_intersect(col("t1"), col("t2"))))
      .withColumn("jpm", expr("(n_inter * 1000) div (n1 + n2 - n_inter)"))
      .filter(col("jpm") >= minJpm)
      .select(col("d1"), col("d2"), col("n_inter"), col("jpm"))
  }

  /** Candidate (d1, d2) pairs sharing a canonical-prefix token — the
    * prefix-filter stage of [[prefixFilteredJaccardPairs]], exposed so
    * the spec can assert the shrink vs the full inverted index. Input
    * must be distinct (doc_id, tok) rows. */
  private[graft] def ppjoinCandidates(toks: DataFrame, minJpm: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val dfreq = toks.groupBy(col("tok")).agg(count(lit(1)).as("df"))
    // rank each doc's tokens by the GLOBAL canonical order; both the
    // rank and the doc's token count come off one doc-keyed exchange
    val byCanon = Window.partitionBy(col("doc_id"))
      .orderBy(col("df").asc, col("tok").asc)
    val ranked = toks.join(dfreq, "tok")
      .select(col("doc_id"), col("tok"),
        row_number().over(byCanon).as("rn"),
        count(lit(1)).over(Window.partitionBy(col("doc_id"))).as("n_tok"))
    // prefix length p = n − ⌈θn⌉ + 1, θ = minJpm/1000 in exact integer
    // arithmetic: ⌈minJpm·n/1000⌉ = (minJpm·n + 999) div 1000
    val prefix = ranked.filter(
      col("rn") <= expr(s"n_tok - (($minJpm * n_tok + 999) div 1000) + 1"))
    prefix.select(col("doc_id").as("d1"), col("tok"))
      .join(prefix.select(col("doc_id").as("d2"), col("tok")), Seq("tok"))
      .filter(col("d1") < col("d2"))
      .select(col("d1"), col("d2")).distinct()
  }

  /** Blocked edit-distance (Levenshtein) near-dup pairs — the
    * record-linkage classic, shaped for scale:
    *
    *   1. BLOCK: rows join only within (text prefix, length band)
    *     blocks. Levenshtein is O(len²) per pair, so an unblocked
    *     self-join is doubly quadratic (pairs × cell grid) — the block
    *     key turns Σn² over blocks into the cost, exactly the inverted-
    *     index argument from [[jaccardPairs]]. The declared semantic is
    *     therefore "near-dups that agree on the first `prefixLen` chars
    *     and land in the same `lenBand`-char length band" — edits inside
    *     the prefix or across a band boundary are out of contract (use
    *     [[minHashLshPairs]] when edits can fall anywhere).
    *   2. BOUND: distance is computed over the first `sigLen` chars
    *     only, capping the DP grid at sigLen² regardless of document
    *     length (full-text Levenshtein on book-sized rows is never
    *     viable at corpus scale, and near-dup signal concentrates in
    *     the head).
    *   3. THRESHOLD: Spark's banded `levenshtein(l, r, k)` stops the DP
    *     early once distance provably exceeds `maxDist` (returns -1),
    *     so hopeless pairs cost O(k·sigLen), not O(sigLen²).
    *
    * Output: (d1, d2, dist) with d1 < d2 and dist ≤ maxDist. Exactly
    * mirrored by portable SQL (`levenshtein` + the same block key), so
    * the l14 oracle hash-verifies this operator. */
  def editDistancePairs(
      df: DataFrame,
      idCol: String,
      textCol: String,
      prefixLen: Int = 8,
      lenBand: Int = 16,
      sigLen: Int = 64,
      maxDist: Int = 16): DataFrame = {
    val blocked = df.filter(col(textCol).isNotNull)
      .select(col(idCol).as("id"),
        substring(col(textCol), 1, prefixLen).as("blk_prefix"),
        expr(s"length(`$textCol`) div $lenBand").as("blk_len"),
        substring(col(textCol), 1, sigLen).as("sig"))
    val a = blocked.select(col("id").as("d1"), col("blk_prefix"),
      col("blk_len"), col("sig").as("sig1"))
    val b = blocked.select(col("id").as("d2"), col("blk_prefix"),
      col("blk_len"), col("sig").as("sig2"))
    a.join(b, Seq("blk_prefix", "blk_len")).filter(col("d1") < col("d2"))
      .select(col("d1"), col("d2"),
        levenshtein(col("sig1"), col("sig2"), maxDist).as("dist"))
      .filter(col("dist") =!= -1)
  }
}
