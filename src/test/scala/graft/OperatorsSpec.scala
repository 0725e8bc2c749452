package graft

import org.apache.spark.sql.functions._
import graft.operators.{AsOfJoin, Dedup, Multimodal, Similarity, TextAnalysis}

class AsOfJoinSpec extends SparkSpec {
  import spark.implicits._

  private def left = Seq((1L, 100L, "l1"), (1L, 200L, "l2"), (2L, 150L, "l3"))
    .toDF("k", "ts", "tag")
  private def right = Seq((1L, 100L, 10.0), (1L, 180L, 18.0), (2L, 160L, 16.0))
    .toDF("k", "ts", "v")

  test("asOf picks latest right at-or-before each left ts") {
    val out = AsOfJoin.asOf(left, right, "k", "ts", Seq("v"), tieCols = Seq("tag"))
      .orderBy($"k", $"ts").collect()
    // (1,100) matches right(1,100) since allowEqual; (1,200) → right(1,180)
    assert(out.map(r => (r.getAs[Long]("k"), r.getAs[Long]("ts"), r.getAs[Any]("r_v"))).toSeq ==
      Seq((1L, 100L, 10.0), (1L, 200L, 18.0), (2L, 150L, null)))
  }

  test("asOf strict (<) excludes same-instant rights") {
    val out = AsOfJoin.asOf(left, right, "k", "ts", Seq("v"), allowEqual = false)
      .orderBy($"k", $"ts").collect()
    assert(out.head.getAs[Any]("r_v") == null) // (1,100) no longer matches
  }

  test("asOf payload is atomic: NULL fields come from the matched row, not older rows") {
    // right rows: (ts=10, sid=A, v=7.0) then (ts=20, sid=B, v=NULL) —
    // a left row at ts=30 must see (B, NULL), never a stitched (B, 7.0)
    val l = Seq((1L, 30L)).toDF("k", "ts")
    val r = Seq((1L, 10L, "A", Some(7.0)), (1L, 20L, "B", None))
      .toDF("k", "ts", "sid", "v")
    val out = AsOfJoin.asOf(l, r, "k", "ts", Seq("sid", "v")).collect()
    assert(out.length == 1)
    assert(out.head.getAs[String]("r_sid") == "B")
    assert(out.head.getAs[Any]("r_v") == null, "NULL must come from row B")
  }

  test("asOf ignores right rows with NULL ts (never matches, like SQL <=)") {
    val l = Seq((1L, 30L)).toDF("k", "ts")
    val r = Seq((1L, Option.empty[Long], 9.0)).toDF("k", "ts", "v")
    val out = AsOfJoin.asOf(l, r, "k", "ts", Seq("v")).collect()
    assert(out.head.getAs[Any]("r_v") == null)
  }
}

class ReconcileSpec extends SparkSpec {
  import spark.implicits._
  import graft.operators.Reconcile

  test("snapshotDiff classifies added/deleted/changed and names the changed columns") {
    val oldSnap = Seq(
      (1L, "A", 10.0), (2L, "B", 20.0), (3L, "C", 30.0), (4L, "D", 40.0)
    ).toDF("k", "status", "price")
    val newSnap = Seq(
      (1L, "A", 10.0),   // unchanged -> dropped
      (2L, "B", 99.0),   // price changed
      (3L, "X", 31.0),   // both changed
      (5L, "E", 50.0)    // added; 4 deleted
    ).toDF("k", "status", "price")
    val out = Reconcile.snapshotDiff(oldSnap, newSnap, Seq("k"), Seq("status", "price"))
      .collect().map(r => r.getLong(0) -> ((r.getString(1), r.getString(2)))).toMap
    assert(out == Map(
      2L -> (("changed", "price")),
      3L -> (("changed", "status,price")),
      4L -> (("deleted", null)),
      5L -> (("added", null))))
  }

  test("snapshotDiff null-safe compare: null==null is unchanged, null vs value is changed") {
    val oldSnap = Seq((1L, Option.empty[String]), (2L, Some("x")))
      .toDF("k", "v")
    val newSnap = Seq((1L, Option.empty[String]), (2L, Option.empty[String]))
      .toDF("k", "v")
    val out = Reconcile.snapshotDiff(oldSnap, newSnap, Seq("k"), Seq("v"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(out == Map(2L -> "changed"), "null<=>null must not report a change")
  }
}

/** Exact token-set Jaccard for a pair of texts: the witness LSH
  * candidates are checked against, not a production path. */
object ExactJaccard {
  def jaccard(t1: org.apache.spark.sql.Column, t2: org.apache.spark.sql.Column): org.apache.spark.sql.Column = {
    val s1 = array_distinct(split(t1, " "))
    val s2 = array_distinct(split(t2, " "))
    val inter = size(array_intersect(s1, s2)).cast("double")
    inter / (size(s1) + size(s2) - size(array_intersect(s1, s2))).cast("double")
  }
}

class DedupSpec extends SparkSpec {
  import spark.implicits._

  private val docs = Seq(
    (1L, "the quick brown fox jumps over the lazy dog again and again"),
    (2L, "the quick brown fox jumps over the lazy cat again and again"), // near-dup of 1
    (3L, "completely different content about spark query engines at scale"),
    (4L, "the quick brown fox jumps over the lazy dog again and again")  // exact dup of 1
  ).toDF("doc_id", "text")

  test("source MinHash overlap tracks the exact cross-source Jaccard (±300pm at 64 perms)") {
    val corpus = spark.read.parquet(sf("documents"))
    val exact = graft.operators.Dedup
      .crossSourceOverlap(corpus, "source", "text", n = 4)
      .collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getLong(5)).toMap
    val est = graft.operators.Dedup
      .sourceMinHashOverlap(corpus, "source", "text", n = 4)
      .collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getLong(3)).toMap
    assert(est.nonEmpty)
    // the sketch covers ALL pairs; pairs absent from the exact matrix
    // share zero grams, so their exact Jaccard is 0
    val errs = est.map { case (pair, e) =>
      math.abs(e - exact.getOrElse(pair, 0L))
    }
    // 64 perms: σ = sqrt(J(1−J)/64) ≤ 62.5pm; 300pm ≈ 4.8σ headroom
    assert(errs.max <= 300, s"worst estimate error ${errs.max}pm")
    // and the deterministic hash seeds make the estimate reproducible
    val est2 = graft.operators.Dedup
      .sourceMinHashOverlap(corpus, "source", "text", n = 4)
      .collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getLong(3)).toMap
    assert(est2 == est)
  }

  test("winnowing: shared >= k+w-1 token run yields a shared fingerprint; short docs survive") {
    // doc 10 and 11 share a 12-token run (>= k+w-1 = 7): at least one
    // winnowed fingerprint must be common. doc 12 is unrelated. doc 13
    // is shorter than w grams and must still emit its partial window.
    val d = Seq(
      (10L, "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda mu UNIQUE1 TAIL1"),
      (11L, "HEAD2 alpha beta gamma delta epsilon zeta eta theta iota kappa lambda mu OTHER2"),
      (12L, "one two three four five six seven eight nine ten eleven twelve"),
      (13L, "tiny doc here")
    ).toDF("doc_id", "text")
    // fingerprint SETS per doc (the operator returns per-doc stats; the
    // set itself comes from re-running the window internals)
    val fps = {
      import org.apache.spark.sql.expressions.Window
      val grams = d
        .select(col("doc_id"), split(col("text"), " ").as("t"))
        .select(col("doc_id"), posexplode(
          expr("transform(sequence(0, greatest(size(t) - 4, 0)), i -> concat_ws(' ', slice(t, i + 1, 4)))")))
        .select(col("doc_id"), col("pos"),
          substring(sha2(col("col"), 256), 1, 16).as("fp"))
      val win = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
        .rowsBetween(Window.currentRow, 3)
      val cnt = Window.partitionBy(col("doc_id"))
      grams.withColumn("wmin", min(col("fp")).over(win))
        .withColumn("n", count(lit(1)).over(cnt))
        .filter(col("pos") <= greatest(col("n") - 4, lit(0)))
        .select(col("doc_id"), col("wmin")).distinct()
        .collect().groupBy(_.getLong(0)).view.mapValues(_.map(_.getString(1)).toSet).toMap
    }
    assert((fps(10L) & fps(11L)).nonEmpty, "shared run must share a fingerprint")
    assert((fps(10L) & fps(12L)).isEmpty, "unrelated docs must not share")
    assert(fps(13L).size == 1, "short doc keeps exactly its one partial window")
    // operator stats agree with the density guarantee: kept set is a
    // small fraction of windows for the long docs
    val stats = Dedup.winnowedFingerprints(d, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(stats(10L)._2 <= stats(10L)._1 && stats(10L)._2 == fps(10L).size)
    assert(stats(13L) == ((1L, 1L)))
  }

  test("minhash LSH finds near and exact dup pairs, not unrelated ones") {
    val pairs = Dedup.minHashLshPairs(docs, "doc_id", "text", numHashes = 64, bands = 32)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((1L, 4L)), "exact dup must collide in all bands")
    assert(pairs.contains((1L, 2L)) || pairs.contains((2L, 4L)),
      "near dup should collide in some band")
    assert(!pairs.contains((1L, 3L)) && !pairs.contains((2L, 3L)) && !pairs.contains((3L, 4L)),
      "unrelated doc must not pair")
  }

  test("minhash LSH clustering groups near/exact dups under one representative") {
    val cl = Dedup.minHashLshClusters(docs, "doc_id", "text", numHashes = 64, bands = 32)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(cl.keySet == Set(1L, 2L, 3L, 4L))
    assert(cl(1L) == 1L && cl(4L) == 1L, "exact dups share min-id representative")
    assert(cl(2L) == 1L, "near-dup joins the cluster through a shared band")
    assert(cl(3L) == 3L, "unrelated doc stays its own cluster")
  }

  test("native graft_minhash signature is bit-identical to the HOF composition") {
    val real = spark.read.parquet(sf("documents"))
    val both = real.select(
      Dedup.minHashSignatureFromHashes(
        Dedup.shingleHashes(col("text")), 64).as("hof"),
      graft.GraftFunctions.minhashNative(spark,
        Dedup.shingleHashes(col("text")), 64).as("native"))
    assert(both.filter(col("hof") =!= col("native")).count() == 0)
    // candidate pairs must also be identical end-to-end: the operator
    // against the same banding pipeline built on the HOF compositions
    val (numHashes, bands) = (64, 16) // the operator's defaults
    val rows = numHashes / bands
    val banded = docs.filter(col("text").isNotNull)
      .select(col("doc_id").as("id"), Dedup.minHashSignatureFromHashes(
        Dedup.shingleHashes(col("text")), numHashes).as("sig"))
      .select(col("id"), posexplode(transform(sequence(lit(0), lit(bands - 1)), b =>
        xxhash64(slice(col("sig"), b * rows + 1, lit(rows)), lit(42)))))
    val hofPairs = banded.select(col("id").as("d1"), col("pos"), col("col"))
      .join(banded.select(col("id").as("d2"), col("pos"), col("col")), Seq("pos", "col"))
      .filter(col("d1") < col("d2"))
      .groupBy(col("d1"), col("d2")).agg(count(lit(1)).as("n_bands"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val natPairs = Dedup.minHashLshPairs(docs, "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(hofPairs.nonEmpty && hofPairs == natPairs)
  }

  test("native graft_shingle_hashes is bit-identical to the HOF composition") {
    import spark.implicits._
    val real = spark.read.parquet(sf("documents")).select(col("text"))
    val nasty = Seq(
      "", " ", "  ", "a", "a b", "a b c", "a  b c", " a b c ",
      "a b c d e", "同 じ 字 同 じ 字", "🙂 🙃 🙂 🙃", "x\ty z w",
      ("tok " * 200).trim, "dup dup dup dup"
    ).toDF("text")
    for (df <- Seq(real, nasty)) {
      val both = df.filter(col("text").isNotNull).select(
        Dedup.shingleHashes(col("text")).as("hof"),
        graft.GraftFunctions.shingleHashesNative(spark, col("text")).as("native"))
      assert(both.filter(col("hof") =!= col("native")).count() == 0,
        both.filter(col("hof") =!= col("native"))
          .select(col("hof"), col("native")).head(3).mkString("\n"))
    }
    // NULL text: native yields NULL (callers filter nulls first)
    val n = Seq[Option[String]](None).toDF("text")
      .select(graft.GraftFunctions.shingleHashesNative(spark, col("text")).as("s"))
      .head()
    assert(n.isNullAt(0))
    // interpreted == codegen'd (same static helper by construction, but
    // pin the wiring)
    spark.conf.set("spark.sql.codegen.factoryMode", "NO_CODEGEN")
    try {
      val both = nasty.select(
        Dedup.shingleHashes(col("text")).as("hof"),
        graft.GraftFunctions.shingleHashesNative(spark, col("text")).as("native"))
      assert(both.filter(col("hof") =!= col("native")).count() == 0)
    } finally spark.conf.unset("spark.sql.codegen.factoryMode")
  }

  test("graft_ngram_hashes is equivalent to the old string-gram composition") {
    import spark.implicits._
    // reconstruct the pre-r8 string-gram path (clamped slices of the
    // raw token array, distinct): concat_ws(" ", tokens) is INVERTIBLE
    // on space-free tokens (split recovers the sequence exactly), so
    // "hash↔string gram is functional both ways" IS gram-structure
    // equivalence, not just a size check
    def stringGrams(n: Int) = {
      val toks = split(col("text"), " ", -1)
      array_distinct(transform(
        sequence(lit(1), greatest(size(toks) - lit(n - 1), lit(1))),
        i => concat_ws(" ", slice(toks, i, least(lit(n), size(toks))))))
    }
    val real = spark.read.parquet(sf("documents"))
      .select(col("doc_id"), col("text")).filter(col("text").isNotNull)
    val nasty = Seq(
      (1000L, ""), (1001L, " "), (1002L, "a"), (1003L, "a b"),
      (1004L, "a b c"), (1005L, "a b c d e f"), (1006L, "a  b  c"),
      (1007L, " a b "), (1008L, "dup dup dup dup dup"),
      (1009L, "同 じ 字 同 じ 字"), (1010L, "🙂 🙃 🙂 🙃 🙂")
    ).toDF("doc_id", "text")
    for (df <- Seq(real, nasty); n <- Seq(2, 3, 5)) {
      val zipped = df.select(col("doc_id"),
        posexplode(arrays_zip(
          graft.GraftFunctions.ngramHashesNative(spark, col("text"), n).as("h"),
          stringGrams(n).as("g"))))
        .select(col("doc_id"), col("col.h").as("h"), col("col.g").as("g"))
      // equal per-row length and first-occurrence order (arrays_zip
      // null-pads the shorter side)
      assert(zipped.filter(col("h").isNull || col("g").isNull).count() == 0,
        s"n=$n: native and string gram arrays differ in length/order")
      // functional both ways across every doc: same string gram ⇒ same
      // hash, same hash ⇒ same string gram (zero 64-bit collisions)
      assert(zipped.groupBy(col("g")).agg(countDistinct(col("h")).as("k"))
        .filter(col("k") =!= 1).count() == 0, s"n=$n: one gram, many hashes")
      assert(zipped.groupBy(col("h")).agg(countDistinct(col("g")).as("k"))
        .filter(col("k") =!= 1).count() == 0, s"n=$n: hash collision")
    }
    // NULL text → NULL (callers filter nulls first)
    val nl = Seq[Option[String]](None).toDF("text")
      .select(graft.GraftFunctions.ngramHashesNative(spark, col("text"), 3).as("h"))
      .head()
    assert(nl.isNullAt(0))
    // interpreted == codegen'd (same static helper, pin the wiring)
    spark.conf.set("spark.sql.codegen.factoryMode", "NO_CODEGEN")
    try {
      val z = nasty.select(posexplode(arrays_zip(
        graft.GraftFunctions.ngramHashesNative(spark, col("text"), 3).as("h"),
        stringGrams(3).as("g"))))
        .select(col("col.h").as("h"), col("col.g").as("g"))
      assert(z.filter(col("h").isNull || col("g").isNull).count() == 0)
      assert(z.groupBy(col("g")).agg(countDistinct(col("h")).as("k"))
        .filter(col("k") =!= 1).count() == 0)
    } finally spark.conf.unset("spark.sql.codegen.factoryMode")
  }

  test("graft_ngram_hashes positional variant aligns with non-distinct string grams") {
    import spark.implicits._
    // distinct=false must emit ONE hash per window position, index-
    // aligned with the window start (the exactSubstringSpans contract)
    def posGrams(n: Int) = {
      val toks = split(col("text"), " ", -1)
      transform(
        sequence(lit(1), greatest(size(toks) - lit(n - 1), lit(1))),
        i => concat_ws(" ", slice(toks, i, least(lit(n), size(toks)))))
    }
    val real = spark.read.parquet(sf("documents"))
      .select(col("doc_id"), col("text")).filter(col("text").isNotNull)
    val nasty = Seq(
      (1L, ""), (2L, "a b a b a b"), (3L, "dup dup dup dup dup"),
      (4L, " a b a b "), (5L, "x")).toDF("doc_id", "text")
    for (df <- Seq(real, nasty); n <- Seq(2, 4)) {
      val z = df.select(col("doc_id"), posexplode(arrays_zip(
        graft.GraftFunctions
          .ngramHashesNative(spark, col("text"), n, distinct = false).as("h"),
        posGrams(n).as("g"))))
        .select(col("doc_id"), col("pos"), col("col.h").as("h"), col("col.g").as("g"))
      assert(z.filter(col("h").isNull || col("g").isNull).count() == 0,
        s"n=$n: positional arrays differ in length")
      assert(z.groupBy(col("g")).agg(countDistinct(col("h")).as("k"))
        .filter(col("k") =!= 1).count() == 0, s"n=$n: one gram, many hashes")
      assert(z.groupBy(col("h")).agg(countDistinct(col("g")).as("k"))
        .filter(col("k") =!= 1).count() == 0, s"n=$n: hash collision")
      // and the distinct variant is exactly the first-occurrence
      // subsequence of the positional one
      val dd = df.select(
        graft.GraftFunctions.ngramHashesNative(spark, col("text"), n).as("d"),
        array_distinct(graft.GraftFunctions
          .ngramHashesNative(spark, col("text"), n, distinct = false)).as("pd"))
      assert(dd.filter(col("d") =!= col("pd")).count() == 0,
        s"n=$n: distinct variant != array_distinct(positional)")
    }
  }

  test("exactSubstringSpans finds maximal duplicated runs (hand-checked)") {
    import spark.implicits._
    val docs = Seq(
      (1L, "a b c d e f g h"),            // all grams unique -> no spans
      (2L, "p q r s t u v w"),            // shares "p q r s t u" with doc 3
      (3L, "z0 z1 p q r s t u k"),
      (4L, "m n o p m n o p"),            // in-doc repeat of "m n o p"
      (5L, "aa bb"), (6L, "aa bb"),       // shorter than n: whole-doc gram
      (7L, null.asInstanceOf[String])
    ).toDF("doc_id", "text")
    val got = operators.Dedup.exactSubstringSpans(docs, "doc_id", "text", n = 4)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
      .toSet
    val expected = Set(
      // doc 2: dup grams at pos 1..3 -> span [1, 6], 3 grams
      (2L, 1L, 6L, 6L, 3L),
      // doc 3: same grams at pos 3..5 -> span [3, 8]
      (3L, 3L, 8L, 6L, 3L),
      // doc 4: "m n o p" at pos 1 and 5; gap 4 <= n -> ONE merged span
      // covering the whole doc (touching repeats merge)
      (4L, 1L, 8L, 8L, 2L),
      // docs 5/6 (len 2 < n): one whole-doc gram each, duplicated
      // cross-doc; span end clamps to len
      (5L, 1L, 2L, 2L, 1L), (6L, 1L, 2L, 2L, 1L))
    assert(got == expected, s"got $got")

    // and APPLYING the spans cuts exactly those tokens: untouched docs
    // pass through verbatim, fully-covered docs drop
    val cleaned = operators.Dedup.removeDuplicateSpans(docs, "doc_id", "text", n = 4)
      .collect().map(r => r.getLong(0) -> (r.getString(1), r.getLong(2))).toMap
    assert(cleaned == Map(
      1L -> ("a b c d e f g h", 8L), // nothing duplicated
      2L -> ("v w", 2L),             // span [1,6] cut
      3L -> ("z0 z1 k", 3L)          // span [3,8] cut
      // 4, 5, 6 fully covered -> dropped; 7 null text -> filtered
    ), s"got $cleaned")
  }

  test("removeDuplicateSpans: caller-supplied span table equals the live " +
      "path; a stale SUBSET sidecar silently diverges (the soundness contract)") {
    import spark.implicits._
    val docs = Seq(
      (1L, "a b c d e f g h"),
      (2L, "p q r s t u v w"),
      (3L, "z0 z1 p q r s t u k"),
      (4L, "m n o p m n o p"),
      (5L, "aa bb"), (6L, "aa bb"),
      (7L, null.asInstanceOf[String])
    ).toDF("doc_id", "text")
    def asMap(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => r.getLong(0) -> (r.getString(1), r.getLong(2))).toMap
    val spans = operators.Dedup.exactSubstringSpans(docs, "doc_id", "text", n = 4)
    val live = asMap(operators.Dedup.removeDuplicateSpans(docs, "doc_id", "text", n = 4))
    val pre = asMap(operators.Dedup.removeDuplicateSpans(
      docs, "doc_id", "text", n = 4, spans = Some(spans)))
    assert(pre == live, s"precomputed spans must reproduce the live path: $pre vs $live")
    // the divergence the contract warns about: doc 2's span missing
    // (a sidecar from before doc 3 arrived) leaves its duplicated run IN
    val stale = spans.filter(col("id") =!= 2L)
    val wrong = asMap(operators.Dedup.removeDuplicateSpans(
      docs, "doc_id", "text", n = 4, spans = Some(stale)))
    assert(live(2L)._1 == "v w" && wrong(2L)._1 == "p q r s t u v w",
      s"a subset sidecar must (wrongly) pass doc 2 through: $wrong")
  }

  test("exactSubstringSpans == naive collection reference on random corpora") {
    import spark.implicits._
    // plain-Scala reference: same declared semantics, zero shared code
    // with the operator (no kernel, no exchanges, no windows)
    def reference(docs: Seq[(Long, String)], n: Int): Set[(Long, Long, Long, Long, Long)] = {
      val toks = docs.map { case (id, t) => id -> t.split(" ", -1).toSeq }
      def grams(ts: Seq[String]): Seq[(Int, Seq[String])] =
        if (ts.size < n) Seq(1 -> ts)
        else (1 to ts.size - n + 1).map(i => i -> ts.slice(i - 1, i - 1 + n))
      val counts = toks.flatMap { case (_, ts) => grams(ts).map(_._2) }
        .groupBy(identity).map { case (g, o) => g -> o.size }
      toks.flatMap { case (id, ts) =>
        val dupPos = grams(ts).collect { case (p, g) if counts(g) > 1 => p }
        // merge positions whose gap <= n into runs
        val runs = dupPos.foldLeft(List.empty[List[Int]]) {
          case (acc @ (h :: t), p) if p - h.head <= n => (p :: h) :: t
          case (acc, p) => List(p) :: acc
        }.map(_.reverse).reverse
        runs.map { r =>
          val start = r.head.toLong
          val end = math.min(r.last + n - 1, ts.size).toLong
          (id, start, end, end - start + 1, r.size.toLong)
        }
      }.toSet
    }
    val rnd = new scala.util.Random(9)
    for (trial <- 1 to 3; n <- Seq(3, 4)) {
      val vocab = Vector("a", "b", "c", "d", "e") // tiny -> dense dups
      val docs = (1L to 40L).map(i =>
        i -> (1 to (1 + rnd.nextInt(12))).map(_ => vocab(rnd.nextInt(vocab.size))).mkString(" "))
      val got = operators.Dedup
        .exactSubstringSpans(docs.toDF("doc_id", "text"), "doc_id", "text", n)
        .collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
        .toSet
      val want = reference(docs, n)
      assert(got == want,
        s"trial=$trial n=$n: missing=${want -- got} extra=${got -- want}")
    }
  }

  test("incremental exactSubstringSpans == monolithic over history+batch, " +
      "restricted to batch docs (randomized); an undercounting sidecar " +
      "visibly misses spans") {
    import spark.implicits._
    val rnd = new scala.util.Random(17)
    for (trial <- 1 to 3; n <- Seq(3, 4)) {
      val vocab = Vector("a", "b", "c", "d", "e") // tiny -> dense dups
      val docs = (1L to 40L).map(i =>
        i -> (1 to (1 + rnd.nextInt(12))).map(_ => vocab(rnd.nextInt(vocab.size))).mkString(" "))
      val (history, batch) = docs.partition(_._1 <= 25L)
      val sidecar = operators.Dedup
        .gramCounts(history.toDF("doc_id", "text"), "text", n)
      val inc = operators.Dedup.exactSubstringSpansIncremental(
          batch.toDF("doc_id", "text"), sidecar, "doc_id", "text", n)
        .collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
        .toSet
      val mono = operators.Dedup
        .exactSubstringSpans(docs.toDF("doc_id", "text"), "doc_id", "text", n)
        .collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
        .toSet
        .filter(_._1 > 25L)
      assert(inc == mono,
        s"trial=$trial n=$n: missing=${mono -- inc} extra=${inc -- mono}")
    }
    // the soundness contract, demonstrated: a sidecar missing part of
    // the history (stale/undercounting) silently loses cross-corpus
    // spans — the same subset-divergence shape the history bloom pins
    val history = Seq((1L, "p q r s t u")).toDF("doc_id", "text")
    val batch = Seq((30L, "x0 x1 p q r s t u")).toDF("doc_id", "text")
    val full = operators.Dedup.exactSubstringSpansIncremental(
        batch, operators.Dedup.gramCounts(history, "text", 4),
        "doc_id", "text", 4)
      .collect()
    assert(full.nonEmpty, "cross-corpus duplicate run must be found")
    val empty = history.filter(col("doc_id") < 0) // empty sidecar source
    val stale = operators.Dedup.exactSubstringSpansIncremental(
        batch, operators.Dedup.gramCounts(empty, "text", 4),
        "doc_id", "text", 4)
      .collect()
    assert(stale.isEmpty,
      "an undercounting sidecar must visibly miss the span — if this " +
        "ever finds it, the fast path stopped trusting the sidecar")
  }

  test("NULL-text docs never pair and cluster as singletons") {
    val withNulls = docs.unionByName(Seq(
      (10L, null.asInstanceOf[String]), (11L, null.asInstanceOf[String]))
      .toDF("doc_id", "text"))
    val pairs = Dedup.minHashLshPairs(withNulls, "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(!pairs.exists(p => p._1 >= 10L || p._2 >= 10L),
      s"null-text docs must not pair: $pairs")
    val sim = Dedup.simHashPairs(withNulls, "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(!sim.exists(p => p._1 >= 10L || p._2 >= 10L))
    val cl = Dedup.minHashLshClusters(withNulls, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(cl(10L) == 10L && cl(11L) == 11L, "null-text docs are singleton clusters")
    assert(cl.keySet == Set(1L, 2L, 3L, 4L, 10L, 11L), "every doc keeps a cluster row")
  }

  test("jaccard pairs drop stopword-grade hot tokens before the self-join") {
    // "the" appears in EVERY doc — above the df cap it must be excluded
    // from both the intersection and the sizes: docs sharing ONLY the
    // hot token never pair, and surviving pairs' jaccard is computed
    // over informative tokens only
    val corpus = Seq(
      (1L, "the apple banana cherry date"),
      (2L, "the apple banana cherry fig"), // near-dup of 1 off-stopword
      (3L, "the xx yy zz ww"),
      (4L, "the aa bb cc dd")              // 3,4 share only "the"
    ).toDF("doc_id", "text")
    val pairs = Dedup.jaccardPairs(corpus, "doc_id", "text",
        minJpm = 1, maxDfRatio = 0.9)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getLong(3))).toMap
    assert(!pairs.contains((3L, 4L)),
      "a pair connected only through a hot token must not materialize")
    // |{apple,banana,cherry}| / |{apple,banana,cherry,date,fig}| = 3/5;
    // with "the" kept it would read 4/6 = 666
    assert(pairs((1L, 2L)) == 600L,
      s"sizes must be post-cap: ${pairs.get((1L, 2L))}")
    // cap off (ratio 1.0) keeps the stopword: (3,4) pairs through it
    val uncapped = Dedup.jaccardPairs(corpus, "doc_id", "text",
        minJpm = 1, maxDfRatio = 1.0)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getLong(3))).toMap
    assert(uncapped.contains((3L, 4L)) && uncapped((1L, 2L)) == 666L)
  }

  test("componentsByKey: star contraction finds exact components on chains, hubs, singletons") {
    // path graph with ADVERSARIAL id placement (min in the middle, ids
    // shuffled): node ids 0..60 chained by bucket i = {p(i), p(i+1)}
    // under a deterministic permutation — the shape that degraded plain
    // min-propagation to Ω(diameter) rounds
    val perm = (0 to 60).map(i => (i * 37 + 19) % 61).toArray
    val chain = (0 until 60).flatMap(i =>
      Seq((perm(i).toLong, s"c$i"), (perm(i + 1).toLong, s"c$i")))
    // a hub: one bucket shared by 100..119; two singletons with unique keys
    val hub = (100L to 119L).map(id => (id, "hub"))
    val single = Seq((200L, "s200"), (201L, "s201"))
    val inc = (chain ++ hub ++ single).toDF("id", "bucket")
    val labels = Dedup.componentsByKey(inc, "id", "bucket")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(labels.size == 61 + 20 + 2)
    assert((0 to 60).map(i => labels(i.toLong)).toSet == Set(0L),
      "whole chain must collapse to min id 0")
    assert((100L to 119L).map(labels).toSet == Set(100L))
    assert(labels(200L) == 200L && labels(201L) == 201L)
  }

  test("componentsByKey: distributed star rounds and local union-find finish agree") {
    // same adversarial topology as above, run BOTH ways: the default
    // (size gate collects immediately at this scale → local union-find)
    // and with the gate disabled (localFinishEdges = 0 → the full
    // distributed large-star/small-star fixpoint). Identical labels on
    // a chain + hub + singleton mix certifies the local endgame is the
    // same function as the star fixpoint it replaces below the gate.
    val perm = (0 to 60).map(i => (i * 41 + 7) % 61).toArray
    val chain = (0 until 60).flatMap(i =>
      Seq((perm(i).toLong, s"c$i"), (perm(i + 1).toLong, s"c$i")))
    val hub = (300L to 329L).map(id => (id, "hub2"))
    val inc = (chain ++ hub ++ Seq((400L, "s400"))).toDF("id", "bucket")
    val viaLocal = Dedup.componentsByKey(inc, "id", "bucket")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val viaStars = Dedup.componentsByKey(inc, "id", "bucket",
        localFinishEdges = 0L)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(viaLocal == viaStars, "paths must produce identical labels")
    assert((0 to 60).map(i => viaLocal(i.toLong)).toSet == Set(0L))
    assert((300L to 329L).map(viaLocal).toSet == Set(300L))
    assert(viaLocal(400L) == 400L)
  }

  test("ppjoin prefix filtering is lossless vs the full quadratic jaccard") {
    // mixed corpus: exact dup, near-dup, unrelated docs, a universal
    // token — the prefix-filtered join must return EXACTLY what the
    // uncapped inverted-index join returns at the same threshold
    val corpus = Seq(
      (1L, "the quick brown fox jumps over the lazy dog again and again"),
      (2L, "the quick brown fox jumps over the lazy cat again and again"),
      (3L, "completely different content about spark query engines at scale"),
      (4L, "the quick brown fox jumps over the lazy dog again and again"),
      (5L, "the apple banana cherry date"),
      (6L, "the apple banana cherry fig"),
      (7L, "the zz yy xx ww")
    ).toDF("doc_id", "text")
    for (thr <- Seq(300, 500, 800, 1000)) {
      val pp = Dedup.prefixFilteredJaccardPairs(corpus, "doc_id", "text", thr)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getLong(3))).toSet
      val full = Dedup.jaccardPairs(corpus, "doc_id", "text",
          minJpm = thr, maxDfRatio = 1.0)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2).toInt, r.getLong(3))).toSet
      assert(pp == full, s"threshold $thr: ppjoin $pp != full $full")
    }
  }

  test("ppjoin candidates shrink: a universal token generates no candidate pairs") {
    // every doc shares "the"; pairwise jaccard through it alone is far
    // below θ=0.5, and the canonical order puts it LAST in every doc —
    // outside every prefix. The inverted index would emit C(6,2)=15
    // candidate rows for it; the prefix join must emit none of them.
    val corpus = Seq(
      (1L, "the a1 a2 a3 a4"), (2L, "the b1 b2 b3 b4"),
      (3L, "the c1 c2 c3 c4"), (4L, "the d1 d2 d3 d4"),
      (5L, "the e1 e2 e3 e4"), (6L, "the f1 f2 f3 f4")
    ).toDF("doc_id", "text")
    val toks = corpus.select(col("doc_id"),
      explode(array_distinct(split(col("text"), " "))).as("tok"))
    val cand = Dedup.ppjoinCandidates(toks, minJpm = 500).count()
    assert(cand == 0L, s"hot-token-only pairs must be pruned, got $cand")
  }

  test("ngram contamination flags benchmark overlap via a broadcast bench side") {
    val train = Seq(
      (1L, "alpha beta gamma delta epsilon zeta"), // shares a 4-gram with bench
      (2L, "one two three four five six seven"),   // clean
      (3L, "tiny doc")                             // < n tokens → whole-text gram
    ).toDF("doc_id", "text")
    val bench = Seq(
      (100L, "xx alpha beta gamma delta yy"),
      (101L, "tiny doc")
    ).toDF("doc_id", "text")
    val res = Dedup.ngramContamination(train, bench, "doc_id", "text", n = 4)
    val out = res.collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    // doc 1 has 3 distinct 4-grams, exactly one of which ("alpha beta
    // gamma delta") is also a bench 4-gram
    assert(out(1L) == ((3L, 1L)))
    assert(!out.contains(2L), "clean doc must not appear")
    assert(out(3L) == ((1L, 1L)), "short docs compare as whole-text grams")
    // the eval-suite side must be the broadcast side: a 100 TB corpus
    // scan cannot shuffle on the gram key
    assert(res.queryExecution.executedPlan.toString.contains("BroadcastHashJoin"),
      "bench grams should broadcast-join against train grams")
  }

  test("exact jaccard ranks near-dup above unrelated") {
    val j = docs.as("a").crossJoin(docs.as("b"))
      .filter($"a.doc_id" < $"b.doc_id")
      .select($"a.doc_id", $"b.doc_id",
        ExactJaccard.jaccard($"a.text", $"b.text").as("j"))
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    assert(j((1L, 4L)) == 1.0)
    assert(j((1L, 2L)) > 0.7 && j((1L, 2L)) < 1.0)
    assert(j((1L, 3L)) < 0.2)
  }

  test("simhash chunk-bucketed pairs find exact dups and respect the hamming bound") {
    val pairs = Dedup.simHashPairs(docs, "doc_id", "text", maxHamming = 3)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getInt(2))).toMap
    assert(pairs.contains((1L, 4L)) && pairs((1L, 4L)) == 0,
      "exact dup fingerprints are identical -> hamming 0")
    assert(pairs.values.forall(_ <= 3))
    assert(!pairs.contains((1L, 3L)), "unrelated docs exceed the bound")
  }

  test("simhash hamming distance small for near-dups, large for unrelated") {
    val fp = Dedup.simHash(docs, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    def ham(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)
    assert(ham(fp(1L), fp(4L)) == 0)
    assert(ham(fp(1L), fp(2L)) < ham(fp(1L), fp(3L)))
    assert(ham(fp(1L), fp(2L)) <= 16)
    assert(ham(fp(1L), fp(3L)) >= 10)
  }

  test("editDistancePairs pairs within blocks, bounds distance, skips cross-block") {
    val corpus = Seq(
      (1L, "prefix__ alpha beta gamma delta"),
      (2L, "prefix__ alpha beta gamma delt"),   // 1 edit from doc 1, same block
      (3L, "prefix__ " + "x" * 200),            // same prefix, different length band
      (4L, "OTHER___ alpha beta gamma delta"),  // different prefix block
      (5L, null.asInstanceOf[String])           // null text must not crash or pair
    ).toDF("doc_id", "text")
    val pairs = Dedup.editDistancePairs(corpus, "doc_id", "text",
        prefixLen = 8, lenBand = 16, sigLen = 64, maxDist = 16)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getInt(2))).toMap
    assert(pairs((1L, 2L)) == 1, "near-dup in the same block pairs with its true distance")
    assert(!pairs.keySet.exists { case (a, b) => a == 3L || b == 3L },
      "length-band mismatch must block the comparison")
    assert(!pairs.keySet.exists { case (a, b) => a == 4L || b == 4L },
      "prefix mismatch must block the comparison")
    assert(pairs.values.forall(d => d >= 0 && d <= 16), "threshold respected")
  }

  test("editDistancePairs distance is computed over the bounded signature only") {
    // identical first 64 chars, wildly different tails -> dist 0
    val corpus = Seq(
      (1L, "a" * 64 + " tail one two three"),
      (2L, "a" * 64 + " completely different ending of much greater length")
    ).toDF("doc_id", "text")
    val pairs = Dedup.editDistancePairs(corpus, "doc_id", "text",
        prefixLen = 8, lenBand = 1000, sigLen = 64, maxDist = 4)
      .collect()
    assert(pairs.length == 1 && pairs.head.getInt(2) == 0,
      "tails beyond sigLen are out of contract")
  }

  test("incrementalDedup equals the naive anti-join and collapses in-batch dups") {
    import org.apache.spark.sql.functions._
    val history = Seq((1L, "seen before"), (2L, "also seen"))
      .toDF("doc_id", "text")
    val batch = Seq(
      (10L, "seen before"),   // dup of history → dropped
      (11L, "brand new"),     // novel → kept
      (12L, "brand new"),     // in-batch dup → collapses to id 11
      (13L, "also seen"),     // dup of history → dropped
      (14L, null.asInstanceOf[String])) // null text → digest of "" → kept
      .toDF("doc_id", "text")

    val got = Dedup.incrementalDedup(batch, history, "doc_id", "text",
        expectedHistoryItems = 100)
      .collect().map(r => (r.getLong(0), r.getString(1)))
    assert(got.map(_._1).sorted.toSeq == Seq(11L, 14L))

    // equivalence with the naive formulation (no bloom split)
    def dig(c: org.apache.spark.sql.Column) = sha2(coalesce(c, lit("")), 256)
    val naive = batch.select(col("doc_id"), dig(col("text")).as("digest"))
      .groupBy(col("digest")).agg(min(col("doc_id")).as("doc_id"))
      .join(history.select(dig(col("text")).as("digest")).distinct(),
        Seq("digest"), "left_anti")
      .collect().map(r => (r.getAs[Long]("doc_id"), r.getAs[String]("digest")))
    assert(got.sorted.toSeq == naive.sorted.toSeq)
  }

  test("prebuilt history bloom: exact-history and superset blooms equal the " +
      "naive anti-join; a stale SUBSET bloom is unsound (divergence pinned)") {
    import org.apache.spark.sql.functions._
    val history = Seq((1L, "seen before"), (2L, "also seen"))
      .toDF("doc_id", "text")
    val batch = Seq(
      (10L, "seen before"), (11L, "brand new"), (13L, "also seen"))
      .toDF("doc_id", "text")
    def keptIds(bloom: Array[Byte]): Seq[Long] =
      Dedup.incrementalDedup(batch, history, "doc_id", "text",
          prebuiltBloom = Some(bloom))
        .collect().map(_.getLong(0)).sorted.toSeq

    // (a) bloom built over exactly the history == naive anti-join
    val exact = Dedup.historyBloom(history, "text", expectedHistoryItems = 100)
    assert(keptIds(exact) == Seq(11L))

    // (b) bloom over a SUPERSET of the history (the persisted-sidecar
    // case where the index covers more than this query's slice): extra
    // keys are only false positives -> same result
    val superset = Dedup.historyBloom(
      history.unionByName(Seq((99L, "unrelated extra key")).toDF("doc_id", "text")),
      "text", expectedHistoryItems = 100)
    assert(keptIds(superset) == Seq(11L))

    // (c) a STALE bloom missing a history key (subset — the filter
    // predates "also seen" joining the history) marks its duplicate
    // "definitely novel" and skips the anti-join: WRONG results. This
    // pins the documented unsoundness that motivates the (mtime,
    // length) version key on l13's cache entry.
    val stale = Dedup.historyBloom(history.filter(col("doc_id") === 1),
      "text", expectedHistoryItems = 100)
    assert(keptIds(stale) == Seq(11L, 13L),
      "a subset bloom must visibly diverge — if this ever passes with " +
        "Seq(11L), the fast path stopped trusting the filter")
  }

  test("statsCache LRU halving keeps hot and recent entries and " +
      "never exceeds the cap") {
    import graft.queries.QShared
    type K = (org.apache.spark.sql.SparkSession, String, String, Any)
    // a HOT long-lived entry inserted first (the l13 history-bloom
    // shape: hit every batch) — under insertion-order eviction the
    // churn below would drop it despite constant use (ADVICE r10)
    val hot = (spark, "/tmp/statscache-test", "hot", 0L): K
    QShared.statsCache.computeIfAbsent(hot, _ => java.lang.Integer.valueOf(-1))
    // churn well past the cap with one-off entries, touching the hot
    // entry between batches so its recency stays fresh
    for (i <- 0 until (QShared.statsCache.cap + 100)) {
      QShared.statsCache.computeIfAbsent(
        (spark, "/tmp/statscache-test", s"k$i", 0L),
        _ => java.lang.Integer.valueOf(i))
      if (i % 256 == 0)
        QShared.statsCache.computeIfAbsent(hot, _ => fail("hit must not recompute"))
    }
    assert(QShared.statsCache.size <= QShared.statsCache.cap,
      s"cache exceeded cap: ${QShared.statsCache.size}")
    // the hot entry survived the halving (access-ordered LRU drop) ...
    assert(QShared.statsCache.contains(hot),
      "hot entry evicted despite constant use — eviction is not LRU")
    // ... and so did the most recent one-off
    val last = (spark, "/tmp/statscache-test",
      s"k${QShared.statsCache.cap + 99}", 0L): K
    assert(QShared.statsCache.contains(last), "newest entry evicted")
    // and a hit returns the cached value without recompute
    val v = QShared.statsCache.computeIfAbsent(last,
      _ => fail("hit must not recompute"))
    assert(v == java.lang.Integer.valueOf(QShared.statsCache.cap + 99))
  }
}

class SimilaritySpec extends SparkSpec {

  test("TopKBySim aggregate: window-equivalent order, null sims last, merge exact") {
    // the r13 bounded top-k aggregate must reproduce row_number() OVER
    // (ORDER BY sim DESC NULLS LAST, id ASC) exactly — including NULL
    // sims surviving when a group has fewer than k non-null candidates
    import graft.functions.{TopKBySim, TopKCand}
    val agg = new TopKBySim(3)
    def cand(sim: java.lang.Double, id: Long) =
      TopKCand(Option(sim).map(_.doubleValue), id, None)
    val in = Seq(cand(0.5, 10), cand(null, 1), cand(0.9, 7), cand(0.9, 3),
      cand(null, 0), cand(0.1, 99))
    // reduce path
    val reduced = in.foldLeft(agg.zero)(agg.reduce)
    assert(agg.finish(reduced).map(_.id) == Seq(3L, 7L, 10L))
    // merge path (split across two partials) must agree
    val (a, b) = in.splitAt(2)
    val merged = agg.merge(a.foldLeft(agg.zero)(agg.reduce),
      b.foldLeft(agg.zero)(agg.reduce))
    assert(agg.finish(merged) == agg.finish(reduced))
    // null sims fill the tail when non-null candidates run out, id ASC
    val sparse = Seq(cand(null, 5), cand(0.2, 9), cand(null, 2))
    val got = agg.finish(sparse.foldLeft(agg.zero)(agg.reduce))
    assert(got.map(_.id) == Seq(9L, 2L, 5L))
    assert(got.map(_.sim) == Seq(Some(0.2), None, None))
    // tie on sim broken by id ascending; bounded at k
    val ties = (1L to 10L).reverse.map(i => cand(0.7, i))
    assert(agg.finish(ties.foldLeft(agg.zero)(agg.reduce)).map(_.id) ==
      Seq(1L, 2L, 3L))
  }

  test("brute-force top-1 equals manually computed nearest") {
    val emb = spark.read.parquet(sf("embeddings"))
    val res = Similarity.bruteForceTopK(
      emb.filter(col("vec_id") === 0), emb, k = 3, "vec_id", "embedding").collect()
    assert(res.length == 3)
    assert(res.map(_.getAs[Int]("rank")).toSeq == Seq(1, 2, 3))
    val sims = res.map(_.getAs[Double]("sim"))
    assert(sims.sliding(2).forall(p => p(0) >= p(1)), "ranked by descending sim")
    assert(sims.forall(s => s >= -1.0001 && s <= 1.0001))
  }

  test("IVF ANN achieves reasonable recall and is deterministic") {
    val emb = spark.read.parquet(sf("embeddings"))
    val queries = emb.filter(col("vec_id") < 10)
    val exact = Similarity.bruteForceTopK(queries, emb, 5, "vec_id", "embedding")
      .collect().map(r => (r.getAs[Long]("q_id"), r.getAs[Long]("n_id"))).toSet
    def run() = Similarity.ivfTopK(queries, emb, 5, nList = 16, nProbe = 4,
      "vec_id", "embedding")
      .collect().map(r => (r.getAs[Long]("q_id"), r.getAs[Long]("n_id"))).toSet
    val ivf = run()
    val recall = (exact intersect ivf).size.toDouble / exact.size
    assert(recall >= 0.3, s"IVF recall@5 was $recall")
    assert(run() == ivf, "IVF must be run-to-run deterministic")
  }

  test("LSH ANN achieves reasonable recall vs brute force") {
    val emb = spark.read.parquet(sf("embeddings"))
    val queries = emb.filter(col("vec_id") < 10)
    val exact = Similarity.bruteForceTopK(queries, emb, 5, "vec_id", "embedding")
      .collect().map(r => (r.getAs[Long]("q_id"), r.getAs[Long]("n_id"))).toSet
    val approx = Similarity.lshTopK(queries, emb, 5, nPlanes = 12, "vec_id", "embedding")
      .collect().map(r => (r.getAs[Long]("q_id"), r.getAs[Long]("n_id"))).toSet
    val recall = (exact intersect approx).size.toDouble / exact.size
    assert(recall >= 0.3, s"recall@5 was $recall — LSH banding is broken if this is near 0")
  }

  test("literal-weight LSH signature is bit-identical to the generic path") {
    val emb = spark.read.parquet(sf("embeddings"))
    val both = emb.select(
      Similarity.lshSignature(col("embedding"), 12).as("generic"),
      Similarity.lshSignature(col("embedding"), 12, dim = 64).as("literal"))
    assert(both.filter(col("generic") =!= col("literal")).count() == 0)
  }

  test("literal-weight LSH falls back per-row when vector length differs from dim") {
    val emb = spark.read.parquet(sf("embeddings"))
      .withColumn("short_vec", slice(col("embedding"), 1, 32))
    // dim=64 against 32-long vectors: must match the generic signature,
    // not collapse to an all-zero signature via null-poisoned zip_with
    val both = emb.select(
      Similarity.lshSignature(col("short_vec"), 12).as("generic"),
      Similarity.lshSignature(col("short_vec"), 12, dim = 64).as("literal"))
    assert(both.filter(col("generic") =!= col("literal")).count() == 0)
    assert(both.filter(col("literal") =!= array_repeat(lit(0L), 12)).count() > 0)
  }

  test("semDedup assigns by nearest seed and drops tau-close later ids in-cluster") {
    import spark.implicits._
    val df = Seq(
      (0L, Array(1f, 0f)),      // seed of cluster 0
      (1L, Array(0f, 1f)),      // seed of cluster 1
      (10L, Array(0.99f, 0.05f)), // ~seed 0: dropped (cos to id 0 ≈ 0.999)
      (11L, Array(0f, 0.95f)),  // ∥seed 1: dropped (cos to id 1 = 1.0)
      (12L, Array(0.6f, 0.8f))  // cluster 1 but cos to mates < 0.9: kept
    ).toDF("vec_id", "embedding")
      .union(Seq((13L, null.asInstanceOf[Array[Float]]))
        .toDF("vec_id", "embedding")) // null vector: excluded entirely
    val out = Similarity.semDedup(df, "vec_id", "embedding", k = 2, tau = 0.9)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getString(2)))).toMap
    assert(out.keySet == Set(0L, 1L, 10L, 11L, 12L))
    assert(out(0L) == ((0L, "kept")) && out(1L) == ((1L, "kept")),
      "seeds have no earlier cluster-mate")
    assert(out(10L) == ((0L, "dropped")))
    assert(out(11L) == ((1L, "dropped")))
    assert(out(12L) == ((1L, "kept")), "same cluster but below tau")
  }

  test("semDedupAnn: agreement with the dense variant is monotone in nProbe, exact at all cells") {
    val emb = spark.read.parquet(sf("embeddings"))
    val dense = Similarity.semDedup(emb, "vec_id", "embedding", k = 16, tau = 0.35)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // c = √16 = 4 coarse cells; near-random synthetic embeddings are
    // IVF's worst case, so the property pinned is STRUCTURAL: agreement
    // grows with nProbe and probing every cell recovers the exact
    // argmax (identical values; tie-break order could differ only on a
    // 6-dp cosine tie between distinct centroids)
    def agr(nProbe: Int): Double = {
      val ann = Similarity.semDedupAnn(emb, "vec_id", "embedding",
          k = 16, tau = 0.35, nProbe = nProbe)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(ann.keySet == dense.keySet, "same row universe")
      dense.keys.count(id => ann(id) == dense(id)).toDouble / dense.size
    }
    val a1 = agr(1); val a2 = agr(2); val a4 = agr(4)
    assert(a1 <= a2 + 1e-9 && a2 <= a4 + 1e-9, s"not monotone: $a1 $a2 $a4")
    assert(a4 >= 0.999, s"all-cells probe must equal the dense argmax, got $a4")
    assert(a2 > 0.5, s"nProbe=2 of 4 cells should beat a coin flip, got $a2")
    // determinism: second run identical
    assert(agr(2) == a2)
  }

  test("semDedupAnn with coarseCells = k degenerates to the exact assignment") {
    import spark.implicits._
    // distinct, well-separated vectors: no 6-dp cosine ties, so the
    // dense and the c=k pruned assignments must be IDENTICAL
    val df = Seq(
      (0L, Array(1f, 0f, 0f)), (1L, Array(0f, 1f, 0f)), (2L, Array(0f, 0f, 1f)),
      (10L, Array(0.9f, 0.1f, 0f)), (11L, Array(0.1f, 0.9f, 0.1f)),
      (12L, Array(0f, 0.2f, 0.9f)), (13L, Array(0.5f, 0.5f, 0.1f))
    ).toDF("vec_id", "embedding")
    val dense = Similarity.semDedup(df, "vec_id", "embedding", k = 3, tau = 0.9)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSet
    val ann = Similarity.semDedupAnn(df, "vec_id", "embedding", k = 3, tau = 0.9,
        coarseCells = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSet
    assert(dense == ann, s"dense $dense vs ann $ann")
  }

  test("semDedupAnn assigns zero-norm vectors the lowest centroid id, like semDedup") {
    import spark.implicits._
    val df = Seq(
      (3L, Array(1f, 0f)), (4L, Array(0f, 1f)),
      (20L, Array(0f, 0f)) // zero-norm: all cosines null
    ).toDF("vec_id", "embedding")
    for (f <- Seq(
        Similarity.semDedup(df, "vec_id", "embedding", k = 2, tau = 0.9),
        Similarity.semDedupAnn(df, "vec_id", "embedding", k = 2, tau = 0.9))) {
      val r = f.filter(col("id") === 20L).head()
      assert(r.getLong(1) == 3L && r.getString(2) == "kept", r.toString)
    }
  }

  test("semDedupScaled: k ∝ n, bounded cluster-size distribution, dense at full probe") {
    val emb = spark.read.parquet(sf("embeddings"))
    val n = emb.filter(col("embedding").isNotNull).count()
    val expectedK = math.max(8L, (n + 127) / 128)
    val out = Similarity.semDedupScaled(
      emb, "vec_id", "embedding", tau = 0.35).cache()
    try {
      // every non-null vector is assigned exactly once
      assert(out.count() == n)
      // the paper's prescription realized: at most k clusters, and the
      // cluster-size distribution is bounded — the mean is n/k ≤ the
      // 128-row target by construction, and no cluster degenerates into
      // a corpus-sized bucket (the r12 sweep-exclusion failure mode);
      // 16× the target is an empirical pin on the synthetic corpus
      val sizes = out.groupBy(col("cluster")).count()
        .select(col("count")).collect().map(_.getLong(0))
      assert(sizes.length <= expectedK, s"${sizes.length} clusters > k=$expectedK")
      assert(sizes.sum == n)
      assert(sizes.max <= 16L * 128L,
        s"degenerate cluster of ${sizes.max} rows")
      // determinism: a second run renders identically
      val again = Similarity.semDedupScaled(
        emb, "vec_id", "embedding", tau = 0.35)
      assert(out.exceptAll(again).isEmpty && again.exceptAll(out).isEmpty)
    } finally out.unpersist()
  }

  test("semDedupScaled probing every cell recovers the dense semDedup assignment") {
    val emb = spark.read.parquet(sf("embeddings"))
    val n = emb.filter(col("embedding").isNotNull).count()
    val k = math.max(8L, (n + 127) / 128).toInt
    // full probe (nProbe ≥ c caps at all live cells) = global
    // (rounded-cosine DESC, cid ASC) argmax = the dense rule; the two
    // operators may differ only where a 6-dp rounding boundary splits
    // the raw-double argmax, which distinct synthetic vectors avoid
    val dense = Similarity.semDedup(emb, "vec_id", "embedding", k = k, tau = 0.35)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getString(2)))).toMap
    val scaled = Similarity.semDedupScaled(emb, "vec_id", "embedding",
        tau = 0.35, nProbe = k)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getString(2)))).toMap
    assert(scaled == dense)
  }
}

class NativeExprSpec extends SparkSpec {

  test("native graft_cosine is bit-identical to the HOF composition") {
    val emb = spark.read.parquet(sf("embeddings"))
    val q = emb.filter(col("vec_id") < 5)
    val native = Similarity.bruteForceTopK(q, emb, 10, "vec_id", "embedding")
      .orderBy(col("q_id"), col("rank"))
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3)))
    // reference: the HOF cosine over every (query, corpus) pair, ranked
    // by a window in the operator's (sim DESC NULLS LAST, n_id ASC) order
    val w = org.apache.spark.sql.expressions.Window.partitionBy(col("q_id"))
      .orderBy(col("sim").desc_nulls_last, col("n_id").asc_nulls_first)
    val hof = q.select(col("vec_id").as("q_id"), col("embedding").as("q_vec"))
      .crossJoin(emb.select(col("vec_id").as("n_id"), col("embedding").as("n_vec")))
      .filter(col("n_id") =!= col("q_id"))
      .withColumn("sim", Similarity.cosine(col("q_vec"), col("n_vec")))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= 10)
      .select(col("q_id"), col("rank"), col("n_id"), col("sim"))
      .orderBy(col("q_id"), col("rank"))
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3)))
    assert(native.nonEmpty && native.toSeq == hof.toSeq, "same order, same exact doubles")
  }

  test("graft_normalize: NFC recomposition, ASCII identity, NULL, codegen=interpreted") {
    import spark.implicits._
    graft.GraftFunctions.ensureRegistered(spark)
    val df = Seq(
      ("cafe\u0301", "caf\u00e9"),   // decomposed -> composed
      ("plain ascii", "plain ascii"), // fast path: already normalized
      (null.asInstanceOf[String], null.asInstanceOf[String])
    ).toDF("raw", "expect")
    def run() = df.withColumn("got",
      graft.GraftFunctions.normalizeNative(spark, col("raw"))).collect()
    val out = run()
    out.foreach { r =>
      assert(r.getAs[String]("got") == r.getAs[String]("expect"),
        s"raw=${Option(r.getString(0)).map(_.codePoints.toArray.toSeq)}")
    }
    // NFKC via the SQL surface folds compatibility forms
    val sql = spark.sql("SELECT graft_normalize('\u2460 \ufb01', 'NFKC') AS n")
      .head.getString(0)
    assert(sql == "1 fi", "NFKC folds circled digits and ligatures")
    // interpreted path agrees with codegen
    val prev = spark.conf.get("spark.sql.codegen.wholeStage")
    spark.conf.set("spark.sql.codegen.wholeStage", "false")
    try assert(run().map(_.getAs[String]("got")).toSeq ==
      out.map(_.getAs[String]("got")).toSeq)
    finally spark.conf.set("spark.sql.codegen.wholeStage", prev)
  }

  test("graft_cosine registers via SparkSessionExtensions and via SQL") {
    graft.GraftFunctions.ensureRegistered(spark)
    val out = spark.sql(
      s"SELECT graft_cosine(a.embedding, b.embedding) AS s " +
        s"FROM parquet.`${sf("embeddings")}` a JOIN parquet.`${sf("embeddings")}` b " +
        "ON a.vec_id = 1 AND b.vec_id = 1").collect()
    assert(math.abs(out(0).getDouble(0) - 1.0) < 1e-12, "self-similarity = 1")
  }

  test("graft_minhash registers via SQL; k must be a literal") {
    graft.GraftFunctions.ensureRegistered(spark)
    val out = spark.sql(
      "SELECT graft_minhash(array(CAST(7 AS BIGINT), CAST(9 AS BIGINT)), 4) AS sig").collect()
    val sig = out(0).getSeq[Long](0)
    assert(sig.length == 4 && sig.distinct.length > 1)
    // empty input → NULL signature (documented divergence from the HOF form)
    assert(spark.sql("SELECT graft_minhash(CAST(array() AS ARRAY<BIGINT>), 4)")
      .collect()(0).isNullAt(0))
    intercept[Exception] {
      spark.sql("SELECT graft_minhash(array(CAST(1 AS BIGINT)), 1 + 3)").collect()
    }
  }

  test("graft_cosine: zero-norm and null-element inputs yield NULL, not NaN") {
    graft.GraftFunctions.ensureRegistered(spark)
    val r = spark.sql(
      """SELECT graft_cosine(array(CAST(0.0 AS FLOAT)), array(CAST(1.0 AS FLOAT))) AS zero_norm,
        |       graft_cosine(array(CAST(NULL AS FLOAT)), array(CAST(1.0 AS FLOAT))) AS null_elem""".stripMargin)
      .collect()(0)
    assert(r.isNullAt(0), "zero-norm must be NULL (NaN would rank first under desc)")
    assert(r.isNullAt(1))
  }

  test("graft_cosine null and mismatched-length behavior") {
    graft.GraftFunctions.ensureRegistered(spark)
    val r = spark.sql(
      """SELECT graft_cosine(array(CAST(1.0 AS FLOAT), CAST(0.0 AS FLOAT)),
        |                    array(CAST(1.0 AS FLOAT))) AS mismatched,
        |       graft_cosine(CAST(NULL AS ARRAY<FLOAT>),
        |                    array(CAST(1.0 AS FLOAT))) AS nullin""".stripMargin).collect()(0)
    // mismatched lengths are malformed input → NULL, same as the HOF path
    // (zip_with pads with null, poisoning the aggregate)
    assert(r.isNullAt(0))
    assert(r.isNullAt(1))
  }

  test("HOF cosine matches native on mismatched lengths and zero norms") {
    import spark.implicits._
    val df = Seq(
      (Seq(1.0f, 0.0f), Seq(1.0f)),      // mismatched
      (Seq(0.0f, 0.0f), Seq(1.0f, 1.0f)) // zero norm (ANSI: no DIVIDE_BY_ZERO)
    ).toDF("a", "b")
    val rows = df.select(
      graft.operators.Similarity.cosine(col("a"), col("b")).as("hof"),
      graft.GraftFunctions.cosineNative(spark, col("a"), col("b")).as("native")
    ).collect()
    rows.foreach { r =>
      assert(r.isNullAt(0) && r.isNullAt(1), s"expected NULL/NULL, got $r")
    }
  }
}

class ApproxSpec extends SparkSpec {
  test("a3b: unioned HLL sketches estimate distinct orders within 5%") {
    val dir = "/root/testdata/sf0.001"
    val est = SparkEntry.queries("a3b_sketch_rollup")(spark, dir)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val exact = spark.read.parquet(s"$dir/lineitem.parquet")
      .groupBy(col("l_returnflag"))
      .agg(countDistinct(col("l_orderkey")).as("n"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(est.keySet == exact.keySet)
    for ((k, ex) <- exact)
      assert(math.abs(est(k) - ex) <= ex * 0.05 + 1,
        s"flag $k: sketch=${est(k)} exact=$ex")
  }

  test("a16: count-min estimates overestimate-only, within eps*N; merge is linear") {
    val dir = "/root/testdata/sf0.001"
    val li = spark.read.parquet(s"$dir/lineitem.parquet")
    val n = li.count()
    val rows = SparkEntry.queries("a16_cms_heavy_hitters")(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(rows.length == 10)
    for ((k, exact, est) <- rows) {
      assert(est >= exact, s"suppkey $k: CMS must never underestimate ($est < $exact)")
      assert(est <= exact + (0.001 * n).toLong + 1,
        s"suppkey $k: est=$est exceeds exact=$exact + eps*N")
    }
    // linearity: per-flag partial sketches merged == the global sketch,
    // estimate-for-estimate (same seed/eps/confidence) — the property
    // that makes the sketch a safe map-side partial at 100 TB
    def sketchOf(df: org.apache.spark.sql.DataFrame) =
      org.apache.spark.util.sketch.CountMinSketch.readFrom(
        new java.io.ByteArrayInputStream(
          df.agg(expr("count_min_sketch(l_suppkey, cast(0.001 as double)," +
            " cast(0.99 as double), 42)").as("sk"))
            .head().getAs[Array[Byte]](0)))
    val global = sketchOf(li)
    val parts = li.select(col("l_returnflag")).distinct().collect()
      .map(r => sketchOf(li.filter(col("l_returnflag") === r.getString(0))))
    val merged = parts.reduce((a, b) => { a.mergeInPlace(b); a })
    for ((k, _, _) <- rows)
      assert(merged.estimateCount(k) == global.estimateCount(k),
        s"suppkey $k: merged partials must equal the single-pass sketch")
  }

  test("percentile_approx median tracks the exact median aggregator") {
    val exact = SparkEntry.queries("u2_median_udaf")(spark, "/root/testdata/sf0.001")
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val approx = SparkEntry.queries("u2b_median_approx")(spark, "/root/testdata/sf0.001")
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(exact.keySet == approx.keySet)
    // accuracy=10000 with per-user groups far smaller than that: the
    // sketch holds every value, so it must land on a real group element
    // at most one order-statistic away from the exact midpoint
    for ((k, ex) <- exact) {
      val ap = approx(k)
      assert(math.abs(ap - ex) <= math.abs(ex) * 0.05 + 1.0,
        s"user $k: approx=$ap exact=$ex")
    }
  }

  test("approx percentiles track exact percentile() within sketch error") {
    def grab(name: String) =
      SparkEntry.queries(name)(spark, "/root/testdata/sf0.001")
        .collect().map(r => r.getString(0) -> (1 to 3).map(i =>
          r.getAs[Number](i).doubleValue())).toMap
    val exact = grab("a10_percentile_exact")
    val approx = grab("a10b_percentile_approx")
    assert(exact.keySet == approx.keySet)
    // accuracy=10000 on groups of ~thousands: the sketch holds (almost)
    // every value, so each approx quantile is an actual group element
    // within a hair of the exact interpolated one
    for ((k, ex) <- exact; (e, a) <- ex.zip(approx(k)))
      assert(math.abs(a - e) <= math.abs(e) * 0.02 + 1.0,
        s"group $k: approx=$a exact=$e")
  }

  test("moment-based var_samp matches Spark's native var_samp") {
    val got = SparkEntry.queries("a8_stats_moments")(spark, "/root/testdata/sf0.001")
      .collect().map(r => r.getString(0) -> r.getDouble(2)).toMap
    val native = spark.read.parquet(sf("lineitem"))
      .groupBy(col("l_returnflag")).agg(var_samp(col("l_quantity")))
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    for ((k, v) <- native)
      assert(math.abs(got(k) - v) / v < 1e-9, s"$k: moments=${got(k)} native=$v")
  }

  test("approx_count_distinct within 5% of exact") {
    val l = spark.read.parquet(sf("lineitem"))
    val exact = l.select(countDistinct(col("l_orderkey"))).collect()(0).getLong(0)
    val approx = l.select(approx_count_distinct(col("l_orderkey"), 0.01)).collect()(0).getLong(0)
    assert(math.abs(approx - exact).toDouble / exact <= 0.05,
      s"approx=$approx exact=$exact")
  }
}

class TextAnalysisSpec extends SparkSpec {
  import spark.implicits._

  test("language id picks the stopword-dominant language; CJK override wins") {
    val df = Seq(
      ("the cat is in the house and it is happy", "en"),
      ("der hund ist in den haus und das ist gut", "de"),
      ("el perro que esta en la casa y el gato", "es"),
      ("le chat et les chiens est une du jardin", "fr"),
      ("你好世界 some latin too", "zh"),
      ("zzz qqq xxx", "und")
    ).toDF("text", "expected")
    val out = df.withColumn("got", TextAnalysis.languageId($"text")).collect()
    out.foreach(r => assert(r.getAs[String]("got") == r.getAs[String]("expected"),
      s"text '${r.getString(0)}'"))
  }

  test("quality score penalizes junk") {
    val df = Seq(
      "this is a perfectly reasonable sentence with normal words",
      "a b",
      "12345 67890 11111 22222 33333").toDF("text")
    val q = df.select(TextAnalysis.qualityMetrics($"text").getField("quality")).as[Double].collect()
    assert(q(0) > 0.9)
    assert(q(1) < q(0)) // too short + short tokens
    assert(q(2) < 0.5)  // digit-heavy
  }

  test("bpe-ish token count splits punctuation and contractions") {
    val df = Seq("don't stop, it's 2024!").toDF("text")
    val n = df.select(TextAnalysis.bpeishTokenCount($"text")).collect()(0).getInt(0)
    // don | 't | stop | , | it | 's | 2024 | !
    assert(n == 8, s"got $n")
  }

  test("rolling fingerprint is stable and order-sensitive") {
    val df = Seq("a b c", "a b c", "c b a").toDF("text")
    val fps = df.select(TextAnalysis.rollingFingerprint($"text")).as[Long].collect()
    assert(fps(0) == fps(1))
    assert(fps(0) != fps(2))
    assert(fps.forall(f => f >= 0 && f < 2147483647L))
  }

  test("repetition metrics match the explode+groupBy formulation") {
    import org.apache.spark.sql.functions._
    val df = Seq(
      (1L, "the cat and the dog and the bird"),
      (2L, "word"),
      (3L, "a a a a"),
      (4L, "x y z"),
      (5L, "b a b a b")).toDF("doc_id", "text")
    // reference formulation: shuffle on (doc, word) then (doc)
    val ref = df.select($"doc_id", explode(split($"text", " ")).as("w"))
      .groupBy($"doc_id", $"w").agg(count(lit(1)).as("c"))
      .groupBy($"doc_id")
      .agg(sum($"c").as("n_words"), count(lit(1)).as("n_distinct_words"),
        round(max($"c").cast("double") / sum($"c"), 6).as("top_word_ratio"),
        round(count(lit(1)).cast("double") / sum($"c"), 6).as("distinct_frac"))
    val got = df.withColumn("r", TextAnalysis.repetitionMetrics($"text"))
      .select($"doc_id", $"r.n_words", $"r.n_distinct_words",
        $"r.top_word_ratio", $"r.distinct_frac")
    assert(got.orderBy($"doc_id").collect().toSeq ==
      ref.orderBy($"doc_id").collect().toSeq)
  }

  test("chunkTokens: boundaries, overlap, and short-doc clamping") {
    import org.apache.spark.sql.functions._
    // 10 tokens, chunkSize 4, stride 3 → starts 0,3,6,9
    val doc = (1 to 10).map(i => s"t$i").mkString(" ")
    val out = TextAnalysis.chunkTokens(
        Seq((1L, doc), (2L, "solo"), (3L, null.asInstanceOf[String]))
          .toDF("id", "text"), "id", "text", chunkSize = 4, stride = 3)
      .orderBy($"doc_id", $"chunk_id").collect()
    val d1 = out.filter(_.getLong(0) == 1L).map(r =>
      (r.getInt(1), r.getString(2), r.getInt(3)))
    assert(d1.toSeq == Seq(
      (0, "t1 t2 t3 t4", 4),
      (1, "t4 t5 t6 t7", 4),   // 1-token overlap at stride 3
      (2, "t7 t8 t9 t10", 4),
      (3, "t10", 1)))           // clamped tail chunk
    // short doc → exactly one chunk; null text → no rows
    assert(out.filter(_.getLong(0) == 2L).map(r => (r.getInt(1), r.getString(2)))
      .toSeq == Seq((0, "solo")))
    assert(!out.exists(_.getLong(0) == 3L))

    // coverage: every token of every chunked doc appears in some chunk
    val rebuilt = out.filter(_.getLong(0) == 1L)
      .flatMap(_.getString(2).split(" ")).toSet
    assert(rebuilt == doc.split(" ").toSet)
  }

  test("chunkTokens rejects stride > chunkSize (would drop tokens)") {
    val df = Seq((1L, "a b c")).toDF("id", "text")
    intercept[IllegalArgumentException] {
      TextAnalysis.chunkTokens(df, "id", "text", chunkSize = 2, stride = 3)
    }
  }

  test("dsirWeights favors target-like docs and is repartition-invariant") {
    val df = Seq(
      (0L, "alpha beta alpha gamma", "en"),
      (1L, "alpha gamma beta beta", "en"),
      (2L, "zeta eta theta zeta", "de"),
      (3L, "alpha beta gamma alpha", "de"), // target-LIKE words, wrong lang
      (4L, "zeta theta eta eta", "de")      // source-only words
    ).toDF("doc_id", "text", "lang")
    def run(d: org.apache.spark.sql.DataFrame) =
      TextAnalysis.dsirWeights(d, "doc_id", "text",
        isTarget = col("lang") === "en", topK = 5)
        .collect()
        .map(r => r.getLong(0) ->
          ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    val out = run(df)
    assert(out.keySet == Set(0L, 1L, 2L, 3L, 4L))
    // 4 tokens → 4 unigrams + 3 bigrams
    assert(out.values.forall(_._1 == 7L))
    // importance transfers by CONTENT, not by the label: doc 3 uses the
    // target domain's vocabulary and must outscore the source-only doc 4
    assert(out(3L)._2 > out(4L)._2,
      s"target-like ${out(3L)._2} vs source-only ${out(4L)._2}")
    assert(out(0L)._2 > out(4L)._2)
    // hash-driven Gumbel keys: identical under any partitioning
    assert(run(df.repartition(7)) == out)
  }

  test("l38b xxh twin: distribution-equivalent to the md5 formulation") {
    // The production twin swaps the bucket hash md5 → xxhash64; DSIR
    // needs A uniform bucketing, not md5. Pins on the real corpus:
    // (1) per-doc n_feat identical (gram COUNT is hash-independent);
    // (2) per-doc histogram MASS identical (Σcounts == n_feat under
    //     either hash); (3) comparable bucket spread (both hashes
    //     occupy a similar number of the 256 buckets — uniformity,
    //     the property the DSIR estimate actually relies on);
    // (4) identical Gumbel noise, so score differences come only from
    //     the fitted weights.
    val docs = spark.read.parquet(sf("documents"))
    def feats(xxh: Boolean) =
      TextAnalysis.dsirWeights(docs, "doc_id", "text",
        isTarget = col("lang") === "en", topK = 100000, xxh = xxh)
        .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(3) - r.getLong(2))))
        .toMap // id -> (n_feat, gumbel noise = gkey - weight)
    val md5F = feats(xxh = false)
    val xxhF = feats(xxh = true)
    assert(md5F.keySet == xxhF.keySet)
    assert(md5F.forall { case (id, (n, g)) => xxhF(id) == ((n, g)) })
    // bucket spread: distinct non-empty buckets over the corpus
    def spread(c: org.apache.spark.sql.Column) = docs
      .filter(col("text").isNotNull)
      .select(posexplode(c).as(Seq("b", "n")))
      .filter(col("n") > 0).select(col("b")).distinct().count()
    val sMd5 = spread(graft.GraftFunctions
      .dsirBucketsNative(spark, split(col("text"), " ")))
    val sXxh = spread(graft.GraftFunctions
      .dsirBucketsXxhNative(spark, split(col("text"), " ")))
    assert(sXxh >= (sMd5 * 0.9).toLong,
      s"xxh bucket spread $sXxh collapsed vs md5 $sMd5")
  }
}

class BpeMergesSpec extends SparkSpec {
  import spark.implicits._

  test("learns the classic merge sequence (Sennrich corpus), exact ties broken lexically") {
    // word multiplicities: low x5, lower x2, newest x6, widest x3 —
    // the worked example from the BPE paper. Hand-derived sequence:
    //   (e,s,9)  tie with (s,t,9), lexical asc wins
    //   (es,t,9)
    //   (l,o,7)  tie with (o,w,7)
    //   (lo,w,7)
    //   (e,w,6)  tie with (n,e,6) and (w,est,6)
    val words =
      Seq.fill(5)("low") ++ Seq.fill(2)("lower") ++
        Seq.fill(6)("newest") ++ Seq.fill(3)("widest")
    val df = words.grouped(4).map(_.mkString(" ")).toSeq.toDF("text")
    val got = TextAnalysis.bpeMerges(df, "text", nMerges = 5)
      .collect().map(r => (r.getInt(0), r.getString(1), r.getString(2), r.getLong(3)))
    assert(got.toSeq == Seq(
      (1, "e", "s", 9L), (2, "es", "t", 9L), (3, "l", "o", 7L),
      (4, "lo", "w", 7L), (5, "e", "w", 6L)), got.toSeq.toString)
  }

  test("maxVocab truncation is deterministic and drops only tail-count words") {
    // 'newest' (x6) and 'low' (x5) dominate; with maxVocab = 2 only
    // those two words train, so the learned merges are the fixpoint of
    // the truncated dictionary — recomputed here by hand. All newest-
    // pairs tie at count 6, so the LEXICAL order decides every round:
    //   round 1: (e,s) < (e,w) < (n,e) < (s,t) < (w,e)   -> (e,s,6)
    //   round 2: n,e,w,es,t — (e,w) < (es,t) < (n,e)     -> (e,w,6)
    //            ("e" is a byte-order PREFIX of "es", so it sorts first)
    //   round 3: n,ew,es,t — candidates (n,ew),(ew,es),(es,t);
    //            "es" < "ew" < "n"                      -> (es,t,6)
    val words =
      Seq.fill(5)("low") ++ Seq.fill(2)("lower") ++
        Seq.fill(6)("newest") ++ Seq.fill(3)("widest")
    val df = words.grouped(4).map(_.mkString(" ")).toSeq.toDF("text")
    val got = TextAnalysis.bpeMerges(df, "text", nMerges = 3, maxVocab = 2)
      .collect().map(r => (r.getInt(0), r.getString(1), r.getString(2), r.getLong(3)))
    assert(got.toSeq == Seq(
      (1, "e", "s", 6L), (2, "e", "w", 6L), (3, "es", "t", 6L)),
      got.toSeq.toString)
    // and an over-large cap changes nothing vs the full dictionary
    val full = TextAnalysis.bpeMerges(df, "text", nMerges = 5)
      .collect().map(r => (r.getInt(0), r.getString(1), r.getString(2), r.getLong(3)))
    val capped = TextAnalysis.bpeMerges(df, "text", nMerges = 5, maxVocab = 1000)
      .collect().map(r => (r.getInt(0), r.getString(1), r.getString(2), r.getLong(3)))
    assert(full.toSeq == capped.toSeq)
  }

  test("consecutive-pair merging is left-to-right greedy (aaaa -> two aa merges)") {
    val df = Seq("aaaa aaaa").toDF("text")
    val got = TextAnalysis.bpeMerges(df, "text", nMerges = 2)
      .collect().map(r => (r.getInt(0), r.getString(1), r.getString(2), r.getLong(3)))
    // round 1: (a,a) appears 3 adjacent times per word but greedy
    // left-to-right merges produce TWO aa symbols per word; round 2
    // then merges (aa,aa)
    assert(got.toSeq == Seq((1, "a", "a", 6L), (2, "aa", "aa", 2L)), got.toSeq.toString)
  }

  test("runs out of repeated pairs gracefully; empty corpus yields zero merges") {
    val tiny = Seq("ab").toDF("text")
    // "ab" x1: (a,b,1) merges once; the merged word has ONE symbol -> no
    // pairs -> exhausted after rank 1 even though 4 were requested
    assert(TextAnalysis.bpeMerges(tiny, "text", nMerges = 4).count() == 1L)
    val empty = Seq.empty[String].toDF("text")
    assert(TextAnalysis.bpeMerges(empty, "text", nMerges = 3).count() == 0L)
  }
}

/** The sequential-replay reference for [[TextAnalysis.applyBpeMerges]]:
  * each document becomes one U+0001-separated symbol string (a
  * separator between every character, so inter-word spaces are
  * ordinary symbols that no merge pair can ever contain — merges were
  * learned on space-split words), and the merges replay IN LEARNED
  * ORDER as chained regexp_replace passes, each with the lookahead
  * greedy-adjacency semantics the trainer used. One full-text regex
  * pass per merge: the independent witness the native priority
  * application is pinned against, not a production path. Same output
  * schema as the operator. */
object BpeRegexReplay {
  import org.apache.spark.sql.DataFrame

  def applyBpeMerges(
      df: DataFrame, idCol: String, textCol: String,
      merges: Seq[(String, String)]): DataFrame = {
    val sep = "\u0001"
    val base = concat(lit(sep), array_join(split(col(textCol), ""), sep), lit(sep))
    val merged = merges.foldLeft(base) { case (acc, (l, r)) =>
      regexp_replace(acc,
        java.util.regex.Pattern.quote(s"$sep$l$sep$r") +
          s"(?=${java.util.regex.Pattern.quote(sep)})",
        java.util.regex.Matcher.quoteReplacement(s"$sep$l$r"))
    }
    val nChars = length(col(textCol))
    val nSpaces = nChars - length(regexp_replace(col(textCol), " ", ""))
    val nTokens = (size(split(merged, sep)) - 2) - nSpaces
    df.filter(col(textCol).isNotNull && col(textCol) =!= "")
      .select(col(idCol).as("id"), nChars.as("n_chars"),
        nTokens.cast("long").as("n_bpe_tokens"),
        floor((nChars - nSpaces).cast("double") * 1e6 /
          greatest(nTokens, lit(1))).cast("long").as("chars_per_token_micro"))
  }
}

class BpeApplySpec extends SparkSpec {
  import spark.implicits._

  test("replays the classic merge sequence: low/lower/newest tokenize as 1/3/3") {
    val merges = Seq(("e", "s"), ("es", "t"), ("l", "o"), ("lo", "w"), ("e", "w"))
    val df = Seq(("d1", "low lower newest")).toDF("doc_id", "text")
    val r = TextAnalysis.applyBpeMerges(df, "doc_id", "text", merges).collect()(0)
    // low -> [low]; lower -> [low, e, r]; newest -> [n, ew, est]
    assert(r.getInt(1) == 16, s"n_chars ${r.getInt(1)}")
    assert(r.getLong(2) == 7L, s"n_bpe_tokens ${r.getLong(2)}")
    assert(r.getLong(3) == 2000000L, s"chars_per_token ${r.getLong(3)}")
  }

  test("train then apply: learned merges compress the training corpus") {
    val words =
      Seq.fill(5)("low") ++ Seq.fill(2)("lower") ++
        Seq.fill(6)("newest") ++ Seq.fill(3)("widest")
    val df = words.grouped(4).map(_.mkString(" ")).toSeq.toDF("text")
      .withColumn("id", org.apache.spark.sql.functions.monotonically_increasing_id())
    val merges = TextAnalysis.bpeMerges(df, "text", nMerges = 5)
      .collect().sortBy(_.getInt(0)).map(r => (r.getString(1), r.getString(2))).toSeq
    val out = TextAnalysis.applyBpeMerges(df, "id", "text", merges)
    // with es/est/lo/low/ew learned, every token stream is shorter than
    // its character stream
    assert(out.filter($"n_bpe_tokens" >= $"n_chars").count() == 0L)
    // "low" x4-per-row corpora: the word low is ONE symbol everywhere
    val one = TextAnalysis.applyBpeMerges(
      Seq(("a", "low low")).toDF("id", "text"), "id", "text", merges).collect()(0)
    assert(one.getLong(2) == 2L, one.toString)
  }

  test("no merges and empty-ish inputs degrade to character tokenization") {
    val df = Seq(("a", "ab c")).toDF("id", "text")
    val r = TextAnalysis.applyBpeMerges(df, "id", "text", Seq.empty).collect()(0)
    assert(r.getLong(2) == 3L) // a, b, c — the space is not a token
  }

  test("native priority application equals the sequential regex replay (trained tables)") {
    val rnd = new scala.util.Random(0xBEAD5)
    val alphabet = "abcd"
    def canon(d: org.apache.spark.sql.DataFrame): Seq[String] =
      d.orderBy(col("id")).collect().map(_.toString).toSeq
    for (trial <- 1 to 4) {
      // TRAIN a table on one random corpus (well-formed by
      // construction — the equivalence precondition), APPLY to another
      val trainWords = (1 to 40 + rnd.nextInt(60)).map(_ =>
        (1 to 1 + rnd.nextInt(7)).map(_ => alphabet(rnd.nextInt(4))).mkString)
      val merges = TextAnalysis.bpeMerges(
          trainWords.grouped(5).map(_.mkString(" ")).toSeq.toDF("text"),
          "text", nMerges = 4 + rnd.nextInt(8))
        .collect().sortBy(_.getInt(0))
        .map(r => (r.getString(1), r.getString(2))).toSeq
      val applyDf = (1 to 30).map { i =>
        (i.toLong, (1 to 1 + rnd.nextInt(10))
          .map(_ => alphabet(rnd.nextInt(4))).mkString(" "))
      }.toDF("id", "text")
      val native = canon(TextAnalysis.applyBpeMerges(
        applyDf, "id", "text", merges))
      val regex = canon(BpeRegexReplay.applyBpeMerges(
        applyDf, "id", "text", merges))
      assert(native == regex, s"trial $trial (${merges.size} merges) diverged")
    }
    // and on real documents with the corpus-trained 8-merge table
    val docs = spark.read.parquet(sf("documents"))
      .select(col("doc_id"), col("text")).limit(300)
    val merges = TextAnalysis.bpeMerges(docs, "text", nMerges = 8)
      .collect().sortBy(_.getInt(0))
      .map(r => (r.getString(1), r.getString(2))).toSeq
    assert(
      canon(TextAnalysis.applyBpeMerges(docs, "doc_id", "text", merges)) ==
        canon(BpeRegexReplay.applyBpeMerges(docs, "doc_id", "text", merges)))
  }

  test("native application cost is flat in |merges| (the regex chain is linear in it)") {
    // 64 merges through the kernel must not blow up plan size or time:
    // just assert it RUNS and agrees with itself deterministically —
    // the regex chain at 64 merges is the comparison the scaladoc
    // documents, not one worth paying in CI repeatedly
    val docs = spark.read.parquet(sf("documents"))
      .select(col("doc_id"), col("text")).limit(200)
    val merges = TextAnalysis.bpeMerges(docs, "text", nMerges = 64)
      .collect().sortBy(_.getInt(0))
      .map(r => (r.getString(1), r.getString(2))).toSeq
    assert(merges.size > 8, s"expected a real table, got ${merges.size}")
    val a = TextAnalysis.applyBpeMerges(docs, "doc_id", "text", merges)
      .agg(sum(col("n_bpe_tokens"))).head().getLong(0)
    val b = TextAnalysis.applyBpeMerges(docs, "doc_id", "text", merges)
      .agg(sum(col("n_bpe_tokens"))).head().getLong(0)
    assert(a == b && a > 0, s"$a vs $b")
  }
}

class MultimodalSpec extends SparkSpec {
  import spark.implicits._

  private def fixture(name: String): Array[Byte] = {
    val in = getClass.getResourceAsStream(s"/graft/$name")
    assert(in != null, s"missing checked-in fixture $name")
    try in.readAllBytes() finally in.close()
  }

  // the checked-in 64×48 gradient: r = 4x, g = 5y, b = 3(x+y) mod 256 —
  // expected channel means computed HERE from the formula, independent
  // of any codec, so a decode that "succeeds" with wrong pixels fails
  private val expectedMeans: Array[Double] = {
    var sr = 0L; var sg = 0L; var sb = 0L
    for (y <- 0 until 48; x <- 0 until 64) {
      sr += (x * 4) & 0xff; sg += (y * 5) & 0xff; sb += ((x + y) * 3) & 0xff
    }
    val n = 64.0 * 48
    Array(sr / n, sg / n, sb / n)
  }

  test("REAL image decode: checked-in PNG/JPEG give exact dimensions + channel stats") {
    val media = Seq(
      (1L, "image", fixture("fixture_64x48.png")),
      (2L, "image", fixture("fixture_64x48.jpg"))
    ).toDF("id", "kind", "payload")
    val out = Multimodal.extractFeatures(media, "id", "kind", "payload")
      .orderBy($"id").collect()
    for (r <- out) {
      assert(r.getAs[Boolean]("decoded"), r.toString)
      assert(r.getAs[Int]("width") == 64 && r.getAs[Int]("height") == 48, r.toString)
      assert(r.getAs[Int]("channels") == 3, r.toString)
    }
    // PNG is lossless: means match the gradient formula exactly
    val png = out(0).getSeq[Double](out(0).fieldIndex("channel_means"))
    for (c <- 0 until 3)
      assert(math.abs(png(c) - expectedMeans(c)) < 1e-9,
        s"png channel $c: ${png(c)} vs ${expectedMeans(c)}")
    // JPEG is lossy: means within a few intensity levels
    val jpg = out(1).getSeq[Double](out(1).fieldIndex("channel_means"))
    for (c <- 0 until 3)
      assert(math.abs(jpg(c) - expectedMeans(c)) < 5.0,
        s"jpg channel $c: ${jpg(c)} vs ${expectedMeans(c)}")
  }

  test("REAL audio decode: checked-in WAV reports its true duration") {
    val media = Seq((1L, "audio", fixture("fixture_500ms.wav")))
      .toDF("id", "kind", "payload")
    val r = Multimodal.extractFeatures(media, "id", "kind", "payload").head()
    assert(r.getAs[Boolean]("decoded"), r.toString)
    // 4000 frames at 8 kHz = exactly 500 ms
    assert(r.getAs[Long]("duration_ms") == 500L, r.toString)
  }

  // 3-frame animated GIF built HERE with ImageIO's own GIF writer:
  // solid-color frames + a 25 cs GraphicControlExtension delay each, so
  // every expectation (dims, frame count, total duration, first-frame
  // channel means) is derived independently of the decoder under test
  private def animatedGif(
      colors: Seq[Int], w: Int, h: Int, delayCs: Int): Array[Byte] = {
    import javax.imageio.{IIOImage, ImageIO, ImageTypeSpecifier}
    import javax.imageio.metadata.IIOMetadataNode
    val writer = ImageIO.getImageWritersBySuffix("gif").next()
    val bos = new java.io.ByteArrayOutputStream()
    val ios = ImageIO.createImageOutputStream(bos)
    writer.setOutput(ios)
    val params = writer.getDefaultWriteParam
    val meta = writer.getDefaultImageMetadata(
      ImageTypeSpecifier.createFromBufferedImageType(
        java.awt.image.BufferedImage.TYPE_INT_RGB), params)
    val fmt = meta.getNativeMetadataFormatName
    val root = meta.getAsTree(fmt).asInstanceOf[IIOMetadataNode]
    val gce = new IIOMetadataNode("GraphicControlExtension")
    gce.setAttribute("disposalMethod", "none")
    gce.setAttribute("userInputFlag", "FALSE")
    gce.setAttribute("transparentColorFlag", "FALSE")
    gce.setAttribute("delayTime", delayCs.toString)
    gce.setAttribute("transparentColorIndex", "0")
    root.appendChild(gce)
    meta.setFromTree(fmt, root)
    writer.prepareWriteSequence(null)
    for (c <- colors) {
      val img = new java.awt.image.BufferedImage(
        w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
      val g = img.createGraphics()
      try { g.setColor(new java.awt.Color(c)); g.fillRect(0, 0, w, h) }
      finally g.dispose()
      writer.writeToSequence(new IIOImage(img, null, meta), params)
    }
    writer.endWriteSequence()
    ios.close()
    writer.dispose()
    bos.toByteArray
  }

  test("REAL video decode: animated GIF gives frame count, duration, first-frame stats") {
    val gif = animatedGif(
      Seq(0xff0000, 0x00ff00, 0x0000ff), w = 16, h = 12, delayCs = 25)
    val media = Seq((1L, "video", gif)).toDF("id", "kind", "payload")
    val r = Multimodal.extractFeatures(media, "id", "kind", "payload").head()
    assert(r.getAs[Boolean]("decoded"), r.toString)
    assert(r.getAs[Int]("width") == 16 && r.getAs[Int]("height") == 12, r.toString)
    // 3 frames × 25 cs = 750 ms, read back from per-frame metadata
    assert(r.getAs[Long]("duration_ms") == 750L, r.toString)
    // evenly-spaced frame-index sample covers all 3 frames
    assert(r.getSeq[Long](r.fieldIndex("frames_sampled")) == Seq(0L, 1L, 2L),
      r.toString)
    // first frame is solid red
    val means = r.getSeq[Double](r.fieldIndex("channel_means"))
    assert(math.abs(means(0) - 255.0) < 1e-9 && means(1) == 0.0 && means(2) == 0.0,
      means.toString)
  }

  test("GIF frame sampling is evenly spaced and covers the tail (ceil stride)") {
    // 15 frames, max sample 8: floor stride would return frames 0-7
    // (first half only); ceil stride gives 0,2,...,14
    val gif = animatedGif((0 until 15).map(i => i * 0x111111),
      w = 8, h = 8, delayCs = 5)
    val info = Multimodal.VideoCodec.decodeGif(gif).get
    assert(info.nFrames == 15, info.toString)
    assert(info.sampledFrames.toSeq == Seq(0L, 2L, 4L, 6L, 8L, 10L, 12L, 14L),
      info.sampledFrames.toSeq.toString)
  }

  test("truncated GIF (valid magic, cut body) falls back to the stub, never crashes") {
    val gif = animatedGif(Seq(0xff0000, 0x00ff00), w = 16, h = 12, delayCs = 10)
    val cut = gif.take(gif.length / 3) // keeps "GIF89a", loses frame data
    val media = Seq((1L, "video", cut)).toDF("id", "kind", "payload")
    val r = Multimodal.extractFeatures(media, "id", "kind", "payload").head()
    assert(!r.getAs[Boolean]("decoded"), r.toString)
  }

  test("REAL mp4 metadata: checked-in ISO-BMFF fixture gives true dims/duration/codec/frames") {
    // fixture built by independent Python code straight from ISO/IEC
    // 14496-12 box layouts (NOT by the parser under test): mvhd
    // timescale 1000 / duration 2000 → 2000 ms; tkhd 320×240 in 16.16;
    // stsd first entry 'avc1'; stts runs 24+24 → 48 frames
    val mp4 = fixture("fixture_2s_320x240.mp4")
    val info = Multimodal.Mp4Codec.parse(mp4).get
    assert(info.width == 320 && info.height == 240, info.toString)
    assert(info.durationMs == 2000L, info.toString)
    assert(info.codec == "avc1", info.toString)
    assert(info.nFrames == 48, info.toString)
    // through the feature extractor: real metadata, no pixel decode
    val media = Seq((1L, "video", mp4)).toDF("id", "kind", "payload")
    val r = Multimodal.extractFeatures(media, "id", "kind", "payload").head()
    assert(r.getAs[Boolean]("decoded"), r.toString)
    assert(r.getAs[String]("codec") == "avc1", r.toString)
    assert(r.getAs[Int]("width") == 320 && r.getAs[Int]("height") == 240, r.toString)
    assert(r.getAs[Long]("duration_ms") == 2000L, r.toString)
    assert(r.getAs[Int]("channels") == 0, "no pixel decode claim")
    // ceil-stride frame-index sample over 48 frames
    assert(r.getSeq[Long](r.fieldIndex("frames_sampled")) ==
      Seq(0L, 6L, 12L, 18L, 24L, 30L, 36L, 42L), r.toString)
  }

  test("mp4 parser reads version-1 (64-bit) mvhd/tkhd boxes") {
    // v1 layouts per ISO/IEC 14496-12: mvhd v1 = 8-byte creation/
    // modification + u32 timescale @20 + u64 duration @24; tkhd v1 =
    // dims at payload offset 88. Assembled here independently of the
    // parser, like the Python-built v0 fixture.
    import java.nio.ByteBuffer
    def box(typ: String, payload: Array[Byte]): Array[Byte] = {
      val b = ByteBuffer.allocate(8 + payload.length)
      b.putInt(8 + payload.length).put(typ.getBytes("ISO-8859-1")).put(payload)
      b.array()
    }
    def full(typ: String, version: Int, payload: Array[Byte]): Array[Byte] =
      box(typ, Array[Byte](version.toByte, 0, 0, 0) ++ payload)
    val mvhd = full("mvhd", 1, {
      val b = ByteBuffer.allocate(8 + 8 + 4 + 8 + 80)
      b.putLong(0L).putLong(0L)       // creation, modification (u64)
      b.putInt(90000)                 // timescale
      b.putLong(270000L)              // duration -> 3000 ms
      b.array()
    })
    val tkhd = full("tkhd", 1, {
      val b = ByteBuffer.allocate(8 + 8 + 4 + 4 + 8 + 8 + 8 + 36 + 8)
      b.putLong(0L).putLong(0L)       // creation, modification (u64)
      b.putInt(1).putInt(0)           // track_ID, reserved
      b.putLong(270000L)              // duration (u64)
      b.putLong(0L)                   // reserved
      b.putShort(0).putShort(0).putShort(0).putShort(0) // layer/group/vol/resv
      for (v <- Seq(0x10000, 0, 0, 0, 0x10000, 0, 0, 0, 0x40000000))
        b.putInt(v)                   // matrix
      b.putInt(640 << 16).putInt(360 << 16)
      b.array()
    })
    val ftyp = box("ftyp", "isom".getBytes ++ Array[Byte](0, 0, 2, 0) ++ "isom".getBytes)
    val moov = box("moov", mvhd ++ box("trak", tkhd))
    val info = Multimodal.Mp4Codec.parse(ftyp ++ moov).get
    assert(info.durationMs == 3000L, info.toString)
    assert(info.width == 640 && info.height == 360, info.toString)
  }

  test("mp4 parser rejects truncated/garbage payloads and non-BMFF magic") {
    val mp4 = fixture("fixture_2s_320x240.mp4")
    assert(Multimodal.Mp4Codec.parse(mp4.take(40)).isEmpty, "truncated moov")
    assert(Multimodal.Mp4Codec.parse("not a video at all".getBytes).isEmpty)
    assert(Multimodal.Mp4Codec.parse(Array.empty[Byte]).isEmpty)
    // format sniff: ISO-BMFF recognized from the ftyp box
    assert(Multimodal.sniffFormat(mp4) == "isobmff")
  }

  test("undecodable payloads report decoded=false with zeroed features, never fake dims") {
    val media = Seq(
      (1L, "image", "hello".getBytes("UTF-8")),
      (2L, "audio", "world".getBytes("UTF-8")),
      (3L, "video", "!".getBytes("UTF-8")),
      (4L, "image", Array.empty[Byte])
    ).toDF("id", "kind", "payload")
    val out = Multimodal.extractFeatures(media, "id", "kind", "payload")
      .orderBy($"id").collect()
    val r1 = out(0)
    assert(r1.getAs[String]("digest") ==
      "2cf24dba5fb0a30e26e83b2ac5b9e29e1b161e5c1fa7425e73043362938b9824") // sha256("hello")
    assert(!r1.getAs[Boolean]("decoded") && r1.getAs[Int]("width") == 0)
    assert(!out(1).getAs[Boolean]("decoded") && out(1).getAs[Long]("duration_ms") == 0L)
    // video: the one remaining declared stub — flagged decoded=false
    assert(!out(2).getAs[Boolean]("decoded"))
    assert(out(2).getAs[Int]("width") > 0 && out(2).getAs[Long]("duration_ms") >= 0)
    assert(out(3).getAs[Long]("n_bytes") == 0L)
    // determinism: second run identical
    val again = Multimodal.extractFeatures(media, "id", "kind", "payload")
      .orderBy($"id").collect()
    assert(out.map(_.toString).toSeq == again.map(_.toString).toSeq)
  }

  test("REAL resize: decodable image comes back as a PNG of the target size") {
    import Multimodal.MediaRow
    val media = Seq(MediaRow(1L, "image", fixture("fixture_64x48.png"))).toDS()
    val out = Multimodal.resize(media, 32, 24).collect()
    assert(out.head.real && out.head.width == 32 && out.head.height == 24)
    // round-trip the payload through the codec: it IS a 32×24 image
    val back = javax.imageio.ImageIO.read(
      new java.io.ByteArrayInputStream(out.head.payload))
    assert(back != null && back.getWidth == 32 && back.getHeight == 24)
    // deterministic: PNG re-encode of the same source is byte-identical
    val again = Multimodal.resize(media, 32, 24).collect()
    assert(out.head.payload.sameElements(again.head.payload))
  }

  test("resize fallback keeps the distributed shape for undecodable payloads") {
    import Multimodal.MediaRow
    val media = Seq(
      MediaRow(1L, "image", "hello".getBytes("UTF-8")),
      MediaRow(2L, "image", "other content".getBytes("UTF-8"))).toDS()
    val out = Multimodal.resize(media, 64, 48).collect().sortBy(_.id)
    assert(out.forall(r => r.width == 64 && r.height == 48 && !r.real))
    assert(out.forall(_.payload.length == 64 * 48 / 4))
    // content-addressed: same source bytes → same resized bytes; different → different
    val again = Multimodal.resize(media, 64, 48).collect().sortBy(_.id)
    assert(out.zip(again).forall { case (a, b) => a.payload.sameElements(b.payload) })
    assert(!out(0).payload.sameElements(out(1).payload))
  }
}

class IntervalJoinSpec extends SparkSpec {
  import spark.implicits._
  import org.apache.spark.sql.functions._
  import graft.operators.IntervalJoin

  test("bucketed interval join finds exactly the in-tolerance pairs, once each") {
    val a = Seq((1L, 0L), (2L, 999999L), (3L, 5000000L)).toDF("a_id", "a_us")
    val b = Seq((10L, 1000000L), (11L, 6100000L)).toDF("b_id", "b_us")
    val got = IntervalJoin.join(a, b, "a_us", "b_us", 1000000L)
      .select($"a_id", $"b_id").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    // (1,10) delta exactly +tol (inclusive, crosses a bucket boundary),
    // (2,10) delta 1; (3,10) and (3,11) are out of tolerance
    assert(got.sorted.toSeq == Seq((1L, 10L), (2L, 10L)))
    assert(got.length == got.distinct.length, "no pair may be produced twice")
  }

  test("bucketed plan is a distributed equi-join; the naive predicate is a nested loop") {
    val a = spark.range(100).select($"id".as("a_id"), ($"id" * 7919L).as("a_us"))
    val b = spark.range(100).select($"id".as("b_id"), ($"id" * 6131L).as("b_us"))
    val bucketed = IntervalJoin.join(a, b, "a_us", "b_us", 1000L)
      .queryExecution.executedPlan.toString
    assert(!bucketed.contains("NestedLoop") && !bucketed.contains("Cartesian"),
      s"bucketed rewrite must not nested-loop:\n$bucketed")
    val naive = a.join(b, abs($"b_us" - $"a_us") <= 1000L)
      .queryExecution.executedPlan.toString
    assert(naive.contains("NestedLoop") || naive.contains("Cartesian"),
      "the raw non-equi predicate should demonstrate the plan this operator avoids")
  }
}

class KMeansSpec extends SparkSpec {
  import org.apache.spark.sql.functions._
  import graft.operators.Similarity

  private def sse(iters: Int): (Double, Long) = {
    val emb = spark.read.parquet(sf("embeddings"))
    val out = Similarity.kmeans(emb, "vec_id", "embedding", k = 4, iterations = iters)
      .agg(sum(col("sse")), sum(col("n_members"))).head()
    (out.getDouble(0), out.getLong(1))
  }

  test("Lloyd iterations never increase the SSE and keep every vector assigned") {
    val n = spark.read.parquet(sf("embeddings")).count()
    val (sse0, n0) = sse(0)
    val (sse2, n2) = sse(2)
    val (sse5, n5) = sse(5)
    assert(n0 == n && n2 == n && n5 == n, "every vector must be assigned to a cell")
    assert(sse2 <= sse0 + 1e-6, s"SSE rose after 2 rounds: $sse0 -> $sse2")
    assert(sse5 <= sse2 + 1e-6, s"SSE rose between rounds 2 and 5: $sse2 -> $sse5")
    assert(sse2 < sse0, "training on real embeddings should actually improve the objective")
  }

  test("k-means is deterministic across runs (no rand anywhere)") {
    val emb = spark.read.parquet(sf("embeddings"))
    def run() = Similarity.kmeans(emb, "vec_id", "embedding", k = 3, iterations = 2)
      .orderBy(col("cell")).collect()
      .map(r => (r.getInt(0), r.getLong(2), math.round(r.getDouble(3) * 1e6)))
    assert(run().toSeq == run().toSeq)
  }
}

class RangeFrameSpec extends SparkSpec {
  import org.apache.spark.sql.functions._
  import graft.operators.RangeFrame

  private def orders = spark.read.parquet(sf("orders")).select(
    col("o_orderstatus"), col("o_orderkey"),
    round(col("o_totalprice") * 100).cast("long").as("cents"))

  private def canon(df: org.apache.spark.sql.DataFrame): Seq[String] =
    df.orderBy(col("part"), col("id")).collect().map(_.toString).toSeq

  test("windowed and bucket-decomposed range frames are bit-identical") {
    val a = canon(RangeFrame.windowed(orders, "o_orderstatus", "o_orderkey", "cents", 100000L))
    val b = canon(RangeFrame.decomposed(orders, "o_orderstatus", "o_orderkey", "cents", 100000L))
    assert(a.nonEmpty && a == b,
      s"shapes diverge: ${a.size} vs ${b.size} rows")
  }

  test("the size gate switches shapes: window below the byte threshold, decomposed above") {
    // tiny threshold -> the optimizer's size estimate exceeds it ->
    // decomposed (plan contains the probe JOIN, no RANGE window);
    // huge threshold -> plain window (RANGE frame, no join)
    val below = RangeFrame.countSum(orders, "o_orderstatus", "o_orderkey",
      "cents", 100000L, decomposeOverBytes = Long.MaxValue)
    val above = RangeFrame.countSum(orders, "o_orderstatus", "o_orderkey",
      "cents", 100000L, decomposeOverBytes = 0L)
    val belowPlan = below.queryExecution.optimizedPlan.toString
    val abovePlan = above.queryExecution.optimizedPlan.toString
    assert(belowPlan.contains("specifiedwindowframe(RangeFrame"),
      s"window shape expected below the gate:\n$belowPlan")
    assert(!belowPlan.contains("Join"), "window shape must not join")
    assert(abovePlan.contains("Join"),
      s"decomposed shape expected above the gate:\n$abovePlan")
    // and both still agree on the answer
    assert(canon(below) == canon(above))
  }

  test("decomposed handles negative probe values and empty intermediate buckets") {
    import spark.implicits._
    // values straddle bucket boundaries with a gap (bucket 2 empty);
    // low probes go negative for small values
    val df = Seq(
      ("a", 1L, 5L), ("a", 2L, 90L), ("a", 3L, 100L), ("a", 4L, 350L),
      ("b", 5L, 0L), ("b", 6L, 400L)
    ).toDF("p", "id", "v")
    val a = canon(RangeFrame.windowed(df, "p", "id", "v", 100L))
    val b = canon(RangeFrame.decomposed(df, "p", "id", "v", 100L))
    assert(a == b, s"$a\nvs\n$b")
  }
}
