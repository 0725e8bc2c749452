package graft

import org.apache.spark.sql.{Column, SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}
import org.apache.spark.sql.functions.{call_function, lit}
import graft.functions.{Barrier, BloomMightContain, BpeTokenCount, CharEntropy, CosineSimilarity, DsirBuckets, LangId, SortedPairs, MinHashSignature, NearestCentroid, NgramHashes, RepetitionStats, ShingleHashes, TokenFingerprint, UnicodeNormalize, VecDot, WinnowStats, GramSpans}

/** Session extension registering graft's native expressions, for use via
  * `spark.sql.extensions=graft.GraftExtensions` or
  * `withExtensions(new GraftExtensions)` on a session builder.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    GraftFunctions.registry.foreach { case (name, info, builder) =>
      ext.injectFunction((FunctionIdentifier(name), info, builder))
    }
    ext.injectOptimizerRule(graft.plans.CorruptDateRebaseRule.apply)
  }
}

object GraftFunctions {
  /** Every native expression as (SQL name, info, builder): the one list
    * both the session extension and [[ensureRegistered]] install. */
  val registry: Seq[(String, ExpressionInfo, Seq[Expression] => Expression)] = Seq(
    (CosineSimilarity.name, CosineSimilarity.info, CosineSimilarity.builder),
    (MinHashSignature.name, MinHashSignature.info, MinHashSignature.builder),
    (UnicodeNormalize.name, UnicodeNormalize.info, UnicodeNormalize.builder),
    (BloomMightContain.name, BloomMightContain.info, BloomMightContain.builder),
    (LangId.name, LangId.info, LangId.builder),
    (TokenFingerprint.name, TokenFingerprint.info, TokenFingerprint.builder),
    (RepetitionStats.name, RepetitionStats.info, RepetitionStats.builder),
    (CharEntropy.name, CharEntropy.info, CharEntropy.builder),
    (NearestCentroid.name, NearestCentroid.info, NearestCentroid.builder),
    (DsirBuckets.name, DsirBuckets.info, DsirBuckets.builder),
    (SortedPairs.name, SortedPairs.info, SortedPairs.builder),
    (ShingleHashes.name, ShingleHashes.info, ShingleHashes.builder),
    (NgramHashes.name, NgramHashes.info, NgramHashes.builder),
    (BpeTokenCount.name, BpeTokenCount.info, BpeTokenCount.builder),
    (WinnowStats.name, WinnowStats.info, WinnowStats.builder),
    (VecDot.name, VecDot.info, VecDot.builder),
    (GramSpans.name, GramSpans.info, GramSpans.builder),
    (Barrier.name, Barrier.info, Barrier.builder))

  /** Idempotent runtime registration — for sessions (like the driver's)
    * that were built without the extensions conf. */
  def ensureRegistered(spark: SparkSession): Unit = {
    val reg = spark.sessionState.functionRegistry
    registry.foreach { case (name, info, builder) =>
      val id = FunctionIdentifier(name)
      if (!reg.functionExists(id)) reg.registerFunction(id, info, builder)
    }
    // sessions built without withExtensions still get the transparent
    // corrupt-date rebase via the user-provided optimizer batch; skip
    // when the extensions path already injected it (double installation
    // would run the rule in two batches on every optimization)
    val viaExtensions = spark.sessionState.optimizer.extendedOperatorOptimizationRules
      .exists(_.isInstanceOf[graft.plans.CorruptDateRebaseRule])
    if (!viaExtensions && !spark.experimental.extraOptimizations
        .exists(_.isInstanceOf[graft.plans.CorruptDateRebaseRule]))
      spark.experimental.extraOptimizations ++=
        Seq(graft.plans.CorruptDateRebaseRule(spark))
  }

  /** Column API for the native cosine (registers on first use). */
  def cosineNative(spark: SparkSession, a: Column, b: Column): Column = {
    ensureRegistered(spark)
    call_function(CosineSimilarity.name, a, b)
  }

  /** Zero-cost projection barrier (see [[graft.functions.Barrier]]):
    * fences an expensive computed-once column against CollapseProject
    * re-inlining into downstream per-element HOF lambdas — the
    * shuffle-free replacement for the old repartition-as-barrier. */
  def barrier(spark: SparkSession, c: Column): Column = {
    ensureRegistered(spark)
    call_function(Barrier.name, c)
  }

  /** Column API for the native nearest-centroid assignment kernel. */
  def nearestCentroidNative(spark: SparkSession, vec: Column, centroids: Column): Column = {
    ensureRegistered(spark)
    call_function(NearestCentroid.name, vec, centroids)
  }

  /** Column API for the native DSIR hashed-ngram bucket histogram. */
  def dsirBucketsNative(spark: SparkSession, tokens: Column): Column = {
    ensureRegistered(spark)
    call_function(DsirBuckets.name, tokens)
  }

  /** l38b production twin: xxhash64(seed 42) buckets instead of md5. */
  def dsirBucketsXxhNative(spark: SparkSession, tokens: Column): Column = {
    ensureRegistered(spark)
    call_function(DsirBuckets.name, tokens, lit(true))
  }

  /** Column API for the native all-(i<j)-pairs fan-out. */
  def sortedPairsNative(spark: SparkSession, arr: Column): Column = {
    ensureRegistered(spark)
    call_function(SortedPairs.name, arr)
  }

  /** Column API for the native one-pass shingle-hash array. */
  def shingleHashesNative(spark: SparkSession, text: Column): Column = {
    ensureRegistered(spark)
    call_function(ShingleHashes.name, text)
  }

  /** Column API for the native one-pass n-gram hash-key array. */
  def ngramHashesNative(
      spark: SparkSession, text: Column, n: Int,
      distinct: Boolean = true): Column = {
    ensureRegistered(spark)
    call_function(NgramHashes.name, text,
      org.apache.spark.sql.functions.lit(n),
      org.apache.spark.sql.functions.lit(distinct))
  }

  /** Column API for the native DSIR score fold (n, dot) over a histogram. */
  def vecDotNative(spark: SparkSession, counts: Column, weights: Column): Column = {
    ensureRegistered(spark)
    call_function(VecDot.name, counts, weights)
  }

  /** Column API for the native one-pass word n-gram string-span array. */
  def gramSpansNative(
      spark: SparkSession, text: Column, n: Int, clamp: Boolean): Column = {
    ensureRegistered(spark)
    call_function(GramSpans.name, text,
      org.apache.spark.sql.functions.lit(n),
      org.apache.spark.sql.functions.lit(clamp))
  }

  /** Column API for the native one-pass winnowing signature summary. */
  def winnowStatsNative(
      spark: SparkSession, text: Column, k: Int, w: Int): Column = {
    ensureRegistered(spark)
    call_function(WinnowStats.name, text,
      org.apache.spark.sql.functions.lit(k),
      org.apache.spark.sql.functions.lit(w))
  }

  /** Column API for the native priority-merge BPE token count. */
  def bpeTokenCountNative(
      spark: SparkSession, text: Column,
      merges: Seq[(String, String)]): Column = {
    ensureRegistered(spark)
    call_function(BpeTokenCount.name, text,
      org.apache.spark.sql.functions.typedlit(merges.map(_._1)),
      org.apache.spark.sql.functions.typedlit(merges.map(_._2)))
  }

  /** Column API for the native one-pass MinHash signature. */
  def minhashNative(spark: SparkSession, hashes: Column, numHashes: Int): Column = {
    ensureRegistered(spark)
    call_function(MinHashSignature.name, hashes,
      org.apache.spark.sql.functions.lit(numHashes))
  }

  /** Column API for the native one-pass language ID. */
  def langIdNative(spark: SparkSession, text: Column): Column = {
    ensureRegistered(spark)
    call_function(LangId.name, text)
  }

  /** Column API for the native rolling token fingerprint. */
  def fingerprintNative(spark: SparkSession, text: Column): Column = {
    ensureRegistered(spark)
    call_function(TokenFingerprint.name, text)
  }

  /** Column API for the native one-pass repetition metrics struct. */
  def repetitionNative(spark: SparkSession, text: Column): Column = {
    ensureRegistered(spark)
    call_function(RepetitionStats.name, text)
  }

  /** Column API for the native one-pass char-entropy struct. */
  def charEntropyNative(spark: SparkSession, text: Column): Column = {
    ensureRegistered(spark)
    call_function(CharEntropy.name, text)
  }

  /** Column API for native Unicode normalization (NFC/NFD/NFKC/NFKD). */
  def normalizeNative(spark: SparkSession, s: Column, form: String = "NFC"): Column = {
    ensureRegistered(spark)
    call_function(UnicodeNormalize.name, s,
      org.apache.spark.sql.functions.lit(form))
  }
}
