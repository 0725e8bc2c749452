package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Text analysis for training-data pipelines (SURVEY §2B L3 family):
  * language ID (stopword heuristic), quality scoring, token counting
  * (whitespace + BPE-ish regex), and document fingerprinting (rolling
  * hash). All pure Column expressions — codegen'd, shuffle-free, scale
  * linearly with the scan.
  */
object TextAnalysis {

  /** Tiny public stopword lists per language (top function words). */
  val stopwords: Map[String, Seq[String]] = Map(
    "en" -> Seq("the", "and", "of", "to", "in", "is", "a", "that", "it", "for"),
    "de" -> Seq("der", "die", "und", "das", "ist", "von", "zu", "den", "ein", "nicht"),
    "es" -> Seq("el", "la", "de", "que", "y", "en", "los", "se", "del", "un"),
    "fr" -> Seq("le", "la", "et", "les", "des", "de", "un", "une", "du", "est"),
    "it" -> Seq("il", "la", "di", "che", "e", "un", "per", "una", "del", "non"))

  /** Heuristic language ID: argmax of stopword hits per language, with a
    * CJK-character override; "und" (undetermined) when nothing matches.
    * Argmax via array_max over (score, -langIndex) structs — pure
    * Column, deterministic tie-break by list order.
    *
    * This is the REFERENCE composition: five array_intersect passes per
    * row. The hot path is the native one-pass
    * [[graft.functions.LangId]] (`GraftFunctions.langIdNative`),
    * property-tested bit-identical against this form. */
  def languageId(text: Column): Column = {
    val toks = split(lower(text), "\\s+")
    val scored = stopwords.toSeq.sortBy(_._1).zipWithIndex.map {
      case ((lang, words), i) =>
        struct(
          size(array_intersect(toks, typedlit(words.toArray))).as("score"),
          lit(-i).as("ord"),
          lit(lang).as("lang"))
    }
    val best = array_max(array(scored: _*))
    when(length(regexp_replace(text, "[^\\u4e00-\\u9fff]", "")) > 0, lit("zh"))
      .when(best.getField("score") > 0, best.getField("lang"))
      .otherwise(lit("und"))
  }

  /** Quality metrics as a struct of integer-safe components plus a
    * composite score in [0,1] (rounded to 4 dp).
    *
    * Token counting here is single-space-delimited (spaces+1) by design:
    * it matches the SQL-oracle formula exactly and the corpus contract
    * (documents are single-space tokenized). Mixed-whitespace corpora
    * should pre-normalize with `regexp_replace(text, "\\s+", " ")`. */
  def qualityMetrics(text: Column): Column = {
    val len = length(text)
    val nSpaces = len - length(regexp_replace(text, " ", ""))
    val nTokens = nSpaces + 1
    val nUpper = length(regexp_replace(text, "[^A-Z]", ""))
    val nDigit = length(regexp_replace(text, "[^0-9]", ""))
    val nPunct = len - length(regexp_replace(text, "[\\p{Punct}]", ""))
    val meanTokLen = (len - nSpaces).cast("double") / nTokens
    val score = round(
      greatest(lit(0.0), least(lit(1.0),
        lit(1.0)
          - (nPunct.cast("double") / greatest(len, lit(1))) * 2.0
          - (nDigit.cast("double") / greatest(len, lit(1)))
          - when(meanTokLen < 2.0 || meanTokLen > 12.0, 0.3).otherwise(0.0)
          - when(nTokens < 5, 0.3).otherwise(0.0))), 4)
    struct(nTokens.as("n_tokens"), nUpper.as("n_upper"), nDigit.as("n_digit"),
      nPunct.as("n_punct"), round(meanTokLen, 4).as("mean_tok_len"),
      score.as("quality"))
  }

  /** BPE-ish token count: GPT-2-style pre-tokenizer regex (contractions,
    * letter runs, digit runs, punctuation runs). */
  def bpeishTokenCount(text: Column): Column =
    size(regexp_extract_all(text,
      lit("'(?:s|t|re|ve|m|ll|d)| ?\\p{L}+| ?\\p{N}+| ?[^\\s\\p{L}\\p{N}]+"), lit(0)))

  /** Rolling polynomial fingerprint over word tokens, computed mod
    * 2^31-1 so the accumulator never overflows (ANSI-safe).
    *
    * This is the REFERENCE composition: an interpreted HOF fold over a
    * materialized token array. The hot path is the native zero-alloc
    * [[graft.functions.TokenFingerprint]]
    * (`GraftFunctions.fingerprintNative`), property-tested bit-identical
    * against this form. */
  def rollingFingerprint(text: Column): Column = {
    val M = 2147483647L
    aggregate(split(text, " "), lit(0L),
      (acc, t) => pmod(acc * 1000003L + pmod(xxhash64(t), lit(M)), lit(M)))
  }

  /** Repetition metrics (Gopher-style quality filters) as a pure
    * per-row Column — word counts, distinct-word count, top-word run —
    * computed WITHIN each document, so the corpus scan stays
    * shuffle-free (the explode + groupBy(doc, word) formulation shuffles
    * every token of a 100 TB corpus twice to answer a per-document
    * question). The top word count is the longest run in the sorted
    * token array, found by one O(tokens) fold; the fold state is a
    * (prev, run, best) struct and the lambda touches only the element
    * and the accumulator, so nothing is re-evaluated per element.
    *
    * Struct fields: n_words, n_distinct_words, top_word_ratio,
    * distinct_frac (ratios rounded to 6 dp, matching the SQL oracle).
    *
    * This is the REFERENCE composition: an interpreted HOF fold over a
    * sorted token array. The hot path is the native one-pass
    * [[graft.functions.RepetitionStats]]
    * (`GraftFunctions.repetitionNative`), property-tested bit-identical
    * against this form — the max word multiplicity it counts equals the
    * longest sorted-run this fold finds. */
  def repetitionMetrics(text: Column): Column = {
    val ws = split(text, " ")
    val nWords = size(ws)
    val nDistinct = size(array_distinct(ws))
    val folded = aggregate(
      array_sort(ws),
      struct(lit(null).cast("string").as("prev"), lit(0L).as("run"),
        lit(0L).as("best")),
      (acc, w) => {
        val run = when(w === acc.getField("prev"),
          acc.getField("run") + 1L).otherwise(1L)
        struct(w.as("prev"), run.as("run"),
          greatest(acc.getField("best"), run).as("best"))
      })
    val topCount = folded.getField("best")
    struct(
      nWords.cast("long").as("n_words"),
      nDistinct.cast("long").as("n_distinct_words"),
      round(topCount.cast("double") / nWords, 6).as("top_word_ratio"),
      round(nDistinct.cast("double") / nWords, 6).as("distinct_frac"))
  }

  /** Unigram language-model score per document — the perplexity-proxy
    * quality filter (CCNet-style): documents whose tokens are
    * improbable under the corpus unigram distribution score low
    * (gibberish, boilerplate soup, wrong-language text).
    *
    * Two passes, both corpus-scale-shaped: (1) vocabulary statistics —
    * one combiner-friendly token count (a natural-language vocabulary
    * is millions of rows at most, orders below the corpus); (2) scoring
    * — explode + broadcast-join the vocab + one keyed aggregation per
    * doc. The per-token log-prob is FLOOR-scaled to integer micro-nats
    * first (floor of identical IEEE doubles is engine-independent, where
    * the two engines' round() algorithms disagree near midpoints) and
    * summed as BIGINT, so the per-doc mean is exact-integer-derived and
    * independent of summation order.
    *
    * Output: (id, n_toks, lm_score_micro) with lm_score_micro =
    * floor(mean per-token micro-log-prob). */
  def unigramLmScore(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val toks = df.filter(col(textCol).isNotNull)
      .select(col(idCol).as("id"), explode(split(col(textCol), " ")).as("tok"))
    val counts = toks.groupBy(col("tok")).agg(count(lit(1)).as("cnt"))
    // grand total from the vocab counts, not a separate corpus scan —
    // the counts exchange is identical in both branches so Spark reuses
    // it (ReusedExchange), keeping this a stats pass over vocab-sized
    // data rather than a third corpus pass
    val total = counts.agg(sum(col("cnt")).as("total"))
    val vocab = counts
      .crossJoin(broadcast(total))
      .select(col("tok"),
        floor(log(col("cnt").cast("double") / col("total")) * 1e6).as("logpm"))
    toks.join(broadcast(vocab), Seq("tok"))
      .groupBy(col("id"))
      .agg(count(lit(1)).as("n_toks"),
        floor(sum(col("logpm")).cast("double") / count(lit(1)))
          .as("lm_score_micro"))
  }

  /** Interpolated bigram LM score per document — the next step up from
    * [[unigramLmScore]]'s perplexity proxy: Jelinek-Mercer smoothing,
    * p(w|h) = 0.75·c(h,w)/c(h) + 0.25·c(w)/N. A bigram model separates
    * shuffled-word soup from coherent text, which a unigram model is
    * blind to — the standard second quality gate.
    *
    * Scale shape: bigram pairs are generated SCAN-LOCALLY from each
    * document's token array (never a positional self-join of the
    * exploded corpus); unigram and bigram count tables are
    * vocabulary-sized with map-side combine; scoring joins are keyed on
    * the gram (AQE broadcasts them while they fit, shuffles beyond);
    * the per-doc aggregation is one keyed exchange. Per-pair log-probs
    * are FLOOR-scaled to integer micro-nats before the BIGINT sum (the
    * l10 recipe: floor of identical IEEE doubles is engine-independent
    * where round() is not), so the final score is exact-integer-derived
    * and summation-order-independent.
    *
    * Output: (id, n_bigrams, lm2_score_micro) — docs with ≥2 tokens. */
  def bigramLmScore(
      df: DataFrame, idCol: String, textCol: String,
      broadcastModel: Boolean = false): DataFrame = {
    val spark = df.sparkSession
    val base = df.filter(col(textCol).isNotNull)
    // the gram stream: ONE native byte-span pass per reference
    // (graft_gram_spans — the transform(sequence(...), struct(...))
    // HOF build it replaces evaluated INTERPRETED per row and was the
    // query's dominant per-row cost; bit-equality pinned in
    // NativeExprPropertySpec). The gram travels as the SINGLE string
    // "prev cur" — the document's original byte span — so every
    // downstream exchange, aggregation, and join probe keys one string
    // instead of a two-string struct. clamp = false: sub-2-token docs
    // contribute no bigrams, exactly like the old size >= 2 filter.
    def bigrams = base.select(col(idCol).as("id"),
      explode(graft.GraftFunctions
        .gramSpansNative(spark, col(textCol), 2, clamp = false)).as("g"))
    val uni = base.select(explode(split(col(textCol), " ")).as("w"))
      .groupBy(col("w")).agg(count(lit(1)).as("cu"))
    val total = uni.agg(sum(col("cu")).as("n"))
    val big = bigrams.groupBy(col("g")).agg(count(lit(1)).as("cb"))
    // fuse the three count tables FIRST: big⋈uni⋈uni⋈total moves only
    // vocab-sized data, yielding one (g, lp) lookup. prev/cur reappear
    // here by splitting the gram at its FIRST space (tokens cannot
    // contain spaces; empty tokens split back correctly) — vocab-sized
    // work. The raw gram stream then crosses exactly ONE join (AQE
    // broadcasts the lookup at small scale; past the threshold it
    // degrades to a single stream shuffle on the gram key). Per-
    // occurrence lp values are unchanged, so the exact BIGINT sums —
    // and the oracle hash — are too.
    val scored = big
      .withColumn("prev", substring_index(col("g"), " ", 1))
      .withColumn("cur", expr("substring(g, instr(g, ' ') + 1)"))
      .join(uni.select(col("w").as("prev"), col("cu").as("cup")), Seq("prev"))
      .join(uni.select(col("w").as("cur"), col("cu").as("cuc")), Seq("cur"))
      .crossJoin(broadcast(total))
      .select(col("g"),
        floor(log(
          lit(0.75) * col("cb").cast("double") / col("cup") +
            lit(0.25) * col("cuc").cast("double") / col("n")) * 1e6)
          .as("lp"))
    // broadcastModel: the (g, lp) model is VOCABULARY-sized — it does
    // not grow with corpus VOLUME once the vocabulary saturates, but it
    // is data-derived, so it is not "provably small" by schema the way
    // a dimension table is. AQE broadcasts it while its measured
    // shuffle size fits the (conservative, 10 MB) threshold; past that
    // it degrades the stream to a gram-keyed shuffle — correct on a
    // cluster, but measured 4.8× the broadcast plan single-node at
    // sf10 (53.1 vs 11.1 s, BASELINE.md r11d) because the 26.5M-row
    // stream pays a string-keyed exchange to meet a 12 MB model.
    // Callers that have MEASURED the vocabulary (the l36 QDef gates on
    // a statsCache'd approx-distinct-gram count per source version —
    // the l13/w3b cached-stat precedent) pass broadcastModel = true
    // and keep the exchange-free stream at any volume the gate admits.
    bigrams
      .join(if (broadcastModel) broadcast(scored) else scored, Seq("g"))
      .groupBy(col("id"))
      .agg(count(lit(1)).as("n_bigrams"),
        floor(sum(col("lp")).cast("double") / count(lit(1)))
          .as("lm2_score_micro"))
  }

  /** TF-IDF top-k keywords per document — the classic content-signature
    * op (keyword extraction, near-dup explanation, topic drift
    * monitoring). Shapes: one explode + groupBy(doc, tok) with map-side
    * combine; document frequencies are vocab-sized and BROADCAST back;
    * the per-doc ranking window runs on the same doc key the aggregation
    * just shuffled on, so no extra exchange.
    *
    * Determinism: tf is an exact rational (count/len); idf and the
    * final score are FLOOR-scaled to integer micro-units rather than
    * round()ed — Spark's round (BigDecimal HALF_UP) and DuckDB's round
    * (double multiply) are different algorithms that disagree on
    * midpoint-adjacent values, while floor of the same IEEE double is
    * computed identically by both engines. Ties rank by token ascending.
    *
    * Output: (id, tok, rank, tfidf_micro), rank 1..k per doc;
    * tfidf_micro = floor(tf × idf × 1e6) as BIGINT. */
  def tfidfTopK(df: DataFrame, idCol: String, textCol: String, k: Int,
      repartitionById: Boolean = true): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // one exchange on the doc id up front: HashPartitioning(id) satisfies
    // the (id, tok) aggregation's clustering AND both per-doc windows, so
    // neither adds a shuffle (a groupBy(id, tok) straight off the scan
    // would hash-partition by the pair, and the windows would re-exchange
    // by id). repartitionById = false is the layout path (l26's
    // materialize = false precedent): the caller hands in a frame
    // ALREADY hash-partitioned by the id (an id-bucketed layout) and
    // even that one exchange disappears — the caller owns the contract
    // that the partitioning is real (a mis-partitioned input would
    // split (id, tok) groups and corrupt counts; the l11 oracle gate
    // recomputes from the live table, so a broken layout fails loudly).
    val toksFlat = df.filter(col(textCol).isNotNull)
      .select(col(idCol).as("id"), explode(split(col(textCol), " ")).as("tok"))
    val toks = if (repartitionById) toksFlat.repartition(col("id")) else toksFlat
    // LAZY checkpoint: tf feeds BOTH the idf aggregation (broadcast
    // side) and the scored main side — without it the token explosion,
    // id exchange, and (id, tok) aggregation execute twice in the one
    // final job (ReuseExchange dedupes only the exchange, not the agg
    // above it). No race: the broadcast build is a dependency of the
    // main stage, so it materializes the checkpoint first and the main
    // side reads blocks. r9 A/B at sf0.1: 0.76 → 0.69 s.
    val tf = toks.groupBy(col("id"), col("tok")).agg(count(lit(1)).as("c"))
      .localCheckpoint(false)
    val nDocs = df.filter(col(textCol).isNotNull)
      .agg(countDistinct(col(idCol)).as("n_docs"))
    val dfreq = tf.groupBy(col("tok")).agg(count(lit(1)).as("df"))
      .crossJoin(broadcast(nDocs))
      // idf in micro-nats: floor(ln(n/df) * 1e6) — integer from here on
      .select(col("tok"),
        floor(log(col("n_docs").cast("double") / col("df")) * 1e6).as("idfm"))
    val wLen = Window.partitionBy(col("id"))
    val wRank = Window.partitionBy(col("id"))
      .orderBy(col("tfidf_micro").desc_nulls_last, col("tok").asc_nulls_first)
    tf.join(broadcast(dfreq), Seq("tok"))
      // idfm is already micro-scaled, so tf × idfm IS the micro score
      .withColumn("tfidf_micro",
        floor(col("c").cast("double") / sum(col("c")).over(wLen) * col("idfm")))
      .withColumn("rank", row_number().over(wRank))
      .filter(col("rank") <= k)
      .select(col("id"), col("tok"), col("rank"), col("tfidf_micro"))
  }

  /** BM25 retrieval scores for a fixed term set — the ranking function
    * behind corpus search / eval-set retrieval (Robertson-Sparck Jones,
    * the `+1` idf variant so scores stay positive for terms in >half
    * the corpus).
    *
    * Determinism contract: idf is floor-scaled to integer micro-nats
    * FIRST (ln is the only transcendental, and floor of identical
    * doubles is stable where round() near midpoints is not); the
    * saturation fraction tf·(k1+1)/(tf + k1·(1−b+b·dl/avgdl)) is pure
    * IEEE +,*,/ on doubles — bit-identical across engines given the
    * same operation order, which the DuckDB oracle mirrors token for
    * token — and the per-doc total sums the floored BIGINT micro
    * scores, so it is summation-order-independent.
    *
    * Scale shape: corpus stats (N, avgdl, per-term df) are tiny
    * broadcast sides; the only shuffle is the (id, tok) tf aggregation
    * over query-term postings (the `isin` filter prunes the token
    * stream to the terms, so the exchange carries O(postings), not the
    * corpus); top-k is TakeOrdered (per-partition heads + driver merge
    * of k rows), never a global sort. */
  def bm25TopK(
      df: DataFrame,
      idCol: String,
      textCol: String,
      terms: Seq[String],
      k: Int,
      k1: Double = 1.2,
      b: Double = 0.75): DataFrame = {
    val toks = df.filter(col(textCol).isNotNull)
      .select(col(idCol).as("id"), explode(split(col(textCol), " ")).as("tok"))
    val docLen = toks.groupBy(col("id")).agg(count(lit(1)).as("dl"))
    // N and avgdl: one row, broadcast; avgdl division mirrored in SQL
    val stats = docLen.agg(
      count(lit(1)).as("n_docs"),
      (sum(col("dl")).cast("double") / count(lit(1))).as("avgdl"))
    val tf = toks.filter(col("tok").isin(terms: _*))
      .groupBy(col("id"), col("tok")).agg(count(lit(1)).as("tf"))
    val dfreq = tf.groupBy(col("tok")).agg(count(lit(1)).as("df"))
      .crossJoin(broadcast(stats))
      .select(col("tok"),
        floor(log(lit(1.0) + (col("n_docs") - col("df") + lit(0.5))
          / (col("df") + lit(0.5))) * 1e6).cast("long").as("idfm"),
        col("avgdl"))
    val scored = tf
      .join(broadcast(dfreq), Seq("tok"))
      .join(docLen, Seq("id"))
      .select(col("id"),
        floor(col("idfm") * (col("tf").cast("double") * lit(k1 + 1.0)
          / (col("tf").cast("double")
            + lit(k1) * (lit(1.0 - b) + lit(b) * (col("dl").cast("double") / col("avgdl"))))))
          .cast("long").as("score_micro"))
      .groupBy(col("id"))
      .agg(sum(col("score_micro")).as("bm25_micro"),
        count(lit(1)).as("n_terms"))
    scored
      .orderBy(col("bm25_micro").desc, col("id").asc)
      .limit(k)
  }

  /** Sliding token-window chunking — the context-window prep step
    * between a cleaned corpus and a tokenizer: each document becomes
    * ceil(n_tokens / stride) chunks of up to `chunkSize` whitespace
    * tokens starting every `stride` tokens (overlap = chunkSize −
    * stride preserves cross-boundary context for training / RAG
    * retrieval).
    *
    * Scale shape: a single scan-linear projection — the token array is
    * materialized once per row, the start offsets are a generated
    * sequence, and explode multiplies rows by ~n_tokens/stride with no
    * shuffle at all; chunk output order inside a doc is the sequence
    * index (deterministic). Short docs (< chunkSize tokens) yield one
    * clamped chunk; slice never reads past the array end.
    *
    * Output: (doc_id, chunk_id, chunk_text, n_tokens). */
  def chunkTokens(
      df: DataFrame, idCol: String, textCol: String,
      chunkSize: Int, stride: Int): DataFrame = {
    require(stride > 0 && chunkSize >= stride,
      s"need chunkSize >= stride > 0, got chunkSize=$chunkSize stride=$stride")
    // n_tokens is closed-form from the slice bounds (`slice` clamps at the
    // array end and every start offset s ≤ size−1, so the count is
    // min(chunkSize, size−s) ≥ 1) — re-splitting the chunk text it just
    // assembled would tokenize the whole corpus a second time (~2.3× the
    // string work at 16-token overlap; VERDICT r6 "what's wrong" #1)
    df.filter(col(textCol).isNotNull)
      .select(col(idCol).as("doc_id"), split(col(textCol), " ").as("__t"))
      .select(col("doc_id"), posexplode(expr(
        s"transform(sequence(0, greatest(size(__t) - 1, 0), $stride)," +
          s" s -> struct(concat_ws(' ', slice(__t, s + 1, $chunkSize)) AS chunk_text," +
          s"            least($chunkSize, size(__t) - s) AS n_tokens))")))
      .select(col("doc_id"), col("pos").cast("int").as("chunk_id"),
        col("col.chunk_text").as("chunk_text"),
        col("col.n_tokens").as("n_tokens"))
  }

  /** BPE vocabulary induction — learn the first `nMerges` byte-pair
    * merges over the corpus, the greedy algorithm every subword
    * tokenizer's training loop runs (Sennrich et al., ACL'16 — public
    * algorithm).
    *
    * Distributed shape: ONE full-corpus job — the word count, whose
    * exchange carries one row per distinct word (map-side combined) —
    * then a single bounded collect of the `maxVocab` most frequent
    * words (count DESC, word ASC — deterministic truncation). The merge
    * loop itself runs driver-local over that dictionary with
    * incremental pair-count maintenance, which is how production BPE
    * trainers work (HuggingFace tokenizers, SentencePiece): training
    * state is a word-count dictionary, not the corpus, and a corpus's
    * distinct-word count grows ~Heaps-law sublinearly, so the
    * dictionary stays driver-sized at 100 TB. The previous
    * implementation ran one Spark job + one argmax collect PER MERGE —
    * O(merges) sequential driver round-trips, a driver bottleneck by
    * construction at real vocabulary sizes (30k–50k merges); this form
    * is O(1) jobs regardless of nMerges.
    *
    * Sample-fidelity contract: with at most `maxVocab` distinct words
    * in the corpus the result is EXACTLY the full greedy fixpoint
    * (bit-identical to the per-round distributed form — pinned in
    * BpeMergesSpec). Past that, the lowest-count words are dropped
    * before training, so a learned merge can differ from the
    * untruncated answer only where two pairs' counts are within the
    * dropped tail mass — the standard trainer trade-off, and the
    * reason real tokenizers cap their word dictionaries the same way.
    *
    * Greedy semantics (identical to the per-round form): pair counts
    * sum c(word) over ALL adjacent symbol positions (overlapping:
    * "aaa" contributes (a,a) twice); argmax by (count DESC, left ASC,
    * right ASC) in UTF-8 byte order (Spark's string order — NOT
    * String.compareTo, which disagrees on supplementary characters);
    * the winning pair rewrites every word left-to-right non-overlapping
    * ("aaaa" + (a,a) → (aa)(aa)). A merged pair can never re-form (a
    * merge only concatenates existing adjacent symbols), so the
    * lazy-invalidation priority queue over pair counts is sound.
    *
    * Output: (rank, left, right, pair_count) — rank 1-based merge
    * order; fewer than nMerges rows when the vocabulary runs out of
    * repeated pairs (or is empty). */
  def bpeMerges(
      df: DataFrame, textCol: String, nMerges: Int,
      maxVocab: Int = 1 << 18): DataFrame = {
    require(nMerges >= 1 && nMerges <= 65536,
      s"nMerges in [1,65536], got $nMerges")
    require(maxVocab >= 1, "maxVocab must be positive")
    val spark = df.sparkSession
    val sep = "\u0001" // reserved by the application side; such words drop
    // the ONE distributed job: word → corpus count, deterministically
    // truncated to the maxVocab most frequent (TakeOrderedAndProject —
    // per-partition heaps, never a full sort)
    val rows = df.filter(col(textCol).isNotNull)
      .select(explode(split(col(textCol), " ")).as("w"))
      .filter(col("w") =!= "" && !col("w").contains(sep))
      .groupBy(col("w")).agg(count(lit(1)).as("c"))
      .orderBy(col("c").desc, col("w").asc)
      .limit(maxVocab)
      .collect()

    // ---- driver-local greedy trainer ----
    import scala.collection.mutable
    // symbols per word: Spark's split(w, '') — one element per char, no
    // trailing empty — is Java's split("") at the default limit
    val words: Array[Array[String]] = rows.map(_.getString(0).split(""))
    val counts: Array[Long] = rows.map(_.getLong(1))

    // UTF-8 byte order = Spark UTF8String order (code-point order)
    def cmpUtf8(a: String, b: String): Int = {
      val x = a.getBytes(java.nio.charset.StandardCharsets.UTF_8)
      val y = b.getBytes(java.nio.charset.StandardCharsets.UTF_8)
      var i = 0
      val n = math.min(x.length, y.length)
      while (i < n) {
        val d = (x(i) & 0xff) - (y(i) & 0xff)
        if (d != 0) return d
        i += 1
      }
      x.length - y.length
    }

    val pairCount = mutable.HashMap.empty[(String, String), Long]
    // pair → ids of words that (at some point) contained it; entries go
    // stale after rewrites and are re-checked on use (lazy deletion). A
    // word is appended once per run of additions, not once per position:
    // a repeated id is a no-op on use (a merged pair never re-forms)
    val occ = mutable.HashMap.empty[(String, String), mutable.ArrayBuffer[Int]]
    val touched = mutable.HashSet.empty[(String, String)]
    def addPairs(wi: Int, sign: Long): Unit = {
      val s = words(wi)
      var i = 0
      while (i < s.length - 1) {
        val p = (s(i), s(i + 1))
        val n = pairCount.getOrElse(p, 0L) + sign * counts(wi)
        if (n == 0L) pairCount.remove(p) else pairCount(p) = n
        touched += p
        if (sign > 0) {
          val ids = occ.getOrElseUpdate(p, mutable.ArrayBuffer.empty)
          if (ids.isEmpty || ids.last != wi) ids += wi
        }
        i += 1
      }
    }
    var w0 = 0
    while (w0 < words.length) { addPairs(w0, 1L); w0 += 1 }

    // max-heap by (count, then pair ASC); stale entries (count changed
    // since push) are discarded on pop — every live count has a current
    // entry because every count change pushes one
    case class E(c: Long, l: String, r: String)
    implicit val ord: Ordering[E] = new Ordering[E] {
      def compare(a: E, b: E): Int = {
        val d = java.lang.Long.compare(a.c, b.c)
        if (d != 0) d
        else {
          val dl = cmpUtf8(b.l, a.l)
          if (dl != 0) dl else cmpUtf8(b.r, a.r)
        }
      }
    }
    val pq = mutable.PriorityQueue.empty[E]
    pairCount.foreach { case ((l, r), c) => pq.enqueue(E(c, l, r)) }

    def containsPair(s: Array[String], l: String, r: String): Boolean = {
      var i = 0
      while (i < s.length - 1) {
        if (s(i) == l && s(i + 1) == r) return true
        i += 1
      }
      false
    }
    def rewrite(s: Array[String], l: String, r: String): Array[String] = {
      val out = new mutable.ArrayBuffer[String](s.length)
      var i = 0
      while (i < s.length) {
        if (i < s.length - 1 && s(i) == l && s(i + 1) == r) {
          out += l + r; i += 2
        } else { out += s(i); i += 1 }
      }
      out.toArray
    }

    val merges = Seq.newBuilder[(Int, String, String, Long)]
    var rank = 0
    while (rank < nMerges && pq.nonEmpty) {
      val e = pq.dequeue()
      val cur = pairCount.getOrElse((e.l, e.r), 0L)
      if (cur == e.c) { // live entry — the true argmax this round
        rank += 1
        merges += ((rank, e.l, e.r, cur))
        touched.clear()
        val members = occ.remove((e.l, e.r))
          .getOrElse(mutable.ArrayBuffer.empty[Int])
        members.foreach { w =>
          if (containsPair(words(w), e.l, e.r)) {
            addPairs(w, -1L)
            words(w) = rewrite(words(w), e.l, e.r)
            addPairs(w, 1L)
          }
        }
        touched.foreach { p =>
          pairCount.get(p).foreach(c => pq.enqueue(E(c, p._1, p._2)))
        }
      } // else: stale snapshot, drop it
    }
    spark.createDataFrame(merges.result())
      .toDF("rank", "left", "right", "pair_count")
  }

  /** Apply a learned BPE merge sequence to a corpus — the tokenizer
    * APPLICATION side of [[bpeMerges]]. graft_bpe_token_count
    * ([[graft.functions.BpeTokenCount]]) counts each document's tokens
    * with the priority algorithm: per space-split word, repeatedly merge
    * the lowest-rank pair present, leftmost first. That costs
    * O(word_len · log word_len) per word INDEPENDENT of |merges|, where
    * a sequential replay pays one full-text pass PER MERGE (fine at 8,
    * hopeless at a 50k vocabulary). Equivalence with the sequential
    * replay for trained tables is pinned in BpeApplySpec. Scan-linear,
    * no shuffle.
    *
    * Output: (id, n_chars, n_bpe_tokens, chars_per_token_micro) — the
    * compression ratio floor-scaled to micro units over the non-space
    * characters. */
  def applyBpeMerges(
      df: DataFrame, idCol: String, textCol: String,
      merges: Seq[(String, String)]): DataFrame = {
    val nChars = length(col(textCol))
    val nSpaces = nChars - length(regexp_replace(col(textCol), " ", ""))
    val nTokens = graft.GraftFunctions.bpeTokenCountNative(
      df.sparkSession, col(textCol), merges)
    df.filter(col(textCol).isNotNull && col(textCol) =!= "")
      .select(col(idCol).as("id"), nChars.as("n_chars"),
        nTokens.as("n_bpe_tokens"),
        floor((nChars - nSpaces).cast("double") * 1e6 /
          greatest(nTokens, lit(1))).cast("long").as("chars_per_token_micro"))
  }

  /** Hashed bag-of-words linear scorer — the fastText-style shape every
    * model-based quality filter at corpus scale reduces to: token →
    * feature bucket by hashing (no vocabulary to fit in memory), bucket
    * → weight lookup, document score = Σ weights, keep/drop by sign.
    * A trained model would broadcast its weight vector; here the weight
    * is a fixed affine function of the bucket id so the whole scorer is
    * deterministic and portable to the oracle engine (the md5-hex
    * bucketing and the (b·37+11) mod 257 − 128 weight are pure integer
    * arithmetic both engines evaluate identically).
    *
    * Scale shape: explode + scalar hash + one doc-keyed sum — partial
    * aggregation absorbs the token fan-out map-side, so the exchange
    * carries one row per document, not per token.
    *
    * Output: (doc_id, n_tok, score, label). */
  def hashedLinearScore(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.filter(col(textCol).isNotNull)
      .select(col(idCol).as("doc_id"),
        explode(split(col(textCol), " ")).as("tok"))
      .withColumn("w", expr(
        "((((instr('0123456789abcdef', substring(md5(tok), 1, 1)) - 1) * 16" +
          " + (instr('0123456789abcdef', substring(md5(tok), 2, 1)) - 1))" +
          " * 37 + 11) % 257 - 128)"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_tok"),
        sum(col("w")).cast("long").as("score"))
      .withColumn("label",
        when(col("score") >= 0, lit("keep")).otherwise(lit("drop")))

  /** DSIR-style importance weighting + Gumbel top-k resampling (Xie et
    * al., "Data Selection for Language Models via Importance Resampling",
    * NeurIPS'23 — public method): estimate a target and a source
    * distribution over HASHED n-gram feature buckets (unigrams +
    * bigrams → 256 md5 buckets — no vocabulary to fit in memory), score
    * every document by its log importance weight
    * Σ_grams [ln p̂_target(bucket) − ln p̂_source(bucket)] (Laplace +1
    * smoothing), and select the top `topK` documents under Gumbel
    * perturbation — which IS sampling without replacement proportional
    * to the importance weights, made reproducible by driving the Gumbel
    * noise from the l15/l37 multiplier-mod hash of the id instead of
    * rand().
    *
    * Determinism: per-bucket log-probs are FLOOR-scaled to integer
    * micro-nats before any sum (the l10 recipe — floor of identical IEEE
    * doubles is engine-independent where round() is not), so the per-doc
    * weight is a BIGINT sum of exact integers, order-independent; the
    * Gumbel key floor-scales the same way and the final top-k is a total
    * order (key DESC, id ASC). |dlogm| ≤ ~12e6 micro-nats, so BIGINT
    * overflows only past ~7e11 grams/doc.
    *
    * Scale shape: DSIR is a two-pass algorithm (fit, then score) and
    * runs as exactly two scans, each collapsing every document to one
    * 256-int bucket histogram via the native
    * [[graft.functions.DsirBuckets]] kernel (no bigram strings, no hex
    * digests, no per-gram explode). The fit pass aggregates histograms
    * to ≤256 (bucket, count, target-count) rows — map-side partials
    * carry ≤256 rows per task — which COLLECT to the driver (bounded
    * stat, the kmeans literal-centroid recipe) and become a 256-long
    * literal weight vector; per-bucket dlogm is computed on the driver
    * with the same JVM Math.log/floor an in-plan expression would use —
    * bit-identical inputs, identical libm, identical integers. The
    * score pass zips each histogram against that literal per-row —
    * fully scan-local, zero exchanges — ahead of a global top-k
    * (TakeOrderedAndProject — per-partition heaps, never a full sort).
    * Design A/Bs at sf0.1: in-plan broadcast weights replan the gram
    * subtree under every broadcast (3 planned copies, 1.61 s);
    * driver-literal weights with the md5-hex Column composition hit
    * that composition's per-gram allocation floor (2 × 0.72 s); the
    * native-kernel form runs 0.83 s — the ~5.4 M MD5 digests
    * themselves, the floor both engines pay.
    *
    * Output: (id, n_feat, weight_micro, gkey_micro) — the topK selected
    * docs. */
  def dsirWeights(
      df: DataFrame,
      idCol: String,
      textCol: String,
      isTarget: Column,
      topK: Int,
      xxh: Boolean = false): DataFrame = {
    val spark = df.sparkSession
    // per-doc 256-bucket gram histogram: ONE native pass TOTAL
    // (graft_dsir_buckets — no bigram strings, no hex, no gram explode),
    // property-pinned bit-identical to the portable md5-hex composition
    // the ORACLE uses (NativeExprPropertySpec). Lazily checkpointed so
    // the fit aggregation and the score projection both read the
    // materialized histograms instead of re-hashing every gram (the
    // second MD5 corpus pass was half the query): the checkpoint is a
    // FIXED 256 ints + flag per document — orders of magnitude under
    // the text it summarizes — and the fit's collect() action
    // materializes it before the score job reads blocks (the l11/j22
    // lazy-checkpoint precedent).
    val bucketsOf =
      if (xxh) graft.GraftFunctions.dsirBucketsXxhNative(spark, _: Column)
      else graft.GraftFunctions.dsirBucketsNative(spark, _: Column)
    val hist = df.filter(col(textCol).isNotNull)
      .select(col(idCol).as("id"), isTarget.as("tgt"),
        bucketsOf(split(col(textCol), " ")).as("counts"))
      .localCheckpoint(false)
    // fit pass: ≤256 ints per doc into one bucket-keyed aggregate
    // (map-side partials carry ≤256 rows per task), collected (bounded
    // stat). (c+1)/(N+256) divides exact integers → identical doubles →
    // ln differs by at most the libm ulp both engines share (the l10
    // precedent); computed here with the same JVM Math.log/floor the
    // in-plan expression would use.
    val statsRows = hist
      .select(col("tgt"), posexplode(col("counts")).as(Seq("b", "c")))
      .filter(col("c") > 0)
      .groupBy(col("b"))
      .agg(sum(col("c")).as("cs"),
        sum(when(col("tgt"), col("c")).otherwise(0L)).as("ct"))
      .collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2)))
    val ns = statsRows.map(_._2).sum
    val nt = statsRows.map(_._3).sum
    val dlogm = new Array[Long](256) // unseen buckets: weight 0 (c=0 there)
    statsRows.foreach { case (b, cs, ct) =>
      dlogm(b) =
        math.floor(math.log((ct + 1).toDouble / (nt + 256).toDouble) * 1e6).toLong -
          math.floor(math.log((cs + 1).toDouble / (ns + 256).toDouble) * 1e6).toLong
    }
    val u = (pmod(col("id") * 48271L + 11L, lit(2147483647L)) + 1L)
      .cast("double") / 2147483648.0
    // score pass: one native codegen'd fold against the 256-long
    // literal (graft_vec_dot — the aggregate/zip_with HOF pair it
    // replaces evaluated INTERPRETED per row; bit-equality pinned in
    // NativeExprPropertySpec) — fully scan-local, ZERO exchanges ahead
    // of the global top-k heap (TakeOrderedAndProject)
    hist
      .select(col("id"),
        graft.GraftFunctions.vecDotNative(spark,
          col("counts"), typedlit(dlogm.toSeq)).as("__d"))
      .select(col("id"),
        col("__d.n").as("n_feat"), col("__d.dot").as("weight_micro"))
      .withColumn("gkey_micro",
        col("weight_micro") +
          floor(-log(-log(u)) * 1e6).cast("long"))
      .orderBy(col("gkey_micro").desc, col("id").asc)
      .limit(topK)
  }

  /** Convenience: annotate a corpus with all analysis columns (native
    * one-pass lang-id / fingerprint — the corpus-scan hot path). */
  def annotate(df: DataFrame, textCol: String): DataFrame =
    df.withColumn("lang_id",
        graft.GraftFunctions.langIdNative(df.sparkSession, col(textCol)))
      .withColumn("quality", qualityMetrics(col(textCol)))
      .withColumn("n_bpeish_tokens", bpeishTokenCount(col(textCol)))
      .withColumn("fingerprint",
        graft.GraftFunctions.fingerprintNative(df.sparkSession, col(textCol)))
}

