package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.operators.{Multimodal, TextAnalysis}

/** Text-analysis + multimodal operator queries (SURVEY §2B L3/L4
  * extensions). Language-ID, fingerprint, and the multimodal feature
  * extractor are rows-only here (their semantics are pinned in
  * TextAnalysisSpec / MultimodalSpec); quality metrics and BPE-ish
  * token counts are oracle-checked.
  */
object TextOps extends QGroup {

  /** l8's email pattern, as the DuckDB oracle runs it (RE2: linear). */
  val EmailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"

  /** [[EmailRe]] with the same matches in linear time on Java's
    * backtracking engine. Unanchored, a run of n local-part characters
    * with no '@' after it is retried from each of its n positions. The
    * leftmost match can only start at a run boundary or where the
    * previous match ended (`\G`), so the other starts are skipped. */
  val EmailReLinear = "(?:(?<![A-Za-z0-9._%+-])|\\G)" + EmailRe

  def defs: Seq[QDef] = Seq(

    // Quality metrics — integer components + composite double (identical
    // IEEE arithmetic on both sides).
    QDef("l3d_quality_score",
      (s, dir) =>
        Tables(s, dir, "documents")
          .withColumn("q", TextAnalysis.qualityMetrics(col("text")))
          .select(col("doc_id"),
            col("q.n_tokens").as("n_tokens"),
            col("q.n_upper").as("n_upper"),
            col("q.n_digit").as("n_digit"),
            col("q.n_punct").as("n_punct"),
            col("q.mean_tok_len").as("mean_tok_len"),
            col("q.quality").as("quality"))
          ,
      Some(s"""SELECT doc_id,
        |  CAST(length(text) - length(replace(text, ' ', '')) + 1 AS INTEGER) AS n_tokens,
        |  CAST(length(regexp_replace(text, '[^A-Z]', '', 'g')) AS INTEGER) AS n_upper,
        |  CAST(length(regexp_replace(text, '[^0-9]', '', 'g')) AS INTEGER) AS n_digit,
        |  CAST(length(text) - length(regexp_replace(text, '[[:punct:]]', '', 'g')) AS INTEGER) AS n_punct,
        |  round(CAST(length(replace(text, ' ', '')) AS DOUBLE)
        |        / (length(text) - length(replace(text, ' ', '')) + 1), 4) AS mean_tok_len,
        |  ${QShared.qualityScoreSql} AS quality
        |FROM documents""".stripMargin)),

    // BPE-ish token count via the GPT-2-style pre-tokenizer regex.
    QDef("l3e_bpeish_tokens",
      (s, dir) =>
        Tables(s, dir, "documents")
          .select(col("doc_id"),
            TextAnalysis.bpeishTokenCount(col("text")).as("n_bpeish"))
          ,
      Some("""SELECT doc_id,
        |  CAST(len(regexp_extract_all(text,
        |    '''(?:s|t|re|ve|m|ll|d)| ?\p{L}+| ?\p{N}+| ?[^\s\p{L}\p{N}]+')) AS INTEGER) AS n_bpeish
        |FROM documents""".stripMargin)),

    // Language ID heuristic (native one-pass graft_langid; the Column
    // composition it is property-tested against is
    // TextAnalysis.languageId) — oracle mirrors the stopword-intersection
    // argmax exactly: DuckDB list_intersect has the same set semantics
    // as Spark array_intersect, regexp_split_to_array('\s+') matches
    // Spark's split(\s+) tokenizer on any whitespace, and
    // row_number(score DESC, ord ASC) reproduces array_max's
    // (score, -langIndex) struct tie-break.
    QDef("l3f_language_id",
      (s, dir) =>
        Tables(s, dir, "documents")
          .select(col("doc_id"),
            graft.GraftFunctions.langIdNative(s, col("text")).as("lang_id"))
          ,
      Some("""WITH langs(lang, ord, words) AS (VALUES
        |  ('de', 0, ['der','die','und','das','ist','von','zu','den','ein','nicht']),
        |  ('en', 1, ['the','and','of','to','in','is','a','that','it','for']),
        |  ('es', 2, ['el','la','de','que','y','en','los','se','del','un']),
        |  ('fr', 3, ['le','la','et','les','des','de','un','une','du','est']),
        |  ('it', 4, ['il','la','di','che','e','un','per','una','del','non'])),
        |scored AS (
        |  SELECT d.doc_id, d.text, l.lang, l.ord,
        |    len(list_intersect(regexp_split_to_array(lower(d.text), '\s+'), l.words)) AS score
        |  FROM documents d CROSS JOIN langs l),
        |best AS (
        |  SELECT doc_id, text, lang, score,
        |    row_number() OVER (PARTITION BY doc_id ORDER BY score DESC, ord ASC) AS rn
        |  FROM scored)
        |SELECT doc_id,
        |  CASE WHEN regexp_matches(text, '[\x{4e00}-\x{9fff}]') THEN 'zh'
        |       WHEN score > 0 THEN lang
        |       ELSE 'und' END AS lang_id
        |FROM best WHERE rn = 1""".stripMargin)),

    // Rolling-hash document fingerprint via native graft_fingerprint
    // (bit-identical to the HOF form TextAnalysis.rollingFingerprint,
    // property-tested; rows-only, stability asserted in spec).
    QDef("l3g_fingerprint",
      (s, dir) =>
        Tables(s, dir, "documents")
          .select(col("doc_id"),
            graft.GraftFunctions.fingerprintNative(s, col("text")).as("fp"))
          ,
      None),

    // L3h: repetition metrics (Gopher-style quality filters): top-word
    // dominance and distinct-word fraction per document — a pure per-row
    // fold (TextAnalysis.repetitionMetrics), shuffle-free where the
    // explode + groupBy(doc, word) formulation shuffles every token of
    // the corpus twice to answer a per-document question. The isNotNull
    // filter mirrors unnest/explode dropping null-text docs.
    QDef("l3h_repetition",
      (s, dir) =>
        Tables(s, dir, "documents")
          .filter(col("text").isNotNull)
          .withColumn("r", graft.GraftFunctions.repetitionNative(s, col("text")))
          .select(col("doc_id"),
            col("r.n_words").as("n_words"),
            col("r.n_distinct_words").as("n_distinct_words"),
            col("r.top_word_ratio").as("top_word_ratio"),
            col("r.distinct_frac").as("distinct_frac"))
          ,
      Some("""WITH wc AS (
        |  SELECT doc_id, w, COUNT(*) AS c
        |  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents)
        |  GROUP BY doc_id, w)
        |SELECT doc_id,
        |  CAST(SUM(c) AS BIGINT) AS n_words,
        |  COUNT(*) AS n_distinct_words,
        |  round(CAST(MAX(c) AS DOUBLE) / SUM(c), 6) AS top_word_ratio,
        |  round(CAST(COUNT(*) AS DOUBLE) / SUM(c), 6) AS distinct_frac
        |FROM wc GROUP BY doc_id""".stripMargin)),

    // L8: PII scrubbing — email/phone redaction with counts, the
    // compliance pass every training-data pipeline runs. Deterministic
    // synthetic PII is spliced in per doc_id so the redaction paths are
    // actually exercised; the oracle's patterns use only constructs Java
    // regex and RE2 interpret identically (char classes + bounded
    // repetition — no backrefs/lookaround), and the Spark side runs the
    // email pattern's linear form (EmailRegexPropertySpec pins equal
    // matches). Output is the scrubbed-text digest + counts: exact,
    // small, hash-portable.
    QDef("l8_pii_scrub",
      (s, dir) => {
        val emailRe = EmailReLinear
        val phoneRe = "\\d{3}-\\d{3}-\\d{4}"
        // r14: four regex passes + sha2 per doc, scan-linear — the
        // Spread class (row-group-serialized at sf10; no-op at sf0.1)
        graft.operators.Spread.ifNarrow(
          Tables(s, dir, "documents"), col("doc_id"))
          .withColumn("txt",
            when(col("doc_id") % 5 === 0,
              concat(col("text"), lit(" contact user"), col("doc_id"),
                lit("@example.com or 555-867-5309")))
              .otherwise(col("text")))
          .select(col("doc_id"),
            regexp_count(col("txt"), lit(emailRe)).cast("int").as("n_emails"),
            regexp_count(col("txt"), lit(phoneRe)).cast("int").as("n_phones"),
            sha2(regexp_replace(regexp_replace(col("txt"), emailRe, "<EMAIL>"),
              phoneRe, "<PHONE>"), 256).as("scrubbed_sha"))
          
      },
      Some("""WITH pii AS (
        |  SELECT doc_id,
        |    CASE WHEN doc_id % 5 = 0
        |      THEN text || ' contact user' || doc_id || '@example.com or 555-867-5309'
        |      ELSE text END AS txt
        |  FROM documents)
        |SELECT doc_id,
        |  CAST(len(regexp_extract_all(txt, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS INTEGER) AS n_emails,
        |  CAST(len(regexp_extract_all(txt, '\d{3}-\d{3}-\d{4}')) AS INTEGER) AS n_phones,
        |  sha256(regexp_replace(regexp_replace(txt,
        |    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
        |    '\d{3}-\d{3}-\d{4}', '<PHONE>', 'g')) AS scrubbed_sha
        |FROM pii""".stripMargin)),

    // L10: unigram LM score — the perplexity-proxy quality filter.
    // Corpus vocab stats pass + broadcast scoring join; per-token
    // log-probs floor-scaled to integer micro-nats BEFORE the BIGINT
    // sum, so the per-doc mean is exact-integer-derived and summation-
    // order-independent (round() differs between engines near
    // midpoints; floor of identical doubles cannot).
    QDef("l10_unigram_lm_score",
      (s, dir) =>
        TextAnalysis.unigramLmScore(
          Tables(s, dir, "documents"), "doc_id", "text")
          .withColumnRenamed("id", "doc_id"),
      Some("""WITH toks AS (
        |  SELECT doc_id, unnest(string_split(text, ' ')) AS tok
        |  FROM documents WHERE text IS NOT NULL),
        |vocab AS (
        |  SELECT tok,
        |    CAST(floor(ln(COUNT(*) / (SELECT COUNT(*) * 1.0 FROM toks)) * 1e6) AS BIGINT) AS logpm
        |  FROM toks GROUP BY tok)
        |SELECT doc_id, COUNT(*) AS n_toks,
        |  CAST(floor(CAST(SUM(logpm) AS DOUBLE) / COUNT(*)) AS BIGINT) AS lm_score_micro
        |FROM toks JOIN vocab USING (tok)
        |GROUP BY doc_id""".stripMargin)),

    // L11: TF-IDF top-3 keywords per document — content signatures for
    // keyword extraction / topic monitoring. One (doc, tok) aggregation,
    // broadcast idf join, per-doc ranking window on the same key (no
    // extra exchange). Scores are floor-scaled micro-units, NOT round():
    // Spark round (BigDecimal HALF_UP) vs DuckDB round (double multiply)
    // disagree on midpoint-adjacent values; floor of identical doubles
    // cannot.
    QDef("l11_tfidf_topk",
      (s, dir) =>
        // r10: reads a doc_id-bucketed documents layout and drops the
        // explicit repartition (repartitionById = false) — the r9
        // floor's "one id-keyed exchange" disappears AND the explode
        // runs spread across the layout's buckets instead of the single
        // parquet file's few scan splits. Isolated A/B at sf0.1
        // (interleaved, identical rows): 0.81 → 0.55 s.
        TextAnalysis.tfidfTopK(
          QShared.bucketedFact(s, dir, "documents", "doc_id"),
          "doc_id", "text", k = 3, repartitionById = false)
          .withColumnRenamed("id", "doc_id"),
      Some("""WITH tf AS (
        |  SELECT doc_id, tok, COUNT(*) AS c
        |  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS tok
        |        FROM documents WHERE text IS NOT NULL)
        |  GROUP BY doc_id, tok),
        |idf AS (
        |  SELECT tok,
        |    CAST(floor(ln((SELECT COUNT(DISTINCT doc_id) FROM tf)
        |             / CAST(COUNT(*) AS DOUBLE)) * 1e6) AS BIGINT) AS idfm
        |  FROM tf GROUP BY tok),
        |scored AS (
        |  SELECT doc_id, tok,
        |    CAST(floor(CAST(c AS DOUBLE) / SUM(c) OVER (PARTITION BY doc_id) * idfm) AS BIGINT) AS tfidf_micro
        |  FROM tf JOIN idf USING (tok)),
        |ranked AS (
        |  SELECT doc_id, tok, tfidf_micro,
        |    ROW_NUMBER() OVER (PARTITION BY doc_id
        |      ORDER BY tfidf_micro DESC NULLS LAST, tok ASC NULLS FIRST) AS rank
        |  FROM scored)
        |SELECT doc_id, tok, CAST(rank AS INTEGER) AS rank, tfidf_micro
        |FROM ranked WHERE rank <= 3""".stripMargin)),

    // Multimodal feature extraction over binary payloads (REAL JDK
    // codecs for images/audio/GIF video + REAL ISO-BMFF box-walk
    // metadata for mp4/mov; the digest stub covers only undecodable
    // payloads and frame pixels; rows-only + MultimodalSpec).
    QDef("l4b_multimodal_features",
      (s, dir) => {
        val media = Tables(s, dir, "documents").select(
          col("doc_id").as("id"),
          element_at(typedlit(Array("image", "audio", "video")),
            (col("doc_id") % 3 + 1).cast("int")).as("kind"),
          encode(col("text"), "UTF-8").as("payload"))
        // complex feature columns JSON-rendered: raw array/struct cells
        // crash the driver's pandas sorter (VERDICT r1 §2). No total
        // order: the comparator sorts rows itself, and a range exchange
        // here would re-execute the whole decode pipeline for its
        // sampling pass (mapPartitions output isn't cached)
        QShared.jsonifyComplex(
          Multimodal.extractFeatures(media, "id", "kind", "payload"))
      },
      None),

    // L12: sliding token-window chunking — context-window prep (64-token
    // chunks every 48 tokens, 16-token overlap). Scan-linear, zero
    // shuffles; the oracle mirrors the clamped-slice semantics with
    // DuckDB list_slice (end-inclusive ↔ Spark slice length arg).
    QDef("l12_doc_chunking",
      (s, dir) => TextAnalysis.chunkTokens(
        Tables(s, dir, "documents"), "doc_id", "text",
        chunkSize = 64, stride = 48),
      Some("""WITH t AS (
        |  SELECT doc_id, string_split(text, ' ') AS toks
        |  FROM documents WHERE text IS NOT NULL
        |), c AS (
        |  SELECT doc_id, toks,
        |    UNNEST(range(0, greatest(len(toks), 1), 48)) AS s
        |  FROM t
        |)
        |SELECT doc_id, CAST(s // 48 AS INTEGER) AS chunk_id,
        |  array_to_string(list_slice(toks, s + 1, s + 64), ' ') AS chunk_text,
        |  CAST(len(string_split(
        |    array_to_string(list_slice(toks, s + 1, s + 64), ' '), ' '))
        |    AS INTEGER) AS n_tokens
        |FROM c""".stripMargin)),

    // L16: PMI collocations — adjacent-token bigrams scored by
    // pointwise mutual information against corpus unigram frequencies
    // (phrase mining / tokenizer-merge candidates). Shapes: adjacency
    // pairs via two aligned slices zipped (no positional self-join);
    // one keyed aggregation each for bigram and unigram counts; the
    // frequency joins run on the bigram set already HAVING-pruned to
    // c >= 5, so AQE broadcasts it against the vocab-sized count
    // tables. Determinism: PMI is a fixed expression tree over
    // exact-integer-derived doubles, FLOOR-scaled to micro-nats
    // (floor of identical IEEE doubles, the l10/l11 recipe).
    QDef("l16_pmi_bigrams",
      (s, dir) => {
        val toks = Tables(s, dir, "documents")
          .filter(col("text").isNotNull)
          .select(split(col("text"), " ").as("t"))
        val pairs = toks
          .select(slice(col("t"), lit(1), size(col("t")) - 1).as("xs"),
            slice(col("t"), lit(2), size(col("t")) - 1).as("ys"))
          .select(explode(arrays_zip(col("xs"), col("ys"))).as("p"))
          .select(col("p.xs").as("x"), col("p.ys").as("y"))
        val uni = toks.select(explode(col("t")).as("tok"))
          .groupBy(col("tok")).agg(count(lit(1)).as("c_tok"))
        // grand total off the vocab counts (reused exchange), not a
        // third corpus pass — the l10 recipe
        val totals = uni.agg(sum(col("c_tok")).as("n_toks"))
        val bigAll = pairs.groupBy(col("x"), col("y"))
          .agg(count(lit(1)).as("c_xy"))
        val big = bigAll.filter(col("c_xy") >= 5)
        // total bigrams from the counts already aggregated — the same
        // reused-exchange trick as `totals`, not a second corpus pass
        val nBig = bigAll.agg(sum(col("c_xy")).as("n_big"))
        big
          .join(uni.select(col("tok").as("x"), col("c_tok").as("c_x")), Seq("x"))
          .join(uni.select(col("tok").as("y"), col("c_tok").as("c_y")), Seq("y"))
          .crossJoin(broadcast(totals))
          .crossJoin(broadcast(nBig))
          .select(col("x"), col("y"), col("c_xy"),
            floor((log(col("c_xy").cast("double"))
              + log(col("n_toks").cast("double")) * 2.0
              - log(col("n_big").cast("double"))
              - log(col("c_x").cast("double"))
              - log(col("c_y").cast("double"))) * 1e6).as("pmi_micro"))
      },
      Some("""WITH toks AS (
        |  SELECT string_split(text, ' ') AS t FROM documents WHERE text IS NOT NULL),
        |pairs AS (
        |  SELECT t[i] AS x, t[i+1] AS y
        |  FROM (SELECT t, unnest(generate_series(1, len(t)-1)) AS i FROM toks)),
        |uni AS (
        |  SELECT tok, COUNT(*) AS c_tok
        |  FROM (SELECT unnest(t) AS tok FROM toks) GROUP BY tok),
        |totals AS (SELECT SUM(c_tok) AS n_toks FROM uni),
        |bigall AS (SELECT x, y, COUNT(*) AS c_xy FROM pairs GROUP BY x, y),
        |big AS (SELECT * FROM bigall WHERE c_xy >= 5),
        |nbig AS (SELECT SUM(c_xy) AS n_big FROM bigall)
        |SELECT x, y, c_xy,
        |  CAST(FLOOR((ln(CAST(c_xy AS DOUBLE))
        |    + ln(CAST(n_toks AS DOUBLE)) * 2.0
        |    - ln(CAST(n_big AS DOUBLE))
        |    - ln(CAST(c_x AS DOUBLE))
        |    - ln(CAST(c_y AS DOUBLE))) * 1e6) AS BIGINT) AS pmi_micro
        |FROM big
        |JOIN (SELECT tok AS x, c_tok AS c_x FROM uni) ux USING (x)
        |JOIN (SELECT tok AS y, c_tok AS c_y FROM uni) uy USING (y)
        |CROSS JOIN totals CROSS JOIN nbig""".stripMargin)),

    // L18: curriculum binning — documents bucketed by global quality-
    // score quartiles (curriculum schedules feed easy/clean buckets
    // first; data mixes are rebalanced per bucket). The three quartile
    // edges are one tiny global aggregate broadcast back over the
    // corpus scan; bin assignment is a case-when against identical
    // interpolated doubles in both engines, so boundary comparisons
    // cannot diverge. Per-bin stats stay exact (counts + 4dp-rounded
    // min/max of an already-4dp score).
    // L24: model-based quality filtering via a hashed linear scorer —
    // the fastText-shaped classifier pass (hash-bucket features, weight
    // lookup, Σ-score, sign → keep/drop). The md5 bucketing and the
    // integer weight function evaluate identically in DuckDB, so the
    // whole "ML" scoring pass is hash-certified end to end.
    QDef("l24_hashed_classifier",
      (s, dir) =>
        // r14: md5-per-token map work ahead of the doc-keyed partial
        // agg — Spread class (see l8/l21)
        TextAnalysis.hashedLinearScore(
          graft.operators.Spread.ifNarrow(
            Tables(s, dir, "documents"), col("doc_id")),
          idCol = "doc_id", textCol = "text")
          ,
      Some("""SELECT doc_id, COUNT(*) AS n_tok,
        |  CAST(SUM(((((instr('0123456789abcdef', substring(md5(tok), 1, 1)) - 1) * 16
        |    + (instr('0123456789abcdef', substring(md5(tok), 2, 1)) - 1))
        |    * 37 + 11) % 257 - 128)) AS BIGINT) AS score,
        |  CASE WHEN SUM(((((instr('0123456789abcdef', substring(md5(tok), 1, 1)) - 1) * 16
        |    + (instr('0123456789abcdef', substring(md5(tok), 2, 1)) - 1))
        |    * 37 + 11) % 257 - 128)) >= 0 THEN 'keep' ELSE 'drop' END AS label
        |FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS tok
        |      FROM documents WHERE text IS NOT NULL)
        |GROUP BY doc_id""".stripMargin)),

    QDef("l18_curriculum_bins",
      (s, dir) => {
        // r14: qualityMetrics is evaluated in BOTH rescans (edge agg +
        // binning pass) on the scan's width — Spread class (see l8)
        val scored = graft.operators.Spread.ifNarrow(
            Tables(s, dir, "documents"), col("doc_id"))
          .filter(col("text").isNotNull)
          .select(col("doc_id"),
            TextAnalysis.qualityMetrics(col("text")).getField("quality")
              .as("q"))
        val edges = scored.agg(
          expr("percentile(q, 0.25)").as("e1"),
          expr("percentile(q, 0.5)").as("e2"),
          expr("percentile(q, 0.75)").as("e3"))
        scored.crossJoin(broadcast(edges))
          .select(col("doc_id"), col("q"),
            when(col("q") < col("e1"), 0)
              .when(col("q") < col("e2"), 1)
              .when(col("q") < col("e3"), 2)
              .otherwise(3).as("bin"))
          .groupBy(col("bin"))
          .agg(count(lit(1)).as("n_docs"),
            min(col("q")).as("q_min"), max(col("q")).as("q_max"))
      },
      Some(s"""WITH scored AS (
        |  SELECT doc_id, ${QShared.qualityScoreSql} AS q
        |  FROM documents WHERE text IS NOT NULL),
        |edges AS (
        |  SELECT quantile_cont(q, 0.25) AS e1, quantile_cont(q, 0.5) AS e2,
        |         quantile_cont(q, 0.75) AS e3
        |  FROM scored)
        |SELECT CASE WHEN q < e1 THEN 0 WHEN q < e2 THEN 1
        |            WHEN q < e3 THEN 2 ELSE 3 END AS bin,
        |  COUNT(*) AS n_docs, MIN(q) AS q_min, MAX(q) AS q_max
        |FROM scored CROSS JOIN edges
        |GROUP BY 1""".stripMargin)),

    // L27: BM25 top-k retrieval for a fixed query — the eval-set /
    // corpus-search ranking primitive (tf saturation + length
    // normalization, which raw tf-idf l11 lacks). idf floor-scaled to
    // micro-nats before any sum; the saturation fraction is pure IEEE
    // double arithmetic mirrored operation-for-operation in the oracle;
    // per-doc totals sum BIGINT micro scores. Top-k is a total order
    // (score desc, doc_id) so LIMIT is deterministic.
    QDef("l27_bm25",
      (s, dir) =>
        TextAnalysis.bm25TopK(
          Tables(s, dir, "documents"), "doc_id", "text",
          terms = Seq("hash", "join", "dup"), k = 20)
          .withColumnRenamed("id", "doc_id"),
      Some("""WITH toks AS (
        |  SELECT doc_id, unnest(string_split(text, ' ')) AS tok
        |  FROM documents WHERE text IS NOT NULL),
        |dlen AS (SELECT doc_id, COUNT(*) AS dl FROM toks GROUP BY doc_id),
        |stats AS (SELECT COUNT(*) AS n_docs,
        |                 CAST(SUM(dl) AS DOUBLE) / COUNT(*) AS avgdl
        |          FROM dlen),
        |tf AS (SELECT doc_id, tok, COUNT(*) AS tf FROM toks
        |       WHERE tok IN ('hash', 'join', 'dup') GROUP BY doc_id, tok),
        |idf AS (
        |  SELECT tok,
        |    CAST(floor(ln(1.0 + (n_docs - df + 0.5) / (df + 0.5)) * 1e6) AS BIGINT) AS idfm
        |  FROM (SELECT tok, COUNT(*) AS df FROM tf GROUP BY tok)
        |  CROSS JOIN stats),
        |scored AS (
        |  SELECT tf.doc_id,
        |    CAST(floor(idfm * (CAST(tf AS DOUBLE) * (1.2 + 1.0)
        |      / (CAST(tf AS DOUBLE)
        |        + 1.2 * ((1.0 - 0.75) + 0.75 * (CAST(dl AS DOUBLE) / avgdl))))) AS BIGINT) AS score_micro
        |  FROM tf JOIN idf USING (tok) JOIN dlen USING (doc_id) CROSS JOIN stats)
        |SELECT doc_id, CAST(SUM(score_micro) AS BIGINT) AS bm25_micro, COUNT(*) AS n_terms
        |FROM scored GROUP BY doc_id
        |ORDER BY bm25_micro DESC, doc_id ASC LIMIT 20""".stripMargin)),

    // L29: per-document character-entropy — the cheap statistical
    // quality gate (gibberish, base64 blobs, and repeated-char padding
    // all sit far from natural-language entropy; filters like CCNet
    // cut on exactly this). H = ln n − Σ c·ln c / n over char counts.
    // Determinism: each ln is floor-scaled to integer micro-nats
    // BEFORE summation (the L10/L16 recipe) so the per-doc value is an
    // exact BIGINT — no float ever crosses an engine boundary.
    // Scale shape (VERDICT r5): text is one row, so the per-char
    // explode + two keyed shuffles the first cut used (moving ~|corpus
    // bytes| rows through an exchange) are replaced by the native
    // one-pass graft_char_entropy expression (functions/CharEntropy) —
    // shuffle-free, scan-linear, codegen'd; bit-identity with the old
    // composition is property-pinned in NativeExprPropertySpec.
    QDef("l29_char_entropy",
      (s, dir) => {
        val e = graft.GraftFunctions.charEntropyNative(s, col("text"))
        Tables(s, dir, "documents")
          .filter(col("text").isNotNull && length(col("text")) > 0)
          .select(col("doc_id"), e.as("e"))
          .select(col("doc_id"),
            col("e.n_chars_seen").as("n_chars_seen"),
            col("e.n_distinct_chars").as("n_distinct_chars"),
            col("e.entropy_micro").as("entropy_micro"))
      },
      Some("""WITH counts AS (
        |  SELECT doc_id, ch, COUNT(*) AS c
        |  FROM (SELECT doc_id, unnest(string_split(text, '')) AS ch
        |        FROM documents WHERE text IS NOT NULL AND length(text) > 0)
        |  WHERE ch <> '' GROUP BY doc_id, ch),
        |agg AS (
        |  SELECT doc_id, SUM(c) AS n_chars_seen, COUNT(*) AS n_distinct_chars,
        |    SUM(c * CAST(FLOOR(ln(CAST(c AS DOUBLE)) * 1e6) AS BIGINT)) AS sum_term
        |  FROM counts GROUP BY doc_id)
        |SELECT doc_id,
        |  CAST(n_chars_seen AS BIGINT) AS n_chars_seen,
        |  n_distinct_chars,
        |  CAST(CAST(FLOOR(ln(CAST(n_chars_seen AS DOUBLE)) * 1e6) AS BIGINT)
        |    - (sum_term // n_chars_seen) AS BIGINT) AS entropy_micro
        |FROM agg""".stripMargin)),

    // L35: BPE vocabulary induction — learn the corpus's first 8
    // byte-pair merges (the subword-tokenizer training loop; Sennrich
    // et al., ACL'16). Every round is vocabulary-bounded: the one
    // corpus pass is the initial word count, then pair-count aggregate
    // + one-row argmax collect + a codegen'd regexp merge per round —
    // O(|vocab|) work per merge regardless of corpus size. The merge
    // sequence is deterministic ((count DESC, pair ASC) total order)
    // but the greedy iterative argmax is not expressible as portable
    // one-shot SQL, so the gate is rows-only; BpeMergesSpec pins the
    // hand-derived merge sequence of the BPE paper's worked example,
    // left-to-right greedy adjacency, and exhaustion/empty behavior.
    // L36: interpolated bigram LM score — Jelinek-Mercer smoothed
    // p(w|h) = 0.75 c(h,w)/c(h) + 0.25 c(w)/N, the quality gate that
    // separates shuffled-word soup from coherent text (unigram-blind).
    // Bigrams generate scan-locally per document; the count tables are
    // vocab-sized; log-probs floor-scale to micro-nats before the
    // BIGINT sum (the l10 determinism recipe).
    // The scoring model (g → lp) is vocabulary-sized; whether it
    // broadcasts is gated on a MEASURED per-source-version vocabulary
    // stat (approx distinct bigrams, statsCache'd on the (mtime,
    // length) version key — the l13 bloom precedent: a once-per-
    // snapshot corpus pass a warehouse already has). ≤4M grams ≈ a
    // few hundred MB broadcast — exchange-free stream scoring; past
    // the gate the stream shuffles on the gram key, the correct
    // cluster plan for an open vocabulary. Measured at sf10 (265k-gram
    // vocab, 26.5M-row stream): broadcast 11.1 s vs shuffle 53.1 s.
    QDef("l36_bigram_lm_score",
      (s, dir) => {
        val docs = Tables(s, dir, "documents")
        val f = new java.io.File(s"$dir/documents.parquet")
        val vocab = QShared.statsCache.computeIfAbsent(
          (s, dir, "l36_bigram_vocab", QShared.fileVersion(f)), _ =>
            Long.box(docs.filter(col("text").isNotNull)
              .select(explode(graft.GraftFunctions
                .gramSpansNative(s, col("text"), 2, clamp = false)).as("g"))
              // 1% rsd (default ~2.3%): the stat gates a FORCED
              // broadcast, so sketch error must not admit an over-cap
              // vocabulary (r11 ADVICE) — belt with the margin below
              .agg(approx_count_distinct(col("g"), 0.01).as("v"))
              .head().getLong(0))).asInstanceOf[java.lang.Long]
        // gate knob overridable for specs (the rangeframe precedent):
        // PlanSpec flips it to 0 to certify the past-the-gate shuffle
        // shape without manufacturing a 4M-gram corpus
        val gateMax = sys.props.get("graft.l36.broadcastVocabMax")
          .map(_.toLong).getOrElse(4000000L)
        // 10% safety margin on top of the sketch: broadcast only when
        // the estimate is clear of the cap, so a near-gate UNDERestimate
        // cannot force a broadcast of an over-cap model
        TextAnalysis.bigramLmScore(docs, "doc_id", "text",
          broadcastModel = vocab + vocab / 10 <= gateMax)
          .withColumnRenamed("id", "doc_id")
      },
      Some("""WITH d AS (
        |  SELECT doc_id, string_split(text, ' ') AS ws
        |  FROM documents WHERE text IS NOT NULL),
        |bg AS (
        |  SELECT doc_id, ws[i] AS prev, ws[i + 1] AS cur
        |  FROM (SELECT doc_id, ws, UNNEST(range(1, len(ws))) AS i
        |        FROM d WHERE len(ws) >= 2)),
        |uni AS (SELECT w, COUNT(*) AS cu
        |        FROM (SELECT unnest(ws) AS w FROM d) GROUP BY w),
        |tot AS (SELECT SUM(cu) AS n FROM uni),
        |big AS (SELECT prev, cur, COUNT(*) AS cb FROM bg GROUP BY prev, cur)
        |SELECT doc_id, COUNT(*) AS n_bigrams,
        |  CAST(FLOOR(CAST(SUM(lp) AS DOUBLE) / COUNT(*)) AS BIGINT)
        |    AS lm2_score_micro
        |FROM (
        |  SELECT bg.doc_id,
        |    CAST(FLOOR(ln(0.75 * CAST(cb AS DOUBLE) / cup
        |                  + 0.25 * CAST(cuc AS DOUBLE) / n) * 1e6) AS BIGINT) AS lp
        |  FROM bg
        |  JOIN big USING (prev, cur)
        |  JOIN (SELECT w AS prev, cu AS cup FROM uni) USING (prev)
        |  JOIN (SELECT w AS cur, cu AS cuc FROM uni) USING (cur)
        |  CROSS JOIN tot)
        |GROUP BY doc_id""".stripMargin)),

    QDef("l35_bpe_merges",
      (s, dir) => TextAnalysis.bpeMerges(
        Tables(s, dir, "documents"), "text", nMerges = 8),
      None),

    // L35b: tokenizer APPLICATION — replay l35's learned merges over
    // the corpus and report per-doc token counts + compression. The
    // merge table is vocabulary-derived and tiny (8 rows, a bounded
    // stat like kmeans centroids), so it rides the plan as literals;
    // the application itself is one graft_bpe_token_count pass over
    // one scan — no shuffle, no UDF. BpeApplySpec pins the classic
    // low/lower/newest tokenization and the train->apply round trip.
    QDef("l35b_bpe_tokenize",
      (s, dir) => {
        val docs = Tables(s, dir, "documents")
        val merges = TextAnalysis.bpeMerges(docs, "text", nMerges = 8)
          .collect().sortBy(_.getInt(0))
          .map(r => (r.getString(1), r.getString(2))).toSeq
        // r14: a per-doc text kernel, scan-linear — Spread class
        // (see l8); the merge-training aggs above keep the scan
        TextAnalysis.applyBpeMerges(
          graft.operators.Spread.ifNarrow(docs, col("doc_id")),
          "doc_id", "text", merges)
          .withColumnRenamed("id", "doc_id")
      },
      None)
  )
}
