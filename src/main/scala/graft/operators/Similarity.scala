package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Similarity search over embedding columns (SURVEY §2B L2):
  * brute-force cosine top-k as the exact baseline, and a seedless
  * random-hyperplane LSH variant as the 100 TB path.
  *
  * The dot product / norms are `zip_with` + `aggregate` HOFs computed in
  * double — fully codegen'd, no UDFs. Brute force broadcasts the (small)
  * query side so the corpus scan is shuffle-free and embarrassingly
  * parallel; cost is O(|corpus|·|queries|·dim) FLOPs, which is the
  * correct baseline but not the scale path. The LSH variant buckets both
  * sides on hyperplane sign bands (OR-amplified) so each corpus row is
  * compared only within its buckets.
  */
object Similarity {

  /** Cosine similarity between two float-array columns, computed in
    * double with left-to-right accumulation (deterministic). Mismatched
    * lengths yield NULL (zip_with pads with null, which poisons the
    * aggregate) and zero-norm vectors yield NULL via the explicit
    * denominator guard — both aligned with the native
    * [[graft.functions.CosineSimilarity]] expression, and the guard keeps
    * ANSI mode from raising DIVIDE_BY_ZERO on zero vectors. */
  def cosine(a: Column, b: Column): Column = {
    // cast each float to double BEFORE multiplying — matches both the
    // native CosineSimilarity expression and DuckDB's ::DOUBLE[] oracle
    // bit-for-bit (a float×float multiply rounds differently)
    def d(x: Column) = x.cast("double")
    val dot = aggregate(zip_with(a, b, (x, y) => d(x) * d(y)),
      lit(0.0), (acc, x) => acc + x)
    val na = aggregate(transform(a, x => d(x) * d(x)),
      lit(0.0), (acc, x) => acc + x)
    val nb = aggregate(transform(b, x => d(x) * d(x)),
      lit(0.0), (acc, x) => acc + x)
    val denom = sqrt(na) * sqrt(nb)
    when(denom === 0.0, lit(null).cast("double")).otherwise(dot / denom)
  }

  /** Exact top-k neighbors per query (excluding self-matches on id).
    * Output: (q_id, rank, n_id, sim). */
  def bruteForceTopK(
      queries: DataFrame,
      corpus: DataFrame,
      k: Int,
      idCol: String,
      vecCol: String): DataFrame = {
    val q = queries.select(col(idCol).as("q_id"), col(vecCol).as("q_vec"))
    // r14: the O(|q|·|c|·dim) score loop runs in the corpus scan's
    // tasks (row-group-bounded to 2 at sf10) — spread it; gated no-op
    // at sf0.1 / cluster scale
    val c = Spread.ifNarrow(
      corpus.select(col(idCol).as("n_id"), col(vecCol).as("n_vec")), col("n_id"))
    // native codegen'd cosine: bit-identical to the [[cosine]] HOF
    // composition (NativeExprSpec), with no per-element lambda dispatch
    // in the O(|q|·|c|·dim) hot loop
    val simExpr =
      graft.GraftFunctions.cosineNative(queries.sparkSession, col("q_vec"), col("n_vec"))
    // r13 (verdict #7): EXACT bounded top-k via the graft.functions
    // TopKBySim aggregate instead of a per-query ranking window. The
    // window formulation exchanged and sorted the whole |q|·|c| score
    // stream with parallelism bounded by the QUERY count (20 tasks
    // sorting 500k rows each at sf10); the aggregate's map-side
    // partials keep a k-bounded ordered buffer in place, so the
    // exchange carries |q|·nPart buffers of ≤ k entries — statistics,
    // not the stream. Same rows, same ties (insertion order is the
    // window's (sim DESC NULLS LAST, n_id ASC) total order).
    val topk = udaf(new graft.functions.TopKBySim(k),
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[graft.functions.TopKCand]())
    c.join(broadcast(q), col("n_id") =!= col("q_id"))
      .withColumn("sim", simExpr)
      .groupBy(col("q_id"))
      .agg(topk(col("sim"), col("n_id"), lit(null).cast("string")).as("__top"))
      .select(col("q_id"), posexplode(col("__top")))
      .select(col("q_id"), (col("pos") + 1).cast("int").as("rank"),
        col("col.id").as("n_id"), col("col.sim").as("sim"))
  }

  /** IVF (inverted-file) ANN — the other classic scale path (SURVEY L2):
    * partition the corpus into `nList` cells by nearest centroid, search
    * only the `nProbe` nearest cells per query. Centroids are
    * deterministic hash-sampled corpus vectors (lowest xxhash64 of id) —
    * a k-means pass would tighten cells but costs iterations and
    * run-to-run drift; swap trained centroids in when available.
    *
    * Scale shape (the kmeans recipe): the nList centroid vectors are
    * collected to the driver and re-broadcast as PLAN LITERALS — stats,
    * not data — so cell assignment is a shuffle-free corpus scan (one
    * fold over the literal matrix per row; the previous corpus×nList
    * crossJoin + per-row row_number window shuffled the corpus nList
    * times over just to pick an argmax, and was the whole-suite bench
    * outlier). The only exchanges left are the per-cell candidate join
    * and the final top-k window, both over the probed slice
    * (~nProbe/nList of the corpus), not the corpus itself.
    */
  def ivfTopK(
      queries: DataFrame,
      corpus: DataFrame,
      k: Int,
      nList: Int,
      nProbe: Int,
      idCol: String,
      vecCol: String): DataFrame = {
    val spark = corpus.sparkSession
    // element type read as Number: the embedding column may arrive as
    // list<float> OR list<double> across driver data regenerations
    // (widening float→double literals is value-preserving, and the
    // native cosine accepts mixed sides)
    val cents: Array[Array[Double]] = corpus
      .select(col(idCol).as("c_id"), col(vecCol).as("c_vec"))
      // a NULL vector can't seed a cell (and would NPE the collect)
      .filter(col("c_vec").isNotNull)
      .orderBy(xxhash64(col("c_id")).asc_nulls_first, col("c_id").asc_nulls_first)
      .limit(nList)
      .collect()
      .map(_.getSeq[Any](1).map(_.asInstanceOf[Number].doubleValue).toArray)
    // empty corpus (a routine slice at scale): no cells, no neighbors —
    // return the contract schema with the id column's real type
    if (cents.isEmpty)
      return queries
        .select(col(idCol).as("q_id"), lit(1).as("rank"),
          col(idCol).as("n_id"), lit(0.0).as("sim"))
        .limit(0)

    val centArr: Column = array(cents.map(v => array(v.map(lit): _*)): _*)
    // per-cell (−sim, cell) structs off the literal matrix; NULL cosine
    // (ragged / zero-norm vector) pins to −(−2) below every real
    // similarity, mirroring the old window's desc_nulls_last
    def cellSims(vec: Column): Column =
      zip_with(centArr, sequence(lit(0), lit(cents.length - 1)),
        (cv, i) => struct(
          (-coalesce(graft.GraftFunctions.cosineNative(spark, vec, cv),
            lit(-2.0))).as("negsim"),
          i.as("cell")))

    // corpus: argmax sim = struct-min of (−sim, cell); ties → lowest cell
    // r14: nList native cosines per corpus row — row-group-serialized
    // at sf10, so the Spread applies (no-op at sf0.1 / cluster scale)
    val corpusCells = Spread.ifNarrow(
        corpus.select(col(idCol).as("n_id"), col(vecCol).as("n_vec")),
        col("n_id"))
      .withColumn("cell", array_min(cellSims(col("n_vec"))).getField("cell"))
    // queries: nProbe best cells, same ordering, exploded to probe rows
    val queryCells = queries
      .select(col(idCol).as("q_id"), col(vecCol).as("q_vec"))
      .withColumn("cell",
        explode(transform(slice(array_sort(cellSims(col("q_vec"))), 1, nProbe),
          _.getField("cell"))))

    // each corpus row lives in exactly ONE cell, so (q_id, n_id) pairs
    // are already unique across probe rows — no dedup exchange needed.
    // The query side is the small side by construction — broadcast it.
    val w = Window.partitionBy(col("q_id"))
      .orderBy(col("sim").desc_nulls_last, col("n_id").asc_nulls_first)
    broadcast(queryCells).join(corpusCells, Seq("cell"))
      .filter(col("q_id") =!= col("n_id"))
      .withColumn("sim",
        graft.GraftFunctions.cosineNative(spark, col("q_vec"), col("n_vec")))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("q_id"), col("rank"), col("n_id"), col("sim"))
  }

  /** Deterministic pseudo-random hyperplane weight for (plane, dim):
    * uniform in [-1, 1), derived from xxhash64 — no rand(), so plans are
    * reproducible across runs and engines. */
  private def planeWeight(p: Column, d: Column): Column =
    (pmod(xxhash64(lit("graft-lsh"), p, d), lit(2000001L)) - 1000000L) / 1000000.0

  /** The same weight computed once on the driver at plan time — Spark's
    * own XxHash64 evaluated over literals, so it is bit-identical to
    * [[planeWeight]]'s per-row derivation. */
  private def hostPlaneWeight(p: Int, d: Int): Double = {
    import org.apache.spark.sql.catalyst.expressions.{Literal, XxHash64}
    // seed 42 = the default the SQL xxhash64() function uses
    val h = XxHash64(Seq(Literal("graft-lsh"), Literal(p), Literal(d)), 42L)
      .eval(null).asInstanceOf[Long]
    val m = ((h % 2000001L) + 2000001L) % 2000001L
    (m - 1000000L) / 1000000.0
  }

  /** Sign-bit signature of a vector against `nPlanes` hyperplanes.
    * When `dim` is known (> 0), the weight matrix is embedded as plan
    * literals: nPlanes×dim fewer hash evaluations per ROW, same bits as
    * the generic path (weights come from the same derivation, evaluated
    * once at plan time). Rows whose actual vector length differs from
    * `dim` fall back to the generic path per-row — zip_with against a
    * wrong-length literal array would null-poison the aggregate and
    * silently emit an all-zero signature (one giant LSH bucket). Keep
    * the generic path for unknown/huge dims — the literal matrix grows
    * the plan by nPlanes×dim constants. */
  def lshSignature(vec: Column, nPlanes: Int, dim: Int = -1): Column = {
    val generic =
      transform(sequence(lit(0), lit(nPlanes - 1)), p =>
        when(aggregate(
          zip_with(vec, sequence(lit(0), size(vec) - 1),
            (x, d) => x.cast("double") * planeWeight(p, d)),
          lit(0.0), (acc, x) => acc + x) > 0, 1L).otherwise(0L))
    if (dim > 0) {
      val literal = array((0 until nPlanes).map { p =>
        val wts = array((0 until dim).map(d => lit(hostPlaneWeight(p, d))): _*)
        when(aggregate(
          zip_with(vec, wts, (x, w) => x.cast("double") * w),
          lit(0.0), (acc, x) => acc + x) > 0, 1L).otherwise(0L)
      }: _*)
      when(size(vec) === dim, literal).otherwise(generic)
    } else generic
  }

  /** Approximate top-k: bucket on banded hyperplane signs (bands of 4
    * planes, OR-amplified), then exact cosine within candidate buckets.
    * Output: (q_id, rank, n_id, sim) — rank within retrieved candidates. */
  def lshTopK(
      queries: DataFrame,
      corpus: DataFrame,
      k: Int,
      nPlanes: Int,
      idCol: String,
      vecCol: String,
      dim: Int = -1): DataFrame = {
    require(nPlanes % 4 == 0, "nPlanes must be a multiple of 4")
    val bands = nPlanes / 4
    def banded(df: DataFrame, idAs: String, vecAs: String): DataFrame =
      df.select(col(idCol).as(idAs), col(vecCol).as(vecAs),
        // r13: graft_barrier instead of the repartition-as-barrier —
        // the signature is still computed once (not per band by the
        // posexplode lambda), with zero shuffle of the vectors
        graft.GraftFunctions.barrier(df.sparkSession,
          lshSignature(col(vecCol), nPlanes, dim)).as("sig"))
        .select(col(idAs), col(vecAs),
          posexplode(transform(sequence(lit(0), lit(bands - 1)), b =>
            xxhash64(slice(col("sig"), b * 4 + 1, lit(4)), lit(7)))))
        .withColumnRenamed("pos", "band").withColumnRenamed("col", "bucket")
    val q = banded(queries, "q_id", "q_vec")
    // r14: the corpus-side signature (nPlanes interpreted dot-product
    // HOFs per row) was row-group-serialized at sf10 — spread it; the
    // query side is selection-sized and stays as scanned
    val c = banded(Spread.ifNarrow(corpus, col(idCol)), "n_id", "n_vec")
    val cands = q.join(c, Seq("band", "bucket"))
      .filter(col("q_id") =!= col("n_id"))
      .select(col("q_id"), col("q_vec"), col("n_id"), col("n_vec"))
      .dropDuplicates("q_id", "n_id")
    val w = Window.partitionBy(col("q_id"))
      .orderBy(col("sim").desc_nulls_last, col("n_id").asc_nulls_first)
    cands.withColumn("sim",
        graft.GraftFunctions.cosineNative(queries.sparkSession, col("q_vec"), col("n_vec")))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("q_id"), col("rank"), col("n_id"), col("sim"))
  }

  /** Squared Euclidean distance between two float-array columns
    * (double accumulation, left-to-right — deterministic). */
  def sqDist(a: Column, b: Column): Column =
    aggregate(
      zip_with(a, b, (x, y) => (x.cast("double") - y.cast("double")) *
        (x.cast("double") - y.cast("double"))),
      lit(0.0), (acc, x) => acc + x)

  /** REFERENCE composition of the nearest-centroid assignment: the HOF
    * fold the native graft_nearest_centroid expression replaced on the
    * hot path. Kept so NativeExprPropertySpec can pin bit-identity
    * (same left-to-right double sums, strict-< lowest-index ties,
    * null/ragged candidates skipped, (MaxValue, -1) when none match). */
  private[graft] def nearestHof(vec: Column, cents: Column, k: Int): Column =
    aggregate(
      zip_with(cents, sequence(lit(0), lit(k - 1)),
        (cv, i) => struct(sqDist(vec, cv).as("d2"), i.as("cell"))),
      struct(lit(Double.MaxValue).as("d2"), lit(-1).as("cell")),
      (best, cand) => when(cand.getField("d2") < best.getField("d2"), cand)
        .otherwise(best))

  /** Distributed Lloyd k-means over an embedding column — the vector-
    * quantization trainer whose centroids [[ivfTopK]]'s scaladoc
    * promises to accept in place of its hash-sampled seeds (IVF cell
    * quality, cluster-based curation, diversity sampling). Null vectors
    * and rows whose dimension differs from the seeds' are excluded up
    * front (one ragged row would otherwise null-poison its own distance
    * AND corrupt the mean update's dimensionality for every row in later
    * rounds); every surviving vector is assigned.
    *
    * Scale shape per iteration: centroids (k × dim doubles, kilobytes)
    * are collected to the driver and re-broadcast as literals — stats,
    * not data — so assignment is a shuffle-free corpus scan (argmin
    * over k broadcast vectors via one fold expression); the mean update
    * is posexplode to (cell, dim) rows + one combiner-friendly keyed
    * aggregation, dim × |corpus| rows through ONE exchange per round.
    * Initialization is the same deterministic hash-order sample ivfTopK
    * uses (no rand(): reruns are reproducible). Empty cells keep their
    * previous centroid. Euclidean objective ⇒ Lloyd monotonicity: SSE
    * is non-increasing per round (pinned in KMeansSpec).
    *
    * Output: (cell, centroid Array[Double], n_members, sse) for the
    * final assignment. */
  def kmeans(
      corpus: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int,
      iterations: Int): DataFrame = {
    val spark = corpus.sparkSession
    val raw = corpus.select(col(idCol).as("id"),
      transform(col(vecCol), _.cast("double")).as("v"))
      .filter(col("v").isNotNull)

    var centroids: Array[Array[Double]] = raw
      .orderBy(xxhash64(col("id")).asc_nulls_first, col("id").asc_nulls_first)
      .limit(k)
      .collect().map(_.getSeq[Double](1).toArray)
    // an empty corpus trains nothing — return zero cells with the
    // contract schema rather than failing the pipeline (at scale an
    // empty slice after filtering is routine, not an error)
    if (centroids.isEmpty)
      return spark.createDataFrame(
        Seq.empty[(Int, Seq[Double], Long, Double)])
        .toDF("cell", "centroid", "n_members", "sse")

    // a single ragged row would null-poison its zip_with distance (cell
    // -1, silently dropped) AND corrupt the mean update's dimensionality
    // for every later round — exclude mismatched-dim rows up front, and
    // loudly, since "every surviving vector is assigned" is the contract
    val dim = centroids.head.length
    // materialize the cleaned vectors ONCE (the pageRank/edge-list
    // discipline): every iteration's assignment pass — and the final
    // summary — would otherwise re-run the scan + per-element cast;
    // blocks are freed by the ContextCleaner once the result is dropped
    // r14: the checkpoint freezes the scan's partitioning for EVERY
    // iteration's assignment pass — Spread first, so the per-row
    // nearest-centroid kernel runs full-width when the scan is narrow
    // (row-group-serialized at sf10; no-op at sf0.1 / cluster scale)
    val vecs = Spread.ifNarrow(raw.filter(size(col("v")) === dim), col("id"))
      .localCheckpoint(true)

    def centLit(c: Array[Array[Double]]): Column =
      array(c.map(v => array(v.map(lit): _*)): _*)

    /** (d2, cell) of the nearest centroid over a plan-time literal
      * centroid array — no join, no shuffle. Native codegen'd kernel
      * (graft_nearest_centroid): the HOF fold it replaces dispatched an
      * interpreted lambda per element PER CENTROID per row per
      * iteration; [[nearestHof]] keeps that form as the semantic
      * reference the property spec pins bit-identity against. */
    def nearest(c: Array[Array[Double]]): Column =
      graft.GraftFunctions.nearestCentroidNative(spark, col("v"), centLit(c))

    for (_ <- 1 to iterations) {
      val assigned = vecs.withColumn("__n", nearest(centroids))
        .select(col("id"), col("v"), col("__n.cell").as("cell"))
      val means = assigned
        .select(col("cell"), posexplode(col("v")))
        .groupBy(col("cell"), col("pos")).agg(avg(col("col")).as("m"))
        .groupBy(col("cell"))
        .agg(array_sort(collect_list(struct(col("pos"), col("m")))).as("ms"))
        .select(col("cell"), transform(col("ms"), _.getField("m")).as("c_vec"))
        .collect().map(r => r.getInt(0) -> r.getSeq[Double](1).toArray).toMap
      centroids = centroids.indices
        .map(i => means.getOrElse(i, centroids(i))).toArray
    }

    vecs.withColumn("__n", nearest(centroids))
      .groupBy(col("__n.cell").as("cell"))
      .agg(count(lit(1)).as("n_members"), sum(col("__n.d2")).as("sse"))
      .join(
        spark.createDataFrame(
          centroids.zipWithIndex.map { case (v, i) => (i, v.toSeq) })
          .toDF("cell", "centroid"),
        Seq("cell"), "right")
      .select(col("cell"), col("centroid"),
        coalesce(col("n_members"), lit(0L)).as("n_members"),
        coalesce(col("sse"), lit(0.0)).as("sse"))
  }

  /** The first `k` non-null vectors by id as driver-side (id, vector)
    * seeds — the centroid set [[semDedup]] and [[semDedupAnn]] inline
    * as plan literals (k rows, dimension-sized). */
  private def firstSeeds(vecs: DataFrame, k: Int): Array[(Long, Array[Double])] =
    vecs
      .orderBy(col("id").asc_nulls_first)
      .limit(k)
      .collect()
      .map(r => (r.getAs[Number](0).longValue,
        r.getSeq[Any](1).map(_.asInstanceOf[Number].doubleValue).toArray))

  /** The SemDeDup within-cluster drop rule shared by every assignment
    * variant: over (id, cluster, v), x drops iff an earlier (lower-id)
    * cluster-mate has 6-dp rounded cosine ≥ tau — ONE cluster-keyed
    * self-join. Output: (id, cluster, status ∈ {kept, dropped}). */
  private def withinClusterDrops(assigned: DataFrame, tau: Double): DataFrame = {
    val dropped = assigned.as("x")
      .join(assigned.as("y"),
        col("x.cluster") === col("y.cluster") &&
          col("y.id") < col("x.id") &&
          round(graft.GraftFunctions.cosineNative(
            assigned.sparkSession, col("x.v"), col("y.v")), 6) >= tau,
        "left_semi")
      .select(col("id"), lit(true).as("__dup"))
    assigned.select(col("id"), col("cluster"))
      .join(dropped, Seq("id"), "left")
      .select(col("id"), col("cluster"),
        when(col("__dup"), lit("dropped")).otherwise(lit("kept"))
          .as("status"))
  }

  /** SemDeDup-style semantic (embedding-space) deduplication (Abbas et
    * al., arXiv:2303.09540 — public method): cluster the corpus in
    * embedding space, then within each cluster drop every vector that
    * has an earlier (lower-id) cluster-mate with cosine ≥ tau — exact
    * near-duplicate semantics the cheap way: the quadratic probe runs
    * only WITHIN clusters, never across the corpus.
    *
    * Deterministic variant, end-to-end oracle-checkable: centroids are
    * the first k non-null vectors by id (l2d's kmeans is the trained
    * seeding — id-seeding keeps both engines bit-aligned); cosines
    * compare at 6 dp (the l1f/l2 cross-engine double-agreement grain)
    * with argmax ties to the lowest centroid id; the drop rule is the
    * keep-first EXISTS witness (x drops iff SOME earlier cluster-mate is
    * tau-close, whether or not that mate itself drops — no recursion, so
    * the rule is expressible in portable SQL; cosine is not transitive,
    * so a chain-collapsing variant would need the l25 component
    * machinery instead).
    *
    * Scale shape: the centroid collect is k rows (dimension-sized, the
    * ivfTopK precedent); assignment is scan-local against the literal
    * centroid matrix (zero shuffle); the witness probe is ONE
    * cluster-keyed self-join — at production scale k grows with the
    * corpus so |cluster| stays bounded and the per-cluster quadratic is
    * the algorithm's declared cost, exactly as in the paper.
    *
    * Output: (id, cluster, status ∈ {kept, dropped}) for every non-null
    * vector; cluster = the seed vector's id. */
  def semDedup(
      corpus: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int,
      tau: Double): DataFrame = {
    val spark = corpus.sparkSession
    val vecs = corpus
      .select(col(idCol).as("id"), col(vecCol).as("v"))
      .filter(col("v").isNotNull)
    val seeds = firstSeeds(vecs, k)
    if (seeds.isEmpty) // empty slice: nothing to dedup, keep the schema
      return vecs.select(col("id"), lit(-1L).as("cluster"),
        lit("kept").as("status")).limit(0)
    val centLit = array(seeds.map(s =>
      typedlit(s._2).cast("array<double>")): _*)
    val cidLit = typedlit(seeds.map(_._1))
    // rounded sims against each seed; first max index wins (ties → the
    // lowest centroid id, matching the oracle's (sim6 DESC, cid ASC))
    val sims = transform(centLit,
      c => round(graft.GraftFunctions.cosineNative(spark, col("v"), c), 6))
    val assigned = vecs
      .withColumn("__sims", sims)
      .withColumn("cluster",
        // all-null sims (zero-norm vector): assign the LOWEST centroid
        // id — DuckDB's list_cosine_similarity yields -1.0 (not NULL)
        // for a zero vector, so the oracle's (sim6 DESC, cid ASC) tie
        // lands on the lowest cid; mirroring that here keeps the cluster
        // column oracle-stable. The row itself still never drops anyone
        // (its pairwise cosine is NULL here, -1.0 < tau there).
        coalesce(
          element_at(cidLit,
            array_position(col("__sims"), array_max(col("__sims")))
              .cast("int")),
          lit(seeds.map(_._1).min)))
      .select(col("id"), col("cluster"), col("v"))
    withinClusterDrops(assigned, tau)
  }

  /** IVF-assisted [[semDedup]] — the 100 TB assignment path.
    *
    * The dense variant's assignment computes cosine(v, centroid) for
    * all k centroids per row: O(n·k), which at the paper's own
    * prescription k ∝ n becomes the quadratic the ScaleProbe
    * amplification run measures. This variant prunes it IVF-style:
    * the k centroids are grouped (driver-side, k × √k trivial) into
    * `coarseCells` cells by their nearest coarse centroid (the first
    * `coarseCells` seeds); each row first picks its nearest COARSE
    * centroid (O(√k) native-kernel scan) and then the nearest true
    * centroid among that cell's members (O(k/√k) average) — per-row
    * work O(√k) instead of O(k), with the same 6-dp rounded-cosine
    * grain and lowest-cid tie-break inside each stage.
    *
    * APPROXIMATE by declaration: a vector whose true nearest centroid
    * lives outside its `nProbe` best coarse cells assigns to the best
    * probed centroid instead — the standard IVF recall/cost knob
    * (probing all cells recovers the exact argmax; SimilaritySpec pins
    * that, plus monotone agreement in nProbe on the real embeddings
    * table, which — being near-random vectors — is IVF's WORST case:
    * coarse cosines carry little signal there, so low-nProbe agreement
    * is the floor, not the typical). Zero-norm vectors take the lowest
    * centroid id, identical to [[semDedup]]. The within-cluster drop
    * rule is unchanged — with k ∝ n it is the bounded per-cluster cost
    * the paper declares.
    *
    * Representation bound: like [[semDedup]], the centroids travel as
    * PLAN LITERALS — fine to k ~ 10⁴ (the collect is k·dim doubles);
    * past that the same two-stage structure swaps the member literals
    * for a broadcast (cell → members) table probed by `__cell` — an
    * engineering substitution that changes no semantics, which is why
    * the literal form is the one pinned by the oracle-adjacent specs. */
  def semDedupAnn(
      corpus: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int,
      tau: Double,
      coarseCells: Int = 0,
      nProbe: Int = 2): DataFrame = {
    require(nProbe >= 1, "nProbe must be >= 1")
    val spark = corpus.sparkSession
    val vecs = corpus
      .select(col(idCol).as("id"), col(vecCol).as("v"))
      .filter(col("v").isNotNull)
    val seeds = firstSeeds(vecs, k)
    if (seeds.isEmpty)
      return vecs.select(col("id"), lit(-1L).as("cluster"),
        lit("kept").as("status")).limit(0)
    val c = math.min(seeds.length,
      if (coarseCells > 0) coarseCells
      else math.max(1, math.round(math.sqrt(seeds.length.toDouble)).toInt))
    val coarse = seeds.take(c)
    // driver-side centroid→cell grouping (plain double cosine; any
    // partition of the centroids is a VALID pruning structure — the
    // choice only moves the approximation, determinism is what matters)
    def dcos(a: Array[Double], b: Array[Double]): Double = {
      var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      val n = math.min(a.length, b.length)
      while (i < n) { dot += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1 }
      if (na == 0.0 || nb == 0.0) -2.0 else dot / math.sqrt(na * nb)
    }
    val cellOf: Array[Int] = seeds.map { s =>
      var best = 0; var bestSim = -3.0
      var j = 0
      while (j < c) {
        val sim = dcos(s._2, coarse(j)._2)
        if (sim > bestSim) { bestSim = sim; best = j }
        j += 1
      }
      best
    }
    // per-cell member lists, cid-ascending so in-cell argmax ties break
    // to the lowest cid (array_position returns the FIRST max)
    val cells: IndexedSeq[Array[(Long, Array[Double])]] =
      (0 until c).map(j => seeds.zip(cellOf).filter(_._2 == j).map(_._1)
        .sortBy(_._1))
    val coarseLit = array(coarse.map(s => typedlit(s._2).cast("array<double>")): _*)
    val memberVecsLit = typedlit(cells.map(_.map(_._2.toSeq).toSeq))
    val memberCidsLit = typedlit(cells.map(_.map(_._1).toSeq))
    val minCid = seeds.map(_._1).min
    // coarse sims with nulls floored to -2 (below any real cosine):
    // zero-norm rows then probe arbitrary cells whose in-cell sims are
    // all null anyway, and the sort comparator never sees null
    val coarseSims = transform(coarseLit,
      cc => coalesce(
        round(graft.GraftFunctions.cosineNative(spark, col("v"), cc), 6),
        lit(-2.0)))
    // top-nProbe cells by (sim DESC, index ASC) — a total order
    val cellRank = array_sort(
      zip_with(coarseSims, sequence(lit(1), lit(c)),
        (s, i) => struct(s.as("s"), i.as("i"))),
      (l, r) => when(l.getField("s") > r.getField("s"), -1)
        .when(l.getField("s") < r.getField("s"), 1)
        .otherwise(signum(l.getField("i") - r.getField("i")).cast("int")))
    val probed = transform(slice(cellRank, 1, math.min(nProbe, c)),
      p => p.getField("i").cast("int"))
    // r14: same two scale fixes the semDedupScaled stage got — spread
    // the row-group-serialized probe pass (gated no-op at sf0.1 /
    // cluster scale), and materialize it lazily ONCE per run: three
    // consumers (both self-join sides + the final projection) would
    // otherwise each replay the whole per-row cosine pass.
    val assigned = Spread.ifNarrow(vecs, col("id"))
      .withColumn("__cands",
        flatten(transform(probed, j => element_at(memberVecsLit, j))))
      .withColumn("__cids",
        flatten(transform(probed, j => element_at(memberCidsLit, j))))
      .withColumn("__sims", transform(col("__cands"),
        m => round(graft.GraftFunctions.cosineNative(
          spark, col("v"), m.cast("array<double>")), 6)))
      .withColumn("cluster",
        // GLOBAL (sim DESC, cid ASC) argmax via one O(m) fold. The
        // candidate arrays are flattened cell-rank-major, so a bare
        // array_position(array_max) would break a 6-dp cosine tie
        // between centroids in DIFFERENT cells by cell rank — diverging
        // from the dense path's global lowest-cid rule even at
        // nProbe = c. The fold ignores null sims (zero-norm rows or
        // zero-norm candidate centroids); all-null → lowest cid, same
        // as [[semDedup]].
        coalesce(
          aggregate(
            zip_with(col("__sims"), col("__cids"),
              (s, cid) => struct(s.as("s"), cid.as("cid"))),
            struct(lit(null).cast("double").as("s"),
              lit(null).cast("bigint").as("cid")),
            (acc, x) => when(
              x.getField("s").isNotNull &&
                (acc.getField("s").isNull ||
                  x.getField("s") > acc.getField("s") ||
                  (x.getField("s") === acc.getField("s") &&
                    x.getField("cid") < acc.getField("cid"))),
              x).otherwise(acc)).getField("cid"),
          lit(minCid)))
      .select(col("id"), col("cluster"), col("v"))
      .localCheckpoint(false)
    withinClusterDrops(assigned, tau)
  }

  /** [[semDedup]] at the paper's OWN scaling prescription, end-to-end
    * oracle-checkable (r13, verdict #6): Abbas et al. hold the
    * EXPECTED CLUSTER SIZE constant as the corpus grows — k ∝ n — so
    * the within-cluster quadratic stays n·targetClusterSize, never n².
    * k = max(minK, ⌈n / targetClusterSize⌉) from one count job (a
    * statistic, not data).
    *
    * With k ∝ n a dense per-row argmax over all k centroids is itself
    * O(n·k) = O(n²/target) — in BOTH engines (the r12 sweep exclusion).
    * Assignment here is therefore the two-stage pruned scan as the
    * DECLARED semantics (the [[semDedupAnn]] structure), replicated
    * verbatim by the SQL oracle:
    *   - seeds: first k non-null vectors by id; coarse: first
    *     c = ⌈√k⌉ seeds.
    *   - every seed assigns to its nearest coarse centroid by ROUNDED
    *     6-dp cosine (ties → lowest coarse index; zero-norm pairs score
    *     −1.0, DuckDB's own zero-vector convention) — driver-side k×c
    *     work, and the rounding makes the grouping engine-portable
    *     where [[semDedupAnn]]'s raw-double version is not.
    *   - EMPTY cells (possible when duplicate seed vectors tie) are
    *     dropped from the probe list on both sides; the surviving
    *     cells keep their original index order.
    *   - each row probes its top-`nProbe` cells by (rounded cosine
    *     DESC, cell index ASC), null → −1.0, and takes the best member
    *     by (rounded cosine DESC, cid ASC). Probing every cell would
    *     recover the dense argmax; nProbe is the declared recall/cost
    *     knob, same as IVF.
    *   - drop rule unchanged: x drops iff an earlier (lower-id)
    *     cluster-mate has rounded cosine ≥ tau.
    *
    * The seed/member table travels as a BROADCAST relation built by a
    * distributed job (r14, verdict #3): the former driver-side
    * `.limit(k).collect()` pulled k ∝ n vectors through the driver and
    * re-inlined them as k·dim plan LITERALS — a driver/planner
    * scale-killer past k ~ 10⁴ (its own in-source line; k crosses it
    * at ~1.3 M vectors, far below warehouse scale — at the sf10 probe
    * grain k is 1 563 and the dominant cost is the row-group-
    * serialized probe pass, see the Spread note below). Now the k-row
    * seed prefix, the
    * per-seed cell assignment and the per-cell member lists are
    * computed as Spark jobs and meet the corpus through one single-row
    * broadcast (k·dim doubles — the model-sized object SemDeDup always
    * broadcasts; no driver collect in the path scales with n). */
  def semDedupScaled(
      corpus: DataFrame,
      idCol: String,
      vecCol: String,
      tau: Double,
      targetClusterSize: Int = 128,
      minK: Int = 8,
      nProbe: Int = 2): DataFrame =
    semDedupScaledAssigned(corpus, idCol, vecCol,
      targetClusterSize, minK, nProbe) match {
      case None =>
        corpus.select(col(idCol).as("id"), lit(-1L).as("cluster"),
          lit("kept").as("status")).limit(0)
      case Some(assigned) => withinClusterDrops(assigned, tau)
    }

  /** The assignment stage of [[semDedupScaled]] — (id, cluster, v),
    * lazily checkpointed (three consumers replay the O(n·√k·dim) probe
    * pass otherwise). `None` on an empty corpus. Package-visible so
    * probes and plan locks can address the stage alone. */
  private[graft] def semDedupScaledAssigned(
      corpus: DataFrame,
      idCol: String,
      vecCol: String,
      targetClusterSize: Int = 128,
      minK: Int = 8,
      nProbe: Int = 2): Option[DataFrame] = {
    require(targetClusterSize > 0 && minK > 0 && nProbe >= 1)
    val spark = corpus.sparkSession
    val vecs = corpus
      .select(col(idCol).as("id"), col(vecCol).as("v"))
      .filter(col("v").isNotNull)
    val n = vecs.count()
    if (n == 0) return None
    val k = math.max(minK.toLong,
      (n + targetClusterSize - 1) / targetClusterSize).toInt
    // c from the ACTUAL seed count min(k, n) — bit-faithful to the
    // collected-seeds version on degenerate inputs where n < k
    val c = math.max(1,
      math.ceil(math.sqrt(math.min(k.toLong, n).toDouble)).toInt)
    val seedsDf = vecs.orderBy(col("id").asc_nulls_first).limit(k)
    // single-row relation: all c coarse vectors in id order (array
    // position = 1-based coarse index, the oracle's cidx)
    val coarseArr = vecs.orderBy(col("id").asc_nulls_first).limit(c)
      .agg(array_sort(collect_list(struct(col("id").cast("bigint").as("cid"),
        col("v").cast("array<double>").as("cv")))).as("__ca"))
      .select(transform(col("__ca"), x => x.getField("cv")).as("__ccv"))
    // per-seed nearest coarse cell: the same (rounded-cosine DESC,
    // index ASC) argmax the row assignment uses — iterating the fold in
    // ascending cell order with a strict > keeps the LOWEST index on
    // ties, exactly the old driver loop; zero-norm/NULL cosines fall to
    // -1.0 (DuckDB's zero-vector convention). Distributed over the seed
    // set instead of a driver k×c loop.
    val cellAssign = seedsDf
      .repartition(spark.sparkContext.defaultParallelism, col("id"))
      .crossJoin(broadcast(coarseArr))
      .withColumn("cell",
        aggregate(
          zip_with(col("__ccv"), sequence(lit(1), size(col("__ccv"))),
            (cc, i) => struct(
              coalesce(round(graft.GraftFunctions.cosineNative(
                spark, col("v"), cc), 6), lit(-1.0)).as("s"),
              i.as("i"))),
          struct(lit(null).cast("double").as("s"),
            lit(null).cast("int").as("i")),
          (acc, x) => when(
            acc.getField("s").isNull || x.getField("s") > acc.getField("s"),
            x).otherwise(acc)).getField("i"))
      .select(col("id").cast("bigint").as("cid"),
        col("v").cast("array<double>").as("cv"), col("cell"))
    // the broadcast seed/member table: one row with the LIVE cells (≥1
    // member) in coarse-index order — array position = the live-cell
    // ordinal both the probe ranking and the member lookup key on —
    // each cell carrying its coarse vector and its members sorted by
    // seed id. Replaces coarseLit/memberVecsLit/memberCidsLit verbatim.
    val statsRow = cellAssign
      .groupBy(col("cell"))
      .agg(sort_array(collect_list(struct(col("cid"), col("cv"))))
        .as("members"))
      .crossJoin(broadcast(coarseArr))
      .select(col("cell"), element_at(col("__ccv"), col("cell")).as("ccv"),
        col("members"))
      .agg(array_sort(collect_list(struct(col("cell"), col("ccv"),
        col("members")))).as("__cells"))
      .select(
        transform(col("__cells"), x => x.getField("ccv")).as("__coarse"),
        transform(col("__cells"), x =>
          transform(x.getField("members"), m => m.getField("cv"))).as("__mv"),
        transform(col("__cells"), x =>
          transform(x.getField("members"), m => m.getField("cid"))).as("__mc"))
    val nLiveC = size(col("__coarse"))
    val coarseSims = transform(col("__coarse"),
      cc => coalesce(
        round(graft.GraftFunctions.cosineNative(spark, col("v"), cc), 6),
        lit(-1.0)))
    val cellRank = array_sort(
      zip_with(coarseSims, sequence(lit(1), nLiveC),
        (sim, i) => struct(sim.as("s"), i.as("i"))),
      (l, r) => when(l.getField("s") > r.getField("s"), -1)
        .when(l.getField("s") < r.getField("s"), 1)
        .otherwise(signum(l.getField("i") - r.getField("i")).cast("int")))
    val probed = transform(slice(cellRank, lit(1), least(lit(nProbe), nLiveC)),
      p => p.getField("i").cast("int"))
    // r14: the O(n·√k·dim) probe pass below is the query's dominant
    // cost and inherits the scan's partitioning — at sf10 the single
    // 52 MB embeddings file has TWO row groups, so the whole pass ran
    // on ≤2 cores (the 63 s leg). Spread restores width; byte-gated
    // no-op at sf0.1 and split-gated no-op on real warehouse scans.
    val assigned = Spread.ifNarrow(vecs, col("id"))
      .crossJoin(broadcast(statsRow))
      // fence the ranked probe list: TWO projections consume it (cands
      // and cids), and CollapseProject would otherwise duplicate the
      // whole nLive-cosine ranking per consumer (the literal version
      // paid that double eval; the barrier halves it)
      .withColumn("__probed", graft.GraftFunctions.barrier(spark, probed))
      .withColumn("__cands",
        flatten(transform(col("__probed"), j => element_at(col("__mv"), j))))
      .withColumn("__cids",
        flatten(transform(col("__probed"), j => element_at(col("__mc"), j))))
      .withColumn("__sims", transform(col("__cands"),
        m => coalesce(round(graft.GraftFunctions.cosineNative(
          spark, col("v"), m.cast("array<double>")), 6), lit(-1.0))))
      // global (sim DESC, cid ASC) argmax — the semDedupAnn fold, with
      // no null branch (sims are coalesced to -1.0, matching the
      // oracle's zero-vector -1.0); candidates are never empty (every
      // live cell has members, nProbe >= 1)
      .withColumn("cluster",
        aggregate(
          zip_with(col("__sims"), col("__cids"),
            (sim, cid) => struct(sim.as("s"), cid.as("cid"))),
          struct(lit(null).cast("double").as("s"),
            lit(null).cast("bigint").as("cid")),
          (acc, x) => when(
            acc.getField("s").isNull ||
              x.getField("s") > acc.getField("s") ||
              (x.getField("s") === acc.getField("s") &&
                x.getField("cid") < acc.getField("cid")),
            x).otherwise(acc)).getField("cid"))
      .select(col("id"), col("cluster"), col("v"))
      // THREE consumers (both self-join sides + the final projection)
      // would each replay the per-row probe pass — the O(n·√k·dim)
      // assignment scan, the query's dominant cost at volume (sf10 A/B:
      // 3 passes = the old shape's 70 s leg). One lazy per-run
      // materialization inside the query, the sanctioned
      // iterative-lineage pattern (Dedup/Graph precedent).
      .localCheckpoint(false)
    Some(assigned)
  }
}

