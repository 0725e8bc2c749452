package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Link-analysis over edge lists — the corpus-curation graph ops a
  * crawl-derived training set needs (page importance for sampling
  * weights, domain authority for quality priors).
  *
  * Everything is integer fixed-point: ranks live in BIGINT micro-units
  * and every division is integer floor division, so the result is
  * bit-identical regardless of partitioning, summation order, or
  * engine (cross-checked against a DuckDB oracle running the same
  * recurrence in SQL). Float PageRank would drift across engines in
  * the last ulp and is unhashable by the gate; micro-unit resolution
  * (1e-6 of initial mass) is far below any ranking-relevant delta.
  *
  * Scale shape: one keyed shuffle per iteration (contributions grouped
  * by dst) plus one co-keyed join against the static out-degree table;
  * the edge list is localCheckpointed once and reused every round
  * instead of recomputing its upstream plan, and each round's rank
  * snapshot frees the previous round's blocks (same discipline as
  * [[Dedup.componentsByKey]]).
  */
object Graph {

  /** Fixed-iteration PageRank in BIGINT micro-units.
    *
    * Recurrence (all integer ops):
    *   rank0(v)   = 1_000_000
    *   rank_i+1(v) = base + (dampingPct * Σ_{u→v} rank_i(u) div outdeg(u)) div 100
    * with base = (100 - dampingPct) * 10_000, i.e. the damped uniform
    * teleport mass in micro-units.
    *
    * Nodes are every id appearing as src or dst. Dangling nodes (no
    * outgoing edges) simply contribute nothing — their mass is not
    * redistributed, matching the "leaked mass" PageRank variant, which
    * keeps the recurrence local (no global dangling-sum barrier per
    * round, the property that matters at corpus scale). Nodes with no
    * inbound edges settle at `base`.
    *
    * Output: (id, rank_micro) — one row per node.
    */
  def pageRank(
      edges: DataFrame,
      srcCol: String,
      dstCol: String,
      iterations: Int = 3,
      dampingPct: Int = 85,
      materialize: Boolean = true): DataFrame = {
    require(iterations >= 1, "iterations must be >= 1")
    require(dampingPct >= 0 && dampingPct <= 100, "dampingPct in [0,100]")
    val base = (100L - dampingPct) * 10000L
    // materialize the cleaned edge list ONCE — every derived table
    // (degree, node set, per-round contributions) would otherwise
    // re-execute the caller's upstream plan (often a join + distinct
    // that is itself referenced twice when the caller symmetrizes via
    // union), and at corpus scale the edge build dwarfs the iterations.
    // `materialize = false` is for callers whose edge list is ALREADY a
    // materialized layout (e.g. a dst-bucketed table, the l26 shape):
    // re-checkpointing a bucket-file scan costs a full storage write
    // for nothing, and the scan's HashPartitioning(dst) then rides
    // straight into every round's contribution aggregation — zero
    // per-round edge exchanges instead of one.
    val e0 = edges
      .select(col(srcCol).as("src"), col(dstCol).as("dst"))
      .where(col("src").isNotNull && col("dst").isNotNull)
    val e = if (materialize) e0.localCheckpoint(true) else e0
    val deg = e.groupBy(col("src")).agg(count(lit(1)).as("d"))
    // lazy: the nNodes count right below is the materializing action
    // (one job instead of two); e itself stays EAGER — its two union
    // branches are sibling stages that would race-compute a lazy cache
    val nodes = e.select(col("src").as("id"))
      .unionByName(e.select(col("dst").as("id")))
      .distinct()
      .localCheckpoint(false)

    // The rank table has one row per NODE — usually orders of magnitude
    // smaller than the edge list. When the node count is provably small
    // (we just materialized the node set, so the count is a free RAM
    // scan), take the broadcast path: rank and out-degree travel
    // together as one node-sized broadcast per round, so each iteration
    // is a single map-side pass over the RESIDENT edge list plus a
    // node-sized aggregation — the edge list is never shuffled, copied,
    // or re-annotated at all. Above the threshold (billions of nodes at
    // corpus scale) fall back to shuffle joins against a degree-
    // annotated edge copy, the only shape that fits memory there.
    // Checkpointed leaves carry no stats, so without the explicit
    // broadcast() Spark would sort-merge the 3-orders-of-magnitude
    // asymmetric join every round.
    val nNodes = nodes.count()
    val bcast = nNodes <= 2000000L // ~32 MB of (id, rank, deg) — executor-safe
    // broadcast path: out-degree as a tiny checkpointed table joined to
    // the rank side each round (a node×node join, trivial); shuffle
    // path: degree attached to each edge ONCE so per-round joins carry
    // (src, dst, d) vs the rank table
    // lazy: first materialized inside the terminal job by round 1's
    // broadcast build (rounds are sequentially dependent, so there is
    // exactly one first consumer), then read from cache every round
    val degById =
      if (bcast) deg.withColumnRenamed("src", "id").localCheckpoint(false) else null
    val withDeg = if (bcast) null else e.join(deg, "src").localCheckpoint(true)
    if (!bcast) Dedup.unpersistCheckpoint(e) // rounds read withDeg, not e

    // Unlike the label-propagation loops (which run an ACTION per round
    // for the convergence check), fixed-iteration PageRank has exactly
    // one terminal action — so per-round materialization is pure
    // overhead for short runs: the single final job pipelines the whole
    // unrolled DAG. Checkpoint only every few rounds to bound
    // plan/lineage growth on long runs.
    val checkpointEvery = 4
    var ranks = nodes.select(col("id"), lit(1000000L).as("rank_micro"))
    var lastCkpt: Option[DataFrame] = None
    var i = 0
    while (i < iterations) {
      val contrib =
        if (bcast) {
          val rd = ranks.join(degById, "id")
          e.join(broadcast(rd), e("src") === rd("id"))
            .groupBy(col("dst"))
            .agg(sum(expr("rank_micro div d")).as("s"))
        } else
          withDeg
            .join(ranks, withDeg("src") === ranks("id"))
            .groupBy(col("dst"))
            .agg(sum(expr("rank_micro div d")).as("s"))
      var next = nodes
        .join(if (bcast) broadcast(contrib) else contrib,
          nodes("id") === contrib("dst"), "left")
        .select(
          nodes("id"),
          (lit(base) + expr(s"$dampingPct * coalesce(s, 0L) div 100"))
            .cast("long").as("rank_micro"))
      i += 1
      if (i % checkpointEvery == 0 && i < iterations) {
        next = next.localCheckpoint(true)
        lastCkpt.foreach(Dedup.unpersistCheckpoint)
        lastCkpt = Some(next)
      }
      ranks = next
    }
    ranks
  }
}
