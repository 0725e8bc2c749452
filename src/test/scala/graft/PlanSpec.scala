package graft

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.functions._
import graft.queries._

/** Physical-plan audits (the 100 TB posture checks): filters reach the
  * parquet scan, projections prune the read schema, dimension joins
  * broadcast, fact-fact joins shuffle on keys, aggregates are two-phase
  * (map-side partial). A plan regression here is a scale bug even when
  * results stay correct. */
class PlanSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  private def planOf(name: String): String =
    SparkEntry.queries(name)(spark, dir).queryExecution.executedPlan.toString

  test("a1: shipdate filter is pushed to the parquet scan") {
    val p = planOf("a1_agg_q1")
    assert(p.contains("PushedFilters") && p.contains("LessThanOrEqual(l_shipdate"), p)
    assert(p.contains("HashAggregate"), p)
    // two-phase agg: partial + final
    assert("HashAggregate".r.findAllIn(p).size >= 2, "partial aggregation missing")
  }

  test("p1: read schema is pruned to selected columns") {
    val p = planOf("p1_project_rename")
    assert(p.contains("ReadSchema"), p)
    val read = p.split("ReadSchema:")(1).split("\n")(0)
    assert(read.contains("c_custkey") && read.contains("c_name") && read.contains("c_acctbal"))
    assert(!read.contains("c_nationkey") && !read.contains("c_mktsegment"),
      s"over-read: $read")
  }

  test("j1: dimension join is a broadcast hash join") {
    assert(planOf("j1_broadcast_join").contains("BroadcastHashJoin"))
  }

  test("j2: fact-fact join shuffles on the key (no broadcast of a fact)") {
    val p = planOf("j2_shuffle_join")
    assert(p.contains("Exchange hashpartitioning"), p)
  }

  test("j5: bounded theta join plans as broadcast nested loop") {
    assert(planOf("j5_theta_join").contains("BroadcastNestedLoopJoin"))
  }

  test("j7: star join broadcasts small dims and keeps facts shuffled") {
    val p = planOf("j7_star_join")
    assert("BroadcastHashJoin".r.findAllIn(p).size >= 2, "nation+region should broadcast")
    assert(p.contains("Exchange hashpartitioning"), "fact-fact side should shuffle")
  }

  test("l2: brute-force cosine broadcasts the query side only") {
    val p = planOf("l2_cosine_topk")
    assert(p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("j8: as-of join is one hash exchange + window, no range join blowup") {
    val p = planOf("j8_asof_join")
    assert(p.contains("Window"), p)
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      "as-of must not plan a cross/range product")
  }

  test("j9: range join plans as an equi-join on the user key, not a nested loop") {
    val p = planOf("j9_range_join")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      "the user_id equality must drive the join; the time range is a post-filter\n" + p)
    assert(p.contains("BroadcastHashJoin") || p.contains("SortMergeJoin") ||
      p.contains("ShuffledHashJoin"), p)
  }

  test("j12: Q5 shape broadcasts dims, facts merge on the bucket layout, " +
      "date filter reaches the bucketed scan") {
    val p = planOf("j12_q5_shape")
    assert("BroadcastHashJoin".r.findAllIn(p).size >= 2, "nation+region should broadcast\n" + p)
    // the r10 shape: orders⋈lineitem is a co-located SMJ over the
    // shared bucketed layouts — no exchange and no sort feeds it
    assert("Bucketed: true".r.findAllIn(p).size == 2, "both fact scans bucketed\n" + p)
    assert(p.contains("SortMergeJoin [o_orderkey"), p)
    assert(!p.contains("Exchange hashpartitioning(l_orderkey") &&
      !p.contains("Exchange hashpartitioning(o_orderkey"),
      "the fact pair must ride the bucket partitioning, not re-exchange\n" + p)
    assert(!p.contains("CartesianProduct"), p)
    assert(p.contains("PushedFilters") && p.contains("GreaterThanOrEqual(o_orderdate"),
      "orders date range must reach the (bucketed) parquet scan\n" + p)
  }

  /** Plan with size-based auto-broadcast disabled. At sf0.001 every
    * table fits under the 10 MB threshold and Spark would broadcast the
    * facts themselves, hiding the shape that matters at 100 TB where
    * only the explicitly-hinted dims are broadcastable. Disabling the
    * threshold leaves exactly the hints + shuffle strategy the cluster
    * case would see (modulo AQE's runtime supplier-size decisions). */
  private def planNoAutoBroadcast(name: String): String = {
    val key = "spark.sql.autoBroadcastJoinThreshold"
    val prev = spark.conf.get(key)
    spark.conf.set(key, "-1")
    try SparkEntry.queries(name)(spark, dir).queryExecution.executedPlan.toString
    finally spark.conf.set(key, prev)
  }

  test("j12 @100TB posture: hinted dims broadcast, the fact pair merges " +
      "exchange-free on the bucket layout, 5 exchanges") {
    val p = planNoAutoBroadcast("j12_q5_shape")
    assert("BroadcastHashJoin".r.findAllIn(p).size == 2,
      s"exactly nation+region broadcast:\n$p")
    assert("SortMergeJoin".r.findAllIn(p).size == 3,
      s"orders⋈lineitem (co-located), ⋈customer, ⋈supplier:\n$p")
    // the 100 TB table is NEVER exchanged on its own join key — the
    // bucket layout IS that partitioning (r9 had 1 here, r10 has 0)
    assert("Exchange hashpartitioning\\(l_orderkey".r.findAllIn(p).size == 0, p)
    assert("Bucketed: true".r.findAllIn(p).size == 2, p)
    // 2 (⋈customer: o_custkey + c_custkey) + 2 (supplier pair) + 1 agg
    // — was 7 before the facts rode the layout
    assert("Exchange hashpartitioning".r.findAllIn(p).size == 5,
      s"an extra exchange appeared in the Q5 chain:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("a1b @auto: Q3 runs with ZERO hash exchanges — facts merge on the " +
      "layout, customer broadcasts, the aggregation rides the join partitioning") {
    val p = planOf("a1b_q3_shape")
    assert("Bucketed: true".r.findAllIn(p).size == 2, p)
    assert(p.contains("SortMergeJoin [o_orderkey"), p)
    assert(!p.contains("Exchange hashpartitioning"),
      s"Q3 at bench scale should be exchange-free end to end:\n$p")
    assert(p.contains("TakeOrderedAndProject"), p)
    // the shipdate/date filters still reach the bucketed scans
    assert(p.contains("GreaterThan(l_shipdate") && p.contains("LessThan(o_orderdate"), p)
  }

  test("j24 @100TB posture: six broadcasts, the fact pair merges " +
      "exchange-free on the orderkey layouts, 1 exchange total") {
    val p = planNoAutoBroadcast("j24_q8_market_share")
    assert("BroadcastHashJoin".r.findAllIn(p).size == 5,
      s"customer, supplier, 2×nation, region all arrive via broadcast:\n$p")
    assert("SortMergeJoin".r.findAllIn(p).size == 1,
      s"lineitem⋈orders is the only shuffle join:\n$p")
    // r12: both facts ride the shared orderkey layouts — the join's two
    // exchanges are gone; only the year aggregation exchanges
    assert("Bucketed: true".r.findAllIn(p).size == 2, p)
    assert("Exchange hashpartitioning\\([lo]_orderkey".r.findAllIn(p).size == 0, p)
    assert("Exchange hashpartitioning".r.findAllIn(p).size == 1,
      s"only the year aggregation may exchange:\n$p")
  }

  test("j25/a22: the Q10/Q12 fact pairs merge exchange-free on the " +
      "orderkey layouts") {
    for (q <- Seq("j25_q10_returns", "a22_q12_priority_counts")) {
      val p = planNoAutoBroadcast(q)
      assert("Bucketed: true".r.findAllIn(p).size == 2, s"$q:\n$p")
      assert("Exchange hashpartitioning\\([lo]_orderkey".r.findAllIn(p).size == 0,
        s"$q must not exchange the fact keys:\n$p")
    }
  }

  test("j16 @100TB posture: semi+anti stay keyed on l_orderkey, no exchange creep") {
    val p = planNoAutoBroadcast("j16_q21_shape")
    assert(p.contains("LeftSemi") && p.contains("LeftAnti"), p)
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      s"two-outer-column NOT EXISTS must decorrelate even without broadcasts:\n$p")
    // r10: the orderkey-keyed sides read the shared bucket layouts —
    // none of the l1/l2/l3/orders references re-exchanges on orderkey
    assert(p.contains("Bucketed: true"), s"layout scans expected:\n$p")
    assert("Exchange hashpartitioning\\([lo]_orderkey".r.findAllIn(p).size == 0,
      s"orderkey work must ride the layouts:\n$p")
    // semi, supplier, orders, anti: every exchange is on a join/agg key
    // and the anti join REUSES the l_orderkey partitioning of the inner
    // join (no exchange between them); 8 is today's decorrelated shape,
    // more means a re-shuffle crept in
    assert("Exchange hashpartitioning".r.findAllIn(p).size <= 8,
      s"exchange creep in the Q21 chain:\n$p")
    val keys = "Exchange hashpartitioning\\(([a-z_#0-9L]+)".r
      .findAllMatchIn(p).map(_.group(1).takeWhile(_ != '#')).toSeq
    assert(keys.forall(Set("l_orderkey", "o_orderkey", "s_suppkey",
      "l_suppkey", "s_name")), s"unexpected exchange keys: $keys")
  }

  test("j29: Q2-shape is one bucketed lineitem scan and ZERO exchanges") {
    // the correlated-SQL form decorrelated to TWO copies of the
    // scan + distinct-pair tree (9 scans, no exchange reuse) — the
    // hand shape scans lineitem once; since r10 that scan is the
    // PARTKEY-bucketed layout, so the first partkey aggregation rides
    // the layout's HashPartitioning and the min/tie-keeping second
    // aggregation rides the same partitioning: no exchange anywhere
    val p = planOf("j29_q2_min_supplier")
    val lineitemScans = p.linesIterator.filter(_.contains("FileScan"))
      .filter(_.contains("lineitem")).toSeq
    assert(lineitemScans.count(_.contains("bucketed_lineitem_l_partkey_")) == 1 &&
      lineitemScans.size == 1,
      s"lineitem must be scanned exactly once, from the partkey layout:\n$p")
    assert("Exchange hashpartitioning".r.findAllIn(p).size == 0,
      s"both partkey aggregations must ride the bucket layout:\n$p")
    assert(!p.contains("CartesianProduct"), p)
  }

  test("t4: snapshot diff is a single keyed full-outer join, no nested loop") {
    val p = planOf("t4_snapshot_diff")
    assert(p.contains("FullOuter"), p)
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"), p)
  }

  test("g7: resample fill is exchanges + window, never a range product") {
    val p = planOf("g7_resample_locf")
    assert(p.contains("Window"), p)
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      "LOCF must use the union+window as-of plan\n" + p)
  }

  test("l6: sequence packing is one shard exchange, no global sort below the window") {
    val p = planOf("l6_sequence_packing")
    assert(p.contains("Window"), p)
    // partitionBy(shard) hash-partitions; a range partitioning below the
    // window would mean a global sort that can't scale
    assert(!p.contains("rangepartitioning(doc_id"), p)
  }

  test("u2b: approx median aggregates partially on the map side") {
    val p = planOf("u2b_median_approx")
    assert(p.contains("partial_percentile_approx") || p.contains("partial_approx_percentile"),
      "percentile sketch must combine map-side before the exchange\n" + p)
  }

  test("whole-stage codegen covers the scalar pipelines") {
    // AQE reveals codegen spans only in the final (post-execution) plan,
    // and only on the same QueryExecution the action ran on
    val df = SparkEntry.queries("x4_conditional_scalars")(spark, dir)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    // `*(n)` prefixes mark WholeStageCodegen spans in simpleString
    assert(p.contains("*(1)"), p)
    assert(p.contains("*(1) Project") || p.contains("*(2) Project"),
      "scalar projection must sit inside a codegen span")
  }

  test("w5: gaps-and-islands runs on ZERO exchanges — distinct, window, " +
      "and island agg all ride the custkey layout") {
    val p = planOf("w5_gaps_islands")
    assert(p.contains("Bucketed: true"), s"custkey layout scan expected:\n$p")
    assert("Exchange hashpartitioning".r.findAllIn(p).size == 0,
      s"the r9 single-exchange shape is now exchange-FREE:\n$p")
    assert(p.contains("Window"), p)
  }

  test("w2: analytic windows ride the SORTED custkey layout — no exchange, no sort") {
    val p = planOf("w2_analytic_window")
    assert(p.contains("Bucketed: true"), s"custkey layout scan expected:\n$p")
    assert(!p.contains("Exchange hashpartitioning"), p)
    assert(!p.contains("Sort ["),
      s"the layout's (custkey, orderdate, orderkey) order must satisfy the window:\n$p")
  }

  test("a14: MAD rides the sorted returnflag layout — no exchange, only the dev sort") {
    val p = planOf("a14_mad")
    assert(p.contains("Bucketed: true"), s"returnflag layout scan expected:\n$p")
    assert(!p.contains("Exchange hashpartitioning(l_returnflag"), p)
    val sorts = "Sort \\[".r.findAllIn(p).size
    assert(sorts == 1,
      s"only the computed-dev sort may remain (got $sorts):\n$p")
  }

  test("w1: ranking window rides the orderkey layout — exchange-free") {
    val p = planOf("w1_window_rank")
    assert(p.contains("Bucketed: true"), s"orderkey layout scan expected:\n$p")
    assert(!p.contains("Exchange hashpartitioning"),
      s"the 600k-row window exchange should be subsumed by the layout:\n$p")
  }

  test("w1b: distribution window rides the status-SORTED layout — no exchange, no sort") {
    val p = planOf("w1b_distribution_window")
    assert(p.contains("Bucketed: true"), s"status layout scan expected:\n$p")
    assert(!p.contains("Exchange hashpartitioning"), p)
    assert(!p.contains("Sort ["),
      s"the layout's (status, totalprice, orderkey) order must satisfy the window:\n$p")
  }

  test("j13: Q18 shape aggregates the fact exchange-free on the orderkey layout") {
    val p = planOf("j13_q18_shape")
    // r10: the lineitem agg rides the bucketed layout — the fact is
    // never re-exchanged on its own key; the pruned agg and customer
    // sides broadcast at this scale
    assert(p.contains("Bucketed: true"), p)
    assert(!p.contains("Exchange hashpartitioning(l_orderkey"),
      s"the r9 fact exchange should be subsumed by the layout:\n$p")
    assert(p.contains("BroadcastHashJoin"), p)
  }

  test("j14: correlated scalar subqueries decorrelate to aggregate joins") {
    val p = planOf("j14_scalar_subquery")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      s"decorrelation failed — per-row subquery execution:\n$p")
    assert(p.contains("HashAggregate"), p)
  }

  test("j15: correlated EXISTS/NOT EXISTS lower to semi + anti joins") {
    val p = planOf("j15_exists_subquery")
    assert(p.contains("LeftSemi") && p.contains("LeftAnti"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"),
      s"predicate subqueries must decorrelate:\n$p")
  }

  test("t5: merge upsert is a single keyed full-outer join") {
    val p = planOf("t5_merge_upsert")
    assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin"), p)
    assert(p.contains("FullOuter"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("j16: Q21-shape double correlation decorrelates to semi + anti self-joins") {
    val p = planOf("j16_q21_shape")
    assert(p.contains("LeftSemi") && p.contains("LeftAnti"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"),
      s"two-outer-column NOT EXISTS must still decorrelate:\n$p")
  }

  test("j17: Q22-shape scalar subquery broadcasts the one-row threshold") {
    val p = planOf("j17_q22_shape")
    // the threshold CTE is a single-row aggregate: it must arrive via
    // broadcast (nested-loop on one row is fine), never a shuffled join
    assert(p.contains("Broadcast"), p)
    assert(p.contains("LeftAnti"), p)
  }

  test("l27: bm25 broadcasts corpus stats; top-k is TakeOrdered, not a global sort") {
    val p = planOf("l27_bm25")
    assert(p.contains("BroadcastHashJoin"), p)
    assert(p.contains("TakeOrderedAndProject"), p)
  }

  test("l26: pagerank iterations broadcast the rank side; edges are never exchanged") {
    val p = planOf("l26_pagerank")
    assert(p.contains("BroadcastHashJoin"), p)
    // the resident edge list must not be hash-repartitioned inside the
    // iteration chain — only node-sized aggregation exchanges remain
    val exchanges = "Exchange hashpartitioning\\(([a-z_#0-9L, ]+)".r
      .findAllMatchIn(p).map(_.group(1)).toSeq
    assert(!exchanges.exists(_.startsWith("src")),
      s"edge table shuffled on src:\n$exchanges")
  }

  test("count(*) over parquet compiles to a metadata-friendly scan") {
    val df = spark.read.parquet(s"$dir/lineitem.parquet").groupBy().count()
    val p = df.queryExecution.executedPlan.toString
    // column-pruned empty schema scan — the reader serves row counts
    // from row-group metadata without materializing columns
    assert(p.contains("ReadSchema: struct<>"), p)
  }

  test("j20: disjunctive predicate pushes part-side conjuncts below the join") {
    val p = planOf("j20_q19_disjunctive")
    // CNF extraction: each side's conjunct groups must reach that
    // side's scan as pushed filters (part: OR of brand=..∧size≤..;
    // lineitem: OR of the quantity bands), not sit post-join inside
    // the full cross-side OR — at 100 TB that's the difference between
    // scanning 3 brands and scanning every row
    val partScan = p.split("\n").filter(l =>
      l.contains("FileScan parquet") && l.contains("part.parquet"))
    assert(partScan.exists(l => l.contains("PushedFilters") &&
      l.contains("p_brand")), p)
    val lineScan = p.split("\n").filter(l =>
      l.contains("FileScan parquet") && l.contains("lineitem.parquet"))
    assert(lineScan.exists(l => l.contains("PushedFilters") &&
      l.contains("l_quantity")), p)
    // the cross-side residual OR stays on the broadcast join
    assert(p.contains("BroadcastHashJoin"), p)
  }

  test("j28: the EXISTS semi-join with non-equi residual merges " +
      "exchange-free on the bucket layout") {
    val p = planOf("j28_q4_priority_check")
    // the date comparison must ride the orderkey semi-join as a
    // residual condition — a nested-loop fallback here would be
    // orders × lineitem at corpus scale
    assert(p.contains("LeftSemi"), p)
    assert(p.contains("l_shipdate") && p.contains("INTERVAL"),
      s"the non-equi conjunct must ride the semi-join as residual:\n$p")
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
    // r10: both sides ride the shared bucket layouts — the only hash
    // exchange left is the tiny o_orderpriority aggregation
    assert("Bucketed: true".r.findAllIn(p).size == 2, p)
    assert("Exchange hashpartitioning".r.findAllIn(p).size == 1 &&
      p.contains("Exchange hashpartitioning(o_orderpriority"),
      s"the semi-join itself must not exchange:\n$p")
  }

  test("a18: the uniqueness aggregation and RI anti-join ride the bucket " +
      "layout — no keyed exchange anywhere in the audit") {
    val p = planOf("a18_constraint_check")
    // HashPartitioning(l_orderkey) from the layout satisfies the
    // compound (l_orderkey, l_linenumber) clustering; the anti-join
    // merges (or broadcasts) against the bucketed orders — either way
    // no hash exchange may appear (global aggregates use
    // SinglePartition exchanges, which are not hash exchanges)
    assert(p.contains("Bucketed: true"), s"layout scan expected:\n$p")
    assert("Exchange hashpartitioning".r.findAllIn(p).size == 0,
      s"the audit must not re-exchange the fact:\n$p")
  }

  test("t2b: EXCEPT dedups exchange-free on the custkey layouts; the " +
      "null-safe anti-join moves only the distinct key sets") {
    val p = planNoAutoBroadcast("t2b_except")
    assert("Bucketed: true".r.findAllIn(p).size == 2,
      s"both custkey layout scans expected:\n$p")
    // EXCEPT's rewrite joins on coalesce(k,0)+isnull(k) — that pair can
    // never ride HashPartitioning(k), so the two distinct-key-set
    // exchanges are the floor; what must NOT appear is a raw-row
    // exchange (an exchange below a partial-only HashAggregate)
    val ex = "Exchange hashpartitioning\\(coalesce".r.findAllIn(p).size
    assert("Exchange hashpartitioning".r.findAllIn(p).size == ex && ex <= 2,
      s"only the deduped null-safe join inputs may exchange:\n$p")
    // each side's dedup is a partial+final HashAggregate PAIR with no
    // exchange between them — the layout carries the distinct
    assert("HashAggregate".r.findAllIn(p).size >= 4, p)
  }

  test("j4b @100TB posture: the anti-join merges on the custkey layouts — " +
      "zero exchanges (tiny SFs may broadcast instead; that's AQE's call)") {
    val p = planNoAutoBroadcast("j4b_anti_join")
    assert("Bucketed: true".r.findAllIn(p).size == 2,
      s"both custkey layout scans expected:\n$p")
    assert(p.contains("SortMergeJoin"), s"merge anti-join expected:\n$p")
    assert("Exchange hashpartitioning".r.findAllIn(p).size == 0,
      s"anti-join must not exchange a fact key:\n$p")
  }

  test("j18: Q13's outer join + per-customer agg ride the custkey " +
      "layouts; the only exchange is the tiny c_count regroup") {
    val p = planNoAutoBroadcast("j18_q13_custdist")
    assert("Bucketed: true".r.findAllIn(p).size == 2,
      s"both custkey layout scans expected:\n$p")
    val ex = "Exchange hashpartitioning\\((\\w+)#".r
      .findAllMatchIn(p).map(_.group(1)).toSeq
    assert(ex.forall(_ == "c_count"),
      s"only the c_count distribution regroup may exchange, got $ex:\n$p")
  }

  test("a11: the high-cardinality profile branches ride their own-column " +
      "layouts — no distinct exchange on l_orderkey/l_partkey") {
    val p = planOf("a11_column_profile")
    // the profile unions five eagerly-materialized 1-row branches; the
    // exchanges visible in the FINAL plan are only the union's traces.
    // Lock at the branch grain instead: the orderkey branch's own plan.
    val li = queries.QShared.bucketedFact(spark, dir, "lineitem", "l_orderkey")
    val branch = li.agg(
      org.apache.spark.sql.functions.countDistinct(
        org.apache.spark.sql.functions.col("l_orderkey")).as("nd"))
      .queryExecution.executedPlan.toString
    assert(branch.contains("Bucketed: true"), s"layout scan expected:\n$branch")
    assert(!branch.contains("Exchange hashpartitioning"),
      s"the distinct must ride HashPartitioning(l_orderkey):\n$branch")
    assert(p.nonEmpty)
  }

  test("a2: two distinct aggregates never plan the multi-distinct Expand") {
    val p = planOf("a2_distinct_agg")
    // Expand multiplies the scan ×3 (measured 99× DuckDB in r5); each
    // distinct must run as its own single-distinct two-phase aggregate
    assert(!p.contains("Expand"), s"multi-distinct Expand reappeared:\n$p")
    assert("HashAggregate".r.findAllIn(p).size >= 4, p)
  }

  test("a25: the global dominance window only sees the per-size-max survivors") {
    val p = planOf("a25_pareto_frontier")
    val keyed = p.indexOf("Exchange hashpartitioning(p_size")
    val single = p.indexOf("Exchange SinglePartition")
    assert(keyed >= 0, s"per-size prune window must hash-partition on p_size:\n$p")
    assert(single >= 0 && single < keyed,
      s"unpartitioned window must sit ABOVE (consume) the keyed prune:\n$p")
  }

  test("a26: rank window keyed on rid; single partition only for the range-count stat") {
    val p = planOf("a26_equidepth_histogram")
    // "ntile(" — the window FUNCTION; plain "ntile" would also match the
    // in-plan perce-NTILE-approx edge stat
    assert(!p.contains("ntile("), p)
    // the rank window is keyed on the scan-local range id
    assert(p.contains("Exchange hashpartitioning(rid"), p)
    // r9: the approx range edges are registered column STATISTICS
    // (mtime-keyed stats cache, the s7 columnBounds precedent), so the
    // plan carries them as LITERAL comparisons in the scan projection —
    // no percentile subtree, no edge broadcast, no cross join
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
    assert(!p.contains("percentile_approx"), p)
    val lines = p.split("\n")
    // exactly ONE SinglePartition exchange remains: the cumulative-
    // offset window over the ≤32-row per-range counts — never the
    // orders rows themselves (r5's global ntile funnel)
    val singles = lines.zipWithIndex.filter(_._1.contains("Exchange SinglePartition"))
    assert(singles.size == 1,
      s"expected ONE bounded stat funnel (offsets window), got ${singles.size}:\n$p")
    singles.foreach { case (_, si) =>
      val below = lines.drop(si + 1).takeWhile(!_.contains("Exchange"))
      assert(below.exists(l => l.contains("Aggregate") && l.contains("rid")),
        s"SinglePartition exchange must sit over the bounded range-count aggregate:\n$p")
    }
  }

  test("sweep: no query funnels a Window through a single partition (beyond declared)") {
    // The a25/a26-class scale bug (VERDICT r5): a window with no
    // partition spec routes its whole input through ONE task. Declared
    // exceptions with bounded inputs: a25 (dominance window over the
    // per-size-max pruned set, ~|distinct sizes| rows), g11 (lag over a
    // day-grain series built by a distributed keyed aggregate), and a26
    // (cumulative-offset window over the ≤32-row range-count aggregate;
    // its own PlanSpec lock pins that the funnel is the stat, not the
    // rows).
    val allowed = Set("a25_pareto_frontier", "g11_rate_anomaly",
      "a26_equidepth_histogram")
    val offenders = SparkEntry.queries.toSeq.sortBy(_._1).flatMap {
      case (name, f) =>
        if (allowed(name)) None
        else {
          val lines =
            f(spark, dir).queryExecution.executedPlan.toString.split("\n")
          // A window is single-task iff the FIRST exchange below it in
          // the printed tree is SinglePartition: SinglePartition
          // satisfies any clustering requirement, so even a keyed
          // window directly above one runs in one task. A fixed
          // lookahead (3 lines, pre-r7) missed funnels separated by
          // Sort/Project/AQE wrapper lines (ADVICE r6).
          val bad = lines.indices.exists { i =>
            lines(i).contains("Window ") && {
              val firstExchange = (i + 1 until lines.length)
                .find(j => lines(j).contains("Exchange "))
              firstExchange.exists(j =>
                lines(j).contains("Exchange SinglePartition"))
            }
          }
          if (bad) Some(name) else None
        }
    }
    assert(offenders.isEmpty, s"single-task window funnels: $offenders")
  }

  test("s12: bucketed join plans zero join-key exchanges and zero per-side sorts") {
    val p = planOf("s12_bucketed_join")
    assert(p.contains("SortMergeJoin"), p)
    assert(!p.contains("Exchange hashpartitioning(l_orderkey") &&
      !p.contains("Exchange hashpartitioning(o_orderkey"),
      s"bucket layout must BE the join partitioning:\n$p")
    assert(!p.contains("Sort [l_orderkey") && !p.contains("Sort [o_orderkey"),
      s"one-file-per-bucket sortBy must elide the read-side sorts:\n$p")
  }

  test("l39b @100TB posture: shuffle-free assignment, ONE cluster-keyed semi-join") {
    val p = planNoAutoBroadcast("l39b_semdedup_ann")
    // the within-cluster drop check is exactly one LeftSemi self-join
    // keyed on the assigned cluster
    assert("Join \\[cluster#\\d+L\\], \\[cluster#\\d+L\\], LeftSemi".r
      .findFirstIn(p).isDefined, s"cluster-keyed LeftSemi expected:\n$p")
    assert("LeftSemi".r.findAllIn(p).size == 1, p)
    // IVF assignment itself is a shuffle-free scan: the only exchanges
    // in the whole plan are the semi-join's two cluster sides, the
    // id-keyed outer join back (2 sides), and the final histogram
    // aggregation — nothing below the assignment kernel
    val n = "Exchange hashpartitioning".r.findAllIn(p).size
    assert(n == 5, s"expected 5 exchanges (2 cluster + 2 id + 1 agg), got $n:\n$p")
  }

  test("l40b: apply reads the persisted span sidecar — no gram machinery in the plan") {
    val p = planOf("l40b_span_removal")
    assert(p.contains("l40b_spans"),
      s"the span sidecar scan expected in the apply plan:\n$p")
    assert(!p.contains("Exchange hashpartitioning(gram"),
      s"the find phase's gram exchange must not re-run inside apply:\n$p")
  }

  test("l1d: the graft_barrier fence holds — shingle hashes computed once per side") {
    // r13 ADVICE: if CollapseProject ever re-inlines through the fence
    // (a Spark upgrade, or an accidentally dropped barrier call), the
    // computed-once hash array lands inside downstream per-element HOF
    // lambdas — the historic 64×-per-row recompute — with values
    // unchanged, so only a plan lock can catch it. The banding self-join
    // has two sides; each must evaluate graft_shingle_hashes exactly
    // once, behind its fence.
    val p = planOf("l1d_minhash_lsh")
    def count(s: String) = s.r.findAllIn(p).size
    assert(count("graft_shingle_hashes") == 2,
      s"expected exactly one shingle-hash eval per join side:\n$p")
    assert(count("graft_minhash") == 2,
      s"expected exactly one signature eval per join side:\n$p")
    // both fences present on both sides (sh and sig)
    assert(count("graft_barrier") >= 4, s"barrier fences missing:\n$p")
  }

  test("l40: one gram exchange, one doc exchange carrying islands AND the span agg") {
    val p = planOf("l40_exact_substring_spans")
    // never a doc<->doc self-join or cartesian anything
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
    val lines = p.split("\n")
    def count(s: String) = lines.count(_.contains(s))
    // exactly ONE gram-keyed exchange (under the occurrence-count
    // aggregate; the dup join probes it as a broadcast at this SF).
    // The scan has fewer splits than cores here, so both gram streams
    // spread on a doc-keyed exchange: the count side's, and the dup
    // side's, which both island windows AND the final (id, run) span
    // aggregation ride (hashpartitioning(id) co-locates every (id, run)
    // group, so no further doc exchange plans)
    assert(count("Exchange hashpartitioning(gram") == 1, p)
    assert(count("Exchange hashpartitioning(id") == 2, p)
    assert(count("Exchange RoundRobinPartitioning") == 0, p)
    assert(count("+- Exchange ") == 3, p)
    // no exchange between the run window and the span aggregate
    val wi = lines.indexWhere(_.contains("Window [sum(brk"))
    val ai = lines.lastIndexWhere(l => l.contains("HashAggregate") && l.contains("span_start"))
    assert(wi >= 0 && ai >= 0 && ai < wi, p)
    assert(!lines.slice(ai, wi).exists(_.contains("Exchange")),
      s"span agg must ride the island window's doc exchange:\n$p")
  }

  test("g1: tumbling windows ride the time-bucketed events layout — zero " +
      "keyed exchanges, countDistinct phase included") {
    val p = planOf("g1_tumbling_window")
    assert(p.contains("Bucketed: true"), s"time-bucket layout scan expected:\n$p")
    assert(!p.contains("Exchange hashpartitioning"),
      s"(bucket, event_type) agg AND the user_id dedup phase must ride " +
        s"HashPartitioning(bucket) by subset clustering:\n$p")
  }

  test("a6: global aggregate's countDistinct partial rides the orderkey " +
      "layout — only the SinglePartition fan-in remains") {
    val p = planOf("a6_global_agg")
    assert(p.contains("Bucketed: true"), s"orderkey layout scan expected:\n$p")
    assert(!p.contains("Exchange hashpartitioning"),
      s"the orderkey partial-dedup exchange should be subsumed:\n$p")
    assert(p.contains("Exchange SinglePartition"), p)
  }

  test("l20: winnowing is scan + project — zero exchanges, no window, no agg") {
    val p = planOf("l20_winnowing")
    assert(p.contains("graft_winnow_stats"), p)
    assert(!p.contains("Exchange"), s"l20 must stay exchange-free:\n$p")
    assert(!p.contains("Window") && !p.contains("HashAggregate"),
      s"the per-doc stats are a pure projection:\n$p")
  }

  test("l36: under the vocabulary gate the gram stream meets the model " +
      "via BroadcastHashJoin (no stream-side exchange)") {
    val p = planOf("l36_bigram_lm_score")
    assert(p.contains("graft_gram_spans"), p)
    assert(p.contains("BroadcastHashJoin"),
      s"gated model broadcast expected at certified SFs:\n$p")
    // the stream side appears twice (count + probe): neither occurrence
    // may exchange on the gram ahead of the final per-doc aggregation —
    // the only gram-keyed exchange allowed is the model build's
    val gramEx = "Exchange hashpartitioning\\(g#\\d+".r.findAllIn(p).size
    assert(gramEx <= 1, s"stream must not shuffle on the gram key:\n$p")
  }

  test("l36 past the vocabulary gate: the model is NOT broadcast-hinted " +
      "(open-vocabulary cluster shape)") {
    System.setProperty("graft.l36.broadcastVocabMax", "0")
    try {
      val p = planOf("l36_bigram_lm_score")
      // without the gate's hint the optimizer decides from its own
      // estimates; what the gate certifies is that the model-probe
      // HINT is absent when the vocabulary is unbounded (AQE may still
      // pick broadcast at tiny SFs from actual sizes — that's its
      // call). The grand-total crossJoin carries its own always-on
      // broadcast hint, so past the gate exactly ONE ResolvedHint
      // remains; under it, TWO (the l36 test above certifies the
      // gated physical BroadcastHashJoin directly).
      val lp = SparkEntry.queries("l36_bigram_lm_score")(spark, dir)
        .queryExecution.analyzed.toString
      assert("ResolvedHint".r.findAllIn(lp).size == 1,
        s"only the grand-total hint expected past the gate:\n$lp")
      assert(p.nonEmpty)
    } finally System.clearProperty("graft.l36.broadcastVocabMax")
  }

  test("l38: scoring is scan-shaped — vec_dot projection straight into " +
      "the global top-k heap, no exchange past the checkpoint") {
    val p = planOf("l38_dsir_select")
    assert(p.contains("graft_vec_dot"), p)
    assert(p.contains("TakeOrderedAndProject"), p)
    assert(!p.contains("Exchange hashpartitioning"),
      s"score pass must not shuffle:\n$p")
  }

  test("l38b: the xxh twin keeps the identical zero-exchange score shape") {
    val p = planOf("l38b_dsir_select_xxh")
    assert(p.contains("graft_vec_dot"), p)
    assert(p.contains("TakeOrderedAndProject"), p)
    assert(!p.contains("Exchange hashpartitioning"),
      s"score pass must not shuffle:\n$p")
  }

  test("w3b @100TB posture: the SHIPPED QDef decomposes above the size gate") {
    // the sysprop lowers only the DEFAULT threshold (explicit callers
    // unaffected), so this drives the exact shipped query — not a
    // hand-built operator call — through the gate's scale path
    System.setProperty("graft.rangeframe.decomposeOverBytes", "0")
    try {
      val p = planOf("w3b_range_frame")
      assert(!p.contains("specifiedwindowframe(RangeFrame"),
        s"RANGE window must be replaced above the gate:\n$p")
      assert(p.contains("specifiedwindowframe(RowFrame"),
        s"running prefix windows expected:\n$p")
      // in-bucket running totals ride (part, bucket)-keyed exchanges —
      // parallelism |part| x n_buckets, the whole point of the shape
      assert("Exchange hashpartitioning\\(st#\\d+, b#\\d+L".r
        .findFirstIn(p).isDefined, s"bucket-keyed window exchange expected:\n$p")
      assert(p.contains("Join"), s"probe join-back expected:\n$p")
    } finally System.clearProperty("graft.rangeframe.decomposeOverBytes")
  }

  /** A single-file table above Spread's 8 MiB byte gate: 600k rows of
    * two full-range hash longs, which Parquet cannot compress. Written
    * once per suite. */
  private lazy val wideFile: String = {
    val out = tmpDir("graft-spread") + "/wide"
    spark.range(0, 600000).select(col("id"),
        xxhash64(col("id")).as("h1"), xxhash64(col("id"), lit(1)).as("h2"))
      .coalesce(1).write.parquet(out)
    out
  }

  private def spreadPlan(df: org.apache.spark.sql.DataFrame): String =
    graft.operators.Spread.ifNarrow(df, col(df.columns.head))
      .queryExecution.executedPlan.toString

  test("Spread: an input under the byte gate plans no exchange") {
    val p = spreadPlan(spark.read.parquet(s"$dir/documents.parquet"))
    assert(!p.contains("Exchange"), s"sf0.001 documents must not spread:\n$p")
  }

  test("Spread: a narrow input over the byte gate spreads on the id, a wide one does not") {
    val bytes = java.nio.file.Files.list(java.nio.file.Paths.get(wideFile))
      .iterator().asScala.filter(_.toString.endsWith(".parquet"))
      .map(java.nio.file.Files.size).sum
    assert(bytes >= (8L << 20), s"the table must sit above the 8 MiB gate: $bytes bytes")
    // one split: every file byte in one partition, whatever the core count
    val key = "spark.sql.files.minPartitionNum"
    val prior = spark.conf.getOption(key)
    spark.conf.set(key, "1")
    try {
      val narrow = spark.read.parquet(wideFile)
      assert(narrow.rdd.getNumPartitions == 1)
      val p = spreadPlan(narrow)
      assert("Exchange".r.findAllIn(p).size == 1 &&
        "Exchange hashpartitioning\\(id#\\d+L, 4\\)".r.findFirstIn(p).isDefined,
        s"one id-keyed exchange expected:\n$p")
    } finally prior match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
    // the split gate: the same bytes in >= 4 splits stay as scanned
    val split = "spark.sql.files.maxPartitionBytes"
    val priorSplit = spark.conf.getOption(split)
    spark.conf.set(split, (1L << 20).toString)
    try {
      val wide = spark.read.parquet(wideFile)
      assert(wide.rdd.getNumPartitions >= 4)
      val p = spreadPlan(wide)
      assert(!p.contains("Exchange"), s"a parallel scan must not spread:\n$p")
    } finally priorSplit match {
      case Some(v) => spark.conf.set(split, v)
      case None => spark.conf.unset(split)
    }
  }
}
