package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType
import graft.Tables
import graft.operators.AsOfJoin

/** Join surface (SURVEY §2B J3–J8): outer, semi/anti, theta, cross,
  * multi-way star, as-of.
  *
  * Scale notes: dimensions (`region`, `nation`, `supplier`, `part`) are
  * broadcast; fact-fact joins (orders⋈lineitem, customer⋈orders) shuffle
  * on their keys under AQE. The theta join is bounded to a broadcastable
  * side so Spark plans BroadcastNestedLoop instead of a cartesian
  * shuffle. The as-of join is the union+window operator — one shuffle,
  * no row amplification.
  */
object Joins extends QGroup {

  private val dec = QShared.dec

  def defs: Seq[QDef] = Seq(

    // J3: left outer — customers kept even with zero orders.
    QDef("j3_left_outer_join",
      (s, dir) =>
        Tables(s, dir, "customer")
          .join(Tables(s, dir, "orders"),
            col("c_custkey") === col("o_custkey"), "left_outer")
          .groupBy(col("c_custkey"))
          .agg(count(col("o_orderkey")).as("n_orders"),
            // final double cast: decimal cells render with scale-6 under
            // the driver's hasher and mismatch the oracle's float64
            QShared.gridSum(col("o_totalprice")).cast("double").as("total_spent"))
          ,
      Some("""SELECT c_custkey, COUNT(o_orderkey) AS n_orders,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(38,6))) AS DOUBLE) AS total_spent
        |FROM customer LEFT OUTER JOIN orders ON c_custkey = o_custkey
        |GROUP BY c_custkey""".stripMargin)),

    // J3b: full outer with unmatched keys on both sides.
    QDef("j3b_full_outer_join",
      (s, dir) => {
        val rich = Tables(s, dir, "customer").filter(col("c_acctbal") > 5000)
          .select(col("c_custkey").as("k"), col("c_acctbal"))
        val big = Tables(s, dir, "orders").filter(col("o_totalprice") > 50000)
          .groupBy(col("o_custkey").as("k2"))
          .agg(count(lit(1)).as("n_big"))
        rich.join(big, col("k") === col("k2"), "full_outer")
          .select(coalesce(col("k"), col("k2")).as("custkey"),
            col("c_acctbal"), col("n_big"))
          
      },
      Some("""SELECT COALESCE(k, k2) AS custkey, c_acctbal, n_big
        |FROM (SELECT c_custkey AS k, c_acctbal FROM customer WHERE c_acctbal > 5000) rich
        |FULL OUTER JOIN (SELECT o_custkey AS k2, COUNT(*) AS n_big FROM orders
        |                 WHERE o_totalprice > 50000 GROUP BY o_custkey) big
        |ON k = k2""".stripMargin)),

    // J4: left semi — customers that have at least one order.
    QDef("j4_semi_join",
      (s, dir) =>
        Tables(s, dir, "customer")
          .join(Tables(s, dir, "orders"),
            col("c_custkey") === col("o_custkey"), "left_semi")
          .select(col("c_custkey"), col("c_name"))
          ,
      Some("""SELECT c_custkey, c_name FROM customer
        |WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)""".stripMargin)),

    // J4b: left anti — customers with no orders.
    QDef("j4b_anti_join",
      (s, dir) =>
        // r12 (verdict #3): both sides ride the shared custkey layouts —
        // the anti-join becomes an exchange-free, sort-free merge join
        // (PlanSpec). The orders side is NOT pre-aggregated to distinct
        // custkeys + broadcast: that side is data-derived, not provably
        // small (the repo's broadcast rule). A/B at sf1: 0.61 → 0.43 s.
        QShared.bucketedFact(s, dir, "customer", "c_custkey")
          .join(QShared.ordersByCustkey(s, dir),
            col("c_custkey") === col("o_custkey"), "left_anti")
          .select(col("c_custkey"), col("c_name"))
          ,
      Some("""SELECT c_custkey, c_name FROM customer
        |WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)""".stripMargin)),

    // J5: theta (non-equi) join, bounded; Spark plans BroadcastNestedLoop.
    QDef("j5_theta_join",
      (s, dir) =>
        Tables(s, dir, "part").filter(col("p_size") === 1)
          .join(broadcast(Tables(s, dir, "supplier")),
            col("p_retailprice") > col("s_acctbal"), "inner")
          .select(col("p_partkey"), col("s_suppkey"))
          ,
      Some("""SELECT p_partkey, s_suppkey
        |FROM part JOIN supplier ON p_retailprice > s_acctbal
        |WHERE p_size = 1""".stripMargin)),

    // J6: cross join.
    QDef("j6_cross_join",
      (s, dir) =>
        Tables(s, dir, "region")
          .crossJoin(Tables(s, dir, "nation"))
          .select(col("r_regionkey"), col("n_nationkey"), col("r_name"), col("n_name"))
          ,
      Some("""SELECT r_regionkey, n_nationkey, r_name, n_name
        |FROM region CROSS JOIN nation""".stripMargin)),

    // J7: 5-table star rollup — region⋈nation⋈customer⋈orders⋈lineitem.
    // r13 (verdict #4): the star's fact pair rides the shared orderkey
    // layouts (zero-exchange zero-sort merge, the j12/j24 precedent)
    // and the customer dimension broadcasts PRUNED to the two columns
    // the rollup consumes and attaches on the ORDERS side pre-merge —
    // the raw form exchanged 60M joined rows on o_custkey just to pick
    // up c_nationkey. Was 4.3× at sf10.
    QDef("j7_star_join",
      (s, dir) => {
        val n = broadcast(Tables(s, dir, "nation"))
        val r = broadcast(Tables(s, dir, "region"))
        val o = QShared.bucketedFact(s, dir, "orders", "o_orderkey")
          .join(broadcast(Tables(s, dir, "customer")
              .select(col("c_custkey"), col("c_nationkey"))),
            col("o_custkey") === col("c_custkey"))
          .join(n, col("c_nationkey") === col("n_nationkey"))
          .join(r, col("n_regionkey") === col("r_regionkey"))
          .select(col("o_orderkey"), col("r_name"), col("n_name"))
        QShared.bucketedFact(s, dir, "lineitem", "l_orderkey")
          .join(o, col("l_orderkey") === col("o_orderkey"))
          .groupBy(col("r_name"), col("n_name"))
          .agg(count(lit(1)).as("n_items"),
            QShared.gridSum(col("l_extendedprice") * (lit(1.0) - col("l_discount")))
              .cast("double").as("revenue"))
          
      },
      Some("""SELECT r_name, n_name, COUNT(*) AS n_items,
        |  CAST(SUM(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(38,6))) AS DOUBLE) AS revenue
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |GROUP BY r_name, n_name""".stripMargin)),

    // J12: TPC-H Q5 shape — the canonical join-order benchmark: the
    // fact-fact join (orders⋈lineitem), a mid-size supplier join
    // carrying the local-supplier constraint (c_nationkey =
    // s_nationkey), and broadcast dims. Since r10 the fact pair rides
    // the SHARED orderkey-bucketed layouts (QShared.bucketedFact): the
    // join order puts the co-located orders⋈lineitem FIRST (a
    // zero-exchange zero-sort streaming merge — the join order a
    // 100 TB cluster with bucketed facts wants), then customer, then
    // supplier. Filters stay on the base tables so the date range
    // reaches the orders scan and the region filter prunes before
    // broadcast; customer and supplier are deliberately UNhinted — at
    // TPC-H scale both outgrow broadcast at 100 TB, so size-based
    // planning/AQE must pick the strategy from runtime stats (the
    // c_nationkey = s_nationkey conjunct rides whichever join ships).
    // r10 A/B (interleaved, sf0.1): 0.69 → 0.32 s, identical rows.
    QDef("j12_q5_shape",
      (s, dir) => {
        val c = Tables(s, dir, "customer")
        val o = QShared.bucketedFact(s, dir, "orders", "o_orderkey")
          .filter(col("o_orderdate") >= lit("1996-01-01").cast("timestamp") &&
            col("o_orderdate") < lit("1997-01-01").cast("timestamp"))
        val l = QShared.bucketedFact(s, dir, "lineitem", "l_orderkey")
        val su = Tables(s, dir, "supplier")
        val n = broadcast(Tables(s, dir, "nation"))
        val r = broadcast(Tables(s, dir, "region").filter(col("r_name") === "ASIA"))
        o.hint("merge").join(l.hint("merge"),
            col("o_orderkey") === col("l_orderkey"))
          .join(c, col("c_custkey") === col("o_custkey"))
          .join(su, col("l_suppkey") === col("s_suppkey") &&
            col("c_nationkey") === col("s_nationkey"))
          .join(n, col("s_nationkey") === col("n_nationkey"))
          .join(r, col("n_regionkey") === col("r_regionkey"))
          .groupBy(col("n_name"))
          .agg(count(lit(1)).as("n_items"),
            QShared.gridSum(col("l_extendedprice") * (lit(1.0) - col("l_discount")))
              .cast("double").as("revenue"))
      },
      Some("""SELECT n_name, COUNT(*) AS n_items,
        |  CAST(SUM(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(38,6))) AS DOUBLE) AS revenue
        |FROM customer
        |JOIN orders   ON c_custkey = o_custkey
        |JOIN lineitem ON l_orderkey = o_orderkey
        |JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
        |JOIN nation   ON s_nationkey = n_nationkey
        |JOIN region   ON n_regionkey = r_regionkey
        |WHERE r_name = 'ASIA'
        |  AND o_orderdate >= TIMESTAMP '1996-01-01'
        |  AND o_orderdate <  TIMESTAMP '1997-01-01'
        |GROUP BY n_name""".stripMargin)),

    // J8: as-of join — for each error event, the user's latest signup at
    // or before it (union+window operator; DuckDB ASOF JOIN oracle).
    QDef("j8_asof_join",
      (s, dir) => {
        // µs grain on both sides: DuckDB truncates TIMESTAMP_NS to µs on
        // read, so a nanosecond comparison here could disagree with the
        // oracle for same-µs pairs.
        val ev = Tables(s, dir, "events").withColumn("tus", expr("ts div 1000"))
        val errors = ev.filter(col("event_type") === "error")
          .select(col("event_id"), col("user_id"), col("tus"))
        val signups = ev.filter(col("event_type") === "signup")
          .select(col("event_id").as("sid"), col("user_id"), col("tus"), col("value"))
        AsOfJoin.asOf(errors, signups,
            key = "user_id", ts = "tus",
            rightPayload = Seq("sid", "value"), tieCols = Seq("event_id"),
            rightTieCols = Seq("sid"))
          .select(col("event_id"), col("user_id"),
            col("r_sid").as("signup_id"), col("r_value").as("signup_value"))
          
      },
      Some("""SELECT e.event_id, e.user_id,
        |  s.event_id AS signup_id, s.value AS signup_value
        |FROM (SELECT * FROM events WHERE event_type = 'error') e
        |ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'signup') s
        |  ON e.user_id = s.user_id AND s.ts <= e.ts""".stripMargin)),

    // J9: event-time range join (impression→click attribution, the batch
    // analog of Streams.clickAttribution). The user_id equality makes
    // this a hash/sort-merge join with the time range as a post-join
    // filter — NOT a nested-loop over the cross product, so it survives
    // the 100 TB case; µs grain on both sides like J8.
    QDef("j9_range_join",
      (s, dir) => {
        val ev = Tables(s, dir, "events").withColumn("tus", expr("ts div 1000"))
        val imp = ev.filter(col("event_type") === "view")
          .select(col("event_id").as("imp_id"), col("user_id"), col("tus").as("imp_us"))
        val clk = ev.filter(col("event_type") === "click")
          .select(col("event_id").as("clk_id"), col("user_id").as("clk_user"),
            col("tus").as("clk_us"))
        imp.join(clk, col("user_id") === col("clk_user") &&
            col("clk_us") >= col("imp_us") &&
            col("clk_us") <= col("imp_us") + lit(43200000000L)) // 12 h in µs
          .select(col("imp_id"), col("clk_id"), col("user_id"),
            (col("clk_us") - col("imp_us")).as("delay_us"))
          
      },
      Some("""SELECT i.event_id AS imp_id, c.event_id AS clk_id, i.user_id,
        |  epoch_us(c.ts) - epoch_us(i.ts) AS delay_us
        |FROM (SELECT * FROM events WHERE event_type = 'view') i
        |JOIN (SELECT * FROM events WHERE event_type = 'click') c
        |  ON i.user_id = c.user_id
        | AND c.ts >= i.ts AND c.ts <= i.ts + INTERVAL 12 HOUR""".stripMargin)),

    // J10: NON-equi interval join — co-occurring event pairs within 1 s
    // across ALL users (no equality key at all). A raw |b-a| <= tol
    // predicate plans as BroadcastNestedLoopJoin (O(n·m), PlanSpec pins
    // the contrast); operators.IntervalJoin rewrites it to an equi-join
    // on tolerance-width buckets + exact filter. The oracle SQL uses
    // the SAME bucketed rewrite — a naive DuckDB range self-join is
    // quadratic too (measured minutes at sf0.1), so bucketing keeps the
    // wall-time baseline honest rather than gifting Spark the ratio.
    QDef("j10_interval_join",
      (s, dir) => {
        val ev = Tables(s, dir, "events")
          .select(col("event_id"), expr("ts div 1000").as("tus"))
        val a = ev.select(col("event_id").as("a_id"), col("tus").as("a_us"))
        val b = ev.select(col("event_id").as("b_id"), col("tus").as("b_us"))
        graft.operators.IntervalJoin.join(a, b, "a_us", "b_us", 1000000L)
          .filter(col("a_id") < col("b_id"))
          .select(col("a_id"), col("b_id"),
            (col("b_us") - col("a_us")).as("delta_us"))
      },
      Some("""WITH e AS (
        |  SELECT event_id, epoch_us(ts) AS tus FROM events),
        |l AS (
        |  SELECT event_id, tus,
        |    unnest([tus // 1000000 - 1, tus // 1000000, tus // 1000000 + 1]) AS b
        |  FROM e),
        |r AS (SELECT event_id AS rid, tus AS rtus, tus // 1000000 AS b FROM e)
        |SELECT l.event_id AS a_id, rid AS b_id, rtus - tus AS delta_us
        |FROM l JOIN r USING (b)
        |WHERE abs(rtus - tus) <= 1000000 AND l.event_id < rid""".stripMargin)),

    // J11: bloom-prefiltered semi-join — the explicit runtime-filter
    // pattern (operators.BloomJoin). The dim key set ships as a plan
    // literal; non-candidate fact rows die at the scan, before the
    // shuffle; the exact semi-join on survivors makes false positives
    // harmless. Oracle = the plain IN-subquery: bit-identical results
    // certify the prefilter is invisible to correctness.
    QDef("j11_bloom_semi_join",
      (s, dir) => graft.operators.BloomJoin.bloomSemiJoin(
          Tables(s, dir, "lineitem")
            .select(col("l_orderkey"), col("l_linenumber"),
              col("l_partkey"), col("l_quantity")),
          Tables(s, dir, "part").filter(col("p_size") > 40),
          "l_partkey", "p_partkey")
        .select(col("l_orderkey"), col("l_linenumber"),
          col("l_partkey"), col("l_quantity")),
      Some("""SELECT l_orderkey, l_linenumber, l_partkey, l_quantity
        |FROM lineitem
        |WHERE l_partkey IN (SELECT p_partkey FROM part WHERE p_size > 40)""".stripMargin)),

    // J13: TPC-H Q18 shape — large-volume orders: aggregate the fact,
    // HAVING-filter, join back to orders + customer. Scale shape: the
    // lineitem aggregation and the orders join shuffle on the SAME
    // orderkey (one exchange reused); the HAVING threshold prunes to a
    // sliver before any join, and AQE sizes the customer join off the
    // surviving row count (at TPC-H scale customer is too big to
    // broadcast statically but the filtered order set is tiny).
    QDef("j13_q18_shape",
      (s, dir) => {
        // r10: both fact references ride the shared orderkey layouts —
        // the lineitem aggregation and the orders join-back merge on
        // HashPartitioning(orderkey) with no fact exchange. A/B at
        // sf0.1 (interleaved, identical rows): 0.31 → 0.25 s. The
        // custkey customer-join family (j3/j3b/j18) measured NEUTRAL
        // on the custkey layout (those joins already broadcast the
        // small side — no exchange to remove) and keeps plain scans.
        val bigOrders = QShared.bucketedFact(s, dir, "lineitem", "l_orderkey")
          .groupBy(col("l_orderkey"))
          .agg(QShared.gridSum(col("l_quantity")).as("sum_qty"))
          .filter(col("sum_qty") > 250)
        QShared.bucketedFact(s, dir, "orders", "o_orderkey")
          .join(bigOrders, col("o_orderkey") === col("l_orderkey"))
          .join(Tables(s, dir, "customer"),
            col("o_custkey") === col("c_custkey"))
          .select(col("c_custkey"), col("c_name"), col("o_orderkey"),
            col("o_orderdate").cast("date").cast("string").as("o_day"),
            col("sum_qty").cast("double").as("sum_qty"))
      },
      Some("""SELECT c_custkey, c_name, o_orderkey,
        |  CAST(CAST(o_orderdate AS DATE) AS VARCHAR) AS o_day,
        |  CAST(sum_qty AS DOUBLE) AS sum_qty
        |FROM orders
        |JOIN (SELECT l_orderkey, SUM(CAST(l_quantity AS DECIMAL(38,6))) AS sum_qty
        |      FROM lineitem GROUP BY l_orderkey
        |      HAVING SUM(CAST(l_quantity AS DECIMAL(38,6))) > 250) big
        |  ON o_orderkey = l_orderkey
        |JOIN customer ON o_custkey = c_custkey""".stripMargin)),

    // J14: correlated scalar subqueries (TPC-H Q17 shape) — "parts
    // priced below their type's average", written as genuine correlated
    // subqueries through spark.sql so Catalyst's decorrelation rewrites
    // them into per-type aggregates + joins (RewriteCorrelatedScalarSubquery;
    // the per-type aggregate is 6 rows here and broadcast back).
    // Determinism: the avg compare is decomposed into exact decimal
    // cross-multiplication (price × count < sum) — no decimal division,
    // whose result scale the two engines round differently.
    QDef("j14_scalar_subquery",
      (s, dir) => {
        Tables(s, dir, "part").createOrReplaceTempView("j14_part")
        s.sql("""SELECT p_partkey, p_type, p_retailprice
          |FROM j14_part p
          |WHERE CAST(p_retailprice AS DECIMAL(38,6)) *
          |      (SELECT COUNT(*) FROM j14_part p2 WHERE p2.p_type = p.p_type)
          |    < (SELECT SUM(CAST(p_retailprice AS DECIMAL(38,6)))
          |       FROM j14_part p2 WHERE p2.p_type = p.p_type)""".stripMargin)
      },
      Some("""SELECT p_partkey, p_type, p_retailprice
        |FROM part p
        |WHERE CAST(p_retailprice AS DECIMAL(38,6)) *
        |      (SELECT COUNT(*) FROM part p2 WHERE p2.p_type = p.p_type)
        |    < (SELECT SUM(CAST(p_retailprice AS DECIMAL(38,6)))
        |       FROM part p2 WHERE p2.p_type = p.p_type)""".stripMargin)),

    // J15: correlated EXISTS / NOT EXISTS through spark.sql —
    // RewritePredicateSubquery lowers them to a left-semi and a
    // left-anti join on the correlation key (the J4 operators, reached
    // through the SQL front door). Both subqueries filter before
    // correlating, so each join's build side is pre-pruned.
    QDef("j15_exists_subquery",
      (s, dir) => {
        Tables(s, dir, "customer").createOrReplaceTempView("j15_customer")
        Tables(s, dir, "orders").createOrReplaceTempView("j15_orders")
        s.sql("""SELECT c_custkey, c_acctbal
          |FROM j15_customer c
          |WHERE EXISTS (SELECT 1 FROM j15_orders o
          |              WHERE o.o_custkey = c.c_custkey
          |                AND o.o_totalprice > 400000)
          |  AND NOT EXISTS (SELECT 1 FROM j15_orders o
          |                  WHERE o.o_custkey = c.c_custkey
          |                    AND o.o_orderstatus = 'F'
          |                    AND o.o_totalprice < 50000)""".stripMargin)
      },
      Some("""SELECT c_custkey, c_acctbal
        |FROM customer c
        |WHERE EXISTS (SELECT 1 FROM orders o
        |              WHERE o.o_custkey = c.c_custkey
        |                AND o.o_totalprice > 400000)
        |  AND NOT EXISTS (SELECT 1 FROM orders o
        |                  WHERE o.o_custkey = c.c_custkey
        |                    AND o.o_orderstatus = 'F'
        |                    AND o.o_totalprice < 50000)""".stripMargin)),

    // J16: TPC-H Q21 shape — "suppliers who kept orders waiting": the
    // hardest decorrelation pattern in the suite, a fact-table
    // self-correlated EXISTS (another supplier served the same order)
    // plus a NOT EXISTS correlated on TWO outer columns (l_orderkey
    // AND the joined o_orderdate), both lowered by
    // RewritePredicateSubquery to semi/anti self-joins on the order
    // key. "Late" is adapted to this schema (no receipt/commit dates):
    // shipped >60 days after the order date.
    QDef("j16_q21_shape",
      (s, dir) => {
        // r10: all three lineitem references (l1, the EXISTS l2, the
        // NOT EXISTS l3) and the orders join are orderkey-keyed, so
        // the views register the SHARED orderkey-bucketed layouts
        // (QShared.bucketedFact) and the semi/anti/inner joins merge
        // on the layout partitioning instead of exchanging the fact
        // three more times. A/B at sf0.1 (interleaved, identical
        // 1000 rows): 0.87 → 0.48 s. The SQL itself is unchanged.
        QShared.bucketedFact(s, dir, "lineitem", "l_orderkey")
          .createOrReplaceTempView("j16_lineitem")
        QShared.bucketedFact(s, dir, "orders", "o_orderkey")
          .createOrReplaceTempView("j16_orders")
        Tables(s, dir, "supplier").createOrReplaceTempView("j16_supplier")
        // join order: the orderkey-keyed work (orders join + the
        // decorrelated semi/anti) runs FIRST inside the layout's
        // partitioning; supplier joins LAST, so its suppkey exchange
        // (or broadcast) happens once on the surviving rows instead of
        // splitting the orderkey chain with a re-exchange
        s.sql("""SELECT s_name, COUNT(*) AS numwait
          |FROM j16_lineitem l1
          |JOIN j16_orders ON o_orderkey = l1.l_orderkey
          |JOIN j16_supplier ON s_suppkey = l1.l_suppkey
          |WHERE o_orderstatus = 'F'
          |  AND l1.l_shipdate > o_orderdate + INTERVAL 60 DAY
          |  AND EXISTS (SELECT 1 FROM j16_lineitem l2
          |              WHERE l2.l_orderkey = l1.l_orderkey
          |                AND l2.l_suppkey <> l1.l_suppkey)
          |  AND NOT EXISTS (SELECT 1 FROM j16_lineitem l3
          |                  WHERE l3.l_orderkey = l1.l_orderkey
          |                    AND l3.l_suppkey <> l1.l_suppkey
          |                    AND l3.l_shipdate > o_orderdate + INTERVAL 60 DAY)
          |GROUP BY s_name""".stripMargin)
      },
      Some("""SELECT s_name, COUNT(*) AS numwait
        |FROM supplier JOIN lineitem l1 ON s_suppkey = l1.l_suppkey
        |JOIN orders ON o_orderkey = l1.l_orderkey
        |WHERE o_orderstatus = 'F'
        |  AND l1.l_shipdate > o_orderdate + INTERVAL 60 DAY
        |  AND EXISTS (SELECT 1 FROM lineitem l2
        |              WHERE l2.l_orderkey = l1.l_orderkey
        |                AND l2.l_suppkey <> l1.l_suppkey)
        |  AND NOT EXISTS (SELECT 1 FROM lineitem l3
        |                  WHERE l3.l_orderkey = l1.l_orderkey
        |                    AND l3.l_suppkey <> l1.l_suppkey
        |                    AND l3.l_shipdate > o_orderdate + INTERVAL 60 DAY)
        |GROUP BY s_name""".stripMargin)),

    // J17: TPC-H Q22 shape — "global-account customers who went
    // quiet": a scalar aggregate subquery feeding a filter plus an
    // anti-join against the fact table. The above-average-balance
    // threshold is decided in EXACT decimal arithmetic
    // (bal × n_pos > Σbal, both sides exact) instead of comparing
    // against a float AVG whose last ulp differs across engines —
    // a knife-edge balance would otherwise flip the row set.
    // "No orders at all" never fires in this data (every customer
    // orders), so the anti condition is the real-world variant:
    // inactive since 2000-01-01.
    QDef("j17_q22_shape",
      (s, dir) => {
        // r13 (verdict #1): the anti-join keys on custkey — both sides
        // ride the shared custkey layouts (customer bucketed ⋈ the
        // ordersByCustkey projection) as a zero-exchange merge anti
        // join; the scalar threshold attaches as a broadcast 1-row
        // cross join (the standard scalar pattern). Was a temp-view
        // SQL form whose anti-join exchanged both raw scans: 5.3× at
        // sf10. Decimal threshold semantics unchanged — the compare is
        // bal×n_pos > Σbal in exact DECIMAL on both engines.
        val seg = QShared.bucketedFact(s, dir, "customer", "c_custkey")
          .filter(col("c_mktsegment")
            .isin("BUILDING", "AUTOMOBILE", "MACHINERY"))
        val thr = seg.filter(col("c_acctbal") > 0.0)
          .agg(QShared.gridSum(col("c_acctbal")).as("total_pos"),
            count(lit(1)).as("n_pos"))
        seg
          .join(QShared.ordersByCustkey(s, dir)
              .filter(col("o_orderdate") >= "2000-01-01")
              .select(col("o_custkey")),
            col("c_custkey") === col("o_custkey"), "left_anti")
          .crossJoin(broadcast(thr))
          .filter(col("c_acctbal").cast(QShared.dec) * col("n_pos") >
            col("total_pos"))
          .groupBy(col("c_mktsegment"))
          .agg(count(lit(1)).as("numcust"),
            QShared.gridSum(col("c_acctbal")).cast("double").as("totacctbal"))
      },
      Some("""WITH seg AS (
        |  SELECT * FROM customer
        |  WHERE c_mktsegment IN ('BUILDING', 'AUTOMOBILE', 'MACHINERY')),
        |thr AS (
        |  SELECT CAST(SUM(CAST(c_acctbal AS DECIMAL(38,6))) AS DECIMAL(38,6)) AS total_pos,
        |         COUNT(*) AS n_pos
        |  FROM seg WHERE c_acctbal > 0.0)
        |SELECT c_mktsegment, COUNT(*) AS numcust,
        |  CAST(SUM(CAST(c_acctbal AS DECIMAL(38,6))) AS DOUBLE) AS totacctbal
        |FROM seg CROSS JOIN thr
        |WHERE CAST(c_acctbal AS DECIMAL(38,6)) * n_pos > total_pos
        |  AND NOT EXISTS (SELECT 1 FROM orders
        |                  WHERE o_custkey = c_custkey
        |                    AND o_orderdate >= TIMESTAMP '2000-01-01')
        |GROUP BY c_mktsegment""".stripMargin)),

    // J18: TPC-H Q13 shape — customer order-count distribution. The
    // teaching point is the JOIN-CONDITION filter on a LEFT OUTER join
    // (o_orderpriority <> '1-URGENT' prunes the right side but must NOT
    // drop customers), then a second aggregation over the first's
    // output — two shuffles, the second on a low-cardinality key that
    // AQE coalesces to a handful of partitions.
    QDef("j18_q13_custdist",
      (s, dir) => {
        // r12 (verdict #3): Q13's outer join AND the per-customer
        // re-aggregation both key on custkey — riding the shared
        // custkey layouts leaves the distribution regroup (a handful
        // of c_count values) as the query's ONLY exchange (PlanSpec).
        // A/B at sf1 (interleaved, identical rows): 1.03 → 0.64 s.
        val perCust = QShared.bucketedFact(s, dir, "customer", "c_custkey")
          .join(QShared.ordersByCustkey(s, dir)
              .filter(col("o_orderpriority") =!= "1-URGENT"),
            col("c_custkey") === col("o_custkey"), "left_outer")
          .groupBy(col("c_custkey"))
          .agg(count(col("o_orderkey")).as("c_count"))
        perCust.groupBy(col("c_count"))
          .agg(count(lit(1)).as("custdist"))
      },
      Some("""SELECT c_count, COUNT(*) AS custdist
        |FROM (SELECT c_custkey, COUNT(o_orderkey) AS c_count
        |      FROM customer LEFT OUTER JOIN orders
        |        ON c_custkey = o_custkey AND o_orderpriority <> '1-URGENT'
        |      GROUP BY c_custkey) c_orders
        |GROUP BY c_count""".stripMargin)),

    // J19: TPC-H Q16 shape — supplier diversity per part bucket with a
    // NOT IN exclusion. NOT IN (as opposed to NOT EXISTS, J15/J16) is
    // the null-aware anti-join: one NULL in the subquery empties the
    // result, so Spark plans a BroadcastNestedLoopJoin unless it can
    // prove the build side null-free — the exclusion list here is a
    // 1-column key scan, broadcast either way. partsupp doesn't exist
    // in this schema; lineitem's (l_partkey, l_suppkey) is the
    // observed part↔supplier relation, and "complaint" suppliers are
    // those with negative account balance.
    QDef("j19_q16_shape",
      (s, dir) => {
        // r13 (verdict #4) NEGATIVE, recorded: pre-deduping
        // (l_partkey, l_suppkey) on the partkey layout (the j29 trick)
        // measured 5.0 s vs 1.66 s at sf10 — the perturbed replica
        // synthesis makes the pair relation nearly unique (each
        // replica remaps both keys), so the dedup shrank nothing and
        // added a 60M-row hash stage. The raw scan ships; the NOT IN
        // stays in the SQL front door — its null-aware anti-join
        // planning is the declared surface of this query.
        Tables(s, dir, "lineitem").createOrReplaceTempView("j19_lineitem")
        Tables(s, dir, "part").createOrReplaceTempView("j19_part")
        Tables(s, dir, "supplier").createOrReplaceTempView("j19_supplier")
        s.sql("""SELECT p_brand, p_type, p_size,
          |  COUNT(DISTINCT l_suppkey) AS supplier_cnt
          |FROM j19_lineitem JOIN j19_part ON p_partkey = l_partkey
          |WHERE p_brand <> 'Brand#45'
          |  AND p_type <> 'MEDIUM'
          |  AND p_size IN (1, 9, 14, 19, 23, 36, 45, 49)
          |  AND l_suppkey NOT IN (SELECT s_suppkey FROM j19_supplier
          |                        WHERE s_acctbal < 0)
          |GROUP BY p_brand, p_type, p_size""".stripMargin)
      },
      Some("""SELECT p_brand, p_type, p_size,
        |  COUNT(DISTINCT l_suppkey) AS supplier_cnt
        |FROM lineitem JOIN part ON p_partkey = l_partkey
        |WHERE p_brand <> 'Brand#45'
        |  AND p_type <> 'MEDIUM'
        |  AND p_size IN (1, 9, 14, 19, 23, 36, 45, 49)
        |  AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier
        |                        WHERE s_acctbal < 0)
        |GROUP BY p_brand, p_type, p_size""".stripMargin)),

    // J20: TPC-H Q19 shape — discounted revenue under an OR-of-ANDs
    // predicate spanning both join sides. Catalyst extracts the
    // common join key, pushes the part-only conjuncts (brand, size)
    // below the join via CNF conversion, and leaves the cross-side
    // residual on the join — the scan of `part` must show a
    // PushedFilters entry for the brand IN-set, not a post-join
    // filter of the whole disjunction.
    QDef("j20_q19_disjunctive",
      (s, dir) => {
        val l = Tables(s, dir, "lineitem")
        val p = broadcast(Tables(s, dir, "part"))
        l.join(p, col("p_partkey") === col("l_partkey"))
          .filter(
            (col("p_brand") === "Brand#12" && col("p_size").between(1, 5) &&
              col("l_quantity").between(1, 11)) ||
            (col("p_brand") === "Brand#23" && col("p_size").between(1, 10) &&
              col("l_quantity").between(10, 20)) ||
            (col("p_brand") === "Brand#34" && col("p_size").between(1, 15) &&
              col("l_quantity").between(20, 30)))
          .agg(count(lit(1)).as("n_items"),
            QShared.gridSum(col("l_extendedprice") * (lit(1.0) - col("l_discount")))
              .cast("double").as("revenue"))
      },
      Some("""SELECT COUNT(*) AS n_items,
        |  CAST(SUM(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(38,6))) AS DOUBLE) AS revenue
        |FROM lineitem JOIN part ON p_partkey = l_partkey
        |WHERE (p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 5
        |       AND l_quantity BETWEEN 1 AND 11)
        |   OR (p_brand = 'Brand#23' AND p_size BETWEEN 1 AND 10
        |       AND l_quantity BETWEEN 10 AND 20)
        |   OR (p_brand = 'Brand#34' AND p_size BETWEEN 1 AND 15
        |       AND l_quantity BETWEEN 20 AND 30)""".stripMargin)),

    // J21: TPC-H Q7 shape — bilateral trade volume: the same `nation`
    // dimension joined TWICE under different roles (supplier's vs
    // customer's), a symmetric pair filter, and a per-year rollup.
    // Both nation joins broadcast; the fact-side chain
    // lineitem⋈supplier and lineitem⋈orders⋈customer shuffles on its
    // keys once each.
    QDef("j21_q7_volume",
      (s, dir) => {
        // r13 (verdict #4): the symmetric pair filter implies BOTH
        // roles lie in {NATION_1, NATION_2} — push that relaxation to
        // the two dimension sides BEFORE the fact joins (the exact
        // disjunction stays as the residual filter): supplier and
        // customer shrink to the two trading nations (~2/25), the
        // orders⋈customer broadcast join drops ~92% of orders before
        // the fact-fact merge, and the fact pair rides the shared
        // orderkey layouts (exchange-free, sort-free). The raw form
        // shuffled lineitem TWICE (supplier, then orderkey) and
        // customer once. Was 3.1× at sf10.
        val n1 = broadcast(Tables(s, dir, "nation"))
          .select(col("n_nationkey").as("n1_key"), col("n_name").as("supp_nation"))
        val n2 = broadcast(Tables(s, dir, "nation"))
          .select(col("n_nationkey").as("n2_key"), col("n_name").as("cust_nation"))
        val su = broadcast(Tables(s, dir, "supplier")
          .join(n1, col("s_nationkey") === col("n1_key"))
          .filter(col("supp_nation").isin("NATION_1", "NATION_2"))
          .select(col("s_suppkey"), col("supp_nation")))
        val oc = QShared.bucketedFact(s, dir, "orders", "o_orderkey")
          .join(broadcast(Tables(s, dir, "customer")
              .join(n2, col("c_nationkey") === col("n2_key"))
              .filter(col("cust_nation").isin("NATION_1", "NATION_2"))
              .select(col("c_custkey"), col("cust_nation"))),
            col("o_custkey") === col("c_custkey"))
          .select(col("o_orderkey"), col("cust_nation"))
        QShared.bucketedFact(s, dir, "lineitem", "l_orderkey")
          .join(oc, col("l_orderkey") === col("o_orderkey"))
          .join(su, col("l_suppkey") === col("s_suppkey"))
          .filter(
            (col("supp_nation") === "NATION_1" && col("cust_nation") === "NATION_2") ||
            (col("supp_nation") === "NATION_2" && col("cust_nation") === "NATION_1"))
          .groupBy(col("supp_nation"), col("cust_nation"),
            year(col("l_shipdate")).as("l_year"))
          .agg(QShared.gridSum(col("l_extendedprice") * (lit(1.0) - col("l_discount")))
            .cast("double").as("revenue"))
      },
      Some("""SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
        |  year(l_shipdate) AS l_year,
        |  CAST(SUM(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(38,6))) AS DOUBLE) AS revenue
        |FROM lineitem
        |JOIN supplier ON l_suppkey = s_suppkey
        |JOIN orders   ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation n1 ON s_nationkey = n1.n_nationkey
        |JOIN nation n2 ON c_nationkey = n2.n_nationkey
        |WHERE (n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
        |   OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1')
        |GROUP BY n1.n_name, n2.n_name, year(l_shipdate)""".stripMargin)),

    // J22: TPC-H Q15 shape — top supplier by quarterly revenue: a
    // grouped view consumed twice (once for the rows, once inside a
    // scalar MAX subquery). The revenue stays DECIMAL end-to-end so
    // the `= MAX(...)` comparison is exact — on floats a knife-edge
    // tie could include different suppliers on different engines.
    // Catalyst evaluates the scalar subquery once and broadcasts the
    // single-row result into the filter.
    QDef("j22_q15_top_supplier",
      (s, dir) => {
        // r10: the rev subtree is referenced TWICE (the supplier join
        // and the scalar MAX) and Catalyst inlines CTEs — the SQL form
        // scanned + aggregated lineitem twice. Lazily checkpointing rev
        // (the l11 reused-subtree precedent: it holds a scan + filter +
        // exchange + agg) makes the scalar-MAX job materialize it once
        // and the join reuse it. A/B at sf0.1 (interleaved, identical
        // rows): 0.40 → 0.29 s. Decimal end-to-end as before — the
        // `=` against MAX stays exact.
        val rev = Tables(s, dir, "lineitem")
          .filter(col("l_shipdate") >= lit("1996-01-01").cast("timestamp") &&
            col("l_shipdate") < lit("1996-04-01").cast("timestamp"))
          .groupBy(col("l_suppkey").as("supplier_no"))
          .agg(sum((col("l_extendedprice") * (lit(1.0) - col("l_discount")))
            .cast("decimal(38,6)")).as("total_rev"))
          .localCheckpoint(false)
        val mx = rev.agg(max(col("total_rev")).as("mx"))
        Tables(s, dir, "supplier")
          .join(rev, col("s_suppkey") === col("supplier_no"))
          .join(broadcast(mx), col("total_rev") === col("mx"))
          .select(col("s_suppkey"), col("s_name"),
            col("total_rev").cast("double").as("total_revenue"))
      },
      Some("""WITH rev AS (
        |  SELECT l_suppkey AS supplier_no,
        |    SUM(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(38,6))) AS total_rev
        |  FROM lineitem
        |  WHERE l_shipdate >= TIMESTAMP '1996-01-01'
        |    AND l_shipdate <  TIMESTAMP '1996-04-01'
        |  GROUP BY l_suppkey)
        |SELECT s_suppkey, s_name, CAST(total_rev AS DOUBLE) AS total_revenue
        |FROM supplier JOIN rev ON s_suppkey = supplier_no
        |WHERE total_rev = (SELECT MAX(total_rev) FROM rev)""".stripMargin)),

    // J23: LATERAL correlated subquery — each customer's single
    // biggest order, written as the SQL-standard lateral derived
    // table rather than a window. Catalyst decorrelates the LIMIT-1
    // lateral into a per-key aggregation join (DecorrelateInnerQuery
    // handles the correlated LIMIT via row_number), so the physical
    // plan is the same one shuffle as W4's window formulation — the
    // point is front-door coverage of the syntax, with a total order
    // (price DESC, then orderkey) making the picked row unique.
    QDef("j23_lateral_topk",
      (s, dir) => {
        Tables(s, dir, "customer").createOrReplaceTempView("j23_customer")
        Tables(s, dir, "orders").createOrReplaceTempView("j23_orders")
        s.sql("""SELECT c_custkey, best.o_orderkey AS best_orderkey,
          |  best.o_totalprice AS best_price
          |FROM j23_customer c,
          |LATERAL (SELECT o_orderkey, o_totalprice FROM j23_orders o
          |         WHERE o.o_custkey = c.c_custkey
          |         ORDER BY o_totalprice DESC, o_orderkey
          |         LIMIT 1) best""".stripMargin)
      },
      Some("""SELECT c_custkey, best.o_orderkey AS best_orderkey,
        |  best.o_totalprice AS best_price
        |FROM customer c,
        |LATERAL (SELECT o_orderkey, o_totalprice FROM orders o
        |         WHERE o.o_custkey = c.c_custkey
        |         ORDER BY o_totalprice DESC, o_orderkey
        |         LIMIT 1) best""".stripMargin)),

    // J24: TPC-H Q8 shape — national market share per year: a
    // six-table chain where the SAME fact row needs both its
    // customer's region (to scope the market) and its supplier's
    // nation (to attribute the sale). All dims broadcast; lineitem
    // joins orders on the one fact-fact exchange. Share = conditional
    // decimal sum / total decimal sum, one floor-scaled double
    // division at the very end.
    QDef("j24_q8_market_share",
      (s, dir) => {
        val rev = col("l_extendedprice") * (lit(1.0) - col("l_discount"))
        val custNation = broadcast(Tables(s, dir, "nation"))
          .select(col("n_nationkey").as("cn_key"), col("n_regionkey").as("cn_region"))
        val suppNation = broadcast(Tables(s, dir, "nation"))
          .select(col("n_nationkey").as("sn_key"), col("n_name").as("supp_nation"))
        val euRegion = broadcast(Tables(s, dir, "region"))
          .filter(col("r_name") === "EUROPE")
        // r12: the fact pair rides the shared orderkey layouts (the
        // j12/a1b precedent) — the only fact-fact exchange pair in the
        // Q8 chain disappears; the date filter still reaches the
        // bucketed scan.
        // r13 (verdict #2): the customer/nation/region pruning moves to
        // the ORDERS side BEFORE the fact-fact merge (broadcast joins
        // preserve the layout's partitioning AND sort, so the SMJ stays
        // exchange-free and sort-free): the EU filter drops ~4/5 of the
        // window's orders pre-join, the SMJ output shrinks the same
        // factor, the 1.5M-entry customer broadcast is probed at orders
        // grain (4.2M) instead of joined-lineitem grain (17M), and the
        // supplier probes run on the surviving pair rows only.
        val ordersEu = QShared.bucketedFact(s, dir, "orders", "o_orderkey")
          .filter(col("o_orderdate") >= "1996-01-01" &&
            col("o_orderdate") < "1998-01-01")
          .join(broadcast(Tables(s, dir, "customer")
              .select(col("c_custkey"), col("c_nationkey"))),
            col("o_custkey") === col("c_custkey"))
          .join(custNation, col("c_nationkey") === col("cn_key"))
          .join(euRegion, col("cn_region") === col("r_regionkey"))
          .select(col("o_orderkey"), col("o_orderdate"))
        QShared.bucketedFact(s, dir, "lineitem", "l_orderkey")
          .join(ordersEu, col("l_orderkey") === col("o_orderkey"))
          .join(broadcast(Tables(s, dir, "supplier")
              .select(col("s_suppkey"), col("s_nationkey"))),
            col("l_suppkey") === col("s_suppkey"))
          .join(suppNation, col("s_nationkey") === col("sn_key"))
          .groupBy(year(col("o_orderdate")).as("o_year"))
          .agg(
            QShared.gridSum(when(col("supp_nation") === "NATION_1", rev)
              .otherwise(lit(0.0))).as("nat_dec"),
            QShared.gridSum(rev).as("all_dec"))
          .select(col("o_year"),
            col("all_dec").cast("double").as("total_revenue"),
            floor(col("nat_dec").cast("double") / col("all_dec").cast("double")
              * 1e6).cast("bigint").as("mkt_share_micro"))
      },
      Some("""WITH base AS (
        |  SELECT year(o_orderdate) AS o_year,
        |    SUM(CASE WHEN sn.n_name = 'NATION_1'
        |        THEN CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(38,6))
        |        ELSE CAST(0 AS DECIMAL(38,6)) END) AS nat_dec,
        |    SUM(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(38,6))) AS all_dec
        |  FROM lineitem
        |  JOIN orders   ON l_orderkey = o_orderkey
        |  JOIN customer ON o_custkey = c_custkey
        |  JOIN nation cn ON c_nationkey = cn.n_nationkey
        |  JOIN region   ON cn.n_regionkey = r_regionkey AND r_name = 'EUROPE'
        |  JOIN supplier ON l_suppkey = s_suppkey
        |  JOIN nation sn ON s_nationkey = sn.n_nationkey
        |  WHERE o_orderdate >= TIMESTAMP '1996-01-01'
        |    AND o_orderdate <  TIMESTAMP '1998-01-01'
        |  GROUP BY year(o_orderdate))
        |SELECT o_year, CAST(all_dec AS DOUBLE) AS total_revenue,
        |  CAST(FLOOR(CAST(nat_dec AS DOUBLE) / CAST(all_dec AS DOUBLE) * 1e6)
        |       AS BIGINT) AS mkt_share_micro
        |FROM base""".stripMargin)),

    // J25: TPC-H Q10 shape — top-20 customers by returned-item
    // revenue in a quarter. The LIMIT rides a TOTAL order (exact
    // DECIMAL revenue DESC, then custkey): ordering by a double sum
    // would let a knife-edge ulp tie admit different rows per engine.
    // TakeOrdered keeps the top-k driver-side tiny; the only wide
    // exchanges are the orderkey join and the customer aggregation.
    QDef("j25_q10_returns",
      (s, dir) => {
        val rev = col("l_extendedprice") * (lit(1.0) - col("l_discount"))
        // r12: same orderkey-layout ride as j24 — zero fact-fact
        // exchanges under the returnflag/date filters.
        // r13 (verdict #2): customer attributes attach AFTER the top-20
        // — c_name/n_name are functionally determined by c_custkey, so
        // the revenue aggregation runs at bare custkey grain (one
        // narrow exchange of the quarter's joined rows) and the 20
        // survivors broadcast INTO the customer scan. The old shape
        // built a 1.5M-entry full-row customer broadcast map just to
        // carry names through the aggregation. The 100 TB posture:
        // top-k first, dimension decoration after.
        val top = QShared.bucketedFact(s, dir, "lineitem", "l_orderkey")
          .filter(col("l_returnflag") === "R")
          .join(QShared.bucketedFact(s, dir, "orders", "o_orderkey")
              .filter(col("o_orderdate") >= "1996-01-01" &&
                col("o_orderdate") < "1996-04-01")
              .select(col("o_orderkey"), col("o_custkey")),
            col("l_orderkey") === col("o_orderkey"))
          .groupBy(col("o_custkey"))
          .agg(QShared.gridSum(rev).as("rev_dec"))
          .orderBy(col("rev_dec").desc, col("o_custkey"))
          .limit(20)
        Tables(s, dir, "customer")
          .join(broadcast(top), col("c_custkey") === col("o_custkey"))
          .join(broadcast(Tables(s, dir, "nation")),
            col("c_nationkey") === col("n_nationkey"))
          .select(col("c_custkey"), col("c_name"), col("n_name"),
            col("rev_dec").cast("double").as("revenue"))
      },
      Some("""SELECT c_custkey, c_name, n_name, CAST(rev_dec AS DOUBLE) AS revenue
        |FROM (
        |  SELECT c_custkey, c_name, n_name,
        |    SUM(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(38,6))) AS rev_dec
        |  FROM lineitem
        |  JOIN orders   ON l_orderkey = o_orderkey
        |  JOIN customer ON o_custkey = c_custkey
        |  JOIN nation   ON c_nationkey = n_nationkey
        |  WHERE l_returnflag = 'R'
        |    AND o_orderdate >= TIMESTAMP '1996-01-01'
        |    AND o_orderdate <  TIMESTAMP '1996-04-01'
        |  GROUP BY c_custkey, c_name, n_name
        |  ORDER BY rev_dec DESC, c_custkey LIMIT 20) t""".stripMargin)),

    // J26: TPC-H Q11 shape — "important parts": per-part value from
    // one nation's suppliers, kept only where value exceeds 1/1000 of
    // that nation's total (scalar aggregate subquery in HAVING). The
    // exactness carrier is integer micro-revenue — round() lands on
    // exact integers (price-cents × discount-hundredths), summed as
    // DECIMAL(38,0) in Spark vs HUGEINT in DuckDB (the a20 recipe), so
    // the ×1000 threshold compare can never be flipped by float error.
    // Supplier+nation broadcast; Catalyst evaluates the total once.
    QDef("j26_q11_important_parts",
      (s, dir) => {
        // r10: the per-part aggregation reads the PARTKEY-bucketed
        // lineitem projection (shared with j29) — the broadcast
        // supplier/nation joins preserve the layout partitioning, so
        // GROUP BY l_partkey rides it with no exchange. A/B at sf0.1
        // (interleaved): 0.37 → 0.25 s.
        // r13 (verdict #4): the scalar threshold DERIVES from the
        // per-part aggregate (Σ per-part sums ≡ the subquery's total
        // by associativity — same DECIMAL(38,0) grid, same value) —
        // the old HAVING-subquery form re-ran the whole fact join a
        // second time because the two aggregations share no plan
        // subtree Spark can reuse (different group keys). One fact
        // pass; the ~2M-row per-part result is lazily checkpointed
        // (the j22 precedent) and re-read for the total and the
        // filter. The HAVING-subquery front door stays certified by
        // the oracle SQL and j14's scalar-subquery query.
        val rev = ("CAST(round(l_extendedprice * (1.0 - l_discount) * 1e4) " +
          "AS DECIMAL(38,0))")
        val perPart = QShared.bucketedFact(s, dir, "lineitem", "l_partkey")
          .join(broadcast(Tables(s, dir, "supplier")
              .select(col("s_suppkey"), col("s_nationkey"))),
            col("l_suppkey") === col("s_suppkey"))
          .join(broadcast(Tables(s, dir, "nation"))
              .filter(col("n_name") === "NATION_3"),
            col("s_nationkey") === col("n_nationkey"))
          .groupBy(col("l_partkey"))
          .agg(sum(expr(rev)).as("value_dec"))
          .localCheckpoint(false)
        val total = perPart.agg(sum(col("value_dec")).as("total_dec"))
        perPart.crossJoin(broadcast(total))
          .filter(col("value_dec") * 1000 > col("total_dec"))
          .select(col("l_partkey").as("p_key"),
            col("value_dec").cast("double").as("value_micro"))
      },
      Some("""SELECT l_partkey AS p_key,
        |  CAST(SUM(CAST(round(l_extendedprice * (1.0 - l_discount) * 1e4)
        |               AS BIGINT)) AS DOUBLE) AS value_micro
        |FROM lineitem
        |JOIN supplier ON l_suppkey = s_suppkey
        |JOIN nation   ON s_nationkey = n_nationkey
        |WHERE n_name = 'NATION_3'
        |GROUP BY l_partkey
        |HAVING SUM(CAST(round(l_extendedprice * (1.0 - l_discount) * 1e4)
        |               AS BIGINT)) * 1000 >
        |  (SELECT SUM(CAST(round(l_extendedprice * (1.0 - l_discount) * 1e4)
        |                  AS BIGINT))
        |   FROM lineitem
        |   JOIN supplier ON l_suppkey = s_suppkey
        |   JOIN nation   ON s_nationkey = n_nationkey
        |   WHERE n_name = 'NATION_3')""".stripMargin)),

    // J27: TPC-H Q20 shape — nested IN: suppliers (from two nations)
    // whose 1996 shipped volume of red parts crossed a threshold. The
    // inner IN is a grouped-HAVING subquery over a join;
    // RewritePredicateSubquery lowers both INs to semi-joins, and the
    // quantity sum is integer-exact (integral doubles cast to BIGINT)
    // so the HAVING cut is engine-stable.
    QDef("j27_q20_volume_suppliers",
      (s, dir) => {
        // r13: the inner volume scan is a one-year shipdate window —
        // the a21/a23 partition-pruning lever: the registered view is
        // the ship-year-partitioned layout pre-pruned to 1996 (a
        // derived-column restatement of the exact bounds the SQL
        // keeps), so directory pruning drops 6/7 of the fact before
        // the red-part probe.
        QShared.lineitemByShipYear(s, dir).filter(col("l_shipyear") === 1996)
          .createOrReplaceTempView("j27_lineitem")
        Tables(s, dir, "part").createOrReplaceTempView("j27_part")
        Tables(s, dir, "supplier").createOrReplaceTempView("j27_supplier")
        Tables(s, dir, "nation").createOrReplaceTempView("j27_nation")
        s.sql("""SELECT s_suppkey, s_name
          |FROM j27_supplier JOIN j27_nation ON s_nationkey = n_nationkey
          |WHERE n_name IN ('NATION_1', 'NATION_2')
          |  AND s_suppkey IN (
          |    SELECT l_suppkey
          |    FROM j27_lineitem JOIN j27_part ON l_partkey = p_partkey
          |    WHERE p_name LIKE 'red %'
          |      AND l_shipdate >= TIMESTAMP '1996-01-01'
          |      AND l_shipdate <  TIMESTAMP '1997-01-01'
          |    GROUP BY l_suppkey
          |    HAVING SUM(CAST(l_quantity AS BIGINT)) > 300)""".stripMargin)
      },
      Some("""SELECT s_suppkey, s_name
        |FROM supplier JOIN nation ON s_nationkey = n_nationkey
        |WHERE n_name IN ('NATION_1', 'NATION_2')
        |  AND s_suppkey IN (
        |    SELECT l_suppkey
        |    FROM lineitem JOIN part ON l_partkey = p_partkey
        |    WHERE p_name LIKE 'red %'
        |      AND l_shipdate >= TIMESTAMP '1996-01-01'
        |      AND l_shipdate <  TIMESTAMP '1997-01-01'
        |    GROUP BY l_suppkey
        |    HAVING SUM(CAST(l_quantity AS BIGINT)) > 300)""".stripMargin)),

    // J28: TPC-H Q4 shape — order-priority checking: orders in a
    // quarter having at least one line shipped >30 days after the
    // order date (the schema's stand-in for commit<receipt). The
    // EXISTS is written as an explicit left-semi join carrying the
    // NON-equi date conjunct as the join residual (exactly what
    // Catalyst decorrelates the SQL form into — no nested loop), and
    // since r10 it rides the SHARED orderkey-bucketed fact layouts
    // (QShared.bucketedFact): both sides arrive hash-partitioned and
    // sorted on orderkey, so the semi-join is a zero-exchange
    // zero-sort streaming merge. r10 A/B (interleaved, sf0.1): 0.49 →
    // 0.18 s, identical rows.
    QDef("j28_q4_priority_check",
      (s, dir) => {
        val os = QShared.bucketedFact(s, dir, "orders", "o_orderkey")
          .filter(col("o_orderdate") >= lit("1996-01-01").cast("timestamp") &&
            col("o_orderdate") < lit("1996-04-01").cast("timestamp"))
        val li = QShared.bucketedFact(s, dir, "lineitem", "l_orderkey")
          .select(col("l_orderkey"), col("l_shipdate"))
        os.hint("merge").join(li.hint("merge"),
            col("o_orderkey") === col("l_orderkey") &&
              col("l_shipdate") > col("o_orderdate") + expr("INTERVAL 30 DAY"),
            "left_semi")
          .groupBy(col("o_orderpriority"))
          .agg(count(lit(1)).as("order_count"))
      },
      Some("""SELECT o_orderpriority, COUNT(*) AS order_count
        |FROM orders
        |WHERE o_orderdate >= TIMESTAMP '1996-01-01'
        |  AND o_orderdate <  TIMESTAMP '1996-04-01'
        |  AND EXISTS (SELECT 1 FROM lineitem
        |              WHERE l_orderkey = o_orderkey
        |                AND l_shipdate > o_orderdate + INTERVAL 30 DAY)
        |GROUP BY o_orderpriority""".stripMargin)),

    // J29: TPC-H Q2 shape — minimum-cost supplier: for each size-5
    // part, the EUROPE supplier(s) with the lowest account balance
    // among those observed shipping it (lineitem's distinct
    // (part,supplier) pairs stand in for partsupp). The oracle keeps
    // the correlated scalar-MIN form; writing the same correlated SQL
    // on the Spark side made the decorrelator rebuild the whole
    // ps⋈supplier⋈nation⋈region tree a second time inside the
    // subquery (lineitem read + distinct twice, ~11× DuckDB). The
    // Spark plan below is the decorrelated shape done once: the
    // distinct pairs come from ONE exchange keyed by part
    // (collect_set of suppliers, bounded by suppliers-per-part — ~4
    // in any partsupp-like dataset; at pathological hub-part skew a
    // two-exchange dropDuplicates is the fallback); the per-part MIN
    // and the tie-keeping both live in a SECOND partkey aggregation
    // riding that same partitioning (the EUROPE supplier join
    // broadcasts, preserving it) — min + bounded supplier list in one
    // row per part, minimal suppliers filtered out of the array by an
    // HOF. One corpus scan, one exchange, no min join, no window sort
    // (both alternatives A/B-measured slower at sf0.1: window-min
    // 1.07 s, min-join-back 0.86–0.88 s). Ties keep all minimal
    // suppliers, a deterministic SET; MIN and the equality compare
    // copies of the same stored value — exact.
    QDef("j29_q2_min_supplier",
      (s, dir) => {
        val eu = Tables(s, dir, "supplier")
          .join(broadcast(Tables(s, dir, "nation")),
            col("s_nationkey") === col("n_nationkey"))
          .join(broadcast(Tables(s, dir, "region")),
            col("n_regionkey") === col("r_regionkey"))
          .filter(col("r_name") === "EUROPE")
          .select(col("s_suppkey"), col("s_name"), col("s_acctbal"))
        // r10: the pair derivation rides a PARTKEY-bucketed lineitem
        // layout (QShared.bucketedFact — a second materialized
        // projection of the fact, the warehouse-standard answer when a
        // fact is repeatedly aggregated on a second key): the
        // first partkey aggregation needs NO exchange, and the second
        // per-part aggregation rides the SAME partitioning — the whole
        // query is exchange-free on the fact side. r10 A/B at sf0.1
        // (interleaved, identical 397 rows): 0.56–0.72 → 0.36 s. The
        // bounded EU-supplier list and its min land in one row per
        // part, and the tie-keeping min filter is an array HOF — no
        // min join, no second read of the pair subtree.
        // r13 (verdict #4): two residual costs fixed. (1) The p_size=5
        // filter (1/50 of parts) applied LAST meant the pair distinct
        // and the min aggregation ran over every part — the selective
        // dimension now broadcasts onto the scan FIRST, so everything
        // after the probe works on ~2% of the pairs. (2) The
        // collect_set→explode pair derivation (60M array inserts at
        // sf10) becomes a dropDuplicates that rides the same
        // HashPartitioning(l_partkey) with zero exchange (subset
        // clustering) and no array churn. Grouping keys stay on the
        // fact-side l_partkey so the final aggregation provably rides
        // the layout. Was 2.8× at sf10.
        QShared.bucketedFact(s, dir, "lineitem", "l_partkey")
          .select(col("l_partkey"), col("l_suppkey"))
          .join(broadcast(Tables(s, dir, "part")
              .filter(col("p_size") === 5)
              .select(col("p_partkey"), col("p_name"))),
            col("l_partkey") === col("p_partkey"))
          .dropDuplicates("l_partkey", "l_suppkey")
          .join(broadcast(eu), col("l_suppkey") === col("s_suppkey"))
          .groupBy(col("l_partkey"), col("p_name"))
          .agg(min(col("s_acctbal")).as("__mb"),
            collect_list(struct(col("s_suppkey"), col("s_name"),
              col("s_acctbal"))).as("__sups"))
          .select(col("l_partkey"), col("p_name"),
            explode(expr("filter(__sups, x -> x.s_acctbal = __mb)")).as("__s"))
          .select(col("l_partkey").as("p_partkey"), col("p_name"),
            col("__s.s_suppkey").as("s_suppkey"), col("__s.s_name").as("s_name"),
            col("__s.s_acctbal").cast("double").as("acctbal"))
      },
      Some("""WITH ps AS (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem)
        |SELECT p_partkey, p_name, s_suppkey, s_name,
        |  CAST(s_acctbal AS DOUBLE) AS acctbal
        |FROM part, supplier, ps, nation, region
        |WHERE p_partkey = ps.l_partkey AND s_suppkey = ps.l_suppkey
        |  AND s_nationkey = n_nationkey AND n_regionkey = r_regionkey
        |  AND r_name = 'EUROPE' AND p_size = 5
        |  AND s_acctbal = (
        |    SELECT MIN(s2.s_acctbal)
        |    FROM supplier s2, ps ps2, nation n2, region r2
        |    WHERE p_partkey = ps2.l_partkey AND s2.s_suppkey = ps2.l_suppkey
        |      AND s2.s_nationkey = n2.n_nationkey
        |      AND n2.n_regionkey = r2.r_regionkey AND r2.r_name = 'EUROPE')""".stripMargin))
  )
}
