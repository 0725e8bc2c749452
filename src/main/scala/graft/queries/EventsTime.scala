package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables
import graft.operators.AsOfJoin

/** Event-time aggregations in batch mode (SURVEY §2B G1/G2 oracle half;
  * the watermark/late-data semantics half lives in StreamingSpec).
  *
  * All bucket math is integer arithmetic on epoch nanos (`ts` is long
  * nanos via Tables) — `ts div N` in Spark equals `epoch_ns(ts) // N` in
  * DuckDB exactly, with no float or timestamp-unit rounding anywhere.
  */
object EventsTime extends QGroup {

  private val dec = QShared.dec
  private val tenMinNs = 600000000000L // 10 min in ns
  private val fiveMinNs = 300000000000L
  private val gapNs = 1800000000000L // 30 min session gap

  def defs: Seq[QDef] = Seq(

    // G1: tumbling 10-minute windows.
    // r11: rides the time-bucketed events layout (QShared
    // .eventsByTimeBucket — the g14 "store the derivation" lesson
    // applied to `ts div 10min`): the (bucket, event_type) aggregation
    // AND the countDistinct(user_id) partial-dedup phase both ride
    // HashPartitioning(bucket) via subset clustering — zero exchanges
    // (plan-locked). A/B at sf0.1 (interleaved, identical rows):
    // 0.27 -> 0.10 s. This is the ingest-time time-clustering every
    // event warehouse maintains anyway.
    QDef("g1_tumbling_window",
      (s, dir) =>
        QShared.eventsByTimeBucket(s, dir, tenMinNs)
          .groupBy(col("bucket"), col("event_type"))
          .agg(count(lit(1)).as("n"),
            // final double cast: decimal cells render with scale-6 under
            // the driver's hasher and mismatch the oracle's float64
            QShared.gridSum(col("value")).cast("double").as("sum_value"),
            countDistinct(col("user_id")).as("n_users"))
          ,
      Some(s"""SELECT epoch_ns(ts) // $tenMinNs AS bucket, event_type,
        |  COUNT(*) AS n,
        |  CAST(SUM(CAST(value AS DECIMAL(38,6))) AS DOUBLE) AS sum_value,
        |  COUNT(DISTINCT user_id) AS n_users
        |FROM events GROUP BY 1, 2""".stripMargin)),

    // G1b: sliding windows (width 10 min, slide 5 min) — each event maps
    // to two window starts; realized as an explode, not a self-join.
    // r11 negative, recorded: the PANE decomposition (stream slicing,
    // Li et al. "No pane, no gain" — aggregate 5-min tumbling panes
    // over the bucketed layout, then combine pane pairs; exact by
    // associativity of count + the integer gridSum, oracle-verified
    // identical) measured SLOWER at every SF (sf10: 0.357 vs 0.295 s;
    // sf0.1: 0.200 vs ~0.13) because Spark's map-side partial
    // aggregation already collapses the exploded rows to ~#wstarts per
    // task BEFORE the exchange — the explode never reaches the wire,
    // so pre-paning only adds a second aggregation and the layout-read
    // overhead. The explode shape IS the pane shape after codegen; the
    // residual vs DuckDB is per-row explode+hash work, the marginal
    // class.
    QDef("g1b_sliding_window",
      (s, dir) =>
        Tables(s, dir, "events")
          .withColumn("k", expr(s"ts div $fiveMinNs"))
          .withColumn("wstart", explode(array(col("k") - 1, col("k"))))
          .groupBy(col("wstart"))
          .agg(count(lit(1)).as("n"),
            QShared.gridSum(col("value")).cast("double").as("sum_value"))
          ,
      Some(s"""SELECT wstart, COUNT(*) AS n, CAST(SUM(CAST(value AS DECIMAL(38,6))) AS DOUBLE) AS sum_value
        |FROM (
        |  SELECT epoch_ns(ts) // $fiveMinNs - 1 AS wstart, value FROM events
        |  UNION ALL
        |  SELECT epoch_ns(ts) // $fiveMinNs AS wstart, value FROM events
        |) w
        |GROUP BY wstart""".stripMargin)),

    // G2: session windows (30-min gap) via gaps-and-islands — identical
    // break/cumsum formula on both sides.
    QDef("g2_session_window",
      (s, dir) => {
        // micros, not nanos: DuckDB truncates TIMESTAMP_NS to µs on read,
        // so µs is the finest unit both engines agree on.
        val wOrd = Window.partitionBy(col("user_id"))
          .orderBy(col("tus").asc_nulls_first, col("event_id").asc_nulls_first)
        val wRun = wOrd.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        // r10: rides the user_id-bucketed events projection (ts stored
        // as BIGINT nanos via Tables' nanosAsLong read) — the session
        // window and the (user_id, sess) aggregation both ride
        // HashPartitioning(user_id): zero exchanges. A/B at sf0.1
        // (interleaved, identical rows): 0.25 -> 0.13 s. Same layout
        // serves g8/g13/u2; g9/g10 measured neutral on it (recorded in
        // BASELINE.md r10) and keep the plain scan.
        QShared.bucketedFact(s, dir, "events", "user_id")
          .withColumn("tus", expr("ts div 1000"))
          .withColumn("prev_ts", lag(col("tus"), 1).over(wOrd))
          .withColumn("brk",
            when(col("prev_ts").isNull || col("tus") - col("prev_ts") >= gapNs / 1000, 1)
              .otherwise(0))
          .withColumn("sess", sum(col("brk")).over(wRun))
          .groupBy(col("user_id"), col("sess"))
          .agg(count(lit(1)).as("n"),
            min(col("tus")).as("start_us"),
            max(col("tus")).as("end_us"),
            QShared.gridSum(col("value")).cast("double").as("sum_value"))
          
      },
      Some(s"""WITH d AS (
        |  SELECT user_id, event_id, value, epoch_ns(ts) // 1000 AS tus FROM events
        |), m AS (
        |  SELECT *, CASE WHEN lag(tus) OVER w IS NULL
        |                   OR tus - lag(tus) OVER w >= ${gapNs / 1000}
        |                 THEN 1 ELSE 0 END AS brk
        |  FROM d
        |  WINDOW w AS (PARTITION BY user_id ORDER BY tus ASC NULLS FIRST, event_id ASC NULLS FIRST)
        |), g AS (
        |  -- CAST: DuckDB SUM(INT) OVER yields HUGEINT; Spark's is BIGINT
        |  SELECT *, CAST(SUM(brk) OVER (PARTITION BY user_id
        |    ORDER BY tus ASC NULLS FIRST, event_id ASC NULLS FIRST
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS sess
        |  FROM m
        |)
        |SELECT user_id, sess, COUNT(*) AS n, MIN(tus) AS start_us, MAX(tus) AS end_us,
        |  CAST(SUM(CAST(value AS DECIMAL(38,6))) AS DOUBLE) AS sum_value
        |FROM g GROUP BY user_id, sess""".stripMargin)),

    // G7: time-series resample + gap-fill (LOCF) — regularize irregular
    // observations onto a fixed daily grid per key, carrying the last
    // observation forward; NULL before a key's first observation. The
    // time-series normalization primitive (feature tables, metric
    // dashboards) that turns event logs into aligned series.
    //
    // Scale shape: the grid is generated per key from that key's own
    // [min, max] span (sequence + explode — linear, never a global
    // calendar cross-join), and the fill is AsOfJoin's union+window
    // plan: ONE shuffle on the key, no row amplification. Observations
    // are pre-collapsed to one row per (key, µs) so the as-of match is
    // unambiguous on both engines (DuckDB ASOF leaves same-instant ties
    // unspecified).
    QDef("g7_resample_locf",
      (s, dir) => {
        val dayUs = 86400000000L
        // r10: the observation collapse and the grid derivation both
        // ride the user_id events layout (see g2); the as-of union
        // itself still exchanges once (union output partitioning is
        // unknown to Catalyst). A/B at sf0.1: 0.24 → 0.20 s.
        val obs = QShared.bucketedFact(s, dir, "events", "user_id")
          .filter(col("event_type") === "purchase")
          .select(col("user_id"), expr("ts div 1000").as("tus"), col("value"))
          .groupBy(col("user_id"), col("tus")).agg(max(col("value")).as("value"))
        val grid = obs.groupBy(col("user_id"))
          .agg(expr(s"min(tus) div $dayUs").as("dlo"),
            expr(s"max(tus) div $dayUs").as("dhi"))
          .select(col("user_id"), explode(sequence(col("dlo"), col("dhi"))).as("day"))
          .withColumn("tus", col("day") * dayUs)
        AsOfJoin.asOf(grid, obs, key = "user_id", ts = "tus",
            rightPayload = Seq("value"), tieCols = Seq("day"))
          .select(col("user_id"), col("day"), col("r_value").as("value"))
      },
      Some(s"""WITH e AS (
        |  SELECT user_id, epoch_ns(ts) // 1000 AS tus, value
        |  FROM events WHERE event_type = 'purchase'),
        |o AS (SELECT user_id, tus, MAX(value) AS value FROM e GROUP BY 1, 2),
        |b AS (SELECT user_id, MIN(tus) // 86400000000 AS dlo,
        |        MAX(tus) // 86400000000 AS dhi FROM o GROUP BY 1),
        |g AS (SELECT user_id, unnest(generate_series(dlo, dhi)) AS day FROM b)
        |SELECT g.user_id, g.day, o.value
        |FROM g ASOF LEFT JOIN o
        |  ON g.user_id = o.user_id AND o.tus <= g.day * 86400000000""".stripMargin)),

    // G8: SCD2 validity intervals (change-data-capture build): each
    // key's change events become [valid_from, valid_to) rows via
    // lead() over (key, time) — the dimension-history primitive.
    // One window shuffle on the key; ordering made total with the
    // event id so duplicate timestamps stay deterministic.
    QDef("g8_scd2_intervals",
      (s, dir) => {
        val w = Window.partitionBy(col("user_id"))
          .orderBy(col("tus").asc_nulls_first, col("event_id").asc_nulls_first)
        QShared.bucketedFact(s, dir, "events", "user_id") // see g2
          .filter(col("event_type") === "signup")
          .select(col("user_id"), col("event_id"), col("value"),
            expr("ts div 1000").as("tus"))
          .withColumn("valid_to_us", lead(col("tus"), 1).over(w))
          .select(col("user_id"), col("event_id"), col("value"),
            col("tus").as("valid_from_us"), col("valid_to_us"),
            when(col("valid_to_us").isNull, 1).otherwise(0).as("is_current"))
      },
      Some("""SELECT user_id, event_id, value,
        |  tus AS valid_from_us,
        |  LEAD(tus) OVER w AS valid_to_us,
        |  CASE WHEN LEAD(tus) OVER w IS NULL THEN 1 ELSE 0 END AS is_current
        |FROM (SELECT user_id, event_id, value, epoch_ns(ts) // 1000 AS tus
        |      FROM events WHERE event_type = 'signup') t
        |WINDOW w AS (PARTITION BY user_id
        |  ORDER BY tus ASC NULLS FIRST, event_id ASC NULLS FIRST)""".stripMargin)),

    // G9: strict-order funnel — how many users signed up, then viewed
    // AFTER the signup, then purchased AFTER that view. Each stage is a
    // per-user MIN-timestamp aggregation joined back onto the event
    // scan with a strict time bound — the sequencing can't be one
    // conditional aggregate (each stage's window depends on the
    // previous stage's result), so the plan is K stage-aggregations
    // all shuffling on the SAME user key (exchange reuse; the stage
    // tables shrink monotonically). Stage label carries its rank so
    // the funnel reads in order.
    QDef("g9_funnel_stages",
      (s, dir) => {
        // r13 (verdict #3): every stage keys on user_id — the three
        // stage aggregations AND the two bound-joins all ride the
        // shared user_id events layout (HashPartitioning(user_id) on
        // both join sides → zero keyed exchanges). The r10 sf0.1
        // "layout-neutral" adjudication inverted at sf10, the g14
        // pattern: plain scans 1.40 s vs layout ride (see BASELINE.md
        // r13 / PROBES).
        val ev = QShared.bucketedFact(s, dir, "events", "user_id")
          .select(col("user_id"), col("event_type"), expr("ts div 1000").as("tus"))
        def stage(of: DataFrame, evType: String): DataFrame = {
          val bound = of.withColumnRenamed("stage_ts", "prev_ts")
          ev.filter(col("event_type") === evType)
            .join(bound, "user_id")
            .filter(col("tus") > col("prev_ts"))
            .groupBy(col("user_id")).agg(min(col("tus")).as("stage_ts"))
        }
        val s1 = ev.filter(col("event_type") === "signup")
          .groupBy(col("user_id")).agg(min(col("tus")).as("stage_ts"))
        val s2 = stage(s1, "view")
        val s3 = stage(s2, "purchase")
        s1.agg(count(lit(1)).as("n_users")).select(lit("1_signup").as("stage"), col("n_users"))
          .unionByName(s2.agg(count(lit(1)).as("n_users"))
            .select(lit("2_view_after_signup").as("stage"), col("n_users")))
          .unionByName(s3.agg(count(lit(1)).as("n_users"))
            .select(lit("3_purchase_after_view").as("stage"), col("n_users")))
      },
      Some("""WITH e AS (
        |  SELECT user_id, event_type, epoch_ns(ts) // 1000 AS tus FROM events),
        |s1 AS (SELECT user_id, MIN(tus) AS stage_ts FROM e
        |       WHERE event_type = 'signup' GROUP BY 1),
        |s2 AS (SELECT e.user_id, MIN(tus) AS stage_ts
        |       FROM e JOIN s1 USING (user_id)
        |       WHERE event_type = 'view' AND tus > s1.stage_ts GROUP BY 1),
        |s3 AS (SELECT e.user_id, MIN(tus) AS stage_ts
        |       FROM e JOIN s2 USING (user_id)
        |       WHERE event_type = 'purchase' AND tus > s2.stage_ts GROUP BY 1)
        |SELECT '1_signup' AS stage, COUNT(*) AS n_users FROM s1
        |UNION ALL
        |SELECT '2_view_after_signup', COUNT(*) FROM s2
        |UNION ALL
        |SELECT '3_purchase_after_view', COUNT(*) FROM s3""".stripMargin)),

    // G10: retention cohorts — users grouped by first-seen day, counted
    // on each later active day as (cohort_day, day_offset) cells; the
    // standard triangle that product analytics reads retention from.
    // Two aggregations on the user key (first-seen + distinct active
    // days) and one count shuffle on the cohort cell — no windows, no
    // self-join over the raw log.
    QDef("g10_retention_cohorts",
      (s, dir) => {
        val dayUs = 86400000000L
        // r13: the (user_id, day) distinct, the cohort MIN, and the
        // cohort join all cluster on user_id — same layout ride as g9
        // (subset clustering lets HashPartitioning(user_id) satisfy
        // the wider distinct key). Only the final small cohort-cell
        // count exchanges.
        val active = QShared.bucketedFact(s, dir, "events", "user_id")
          .select(col("user_id"), expr(s"(ts div 1000) div $dayUs").as("day"))
          .distinct()
        val cohort = active.groupBy(col("user_id")).agg(min(col("day")).as("cohort_day"))
        active.join(cohort, "user_id")
          .groupBy(col("cohort_day"), (col("day") - col("cohort_day")).as("day_offset"))
          .agg(count(lit(1)).as("n_users"))
      },
      Some("""WITH a AS (
        |  SELECT DISTINCT user_id, epoch_ns(ts) // 1000 // 86400000000 AS day
        |  FROM events),
        |c AS (SELECT user_id, MIN(day) AS cohort_day FROM a GROUP BY 1)
        |SELECT cohort_day, day - cohort_day AS day_offset,
        |  COUNT(*) AS n_users
        |FROM a JOIN c USING (user_id)
        |GROUP BY 1, 2""".stripMargin)),

    // G11: day-over-day event-rate anomaly — the pipeline-monitoring
    // primitive (ingest volume drops and duplicate storms both show up
    // as rate spikes first). The raw log aggregates to a day-grain
    // series DISTRIBUTED (one keyed count), and only that tiny series
    // flows through the single-partition lag window — the unavoidable
    // global order costs nothing at day grain. Change is integer
    // per-mille (div), flags at ±500pm.
    QDef("g11_rate_anomaly",
      (s, dir) => {
        val dayUs = 86400000000L
        val daily = Tables(s, dir, "events")
          .select(expr(s"(ts div 1000) div $dayUs").as("day"))
          .groupBy(col("day")).agg(count(lit(1)).as("n_events"))
        val w = Window.orderBy(col("day").asc_nulls_first)
        daily
          .withColumn("prev", lag(col("n_events"), 1).over(w))
          .filter(col("prev").isNotNull)
          .select(col("day"), col("n_events"), col("prev"),
            expr("((n_events - prev) * 1000) div prev").as("change_pm"))
          .withColumn("anomaly", abs(col("change_pm")) > 500)
      },
      Some(s"""WITH daily AS (
        |  SELECT (epoch_ns(ts) // 1000) // 86400000000 AS day,
        |    COUNT(*) AS n_events
        |  FROM events GROUP BY 1),
        |lagged AS (
        |  SELECT day, n_events,
        |    lag(n_events, 1) OVER (ORDER BY day ASC) AS prev
        |  FROM daily)
        |SELECT day, n_events, prev,
        |  ((n_events - prev) * 1000) // prev AS change_pm,
        |  abs(((n_events - prev) * 1000) // prev) > 500 AS anomaly
        |FROM lagged WHERE prev IS NOT NULL""".stripMargin)),

    // G14: EWMA smoothing of the daily revenue series — exponential
    // decay α = 1/2 over a 15-day lookback, in EXACT integer
    // arithmetic: weights are powers of two (shiftleft — x10-certified
    // portable), revenue is exact cents (the a9 round(p*100) lift), and
    // the smoothed value is an integer-div milli-cent ratio, so no
    // float summation order or pow() libm difference can leak in.
    // Scale shape: the raw scan collapses to day grain in one
    // aggregation; the 15-way offset fan-out and the self-join run on
    // the tiny day series (broadcast). Headroom: Σ cents·2^14 over 15
    // days stays under 2^63 up to ~10^13 cents/day.
    QDef("g14_ewma_smoothing",
      (s, dir) => {
        // r10: group by o_orderdate DIRECTLY on a date-bucketed orders
        // layout (di/day are 1:1 functions of the date, derived AFTER
        // the agg — identical rows), so the day-grain collapse rides
        // HashPartitioning(o_orderdate). A/B at sf0.1 (interleaved):
        // 0.48 → 0.38 s. r11, re-measured at sf10 where g14 was one of
        // two monotone ratio growers: (a) the per-row
        // cast(DECIMAL(38,0)) in the cents sum was HALF the cost —
        // splitSum does the same exact integer sum on primitive longs
        // (2.08 → 1.15 s at sf10; cents < 2^26 so one cut at 26 bounds
        // ~1.4e11 rows/day); (b) the twice-referenced series subtree
        // re-ran the 15M-row collapse twice — the r10 "checkpoint
        // measured worse" note was a fixed-cost artifact of sf0.1
        // (tiny +0.03 s there, −0.55 s at sf10), so the day series now
        // lazily checkpoints (the j22 precedent) and the 15-way
        // fan-out reads the ~2.4k-row series from the block manager.
        // Combined: 2.08 → 0.60 s at sf10, identical rows at both SFs.
        val series = QShared.bucketedFact(s, dir, "orders", "o_orderdate")
          .groupBy(col("o_orderdate"))
          .agg(QShared.splitSum(
            round(col("o_totalprice") * 100).cast("long"), Seq(26))
            .cast("long").as("cents"))
          .localCheckpoint(false)
          .select(
            datediff(col("o_orderdate").cast("date"),
              lit("1992-01-01").cast("date")).as("di"),
            date_format(col("o_orderdate"), "yyyy-MM-dd").as("day"),
            col("cents"))
        val off = s.range(0, 15).toDF("o")
        val w = expr("shiftleft(1L, cast(14 - o AS int))")
        series.select(col("di").as("tdi"), col("day"), col("cents").as("tcents"))
          .crossJoin(broadcast(off))
          .join(broadcast(series.select(col("di").as("sdi"), col("cents").as("scents"))),
            col("tdi") - col("o") === col("sdi"))
          .groupBy(col("day"), col("tcents"))
          .agg(sum(col("scents") * w).as("num"), sum(w).as("den"))
          .select(col("day"), col("tcents").as("cents"),
            expr("(num * 1000) div den").as("ewma_milli"))
      },
      Some("""WITH series AS (
        |  SELECT date_diff('day', DATE '1992-01-01', CAST(o_orderdate AS DATE)) AS di,
        |    strftime(CAST(o_orderdate AS DATE), '%Y-%m-%d') AS day,
        |    CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS cents
        |  FROM orders GROUP BY 1, 2),
        |off AS (SELECT unnest(generate_series(0, 14)) AS o)
        |SELECT t.day, t.cents,
        |  (CAST(SUM(s.cents * (1 << (14 - o))) AS BIGINT) * 1000)
        |    // CAST(SUM(1 << (14 - o)) AS BIGINT) AS ewma_milli
        |FROM series t CROSS JOIN off JOIN series s ON s.di = t.di - o
        |GROUP BY t.day, t.cents""".stripMargin)),

    // G13: dynamic-gap sessionization — per-user inactivity gaps (here:
    // every 5th user gets 30 min, others 10) via the lag + running-sum
    // formulation; g2's session_window covers the fixed-gap fast path,
    // this is the general form (per-entity gap policies, A/B windows).
    // A new session starts when the gap SINCE THE PREVIOUS EVENT
    // exceeds the previous event's gap allowance — pure integer
    // microsecond math. ONE user-keyed exchange serves the lag window,
    // the running sum, and the final (user, session) aggregation.
    QDef("g13_dynamic_sessions",
      (s, dir) => {
        val gapUs = when(col("user_id") % 5 === 0, 1800000000L)
          .otherwise(600000000L)
        val w = Window.partitionBy(col("user_id"))
          .orderBy(col("tus").asc_nulls_first, col("event_id").asc_nulls_first)
        val run = Window.partitionBy(col("user_id"))
          .orderBy(col("tus").asc_nulls_first, col("event_id").asc_nulls_first)
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        QShared.bucketedFact(s, dir, "events", "user_id") // see g2
          .select(col("event_id"), col("user_id"),
            expr("ts div 1000").as("tus"))
          .withColumn("gap_us", gapUs)
          .withColumn("new_s",
            when(lag(col("tus"), 1).over(w).isNull, 1L)
              .when(col("tus") >=
                lag(col("tus"), 1).over(w) + lag(col("gap_us"), 1).over(w), 1L)
              .otherwise(0L))
          .withColumn("session_id", sum(col("new_s")).over(run))
          .groupBy(col("user_id"), col("session_id"))
          .agg(min(col("tus")).as("session_start_us"),
            max(col("tus")).as("session_end_us"),
            count(lit(1)).as("n_events"))
      },
      Some("""WITH e AS (
        |  SELECT event_id, user_id, epoch_ns(ts) // 1000 AS tus,
        |    CASE WHEN user_id % 5 = 0 THEN 1800000000 ELSE 600000000 END AS gap_us
        |  FROM events),
        |flags AS (
        |  SELECT user_id, tus,
        |    CASE WHEN lag(tus, 1) OVER w IS NULL THEN 1
        |         WHEN tus >= lag(tus, 1) OVER w + lag(gap_us, 1) OVER w THEN 1
        |         ELSE 0 END AS new_s,
        |    event_id
        |  FROM e
        |  WINDOW w AS (PARTITION BY user_id ORDER BY tus ASC, event_id ASC)),
        |sess AS (
        |  SELECT user_id, tus,
        |    SUM(new_s) OVER (PARTITION BY user_id ORDER BY tus ASC, event_id ASC
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
        |  FROM flags)
        |SELECT user_id, CAST(session_id AS BIGINT) AS session_id,
        |  MIN(tus) AS session_start_us, MAX(tus) AS session_end_us,
        |  COUNT(*) AS n_events
        |FROM sess GROUP BY user_id, session_id""".stripMargin))
  )
}
