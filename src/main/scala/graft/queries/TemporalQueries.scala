package graft.queries

import org.apache.spark.sql.functions._

import graft.Tables
import graft.operators.Relational.sumMoney
import graft.operators.Temporal

/** Temporal-join queries over the `events` stream table, each with a
  * DuckDB oracle. These exercise [[graft.operators.Temporal]]'s three
  * join shapes on real event-time data:
  *
  *  - q82: two-relation batch as-of (the general form of q20's
  *    single-table window phrasing — left and right are distinct
  *    relations with distinct schemas, the shape the reference's
  *    pandas `merge_asof` idiom covers);
  *  - q83: point-into-interval range join (purchases into browse
  *    sessions) — bucketized equi-join, never a nested-loop;
  *  - q84: interval-overlap join (view-sessions × click-sessions).
  */
object TemporalQueries {

  type Q = ParityQueries.Q

  /** 8-hour session gap: the fixture's per-user event density (~2
    * events/day) makes 30-minute sessions nearly all single-event
    * (span 0 — nothing can fall inside); 8 hours yields multi-event
    * sessions with real spans at every SF. */
  private val GAP_US = 28800L * 1000000L

  /** AS-OF (two-relation) — for each purchase, the latest view at or
    * before it by the same user: id, time and value of that view.
    * One shuffle on user_id (union-window), no join explosion. */
  val q82AsofEnrich: Q = (spark, dir) => {
    val t = Tables(spark, dir)
    val ev = t.events
    val purchases = ev.filter(col("event_type") === "purchase")
      .select("user_id", "event_id", "ts", "value")
    val views = ev.filter(col("event_type") === "view")
      .select(col("user_id"), col("ts").as("view_ts"),
        col("event_id").as("view_id"), col("value").as("view_value"))
    Temporal.asOfJoin(purchases, views, Seq("user_id"), "ts", "view_ts",
        rightVals = Seq("view_id", "view_ts", "view_value"),
        tieBreak = Seq("view_id"))
      .orderBy("user_id", "event_id")
  }

  /** RANGE JOIN — assign each purchase to the browse session (gap-based
    * over view+click events) it falls inside. Bucket width = the
    * session gap, so a session bursts to only a handful of buckets and
    * a 30-day session span stays well under 100 buckets — no
    * wide-interval stratum needed (single-subtree plan). */
  val q83SessionRange: Q = (spark, dir) => {
    val t = Tables(spark, dir)
    val ev = t.events
    val nav = ev.filter(col("event_type").isin("view", "click"))
    val sessions = Temporal.sessionIntervals(nav, Seq("user_id"), "ts", GAP_US,
      tieBreak = Seq("event_id"))
    val purchases = ev.filter(col("event_type") === "purchase")
      .select("user_id", "event_id", "ts")
    Temporal.rangeJoin(purchases, sessions, Seq("user_id"), "ts",
        "session_start", "session_end", bucketWidth = GAP_US)
      .select("user_id", "event_id", "ts", "session_seq",
        "session_start", "session_end", "n_events")
      .orderBy("user_id", "event_id", "session_seq")
  }

  /** OVERLAP JOIN — which view-sessions and click-sessions of a user
    * overlap, and by how much. Each overlapping pair is emitted in
    * exactly one shared bucket (claim trick) — no dedup shuffle. */
  val q84OverlapPairs: Q = (spark, dir) => {
    val t = Tables(spark, dir)
    val ev = t.events
    def sessionsOf(kind: String, p: String) =
      Temporal.sessionIntervals(ev.filter(col("event_type") === kind),
          Seq("user_id"), "ts", GAP_US, tieBreak = Seq("event_id"))
        .select(col("user_id"), col("session_seq").as(s"${p}_seq"),
          col("session_start").as(s"${p}_start"), col("session_end").as(s"${p}_end"))
    val vs = sessionsOf("view", "v")
    val cs = sessionsOf("click", "c")
    Temporal.intervalOverlapJoin(vs, cs, Seq("user_id"),
        "v_start", "v_end", "c_start", "c_end",
        bucketWidth = GAP_US, maxBucketsPerInterval = 2048)
      .select(col("user_id"), col("v_seq"), col("c_seq"),
        (unix_micros(least(col("v_end"), col("c_end")).cast("timestamp")) -
          unix_micros(greatest(col("v_start"), col("c_start")).cast("timestamp")))
          .as("overlap_us"))
      .orderBy("user_id", "v_seq", "c_seq")
  }

  /** AS-OF, nearest direction — for each signup, the closest error
    * event of the same user on EITHER side of it (pandas
    * `merge_asof(direction='nearest')`), within a 24-hour horizon.
    * Both window passes share one exchange; a distance tie prefers the
    * backward match (none exist at microsecond resolution — the
    * contract is pinned by `TemporalSpec`, not the fixture). */
  val q85AsofNearest: Q = (spark, dir) => {
    val t = Tables(spark, dir)
    val ev = t.events
    val signups = ev.filter(col("event_type") === "signup")
      .select("user_id", "event_id", "ts")
    val errors = ev.filter(col("event_type") === "error")
      .select(col("user_id"), col("ts").as("err_ts"), col("event_id").as("err_id"))
    Temporal.asOfJoin(signups, errors, Seq("user_id"), "ts", "err_ts",
        rightVals = Seq("err_id", "err_ts"), tieBreak = Seq("err_id"),
        direction = "nearest", toleranceMicros = Some(86400L * 1000000L))
      .orderBy("user_id", "event_id")
  }

  /** RANGE JOIN, routed front door — same answer as q83 by
    * construction, but through [[Temporal.rangeJoinAuto]]: the events
    * fixture's per-key pair product (~10²) sits far below the routing
    * threshold, so this exercises the estimator + the NAIVE route
    * end-to-end under the oracle (q83 keeps the explicit bucketized
    * route; `TemporalSpec` pins that both routes agree and when each
    * fires). */
  val q87RangeAuto: Q = (spark, dir) => {
    val t = Tables(spark, dir)
    val ev = t.events
    val nav = ev.filter(col("event_type").isin("view", "click"))
    val sessions = Temporal.sessionIntervals(nav, Seq("user_id"), "ts", GAP_US,
      tieBreak = Seq("event_id"))
    val purchases = ev.filter(col("event_type") === "purchase")
      .select("user_id", "event_id", "ts")
    Temporal.rangeJoinAuto(purchases, sessions, Seq("user_id"), "ts",
        "session_start", "session_end", bucketWidth = GAP_US)
      .select("user_id", "event_id", "ts", "session_seq",
        "session_start", "session_end", "n_events")
      .orderBy("user_id", "event_id", "session_seq")
  }

  /** RESAMPLE + LOCF — per-user daily mean of event `value`, every day
    * between a user's first and last event, gaps forward-filled
    * (`n_obs = 0` marks the filled days). The mean is
    * decimal-accumulated then divided as double so Spark and DuckDB
    * agree bitwise (ParityQueries' determinism rule). */
  val q86ResampleLocf: Q = (spark, dir) => {
    val t = Tables(spark, dir)
    val day = 86400L * 1000000L
    val exactMean = sumMoney(col("value"), 6) /
      count(lit(1)).cast("double")
    Temporal.resampleLocf(t.events, Seq("user_id"), "ts", "value", day,
        cellAgg = Some(exactMean))
      .orderBy("user_id", "grid_ts")
  }

  /** RESAMPLE + LINEAR INTERPOLATION ([[Temporal.resampleInterpolate]])
    * — per-user half-day cells of event `value` in exact decimal
    * MICRO-UNITS (an integral cell aggregate, so the gap fill is pure
    * integer floor arithmetic the oracle replays with `//`), every
    * cell between a user's first and last event, gaps filled on the
    * straight line between the neighboring observed cells
    * (`n_obs = 0` marks interpolated rows). */
  val q173ResampleInterp: Q = (spark, dir) => {
    val t = Tables(spark, dir)
    val halfDay = 43200L * 1000000L
    val microSum = (sum(col("value").cast("decimal(18,6)")) * lit(1000000))
      .cast("long")
    Temporal.resampleInterpolate(t.events, Seq("user_id"), "ts", "value",
        halfDay, cellAgg = Some(microSum))
      .withColumnRenamed("value", "value_micros")
      .orderBy("user_id", "grid_ts")
  }

  /** FUNNEL ([[Temporal.funnel]]) — per user, the earliest
    * signup → view → click → purchase progression, each step strictly
    * after the previous and within 20 days of the signup anchor:
    * greedy-earliest conversion analysis as k per-step-slice
    * aggregations + key equi-joins (no window over raw events, no
    * per-user event collection). */
  val q114Funnel: Q = (spark, dir) => {
    val t = Tables(spark, dir)
    Temporal.funnel(t.events, "user_id", "ts", "event_type",
        Seq("signup", "view", "click", "purchase"),
        maxSpanSec = Some(20L * 86400L))
      .orderBy("user_id")
  }

  /** RETENTION ([[Temporal.retentionCohorts]]) — weekly cohort
    * retention matrix over the events table: each user cohorted by
    * first-event week, distinct-active counts per (cohort, offset);
    * all bucket arithmetic is integer micros the oracle replays
    * exactly. */
  val q118Retention: Q = (spark, dir) => {
    val t = Tables(spark, dir)
    // the high-value slice: sparse enough per user that first events
    // spread across weeks — a REAL multi-cohort matrix (the unfiltered
    // stream is so dense every user cohorts into week 0)
    Temporal.retentionCohorts(t.events.filter(col("value") >= 150.0),
        "user_id", "ts")
      .orderBy("cohort", "week_offset")
  }


  /** ROLLING ACTIVE ([[Temporal.rollingActive]]) — the DAU/WAU
    * relation over the events table's sparse high-value slice (the
    * q118 slice, so windows actually slide across quiet days):
    * trailing-7-day distinct actives + same-day distinct actives per
    * day bucket, all integer micros arithmetic the oracle replays
    * exactly. */
  val q124RollingActive: Q = (spark, dir) => {
    val t = Tables(spark, dir)
    Temporal.rollingActive(t.events.filter(col("value") >= 150.0),
        "user_id", "ts")
      .orderBy("bucket")
  }


  /** CONVERSION LATENCY — the funnel composed with the exact quantile
    * profile: signup→purchase time (micros) for full completions,
    * profiled at six permille points. The oracle chains q114's funnel
    * CTEs into q126's rank replay, so the hash match proves the two
    * layers compose exactly. */
  val q132ConversionLatency: Q = (spark, dir) => {
    val t = Tables(spark, dir)
    val conv = Temporal.funnel(t.events, "user_id", "ts", "event_type",
        Seq("signup", "view", "click", "purchase"),
        maxSpanSec = Some(20L * 86400L))
      .filter(col("steps_completed") === 4)
      .select((unix_micros(col("t_4")) - unix_micros(col("t_1")))
        .as("latency_us"))
    graft.operators.Quality.quantileProfile(conv, "latency_us",
      Seq(0, 250, 500, 750, 900, 1000))
  }

  /** INTERVAL COVERAGE — per user, the union length of their activity
    * intervals [ts, ts + value minutes) in microseconds
    * ([[Temporal.intervalCoverage]]): overlaps merged, gaps excluded,
    * beside the raw interval count and the merged-island count — the
    * "time with at least one session open" aggregate a plain
    * SUM(duration) double-counts whenever sessions overlap. One
    * exchange: the window sweep and both rollups share the user hash
    * partitioning; the oracle replays the identical running-max
    * construction, integer micros end to end. */
  val q185IntervalCoverage: Q = (spark, dir) => {
    val t = Tables(spark, dir)
    val lo = unix_micros(col("ts").cast("timestamp"))
    val iv = t.events.select(col("user_id"), lo.as("lo_us"),
      (lo + floor(col("value") * lit(60000000.0)).cast("long")).as("hi_us"))
    Temporal.intervalCoverage(iv, Seq("user_id"), "lo_us", "hi_us")
      .orderBy("user_id")
  }

  /** STATE-TRANSITION MATRIX — the Markov view of the event stream
    * ([[Temporal.transitionMatrix]]): per user, events ordered by
    * (ts, event_id — a TOTAL order, so the matrix is deterministic and
    * oracle-able), every consecutive (from, to) event-type pair
    * counted, with the within-from permille share. |states|²-bounded
    * output; the permille join is against the tiny from-state totals
    * (broadcast). */
  val q186TransitionMatrix: Q = (spark, dir) =>
    Temporal.transitionMatrix(Tables(spark, dir).events,
        "user_id", "ts", "event_id", "event_type")
      .orderBy("from_state", "to_state")

  /** PEAK CONCURRENCY — per user, the max number of simultaneously
    * open activity intervals ([[Temporal.peakConcurrency]] over the
    * q185 intervals): the capacity statistic union-coverage cannot
    * answer. The ±1 event sweep with the half-open tie rule (closes
    * before opens at equal positions), replayed exactly by the
    * oracle's windowed running sum. */
  val q188PeakConcurrency: Q = (spark, dir) => {
    val t = Tables(spark, dir)
    val lo = unix_micros(col("ts").cast("timestamp"))
    val iv = t.events.select(col("user_id"), lo.as("lo_us"),
      (lo + floor(col("value") * lit(60000000.0)).cast("long")).as("hi_us"))
    Temporal.peakConcurrency(iv, Seq("user_id"), "lo_us", "hi_us")
      .orderBy("user_id")
  }

  val all: Map[String, Q] = Map(
    "q185_interval_coverage" -> q185IntervalCoverage,
    "q186_transition_matrix" -> q186TransitionMatrix,
    "q188_peak_concurrency" -> q188PeakConcurrency,
    "q118_retention" -> q118Retention,
    "q124_rolling_active" -> q124RollingActive,
    "q82_asof_enrich" -> q82AsofEnrich,
    "q83_session_range" -> q83SessionRange,
    "q84_overlap_pairs" -> q84OverlapPairs,
    "q85_asof_nearest" -> q85AsofNearest,
    "q86_resample_locf" -> q86ResampleLocf,
    "q173_resample_interp" -> q173ResampleInterp,
    "q87_range_auto" -> q87RangeAuto,
    "q114_funnel" -> q114Funnel,
    "q132_conversion_latency" -> q132ConversionLatency)

  /** Shared oracle CTE: gap-sessionization of one event_type stratum
    * (the SQL twin of [[Temporal.sessionIntervals]]). */
  private def sessSql(types: String): String =
    s"""SELECT user_id, session_seq, MIN(ts) AS session_start,
       |    MAX(ts) AS session_end, COUNT(*) AS n_events
       |  FROM (
       |    SELECT user_id, ts,
       |      CAST(SUM(CASE WHEN prev_us IS NULL OR epoch_us(ts) - prev_us > 28800000000
       |               THEN 1 ELSE 0 END)
       |        OVER (PARTITION BY user_id ORDER BY ts, event_id
       |              ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_seq
       |    FROM (
       |      SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS ts,
       |        LAG(epoch_us(CAST(ts AS TIMESTAMP))) OVER (
       |          PARTITION BY user_id ORDER BY ts, event_id) AS prev_us
       |      FROM events WHERE event_type IN ($types)))
       |  GROUP BY user_id, session_seq""".stripMargin

  private lazy val sessionRangeSql: String =
    s"""WITH sess AS (
       |${sessSql("'view', 'click'")})
       |SELECT p.user_id, p.event_id, p.ts, s.session_seq,
       |  s.session_start, s.session_end, s.n_events
       |FROM (SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS ts FROM events
       |      WHERE event_type = 'purchase') p
       |JOIN sess s ON s.user_id = p.user_id
       |  AND s.session_start <= p.ts AND p.ts <= s.session_end
       |ORDER BY p.user_id, p.event_id, s.session_seq""".stripMargin

  /** q114's conversion window in microseconds (20 days). */
  private val FunnelSpanUs = 20L * 86400L * 1000000L

  /** q114's s1..s4 funnel CTE chain, shared with q132's latency replay. */
  private lazy val funnelCtes: String =
    s"""s1 AS (
       |  SELECT user_id, min(ts) AS t_1 FROM events
       |  WHERE event_type = 'signup' GROUP BY user_id),
       |s2 AS (
       |  SELECT s1.user_id, s1.t_1, min(e.ts) AS t_2
       |  FROM s1 LEFT JOIN events e
       |    ON e.user_id = s1.user_id AND e.event_type = 'view'
       |   AND e.ts > s1.t_1
       |   AND epoch_us(e.ts) <= epoch_us(s1.t_1) + $FunnelSpanUs
       |  GROUP BY s1.user_id, s1.t_1),
       |s3 AS (
       |  SELECT s2.user_id, s2.t_1, s2.t_2, min(e.ts) AS t_3
       |  FROM s2 LEFT JOIN events e
       |    ON e.user_id = s2.user_id AND e.event_type = 'click'
       |   AND e.ts > s2.t_2
       |   AND epoch_us(e.ts) <= epoch_us(s2.t_1) + $FunnelSpanUs
       |  GROUP BY s2.user_id, s2.t_1, s2.t_2),
       |s4 AS (
       |  SELECT s3.user_id, s3.t_1, s3.t_2, s3.t_3, min(e.ts) AS t_4
       |  FROM s3 LEFT JOIN events e
       |    ON e.user_id = s3.user_id AND e.event_type = 'purchase'
       |   AND e.ts > s3.t_3
       |   AND epoch_us(e.ts) <= epoch_us(s3.t_1) + $FunnelSpanUs
       |  GROUP BY s3.user_id, s3.t_1, s3.t_2, s3.t_3)""".stripMargin

  val oracle: Map[String, String] = Map(
    "q185_interval_coverage" ->
      """WITH iv AS (
        |  SELECT user_id,
        |    epoch_us(CAST(ts AS TIMESTAMP)) AS lo,
        |    epoch_us(CAST(ts AS TIMESTAMP))
        |      + CAST(floor(value * 60000000.0) AS BIGINT) AS hi
        |  FROM events
        |  WHERE user_id IS NOT NULL AND ts IS NOT NULL
        |    AND value IS NOT NULL AND floor(value * 60000000.0) > 0),
        |m AS (
        |  SELECT user_id, lo, hi,
        |    MAX(hi) OVER (PARTITION BY user_id ORDER BY lo, hi
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_hi
        |  FROM iv),
        |s AS (
        |  SELECT *, CASE WHEN prev_hi IS NULL OR lo >= prev_hi
        |                 THEN 1 ELSE 0 END AS st
        |  FROM m),
        |g AS (
        |  SELECT *, SUM(st) OVER (PARTITION BY user_id ORDER BY lo, hi
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS isl
        |  FROM s),
        |i AS (SELECT user_id, isl, MIN(lo) AS ilo, MAX(hi) AS ihi,
        |        COUNT(*) AS n
        |      FROM g GROUP BY 1, 2)
        |SELECT user_id, CAST(SUM(n) AS BIGINT) AS n_intervals,
        |  COUNT(*) AS n_islands, CAST(SUM(ihi - ilo) AS BIGINT) AS covered
        |FROM i GROUP BY 1 ORDER BY user_id""".stripMargin,
    "q188_peak_concurrency" ->
      """WITH iv AS (
        |  SELECT user_id,
        |    epoch_us(CAST(ts AS TIMESTAMP)) AS lo,
        |    epoch_us(CAST(ts AS TIMESTAMP))
        |      + CAST(floor(value * 60000000.0) AS BIGINT) AS hi
        |  FROM events
        |  WHERE user_id IS NOT NULL AND ts IS NOT NULL
        |    AND value IS NOT NULL AND floor(value * 60000000.0) > 0),
        |ev AS (
        |  SELECT user_id, lo AS pos, 1 AS d FROM iv
        |  UNION ALL SELECT user_id, hi, -1 FROM iv),
        |o AS (
        |  SELECT user_id,
        |    SUM(d) OVER (PARTITION BY user_id ORDER BY pos, d
        |      ROWS UNBOUNDED PRECEDING) AS open
        |  FROM ev)
        |SELECT user_id, CAST(MAX(open) AS BIGINT) AS peak_concurrency,
        |  COUNT(*) // 2 AS n_intervals
        |FROM o GROUP BY 1 ORDER BY user_id""".stripMargin,
    "q186_transition_matrix" ->
      """WITH e AS (
        |  SELECT user_id, event_id, event_type,
        |    epoch_us(CAST(ts AS TIMESTAMP)) AS us
        |  FROM events
        |  WHERE user_id IS NOT NULL AND ts IS NOT NULL
        |    AND event_type IS NOT NULL AND event_id IS NOT NULL),
        |p AS (
        |  SELECT event_type AS from_state,
        |    LEAD(event_type) OVER (PARTITION BY user_id
        |      ORDER BY us, event_id) AS to_state
        |  FROM e),
        |c AS (SELECT from_state, to_state, COUNT(*) AS n FROM p
        |      WHERE to_state IS NOT NULL GROUP BY 1, 2),
        |t AS (SELECT from_state, SUM(n) AS tot FROM c GROUP BY 1)
        |SELECT c.from_state, c.to_state, c.n,
        |  (1000 * c.n) // CAST(t.tot AS BIGINT) AS permille
        |FROM c JOIN t USING (from_state)
        |ORDER BY from_state, to_state""".stripMargin,
    "q132_conversion_latency" ->
      s"""WITH $funnelCtes,
         |conv AS (
         |  SELECT epoch_us(t_4) - epoch_us(t_1) AS latency_us
         |  FROM s4 WHERE t_4 IS NOT NULL),
         |n AS (SELECT count(*) AS n FROM conv),
         |r AS (SELECT latency_us,
         |        row_number() OVER (ORDER BY latency_us) - 1 AS rk FROM conv),
         |t AS (SELECT p, (n - 1) * p // 1000 AS target FROM n,
         |      (VALUES (0),(250),(500),(750),(900),(1000)) ps(p))
         |SELECT CAST(t.p AS INT) AS permille, CAST(t.target AS BIGINT) AS rank,
         |  r.latency_us AS value
         |FROM t JOIN r ON r.rk = t.target ORDER BY permille""".stripMargin,
    "q124_rolling_active" ->
      """WITH e AS (SELECT user_id, CAST(ts AS TIMESTAMP) AS ts FROM events
        |           WHERE value >= 150.0 AND user_id IS NOT NULL AND ts IS NOT NULL),
        |o AS (SELECT min(ts) AS t0, max(ts) AS t1 FROM e),
        |kb AS (SELECT DISTINCT user_id,
        |         (epoch_us(ts) - epoch_us(t0)) // 86400000000 AS b
        |       FROM e, o),
        |mx AS (SELECT (epoch_us(t1) - epoch_us(t0)) // 86400000000 AS mb FROM o),
        |ex AS (SELECT user_id, b, unnest(range(b, least(b + 7, mb + 1))) AS bucket
        |       FROM kb, mx),
        |per AS (SELECT user_id, bucket, min(bucket - b) AS minpos
        |        FROM ex GROUP BY 1, 2)
        |SELECT bucket, CAST(count(*) AS BIGINT) AS n_active,
        |  CAST(count(CASE WHEN minpos = 0 THEN 1 END) AS BIGINT) AS n_active_bucket
        |FROM per GROUP BY bucket ORDER BY bucket""".stripMargin,
    "q118_retention" ->
      """WITH e AS (SELECT * FROM events WHERE value >= 150.0),
        |o AS (SELECT min(CAST(ts AS TIMESTAMP)) AS t0 FROM e
        |      WHERE user_id IS NOT NULL),
        |uw AS (
        |  SELECT DISTINCT user_id,
        |    (epoch_us(CAST(ts AS TIMESTAMP)) - epoch_us(t0)) // 604800000000 AS wk
        |  FROM e, o
        |  WHERE user_id IS NOT NULL AND ts IS NOT NULL),
        |c AS (SELECT user_id, min(wk) AS cohort FROM uw GROUP BY user_id)
        |SELECT c.cohort, uw.wk - c.cohort AS week_offset,
        |  CAST(COUNT(DISTINCT uw.user_id) AS BIGINT) AS n_users
        |FROM uw JOIN c USING (user_id)
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "q114_funnel" ->
      s"""WITH $funnelCtes
         |SELECT user_id, t_1, t_2, t_3, t_4,
         |  CAST((CASE WHEN t_1 IS NULL THEN 0 ELSE 1 END)
         |     + (CASE WHEN t_2 IS NULL THEN 0 ELSE 1 END)
         |     + (CASE WHEN t_3 IS NULL THEN 0 ELSE 1 END)
         |     + (CASE WHEN t_4 IS NULL THEN 0 ELSE 1 END) AS BIGINT)
         |    AS steps_completed
         |FROM s4 ORDER BY user_id""".stripMargin,
    "q82_asof_enrich" ->
      """SELECT p.user_id, p.event_id, p.ts, p.value,
        |  v.view_id, v.view_ts, v.view_value
        |FROM (SELECT user_id, event_id, ts, value FROM events
        |      WHERE event_type = 'purchase') p
        |LEFT JOIN LATERAL (
        |  SELECT e.event_id AS view_id, e.ts AS view_ts, e.value AS view_value
        |  FROM events e
        |  WHERE e.event_type = 'view' AND e.user_id = p.user_id AND e.ts <= p.ts
        |  ORDER BY e.ts DESC, e.event_id DESC LIMIT 1) v ON TRUE
        |ORDER BY p.user_id, p.event_id""".stripMargin,
    "q85_asof_nearest" ->
      """SELECT s.user_id, s.event_id, s.ts, e.err_id, e.err_ts
        |FROM (SELECT user_id, event_id, ts FROM events
        |      WHERE event_type = 'signup') s
        |LEFT JOIN LATERAL (
        |  SELECT ee.event_id AS err_id, ee.ts AS err_ts
        |  FROM events ee
        |  WHERE ee.event_type = 'error' AND ee.user_id = s.user_id
        |    AND abs(epoch_us(ee.ts) - epoch_us(s.ts)) <= 86400000000
        |  ORDER BY abs(epoch_us(ee.ts) - epoch_us(s.ts)) ASC,
        |           (ee.ts <= s.ts) DESC, ee.event_id DESC
        |  LIMIT 1) e ON TRUE
        |ORDER BY s.user_id, s.event_id""".stripMargin,
    "q83_session_range" -> sessionRangeSql,
    // q87 routes the same join through the auto front door — the SQL
    // contract is identical by construction.
    "q87_range_auto" -> sessionRangeSql,
    "q84_overlap_pairs" ->
      s"""WITH vs AS (
         |${sessSql("'view'")}),
         |cs AS (
         |${sessSql("'click'")})
         |SELECT v.user_id, v.session_seq AS v_seq, c.session_seq AS c_seq,
         |  epoch_us(LEAST(v.session_end, c.session_end)) -
         |    epoch_us(GREATEST(v.session_start, c.session_start)) AS overlap_us
         |FROM vs v JOIN cs c ON v.user_id = c.user_id
         |  AND v.session_start <= c.session_end AND c.session_start <= v.session_end
         |ORDER BY 1, 2, 3""".stripMargin,
    "q86_resample_locf" ->
      """WITH cells AS (
        |  SELECT user_id, epoch_us(CAST(ts AS TIMESTAMP)) // 86400000000 AS cell,
        |    CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) / COUNT(*) AS mean_v,
        |    COUNT(*) AS n
        |  FROM events
        |  WHERE user_id IS NOT NULL AND ts IS NOT NULL AND value IS NOT NULL
        |  GROUP BY 1, 2),
        |spans AS (
        |  SELECT user_id, cell, mean_v, n,
        |    LEAD(cell) OVER (PARTITION BY user_id ORDER BY cell) AS next_cell
        |  FROM cells),
        |series AS (
        |  SELECT UNNEST(generate_series((SELECT MIN(cell) FROM cells),
        |                                (SELECT MAX(cell) FROM cells))) AS g)
        |SELECT user_id, g * 86400000000 AS grid_ts, mean_v AS value,
        |  CASE WHEN g = cell THEN n ELSE CAST(0 AS BIGINT) END AS n_obs
        |FROM spans JOIN series
        |  ON g BETWEEN cell AND COALESCE(next_cell - 1, cell)
        |ORDER BY user_id, grid_ts""".stripMargin,
    "q173_resample_interp" ->
      """WITH cells AS (
        |  SELECT user_id,
        |    epoch_us(CAST(ts AS TIMESTAMP)) // 43200000000 AS cell,
        |    CAST(SUM(CAST(value AS DECIMAL(18,6))) * 1000000 AS BIGINT) AS v,
        |    COUNT(*) AS n
        |  FROM events
        |  WHERE user_id IS NOT NULL AND ts IS NOT NULL AND value IS NOT NULL
        |  GROUP BY 1, 2),
        |spans AS (
        |  SELECT user_id, cell, v, n,
        |    LEAD(cell) OVER (PARTITION BY user_id ORDER BY cell) AS next_cell,
        |    LEAD(v) OVER (PARTITION BY user_id ORDER BY cell) AS next_v
        |  FROM cells),
        |series AS (
        |  SELECT UNNEST(generate_series((SELECT MIN(cell) FROM cells),
        |                                (SELECT MAX(cell) FROM cells))) AS g),
        |grid AS (
        |  SELECT user_id, g, cell, v, n,
        |    (next_v - v) * (g - cell) AS nm, next_cell - cell AS dn
        |  FROM spans JOIN series
        |    ON g BETWEEN cell AND COALESCE(next_cell - 1, cell))
        |SELECT user_id, g * 43200000000 AS grid_ts,
        |  -- duckdb's // truncates toward zero; subtract the non-negative
        |  -- mod first so the division is exact (trunc == floor there)
        |  CASE WHEN g = cell THEN v
        |       ELSE v + (nm - (((nm % dn) + dn) % dn)) // dn
        |  END AS value_micros,
        |  CASE WHEN g = cell THEN n ELSE CAST(0 AS BIGINT) END AS n_obs
        |FROM grid
        |ORDER BY user_id, grid_ts""".stripMargin)
}
