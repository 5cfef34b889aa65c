package graft.ext

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.{Q, Tables}
import graft.util.Det._
import graft.util.Ranks

/** Event-stream analytics over the `events` table: tumbling windows,
  * sessionization. The same aggregations run under Structured Streaming in
  * graft.streaming.EventStream (spec-tested); here they are expressed as
  * batch queries so the DuckDB oracle can check them.
  */
object EventOps {

  // ---- E1: tumbling hourly window ---------------------------------------
  private def e1Tumbling(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d)
      .groupBy(date_trunc("hour", col("ts")).as("hour"), col("event_type"))
      .agg(count(lit(1)).as("n"), dsum(col("value")).as("sum_value"))
      .orderBy(col("hour"), col("event_type"))

  private[graft] val e1Sql =
    s"""SELECT DATE_TRUNC('hour', ts) AS hour, event_type,
       |  COUNT(*) AS n, ${sqlDsum("value")} AS sum_value
       |FROM events GROUP BY 1, 2 ORDER BY hour, event_type""".stripMargin

  // ---- E10: sliding (hopping) windows ------------------------------------
  /** Overlapping 10-minute windows advancing every 5 minutes — the hopping
    * aggregate behind smoothed rate dashboards and overlap-tolerant rollups
    * (tumbling = the slide==width special case; e1 covers that). Spark's
    * `window(ts, width, slide)` replicates each event into width/slide = 2
    * windows and hash-aggregates — one shuffle of (window, type) partials,
    * no self-join. Both engines align window starts to the epoch, so the
    * oracle reproduces the exact window set: each event belongs to windows
    * starting at time_bucket(5 min, ts) − j·5 min for j ∈ {0, 1} (the
    * half-open [start, start+10′) check is automatically satisfied).
    */
  private def e10Sliding(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d)
      .groupBy(window(col("ts"), "10 minutes", "5 minutes"), col("event_type"))
      .agg(count(lit(1)).as("n"), dsum(col("value")).as("sum_value"))
      .select(col("window.start").as("ws"), col("window.end").as("we"),
        col("event_type"), col("n"), col("sum_value"))
      .orderBy(col("ws"), col("event_type"))

  private[graft] val e10Sql =
    s"""WITH j AS (SELECT unnest(range(0, 2)) AS j),
       |w AS (
       |  SELECT time_bucket(INTERVAL '5 minutes', ts)
       |           - j * (INTERVAL '5 minutes') AS ws,
       |         event_type, value
       |  FROM events, j)
       |SELECT ws, ws + INTERVAL '10 minutes' AS we, event_type,
       |  CAST(COUNT(*) AS BIGINT) AS n, ${sqlDsum("value")} AS sum_value
       |FROM w GROUP BY ws, event_type ORDER BY ws, event_type""".stripMargin

  // ---- E2: sessionization (30-min inactivity gap) ------------------------
  // Classic gaps-and-islands: lag ts per user, new-session flag when gap >
  // 30 min, running sum of flags = session id. Two window passes over the
  // same (user_id, ts) partitioning — one shuffle, reused.
  /** Per-user session intervals (public: also the interval side of the
    * af2 range join).
    */
  def sessions(events: DataFrame): DataFrame = {
    val byUser = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
    events
      .withColumn("prev_ts", lag(col("ts"), 1).over(byUser))
      .withColumn("new_session",
        when(col("prev_ts").isNull ||
          unix_micros(col("ts")) - unix_micros(col("prev_ts")) > 1800L * 1000000L, 1L)
          .otherwise(0L))
      .withColumn("session_id", sum(col("new_session")).over(
        byUser.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy(col("user_id"), col("session_id"))
      .agg(count(lit(1)).as("n_events"),
        min(col("ts")).as("session_start"),
        max(col("ts")).as("session_end"))
  }

  private def e2Sessions(s: SparkSession, d: String): DataFrame =
    sessions(Tables.events(s, d))
      .orderBy(col("user_id"), col("session_id"))

  private val e2Sql =
    """WITH flagged AS (
      |  SELECT user_id, ts, event_id,
      |    CASE WHEN LAG(ts) OVER w IS NULL
      |           OR EPOCH_US(ts) - EPOCH_US(LAG(ts) OVER w) > 1800000000
      |         THEN 1 ELSE 0 END AS new_session
      |  FROM events
      |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
      |), sessions AS (
      |  SELECT user_id, ts,
      |    CAST(SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_id
      |  FROM flagged)
      |SELECT user_id, session_id, COUNT(*) AS n_events,
      |  MIN(ts) AS session_start, MAX(ts) AS session_end
      |FROM sessions GROUP BY 1, 2 ORDER BY user_id, session_id""".stripMargin

  // ---- E2b: native session_window (the declarative sessionizer) ---------
  /** The same 30-min-gap sessionization expressed through Spark's native
    * `session_window` (one hash-agg with window merging — usable batch AND
    * streaming) instead of e2's two window passes. Boundary semantics
    * match e2 exactly: an event landing at precisely start + gap still
    * MERGES (spec-pinned — adjacent windows coalesce; only diff > gap
    * splits), so the oracle is e2's gaps-and-islands with the same
    * strict-> split, emitting session_window's `max(ts) + gap` end.
    *
    * Scale: one shuffle on user_id, merge inside the aggregate — no
    * two-pass window, no rank state; the streaming form shares the
    * operator (state = open windows within the watermark).
    */
  private def e2bSessionWindow(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d)
      .groupBy(session_window(col("ts"), "30 minutes").as("w"), col("user_id"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("user_id"),
        unix_micros(col("w.start")).as("start_us"),
        unix_micros(col("w.end")).as("end_us"),
        col("n_events"))
      .orderBy(col("user_id"), col("start_us"))

  private val e2bSql =
    """WITH flagged AS (
      |  SELECT user_id, ts, event_id,
      |    CASE WHEN LAG(ts) OVER w IS NULL
      |           OR EPOCH_US(ts) - EPOCH_US(LAG(ts) OVER w) > 1800000000
      |         THEN 1 ELSE 0 END AS new_session
      |  FROM events
      |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
      |), sess AS (
      |  SELECT user_id, ts,
      |    SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
      |  FROM flagged)
      |SELECT user_id, EPOCH_US(MIN(ts)) AS start_us,
      |  EPOCH_US(MAX(ts)) + 1800000000 AS end_us,
      |  CAST(COUNT(*) AS BIGINT) AS n_events
      |FROM sess GROUP BY user_id, sid ORDER BY user_id, start_us""".stripMargin

  // ---- E3: per-user daily activity pivot-style rollup --------------------
  private def e3DailyUser(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d)
      .groupBy(date_trunc("day", col("ts")).as("day"))
      .agg(
        count(lit(1)).as("n_events"),
        countDistinct(col("user_id")).as("n_users"),
        dsum(col("value")).as("sum_value"),
        count(when(col("event_type") === "click", 1)).as("n_clicks"),
        count(when(col("event_type") === "view", 1)).as("n_views"))
      .orderBy(col("day"))

  private val e3Sql =
    s"""SELECT DATE_TRUNC('day', ts) AS day, COUNT(*) AS n_events,
       |  COUNT(DISTINCT user_id) AS n_users,
       |  ${sqlDsum("value")} AS sum_value,
       |  COUNT(CASE WHEN event_type = 'click' THEN 1 END) AS n_clicks,
       |  COUNT(CASE WHEN event_type = 'view' THEN 1 END) AS n_views
       |FROM events GROUP BY 1 ORDER BY day""".stripMargin

  // ---- E5: dynamic pivot -------------------------------------------------
  // RelationalGroupedDataset.pivot with declared values (declaring them
  // skips Spark's extra distinct-scan — the 100 TB habit); oracle via
  // explicit conditional aggregation.
  private val EventTypes = Seq("click", "error", "purchase", "signup", "view")

  /** Pivot without the presentation sort — e15's melt builds on this so
    * it doesn't inherit (and then redo) a total order it can't use.
    */
  private def e5PivotCore(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d)
      .groupBy(date_trunc("day", col("ts")).as("day"))
      .pivot("event_type", EventTypes)
      .agg(count(lit(1)))
      .na.fill(0L, EventTypes)

  private def e5Pivot(s: SparkSession, d: String): DataFrame =
    e5PivotCore(s, d).orderBy(col("day"))

  private val e5Sql = {
    val cols = EventTypes.map(t =>
      s"COUNT(CASE WHEN event_type = '$t' THEN 1 END) AS \"$t\"").mkString(",\n  ")
    s"""SELECT DATE_TRUNC('day', ts) AS day,
       |  $cols
       |FROM events GROUP BY 1 ORDER BY day""".stripMargin
  }

  // ---- E15: unpivot (melt) ----------------------------------------------
  /** Wide→long inverse of e5's pivot: `Dataset.unpivot` expands each
    * wide row to one row per value column IN PLACE — map-only, no
    * shuffle, no driver involvement, at any scale (the shuffle in this
    * query is e5's upstream pivot aggregate). Registered as the
    * round-trip: unpivot(pivot(events)) with the zero-filled cells
    * dropped equals the plain (day, event_type) aggregate, which is the
    * oracle — the melt must invent or lose nothing.
    */
  private def e15Unpivot(s: SparkSession, d: String): DataFrame =
    e5PivotCore(s, d).unpivot(
        Array(col("day")), EventTypes.map(col).toArray,
        "event_type", "n")
      .filter(col("n") > 0)
      .orderBy(col("day"), col("event_type"))

  private val e15Sql =
    """SELECT DATE_TRUNC('day', ts) AS day, event_type,
      |  CAST(COUNT(*) AS BIGINT) AS n
      |FROM events GROUP BY 1, 2
      |ORDER BY day, event_type""".stripMargin

  // ---- E13: weekly retention cohorts -------------------------------------
  /** The classic cohort-retention matrix: users grouped by first-active
    * week, activity counted per subsequent week offset. The (user, week)
    * pairs are DISTINCT'd first, so the cohort self-join moves one row
    * per active user-week, not one per event — at 100 TB of events this
    * is the difference between joining billions and joining the event
    * log. Both passes shuffle on user_id (the min-week aggregate reuses
    * the distinct's partitioning in practice), and the final matrix is
    * weeks × offsets — tiny, its aggregate collapses map-side.
    *
    * Week offsets are exact: date_trunc('week') anchors Mondays in both
    * engines (session is UTC), so consecutive week starts differ by
    * exactly 604800 s and the offset division is lossless.
    */
  /** Core of e13 over any (user_id, ts) event frame. */
  private[graft] def cohortMatrix(events: DataFrame): DataFrame = {
    val ev = events
      .select(col("user_id"), date_trunc("week", col("ts")).as("wk"))
      .distinct()
    val first = ev.groupBy("user_id").agg(min("wk").as("cohort_week"))
    ev.join(first, "user_id")
      .groupBy(col("cohort_week"),
        ((unix_timestamp(col("wk")) - unix_timestamp(col("cohort_week"))) / 604800)
          .cast("int").as("week_offset"))
      .agg(countDistinct(col("user_id")).as("active_users"))
      .orderBy(col("cohort_week"), col("week_offset"))
  }

  private def e13Cohorts(s: SparkSession, d: String): DataFrame =
    cohortMatrix(Tables.events(s, d))

  private val e13Sql =
    """WITH ev AS (
      |  SELECT DISTINCT user_id, date_trunc('week', ts) AS wk FROM events),
      |f AS (SELECT user_id, min(wk) AS cohort_week FROM ev GROUP BY 1)
      |SELECT f.cohort_week,
      |  CAST((CAST(epoch(ev.wk) AS BIGINT)
      |        - CAST(epoch(f.cohort_week) AS BIGINT)) / 604800 AS INTEGER)
      |    AS week_offset,
      |  CAST(count(DISTINCT ev.user_id) AS BIGINT) AS active_users
      |FROM ev JOIN f USING (user_id)
      |GROUP BY 1, 2
      |ORDER BY cohort_week, week_offset""".stripMargin

  // ---- E14: ordered conversion funnel ------------------------------------
  /** Strict-order funnel view → click → purchase: a user converts at
    * stage k only with an event AFTER their previous-stage timestamp
    * (first view, then first click after that view, then first purchase
    * after that click). Unconditional per-user min/max aggregates can't
    * express "first click after the first view", so each stage is a
    * filtered min-aggregate joined to the previous stage — the standard
    * declarative funnel.
    *
    * Scale: each stage shuffles on user_id with the min partial
    * completing map-side, and the survivor set shrinks monotonically
    * stage over stage; the event_type filters reach the scans. A
    * single-pass alternative (per-user sorted fold via flatMapGroups,
    * the e6 machinery) trades the extra scans for one shuffle of all
    * events — worth it only when stages ≫ 3 or the event log is the
    * dominant cost.
    */
  /** Core of e14 over any (user_id, event_type, ts) frame. */
  private[graft] def funnelCounts(events: DataFrame): DataFrame = {
    val ev = events.select(col("user_id"), col("event_type"), col("ts"))
    val v = ev.filter(col("event_type") === "view")
      .groupBy("user_id").agg(min("ts").as("t_view"))
    val c = ev.filter(col("event_type") === "click").join(v, "user_id")
      .filter(col("ts") > col("t_view"))
      .groupBy("user_id").agg(min("ts").as("t_click"))
    val p = ev.filter(col("event_type") === "purchase").join(c, "user_id")
      .filter(col("ts") > col("t_click"))
      .groupBy("user_id").agg(min("ts").as("t_purchase"))
    v.agg(count(lit(1)).as("n_view"))
      .crossJoin(broadcast(c.agg(count(lit(1)).as("n_view_click"))))
      .crossJoin(broadcast(p.agg(count(lit(1)).as("n_view_click_purchase"))))
  }

  private def e14Funnel(s: SparkSession, d: String): DataFrame =
    funnelCounts(Tables.events(s, d))

  private val e14Sql =
    """WITH v AS (
      |  SELECT user_id, min(ts) AS t_view FROM events
      |  WHERE event_type = 'view' GROUP BY 1),
      |c AS (
      |  SELECT e.user_id, min(e.ts) AS t_click
      |  FROM events e JOIN v USING (user_id)
      |  WHERE e.event_type = 'click' AND e.ts > v.t_view GROUP BY 1),
      |p AS (
      |  SELECT e.user_id, min(e.ts) AS t_purchase
      |  FROM events e JOIN c USING (user_id)
      |  WHERE e.event_type = 'purchase' AND e.ts > c.t_click GROUP BY 1)
      |SELECT (SELECT CAST(count(*) AS BIGINT) FROM v) AS n_view,
      |       (SELECT CAST(count(*) AS BIGINT) FROM c) AS n_view_click,
      |       (SELECT CAST(count(*) AS BIGINT) FROM p) AS n_view_click_purchase""".stripMargin

  // ---- E17: interval union (overlap merge) -------------------------------
  /** Per-customer union of overlapping validity intervals — the
    * time-in-state / coverage primitive (contract coverage, promo
    * windows, SLA uptime): each order opens a 30-day interval; touching
    * or overlapping intervals merge into islands; the answer is islands
    * per customer and total covered days. This generalizes e2's
    * gaps-and-islands from point events to DURATIONS: an island breaks
    * only when the next start exceeds the running MAX of all previous
    * ends (a later interval can swallow an earlier gap, so `lag(en)`
    * alone is wrong — the running-max is the load-bearing difference).
    *
    * Merge boundary: `start > prev_end` splits, so an interval starting
    * exactly at the previous end MERGES — the same closed boundary as
    * session_window (EventProfileSpec pins that convention).
    *
    * Scale: one shuffle on o_custkey feeds both windows and both
    * aggregations (same partitioning key end-to-end, Catalyst reuses
    * the exchange); per-key state is a sort within the partition —
    * no driver state, skew bounded by orders-per-customer.
    */
  private def e17IntervalUnion(s: SparkSession, d: String): DataFrame = {
    val iv = Tables.orders(s, d).select(col("o_custkey"),
      col("o_orderdate").as("st"),
      (col("o_orderdate") + expr("INTERVAL 30 DAY")).as("en"))
    val byStart = Window.partitionBy(col("o_custkey"))
      .orderBy(col("st"), col("en"))
    val prev = byStart.rowsBetween(Window.unboundedPreceding, -1)
    val cum = byStart.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    iv.withColumn("pe", max(col("en")).over(prev))
      .withColumn("nf",
        when(col("pe").isNull || col("st") > col("pe"), 1).otherwise(0))
      .withColumn("isl", sum(col("nf")).over(cum))
      .groupBy(col("o_custkey"), col("isl"))
      .agg(min(col("st")).as("ist"), max(col("en")).as("ien"))
      .groupBy(col("o_custkey"))
      .agg(count(lit(1)).as("n_islands"),
        sum(datediff(col("ien"), col("ist"))).cast("long").as("covered_days"))
      .orderBy(col("o_custkey"))
  }

  private val e17Sql =
    """WITH iv AS (
      |  SELECT o_custkey, o_orderdate AS st,
      |    o_orderdate + INTERVAL 30 DAY AS en FROM orders),
      |m AS (SELECT o_custkey, st, en,
      |  MAX(en) OVER (PARTITION BY o_custkey ORDER BY st, en
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pe FROM iv),
      |g AS (SELECT o_custkey, st, en,
      |  SUM(CASE WHEN pe IS NULL OR st > pe THEN 1 ELSE 0 END)
      |    OVER (PARTITION BY o_custkey ORDER BY st, en
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS isl FROM m),
      |isles AS (SELECT o_custkey, isl, MIN(st) AS ist, MAX(en) AS ien
      |  FROM g GROUP BY o_custkey, isl)
      |SELECT o_custkey, CAST(COUNT(*) AS BIGINT) AS n_islands,
      |  CAST(SUM(DATE_DIFF('day', ist, ien)) AS BIGINT) AS covered_days
      |FROM isles GROUP BY o_custkey ORDER BY o_custkey""".stripMargin

  // ---- E19: calendar gap-fill + linear interpolation ---------------------
  /** Time-series regularization: densify each user's daily-total series to
    * a gapless calendar over the user's own [first, last] active span and
    * linearly interpolate the missing days — the standard pre-step before
    * any per-key model fit or window feature that assumes an equidistant
    * grid (forecasting, drift monitors, cohort charts).
    *
    * Spine = explode(sequence(min_day, max_day)) PER USER, so no global
    * calendar table and no leading/trailing edge rows: every gap row has a
    * real observation on both sides by construction, and the interpolation
    * pv + (nv − pv)·(Δprev/Δspan) is total. Neighbors come from running
    * `last(ignoreNulls)`/`first(ignoreNulls)` frames over the user
    * partition — one shuffle on user_id shared by the rollup, the spine
    * and both window passes.
    *
    * Scale: state per user is its day span (bounded by the retention
    * window, not the corpus); the spine explode is map-side after the
    * per-user agg; nothing global. Engine parity: daily sums are
    * decimal-exact (Det.dsum), day distances are exact ints, and the
    * interpolation is the same double expression tree on both sides,
    * rounded to 6 (ulp discipline, CLAUDE.md).
    */
  def gapFillDaily(daily: DataFrame): DataFrame = {
    val spine = daily.groupBy(col("user_id"))
      .agg(min(col("day")).as("d0"), max(col("day")).as("d1"))
      .select(col("user_id"),
        explode(sequence(col("d0"), col("d1"), expr("interval 1 day")))
          .as("day"))
    val w  = Window.partitionBy(col("user_id")).orderBy(col("day"))
    val wp = w.rowsBetween(Window.unboundedPreceding, 0)
    val wn = w.rowsBetween(0, Window.unboundedFollowing)
    val obsDay = when(col("v").isNotNull, col("day"))
    spine.join(daily, Seq("user_id", "day"), "left")
      .withColumn("pv", last(col("v"), ignoreNulls = true).over(wp))
      .withColumn("pd", last(obsDay, ignoreNulls = true).over(wp))
      .withColumn("nv", first(col("v"), ignoreNulls = true).over(wn))
      .withColumn("nd", first(obsDay, ignoreNulls = true).over(wn))
      .select(col("user_id"), col("day"), col("v").isNull.as("filled"),
        round(when(col("v").isNotNull, col("v")).otherwise(
          col("pv") + (col("nv") - col("pv")) *
            (datediff(col("day"), col("pd")).cast("double") /
              datediff(col("nd"), col("pd")).cast("double"))), 6)
          .as("value"))
      .orderBy(col("user_id"), col("day"))
  }

  private def e19Gapfill(s: SparkSession, d: String): DataFrame =
    gapFillDaily(Tables.events(s, d)
      .groupBy(col("user_id"), date_trunc("day", col("ts")).as("day"))
      .agg(dsum(col("value")).as("v")))

  private val e19Sql =
    s"""WITH daily AS (
       |  SELECT user_id, DATE_TRUNC('day', ts) AS day,
       |    ${sqlDsum("value")} AS v
       |  FROM events GROUP BY 1, 2),
       |spine AS (
       |  SELECT user_id,
       |    UNNEST(generate_series(d0, d1, INTERVAL 1 DAY)) AS day
       |  FROM (SELECT user_id, MIN(day) AS d0, MAX(day) AS d1
       |        FROM daily GROUP BY user_id)),
       |j AS (
       |  SELECT s.user_id, s.day, daily.v,
       |    LAST_VALUE(daily.v IGNORE NULLS) OVER wp AS pv,
       |    LAST_VALUE(CASE WHEN daily.v IS NOT NULL THEN s.day END
       |      IGNORE NULLS) OVER wp AS pd,
       |    FIRST_VALUE(daily.v IGNORE NULLS) OVER wn AS nv,
       |    FIRST_VALUE(CASE WHEN daily.v IS NOT NULL THEN s.day END
       |      IGNORE NULLS) OVER wn AS nd
       |  FROM spine s LEFT JOIN daily
       |    ON s.user_id = daily.user_id AND s.day = daily.day
       |  WINDOW
       |    wp AS (PARTITION BY s.user_id ORDER BY s.day
       |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
       |    wn AS (PARTITION BY s.user_id ORDER BY s.day
       |           ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING))
       |SELECT user_id, day, (v IS NULL) AS filled,
       |  ROUND(CASE WHEN v IS NOT NULL THEN v ELSE
       |    pv + (nv - pv) * (CAST(DATE_DIFF('day', pd, day) AS DOUBLE)
       |      / CAST(DATE_DIFF('day', pd, nd) AS DOUBLE)) END, 6) AS value
       |FROM j ORDER BY user_id, day""".stripMargin

  // ---- E23: last-touch attribution ----------------------------------------
  /** Marketing/conversion attribution — every warehouse's bread-and-butter
    * event query: each purchase is credited to the SAME USER's most
    * recent preceding non-purchase touch within a 3-day window
    * (last-touch; first-touch flips the argmax direction). The per-user
    * time-range pairing is the af1/e9 as-of shape: the join keys on
    * user_id (one shuffle each side, purchase×touch fan-out bounded by
    * the 3-day window per user), the winning touch is a row_number over
    * (purchase) ordered by (t_ts, t_id) DESC — partitioned BY purchase
    * id, never a global window — and un-attributed purchases survive the
    * left join as an explicit bucket (a silently dropped NULL row would
    * overstate every channel's share). Shares divide by the broadcast
    * one-row purchase total (a partition-less `SUM() OVER ()` would be
    * the WindowAudit smell). At 100 TB: at-scale the touch side prunes
    * to the window by co-partitioning on (user, day-bucket) — the af2
    * range-join note; counts are exact integers, the share division is
    * one fixed double op rounded to 6.
    */
  private[graft] def lastTouchAttribution(ev: DataFrame): DataFrame = {
    val p = ev.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("ts").as("p_ts"),
        col("event_id").as("p_id"))
    val t = ev.filter(col("event_type") =!= "purchase")
      .select(col("user_id"), col("ts").as("t_ts"),
        col("event_id").as("t_id"), col("event_type").as("touch"))
    val joined = p.join(t,
      p("user_id") === t("user_id") &&
        col("t_ts") <= col("p_ts") &&
        col("t_ts") >= col("p_ts") - expr("INTERVAL 3 DAYS"), "left")
    val credited = Ranks.topK(joined, Seq(col("p_id")),
        Seq(col("t_ts").desc, col("t_id").desc), lit(1), "rn")
      .select(coalesce(col("touch"), lit("unattributed")).as("touch"))
    val total = p.agg(count(lit(1)).as("n_total"))
    credited.groupBy(col("touch")).agg(count(lit(1)).as("n_purchases"))
      .crossJoin(broadcast(total))
      .select(col("touch"), col("n_purchases"),
        round(col("n_purchases").cast("double") / col("n_total"), 6)
          .as("share"))
      .orderBy(col("n_purchases").desc, col("touch"))
  }

  private def e23Attribution(s: SparkSession, d: String): DataFrame =
    lastTouchAttribution(Tables.events(s, d))

  private val e23Sql =
    """WITH p AS (
      |  SELECT user_id, ts AS p_ts, event_id AS p_id FROM events
      |  WHERE event_type = 'purchase'),
      |t AS (
      |  SELECT user_id, ts AS t_ts, event_id AS t_id,
      |         event_type AS touch
      |  FROM events WHERE event_type <> 'purchase'),
      |j AS (
      |  SELECT p.p_id, t.touch, t.t_ts, t.t_id
      |  FROM p LEFT JOIN t ON p.user_id = t.user_id
      |    AND t.t_ts <= p.p_ts
      |    AND t.t_ts >= p.p_ts - INTERVAL 3 DAY),
      |best AS (
      |  SELECT p_id, COALESCE(touch, 'unattributed') AS touch,
      |    row_number() OVER (PARTITION BY p_id
      |                       ORDER BY t_ts DESC, t_id DESC) AS rn
      |  FROM j),
      |tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_total FROM p)
      |SELECT touch, CAST(COUNT(*) AS BIGINT) AS n_purchases,
      |  round(CAST(COUNT(*) AS DOUBLE) / n_total, 6) AS share
      |FROM best CROSS JOIN tot
      |WHERE rn = 1
      |GROUP BY touch, n_total
      |ORDER BY n_purchases DESC, touch""".stripMargin

  // ---- TS1: seasonal decomposition -----------------------------------------
  /** TS1: classic ADDITIVE time-series decomposition of the daily
    * revenue series (trend + day-of-week seasonal + residual — the
    * moving-average core of STL without loess), exact-integer
    * end-to-end so membership hash-gates cross-engine:
    *
    *  - daily = Σ cents per day;
    *  - trend×7 = the centered 7-day window SUM (full windows only —
    *    the first/last 3 days have no defined trend and are absent);
    *  - detrended×7 = 7·daily − trend×7 (everything stays ×7-scaled
    *    longs: no division, no doubles, no cross-engine summation-order
    *    drift anywhere);
    *  - seasonal×7 per day-of-week = the LOWER MEDIAN of that weekday's
    *    detrended values — an ACTUAL data value by construction (the
    *    a10 percentile_disc discipline), where a mean would reintroduce
    *    doubles;
    *  - residual×7 = detrended×7 − seasonal×7 (what od3-style anomaly
    *    flags should run on — a spike is judged against its weekday,
    *    not the raw series).
    *
    * The trend window is a PARTITION-LESS window over the |days|-sized
    * daily frame — benign by construction (the m5/m7 class: the series
    * an analyst decomposes is tens-to-thousands of rows at any corpus
    * size, because upstream aggregation collapsed the volume; at 100 TB
    * the daily rollup comes from mv1's landed MV and this stays a
    * driver-scale frame).
    */
  private def ts1SeasonalDecompose(s: SparkSession, d: String): DataFrame =
    seasonalDecompose(Tables.events(s, d)
      .groupBy(date_trunc("day", col("ts")).as("day"))
      .agg(sum(round(col("value") * 100).cast("long")).as("cents")))

  /** The decomposition over an arbitrary (day, cents) daily frame —
    * factored for planted-series specs.
    */
  private[graft] def seasonalDecompose(daily: DataFrame): DataFrame = {
    val wTrend = Window.orderBy(col("day")).rowsBetween(-3, 3)
    val dt = daily
      .withColumn("t7", sum(col("cents")).over(wTrend))
      .withColumn("wn", count(lit(1)).over(wTrend))
      .filter(col("wn") === 7)
      .withColumn("d7", lit(7L) * col("cents") - col("t7"))
      .withColumn("dow", (dayofweek(col("day")) - 1).cast("long"))
      .localCheckpoint(true)
    val wDow = Window.partitionBy(col("dow")).orderBy(col("d7"), col("day"))
    val seas = dt
      .withColumn("rn", row_number().over(wDow))
      .withColumn("cnt", count(lit(1)).over(Window.partitionBy(col("dow"))))
      .filter(col("rn") === expr("(cnt + 1) div 2"))
      .select(col("dow"), col("d7").as("s7"))
    dt.join(broadcast(seas), "dow")
      .select(col("day"), col("cents"), col("t7").as("trend7"),
        col("d7").as("detr7"), col("s7").as("seas7"),
        (col("d7") - col("s7")).as("resid7"))
      .orderBy(col("day"))
  }

  private val ts1Sql =
    """WITH daily AS (
      |  SELECT DATE_TRUNC('day', ts) AS day,
      |    CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS BIGINT) AS cents
      |  FROM events GROUP BY 1),
      |t AS (
      |  SELECT day, cents,
      |    CAST(SUM(cents) OVER w AS BIGINT) AS t7, COUNT(*) OVER w AS wn
      |  FROM daily
      |  WINDOW w AS (ORDER BY day ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)),
      |dt AS (
      |  SELECT day, cents, t7, 7 * cents - t7 AS d7, dayofweek(day) AS dow
      |  FROM t WHERE wn = 7),
      |med AS (
      |  SELECT dow, d7 AS s7 FROM (
      |    SELECT dow, d7,
      |      row_number() OVER (PARTITION BY dow ORDER BY d7, day) AS rn,
      |      COUNT(*) OVER (PARTITION BY dow) AS cnt
      |    FROM dt) WHERE rn = (cnt + 1) // 2)
      |SELECT dt.day AS day, dt.cents AS cents, dt.t7 AS trend7,
      |  dt.d7 AS detr7, m.s7 AS seas7, dt.d7 - m.s7 AS resid7
      |FROM dt JOIN med m ON dt.dow = m.dow
      |ORDER BY day""".stripMargin

  val qs: Seq[(String, Q)] = Seq(
    "ts1_seasonal_decompose" -> Q(ts1SeasonalDecompose, Some(ts1Sql)),
    "e17_interval_union" -> Q(e17IntervalUnion, Some(e17Sql)),
    "e23_attribution"    -> Q(e23Attribution, Some(e23Sql)),
    "e19_gapfill"        -> Q(e19Gapfill, Some(e19Sql)),
    "e1_tumbling_window" -> Q(e1Tumbling, Some(e1Sql)),
    "e10_sliding_window" -> Q(e10Sliding, Some(e10Sql)),
    "e5_pivot"           -> Q(e5Pivot, Some(e5Sql)),
    "e2_sessionization"  -> Q(e2Sessions, Some(e2Sql)),
    "e2b_session_window" -> Q(e2bSessionWindow, Some(e2bSql)),
    "e3_daily_rollup"    -> Q(e3DailyUser, Some(e3Sql)),
    "e13_retention_cohorts" -> Q(e13Cohorts, Some(e13Sql)),
    "e14_funnel"         -> Q(e14Funnel, Some(e14Sql)),
    "e15_unpivot"        -> Q(e15Unpivot, Some(e15Sql)),
  )
}
