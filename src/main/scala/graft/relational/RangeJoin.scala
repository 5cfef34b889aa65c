package graft.relational

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.{Q, Tables}

/** Interval-containment join via time binning — the second operator Spark
  * lacks natively (with as-of, `relational.AsOfJoin`), composed from
  * built-ins per the extension preference order.
  *
  * A raw `t BETWEEN start AND end` join condition leaves Spark nothing to
  * hash on: with no equality key it plans BroadcastNestedLoopJoin (or a
  * cartesian product) — probe×intervals comparisons, the classic
  * range-join scale killer. Binning restores an equi-join: every probe
  * row maps to ONE fixed-width time bin, every interval EXPLODES to each
  * bin it overlaps, the join runs hash-partitioned on (key, bin), and the
  * exact containment predicate filters inside the same stage. The
  * expansion factor is ceil(len/bin)+1 rows per interval — pick `binUs`
  * on the order of the typical interval length and it stays ~2. This is
  * the standard overlap-join technique (cf. interval binning in genomic
  * and temporal join literature); result-identical to the naive join
  * because a containing interval always shares the probe's bin.
  */
object RangeJoin {

  /** @param probe     rows with a point-in-time column `t`
    * @param intervals rows with [start, end] interval columns
    * @param key       equality key present on both sides (use a lit(1)
    *                  column on both sides for the keyless case)
    * @param binUs     bin width in microseconds
    * @return probe ⋈ intervals where start ≤ t ≤ end (inclusive)
    */
  def binnedRangeJoin(probe: DataFrame, intervals: DataFrame, key: String,
      t: String, start: String, end: String, binUs: Long): DataFrame = {
    require(binUs > 0, "binUs must be positive")
    val pb = probe.withColumn("_bin", floor(unix_micros(col(t)) / binUs))
    val iv = intervals
      .withColumn("_bin", explode(sequence(
        floor(unix_micros(col(start)) / binUs),
        floor(unix_micros(col(end)) / binUs))))
    pb.join(iv, Seq(key, "_bin"))
      .filter(col(t) >= col(start) && col(t) <= col(end))
      .drop("_bin")
  }

  /** AF2: map every event to the per-user session interval containing it
    * (sessions from the e2 gaps-and-islands derivation). Every event
    * lands in exactly one session, so the output has one row per event —
    * any bin bug (missed overlap, double count) breaks the oracle's hash.
    * Bin = 1 hour ≈ session scale.
    */
  private def af2RangeJoin(s: SparkSession, d: String): DataFrame = {
    val events = Tables.events(s, d)
      .select(col("event_id"), col("user_id"), col("ts"))
    val sess = graft.ext.EventOps.sessions(Tables.events(s, d))
      .select(col("user_id"), col("session_id"),
        col("session_start"), col("session_end"))
    binnedRangeJoin(events, sess, "user_id",
        "ts", "session_start", "session_end", binUs = 3600L * 1000000L)
      .select(col("event_id"), col("user_id"), col("session_id"))
      .orderBy(col("event_id"))
  }

  private val af2Sql =
    """WITH flagged AS (
      |  SELECT user_id, ts, event_id,
      |    CASE WHEN LAG(ts) OVER w IS NULL
      |           OR EPOCH_US(ts) - EPOCH_US(LAG(ts) OVER w) > 1800000000
      |         THEN 1 ELSE 0 END AS new_session
      |  FROM events
      |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
      |), sess AS (
      |  SELECT user_id, ts,
      |    CAST(SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_id
      |  FROM flagged
      |), ivals AS (
      |  SELECT user_id, session_id, MIN(ts) AS session_start,
      |         MAX(ts) AS session_end
      |  FROM sess GROUP BY 1, 2)
      |SELECT e.event_id, e.user_id, i.session_id
      |FROM events e JOIN ivals i
      |  ON e.user_id = i.user_id
      | AND e.ts BETWEEN i.session_start AND i.session_end
      |ORDER BY e.event_id""".stripMargin

  /** AF3: the same class of join written the way a user actually writes
    * it — raw ANSI `BETWEEN` in SQL text, NO manual binning — planned
    * through [[graft.plans.RangeBinRule]] (injected via
    * `spark.sql.extensions`): for each June-1997 order, market-wide
    * lineitem shipments during the order's first week. Without the rule
    * this non-equi inner join is a BroadcastNestedLoopJoin
    * (|orders|×|lineitem| comparisons); with `binWidth = 8` (the interval
    * length) every 8-day interval explodes to ≤2 bins and the join
    * hash-partitions on the bin — plan-asserted in RangeBinRuleSpec,
    * result-identical by construction. The bin-width conf is SCOPED to
    * this query's execution (set → eager localCheckpoint materializes the
    * binned plan → restore in finally, the SortedLanding conf-toggle
    * discipline): the width's unit is the join column's native unit, so a
    * width tuned for day-granularity bins must never leak into some later
    * µs-granularity timestamp join, where 8 µs bins would explode each
    * interval into millions of sequence rows.
    */
  private def af3RangeRule(s: SparkSession, d: String): DataFrame = {
    val key = graft.plans.RangeBinRule.WidthKey
    val prev = s.conf.getOption(key)
    s.conf.set(key, "8")
    try CoreOps.sql(s, d,
      """SELECT o.o_orderkey, CAST(COUNT(*) AS BIGINT) AS n_lines,
        |  SUM(l.qty) AS sum_qty
        |FROM (SELECT o_orderkey,
        |        CAST(DATEDIFF(o_orderdate, DATE '1970-01-01') AS BIGINT) AS od
        |      FROM orders
        |      WHERE o_orderdate >= DATE '1997-06-01'
        |        AND o_orderdate <  DATE '1997-07-01') o
        |JOIN (SELECT CAST(DATEDIFF(l_shipdate, DATE '1970-01-01') AS BIGINT)
        |        AS sd, l_quantity AS qty
        |      FROM lineitem) l
        |  ON l.sd BETWEEN o.od AND o.od + 7
        |GROUP BY o.o_orderkey
        |ORDER BY o.o_orderkey""".stripMargin)
      .localCheckpoint(true)
    finally prev match {
      case Some(v) => s.conf.set(key, v)
      case None    => s.conf.unset(key)
    }
  }

  private val af3Sql =
    """SELECT o.o_orderkey, CAST(COUNT(*) AS BIGINT) AS n_lines,
      |  SUM(l.qty) AS sum_qty
      |FROM (SELECT o_orderkey,
      |        CAST(CAST(o_orderdate AS DATE) - DATE '1970-01-01' AS BIGINT) AS od
      |      FROM orders
      |      WHERE o_orderdate >= DATE '1997-06-01'
      |        AND o_orderdate <  DATE '1997-07-01') o
      |JOIN (SELECT CAST(CAST(l_shipdate AS DATE) - DATE '1970-01-01' AS BIGINT) AS sd,
      |        l_quantity AS qty
      |      FROM lineitem) l
      |  ON l.sd BETWEEN o.od AND o.od + 7
      |GROUP BY o.o_orderkey
      |ORDER BY o.o_orderkey""".stripMargin

  val qs: Seq[(String, Q)] = Seq(
    "af2_range_join" -> Q(af2RangeJoin, Some(af2Sql)),
    "af3_range_join_rule" -> Q(af3RangeRule, Some(af3Sql)),
  )
}
