package graft.relational

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.{Q, Tables}
import graft.util.{Artifacts, CodegenCache, Ranks}

/** As-of join — "for each left row, the most recent right row at or
  * before its timestamp, per key". Spark has no native operator for this;
  * per the extension preference order we COMPOSE it from built-ins
  * (union + one window pass) rather than writing a SparkPlan: both sides
  * shuffle once on the key and sort once on (ts, side) — exactly the
  * physical shape a dedicated AsOfJoinExec would produce.
  *
  * The DuckDB oracle uses its *native* ASOF JOIN, so the driver's hash
  * gate proves the composition implements the same semantics (inclusive
  * match: a right row at exactly the left timestamp matches).
  */
object AsOfJoin {

  /** @param left      probe side
    * @param right     reference side (must contain keyCol + rightTime)
    * @param keyCol    equality key
    * @param leftTime  event-time column on `left`
    * @param rightTime event-time column on `right`
    * @return left rows + `asof_<rightTime>`: the greatest rightTime ≤
    *         leftTime for the key (null when none)
    */
  def asofJoin(left: DataFrame, right: DataFrame, keyCol: String,
      leftTime: String, rightTime: String): DataFrame = {
    val l = left.withColumn("_t", col(leftTime))
      .withColumn("_side", lit(1))
      .withColumn("_rt", lit(null).cast(right.schema(rightTime).dataType))
    val r = right.select(col(keyCol), col(rightTime))
      .withColumn("_t", col(rightTime))
      .withColumn("_side", lit(0))
      .withColumn("_rt", col(rightTime))
    val lCols = left.columns.toIndexedSeq
    val unioned = l.select((lCols.map(col) :+ col("_t") :+ col("_side") :+ col("_rt")): _*)
      .unionByName(
        r.select((lCols.map(c => if (c == keyCol) col(c) else lit(null).as(c))
          :+ col("_t") :+ col("_side") :+ col("_rt")): _*),
        allowMissingColumns = false)
    // right rows sort BEFORE left rows at equal _t (side 0 < 1): inclusive
    val w = Window.partitionBy(col(keyCol))
      .orderBy(col("_t"), col("_side"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    unioned
      .withColumn(s"asof_$rightTime", last(col("_rt"), ignoreNulls = true).over(w))
      .filter(col("_side") === 1)
      .drop("_t", "_side", "_rt")
  }

  /** AF1: for each click event, the most recent view event of the same
    * user at or before it; aggregated to per-user counts + matched share
    * and total gap (exact integer seconds — deterministic).
    */
  private def af1Asof(s: SparkSession, d: String): DataFrame = {
    val ev = Tables.events(s, d)
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("user_id"), col("event_id"), col("ts"))
    val views = ev.filter(col("event_type") === "view")
      .select(col("user_id"), col("ts").as("view_ts"))
    asofJoin(clicks, views, "user_id", "ts", "view_ts")
      .groupBy(col("user_id"))
      .agg(
        count(lit(1)).as("n_clicks"),
        count(col("asof_view_ts")).as("n_matched"),
        sum(expr("(unix_micros(ts) - unix_micros(asof_view_ts)) div 1000000"))
          .as("total_gap_s"))
      .orderBy(col("user_id"))
  }

  private val af1Sql =
    """SELECT c.user_id AS user_id, COUNT(*) AS n_clicks,
      |  COUNT(v.view_ts) AS n_matched,
      |  CAST(SUM((EPOCH_US(c.ts) - EPOCH_US(v.view_ts)) // 1000000) AS BIGINT) AS total_gap_s
      |FROM (SELECT user_id, event_id, ts FROM events WHERE event_type = 'click') c
      |ASOF LEFT JOIN (SELECT user_id, ts AS view_ts FROM events WHERE event_type = 'view') v
      |  ON c.user_id = v.user_id AND c.ts >= v.view_ts
      |GROUP BY c.user_id ORDER BY 1""".stripMargin

  // ---- AF4: point-in-time (feature-store) enrichment -----------------------
  /** The weekly profile dimension derived from events: per (user, week)
    * the exact cents sum of that week's values, VALID FROM the next
    * week's start (a feature computed over week w is servable from
    * w+1 — the leakage rule every feature store enforces). Slim
    * source-derived state, landed once per events version: af4, af5 and
    * e24 all read it, and every PIT enrichment reads it twice.
    */
  private[graft] def weeklyVersions(s: SparkSession, d: String): DataFrame =
    Artifacts.frame(s,
      Artifacts.key("af4_versions", Tables.path(d, "events")))(
      Tables.events(s, d)
        .groupBy(col("user_id"),
          date_trunc("week", col("ts")).as("_wk"))
        .agg(sum(round(col("value") * 100).cast("long")).as("ver_cents"))
        .select(col("user_id"),
          (col("_wk") + expr("INTERVAL 7 DAYS")).as("eff_from"),
          col("ver_cents")))

  /** Per-event PIT enrichment: each event gets the LATEST profile
    * version valid at its timestamp (asof on eff_from ≤ ts), then the
    * version payload joins back by (user, eff_from). Exposed row-level
    * for e24's micro-batch reuse.
    */
  private[graft] def pitEnrich(s: SparkSession, d: String,
      events: DataFrame): DataFrame = {
    val vers = weeklyVersions(s, d)
    asofJoin(events.select(col("user_id"), col("event_id"), col("ts")),
        vers, "user_id", "ts", "eff_from")
      .join(vers.select(col("user_id"),
          col("eff_from").as("asof_eff_from"), col("ver_cents")),
        Seq("user_id", "asof_eff_from"), "left")
      .select(col("user_id"), col("event_id"), col("ver_cents"))
  }

  private def pitAggregate(enriched: DataFrame): DataFrame =
    enriched.groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_events"),
        count(col("ver_cents")).as("n_enriched"),
        coalesce(sum(col("ver_cents")), lit(0L)).as("enriched_cents"))
      .orderBy(col("user_id"))

  /** AF4: point-in-time-correct enrichment — the FEATURE-STORE join: for
    * each event, the feature version that was KNOWABLE at event time
    * (greatest eff_from ≤ ts per user), never a later one — the
    * train-serve-skew / leakage guard ML pipelines run before every
    * training-set build. Composed as asofJoin (one shuffle per side, one
    * window pass) + a slim version-payload join; at 100 TB the version
    * table is users×weeks (broadcastable or bucketed on user) and events
    * shuffle once on user.
    */
  private def af4PitEnrich(s: SparkSession, d: String): DataFrame =
    pitAggregate(pitEnrich(s, d, Tables.events(s, d)))

  private val af4Sql =
    """WITH vers AS (
      |  SELECT user_id,
      |    date_trunc('week', ts) + INTERVAL 7 DAY AS eff_from,
      |    CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS BIGINT)
      |      AS ver_cents
      |  FROM events GROUP BY user_id, date_trunc('week', ts)),
      |enr AS (
      |  SELECT e.user_id, e.event_id, v.ver_cents
      |  FROM (SELECT user_id, event_id, ts FROM events) e
      |  ASOF LEFT JOIN vers v
      |    ON e.user_id = v.user_id AND e.ts >= v.eff_from)
      |SELECT user_id, COUNT(*) AS n_events,
      |  COUNT(ver_cents) AS n_enriched,
      |  CAST(COALESCE(SUM(ver_cents), 0) AS BIGINT) AS enriched_cents
      |FROM enr GROUP BY user_id ORDER BY user_id""".stripMargin

  // ---- AF5: training/serving skew audit -------------------------------------
  /** The skew fold, factored for planted-frame specs: per user, how many
    * events' PIT-correct feature (`ver_cents`, null when no version was
    * knowable at event time) differs from what a latest-value online
    * store would serve (`latest_cents`), plus the exact integer-cents
    * magnitude of that disagreement. Null PIT values compare as distinct
    * from any real version (an event before the first version IS skewed
    * the moment serving has one).
    */
  private[graft] def skewAudit(enriched: DataFrame,
      latest: DataFrame): DataFrame = {
    val sentinel = lit(Long.MinValue)
    enriched.join(latest, Seq("user_id"), "left")
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_events"),
        sum(when(coalesce(col("ver_cents"), sentinel) =!=
            coalesce(col("latest_cents"), sentinel), 1L)
          .otherwise(0L)).as("n_skewed"),
        sum(abs(coalesce(col("latest_cents"), lit(0L)) -
          coalesce(col("ver_cents"), lit(0L)))).as("skew_cents"))
      .orderBy(col("user_id"))
  }

  /** AF5: TRAINING/SERVING SKEW audit — the feature-platform health
    * check af4 motivates: training sets are built PIT-correct (each
    * event sees only the version knowable at its time), but a naive
    * online store serves the LATEST version; every event where the two
    * disagree is silent train/serve skew. The audit quantifies it
    * exactly: per user, events scored, events skewed, and the
    * integer-cents disagreement mass. Composition is af4's PIT
    * enrichment + a per-user argmax over the same landed version table
    * (Window above the landed aggregate — the safe topology) + one slim
    * broadcastable join; at 100 TB it adds nothing beyond af4's cost
    * profile, and the latest-version frame is users-sized.
    */
  private def af5FeatureSkew(s: SparkSession, d: String): DataFrame = {
    val vers = weeklyVersions(s, d)
    val latest = Ranks.topK(vers, Seq(col("user_id")),
        Seq(col("eff_from").desc), lit(1), "_rn")
      .select(col("user_id"), col("ver_cents").as("latest_cents"))
    skewAudit(pitEnrich(s, d, Tables.events(s, d)), latest)
  }

  private val af5Sql =
    """WITH vers AS (
      |  SELECT user_id,
      |    date_trunc('week', ts) + INTERVAL 7 DAY AS eff_from,
      |    CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS BIGINT)
      |      AS ver_cents
      |  FROM events GROUP BY user_id, date_trunc('week', ts)),
      |latest AS (
      |  SELECT user_id, ver_cents AS latest_cents FROM (
      |    SELECT user_id, ver_cents,
      |      row_number() OVER (PARTITION BY user_id
      |        ORDER BY eff_from DESC) AS rn
      |    FROM vers) WHERE rn = 1),
      |enr AS (
      |  SELECT e.user_id, e.event_id, v.ver_cents
      |  FROM (SELECT user_id, event_id, ts FROM events) e
      |  ASOF LEFT JOIN vers v
      |    ON e.user_id = v.user_id AND e.ts >= v.eff_from)
      |SELECT e.user_id AS user_id, CAST(COUNT(*) AS BIGINT) AS n_events,
      |  CAST(SUM(CASE WHEN COALESCE(e.ver_cents, -9223372036854775808)
      |      <> COALESCE(l.latest_cents, -9223372036854775808)
      |    THEN 1 ELSE 0 END) AS BIGINT) AS n_skewed,
      |  CAST(SUM(ABS(COALESCE(l.latest_cents, 0)
      |    - COALESCE(e.ver_cents, 0))) AS BIGINT) AS skew_cents
      |FROM enr e LEFT JOIN latest l ON e.user_id = l.user_id
      |GROUP BY e.user_id ORDER BY user_id""".stripMargin

  // ---- E24: the PIT enrichment as a standing stream -------------------------
  /** AF4 inside `foreachBatch` — the online-serving form of the feature
    * store: events ARRIVE (staged 3 files, maxFilesPerTrigger=1 +
    * AvailableNow → 3 micro-batches) and each batch asof-joins the SAME
    * landed version table. Per-EVENT results are independent of batch
    * slicing (static versions, one probe per event), so the union of
    * per-batch row-level outputs aggregates to AF4's exact result — e24
    * registers with af4's oracle VERBATIM (the e21 identical-result
    * discipline) and the spec asserts streamed == batch. Batch commits
    * under batchId subpaths with mode(overwrite): replay-idempotent by
    * per-batch disjointness.
    */
  private[graft] def e24ResultDir(s: SparkSession, d: String): String =
    Artifacts.dir(Artifacts.key("pitstrm", Tables.path(d, "events")),
      "graft_pitstrm") { dir =>
      val stage = Artifacts.scratchDir("graft_pitstrm_stage")
      val ckpt = Artifacts.scratchDir("graft_pitstrm_ckpt")
      Tables.events(s, d)
        .select(col("user_id"), col("event_id"), col("ts"))
        .repartition(3)
        .write.mode("overwrite").parquet(stage.toString)
      val schema = Artifacts.parquetSchema(s, stage.toString)
      val q = CodegenCache.startStream(s)(s.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(stage.toString)
        .writeStream
        .option("checkpointLocation", ckpt.toString)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .foreachBatch { (batch: DataFrame, batchId: Long) =>
          pitEnrich(s, d, batch)
            .write.mode("overwrite").parquet(s"$dir/batch=$batchId")
        }
        .start())
      q.awaitTermination()
      Artifacts.delete(stage)
      Artifacts.delete(ckpt)
    }

  private def e24StreamPit(s: SparkSession, d: String): DataFrame =
    pitAggregate(Artifacts.parquet(s, e24ResultDir(s, d))
      .select(col("user_id"), col("event_id"), col("ver_cents")))

  val qs: Seq[(String, Q)] = Seq(
    "af1_asof_join" -> Q(af1Asof, Some(af1Sql)),
    "af4_pit_enrich" -> Q(af4PitEnrich, Some(af4Sql)),
    "af5_feature_skew" -> Q(af5FeatureSkew, Some(af5Sql)),
    "e24_stream_pit" -> Q(e24StreamPit, Some(af4Sql)),
  )
}
