package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType
import graft.{Q, Tables}
import graft.util.{Artifacts, CodegenCache}

/** Incremental materialized-view maintenance (mv1): the 100 TB refresh
  * pattern — a daily rollup is NOT recomputed from the full fact table;
  * the historical partition is landed once as a tiny aggregate table and
  * each refresh scans only the delta partition, unioning the two.
  *
  * This works for any distributive/algebraic aggregate (count, sum, min,
  * max — avg as sum+count): the landed base keeps the EXACT decimal sum
  * (never a double — re-aggregating doubles would reintroduce
  * partition-order dependence), so base ⊎ delta re-aggregates exactly
  * and the refresh is bit-identical to the full recompute. That identity
  * IS the oracle: DuckDB runs the full rollup over the raw fact table.
  *
  * Scale accounting: full recompute scans 10^11 rows per refresh;
  * incremental scans |delta| (pushed date filter — plan-guarded) plus a
  * rollup table of |days × groups| rows. The landing is memoized per
  * (source dir, mtime) exactly like j6/d8b/s11 — a rewritten source
  * re-lands instead of serving stale state.
  *
  * Reference ML18/e3-style rollups are the consumer; SURVEY §2's
  * sink-contract rows cover the write side.
  */
object IncrementalRollup {

  /** Split: days before this are the landed base; on/after are the delta
    * scanned per refresh.
    */
  private val SplitDate = "2001-01-01 00:00:00"

  /** Per-day rollup with the sum kept in exact decimal (re-aggregatable). */
  private def dayRollup(li: DataFrame): DataFrame =
    li.groupBy(substring(col("l_shipdate").cast("string"), 1, 10).as("day"))
      .agg(count(lit(1)).as("n"),
        sum(col("l_extendedprice").cast(DecimalType(14, 2))).as("_rev_dec"))

  private def mv1Incremental(s: SparkSession, d: String): DataFrame = {
    val basePath = Artifacts.dir(
        Artifacts.key("mv1base", Tables.path(d, "lineitem")),
        "graft_mv_landing") { out =>
      dayRollup(Tables.lineitem(s, d)
          .filter(col("l_shipdate") < lit(SplitDate).cast("timestamp")))
        .write.mode("overwrite").parquet(out)
    }
    val delta = dayRollup(Tables.lineitem(s, d)
      .filter(col("l_shipdate") >= lit(SplitDate).cast("timestamp")))
    // The refresh must not rescan history: the delta's date bound has to
    // reach the fact scan, and the base read is the landed rollup, not
    // the fact table.
    val deltaPlan = delta.queryExecution.executedPlan.toString
    require(deltaPlan.contains("PushedFilters") &&
      deltaPlan.contains("GreaterThanOrEqual(l_shipdate"),
      "delta date bound was not pushed to the fact scan:\n" +
        deltaPlan.take(2000))
    Artifacts.parquet(s, basePath).unionByName(delta)
      // days are disjoint across base/delta, but re-aggregate anyway —
      // the decimal sums make it exact, and it keeps the op correct if
      // the split ever lands mid-day
      .groupBy(col("day"))
      .agg(sum(col("n")).as("n"), sum(col("_rev_dec")).as("_r"))
      .select(col("day"), col("n"), col("_r").cast("double").as("revenue"))
      .orderBy(col("day"))
  }

  private val mv1Sql =
    """SELECT substr(CAST(l_shipdate AS VARCHAR), 1, 10) AS day,
      |  CAST(COUNT(*) AS BIGINT) AS n,
      |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(14,2))) AS DOUBLE) AS revenue
      |FROM lineitem
      |GROUP BY 1 ORDER BY day""".stripMargin

  /** MV2: MERGEABLE-SKETCH rollup — the approximate twin of mv1 for the
    * one aggregate mv1's machinery cannot maintain: COUNT(DISTINCT).
    * Exact per-day distinct counts do not merge across days (distinct is
    * not distributive), so an exact range query must rescan raw events —
    * but an HLL sketch is an algebraic aggregate whose union is exact
    * SET union over disjoint or overlapping inputs. Per-day sketches of
    * the distinct-user set land once per source version (Artifacts.frame);
    * any date-range distinct-user question is then answered by merging
    * the ≤|days| landed sketch rows (`hll_union_agg`) instead of
    * rescanning raw events. At 100 TB the raw scan happens once per
    * arriving partition at sketch-build time (mv1's incremental
    * accounting, ~4 KB per day row); every range query after that reads
    * kilobytes. Bounded-gate oracle (the a7/a10 discipline): each weekly
    * row carries the EXACT distinct count — engine-neutral — plus a flag
    * that the merged-sketch estimate sits within ±5% (default lgK=12 HLL
    * ≈ 1.6% σ, so 5% ≈ 3σ); DuckDB recomputes the exact payload and
    * expects TRUE flags.
    */
  private def mv2Sketch(s: SparkSession, d: String): DataFrame = {
    val daily = Artifacts.frame(s,
        Artifacts.key("mv2daily", Tables.path(d, "events")))(
      Tables.events(s, d)
        .groupBy(to_date(col("ts")).as("day"))
        .agg(hll_sketch_agg(col("user_id")).as("sk")))
    val weekOf = (c: org.apache.spark.sql.Column) =>
      date_format(date_trunc("week", c), "yyyy-MM-dd")
    val est = daily
      .groupBy(weekOf(col("day")).as("week"))
      .agg(hll_sketch_estimate(hll_union_agg(col("sk"))).as("_est"))
    val exact = Tables.events(s, d)
      .groupBy(weekOf(col("ts")).as("week"))
      .agg(countDistinct(col("user_id")).as("exact_users"))
    exact.join(est, Seq("week"))
      .select(col("week"), col("exact_users"),
        (abs(col("_est").cast("double") / col("exact_users") - 1.0)
          <= 0.05).as("est_ok"))
      .orderBy(col("week"))
  }

  private val mv2Sql =
    """SELECT strftime(date_trunc('week', ts), '%Y-%m-%d') AS week,
      |  CAST(COUNT(DISTINCT user_id) AS BIGINT) AS exact_users,
      |  TRUE AS est_ok
      |FROM events GROUP BY 1 ORDER BY 1""".stripMargin

  // ---- E22: STREAMING sketch maintenance ----------------------------------
  /** mv2's sketch table as a maintained streaming artifact — the fourth
    * leg of the "every landed artifact has a streaming maintenance path"
    * family (MV e16, vector index e20, dedup index e21, sketch table
    * e22). Days before the split land once as the batch-built base;
    * later days arrive as a file stream (3 staged files → 3 micro-
    * batches) and each batch's PER-DAY PARTIAL sketches commit into the
    * `partitionBy(day)` layout through the idempotentAppend replay
    * protocol. Partials are sound by the HLL register-max property:
    * union-of-partials holds exactly the register maxima of the full
    * day's stream, so the served estimate is IDENTICAL to the
    * single-pass sketch (spec-asserted: e22's weekly frame equals mv2's
    * row-for-row) — no per-day consolidation is ever required, though a
    * compaction could fold a day's partials into one row (x15's
    * accounting). At 100 TB this is the standing shape: per-batch cost
    * is one map-side sketch pass over the batch + a ~KB file commit;
    * range queries keep reading |days|×partials ≈ KBs.
    */
  private[graft] def e22SketchDir(s: SparkSession, d: String): String =
    Artifacts.dir(Artifacts.key("skstrm", Tables.path(d, "events")),
        "graft_skstrm") { dir =>
      val ev = Tables.events(s, d)
      val split = lit("2024-01-21").cast("date")
      def daily(df: DataFrame): DataFrame =
        df.groupBy(to_date(col("ts")).as("day"))
          .agg(hll_sketch_agg(col("user_id")).as("sk"))
      daily(ev.filter(to_date(col("ts")) < split))
        .repartition(col("day"))
        .write.mode("overwrite").partitionBy("day").parquet(dir)
      Artifacts.withScratchDir("graft_skstrm_stage") { stage =>
        Artifacts.withScratchDir("graft_skstrm_ckpt") { ckpt =>
          ev.filter(to_date(col("ts")) >= split).repartition(3)
            .write.mode("overwrite").parquet(stage.toString)
          val schema = Artifacts.parquetSchema(s, stage.toString)
          val q = CodegenCache.startStream(s)(s.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(stage.toString)
            .writeStream
            .option("checkpointLocation", ckpt.toString)
            .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
            .foreachBatch { (batch: DataFrame, batchId: Long) =>
              graft.util.Landing.idempotentAppend(
                daily(Tables.normalizeTs(batch)), dir, batchId, "day")
            }
            .start())
          q.awaitTermination()
        }
      }
    }

  /** E22 query: the same weekly frame as mv2, served from the streamed
    * sketch layout — identical output (register-max soundness), so mv2's
    * oracle SQL gates it verbatim (the t18/e21 reuse discipline).
    */
  private def e22StreamSketch(s: SparkSession, d: String): DataFrame = {
    val daily = Artifacts.parquet(s, e22SketchDir(s, d))
    val weekOf = (c: org.apache.spark.sql.Column) =>
      date_format(date_trunc("week", c), "yyyy-MM-dd")
    val est = daily
      .groupBy(weekOf(col("day").cast("timestamp")).as("week"))
      .agg(hll_sketch_estimate(hll_union_agg(col("sk"))).as("_est"))
    val exact = Tables.events(s, d)
      .groupBy(weekOf(col("ts")).as("week"))
      .agg(countDistinct(col("user_id")).as("exact_users"))
    exact.join(est, Seq("week"))
      .select(col("week"), col("exact_users"),
        (abs(col("_est").cast("double") / col("exact_users") - 1.0)
          <= 0.05).as("est_ok"))
      .orderBy(col("week"))
  }

  val qs: Seq[(String, Q)] = Seq(
    "mv1_incremental_rollup" -> Q(mv1Incremental, Some(mv1Sql)),
    "mv2_sketch_rollup"      -> Q(mv2Sketch, Some(mv2Sql)),
    // identical-result oracle reuse: union-of-partial-sketches serves the
    // same weekly frame as the single-pass batch sketch (spec-asserted)
    "e22_stream_sketch"      -> Q(e22StreamSketch, Some(mv2Sql)),
  )
}
