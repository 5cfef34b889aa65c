package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.sql.streaming.Trigger
import graft.util.{Artifacts, CodegenCache, Ranks}

/** Structured Streaming surface over the events table.
  *
  * The batch equivalents live in graft.ext.EventOps (oracle-checked);
  * this module proves the same aggregations run incrementally:
  * readStream → watermark → windowed agg → sink. Locally a parquet
  * directory drives the stream synchronously (processAllAvailable);
  * on a cluster the same code tails a live directory/Kafka source.
  */
object EventStream {

  /** The on-disk schema, probed from the parquet footer of the files
    * actually under `path` (one cheap batch footer read per call site):
    * the driver has shipped `ts` as TIMESTAMP(NANOS) (read as long) and
    * as TIMESTAMP(MICROS)/NTZ across rounds — same duality as
    * graft.Tables.events, whose normalizeTs converts either to
    * TimestampType after the streaming read.
    */
  private[graft] def rawSchema(spark: SparkSession, path: String): StructType =
    Artifacts.value(Artifacts.key("evschema", path, spark))(
      rawSchemaUncached(spark, path))

  // One footer read per (session, staged dir version): the stream
  // builders call this per query build.
  private def rawSchemaUncached(spark: SparkSession, path: String): StructType = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val tsType = Artifacts.parquetSchema(spark, path)("ts").dataType
    StructType(Seq(
      StructField("event_id", LongType),
      StructField("ts", tsType),
      StructField("user_id", LongType),
      StructField("event_type", StringType),
      StructField("value", DoubleType),
      StructField("props", StringType)))
  }

  // One staged directory per events VERSION: repeated readStream calls in
  // one session must not stage a dir per call, and a source rewritten
  // mid-JVM (ScaleSweep's synthetic dir rebuild) must re-stage instead of
  // replaying stale chunks.
  private def stageDir(dir: String): java.nio.file.Path =
    java.nio.file.Paths.get(Artifacts.dir(
        Artifacts.key("evstage", graft.Tables.path(dir, "events")),
        "graft_events_stream") { out =>
      java.nio.file.Files.copy(
        java.nio.file.Paths.get(s"$dir/events.parquet"),
        java.nio.file.Paths.get(out, "events.parquet"))
    })

  def readStream(spark: SparkSession, dir: String): DataFrame = {
    // FileStreamSource tails a *directory*; the testdata ships a single
    // file, so stage it into a temp dir (at scale this is the landing
    // directory new files arrive in).
    val staged = stageDir(dir).toString
    graft.Tables.normalizeTs(
      spark.readStream.schema(rawSchema(spark, staged)).parquet(staged))
  }

  // At-least-once landing dir: the same events file staged under TWO
  // names — every event delivered twice, as a redeliver-on-retry source
  // does. Staged once per events version like stageDir.
  private def dupStageDir(dir: String): java.nio.file.Path =
    java.nio.file.Paths.get(Artifacts.dir(
        Artifacts.key("evdup", graft.Tables.path(dir, "events")),
        "graft_events_dup") { out =>
      val src = java.nio.file.Paths.get(s"$dir/events.parquet")
      java.nio.file.Files.copy(src, java.nio.file.Paths.get(out, "events.parquet"))
      java.nio.file.Files.copy(src,
        java.nio.file.Paths.get(out, "events_redelivery.parquet"))
    })

  def readStreamDuplicated(spark: SparkSession, dir: String): DataFrame = {
    val staged = dupStageDir(dir).toString
    graft.Tables.normalizeTs(
      spark.readStream.schema(rawSchema(spark, staged)).parquet(staged))
  }

  /** Exactly-once materialization from an at-least-once stream:
    * watermark-scoped dedup on the delivery key. State holds one entry
    * per event_id seen within the 1-hour watermark horizon and is
    * expired past it — bounded regardless of stream length, the only
    * dedup contract that survives an unbounded 100 TB/day feed (a plain
    * streaming dropDuplicates would grow state forever). Redeliveries
    * arrive either inside the horizon (dropped by the dedup state) or
    * beyond it (dropped as late by the watermark) — exactly once either
    * way.
    */
  def dedupStream(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "1 hour")
      .dropDuplicatesWithinWatermark("event_id")

  /** Run a streaming frame to completion into a memory sink. Two shared
    * disciplines live here: (1) callers reuse FIXED query names and the
    * previous run's memory table is dropped first — a long-lived session
    * must not accumulate one driver-side result copy per invocation;
    * (2) spark.sql.shuffle.partitions is scoped down for the run —
    * stateful operators open/commit one state store (several, for
    * stream-stream joins) per shuffle partition, and that bookkeeping,
    * not data, dominates finite test-scale streams (e9: 8.1 s at 32
    * partitions → 3.0 s at 8 in r8; r19 re-measured the whole family at
    * 4 and every member is ≥10% faster again with identical results —
    * e9 steady 3.2 s → 1.7 s together with noDataBatches=false, e4
    * 1.08 → 0.87). The partition count is fixed at query start, so the
    * scoped value binds even though `build` is evaluated lazily. On a
    * real unbounded feed this knob is sized to state volume
    * (watermark·rate), not fixed overhead.
    */
  private def runScoped(spark: SparkSession, queryName: String,
      mode: String, noDataBatches: Boolean = true)(
      build: => DataFrame): DataFrame = {
    spark.catalog.dropTempView(queryName)
    val prev = spark.conf.get("spark.sql.shuffle.partitions")
    val prevNd =
      spark.conf.get("spark.sql.streaming.noDataMicroBatches.enabled")
    spark.conf.set("spark.sql.shuffle.partitions", "4")
    // Callers whose rows all emit ON ARRIVAL (inner stream-stream join,
    // dropDuplicates append) pass noDataBatches=false: the trailing
    // zero-row micro-batch only advances the watermark and evicts state
    // (e9: ~1s of pure bookkeeping over 4 state stores per partition) —
    // it changes no output row. Operators whose EMISSION rides the final
    // watermark advance (session timeouts e6, windowed append e25) must
    // keep it on.
    spark.conf.set("spark.sql.streaming.noDataMicroBatches.enabled",
      noDataBatches.toString)
    try {
      val q = CodegenCache.startStream(spark)(build.writeStream.outputMode(mode)
        .format("memory").queryName(queryName)
        .trigger(Trigger.AvailableNow())
        .start())
      q.awaitTermination()
    } finally {
      spark.conf.set("spark.sql.shuffle.partitions", prev)
      spark.conf.set("spark.sql.streaming.noDataMicroBatches.enabled", prevNd)
    }
    spark.table(queryName)
  }

  /** Run the dedup stream over the duplicate-delivery landing dir; the
    * result must equal the events table exactly — each event once.
    */
  def runDedupToCompletion(spark: SparkSession, dir: String,
      queryName: String = "stream_dedup"): DataFrame =
    runScoped(spark, queryName, "append", noDataBatches = false)(
      dedupStream(readStreamDuplicated(spark, dir)))

  /** Exactly-once PRODUCTION landing: the dedup stream writes parquet
    * through a checkpointed file sink. This is the restartable form of
    * [[runDedupToCompletion]]'s claim — stop the query (crash, deploy,
    * drain) and start it again with the SAME checkpoint + output dir and
    * it resumes from the last committed batch: the watermark-scoped
    * dedup state is restored from the state store, the file-sink
    * transaction log masks any uncommitted files, and the merged output
    * stays exactly-once even when redeliveries arrive only AFTER the
    * restart (StreamRestartSpec exercises exactly that). State
    * partitions are scoped to 8 at FIRST start and thereafter fixed by
    * the checkpoint — restarts inherit it regardless of session conf,
    * so the scope here only shapes fresh checkpoints.
    *
    * `maxFilesPerTrigger` bounds each micro-batch so restart points
    * exist mid-backlog; at scale it is the backpressure knob that keeps
    * one batch's state delta inside executor memory.
    */
  def dedupToFileSink(spark: SparkSession, srcDir: String, outDir: String,
      checkpointDir: String, maxFilesPerTrigger: Int = 1)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    val prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "8")
    try {
      val src = graft.Tables.normalizeTs(
        spark.readStream.schema(rawSchema(spark, srcDir))
          .option("maxFilesPerTrigger", maxFilesPerTrigger)
          .parquet(srcDir))
      CodegenCache.startStream(spark)(dedupStream(src).writeStream
        .format("parquet").option("path", outDir)
        .option("checkpointLocation", checkpointDir)
        .outputMode("append")
        .trigger(Trigger.AvailableNow())
        .start())
    } finally spark.conf.set("spark.sql.shuffle.partitions", prev)
  }

  /** Tumbling 1-hour window with a 1-hour watermark: count + sum(value)
    * per (window, event_type). State is bounded by the watermark — late
    * events beyond 1h are dropped, which is the 100 TB-safe contract.
    */
  def tumblingAgg(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "1 hour")
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"),
        graft.util.Det.dsum(col("value")).as("sum_value"))
      .select(col("window.start").as("hour"), col("event_type"),
        col("n"), col("sum_value"))

  /** Run the streaming query to completion over the static directory and
    * return the materialized result (memory sink). `complete` output mode
    * because the sink is a full snapshot of windowed aggregates.
    */
  def runToCompletion(spark: SparkSession, dir: String,
      queryName: String = "stream_tumbling"): DataFrame =
    runScoped(spark, queryName, "complete")(
      tumblingAgg(readStream(spark, dir)))

  /** Sliding (hopping) 10-min/5-min window under streaming — e10's batch
    * expression verbatim with a watermark: each event joins width/slide
    * = 2 windows, state is (open windows × groups) bounded by the
    * watermark horizon exactly like the tumbling case, just 2× the
    * window keys. Batch/stream equivalence shares e10's oracle.
    */
  def slidingAgg(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "1 hour")
      .groupBy(window(col("ts"), "10 minutes", "5 minutes"),
        col("event_type"))
      .agg(count(lit(1)).as("n"),
        graft.util.Det.dsum(col("value")).as("sum_value"))
      .select(col("window.start").as("ws"), col("window.end").as("we"),
        col("event_type"), col("n"), col("sum_value"))

  def runSlidingToCompletion(spark: SparkSession, dir: String,
      queryName: String = "stream_sliding"): DataFrame =
    runScoped(spark, queryName, "complete")(
      slidingAgg(readStream(spark, dir)))

  /** Run the stateful sessionizer to completion over the static directory
    * (append-mode memory sink). Emits CLOSED sessions only: over a finite
    * stream that is every session except each user's last (nothing ever
    * arrives to close it) — the oracle-able contract.
    */
  def runSessionsToCompletion(spark: SparkSession, dir: String,
      queryName: String = "stream_sessions"): DataFrame =
    runScoped(spark, queryName, "append")(
      sessionizeStream(readStream(spark, dir)).toDF())

  /** Stream-static enrichment: the event stream joined to a broadcast
    * dimension snapshot (user → market segment), then aggregated. The
    * static side is planned as a broadcast hash join against every
    * micro-batch — no stream-side shuffle for the join; only the tiny
    * per-segment aggregate state persists. This is the standard
    * "enrich the firehose with reference data" shape; at 100 TB/day the
    * dimension rides the broadcast as long as it fits (else: shuffle
    * join with the stream side already partitioned by the key).
    */
  def enrichedSegmentAgg(events: DataFrame, customer: DataFrame): DataFrame =
    events
      .join(broadcast(customer.select(col("c_custkey"), col("c_mktsegment"))),
        col("user_id") === col("c_custkey"))
      .groupBy(col("c_mktsegment"))
      .agg(count(lit(1)).as("n"),
        graft.util.Det.dsum(col("value")).as("sum_value"))

  def runEnrichedToCompletion(spark: SparkSession, dir: String,
      queryName: String = "stream_enriched"): DataFrame = {
    val customer = Artifacts.parquet(spark, s"$dir/customer.parquet")
    runScoped(spark, queryName, "complete")(
      enrichedSegmentAgg(readStream(spark, dir), customer))
  }

  /** Stream-stream interval join: click events joined to purchase events
    * of the same user landing within 30 minutes after the click — the
    * attribution shape ("which purchases follow which clicks"). Both
    * sides carry a 1-hour watermark and the join condition bounds the
    * event-time range, so each side's buffered state is capped at
    * watermark + interval regardless of stream length — the only
    * stream-stream join contract that survives an unbounded feed (an
    * unconstrained join would buffer both streams forever). Inner join:
    * matches emit as soon as both rows have arrived; the watermark only
    * governs state eviction.
    */
  def intervalJoin(events: DataFrame): DataFrame = {
    val clicks = events.filter(col("event_type") === "click")
      .select(col("event_id").as("click_id"),
        col("user_id").as("click_user"), col("ts").as("click_ts"))
      .withWatermark("click_ts", "1 hour")
    val purchases = events.filter(col("event_type") === "purchase")
      .select(col("event_id").as("purchase_id"),
        col("user_id").as("purchase_user"), col("ts").as("purchase_ts"))
      .withWatermark("purchase_ts", "1 hour")
    clicks.join(purchases,
      col("click_user") === col("purchase_user") &&
        col("purchase_ts") >= col("click_ts") &&
        col("purchase_ts") <= col("click_ts") + expr("INTERVAL 30 MINUTES"))
      .select(col("click_user").as("user_id"),
        col("click_id"), col("purchase_id"),
        (unix_micros(col("purchase_ts")) - unix_micros(col("click_ts")))
          .as("delta_us"))
  }

  def runIntervalJoinToCompletion(spark: SparkSession, dir: String,
      queryName: String = "stream_interval_join"): DataFrame =
    runScoped(spark, queryName, "append", noDataBatches = false)(
      intervalJoin(readStream(spark, dir)))

  // ---- e16: streaming materialized-view upsert (foreachBatch) -----------

  // The events file split into 4 disjoint chunks so AvailableNow +
  // maxFilesPerTrigger=1 drives FOUR micro-batches whose rollup keys
  // overlap — each batch genuinely re-upserts keys earlier batches
  // already wrote, which is the claim under test. Staged once per events
  // version like stageDir.
  private def splitStageDir(spark: SparkSession, dir: String)
      : java.nio.file.Path =
    java.nio.file.Paths.get(Artifacts.dir(
        Artifacts.key("evsplit", graft.Tables.path(dir, "events")),
        "graft_events_split") { out =>
      import java.nio.file.Files
      val staged = java.nio.file.Paths.get(out)
      spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
      val raw = Artifacts.parquet(spark, s"$dir/events.parquet")
      for (k <- 0 until 4) Artifacts.withScratchDir("graft_events_chunk") {
        tmpOut =>
          raw.filter(pmod(col("event_id"), lit(4)) === k)
            .coalesce(1).write.mode("overwrite").parquet(tmpOut.toString)
          import scala.jdk.CollectionConverters._
          val part = Files.list(tmpOut).iterator().asScala
            .find(_.getFileName.toString.endsWith(".parquet")).get
          Files.move(part, staged.resolve(f"chunk_$k%02d.parquet"))
      }
    })

  /** The rollup the MV maintains: per (day, event_type) count + exact
    * decimal sum. No watermark: an MV's keys must stay updatable
    * forever (a late event must still correct its day). State is
    * |days × types| — the MV's own size, tiny by construction; at
    * 100 TB the same holds because rollup state scales with the GROUP
    * cardinality, never the event volume.
    */
  def upsertRollup(events: DataFrame): DataFrame =
    events
      .groupBy(date_trunc("day", col("ts")).as("day"), col("event_type"))
      .agg(count(lit(1)).as("n"),
        graft.util.Det.dsum(col("value")).as("sum_value"))

  /** Run the MV-maintenance stream to completion, returning the raw
    * upsert LOG: one row per (key, micro-batch that changed it), with
    * the batch id. Update output mode emits only keys the batch
    * touched, each carrying its complete new aggregate — exactly what
    * a MERGE INTO target consumes. foreachBatch appends the delta to a
    * parquet log (the portable stand-in for a transactional MERGE sink;
    * the checkpoint + append are the production restart story, same as
    * dedupToFileSink).
    */
  def runUpsertLogToCompletion(spark: SparkSession, dir: String,
      compactEvery: Int = 0): DataFrame = {
    val target = Artifacts.scratchDir("graft_mv_upsert").toString
    val ckp = Artifacts.scratchDir("graft_mv_upsert_ckp").toString
    val prev = spark.conf.get("spark.sql.shuffle.partitions")
    // 4 state partitions (state scales with the ~150-key GROUP
    // cardinality, never event volume; the e9 stream-stream lesson says
    // don't run 32). Measured r8: 8 → 4 → 1 partitions all land within
    // noise of 2.5s — the cost is AvailableNow micro-batch machinery
    // (offset/commit logs, per-batch planning, the 2 compaction rewrites)
    // and the spec-pinned 4-batch × compactEvery=2 coupling, a FIXED
    // bookkeeping cost, not a data-volume term. State partition count is
    // fixed at query start; scoped here, restored in finally.
    spark.conf.set("spark.sql.shuffle.partitions", "4")
    try {
      val staged = splitStageDir(spark, dir).toString
      val src = graft.Tables.normalizeTs(
        spark.readStream.schema(rawSchema(spark, staged))
          .option("maxFilesPerTrigger", 1)
          .parquet(staged))
      val mergeBatch: (DataFrame, Long) => Unit = (batch, id) => {
        // NOTE: no coalesce(1) here — coalescing the update-mode batch
        // frame collapses the whole micro-batch plan (scan + stateful
        // agg) to one task (measured 2.5 s → 7 s); the 4 sub-KB files
        // per batch are the cheaper evil, and compaction below re-lands
        // the log as one file anyway.
        batch.withColumn("_batch", lit(id))
          .write.mode("append").parquet(target)
        if (compactEvery > 0 && id % compactEvery == compactEvery - 1)
          compactUpsertLog(spark, target)
      }
      val q = CodegenCache.startStream(spark)(upsertRollup(src).writeStream
        .outputMode("update")
        .foreachBatch(mergeBatch)
        .option("checkpointLocation", ckp)
        .trigger(Trigger.AvailableNow())
        .start())
      q.awaitTermination()
      // the log is landed in memory so neither directory outlives the call
      Artifacts.parquet(spark, target).localCheckpoint(true)
    } finally {
      spark.conf.set("spark.sql.shuffle.partitions", prev)
      Artifacts.delete(ckp)
      Artifacts.delete(target)
    }
  }

  // ---- e27: transactional streaming sink (OCC manifest commits) -----------

  /** One micro-batch's transactional commit into an OCC manifest store
    * ([[graft.sources.Snapshots.occCommit]] with an EMPTY replaced set —
    * streaming appends rewrite nothing, so they always rebase cleanly
    * past concurrent writers). EXACTLY-ONCE comes from BATCH CONTAINMENT
    * in the manifest itself (Delta's `txn`-action idea with the manifest
    * as the transaction log): the batch's files land under the
    * deterministic `b<batchId>/` subpath, and a replayed invocation
    * whose subpath is already referenced by the HEAD manifest returns
    * before any work. A crash anywhere before the atomic manifest
    * publish makes the replay restage (mode-overwrite self-cleans) and
    * commit once; after it, the replay is a no-op. Readers pin
    * manifests, so a batch is visible ALL-OR-NOTHING — the
    * snapshot-isolation tier [[graft.util.Landing.idempotentAppend]]'s
    * file-by-file publish explicitly documents it cannot give. Empty
    * micro-batches are skipped (a contentless version would also be
    * invisible to the containment check on replay).
    *
    * SINGLE WRITER PER QUERY assumed (round-14 advice): Spark runs one
    * foreachBatch invocation per batch per streaming query, and replay
    * only happens after that invocation FAILED — so two stagings of one
    * batchId are never concurrent under the engine's contract. If two
    * INDEPENDENT copies of the same query (same checkpoint dir — itself
    * unsupported by Spark) ever raced here, the second's mode(overwrite)
    * stage could delete files the first's commit already referenced. A
    * filesystem claim file cannot close that gap without breaking crash
    * replay (an orphaned claim is indistinguishable from a live writer);
    * real stores close it with a metastore CAS, which is exactly where
    * [[graft.sources.Snapshots.occCommit]]'s scaladoc places the same
    * residual window.
    */
  private[graft] def txnCommitBatch(dir: String, batch: DataFrame,
      batchId: Long): Unit = {
    val sub = f"b$batchId%04d"
    val sep = java.io.File.separator
    val h = graft.sources.Snapshots.head(dir)
    if (graft.sources.Snapshots.manifest(dir, h)
        .exists(_.contains(s"$sep$sub$sep"))) return // replay: committed
    if (batch.isEmpty) return
    batch.write.mode("overwrite").parquet(s"$dir/$sub")
    graft.sources.Snapshots.occCommit(dir, h, Set.empty,
      graft.sources.Store.flatLeafFiles(dir, sub))
    ()
  }

  /** The landed transactional store, once per events version: an empty
    * base manifest, then the 4-chunk staged stream committed batch-by-
    * batch through [[txnCommitBatch]] — head lands at 5 versions (base +
    * one atomic commit per non-empty micro-batch). At 100 TB this is the
    * production streaming→lakehouse sink: per batch, one parquet write of
    * the batch's own rows + one metadata commit (head fetch, empty
    * conflict intersection, atomic rename); replay cost is one manifest
    * read. Readers at any concurrent point see a committed prefix of the
    * stream, never a torn batch.
    */
  private[graft] def e27Dir(spark: SparkSession, dir: String): String =
    Artifacts.dir(Artifacts.key("txnsink", graft.Tables.path(dir, "events")),
        "graft_txnsink") { out =>
      graft.sources.Store.writeManifest(out, 1, Nil)
      val ckp = Artifacts.scratchDir("graft_txnsink_ckp").toString
      val prev = spark.conf.get("spark.sql.shuffle.partitions")
      spark.conf.set("spark.sql.shuffle.partitions", "4")
      try {
        val staged = splitStageDir(spark, dir).toString
        val src = graft.Tables.normalizeTs(
          spark.readStream.schema(rawSchema(spark, staged))
            .option("maxFilesPerTrigger", 1)
            .parquet(staged))
        val commitBatch: (DataFrame, Long) => Unit =
          (b, id) => txnCommitBatch(out, b, id)
        val q = CodegenCache.startStream(spark)(
          src.select(col("event_id"), col("event_type"), col("value"))
            .writeStream.outputMode("append")
            .foreachBatch(commitBatch)
            .option("checkpointLocation", ckp)
            .trigger(Trigger.AvailableNow())
            .start())
        q.awaitTermination()
      } finally {
        spark.conf.set("spark.sql.shuffle.partitions", prev)
        Artifacts.delete(ckp)
      }
    }

  /** Keep-latest-revision-per-key rewrite of the upsert log — the
    * retention half of MV maintenance (round-6 verdict #5): an
    * append-only MERGE stand-in otherwise grows with (keys × batches
    * touched) forever and every read re-windows the whole history.
    * Compaction caps both at |MV| while preserving last-writer-wins
    * EXACTLY: the rows it drops are strictly older revisions of keys
    * whose latest row survives with its original `_batch`, so the MV
    * read over a compacted log is value-identical (spec-pinned). The
    * rewrite is materialized (eager localCheckpoint) before the
    * overwrite — the j6 amortized-landing production accounting, cost
    * |MV| per compaction, never |log|.
    */
  def compactUpsertLog(spark: SparkSession, target: String): Unit = {
    val compacted = lastWrite(Artifacts.parquet(spark, target)).drop("_rn")
      .localCheckpoint(true)
    compacted.coalesce(1).write.mode("overwrite").parquet(target)
  }

  /** The latest-batch row of each (day, event_type) key of an upsert log. */
  private def lastWrite(log: DataFrame): DataFrame =
    Ranks.topK(log, Seq(col("day"), col("event_type")),
      Seq(col("_batch").desc), lit(1), "_rn")

  /** The maintained MV: last-writer-wins per key over the upsert log —
    * what the MERGE target would hold after the final batch. Must equal
    * the batch rollup over all events (the oracle): the incremental
    * update path may invent or lose nothing. Runs with periodic log
    * compaction ON (every 2 batches) — the registered e16 exercises the
    * retention path under the driver's hash gate.
    */
  def runUpsertRollupToCompletion(spark: SparkSession, dir: String)
      : DataFrame = {
    val log = runUpsertLogToCompletion(spark, dir, compactEvery = 2)
    lastWrite(log)
      .select(col("day"), col("event_type"), col("n"), col("sum_value"))
  }

  // ---- custom state: streaming sessionizer ------------------------------

  final case class Ev(user_id: Long, ts_us: Long)
  final case class OpenSession(start_us: Long, end_us: Long, n: Long)
  final case class ClosedSession(user_id: Long, start_us: Long,
      end_us: Long, n_events: Long)

  /** Stateful sessionization with explicit per-key state
    * (flatMapGroupsWithState): the open session lives in GroupState; a
    * gap > 30 min closes it and emits. Equivalent to the batch
    * gaps-and-islands query (EventOps e2) for sessions that close within
    * the stream — StreamSpec proves that equivalence. State per key is
    * one (start, end, n) triple: bounded regardless of stream length.
    */
  def sessionizeStream(events: DataFrame): org.apache.spark.sql.Dataset[ClosedSession] = {
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    import events.sparkSession.implicits._
    val gapUs = 1800L * 1000000L
    events
      .select(col("user_id"), unix_micros(col("ts")).as("ts_us"))
      .as[Ev]
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[OpenSession, ClosedSession](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (uid: Long, evs: Iterator[Ev], state: GroupState[OpenSession]) =>
          val sorted = evs.toIndexedSeq.sortBy(_.ts_us)
          var closed = List.empty[ClosedSession]
          var cur = state.getOption
          sorted.foreach { e =>
            cur = cur match {
              case Some(OpenSession(s, en, n)) if e.ts_us - en <= gapUs =>
                Some(OpenSession(s, math.max(en, e.ts_us), n + 1))
              case Some(OpenSession(s, en, n)) =>
                closed ::= ClosedSession(uid, s, en, n)
                Some(OpenSession(e.ts_us, e.ts_us, 1))
              case None =>
                Some(OpenSession(e.ts_us, e.ts_us, 1))
            }
          }
          cur.foreach(state.update)
          closed.reverse.iterator
      }
  }

  /** Stateful per-user session counts via windowed aggregation —
    * the declarative alternative to [[sessionizeStream]].
    */
  def perUserActivity(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "1 hour")
      .groupBy(window(col("ts"), "1 hour"), col("user_id"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("window.start").as("hour"), col("user_id"), col("n_events"))

  // ---- e18: streaming heavy hitters (bounded sketch state) --------------

  final case class BucketEv(bucket: Int, user_id: Long)
  final case class BucketHH(bucket: Int, ver: Long, user_id: Long, est: Long)
  final case class MgState(ver: Long, counts: Map[Long, Long])

  /** Streaming per-key frequency tracking with state bounded at k
    * entries PER BUCKET regardless of key cardinality — the 100 TB
    * contrast with e16: an MV's state scales with its GROUP cardinality
    * (fine for rollup keys), but a per-user tracker at 10⁹ users
    * cannot hold a key-sized map. Misra–Gries caps state at k×buckets
    * entries total, fed incrementally through flatMapGroupsWithState
    * across micro-batches (the same `functions.MisraGries.addCount`
    * step t15 runs batch-side, so both paths carry the identical
    * undercount ≤ n_bucket/k + survival-above-n_bucket/k guarantee for
    * ANY arrival order — which is what makes the e18 gate flags
    * deterministic under shuffle-order variation). Keys hash to ONE
    * bucket, so the final answer is the UNION of bucket sketches: no
    * cross-sketch merge, no shuffle of per-key state. Each invocation
    * re-emits the bucket's whole sketch stamped with a per-bucket
    * version; the reader keeps each bucket's latest emission.
    */
  def heavyHitterSketches(events: DataFrame, k: Int,
      buckets: Int): DataFrame = {
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    import events.sparkSession.implicits._
    events
      .select(pmod(col("user_id"), lit(buckets.toLong)).cast("int")
        .as("bucket"), col("user_id"))
      .as[BucketEv]
      .groupByKey(_.bucket)
      .flatMapGroupsWithState[MgState, BucketHH](
        OutputMode.Update, GroupStateTimeout.NoTimeout) {
        (b: Int, evs: Iterator[BucketEv], state: GroupState[MgState]) =>
          val prev = state.getOption.getOrElse(MgState(0L, Map.empty))
          // one mutable map per micro-batch group, converted once at
          // state.update — the immutable fold allocated a fresh k-entry
          // map per EVENT on the hot path (step-identical results;
          // MisraGriesProps pins the equivalence)
          val m = scala.collection.mutable.Map.empty[Long, Long] ++=
            prev.counts
          evs.foreach(e =>
            graft.functions.MisraGries.addCountMutable(m, e.user_id, 1L, k))
          val next = MgState(prev.ver + 1, m.toMap)
          state.update(next)
          next.counts.iterator.map { case (u, c) => BucketHH(b, next.ver, u, c) }
      }
      .toDF()
  }

  /** Run the heavy-hitter stream over the 4-chunk staged landing (state
    * genuinely carries across micro-batches) and return each bucket's
    * FINAL sketch: (bucket, user_id, est), ≤ k rows per bucket.
    */
  def runHeavyHittersToCompletion(spark: SparkSession, dir: String,
      k: Int = 64, buckets: Int = 32,
      queryName: String = "stream_heavyhitters"): DataFrame = {
    val staged = splitStageDir(spark, dir).toString
    val log = runScoped(spark, queryName, "update")(
      heavyHitterSketches(
        spark.readStream.schema(rawSchema(spark, staged))
          .option("maxFilesPerTrigger", 1).parquet(staged),
        k, buckets))
    val wMax = org.apache.spark.sql.expressions.Window
      .partitionBy(col("bucket"))
    log.withColumn("_mx", max(col("ver")).over(wMax))
      .filter(col("ver") === col("_mx"))
      .select(col("bucket"), col("user_id"), col("est"))
  }

  // ---- e25: late-data observability --------------------------------------
  /** Write `df` as ONE parquet file named `name` inside `staged`, with
    * TIMESTAMP_MICROS timestamps (uniform footer dtype across the staged
    * files — the streaming schema is probed once per directory) and an
    * explicit mtime so FileStreamSource's modification-time ordering
    * processes the files in the planted batch order.
    */
  private[graft] def stageOneFile(df: DataFrame, staged: java.nio.file.Path,
      name: String, mtime: Long): Unit = {
    import java.nio.file.Files
    val conf = df.sparkSession.conf
    val key = "spark.sql.parquet.outputTimestampType"
    val prev = conf.get(key)
    conf.set(key, "TIMESTAMP_MICROS")
    Artifacts.withScratchDir("graft_events_late_tmp") { tmpOut =>
      try df.coalesce(1).write.mode("overwrite").parquet(tmpOut.toString)
      finally conf.set(key, prev)
      import scala.jdk.CollectionConverters._
      val part = Files.list(tmpOut).iterator().asScala
        .find(_.getFileName.toString.endsWith(".parquet")).get
      Files.move(part, staged.resolve(name))
      staged.resolve(name).toFile.setLastModified(mtime)
    }
  }

  /** Three-file landing dir with PLANTED late arrivals (staged once per
    * source version): batch 0 is the full events table; batch 1 is a
    * single heartbeat replay of the max-ts event; batch 2 replays two
    * deterministic id-keyed slices with shifted timestamps —
    * `event_id % 97 = 0` moved to max(ts) − 3h (beyond the 1-hour
    * horizon → DROPPED late) and `event_id % 89 = 0 ∧ % 97 ≠ 0` moved
    * to max(ts) − 30min (inside → ACCEPTED). The heartbeat batch exists
    * because Spark's stateful late FILTER uses the watermark as of the
    * PREVIOUS batch's planning (the 3.4+ two-watermark design: lenient
    * for late events, current for eviction — measured here first: a
    * 2-batch plant evicts but never counts a drop); one intermediate
    * batch commits max(ts) − 1h into the offset log before the late
    * file arrives. Both planted counts are exact functions of the
    * events table, which is what makes the observability rows
    * hash-oracleable.
    */
  private[graft] def lateStageDir(spark: SparkSession, dir: String)
      : java.nio.file.Path =
    java.nio.file.Paths.get(Artifacts.dir(
        Artifacts.key("evlate", graft.Tables.path(dir, "events")),
        "graft_events_late") { out =>
      val staged = java.nio.file.Paths.get(out)
      val ev = graft.Tables.events(spark, dir)
      val maxTs = ev.agg(max(col("ts"))).first().getTimestamp(0)
      def shifted(pred: org.apache.spark.sql.Column, backMs: Long) =
        ev.filter(pred).withColumn("ts",
          lit(new java.sql.Timestamp(maxTs.getTime - backMs)))
      val late = shifted(col("event_id") % 97 === 0, 3L * 3600 * 1000)
        .unionByName(shifted(
          col("event_id") % 89 === 0 && col("event_id") % 97 =!= 0,
          30L * 60 * 1000))
      val heartbeat = ev.orderBy(col("ts").desc, col("event_id")).limit(1)
      val t0 = System.currentTimeMillis()
      stageOneFile(ev, staged, "a_base.parquet", t0 - 120000)
      stageOneFile(heartbeat, staged, "b_mark.parquet", t0 - 60000)
      stageOneFile(late, staged, "c_late.parquet", t0)
    })

  /** E25: watermark-drop OBSERVABILITY — per micro-batch (input rows,
    * rows dropped late) read from the engine's own
    * StreamingQueryProgress/StateOperatorProgress counters while the
    * exactly-once dedup landing processes a source with planted late
    * data. Production streaming pipelines alert on exactly this channel
    * (rows silently vanishing at the watermark is the classic
    * correctness leak); here the planted design makes the counters
    * EXACT, so the driver's DuckDB hash gate applies to an
    * observability surface. Operator choice measured, not assumed: the
    * dedup operator's late filter sees RAW rows, so its
    * numRowsDroppedByWatermark equals the planted row count, where the
    * windowed aggregate filters PARTIALLY AGGREGATED rows and counts
    * dropped (window × type) groups — 5, not 104, on the same plant.
    * No-data finalization batches (0 input) are filtered: their
    * counters are definitionally zero.
    */
  def runLateObservedToCompletion(spark: SparkSession, dir: String,
      queryName: String = "stream_late_obs"): DataFrame =
    lateObservedOn(spark, lateStageDir(spark, dir).toString, queryName)

  /** The counters runner over an arbitrary staged landing — exposed so
    * the boundary spec can drive hand-built probe files through the
    * identical query shape.
    */
  private[graft] def lateObservedOn(spark: SparkSession, staged: String,
      queryName: String): DataFrame = {
    spark.catalog.dropTempView(queryName)
    val prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "4")
    val q = try {
      val src = graft.Tables.normalizeTs(
        spark.readStream.schema(rawSchema(spark, staged))
          .option("maxFilesPerTrigger", 1).parquet(staged))
      val query = CodegenCache.startStream(spark)(
        dedupStream(src).writeStream.outputMode("append")
          .format("memory").queryName(queryName)
          .trigger(Trigger.AvailableNow())
          .start())
      query.awaitTermination()
      query
    } finally spark.conf.set("spark.sql.shuffle.partitions", prev)
    val rows = q.recentProgress.toSeq
      .filter(_.numInputRows > 0)
      .sortBy(_.batchId)
      .zipWithIndex
      // renumber by data-batch order: engine bookkeeping batches (offset
      // commits, no-data finalization) must not shift the oracle's ids
      .map { case (p, i) => (i.toLong, p.numInputRows,
        p.stateOperators.map(_.numRowsDroppedByWatermark).sum) }
    import spark.implicits._
    rows.toDF("batch", "n_input", "n_late_dropped")
  }
}
