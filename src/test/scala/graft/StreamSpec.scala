package graft

import org.apache.spark.sql.functions._
import graft.streaming.EventStream

/** Structured Streaming ≡ batch: the streaming tumbling aggregate over the
  * static events directory must equal the batch EventOps result exactly.
  */
class StreamSpec extends SparkSpec {

  test("streaming tumbling agg equals batch tumbling agg") {
    val streamed = EventStream.runToCompletion(spark, Sf0001, "spec_stream")
      .orderBy("hour", "event_type").collect()
    val batch = SparkEntry.queries("e1_tumbling_window")(spark, Sf0001)
      .collect()
    assert(streamed.length === batch.length)
    streamed.zip(batch).foreach { case (s, b) =>
      assert(s.getTimestamp(0) === b.getTimestamp(0))
      assert(s.getString(1) === b.getString(1))
      assert(s.getLong(2) === b.getLong(2))
      assert(s.getDouble(3) === b.getDouble(3))   // bit-exact via Det.dsum
    }
  }

  test("streaming sliding agg equals batch sliding agg") {
    val streamed = EventStream
      .runSlidingToCompletion(spark, Sf0001, "spec_stream_sliding")
      .orderBy("ws", "event_type").collect()
    val batch = SparkEntry.queries("e10_sliding_window")(spark, Sf0001)
      .collect()
    assert(streamed.length === batch.length)
    streamed.zip(batch).foreach { case (s, b) =>
      assert(s.getTimestamp(0) === b.getTimestamp(0))   // ws
      assert(s.getTimestamp(1) === b.getTimestamp(1))   // we
      assert(s.getString(2) === b.getString(2))
      assert(s.getLong(3) === b.getLong(3))
      assert(s.getDouble(4) === b.getDouble(4))   // bit-exact via Det.dsum
    }
  }

  test("flatMapGroupsWithState sessionizer matches batch sessions (closed ones)") {
    val q = EventStream.sessionizeStream(EventStream.readStream(spark, Sf0001))
      .writeStream.outputMode("append").format("memory")
      .queryName("spec_state_sessions")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    q.awaitTermination()
    val streamed = spark.table("spec_state_sessions")
      .select(col("user_id"), col("start_us"), col("end_us"), col("n_events"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet

    // batch truth: every session except each user's LAST (still open in
    // the stream's state when the data ends)
    val batch = SparkEntry.queries("e2_sessionization")(spark, Sf0001)
      .select(col("user_id"), unix_micros(col("session_start")).as("s"),
        unix_micros(col("session_end")).as("e"), col("n_events"),
        col("session_id"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    val lastEnd = batch.groupBy(_._1).view.mapValues(_.map(_._3).max).toMap
    val expectClosed = batch.filter { case (u, _, e, _) => e != lastEnd(u) }.toSet
    assert(streamed === expectClosed)
  }

  test("duplicate-delivery dedup stream emits each event exactly once") {
    val out = EventStream.runDedupToCompletion(spark, Sf0001, "spec_dedup")
      .select("event_id").collect().map(_.getLong(0)).sorted
    val truth = Tables.events(spark, Sf0001)
      .select("event_id").collect().map(_.getLong(0)).sorted
    // every event delivered twice upstream; exactly one copy survives
    assert(out.toSeq === truth.toSeq)
  }

  test("stream-stream interval join equals the batch interval join") {
    val streamed = EventStream
      .runIntervalJoinToCompletion(spark, Sf0001, "spec_ivjoin")
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .toSet
    val ev = Tables.events(spark, Sf0001)
    val a = ev.filter(col("event_type") === "click")
      .select(col("event_id").as("click_id"), col("user_id"),
        col("ts").as("a_ts"))
    val b = ev.filter(col("event_type") === "purchase")
      .select(col("event_id").as("purchase_id"),
        col("user_id").as("b_user"), col("ts").as("b_ts"))
    val batch = a.join(b, col("user_id") === col("b_user") &&
        col("b_ts") >= col("a_ts") &&
        col("b_ts") <= col("a_ts") + expr("INTERVAL 30 MINUTES"))
      .select(col("user_id"), col("click_id"), col("purchase_id"),
        (unix_micros(col("b_ts")) - unix_micros(col("a_ts"))).as("delta_us"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .toSet
    assert(streamed === batch)
    assert(streamed.nonEmpty, "no interval-join pairs at sf0.001 — test vacuous")
  }

  test("enrichment join is broadcast (asserted on the batch plan shape)") {
    // same join code the stream runs per micro-batch, applied to the
    // batch events frame — the static dimension must ride a broadcast
    val df = EventStream.enrichedSegmentAgg(
      Tables.events(spark, Sf0001),
      spark.read.parquet(s"$Sf0001/customer.parquet"))
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), plan.take(1200))
  }

  test("per-user windowed activity runs and sums to total events") {
    val q = EventStream.perUserActivity(EventStream.readStream(spark, Sf0001))
      .writeStream.outputMode("complete").format("memory")
      .queryName("spec_user_stream")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    q.awaitTermination()
    val total = spark.table("spec_user_stream").agg(sum("n_events")).head().getLong(0)
    assert(total === Tables.events(spark, Sf0001).count())
  }

  test("e18 heavy hitters: state carries exactly across micro-batches " +
      "when nothing evicts (sketch union == exact per-user counts)") {
    // sf0.001 has 15 users over 32 buckets — k=64 never evicts, so the
    // streamed sketch must equal the batch groupBy EXACTLY: any dropped
    // or double-counted micro-batch shows up as a count mismatch
    val sketch = EventStream
      .runHeavyHittersToCompletion(spark, Sf0001,
        queryName = "spec_hh_exact")
      .select(col("user_id"), col("est")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    val exact = Tables.events(spark, Sf0001)
      .groupBy(col("user_id")).agg(count(lit(1)).as("n")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(sketch === exact,
      "unevicting sketch must reproduce exact counts across 4 batches")
  }

  test("e18 heavy hitters: eviction path bounds state at k and " +
      "undercounts by at most n/k through the streaming state machinery") {
    val k = 2
    val sketch = EventStream
      .runHeavyHittersToCompletion(spark, Sf0001, k = k, buckets = 1,
        queryName = "spec_hh_evict")
      .select(col("user_id"), col("est")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(sketch.size <= k, s"sketch grew past k=$k: ${sketch.size}")
    val exact = Tables.events(spark, Sf0001)
      .groupBy(col("user_id")).agg(count(lit(1)).as("n")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    val n = exact.values.sum
    sketch.foreach { case (u, est) =>
      assert(est <= exact(u), s"user $u overcounted: $est > ${exact(u)}")
      assert(exact(u) - est <= n / k,
        s"user $u undercounted past n/k: ${exact(u) - est} > ${n / k}")
    }
  }

  test("e25: watermark boundary is exact — an event AT the watermark is " +
      "DROPPED (late predicate ts <= wm), only strictly-above survives, " +
      "and the drop only engages one batch after the watermark committed " +
      "(the two-watermark design)") {
    import java.sql.Timestamp
    // hand-built landing: T at an exact hour so the boundary arithmetic
    // carries no sub-second noise
    val T = Timestamp.valueOf("2024-03-07 12:00:00")
    def ms(t: Timestamp, backMs: Long) = new Timestamp(t.getTime - backMs)
    def frame(rows: (Long, Timestamp)*) =
      spark.createDataFrame(rows.map { case (id, ts) =>
        (id, ts, 1L, "click", 1.0, "{}")
      }).toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    val staged = graft.util.Artifacts.scratchDir("graft_e25_boundary")
    val t0 = System.currentTimeMillis()
    // batch 0: the anchor event at T (watermark will be T − 1h)
    EventStream.stageOneFile(frame(1L -> T), staged, "a.parquet",
      t0 - 120000)
    // batch 1: heartbeat — REQUIRED: the late filter of batch N uses the
    // watermark committed at batch N−1's planning, so without this batch
    // the probes would be filtered against the initial 1970 watermark
    // and nothing would drop (measured on the registered e25 first)
    EventStream.stageOneFile(frame(2L -> T), staged, "b.parquet",
      t0 - 60000)
    // batch 2: three boundary probes around watermark = T − 1h
    val probes = frame(
      10L -> ms(T, 3600 * 1000),        // exactly AT the watermark
      11L -> ms(T, 3600 * 1000 + 1),    // 1 ms below → late
      12L -> ms(T, 3600 * 1000 - 1))    // 1 ms above → in horizon
    EventStream.stageOneFile(probes, staged, "c.parquet", t0)
    val got = EventStream
      .lateObservedOn(spark, staged.toString, "spec_e25_boundary")
      .orderBy(col("batch")).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    // measured boundary (pinned, the e2/e6 exact-gap discipline): the
    // dedup operator's late predicate is ts <= watermark — the probe AT
    // the watermark drops WITH the one below it; only strictly-newer
    // survives. Note the contrast with session_window's merge boundary
    // (an event exactly at start+gap still JOINS the session): watermark
    // lateness and gap merging sit on opposite sides of their boundary.
    assert(got.toSeq === Seq((0L, 1L, 0L), (1L, 1L, 0L), (2L, 3L, 2L)),
      s"boundary drift: ${got.toSeq}")
  }
}
