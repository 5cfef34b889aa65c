package graft

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.util.Ranks

/** Pins util.Ranks — the distributed replacement for global-order windows
  * (t14's ntile, km1's seed positions): the band-parallel rank must be
  * bit-identical to the single-partition row_number it replaces, including
  * score ties and composite tie-break order, and its own plan must hold no
  * partition-less WindowExec (the prefix sum runs as a triangular join).
  */
class RanksSpec extends SparkSpec {
  import spark.implicits._

  // scores with heavy ties across band boundaries; ids shuffled
  private def frame = (1 to 997).map { i =>
    (i.toLong, (i * 7919 % 50).toLong, (i * 31 % 13).toLong)
  }.toDF("id", "score", "tie").repartition(7)

  test("distributedRank equals the global row_number window (with ties)") {
    val got = Ranks.distributedRank(frame, "score", "id", "rn")
      .select("id", "rn").collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val want = frame.withColumn("rn", row_number().over(
        Window.orderBy(col("score"), col("id"))).cast("long"))
      .select("id", "rn").collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got === want)
  }

  test("tieCols order matches the composite (score, tie, id) window") {
    val got = Ranks.distributedRank(frame, "score", "id", "rn",
        tieCols = Seq("tie"))
      .select("id", "rn").collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val want = frame.withColumn("rn", row_number().over(
        Window.orderBy(col("score"), col("tie"), col("id"))).cast("long"))
      .select("id", "rn").collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got === want)
  }

  test("ntileFromRank equals NTILE(10) over the same order") {
    val n = frame.count()
    val got = Ranks.distributedRank(frame, "score", "id", "rn")
      .withColumn("_n", lit(n))
      .withColumn("b", Ranks.ntileFromRank("rn", "_n", 10))
      .select("id", "b").collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val want = frame.withColumn("b", ntile(10).over(
        Window.orderBy(col("score"), col("id"))).cast("long"))
      .select("id", "b").collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got === want)
  }

  test("distributedRank's own plan holds no partition-less WindowExec") {
    assert(PlanChecks.partitionlessWindows(
      Ranks.distributedRank(frame, "score", "id", "rn")).isEmpty)
  }

  // The round-7 verdict's latent reuse trap: a constant score column
  // collapses every quantile boundary, so score banding degraded to ONE
  // band — the single-partition window by the back door. The guard
  // switches to range-partition banding on the full composite order;
  // the rank must stay bit-identical to the window form and the plan
  // must stay window-partition-clean.
  private def constFrame = (1 to 997).map { i =>
    ((i * 7919 % 1000).toLong, 5L, (i * 31 % 13).toLong)
  }.toDF("id", "score", "tie").repartition(7)

  test("constant score column: rank matches the window form") {
    val got = Ranks.distributedRank(constFrame, "score", "id", "rn")
      .select("id", "rn").collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val want = constFrame.withColumn("rn", row_number().over(
        Window.orderBy(col("score"), col("id"))).cast("long"))
      .select("id", "rn").collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got === want)
  }

  test("constant score column: tieCols composite order still exact") {
    val got = Ranks.distributedRank(constFrame, "score", "id", "rn",
        tieCols = Seq("tie"))
      .select("id", "rn").collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val want = constFrame.withColumn("rn", row_number().over(
        Window.orderBy(col("score"), col("tie"), col("id"))).cast("long"))
      .select("id", "rn").collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got === want)
  }

  test("constant score column: plan holds no partition-less WindowExec") {
    assert(PlanChecks.partitionlessWindows(
      Ranks.distributedRank(constFrame, "score", "id", "rn")).isEmpty)
  }

  test("constant score engages the range-band guard; spread score does not") {
    // guard path materializes the banding (eager localCheckpoint), so the
    // plan reads an ExistingRDD scan instead of the in-line LocalTableScan
    def usesCheckpoint(df: org.apache.spark.sql.DataFrame): Boolean =
      df.queryExecution.executedPlan.toString.contains("ExistingRDD")
    assert(usesCheckpoint(Ranks.distributedRank(constFrame, "score", "id", "rn")),
      "constant score must take the range-band fallback")
    assert(!usesCheckpoint(Ranks.distributedRank(frame, "score", "id", "rn")),
      "spread score must stay on the storage-free quantile path")
  }

  test("bands=2 + spread score: quantile path reachable (no checkpoint) " +
      "and the rank is exact; constant score still falls back") {
    // round-9 ADVICE item 3: bands−1 = 1 boundary could never satisfy
    // `bounds.length >= 2`, so bands=2 callers always paid the
    // repartitionByRange + localCheckpoint fallback. The lone boundary
    // is safe exactly when it sits below the sketch's exact max.
    val ranked = Ranks.distributedRank(frame, "score", "id", "rn", bands = 2)
    assert(!ranked.queryExecution.executedPlan.toString.contains("ExistingRDD"),
      "bands=2 spread score must stay on the storage-free quantile path")
    assert(PlanChecks.partitionlessWindows(ranked).isEmpty)
    val got = ranked.select("id", "rn").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val want = frame.withColumn("rn", row_number().over(
        Window.orderBy(col("score"), col("id"))).cast("long"))
      .select("id", "rn").collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got === want)
    // constant score at bands=2: boundary == max → not a split → fallback
    val const2 = Ranks.distributedRank(constFrame, "score", "id", "rn",
      bands = 2)
    assert(const2.queryExecution.executedPlan.toString.contains("ExistingRDD"),
      "bands=2 constant score must take the range-band fallback")
    val gotC = const2.select("id", "rn").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val wantC = constFrame.withColumn("rn", row_number().over(
        Window.orderBy(col("score"), col("id"))).cast("long"))
      .select("id", "rn").collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(gotC === wantC)
  }

  test("small bands + constant score: guard engages (the ×4 heuristic " +
      "alone would pass 1 boundary at bands ≤ 5) and the rank is exact") {
    val ranked = Ranks.distributedRank(constFrame, "score", "id", "rn",
      bands = 4)
    // a structurally partitioned window over ONE band value is the bug —
    // assert the guard actually took the materialized range-band path
    assert(ranked.queryExecution.executedPlan.toString.contains("ExistingRDD"),
      "bands=4 constant score must take the range-band fallback")
    assert(PlanChecks.partitionlessWindows(ranked).isEmpty)
    val got = ranked.select("id", "rn").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val want = constFrame.withColumn("rn", row_number().over(
        Window.orderBy(col("score"), col("id"))).cast("long"))
      .select("id", "rn").collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got === want)
  }

  // ---- topK: the one per-group top-k -----------------------------------

  private def topK(df: org.apache.spark.sql.DataFrame, k: Int) =
    Ranks.topK(df, Seq(col("g")), Seq(col("cents").desc, col("ok")), lit(k), "rn")
      .select("g", "rn", "ok").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet

  // planted ties: equal cents resolve by the smaller ok
  private val tied = Seq((1L, 100L, 7L), (1L, 100L, 3L), (1L, 100L, 5L),
    (1L, 90L, 1L), (2L, 50L, 9L))

  test("topK breaks ties by the order columns, over 1 and 7 partitions") {
    for (parts <- Seq(1, 7))
      assert(topK(tied.toDF("g", "cents", "ok").repartition(parts), 3) ===
        Set((1L, 1, 3L), (1L, 2, 5L), (1L, 3, 7L), (2L, 1, 9L)), s"parts=$parts")
  }

  test("topK with k at or past the group size keeps the whole group") {
    val all = Set((1L, 1, 3L), (1L, 2, 5L), (1L, 3, 7L), (1L, 4, 1L), (2L, 1, 9L))
    for (k <- Seq(4, 100)) assert(topK(tied.toDF("g", "cents", "ok"), k) === all)
  }

  test("topK with a per-row k column keeps each group's own count") {
    val got = Ranks.topK(tied.toDF("g", "cents", "ok")
        .withColumn("q", when(col("g") === 1L, 2).otherwise(0)),
        Seq(col("g")), Seq(col("cents").desc, col("ok")), col("q"), "rn")
      .select("ok").as[Long].collect().toSet
    assert(got === Set(3L, 5L))
  }

  // 300 queries × 20 candidates, every pair seen 3 times (a multi-table
  // LSH sighting), with sim ties broken by c_id
  private def sightings = (0 until 3).flatMap(_ =>
    for (q <- 0L until 300L; c <- 0L until 20L)
      yield (q, c, ((q * 7 + c * 13) % 9).toDouble / 9)
  ).toDF("q_id", "c_id", "sim").repartition(5)

  test("dense_rank topK + dropDuplicates over repeated pairs equals " +
      "distinct + row_number topK") {
    val order = Seq(col("sim").desc, col("c_id"))
    val dense = Ranks.topK(sightings, Seq(col("q_id")), order, lit(5), "rank",
      dense_rank())
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select("q_id", "c_id", "sim", "rank").collect().toSeq
    val want = rows(Ranks.topK(sightings.distinct(), Seq(col("q_id")), order,
      lit(5), "rank"))
    assert(want.size === 1500)
    // knnJoin's full-row distinct, and the (q_id, c_id) dropDuplicates
    for (got <- Seq(dense.distinct(), dense.dropDuplicates("q_id", "c_id"))) {
      val g = rows(got)
      assert(g.size === 1500 && g.toSet === want.toSet)
    }
  }

  test("topK plans a partial WindowGroupLimit below the exchange and a " +
      "final one above it") {
    val df = Ranks.topK(sightings, Seq(col("q_id")),
      Seq(col("sim").desc, col("c_id")), lit(5), "rank")
    assert(PlanChecks.groupLimitedExchanges(df, "q_id") === Seq(true),
      df.queryExecution.executedPlan.toString)
  }
}
