package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.{Q, Tables}
import graft.util.Det._
import graft.util.Artifacts

/** Sort-ordered landing (s11): the range-predicate analogue of j6's
  * bucketing. Landing a fact table range-partitioned + sorted on its query
  * key (here `ts`) gives every parquet file/row-group/page a tight min-max
  * envelope, so a pushed-down range filter skips almost all of the data at
  * the READER — at 100 TB, a one-day slice of a 30-day corpus reads ~1/30
  * of the bytes instead of scanning everything and discarding 29/30 after
  * decode. Pay one range shuffle when the table lands; every later range
  * query rides the statistics for free (same amortized accounting as j6,
  * memoized per (source dir, mtime) so a rewritten source re-lands).
  *
  * The registered query runs a one-day aggregate over the sorted landing;
  * the oracle is the identical aggregate over the RAW events table —
  * layout must be result-transparent. A runtime guard requires the ts
  * range to reach the parquet scan as PushedFilters (without pushdown the
  * skipping claim is vacuous); the actual skipping differential (sorted
  * layout's scan emits a fraction of the unsorted layout's rows under the
  * same filter) is asserted in SortedLandingSpec.
  */
object SortedLanding {

  /** Land `df` range-partitioned and sorted by `sortCol` under `path`.
    * `nRanges` controls file granularity: more ranges → finer min-max
    * envelopes → more files skipped per range query (at cluster scale,
    * size so one range ≈ one task's worth of output).
    *
    * Timestamps are landed as TIMESTAMP_MICROS: Spark's default parquet
    * timestamp encoding is INT96, which carries NO min-max statistics —
    * under it the reader can never skip a row group on a time predicate
    * and the whole sorted layout is pointless (spec-caught; the
    * differential assert reads 10000 vs 10000 under INT96).
    */
  def writeSorted(df: DataFrame, path: String, sortCol: String,
      nRanges: Int = 8): Unit =
    writeMicros(df, path)(_.repartitionByRange(nRanges, col(sortCol))
      .sortWithinPartitions(col(sortCol)))

  /** Land `df` under `path` with `layout` applied, timestamps forced to
    * TIMESTAMP_MICROS (INT96, the Spark 4 default, carries NO min-max
    * statistics — data skipping would silently do nothing). Shared by the
    * sorted (s11) and z-ordered (s12) landings so both serialize on the
    * one session-wide conf toggle.
    */
  private[sources] def writeMicros(df: DataFrame, path: String)(
      layout: DataFrame => DataFrame): Unit = writeLock.synchronized {
    // The session-wide conf toggle is serialized: writeSorted is the ONLY
    // writer of this key, so the lock removes the one real race —
    // concurrent landings clobbering each other's set/restore and landing
    // INT96 files with no min-max stats. (No per-write DataFrameWriter
    // option exists for outputTimestampType in Spark 4.1 — ParquetOptions
    // carries only compression/mergeSchema/rebase.) An UNRELATED write on
    // another thread that observes the temporary value lands
    // TIMESTAMP_MICROS instead of INT96 — semantically identical
    // timestamps with strictly better statistics, not a correctness
    // hazard.
    val conf = df.sparkSession.conf
    val key = "spark.sql.parquet.outputTimestampType"
    val prev = conf.get(key)
    conf.set(key, "TIMESTAMP_MICROS")
    try layout(df).write.mode("overwrite").parquet(path)
    finally conf.set(key, prev)
  }

  private val writeLock = new Object

  // one landing per events version, amortized like Bucketed.prepared (j6)
  private[graft] def landedEvents(s: SparkSession, d: String): DataFrame =
    Artifacts.read(s, Artifacts.dir(
        Artifacts.key("s11sorted", Tables.path(d, "events")),
        "graft_sorted_landing") { out =>
      writeSorted(Tables.events(s, d), out, "ts")
    })

  private val DayStart = "2024-01-15 00:00:00"
  private val DayEnd = "2024-01-16 00:00:00"

  private def s11SortedScan(s: SparkSession, d: String): DataFrame = {
    val out = landedEvents(s, d)
      .filter(col("ts") >= lit(DayStart).cast("timestamp") &&
        col("ts") < lit(DayEnd).cast("timestamp"))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"), dsum(col("value")).as("sum_value"))
      .orderBy(col("event_type"))
    // Guard the claim: the range predicate must reach the parquet reader
    // as pushed filters — row-group/page skipping happens there, not in
    // Spark's Filter node.
    val plan = out.queryExecution.executedPlan.toString
    require(plan.contains("PushedFilters") && plan.contains("GreaterThanOrEqual(ts") &&
      plan.contains("LessThan(ts"),
      "ts range was not pushed to the parquet scan:\n" + plan.take(2000))
    out
  }

  private val s11Sql =
    s"""SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
       |  ${sqlDsum("value")} AS sum_value
       |FROM events
       |WHERE ts >= TIMESTAMP '$DayStart' AND ts < TIMESTAMP '$DayEnd'
       |GROUP BY event_type ORDER BY event_type""".stripMargin

  val qs: Seq[(String, Q)] = Seq(
    "s11_sorted_scan" -> Q(s11SortedScan, Some(s11Sql)),
  )
}
