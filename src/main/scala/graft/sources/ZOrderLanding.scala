package graft.sources

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.{Q, Tables}
import graft.util.Det._
import graft.util.Artifacts

/** Z-order (Morton-curve) landing (s12): multi-dimensional data skipping —
  * the 2-D generalization of s11's single-key sort.
  *
  * A table sorted on `ts` skips beautifully on time predicates and not at
  * all on `user_id` predicates (each file spans every user). Sorting by
  * the Morton interleave of BOTH keys places rows so that every parquet
  * file covers a small rectangle of the (user, time) plane — its min-max
  * envelope is tight in BOTH columns, and a conjunctive 2-D predicate
  * (user range ∧ time range) skips at the reader on whichever bound
  * excludes the file. This is exactly Delta/Iceberg `OPTIMIZE ZORDER BY`:
  * layout-only, result-transparent (the oracle runs the identical
  * aggregate over the RAW table), paid once per landing and amortized
  * across every later 2-D slice — at 100 TB a (one-user-group, one-day)
  * cell reads ~(sel_u × sel_t) of the bytes instead of min(sel_u, sel_t).
  *
  * The z-value itself is pure long bit-arithmetic (5 shift-mask spread
  * steps per dimension, whole-stage codegen'd, no kernel needed) and is
  * DROPPED before the write — it exists only to feed repartitionByRange +
  * sortWithinPartitions, so readers see the original schema.
  */
object ZOrderLanding {

  /** Spread the low 32 bits of `x` to even bit positions (Morton). */
  private def spread(x: Column): Column = {
    val m: Seq[(Int, Long)] = Seq(
      16 -> 0x0000FFFF0000FFFFL, 8 -> 0x00FF00FF00FF00FFL,
      4 -> 0x0F0F0F0F0F0F0F0FL, 2 -> 0x3333333333333333L,
      1 -> 0x5555555555555555L)
    m.foldLeft(x) { case (acc, (s, mask)) =>
      acc.bitwiseOR(shiftleft(acc, s)).bitwiseAND(lit(mask)) }
  }

  /** 64-bit Morton code of two non-negative 32-bit keys. */
  def zValue(a: Column, b: Column): Column =
    spread(a.cast("long")).bitwiseOR(shiftleft(spread(b.cast("long")), 1))

  /** Land `df` z-ordered on (`aCol`, `bCol`) — both must fit non-negative
    * 32-bit (at warehouse scale: bucket or truncate first; skipping only
    * needs coarse rectangles, not exact keys).
    */
  def writeZOrdered(df: DataFrame, path: String, aCol: Column, bCol: Column,
      nRanges: Int = 16): Unit =
    SortedLanding.writeMicros(df, path) { d =>
      d.withColumn("_z", zValue(aCol, bCol))
        .repartitionByRange(nRanges, col("_z"))
        .sortWithinPartitions(col("_z"))
        .drop("_z")
    }

  private[graft] def landedEvents(s: SparkSession, d: String): DataFrame =
    Artifacts.read(s, Artifacts.dir(
        Artifacts.key("s12zorder", Tables.path(d, "events")),
        "graft_zorder_landing") { out =>
      // time dimension: minutes since epoch (fits 32 bits; coarse is fine
      // — skipping works on rectangles, not points)
      writeZOrdered(Tables.events(s, d), out,
        col("user_id"), (unix_timestamp(col("ts")) / 60).cast("long"))
    })

  private val UserLo = 10
  private val UserHi = 19
  private val DayStart = "2024-01-15 00:00:00"
  private val DayEnd = "2024-01-16 00:00:00"

  private def s12ZorderScan(s: SparkSession, d: String): DataFrame = {
    val out = landedEvents(s, d)
      .filter(col("user_id") >= UserLo && col("user_id") <= UserHi &&
        col("ts") >= lit(DayStart).cast("timestamp") &&
        col("ts") < lit(DayEnd).cast("timestamp"))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"), dsum(col("value")).as("sum_value"))
      .orderBy(col("event_type"))
    // Both dimensions must reach the reader — skipping happens there.
    // The 4-predicate PushedFilters list exceeds the default 100-char
    // metadata render cap (the ts bounds truncate away mid-list), so
    // widen the cap for the guard's render only.
    val key = "spark.sql.maxMetadataStringLength"
    val prev = s.conf.get(key)
    s.conf.set(key, "4000")
    val plan = try out.queryExecution.executedPlan.toString
      finally s.conf.set(key, prev)
    require(plan.contains("PushedFilters") &&
      plan.contains("GreaterThanOrEqual(user_id") &&
      plan.contains("GreaterThanOrEqual(ts"),
      "2-D predicate was not pushed to the parquet scan:\n" + plan.take(2000))
    out
  }

  private val s12Sql =
    s"""SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
       |  ${sqlDsum("value")} AS sum_value
       |FROM events
       |WHERE user_id BETWEEN $UserLo AND $UserHi
       |  AND ts >= TIMESTAMP '$DayStart' AND ts < TIMESTAMP '$DayEnd'
       |GROUP BY event_type ORDER BY event_type""".stripMargin

  val qs: Seq[(String, Q)] = Seq(
    "s12_zorder_scan" -> Q(s12ZorderScan, Some(s12Sql)),
  )
}
