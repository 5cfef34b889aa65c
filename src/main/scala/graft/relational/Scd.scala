package graft.relational

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.{Q, Tables}

/** Slowly-changing-dimension type-2 materialization (cdc1): the
  * warehouse-identity operator — turn a change log into a versioned
  * dimension with [effective_from, effective_to) validity intervals and
  * an is_current flag, the standard target of every CDC merge.
  *
  * The change log here is the orders table read as updates to a
  * customer's `last_total` attribute (one update per customer per day,
  * latest order wins deterministically via max_by on the unique order
  * key). Version stitching is a per-key window: effective_to = the NEXT
  * change's effective_from (half-open intervals — no gap/overlap by
  * construction), null ⇒ current.
  *
  * Scale: one shuffle keyed by the dimension key. The per-day dedup is a
  * groupBy with map-side partials (cuts the window input to one row per
  * key-day); the lead() window is per-key sequential but keys number in
  * the millions at warehouse scale, so partitions stay balanced — there
  * is no global window anywhere. This is the same single-shuffle shape a
  * MERGE INTO target table would execute; writing the result partitioned
  * by is_current gives the classic hot-current/cold-history layout.
  *
  * Engine parity: max_by ≡ DuckDB arg_max on the unique tiebreak key;
  * dates emit as ISO strings (DATE objects reach pandas differently from
  * the two engines — CLAUDE.md discipline).
  */
object Scd {

  /** Collapse a change log to SCD2 history rows. `tsCol` is the change
    * timestamp (day granularity after the dedup), `tieCol` a unique
    * column making latest-per-day deterministic, `valCol` the tracked
    * attribute.
    */
  def scd2History(changes: DataFrame, keyCol: String, tsCol: String,
      tieCol: String, valCol: String): DataFrame = {
    val daily = changes
      .groupBy(col(keyCol), col(tsCol).cast("date").as("eff_from"))
      .agg(max_by(col(valCol), col(tieCol)).as("attr_value"))
    val w = Window.partitionBy(col(keyCol)).orderBy(col("eff_from"))
    daily
      .withColumn("eff_to", lead(col("eff_from"), 1).over(w))
      .select(col(keyCol),
        date_format(col("eff_from"), "yyyy-MM-dd").as("effective_from"),
        date_format(col("eff_to"), "yyyy-MM-dd").as("effective_to"),
        col("attr_value"),
        col("eff_to").isNull.as("is_current"))
  }

  private def cdc1Scd2(s: SparkSession, d: String): DataFrame =
    scd2History(Tables.orders(s, d), "o_custkey", "o_orderdate",
      "o_orderkey", "o_totalprice")
      .orderBy(col("o_custkey"), col("effective_from"))

  private val cdc1Sql =
    """WITH daily AS (
      |  SELECT o_custkey, CAST(o_orderdate AS DATE) AS eff_from,
      |    arg_max(o_totalprice, o_orderkey) AS attr_value
      |  FROM orders GROUP BY 1, 2)
      |SELECT o_custkey,
      |  strftime(eff_from, '%Y-%m-%d') AS effective_from,
      |  strftime(lead(eff_from) OVER w, '%Y-%m-%d') AS effective_to,
      |  attr_value,
      |  (lead(eff_from) OVER w IS NULL) AS is_current
      |FROM daily
      |WINDOW w AS (PARTITION BY o_custkey ORDER BY eff_from)
      |ORDER BY o_custkey, effective_from""".stripMargin

  // ---- CDC2: SCD type-1 MERGE (upsert + delete) --------------------------
  /** The batch MERGE INTO shape — base dimension ⟕⟖ change batch on the
    * key, with the three-way action logic every CDC sink executes:
    * matched+D drops the row, matched+U (or an unmatched U — upsert
    * semantics) takes the new value, unmatched base rows carry forward.
    * Spark has no MERGE INTO against raw parquet, so the full-outer-join
    * + conditional projection IS the engine-level plan a table format
    * (Delta/Iceberg) would generate; expressing it directly keeps the
    * semantics under the oracle.
    *
    * Scale: ONE shuffle keyed by the dimension key on each side (the
    * change batch pre-aggregates to one row per key with map-side
    * partials first). No windows, no skew risk beyond the key itself; a
    * production target would be bucketed on the key (j6's layout) making
    * the merge exchange-free. All values are exact integer cents.
    */
  def scd1Merge(base: DataFrame, changes: DataFrame): DataFrame =
    base.join(changes, Seq("k"), "full_outer")
      .filter(col("op").isNull || col("op") =!= "D")
      .select(
        col("k").as("c_custkey"),
        when(col("op").isNull, "kept")
          .when(col("bal").isNull, "inserted")
          .otherwise("updated").as("action"),
        when(col("op").isNull, col("bal")).otherwise(col("val"))
          .as("bal_cents"))
      .orderBy(col("c_custkey"))

  private def cdc2Scd1(s: SparkSession, d: String): DataFrame = {
    val base = Tables.customer(s, d).select(col("c_custkey").as("k"),
      round(col("c_acctbal") * 100).cast("long").as("bal"))
    // synthetic insert keys offset past max(c_custkey), not a fixed
    // constant: c_custkey reaches 10M around SF 67, where a fixed 10M
    // offset would collide with real base keys and silently demote the
    // planted inserts to updates. One scalar agg at build time (the S4
    // first() shape); the oracle derives the identical offset.
    val off = base.agg(max(col("k")).cast("long")).first().getLong(0) + 1L
    val chg0 = Tables.orders(s, d)
      .groupBy(col("o_custkey").as("k"))
      .agg(sum(round(col("o_totalprice") * 100).cast("long")).as("val"))
      .select(col("k"),
        when(col("k") % 17 === 0, "D").otherwise("U").as("op"), col("val"))
    val chg = chg0.unionByName(
      chg0.filter(col("k") % 29 === 0)
        .select((col("k") + lit(off)).as("k"), lit("I").as("op"),
          col("val")))
    scd1Merge(base, chg)
  }

  private val cdc2Sql =
    """WITH base AS (
      |  SELECT c_custkey AS k, CAST(ROUND(c_acctbal * 100) AS BIGINT) AS bal
      |  FROM customer),
      |chg0 AS (
      |  SELECT o_custkey AS k,
      |    CASE WHEN o_custkey % 17 = 0 THEN 'D' ELSE 'U' END AS op,
      |    CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS BIGINT)
      |      AS val
      |  FROM orders GROUP BY o_custkey),
      |chg AS (
      |  SELECT k, op, val FROM chg0
      |  UNION ALL
      |  SELECT k + (SELECT CAST(max(c_custkey) AS BIGINT) + 1 FROM customer),
      |         'I', val FROM chg0 WHERE k % 29 = 0)
      |SELECT COALESCE(b.k, c.k) AS c_custkey,
      |  CASE WHEN c.op IS NULL THEN 'kept'
      |       WHEN b.bal IS NULL THEN 'inserted'
      |       ELSE 'updated' END AS action,
      |  CASE WHEN c.op IS NULL THEN b.bal ELSE c.val END AS bal_cents
      |FROM base b FULL OUTER JOIN chg c ON b.k = c.k
      |WHERE c.op IS NULL OR c.op <> 'D'
      |ORDER BY c_custkey""".stripMargin

  val qs: Seq[(String, Q)] = Seq(
    "cdc1_scd2_history" -> Q(cdc1Scd2, Some(cdc1Sql)),
    "cdc2_scd1_merge"   -> Q(cdc2Scd1, Some(cdc2Sql)),
  )
}
