package graft.relational

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType
import graft.{Q, Tables}
import graft.util.Ranks

/** Window-function operators (SURVEY.md §2.4 extensions; the reference has
  * no windows, but top-k-per-group and running totals are core warehouse
  * surface). Windows shuffle once on the partition key and sort within the
  * partition — at 100 TB the partition key (o_custkey) distributes evenly,
  * so no skew concern here.
  */
object WindowOps {

  // ---- W1: top-k per group via row_number --------------------------------
  private def w1TopKPerGroup(s: SparkSession, d: String): DataFrame =
    Ranks.topK(Tables.orders(s, d)
        .select(col("o_custkey"), col("o_orderkey"), col("o_totalprice")),
        Seq(col("o_custkey")), Seq(col("o_totalprice").desc, col("o_orderkey")),
        lit(3), "rn")
      .orderBy(col("o_custkey"), col("rn"))

  private val w1Sql =
    """SELECT * FROM (
      |  SELECT o_custkey, o_orderkey, o_totalprice,
      |         ROW_NUMBER() OVER (PARTITION BY o_custkey
      |                            ORDER BY o_totalprice DESC, o_orderkey) AS rn
      |  FROM orders
      |) WHERE rn <= 3 ORDER BY o_custkey, rn""".stripMargin

  // ---- W2: running sum (exact decimal accumulation) ----------------------
  private def w2RunningSum(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_orderdate"), col("o_orderkey"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    Tables.orders(s, d)
      .select(col("o_custkey"), col("o_orderkey"), col("o_orderdate"),
        col("o_totalprice").cast(DecimalType(12, 2)).as("p"))
      .withColumn("running_total", sum(col("p")).over(w).cast("double"))
      .select(col("o_custkey"), col("o_orderkey"), col("running_total"))
      .orderBy(col("o_custkey"), col("o_orderkey"))
  }

  private val w2Sql =
    """SELECT o_custkey, o_orderkey,
      |       CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) OVER (
      |         PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
      |         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE)
      |         AS running_total
      |FROM orders ORDER BY o_custkey, o_orderkey""".stripMargin

  // ---- W3: lag/lead delta ------------------------------------------------
  private def w3LagDelta(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_orderdate"), col("o_orderkey"))
    Tables.orders(s, d)
      .select(col("o_custkey"), col("o_orderkey"), col("o_orderdate"),
        col("o_totalprice").cast(DecimalType(12, 2)).as("p"))
      .withColumn("prev_price",
        lag(col("p"), 1).over(w))
      .select(col("o_custkey"), col("o_orderkey"),
        (col("p") - col("prev_price")).cast("double").as("delta_price"))
      .orderBy(col("o_custkey"), col("o_orderkey"))
  }

  private val w3Sql =
    """SELECT o_custkey, o_orderkey,
      |       CAST(CAST(o_totalprice AS DECIMAL(12,2)) -
      |            LAG(CAST(o_totalprice AS DECIMAL(12,2)), 1) OVER (
      |              PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
      |            AS DOUBLE) AS delta_price
      |FROM orders ORDER BY o_custkey, o_orderkey""".stripMargin

  // ---- W4: ranking family (dense_rank / percent_rank / ntile) ------------
  private def w4RankFamily(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy(col("o_orderstatus"))
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
    Tables.orders(s, d)
      .select(col("o_orderstatus"), col("o_orderkey"),
        dense_rank().over(w).as("dr"),
        percent_rank().over(w).as("pr"),
        ntile(4).over(w).cast("long").as("quartile"))
      .filter(col("dr") <= 50)
      .orderBy(col("o_orderstatus"), col("dr"), col("o_orderkey"))
  }

  private val w4Sql =
    """SELECT * FROM (
      |  SELECT o_orderstatus, o_orderkey,
      |    DENSE_RANK()   OVER w AS dr,
      |    PERCENT_RANK() OVER w AS pr,
      |    CAST(NTILE(4) OVER w AS BIGINT) AS quartile
      |  FROM orders
      |  WINDOW w AS (PARTITION BY o_orderstatus
      |               ORDER BY o_totalprice DESC, o_orderkey)
      |) WHERE dr <= 50 ORDER BY o_orderstatus, dr, o_orderkey""".stripMargin

  // ---- W5: top-k per group over exact cents -----------------------------
  /** Same result contract as w1 (top-3 orders per customer, w1's exact
    * tie rule), ranked over exact cents (Det doctrine: ranking money
    * means ranking cents; the cents↔totalprice order is identical because
    * prices are 2-decimal doubles). Spark plans the `rn <= 3` filter as a
    * WindowGroupLimit whose partial pass runs before the exchange, so each
    * map partition ships at most 3 rows per customer into it
    * (spec-asserted), not every row.
    */
  private def w5TopKAgg(s: SparkSession, d: String): DataFrame =
    Ranks.topK(Tables.orders(s, d)
        .select(col("o_custkey"), col("o_orderkey"),
          round(col("o_totalprice") * 100).cast("long").as("price_cents")),
        Seq(col("o_custkey")), Seq(col("price_cents").desc, col("o_orderkey")),
        lit(3), "rn")
      .select(col("o_custkey"), col("rn").cast("long").as("rn"),
        col("o_orderkey"), col("price_cents"))
      .orderBy(col("o_custkey"), col("rn"))

  private val w5Sql =
    """SELECT o_custkey, rn, o_orderkey, price_cents FROM (
      |  SELECT o_custkey, o_orderkey,
      |         CAST(ROUND(o_totalprice * 100) AS BIGINT) AS price_cents,
      |         ROW_NUMBER() OVER (PARTITION BY o_custkey
      |                            ORDER BY o_totalprice DESC, o_orderkey) AS rn
      |  FROM orders
      |) WHERE rn <= 3 ORDER BY o_custkey, rn""".stripMargin

  val qs: Seq[(String, Q)] = Seq(
    "w1_topk_per_group" -> Q(w1TopKPerGroup, Some(w1Sql)),
    "w5_topk_agg"       -> Q(w5TopKAgg, Some(w5Sql)),
    "w4_rank_family"    -> Q(w4RankFamily, Some(w4Sql)),
    "w2_running_sum"    -> Q(w2RunningSum, Some(w2Sql)),
    "w3_lag_delta"      -> Q(w3LagDelta, Some(w3Sql)),
  )
}
