package graft.relational

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.{Q, Tables}
import graft.util.Artifacts

/** Bucketed co-located join (j6): pre-shuffle at WRITE time so the join
  * itself plans with no Exchange on either side — the layout decision that
  * makes repeated fact⋈fact joins affordable at 100 TB (docs/SCALING.md
  * §j6: pay one shuffle when the table lands, then every subsequent join
  * on the bucket key is exchange-free; with 1000 executors the alternative
  * is re-shuffling ~100 TB per join).
  *
  * The registered query writes lineitem and orders bucketed by orderkey
  * into external tables (explicit `path` option — the Verify/Bench
  * sessions have no managed warehouse; a per-JVM temp dir, removed on
  * exit, keeps repeated runs leak-free), then joins and aggregates. The
  * oracle is the plain join SQL: bucketing must be result-transparent.
  * BucketingSpec holds the plan-level no-Exchange assert; the j6 query
  * itself re-asserts at runtime so the CORRECTNESS row can't silently
  * pass with a shuffling plan.
  */
object Bucketed {

  /** One temp warehouse per JVM for the external bucketed tables; deleted
    * on exit (same discipline as SparkSpec's test warehouse — round 2's
    * temp-dir leak class; swept by the Artifacts shutdown hook).
    */
  private lazy val bucketDir: java.nio.file.Path =
    Artifacts.scratchDir("graft_bucketed")

  private val NBuckets = 8

  /** Write `df` as an external bucketed+sorted table and return it. */
  def writeBucketed(df: DataFrame, table: String, key: String,
      nBuckets: Int = NBuckets): DataFrame = {
    val s = df.sparkSession
    s.sql(s"DROP TABLE IF EXISTS $table")
    df.write
      .bucketBy(nBuckets, key).sortBy(key)
      .option("path", s"$bucketDir/$table")
      .mode("overwrite")
      .saveAsTable(table)
    s.table(table)
  }

  // The bucketed landing is written ONCE per (lineitem, orders) version
  // and reused by every subsequent j6 call in the session — exactly the
  // production accounting: one layout shuffle when the table lands
  // amortizes over every later co-located join. A REWRITTEN source
  // re-lands into fresh table names instead of serving a stale layout
  // (the previous landing's files stay under bucketDir until the
  // JVM-exit sweep — a bounded, session-lifetime cost).
  private[graft] def preparedNames(s: SparkSession, d: String): (String, String) = {
    val key = Artifacts.key("j6bucketed",
      Seq("lineitem", "orders").map(Tables.path(d, _)))
    Artifacts.value(key) {
      val suffix = (key.hashCode & Int.MaxValue).toHexString
      val lt = s"graft_j6_lineitem_$suffix"
      val ot = s"graft_j6_orders_$suffix"
      writeBucketed(
        Tables.lineitem(s, d).select(col("l_orderkey"), col("l_quantity")),
        lt, "l_orderkey")
      writeBucketed(
        Tables.orders(s, d).select(col("o_orderkey"), col("o_orderstatus")),
        ot, "o_orderkey")
      (lt, ot)
    }
  }

  private def preparedTables(s: SparkSession, d: String): (DataFrame, DataFrame) = {
    val (lt, ot) = preparedNames(s, d)
    (s.table(lt), s.table(ot))
  }

  private def j6BucketedJoin(s: SparkSession, d: String): DataFrame = {
    val (li, ord) = preparedTables(s, d)
    // merge hint: sort-merge over the bucket-sorted layout; broadcast
    // would trivially avoid the exchange but proves nothing about layout
    val joined = li.join(ord.hint("merge"),
        col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("o_orderstatus"))
      .agg(count(lit(1)).as("n"), sum(col("l_quantity")).as("sum_qty"))
      .orderBy(col("o_orderstatus"))
    // Runtime guard on the CLAIM this query exists to make: co-located
    // layout ⇒ a SORT-MERGE join with no Exchange below it. The
    // SortMergeJoin presence check comes first — without it a silently
    // broadcast join would leave split(...).last as the whole plan and
    // vacuously pass (the final orderBy/agg above the join may exchange;
    // only the join inputs must not).
    val plan = joined.queryExecution.executedPlan.toString
    require(plan.contains("SortMergeJoin"),
      "bucketed join did not plan as sort-merge — layout proof is vacuous")
    val joinInputs = plan.split("SortMergeJoin").last
    require(!joinInputs.contains("Exchange hashpartitioning(l_orderkey") &&
      !joinInputs.contains("Exchange hashpartitioning(o_orderkey"),
      "bucketed join planned a shuffle on the bucket key")
    joined
  }

  private val j6Sql =
    """SELECT o_orderstatus, CAST(COUNT(*) AS BIGINT) AS n,
      |       SUM(l_quantity) AS sum_qty
      |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      |GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin

  val qs: Seq[(String, Q)] = Seq(
    "j6_bucketed_join" -> Q(j6BucketedJoin, Some(j6Sql)),
  )
}
