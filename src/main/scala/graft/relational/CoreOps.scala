package graft.relational

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.{Q, Tables}
import graft.util.Det._
import graft.util.Artifacts

/** Core relational operators (SURVEY.md §2.1–§2.4) expressed Spark-first on
  * the driver testdata. Every query here:
  *   - keeps the plan fully declarative so Catalyst pushes filters/pruning
  *     into the parquet scan (verified via .explain in CoreOpsSpec),
  *   - ends in a total deterministic ORDER BY so the DuckDB oracle
  *     hash-compare is order-stable,
  *   - uses Det.* decimal-exact aggregation for money columns so results
  *     are bit-identical regardless of partitioning (100 TB safe).
  *
  * Reference sites driving the inventory: projection/drop/cast/when
  * (stroke_predict.py:44-53), filter (smote_sampling.py:24-25), group-count
  * (stroke_predict.py:29-30), union (smote_sampling.py:52-54); joins,
  * top-k, rollup are the testdata extensions (SURVEY.md §7.7).
  */
object CoreOps {

  // ---- P1: projection ----------------------------------------------------
  private def p1Project(s: SparkSession, d: String): DataFrame =
    Tables.lineitem(s, d)
      .select(col("l_orderkey"), col("l_linenumber"), col("l_extendedprice"))
      .orderBy(col("l_orderkey"), col("l_linenumber"))

  private val p1Sql =
    """SELECT l_orderkey, l_linenumber, l_extendedprice
      |FROM lineitem ORDER BY l_orderkey, l_linenumber""".stripMargin

  // ---- P2+P4: drop + cast ------------------------------------------------
  // drop narrows the scan (column pruning); cast to decimal is exact. The
  // final cast back to double keeps the oracle dtype stable: DuckDB decimals
  // reach pandas as float64 while Spark parquet decimals arrive as Decimal
  // objects, so a DECIMAL output column hash-mismatches on formatting alone
  // (112946.2 vs 112946.20) even when every value is identical — the same
  // dtype-bridge class as the DATE→ISO-string rule (CLAUDE.md).
  private def p2DropCast(s: SparkSession, d: String): DataFrame =
    Tables.orders(s, d)
      .drop("o_orderstatus", "o_orderpriority", "o_orderdate")
      .withColumn("o_totalprice",
        col("o_totalprice").cast(DecimalType(12, 2)).cast("double"))
      .orderBy(col("o_orderkey"))

  private val p2Sql =
    """SELECT o_orderkey, o_custkey,
      |       CAST(CAST(o_totalprice AS DECIMAL(12,2)) AS DOUBLE) AS o_totalprice
      |FROM orders ORDER BY o_orderkey""".stripMargin

  // ---- P3: when/otherwise conditional repair (stroke_predict.py:49-50) ---
  private def p3WhenOtherwise(s: SparkSession, d: String): DataFrame =
    Tables.lineitem(s, d)
      .withColumn("flag_desc",
        when(col("l_returnflag") === "A", lit("accepted"))
          .when(col("l_returnflag") === "R", lit("returned"))
          .otherwise(lit("none")))
      .groupBy(col("flag_desc")).agg(count(lit(1)).as("n"))
      .orderBy(col("flag_desc"))

  private val p3Sql =
    """SELECT CASE WHEN l_returnflag = 'A' THEN 'accepted'
      |            WHEN l_returnflag = 'R' THEN 'returned'
      |            ELSE 'none' END AS flag_desc,
      |       COUNT(*) AS n
      |FROM lineitem GROUP BY 1 ORDER BY flag_desc""".stripMargin

  // ---- P5+P6: filter with compound predicate (pushed to parquet scan) ----
  private def p5Filter(s: SparkSession, d: String): DataFrame =
    Tables.lineitem(s, d)
      .filter(col("l_quantity") > 45 && col("l_returnflag") === "A" &&
        col("l_shipdate").isNotNull)
      .select(col("l_orderkey"), col("l_linenumber"), col("l_quantity"))
      .orderBy(col("l_orderkey"), col("l_linenumber"))

  private val p5Sql =
    """SELECT l_orderkey, l_linenumber, l_quantity
      |FROM lineitem
      |WHERE l_quantity > 45 AND l_returnflag = 'A' AND l_shipdate IS NOT NULL
      |ORDER BY l_orderkey, l_linenumber""".stripMargin

  // ---- A1: group-by count (stroke_predict.py:29-30) ----------------------
  private def a1GroupCount(s: SparkSession, d: String): DataFrame =
    Tables.lineitem(s, d)
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("l_returnflag"), col("l_linestatus"))

  private val a1Sql =
    """SELECT l_returnflag, l_linestatus, COUNT(*) AS n
      |FROM lineitem GROUP BY 1, 2 ORDER BY l_returnflag, l_linestatus""".stripMargin

  // ---- A2: global mean (stroke_predict.py:46-47) -------------------------
  private def a2GlobalMean(s: SparkSession, d: String): DataFrame =
    Tables.customer(s, d)
      .agg(davg(col("c_acctbal")).as("mean_acctbal"),
        count(lit(1)).as("n"))

  private val a2Sql =
    s"""SELECT ${sqlDavg("c_acctbal")} AS mean_acctbal, COUNT(*) AS n
       |FROM customer""".stripMargin

  // ---- A5: distinct ------------------------------------------------------
  private def a5Distinct(s: SparkSession, d: String): DataFrame =
    Tables.orders(s, d)
      .select(col("o_orderstatus"), col("o_orderpriority"))
      .distinct()
      .orderBy(col("o_orderstatus"), col("o_orderpriority"))

  private val a5Sql =
    """SELECT DISTINCT o_orderstatus, o_orderpriority
      |FROM orders ORDER BY o_orderstatus, o_orderpriority""".stripMargin

  // ---- A6: rollup (multi-level aggregation) ------------------------------
  // COALESCE folds rollup NULLs to 'ALL' so ordering is engine-neutral.
  private def a6Rollup(s: SparkSession, d: String): DataFrame =
    Tables.lineitem(s, d)
      .rollup(col("l_returnflag"), col("l_linestatus"))
      .agg(count(lit(1)).as("n"), sum(col("l_quantity")).as("sum_qty"))
      .select(
        coalesce(col("l_returnflag"), lit("ALL")).as("l_returnflag"),
        coalesce(col("l_linestatus"), lit("ALL")).as("l_linestatus"),
        col("n"), col("sum_qty"))
      .orderBy(col("l_returnflag"), col("l_linestatus"))

  private val a6Sql =
    """SELECT COALESCE(l_returnflag, 'ALL') AS l_returnflag,
      |       COALESCE(l_linestatus, 'ALL') AS l_linestatus,
      |       COUNT(*) AS n, SUM(l_quantity) AS sum_qty
      |FROM lineitem GROUP BY ROLLUP(l_returnflag, l_linestatus)
      |ORDER BY l_returnflag, l_linestatus""".stripMargin

  // ---- A8: cube (all grouping-set combinations) --------------------------
  private def a8Cube(s: SparkSession, d: String): DataFrame =
    Tables.orders(s, d)
      .cube(col("o_orderstatus"), col("o_orderpriority"))
      .agg(count(lit(1)).as("n"), dsum(col("o_totalprice")).as("sum_price"))
      .select(
        coalesce(col("o_orderstatus"), lit("ALL")).as("o_orderstatus"),
        coalesce(col("o_orderpriority"), lit("ALL")).as("o_orderpriority"),
        col("n"), col("sum_price"))
      .orderBy(col("o_orderstatus"), col("o_orderpriority"))

  private val a8Sql =
    s"""SELECT COALESCE(o_orderstatus, 'ALL') AS o_orderstatus,
       |       COALESCE(o_orderpriority, 'ALL') AS o_orderpriority,
       |       COUNT(*) AS n, ${sqlDsum("o_totalprice")} AS sum_price
       |FROM orders GROUP BY CUBE(o_orderstatus, o_orderpriority)
       |ORDER BY o_orderstatus, o_orderpriority""".stripMargin

  // ---- A9: grouping sets (the non-hierarchical family member) ------------
  // ((flag,status),(status)) is expressible by neither rollup nor cube —
  // it is the "report plus one side margin" shape. One shuffle: Spark
  // expands the sets map-side and aggregates all of them in one pass.
  private def a9GroupingSets(s: SparkSession, d: String): DataFrame =
    Tables.lineitem(s, d)
      .groupingSets(
        Seq(Seq(col("l_returnflag"), col("l_linestatus")),
          Seq(col("l_linestatus"))),
        col("l_returnflag"), col("l_linestatus"))
      .agg(count(lit(1)).as("n"), sum(col("l_quantity")).as("sum_qty"))
      .select(
        coalesce(col("l_returnflag"), lit("ALL")).as("l_returnflag"),
        coalesce(col("l_linestatus"), lit("ALL")).as("l_linestatus"),
        col("n"), col("sum_qty"))
      .orderBy(col("l_returnflag"), col("l_linestatus"))

  private val a9Sql =
    """SELECT COALESCE(l_returnflag, 'ALL') AS l_returnflag,
      |       COALESCE(l_linestatus, 'ALL') AS l_linestatus,
      |       COUNT(*) AS n, SUM(l_quantity) AS sum_qty
      |FROM lineitem
      |GROUP BY GROUPING SETS ((l_returnflag, l_linestatus), (l_linestatus))
      |ORDER BY l_returnflag, l_linestatus""".stripMargin

  // ---- U1: union (smote_sampling.py:52-54 — position-based unionAll) -----
  private def u1Union(s: SparkSession, d: String): DataFrame = {
    val c = Tables.customer(s, d)
    val hi = c.filter(col("c_acctbal") > 9000)
      .select(col("c_custkey"), col("c_mktsegment"), lit("high").as("tier"))
    val lo = c.filter(col("c_acctbal") < 1000)
      .select(col("c_custkey"), col("c_mktsegment"), lit("low").as("tier"))
    hi.union(lo).orderBy(col("c_custkey"), col("tier"))
  }

  private val u1Sql =
    """SELECT * FROM (
      |  SELECT c_custkey, c_mktsegment, 'high' AS tier FROM customer WHERE c_acctbal > 9000
      |  UNION ALL
      |  SELECT c_custkey, c_mktsegment, 'low' AS tier FROM customer WHERE c_acctbal < 1000
      |) ORDER BY c_custkey, tier""".stripMargin

  // ---- O1: top-k (global sort + limit; Spark plans TakeOrderedAndProject)
  private def o1TopK(s: SparkSession, d: String): DataFrame =
    Tables.orders(s, d)
      .select(col("o_orderkey"), col("o_totalprice"))
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
      .limit(25)

  private val o1Sql =
    """SELECT o_orderkey, o_totalprice FROM orders
      |ORDER BY o_totalprice DESC, o_orderkey LIMIT 25""".stripMargin

  // ---- Q1: TPC-H-Q1-style pricing summary (flagship) ---------------------
  private[graft] def q1Pricing(s: SparkSession, d: String): DataFrame =
    Tables.lineitem(s, d)
      .filter(col("l_shipdate") <= lit("1998-09-02"))
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(
        sum(col("l_quantity")).as("sum_qty"),
        dsum(col("l_extendedprice")).as("sum_base_price"),
        revenueSum(col("l_extendedprice"), col("l_discount")).as("sum_disc_price"),
        (sum(col("l_quantity")) / count(lit(1))).as("avg_qty"),
        davg(col("l_extendedprice")).as("avg_price"),
        (sum(col("l_discount").cast(DecimalType(4, 2))).cast("double") /
          count(lit(1))).as("avg_disc"),
        count(lit(1)).as("count_order"))
      .orderBy(col("l_returnflag"), col("l_linestatus"))

  private val q1Sql =
    s"""SELECT l_returnflag, l_linestatus,
       |  SUM(l_quantity) AS sum_qty,
       |  ${sqlDsum("l_extendedprice")} AS sum_base_price,
       |  ${sqlRevenueSum("l_extendedprice", "l_discount")} AS sum_disc_price,
       |  SUM(l_quantity) / COUNT(*) AS avg_qty,
       |  ${sqlDavg("l_extendedprice")} AS avg_price,
       |  CAST(SUM(CAST(l_discount AS DECIMAL(4,2))) AS DOUBLE) / COUNT(*) AS avg_disc,
       |  COUNT(*) AS count_order
       |FROM lineitem
       |WHERE l_shipdate <= TIMESTAMP '1998-09-02'
       |GROUP BY l_returnflag, l_linestatus
       |ORDER BY l_returnflag, l_linestatus""".stripMargin

  // ---- J1: 3-way star join with broadcast dim (TPC-H-Q3-style) -----------
  // customer is the small build side — broadcast() avoids a shuffle of the
  // fact tables on c_custkey; at 100 TB only orders⋈lineitem shuffles.
  private def j1Join(s: SparkSession, d: String): DataFrame = {
    val c = Tables.customer(s, d).filter(col("c_mktsegment") === "BUILDING")
    val o = Tables.orders(s, d).filter(col("o_orderdate") < lit("1998-01-01"))
    val l = Tables.lineitem(s, d).filter(col("l_shipdate") > lit("1997-01-01"))
    l.join(o, col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(c), col("o_custkey") === col("c_custkey"))
      .groupBy(col("o_orderkey"), col("o_orderdate"))
      .agg(revenueSum(col("l_extendedprice"), col("l_discount")).as("revenue"))
      .orderBy(col("revenue").desc, col("o_orderkey"))
      .limit(20)
  }

  private val j1Sql =
    s"""SELECT o_orderkey, o_orderdate,
       |  ${sqlRevenueSum("l_extendedprice", "l_discount")} AS revenue
       |FROM lineitem
       |JOIN orders   ON l_orderkey = o_orderkey
       |JOIN customer ON o_custkey = c_custkey
       |WHERE c_mktsegment = 'BUILDING'
       |  AND o_orderdate < TIMESTAMP '1998-01-01'
       |  AND l_shipdate  > TIMESTAMP '1997-01-01'
       |GROUP BY o_orderkey, o_orderdate
       |ORDER BY revenue DESC, o_orderkey LIMIT 20""".stripMargin

  // ---- J2: 5-way snowflake join (TPC-H-Q5-style) -------------------------
  // region→nation→customer are tiny dims: all broadcast; the only shuffle
  // at scale is orders⋈lineitem on orderkey.
  private def j2MultiJoin(s: SparkSession, d: String): DataFrame = {
    val r = Tables.region(s, d)
    val n = Tables.nation(s, d)
    val c = Tables.customer(s, d)
    val o = Tables.orders(s, d).filter(
      col("o_orderdate") >= lit("1996-01-01") &&
        col("o_orderdate") < lit("1998-01-01"))
    val l = Tables.lineitem(s, d)
    l.join(o, col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(c), col("o_custkey") === col("c_custkey"))
      .join(broadcast(n), col("c_nationkey") === col("n_nationkey"))
      .join(broadcast(r), col("n_regionkey") === col("r_regionkey"))
      .groupBy(col("r_name"), col("n_name"))
      .agg(revenueSum(col("l_extendedprice"), col("l_discount")).as("revenue"),
        count(lit(1)).as("n_items"))
      .orderBy(col("r_name"), col("n_name"))
  }

  private val j2Sql =
    s"""SELECT r_name, n_name,
       |  ${sqlRevenueSum("l_extendedprice", "l_discount")} AS revenue,
       |  COUNT(*) AS n_items
       |FROM lineitem
       |JOIN orders   ON l_orderkey = o_orderkey
       |JOIN customer ON o_custkey = c_custkey
       |JOIN nation   ON c_nationkey = n_nationkey
       |JOIN region   ON n_regionkey = r_regionkey
       |WHERE o_orderdate >= TIMESTAMP '1996-01-01'
       |  AND o_orderdate <  TIMESTAMP '1998-01-01'
       |GROUP BY r_name, n_name ORDER BY r_name, n_name""".stripMargin

  // ---- Q6: forecast revenue (TPC-H Q6 shape) -----------------------------
  // Pure scan → filter → one-row aggregate: the whole WHERE reaches the
  // parquet reader as PushedFilters and only three columns are decoded
  // (plan-asserted in CoreOpsSpec). At 100 TB this is the I/O-bound query
  // class where pushdown + pruning ARE the optimization — no join, no
  // shuffle beyond the single partial-agg exchange of one row per task.
  private def q6Forecast(s: SparkSession, d: String): DataFrame =
    Tables.lineitem(s, d)
      .filter(col("l_shipdate") >= lit("1997-01-01") &&
        col("l_shipdate") < lit("1998-01-01") &&
        col("l_discount") >= 0.03 && col("l_discount") <= 0.07 &&
        col("l_quantity") < 24)
      .agg(
        sum(col("l_extendedprice").cast(DecimalType(14, 2)) *
          col("l_discount").cast(DecimalType(4, 2)))
          .cast("double").as("revenue"),
        count(lit(1)).as("n_rows"))

  private val q6Sql =
    """SELECT
      |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(14,2)) *
      |           CAST(l_discount AS DECIMAL(4,2))) AS DOUBLE) AS revenue,
      |  CAST(COUNT(*) AS BIGINT) AS n_rows
      |FROM lineitem
      |WHERE l_shipdate >= TIMESTAMP '1997-01-01'
      |  AND l_shipdate <  TIMESTAMP '1998-01-01'
      |  AND l_discount BETWEEN 0.03 AND 0.07
      |  AND l_quantity < 24""".stripMargin

  // ---- J3: semi/anti join (EXISTS / NOT EXISTS) --------------------------
  private def j3SemiAnti(s: SparkSession, d: String): DataFrame = {
    val c = Tables.customer(s, d)
    val o = Tables.orders(s, d).select(col("o_custkey"))
    val withOrders = c.join(o, col("c_custkey") === col("o_custkey"), "left_semi")
      .select(col("c_custkey"), lit("with_orders").as("kind"))
    val noOrders = c.join(o, col("c_custkey") === col("o_custkey"), "left_anti")
      .select(col("c_custkey"), lit("no_orders").as("kind"))
    withOrders.union(noOrders).orderBy(col("c_custkey"), col("kind"))
  }

  private val j3Sql =
    """SELECT * FROM (
      |  SELECT c_custkey, 'with_orders' AS kind FROM customer
      |  WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
      |  UNION ALL
      |  SELECT c_custkey, 'no_orders' AS kind FROM customer
      |  WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
      |) ORDER BY c_custkey, kind""".stripMargin

  // ---- SQL1: the SQL surface itself --------------------------------------
  // Executes the *exact DuckDB oracle text* through spark.sql — the
  // flagship query expressed in ANSI SQL runs unchanged on both engines.

  /** Runs `text` on `s` with the [[Tables]] it names bound as views of `d`. */
  private[graft] def sql(s: SparkSession, d: String, text: String): DataFrame = {
    registerViews(s, d, text)
    s.sql(text)
  }

  /** Binds, as temp views of `s`, the [[Tables.names]] that `text`
    * references, subquery and CTE bodies included, and no others: a view
    * costs a file listing and a footer read to bind. Each view is an
    * artifact of family (view, session, name) and version (dir, stamp),
    * so it is rebound when a query names it over another dir (a session
    * holds one view per name) or when the file changes.
    */
  private[graft] def registerViews(s: SparkSession, d: String,
      text: String): Unit =
    referencedTables(s, text).foreach { n =>
      Artifacts.value(Artifacts.Key("view", Seq(s, n), Nil,
          (d, Artifacts.stamp(Tables.path(d, n))))) {
        val df = if (n == "events") Tables.events(s, d) else Tables.t(s, d, n)
        df.createOrReplaceTempView(n)
      }
    }

  /** The [[Tables.names]] that `text` reads as unqualified relations,
    * matched case-insensitively, from the session parser's plan. */
  private[graft] def referencedTables(s: SparkSession,
      text: String): Seq[String] = {
    import org.apache.spark.sql.catalyst.analysis.UnresolvedRelation
    import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
    def names(p: LogicalPlan): Seq[String] = (p match {
      case r: UnresolvedRelation if r.multipartIdentifier.size == 1 =>
        r.multipartIdentifier
      case _ => Nil
    }) ++ (p.children ++ p.subqueries ++
      p.innerChildren.collect { case c: LogicalPlan => c }).flatMap(names)
    val named = names(s.sessionState.sqlParser.parsePlan(text))
      .map(_.toLowerCase(java.util.Locale.ROOT)).toSet
    Tables.names.filter(named)
  }

  private def sql1TpchQ1(s: SparkSession, d: String): DataFrame =
    sql(s, d, q1Sql)

  /** SQL2: the snowflake join (j2's Q5 shape) through the same raw-SQL
    * surface — the exact DuckDB oracle text, joins and decimal revenue
    * arithmetic included, parsed and planned by Spark unchanged.
    * Catalyst still broadcasts the dims (no hints in the text — size
    * estimation does it), which is the point: ANSI text in, the same
    * plan quality as the DataFrame form out.
    */
  private def sql2TpchQ5(s: SparkSession, d: String): DataFrame =
    sql(s, d, j2Sql)

  /** SQL3: the shipping-priority shape (TPC-H Q3) — a 3-way
    * fact-to-fact-to-dim join with filters on all three tables, a grouped
    * decimal revenue aggregate, and a top-10 by revenue. One ANSI text
    * runs unchanged on Spark and DuckDB: dates flow out as
    * `substr(CAST(ts AS VARCHAR(30)), 1, 10)` (both engines render
    * timestamps ISO, so the first 10 chars are the date — no
    * engine-specific formatting function; Spark needs the explicit
    * VARCHAR length, DuckDB ignores it), revenue is the
    * [[graft.util.Det]] decimal-exact
    * sum, and the ORDER BY is totalized by l_orderkey so the LIMIT
    * boundary can't be tie-ambiguous.
    *
    * Scale: Catalyst broadcasts the filtered customer side under the
    * join, pushes all three predicates into the parquet scans, and the
    * top-10 is TakeOrderedAndProject — per-partition heaps + a 10-row
    * merge, never a global sort of the grouped revenue.
    */
  private def sql3TpchQ3(s: SparkSession, d: String): DataFrame =
    sql(s, d, q3Sql)

  /** SQL4: TPC-H Q18 (large-volume customers) — top-k over a
    * HAVING-filtered aggregate feeding a semi-join back into a 3-way
    * join + re-aggregation. One ANSI text, both engines: the IN
    * subquery plans as a LeftSemi hash join on l_orderkey (the HAVING
    * aggregate completes map-side before its exchange), quantities are
    * integral doubles so their sums are IEEE-exact in any order (cast
    * BIGINT on output), and the top-100 is totalized by o_orderkey.
    * Threshold 250 sits at the quantity-sum p99 of the testdata, the
    * Q18 selectivity shape.
    *
    * Scale: the semi-join's build side is the HAVING survivors (~1% of
    * orders); Catalyst broadcasts it under the fact scan when small and
    * falls back to a shuffled semi-join beyond — no plan rewrite needed
    * at 100 TB. The final LIMIT rides TakeOrderedAndProject.
    */
  private def sql4TpchQ18(s: SparkSession, d: String): DataFrame =
    sql(s, d, q18Sql)

  private val q18Sql =
    """SELECT c_name, c_custkey, o_orderkey,
      |  substr(CAST(o_orderdate AS VARCHAR(30)), 1, 10) AS o_orderdate,
      |  o_totalprice, CAST(sum(l_quantity) AS BIGINT) AS sum_qty
      |FROM customer, orders, lineitem
      |WHERE o_orderkey IN (
      |  SELECT l_orderkey FROM lineitem
      |  GROUP BY l_orderkey HAVING sum(l_quantity) > 250)
      |  AND c_custkey = o_custkey AND l_orderkey = o_orderkey
      |GROUP BY c_name, c_custkey, o_orderkey, o_orderdate, o_totalprice
      |ORDER BY o_totalprice DESC, o_orderkey
      |LIMIT 100""".stripMargin

  /** SQL5: TPC-H Q20's nested-semi-join shape (potential part
    * promotion), adapted to the testdata schema (no partsupp table —
    * the inner correlate runs on lineitem): suppliers of '%bolt%' parts
    * who moved > 100 units since 1996, restricted to a nation group.
    * Two nested IN subqueries plan as stacked LeftSemi joins — the
    * part-name filter prunes lineitem FIRST (broadcast semi on
    * p_partkey), then the per-supplier aggregate gates the outer semi
    * on s_suppkey; the supplier×nation dim join broadcasts. Quantity
    * sums are integral-double exact as in SQL4.
    */
  private def sql5TpchQ20(s: SparkSession, d: String): DataFrame =
    sql(s, d, q20Sql)

  private val q20Sql =
    """SELECT s_suppkey, s_name, s_acctbal
      |FROM supplier, nation
      |WHERE s_suppkey IN (
      |  SELECT l_suppkey FROM lineitem
      |  WHERE l_partkey IN (
      |    SELECT p_partkey FROM part WHERE p_name LIKE '%bolt%')
      |    AND l_shipdate >= TIMESTAMP '1996-01-01'
      |  GROUP BY l_suppkey HAVING sum(l_quantity) > 100)
      |  AND s_nationkey = n_nationkey AND n_name LIKE 'NATION_1%'
      |ORDER BY s_name, s_suppkey""".stripMargin

  /** SQL6: TPC-H Q13's customer-distribution shape — a LEFT OUTER join
    * with a filter INSIDE the ON clause (the planner must keep unmatched
    * customers, so the predicate cannot be pushed below the join as a
    * WHERE), a per-customer count over the null-padded side, then a
    * second aggregation over the counts. count(o_orderkey) counts
    * non-null matches, so order-less customers land in the c_count = 0
    * bucket — the classic distribution query.
    *
    * Scale: customer⋈orders shuffles on custkey (near-uniform); the
    * second aggregate's key space is tiny (distinct order counts), its
    * partial completes map-side.
    */
  private def sql6TpchQ13(s: SparkSession, d: String): DataFrame =
    sql(s, d, q13Sql)

  private val q13Sql =
    """SELECT c_count, CAST(count(*) AS BIGINT) AS custdist
      |FROM (
      |  SELECT c_custkey, CAST(count(o_orderkey) AS BIGINT) AS c_count
      |  FROM customer LEFT OUTER JOIN orders
      |    ON c_custkey = o_custkey AND o_orderpriority <> '1-URGENT'
      |  GROUP BY c_custkey) c_orders
      |GROUP BY c_count
      |ORDER BY custdist DESC, c_count DESC""".stripMargin

  /** SQL7: TPC-H Q22's shape (global sales opportunity) adapted to the
    * schema (no c_phone — the country code derives from c_nationkey):
    * an uncorrelated scalar aggregate subquery gates the threshold, a
    * NOT EXISTS anti-semi-join drops customers with orders, and the
    * survivors aggregate by code. The threshold average runs in exact
    * decimal (util.Det discipline) — a plain avg(double) is
    * partition-order dependent and a boundary customer could flip
    * membership between engines.
    */
  private def sql7TpchQ22(s: SparkSession, d: String): DataFrame =
    sql(s, d, q22Sql)

  private val q22Sql =
    s"""SELECT CAST(c_nationkey % 10 AS INTEGER) AS cntrycode,
       |  CAST(count(*) AS BIGINT) AS numcust,
       |  ${graft.util.Det.sqlDsum("c_acctbal")} AS totacctbal
       |FROM customer
       |WHERE c_acctbal > (
       |    SELECT CAST(0.9 AS DOUBLE) *
       |      CAST(avg(CAST(c_acctbal AS DECIMAL(14,2))) AS DOUBLE)
       |    FROM customer WHERE c_acctbal > 0.0)
       |  AND NOT EXISTS (
       |    SELECT 1 FROM orders
       |    WHERE o_custkey = c_custkey AND o_orderpriority = '1-URGENT')
       |GROUP BY 1
       |ORDER BY cntrycode""".stripMargin

  /** SQL8: TPC-H Q17's small-quantity-order shape — a scalar subquery
    * CORRELATED on the outer part key (Q22's was uncorrelated): line
    * items below 20% of their part's average quantity. Catalyst
    * decorrelates it into a per-partkey aggregate joined back to
    * lineitem, so the "subquery per row" never executes row-at-a-time.
    *
    * Engine parity for the threshold: l_quantity is integer-valued, so
    * avg over BIGINT sums exactly in both engines (long here, hugeint
    * in DuckDB) and the final divide/multiply are single correctly-
    * rounded IEEE ops — the comparison is bit-identical, no boundary
    * row can flip. (A double SUM would be partition-order dependent.)
    *
    * Scale: the decorrelated aggregate shuffles lineitem once on
    * partkey (map-side partials), the rejoin is partkey⋈partkey, and
    * the brand filter reaches the part scan. Output is one row per
    * brand — final agg collapses map-side.
    */
  private def sql8TpchQ17(s: SparkSession, d: String): DataFrame =
    sql(s, d, q17Sql)

  private val q17Sql =
    s"""SELECT p_brand, CAST(count(*) AS BIGINT) AS n_small,
       |  ${graft.util.Det.sqlDsum("l_extendedprice")} AS small_revenue
       |FROM lineitem, part
       |WHERE p_partkey = l_partkey
       |  AND p_brand LIKE 'Brand#1%'
       |  AND CAST(l_quantity AS DOUBLE) < CAST(0.2 AS DOUBLE) * (
       |    SELECT CAST(avg(CAST(l2.l_quantity AS BIGINT)) AS DOUBLE)
       |    FROM lineitem l2 WHERE l2.l_partkey = part.p_partkey)
       |GROUP BY p_brand
       |ORDER BY p_brand""".stripMargin

  /** SQL9: TPC-H Q16's parts/supplier-count shape on this schema
    * (lineitem's (partkey, suppkey) pairs stand in for partsupp):
    * COUNT(DISTINCT) per group with a NOT IN subquery excluding
    * flagged suppliers. s_suppkey is non-nullable so NOT IN is a plain
    * anti-join (no null-semantics trap), and the excluded set
    * (negative balances) broadcasts. The distinct-aggregate expands to
    * a two-phase plan: dedup (brand, size, suppkey) partials map-side,
    * then count per (brand, size).
    */
  private def sql9TpchQ16(s: SparkSession, d: String): DataFrame =
    sql(s, d, q16Sql)

  private val q16Sql =
    """SELECT p_brand, p_size,
      |  CAST(count(DISTINCT l_suppkey) AS BIGINT) AS supplier_cnt
      |FROM part, lineitem
      |WHERE p_partkey = l_partkey
      |  AND p_size BETWEEN 1 AND 25
      |  AND l_suppkey NOT IN (
      |    SELECT s_suppkey FROM supplier
      |    WHERE s_acctbal < CAST(0.0 AS DOUBLE))
      |GROUP BY p_brand, p_size
      |ORDER BY supplier_cnt DESC, p_brand, p_size""".stripMargin

  /** SQL10: TPC-H Q14's promo-revenue-share shape, per ship month — a
    * conditional aggregate ratio (CASE inside SUM) over a fact⋈dim join.
    * Parity: both sums accumulate in exact decimal (the CASE zero branch
    * included), each decimal→double cast is deterministic, and the final
    * ratio is rounded to 6 dp on the shared text — no
    * partition-order-dependent double addition anywhere. Scale: one
    * broadcast of part (or shuffle on partkey), month grouping collapses
    * map-side (~tens of groups).
    */
  private def sql10TpchQ14(s: SparkSession, d: String): DataFrame =
    sql(s, d, q14Sql)

  private val q14Sql =
    s"""SELECT substr(CAST(l_shipdate AS VARCHAR(30)), 1, 7) AS ship_month,
       |  ROUND(100.00 * CAST(SUM(
       |      CAST(CASE WHEN p_type = 'PROMO' THEN l_extendedprice ELSE 0 END
       |        AS DECIMAL(14,2))
       |      * (CAST(1 AS DECIMAL(4,2)) - CAST(l_discount AS DECIMAL(4,2))))
       |    AS DOUBLE)
       |    / ${sqlRevenueSum("l_extendedprice", "l_discount")}, 6)
       |    AS promo_revenue_pct
       |FROM lineitem, part
       |WHERE l_partkey = p_partkey
       |  AND l_shipdate >= TIMESTAMP '1996-01-01'
       |  AND l_shipdate < TIMESTAMP '1997-01-01'
       |GROUP BY 1 ORDER BY ship_month""".stripMargin

  /** SQL11: TPC-H Q19's OR-of-ANDs shape — three disjunctive brand ×
    * size × quantity windows. The planner must (a) push the common
    * equi-key through the OR so the join stays a hash join (not a
    * nested-loop over the disjunction) and (b) derive the per-table
    * residual filters from the OR's common factors. One decimal revenue
    * row out.
    */
  private def sql11TpchQ19(s: SparkSession, d: String): DataFrame =
    sql(s, d, q19Sql)

  private val q19Sql =
    s"""SELECT CAST(COUNT(*) AS BIGINT) AS n,
       |  ${sqlRevenueSum("l_extendedprice", "l_discount")} AS revenue
       |FROM lineitem, part
       |WHERE p_partkey = l_partkey AND (
       |     (p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 5
       |       AND l_quantity BETWEEN 1 AND 11)
       |  OR (p_brand = 'Brand#23' AND p_size BETWEEN 1 AND 10
       |       AND l_quantity BETWEEN 10 AND 20)
       |  OR (p_brand = 'Brand#34' AND p_size BETWEEN 1 AND 15
       |       AND l_quantity BETWEEN 20 AND 30))""".stripMargin

  /** SQL12: TPC-H Q4's EXISTS shape adapted to this schema (no
    * l_commitdate here; "late" = any line shipped >60 days after the
    * order date). A correlated EXISTS with an inequality on the OUTER
    * column — Catalyst plans it as a left-semi join on orderkey with the
    * date comparison as a join-side residual, so the subquery never
    * executes per row; DuckDB plans the same semi-join. Counts per
    * priority collapse map-side.
    */
  private def sql12TpchQ4(s: SparkSession, d: String): DataFrame =
    sql(s, d, q4Sql)

  private val q4Sql =
    """SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS order_count
      |FROM orders
      |WHERE o_orderdate >= TIMESTAMP '1996-01-01'
      |  AND o_orderdate < TIMESTAMP '1996-04-01'
      |  AND EXISTS (
      |    SELECT 1 FROM lineitem
      |    WHERE l_orderkey = o_orderkey
      |      AND l_shipdate > o_orderdate + INTERVAL 60 DAY)
      |GROUP BY o_orderpriority
      |ORDER BY o_orderpriority""".stripMargin

  /** SQL13: TPC-H Q21's shape (suppliers who kept orders waiting) —
    * the hardest decorrelation in the suite: a fact self-joined THREE
    * ways, one positive EXISTS (another supplier contributed to the
    * same order) and one negative NOT EXISTS (no OTHER supplier was
    * also late), both correlated on the outer l_orderkey AND the outer
    * order's date. Adapted to this schema like sql12: "late" =
    * shipped >60 days after the order date (no l_receiptdate here;
    * reference has no commit/receipt columns either).
    *
    * Catalyst decorrelates both subqueries into left-semi /
    * left-anti hash joins — but that still scans lineitem THREE times
    * and builds two lineitem-sized broadcast hash relations per
    * execution (the r18 plan: 3 scans + 5 BroadcastExchanges, 0.97 s).
    * The Spark side instead evaluates the algebraic form of the same
    * predicate in ONE lineitem pass (r19, guide §2.4 remove-shuffles /
    * §1.2 the-distributed-algorithm): per (orderkey, suppkey) count the
    * late lines, per orderkey count distinct suppliers and distinct
    * LATE suppliers — "EXISTS other supplier" ⇔ n_supp ≥ 2, "NOT EXISTS
    * other late supplier" (for a late l1) ⇔ n_late_supp = 1, and each
    * qualifying l1 ROW is one late line of that single late supplier,
    * so numwait sums its late_cnt. One slim exchange on l_orderkey
    * (explicit repartition — HashPartitioning(ok) clusters both the
    * (ok, sk) and the (ok) aggregate, so the two levels share it).
    * supplier⋈nation is dimension-sized and broadcast explicitly;
    * orders(F) is about half of orders, so it carries no hint: size
    * estimation and AQE broadcast it at bench scale and fall back to a
    * shuffle join once it outgrows the broadcast threshold.
    * The oracle SQL below stays the reference three-way form — the
    * driver's hash compare is the equivalence proof (verified at
    * sf0.01 and sf0.1). The top-100 is TakeOrderedAndProject;
    * (numwait DESC, s_name) totalizes the boundary.
    */
  private def sql13TpchQ21(s: SparkSession, d: String): DataFrame = {
    val o = Tables.orders(s, d).filter(col("o_orderstatus") === "F")
      .select(col("o_orderkey"), col("o_orderdate"))
    val lo = Tables.lineitem(s, d)
      .select(col("l_orderkey"), col("l_suppkey"), col("l_shipdate"))
      .join(o, col("l_orderkey") === col("o_orderkey"))
      .select(col("l_orderkey"), col("l_suppkey"),
        (col("l_shipdate") > col("o_orderdate") + expr("INTERVAL 60 DAY"))
          .as("late"))
      .repartition(col("l_orderkey"))
    val perSupp = lo.groupBy(col("l_orderkey"), col("l_suppkey"))
      .agg(sum(when(col("late"), 1L).otherwise(0L)).as("late_cnt"))
    val waiting = perSupp.groupBy(col("l_orderkey"))
      .agg(count(lit(1)).as("n_supp"),
        sum(when(col("late_cnt") > 0, 1L).otherwise(0L)).as("n_late_supp"),
        max(when(col("late_cnt") > 0, col("l_suppkey"))).as("late_suppkey"),
        max(when(col("late_cnt") > 0, col("late_cnt"))).as("late_cnt"))
      .filter(col("n_supp") >= 2 && col("n_late_supp") === 1)
    val sn = Tables.supplier(s, d)
      .join(Tables.nation(s, d), col("s_nationkey") === col("n_nationkey"))
      .filter(col("n_name").isin("NATION_0", "NATION_1", "NATION_2",
        "NATION_3"))
      .select(col("s_suppkey"), col("s_name"))
    waiting.join(broadcast(sn), col("late_suppkey") === col("s_suppkey"))
      .groupBy(col("s_name"))
      .agg(sum(col("late_cnt")).cast("long").as("numwait"))
      .orderBy(col("numwait").desc, col("s_name"))
      .limit(100)
  }

  private val q21Sql =
    """SELECT s_name, CAST(count(*) AS BIGINT) AS numwait
      |FROM supplier, lineitem l1, orders, nation
      |WHERE s_suppkey = l1.l_suppkey
      |  AND o_orderkey = l1.l_orderkey
      |  AND o_orderstatus = 'F'
      |  AND l1.l_shipdate > o_orderdate + INTERVAL 60 DAY
      |  AND EXISTS (
      |    SELECT 1 FROM lineitem l2
      |    WHERE l2.l_orderkey = l1.l_orderkey
      |      AND l2.l_suppkey <> l1.l_suppkey)
      |  AND NOT EXISTS (
      |    SELECT 1 FROM lineitem l3
      |    WHERE l3.l_orderkey = l1.l_orderkey
      |      AND l3.l_suppkey <> l1.l_suppkey
      |      AND l3.l_shipdate > o_orderdate + INTERVAL 60 DAY)
      |  AND s_nationkey = n_nationkey
      |  AND n_name IN ('NATION_0','NATION_1','NATION_2','NATION_3')
      |GROUP BY s_name
      |ORDER BY numwait DESC, s_name
      |LIMIT 100""".stripMargin

  /** SQL14: TPC-H Q15 (top supplier) — a named aggregate view consumed
    * TWICE in one query: once as the join input and once under a
    * global-MAX scalar subquery the outer equality compares against.
    * The per-supplier revenue is kept DECIMAL(18,4) end-to-end so the
    * MAX equality is exact arithmetic, never a double compare at the
    * boundary (the one place Q15 can go nondeterministic); the cast to
    * double happens on output only.
    *
    * Scale: the CTE is |suppliers| rows after one keyed shuffle of the
    * date-sliced fact (filter pushed to the scan); its MAX is a
    * one-row broadcast. Spark inlines the CTE (computes the slice
    * twice) — acceptable because the slice is one pushed-filter scan;
    * materialize via localCheckpoint if the window ever widens to the
    * full fact.
    */
  private def sql14TpchQ15(s: SparkSession, d: String): DataFrame =
    sql(s, d, q15Sql)

  private val q15Sql =
    """WITH revenue AS (
      |  SELECT l_suppkey AS supplier_no,
      |    CAST(SUM(CAST(l_extendedprice AS DECIMAL(14,2))
      |      * (1 - CAST(l_discount AS DECIMAL(14,2)))) AS DECIMAL(18,4))
      |      AS total_revenue
      |  FROM lineitem
      |  WHERE l_shipdate >= TIMESTAMP '1997-01-01'
      |    AND l_shipdate < TIMESTAMP '1997-04-01'
      |  GROUP BY l_suppkey)
      |SELECT s_suppkey, s_name,
      |  CAST(total_revenue AS DOUBLE) AS total_revenue
      |FROM supplier, revenue
      |WHERE s_suppkey = supplier_no
      |  AND total_revenue = (SELECT MAX(total_revenue) FROM revenue)
      |ORDER BY s_suppkey""".stripMargin

  /** SQL15: TPC-H Q11's shape (important stock) adapted to this schema
    * (no partsupp table): per-supplier revenue HAVING-filtered against
    * a fraction of the GLOBAL revenue — a grouped aggregate compared
    * to a global scalar-subquery aggregate over the same fact. The
    * threshold is scale-relative (× 1.02 / distinct-supplier count,
    * Q11's own 0.0001/SF trick) so the query stays selective-but-
    * non-empty at every SF. Both compared values go through an
    * explicit DOUBLE cast from exact decimal sums, so both engines
    * take identical IEEE values into the comparison (CLAUDE.md decimal
    * literal rule).
    *
    * Scale: ONE aggregation of one fact scan — the global sum and the
    * supplier count DERIVE from the grouped aggregate (decimal addition
    * is exact, so Σ of per-supplier decimal sums ≡ the row-level global
    * sum bit-for-bit, and |groups| ≡ COUNT(DISTINCT l_suppkey)); the
    * one-row threshold broadcasts into a map-side filter over
    * |suppliers| rows. The oracle keeps TPC-H's two-aggregation SQL —
    * value-identical by the exactness argument, and the hash gate
    * proves it. (Round 15: the previous form ran the SQL verbatim and
    * paid the fact scan twice — 2.3 s → 1.0 s at sf0.1.)
    */
  private def sql15TpchQ11(s: SparkSession, d: String): DataFrame = {
    val dec = (c: Column) => c.cast(DecimalType(14, 2))
    val per = Tables.lineitem(s, d)
      .groupBy(col("l_suppkey"))
      .agg(sum(dec(col("l_extendedprice")) *
        (lit(1) - dec(col("l_discount")))).as("rev_dec"))
    // identical double arithmetic to the oracle's threshold expression:
    // CAST(Σ AS DOUBLE) * 1.02 / COUNT(DISTINCT l_suppkey)
    val thr = per.agg((sum(col("rev_dec")).cast("double") * lit(1.02) /
      count(lit(1))).as("thr"))
    per.crossJoin(broadcast(thr))
      .filter(col("rev_dec").cast("double") > col("thr"))
      .select(col("l_suppkey"),
        col("rev_dec").cast("double").as("revenue"))
      .orderBy(col("revenue").desc, col("l_suppkey"))
  }

  private val q11Sql =
    """SELECT l_suppkey, CAST(revenue AS DOUBLE) AS revenue FROM (
      |  SELECT l_suppkey,
      |    SUM(CAST(l_extendedprice AS DECIMAL(14,2))
      |      * (1 - CAST(l_discount AS DECIMAL(14,2)))) AS revenue
      |  FROM lineitem GROUP BY l_suppkey)
      |WHERE CAST(revenue AS DOUBLE) > (
      |  SELECT CAST(SUM(CAST(l_extendedprice AS DECIMAL(14,2))
      |    * (1 - CAST(l_discount AS DECIMAL(14,2)))) AS DOUBLE)
      |    * 1.02 / COUNT(DISTINCT l_suppkey)
      |  FROM lineitem)
      |ORDER BY revenue DESC, l_suppkey""".stripMargin

  private val q3Sql =
    s"""SELECT l_orderkey,
       |  ${sqlRevenueSum("l_extendedprice", "l_discount")} AS revenue,
       |  substr(CAST(o_orderdate AS VARCHAR(30)), 1, 10) AS o_orderdate,
       |  o_orderpriority
       |FROM customer, orders, lineitem
       |WHERE c_mktsegment = 'BUILDING'
       |  AND c_custkey = o_custkey
       |  AND l_orderkey = o_orderkey
       |  AND o_orderdate < TIMESTAMP '1996-06-30'
       |  AND l_shipdate > TIMESTAMP '1996-06-30'
       |GROUP BY l_orderkey, o_orderdate, o_orderpriority
       |ORDER BY revenue DESC, o_orderdate, l_orderkey
       |LIMIT 10""".stripMargin

  /** SQL16: TPC-H Q10 (returned-item reporting) — the lost-revenue
    * ranking: a quarter of orders, only returned lineitems, re-keyed to
    * the customer with their nation, top-20 by decimal-exact revenue.
    * One ANSI text, both engines; (revenue DESC, c_custkey) totalizes
    * the LIMIT boundary.
    *
    * Scale: the orderdate quarter prunes the orders scan (pushed
    * filter), l_returnflag prunes lineitem; the customer and nation
    * sides broadcast under Catalyst's size estimation; the final
    * top-20 is TakeOrderedAndProject over the grouped frame — no
    * global sort.
    */
  private def sql16TpchQ10(s: SparkSession, d: String): DataFrame =
    sql(s, d, q10Sql)

  private val q10Sql =
    s"""SELECT c_custkey, c_name,
       |  ${sqlRevenueSum("l_extendedprice", "l_discount")} AS revenue,
       |  c_acctbal, n_name
       |FROM customer, orders, lineitem, nation
       |WHERE c_custkey = o_custkey AND l_orderkey = o_orderkey
       |  AND o_orderdate >= TIMESTAMP '1997-01-01'
       |  AND o_orderdate <  TIMESTAMP '1997-04-01'
       |  AND l_returnflag = 'R'
       |  AND c_nationkey = n_nationkey
       |GROUP BY c_custkey, c_name, c_acctbal, n_name
       |ORDER BY revenue DESC, c_custkey
       |LIMIT 20""".stripMargin

  /** SQL17: TPC-H Q12's shape (shipping modes / priority classes),
    * adapted to this schema (no l_shipmode/commitdate/receiptdate:
    * l_linestatus is the mode dimension, "late" = shipped > 30 days
    * after order date). The core shape survives intact: fact-fact join,
    * a date-window filter, and two complementary CASE-sum pivots per
    * group — TPC-H's canonical conditional-aggregation pattern.
    *
    * Scale: the shipdate year prunes lineitem at the scan; the join
    * shuffles both facts on orderkey once; CASE-sums complete map-side
    * (two longs per group), so the exchange carries 2 groups × 32
    * partial rows regardless of data size.
    */
  private def sql17TpchQ12(s: SparkSession, d: String): DataFrame =
    sql(s, d, q12Sql)

  private val q12Sql =
    """SELECT l_linestatus,
      |  CAST(SUM(CASE WHEN o_orderpriority = '1-URGENT' OR o_orderpriority = '2-HIGH'
      |    THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
      |  CAST(SUM(CASE WHEN o_orderpriority <> '1-URGENT' AND o_orderpriority <> '2-HIGH'
      |    THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
      |FROM orders, lineitem
      |WHERE o_orderkey = l_orderkey
      |  AND l_shipdate > o_orderdate + INTERVAL 30 DAY
      |  AND l_shipdate >= TIMESTAMP '1997-01-01'
      |  AND l_shipdate <  TIMESTAMP '1998-01-01'
      |GROUP BY l_linestatus
      |ORDER BY l_linestatus""".stripMargin

  /** SQL18: TPC-H Q7 (volume shipping) — bidirectional nation-group
    * flows: supplier nation × customer nation × ship year, via a
    * 6-table join with a symmetric OR predicate over the two nation
    * dims. Nation GROUPS (prefix LIKE) rather than single nations keep
    * the result non-degenerate at sf0.001's 10 suppliers. The ship
    * year is the engine-portable substr-of-ISO-timestamp prefix (both
    * engines render timestamps ISO — no format function).
    *
    * Scale: both nation dims broadcast (25 rows); the OR pair
    * predicate is evaluated as a join residual after the broadcasts,
    * never a cartesian; lineitem→orders→customer shuffles on their
    * keys once each, and the group-by key space (nations² × years) is
    * tiny so partials complete map-side.
    */
  private def sql18TpchQ7(s: SparkSession, d: String): DataFrame =
    sql(s, d, q7Sql)

  private val q7Sql =
    s"""SELECT supp_nation, cust_nation, l_year,
       |  ${sqlRevenueSum("volume_price", "volume_disc")} AS revenue
       |FROM (
       |  SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
       |    substr(CAST(l_shipdate AS VARCHAR(30)), 1, 4) AS l_year,
       |    l_extendedprice AS volume_price, l_discount AS volume_disc
       |  FROM supplier, lineitem, orders, customer, nation n1, nation n2
       |  WHERE s_suppkey = l_suppkey AND o_orderkey = l_orderkey
       |    AND c_custkey = o_custkey
       |    AND s_nationkey = n1.n_nationkey AND c_nationkey = n2.n_nationkey
       |    AND ((n1.n_name LIKE 'NATION_1%' AND n2.n_name LIKE 'NATION_2%')
       |      OR (n1.n_name LIKE 'NATION_2%' AND n2.n_name LIKE 'NATION_1%'))
       |    AND l_shipdate >= TIMESTAMP '1996-01-01'
       |    AND l_shipdate <  TIMESTAMP '1998-01-01'
       |) AS shipping
       |GROUP BY supp_nation, cust_nation, l_year
       |ORDER BY supp_nation, cust_nation, l_year""".stripMargin

  /** SQL19: TPC-H Q8 (national market share) — the share of one
    * supplier-nation group in region-restricted order volume, per
    * year: an 8-table join producing (year, volume, supp_nation),
    * then a conditional-sum ratio. Volumes stay DECIMAL(18,4) through
    * both SUMs (the ELSE 0 is cast to the same decimal type so the
    * conditional sum never widens to double mid-aggregation); the
    * division happens once, on two exactly-agreed doubles, and is
    * ROUNDed to 6 decimals per the CLAUDE.md derived-stat rule.
    *
    * Scale: region prunes nation n1 → customer (broadcast chain);
    * p_type prunes part before its join; the ratio's group key space
    * is |years|, so everything after the joins is map-side.
    */
  private def sql19TpchQ8(s: SparkSession, d: String): DataFrame =
    sql(s, d, q8Sql)

  private val q8Sql =
    """SELECT o_year,
      |  ROUND(CAST(SUM(CASE WHEN supp_nation LIKE 'NATION_1%' THEN volume
      |      ELSE CAST(0 AS DECIMAL(18,4)) END) AS DOUBLE)
      |    / CAST(SUM(volume) AS DOUBLE), 6) AS mkt_share
      |FROM (
      |  SELECT substr(CAST(o_orderdate AS VARCHAR(30)), 1, 4) AS o_year,
      |    CAST(CAST(l_extendedprice AS DECIMAL(14,2))
      |      * (CAST(1 AS DECIMAL(4,2)) - CAST(l_discount AS DECIMAL(4,2)))
      |      AS DECIMAL(18,4)) AS volume,
      |    n2.n_name AS supp_nation
      |  FROM part, supplier, lineitem, orders, customer, nation n1, nation n2, region
      |  WHERE p_partkey = l_partkey AND s_suppkey = l_suppkey
      |    AND l_orderkey = o_orderkey AND o_custkey = c_custkey
      |    AND c_nationkey = n1.n_nationkey AND n1.n_regionkey = r_regionkey
      |    AND r_name = 'ASIA' AND s_nationkey = n2.n_nationkey
      |    AND o_orderdate >= TIMESTAMP '1996-01-01'
      |    AND o_orderdate <  TIMESTAMP '1998-01-01'
      |    AND p_type = 'PROMO'
      |) AS all_nations
      |GROUP BY o_year
      |ORDER BY o_year""".stripMargin

  /** SQL20: TPC-H Q9's shape (product-type profit), adapted to this
    * schema (no partsupp: supply cost ≈ half the part's retail price ×
    * quantity — the profit margin stays a mixed-sign decimal, Q9's
    * point). Per (nation, order-year) profit over name-LIKE-filtered
    * parts. The whole amount expression is exact decimal arithmetic
    * normalized to DECIMAL(18,4) BEFORE the sum — both engines add
    * identical scaled integers in any order, then cast once to double
    * on output.
    *
    * Scale: the p_name LIKE filter prunes part before its join
    * (broadcast after pruning); supplier/nation broadcast; lineitem
    * shuffles once on orderkey for the orders join; group key space
    * (25 nations × 7 years) keeps aggregation map-side.
    */
  private def sql20TpchQ9(s: SparkSession, d: String): DataFrame =
    sql(s, d, q9Sql)

  private val q9Sql =
    """SELECT nation, o_year, CAST(SUM(amount) AS DOUBLE) AS sum_profit
      |FROM (
      |  SELECT n_name AS nation,
      |    substr(CAST(o_orderdate AS VARCHAR(30)), 1, 4) AS o_year,
      |    CAST(CAST(l_extendedprice AS DECIMAL(14,2))
      |        * (CAST(1 AS DECIMAL(4,2)) - CAST(l_discount AS DECIMAL(4,2)))
      |      - CAST(p_retailprice AS DECIMAL(14,2)) * CAST(l_quantity AS DECIMAL(9,2))
      |        * CAST(0.5 AS DECIMAL(3,1)) AS DECIMAL(18,4)) AS amount
      |  FROM part, supplier, lineitem, orders, nation
      |  WHERE s_suppkey = l_suppkey AND p_partkey = l_partkey
      |    AND o_orderkey = l_orderkey AND s_nationkey = n_nationkey
      |    AND p_name LIKE '%red%'
      |) AS profit
      |GROUP BY nation, o_year
      |ORDER BY nation, o_year DESC""".stripMargin

  /** SQL21: TPC-H Q2 (minimum-cost supplier), adapted to this schema
    * (no partsupp: the supply relation is derived — per (part,
    * supplier) MIN lineitem price, the same CTE consumed by both the
    * outer join and the correlated scalar subquery). The correlated
    * MIN compares DECIMAL(14,2) to DECIMAL(14,2) — an exact equality,
    * never a double boundary; the cast to double is output-only.
    * p_size BETWEEN widens Q2's equality filter so the testdata's
    * 2k-part catalog keeps a non-degenerate answer set.
    *
    * Scale: the derived psupp is one keyed shuffle of lineitem and is
    * |part×supplier| bounded; Spark plans the correlated MIN as an
    * aggregated-subquery left join on ps_partkey (no per-row
    * re-execution); region→nation→supplier broadcast-prunes both
    * sides; top-100 rides TakeOrderedAndProject.
    */
  /** TPC-H Q2 (min-cost supplier) Spark-first: the SQL's correlated
    * scalar subquery re-derives the part/supplier cost CTE — the big
    * lineitem group-by — a second time; the DataFrame form computes the
    * pairs ONCE and takes the per-part EUROPE minimum as a window
    * aggregate over them (one exchange keyed by part; Window above
    * Aggregate, the spec-safe topology). Dimension sides broadcast.
    * Decimal MIN compares exactly, cast to double on output only; the
    * oracle keeps TPC-H's correlated-subquery SQL and the hash gate
    * proves value identity. (Round 15: 1.85 s → single-derivation form.)
    */
  private def sql21TpchQ2(s: SparkSession, d: String): DataFrame = {
    val psupp = Tables.lineitem(s, d)
      .groupBy(col("l_partkey").as("ps_partkey"),
        col("l_suppkey").as("ps_suppkey"))
      .agg(min(col("l_extendedprice").cast(DecimalType(14, 2)))
        .as("ps_supplycost"))
    val esupp = Tables.supplier(s, d)
      .join(Tables.nation(s, d), col("s_nationkey") === col("n_nationkey"))
      .join(Tables.region(s, d), col("n_regionkey") === col("r_regionkey"))
      .filter(col("r_name") === "EUROPE")
      .select(col("s_suppkey"), col("s_acctbal"), col("s_name"),
        col("n_name"))
    val parts = Tables.part(s, d)
      .filter(col("p_size").between(10, 20) && col("p_type") === "LARGE")
      .select(col("p_partkey"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("ps_partkey"))
    // parts joins BELOW the window (round-15 verdict #7): the per-part
    // EUROPE min is unaffected by restricting to the filtered parts, so
    // pushing the selective broadcast join under the window shrinks the
    // window exchange from |all part×EUROPE-supplier pairs| to the
    // filtered subset — the difference between O(selectivity·pairs) and
    // O(pairs) shuffled at 100 TB
    psupp.join(broadcast(parts), col("ps_partkey") === col("p_partkey"))
      .join(broadcast(esupp), col("ps_suppkey") === col("s_suppkey"))
      .withColumn("min_cost", min(col("ps_supplycost")).over(w))
      .filter(col("ps_supplycost") === col("min_cost"))
      .select(col("s_acctbal"), col("s_name"), col("n_name"),
        col("p_partkey"),
        col("ps_supplycost").cast("double").as("ps_supplycost"))
      .orderBy(col("s_acctbal").desc, col("n_name"), col("s_name"),
        col("p_partkey"))
      .limit(100)
  }

  private val q2Sql =
    """WITH psupp AS (
      |  SELECT l_partkey AS ps_partkey, l_suppkey AS ps_suppkey,
      |    MIN(CAST(l_extendedprice AS DECIMAL(14,2))) AS ps_supplycost
      |  FROM lineitem GROUP BY l_partkey, l_suppkey)
      |SELECT s_acctbal, s_name, n_name, p_partkey,
      |  CAST(ps_supplycost AS DOUBLE) AS ps_supplycost
      |FROM part, psupp, supplier, nation, region
      |WHERE p_partkey = ps_partkey AND s_suppkey = ps_suppkey
      |  AND p_size BETWEEN 10 AND 20 AND p_type = 'LARGE'
      |  AND s_nationkey = n_nationkey AND n_regionkey = r_regionkey
      |  AND r_name = 'EUROPE'
      |  AND ps_supplycost = (
      |    SELECT MIN(ps2.ps_supplycost)
      |    FROM psupp ps2, supplier s2, nation n2, region r2
      |    WHERE p_partkey = ps2.ps_partkey AND s2.s_suppkey = ps2.ps_suppkey
      |      AND s2.s_nationkey = n2.n_nationkey AND n2.n_regionkey = r2.r_regionkey
      |      AND r2.r_name = 'EUROPE')
      |ORDER BY s_acctbal DESC, n_name, s_name, p_partkey
      |LIMIT 100""".stripMargin

  // ---- M1/M2: seeded split + Bernoulli sample (bounded-gate oracles) -----
  // stroke_predict.py:152 randomSplit(seed=42); smote_sampling.py:53 sample.
  // Spark's RNG is not DuckDB-reproducible, so the registered queries emit
  // the a7/a10 bounded-gate shape: an exact payload the oracle recomputes
  // (the source row count) plus invariant flags the oracle asserts literal
  // TRUE — split sizes partition the total, the splits are key-disjoint,
  // and the realized fraction sits inside a wide deterministic band (the
  // seeded draw is fixed; the band only documents the contract).
  private def m1Split(s: SparkSession, d: String): DataFrame = {
    val orders = Tables.orders(s, d)
    val Array(train, test) = orders.randomSplit(Array(0.7, 0.3), seed = 42)
    val total = orders.agg(count(lit(1)).as("total_n"))
    val tn = train.agg(count(lit(1)).as("_tn"))
    val sn = test.agg(count(lit(1)).as("_sn"))
    val overlap = train.select("o_orderkey")
      .join(test.select("o_orderkey"), Seq("o_orderkey"), "left_semi")
      .agg(count(lit(1)).as("_ov"))
    total.crossJoin(broadcast(tn)).crossJoin(broadcast(sn))
      .crossJoin(broadcast(overlap))
      .select(col("total_n"),
        (col("_tn") + col("_sn") === col("total_n")).as("sizes_sum_ok"),
        (col("_ov") === 0).as("disjoint_ok"),
        (abs(col("_tn").cast("double") / col("total_n") - 0.7) <= 0.05)
          .as("train_frac_ok"))
  }

  private val m1Sql =
    """SELECT CAST(count(*) AS BIGINT) AS total_n, TRUE AS sizes_sum_ok,
      |  TRUE AS disjoint_ok, TRUE AS train_frac_ok FROM orders""".stripMargin

  private def m2Sample(s: SparkSession, d: String): DataFrame = {
    val li = Tables.lineitem(s, d)
    val sample = li.sample(withReplacement = false, fraction = 0.1, seed = 42)
    val total = li.agg(count(lit(1)).as("total_n"))
    val sn = sample.agg(count(lit(1)).as("_sn"))
    val alien = sample.select("l_orderkey", "l_linenumber")
      .join(li.select("l_orderkey", "l_linenumber"),
        Seq("l_orderkey", "l_linenumber"), "left_anti")
      .agg(count(lit(1)).as("_alien"))
    total.crossJoin(broadcast(sn)).crossJoin(broadcast(alien))
      .select(col("total_n"),
        (col("_alien") === 0).as("subset_ok"),
        (abs(col("_sn").cast("double") / col("total_n") - 0.1) <= 0.02)
          .as("frac_ok"))
  }

  private val m2Sql =
    """SELECT CAST(count(*) AS BIGINT) AS total_n, TRUE AS subset_ok,
      |  TRUE AS frac_ok FROM lineitem""".stripMargin

  val qs: Seq[(String, Q)] = Seq(
    "q1_pricing_summary" -> Q(q1Pricing, Some(q1Sql)),
    "sql1_tpch_q1"       -> Q(sql1TpchQ1, Some(q1Sql)),
    "sql2_tpch_q5"       -> Q(sql2TpchQ5, Some(j2Sql)),
    "sql3_tpch_q3"       -> Q(sql3TpchQ3, Some(q3Sql)),
    "sql4_tpch_q18"      -> Q(sql4TpchQ18, Some(q18Sql)),
    "sql5_tpch_q20"      -> Q(sql5TpchQ20, Some(q20Sql)),
    "sql6_tpch_q13"      -> Q(sql6TpchQ13, Some(q13Sql)),
    "sql7_tpch_q22"      -> Q(sql7TpchQ22, Some(q22Sql)),
    "sql8_tpch_q17"      -> Q(sql8TpchQ17, Some(q17Sql)),
    "sql9_tpch_q16"      -> Q(sql9TpchQ16, Some(q16Sql)),
    "sql10_tpch_q14"     -> Q(sql10TpchQ14, Some(q14Sql)),
    "sql11_tpch_q19"     -> Q(sql11TpchQ19, Some(q19Sql)),
    "sql12_tpch_q4"      -> Q(sql12TpchQ4, Some(q4Sql)),
    "sql13_tpch_q21"     -> Q(sql13TpchQ21, Some(q21Sql)),
    "sql14_tpch_q15"     -> Q(sql14TpchQ15, Some(q15Sql)),
    "sql15_tpch_q11"     -> Q(sql15TpchQ11, Some(q11Sql)),
    "sql16_tpch_q10"     -> Q(sql16TpchQ10, Some(q10Sql)),
    "sql17_tpch_q12"     -> Q(sql17TpchQ12, Some(q12Sql)),
    "sql18_tpch_q7"      -> Q(sql18TpchQ7, Some(q7Sql)),
    "sql19_tpch_q8"      -> Q(sql19TpchQ8, Some(q8Sql)),
    "sql20_tpch_q9"      -> Q(sql20TpchQ9, Some(q9Sql)),
    "sql21_tpch_q2"      -> Q(sql21TpchQ2, Some(q2Sql)),
    // TPC-H Q6 is q6_forecast_revenue (registered since round 1) — the
    // 22-query set is complete; the former sql22_tpch_q6 alias was
    // retired in round 16 (same builder + oracle registered twice
    // double-counted one computation and benched it twice)
    "q6_forecast_revenue" -> Q(q6Forecast, Some(q6Sql)),
    "p1_project"         -> Q(p1Project, Some(p1Sql)),
    "p2_drop_cast"       -> Q(p2DropCast, Some(p2Sql)),
    "p3_when_otherwise"  -> Q(p3WhenOtherwise, Some(p3Sql)),
    "p5_filter"          -> Q(p5Filter, Some(p5Sql)),
    "a1_group_count"     -> Q(a1GroupCount, Some(a1Sql)),
    "a2_global_mean"     -> Q(a2GlobalMean, Some(a2Sql)),
    "a5_distinct"        -> Q(a5Distinct, Some(a5Sql)),
    "a6_rollup"          -> Q(a6Rollup, Some(a6Sql)),
    "a8_cube"            -> Q(a8Cube, Some(a8Sql)),
    "a9_grouping_sets"   -> Q(a9GroupingSets, Some(a9Sql)),
    "u1_union"           -> Q(u1Union, Some(u1Sql)),
    "o1_topk"            -> Q(o1TopK, Some(o1Sql)),
    "j1_join_broadcast"  -> Q(j1Join, Some(j1Sql)),
    "j2_join_snowflake"  -> Q(j2MultiJoin, Some(j2Sql)),
    "j3_join_semi_anti"  -> Q(j3SemiAnti, Some(j3Sql)),
    "m1_random_split"    -> Q(m1Split, Some(m1Sql)),
    "m2_sample"          -> Q(m2Sample, Some(m2Sql)),
  )
}
