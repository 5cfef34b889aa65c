package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec

/** Plan-shape and determinism checks for the relational core — the
  * value-level correctness gate is the DuckDB oracle (scripts/
  * oracle_check.py); here we assert the *physical plans* are the ones that
  * scale: filters/pruning pushed into the parquet scan, broadcast joins
  * where intended, and partition-count-independent results.
  */
class CoreOpsSpec extends SparkSpec {

  private def planString(name: String): String = {
    val df = SparkEntry.queries(name)(spark, Sf001)
    df.queryExecution.executedPlan.toString
  }

  test("p5_filter: predicate is pushed to the parquet scan") {
    val plan = planString("p5_filter")
    assert(plan.contains("PushedFilters:"), plan.take(500))
    assert(plan.contains("GreaterThan(l_quantity,45.0)") ||
      plan.contains("l_quantity"), "quantity filter not pushed")
  }

  test("p1_project: scan reads only the projected columns") {
    val plan = planString("p1_project")
    assert(!plan.contains("l_extendedprice,l_discount") &&
      !plan.contains("l_returnflag"),
      "scan schema should exclude unprojected columns:\n" + plan.take(800))
  }

  test("j1/j2: dimension joins are broadcast, not shuffled") {
    val j1 = planString("j1_join_broadcast")
    assert(j1.contains("BroadcastHashJoin"), j1.take(800))
    val j2 = planString("j2_join_snowflake")
    assert(j2.contains("BroadcastHashJoin"), j2.take(800))
  }

  test("o1_topk plans TakeOrderedAndProject (no full sort)") {
    val plan = planString("o1_topk")
    assert(plan.contains("TakeOrderedAndProject"), plan.take(800))
  }

  test("q1 whole-stage codegen covers the aggregate") {
    // AQE finalizes the plan only on execution; codegen spans appear then.
    val df = SparkEntry.queries("q1_pricing_summary")(spark, Sf001)
    df.collect()
    // codegen'd operators carry the "*(stageId)" prefix in the final plan
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("*("), plan.take(1200))
  }

  test("sql13: without a hint the orders(F) side still broadcasts at " +
      "sf0.01, and the result equals the reference three-way SQL") {
    val df = SparkEntry.queries("sql13_tpch_q21")(spark, Sf001)
    val got = df.collect().toSeq
    // the final adaptive plan, query stages expanded
    val plan = df.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.executedPlan.treeString
      case p => p.treeString
    }
    assert(plan.contains("BroadcastHashJoin") &&
      !plan.contains("SortMergeJoin") && !plan.contains("ShuffledHashJoin"),
      "orders(F) no longer broadcasts at sf0.01:\n" + plan.take(3000))
    assert("BroadcastQueryStage|BroadcastExchange".r
      .findAllMatchIn(plan).size >= 2, plan.take(3000))
    // the oracle text is ANSI SQL and runs unchanged on Spark (sql1's
    // surface): same rows, same order
    val want = graft.relational.CoreOps.sql(spark, Sf001,
      SparkEntry.oracleSql("sql13_tpch_q21")).collect().toSeq
    assert(got.nonEmpty)
    assert(got === want)
  }

  test("q6: predicates pushed to the scan, no unneeded columns read") {
    val plan = planString("q6_forecast_revenue")
    assert(plan.contains("PushedFilters:"), plan.take(800))
    assert(plan.contains("l_shipdate") && plan.contains("l_discount"),
      "range predicates not pushed:\n" + plan.take(800))
    assert(!plan.contains("l_orderkey") && !plan.contains("l_returnflag"),
      "scan reads columns q6 never touches:\n" + plan.take(800))
  }

  test("pipe3: no shuffle carries document text") {
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
    val df = SparkEntry.queries("pipe3_training_mix")(spark, Sf001)
    df.collect()
    // walk through AQE wrappers — plan.collect does not descend into them
    def shuffleOutputs(p: SparkPlan): Seq[Seq[String]] = {
      val self = p match {
        case s: ShuffleExchangeLike => Seq(s.output.map(_.name))
        case _ => Nil
      }
      val kids = p match {
        case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
        case q: QueryStageExec => Seq(q.plan)
        case other => other.children
      }
      self ++ kids.flatMap(shuffleOutputs)
    }
    val outs = shuffleOutputs(df.queryExecution.executedPlan)
    assert(outs.nonEmpty, "expected at least one shuffle (dedup + quota)")
    outs.foreach(cols =>
      assert(!cols.contains("text"),
        s"a shuffle carries the text column: $cols"))
  }

  test("money aggregates are bit-identical across partitionings (Det)") {
    import graft.util.Det._
    def sums(n: Int) = Tables.lineitem(spark, Sf0001).repartition(n)
      .agg(dsum(col("l_extendedprice")),
        revenueSum(col("l_extendedprice"), col("l_discount"))).head()
    val a = sums(1); val b = sums(13)
    assert(a.getDouble(0) === b.getDouble(0))
    assert(a.getDouble(1) === b.getDouble(1))
  }

  test("entry: flagship query returns rows on sf0.001") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("every oracleSql key exists in queries with matching column names") {
    val qs = SparkEntry.queries
    SparkEntry.oracleSql.keys.foreach(k => assert(qs.contains(k), k))
  }

  test("registry names are unique (duplicates would silently collapse)") {
    val names = Registry.all.map(_._1)
    val dupes = names.groupBy(identity).collect { case (n, g) if g.size > 1 => n }
    assert(dupes.isEmpty, s"duplicate query names: $dupes")
    assert(SparkEntry.queries.size === names.size)
  }

  // ---- w5: top-k per group over exact cents -----------------------------

  test("w5: topk aggregate equals the w1 window form row-for-row") {
    val w5 = SparkEntry.queries("w5_topk_agg")(spark, Sf001)
      .select(col("o_custkey"), col("rn"), col("o_orderkey"))
    val w1 = SparkEntry.queries("w1_topk_per_group")(spark, Sf001)
      .select(col("o_custkey"), col("rn"), col("o_orderkey"))
    assert(w5.exceptAll(w1).count() === 0 && w1.exceptAll(w5).count() === 0,
      "topk_pairs aggregate disagrees with row_number")
  }

  test("w5: a partial WindowGroupLimit runs below the one hash exchange") {
    val df = SparkEntry.queries("w5_topk_agg")(spark, Sf001)
    assert(PlanChecks.groupLimitedExchanges(df, "o_custkey") === Seq(true),
      "no partial WindowGroupLimit under the o_custkey exchange:\n" +
        df.queryExecution.executedPlan.toString.take(2000))
  }

  test("sql21: parts filter joins BELOW the per-part min window") {
    // Round-15 verdict #7: the window exchange must carry only the
    // filtered parts' pairs. Structural pin: the part scan sits in the
    // Window operator's SUBTREE (joined before the min-over-part), and
    // the window still sits above the psupp Aggregate (the spec-safe
    // Window-above-Aggregate topology).
    import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, LogicalPlan, Window => LWindow}
    val df = SparkEntry.queries("sql21_tpch_q2")(spark, Sf001)
    val windows = df.queryExecution.optimizedPlan.collect {
      case w: LWindow => w
    }
    assert(windows.nonEmpty, "sql21 lost its window form")
    def subtreeHas(p: LogicalPlan, f: LogicalPlan => Boolean): Boolean =
      p.collectFirst { case n if f(n) => n }.isDefined
    val w = windows.head
    assert(subtreeHas(w.child,
      n => n.children.isEmpty && n.output.exists(_.name == "p_partkey")),
      "part scan not below the window:\n" + w.toString.take(1500))
    assert(subtreeHas(w.child, { case _: Aggregate => true; case _ => false }),
      "psupp aggregate not below the window")
  }

  // ---- view binding: only the tables a SQL text names --------------------

  import graft.relational.CoreOps

  /** A session of its own: temp views are per session, and so are the
    * view artifacts' keys. */
  private def freshSession() = spark.newSession()

  private def boundTables(s: org.apache.spark.sql.SparkSession): Set[String] =
    s.catalog.listTables().collect().map(_.name).toSet.intersect(Tables.names.toSet)

  test("views: a table named only inside EXISTS is bound") {
    val text =
      """SELECT COUNT(*) FROM orders WHERE EXISTS (
        |  SELECT 1 FROM lineitem WHERE l_orderkey = o_orderkey)""".stripMargin
    assert(CoreOps.referencedTables(spark, text) === Seq("orders", "lineitem"))
    val s = freshSession()
    assert(CoreOps.sql(s, Sf0001, text).head().getLong(0) > 0L)
    assert(boundTables(s) === Set("orders", "lineitem"))
  }

  test("views: a table named only in a CTE body is bound") {
    val text =
      """WITH r AS (SELECT l_suppkey FROM lineitem)
        |SELECT COUNT(DISTINCT l_suppkey) FROM r""".stripMargin
    assert(CoreOps.referencedTables(spark, text) === Seq("lineitem"))
    val s = freshSession()
    assert(CoreOps.sql(s, Sf0001, text).head().getLong(0) > 0L)
    assert(boundTables(s) === Set("lineitem"))
  }

  test("views: an upper-case table name binds the table") {
    val s = freshSession()
    val n = CoreOps.sql(s, Sf0001, "SELECT COUNT(*) FROM NATION").head().getLong(0)
    assert(n === Tables.nation(spark, Sf0001).count())
    assert(boundTables(s) === Set("nation"))
  }

  test("views: a second dir rebinds the name, and so does the first again") {
    val s = freshSession()
    val text = "SELECT COUNT(*) FROM lineitem"
    def rows(d: String) = CoreOps.sql(s, d, text).head().getLong(0)
    val (small, large) = (Tables.lineitem(spark, Sf0001).count(),
      Tables.lineitem(spark, Sf001).count())
    assert(small !== large)
    assert(rows(Sf0001) === small)
    assert(rows(Sf001) === large)
    assert(rows(Sf0001) === small, "the first dir's view was not rebound")
  }

  test("views: after sql1_tpch_q1 the session holds lineitem and no other table") {
    val s = freshSession()
    assert(SparkEntry.queries("sql1_tpch_q1")(s, Sf0001).collect().nonEmpty)
    assert(boundTables(s) === Set("lineitem"))
  }
}
