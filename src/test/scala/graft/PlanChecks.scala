package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.execution.window.{WindowExec, WindowGroupLimitExec}

/** Shared executed-plan assertions for specs and audit tools. The AQE
  * traversal (AdaptiveSparkPlanExec / QueryStageExec unwrapping) is subtle
  * enough that three hand-rolled copies had already grown — it lives once
  * here so a future Spark wrapper node gets handled everywhere at once.
  */
object PlanChecks {

  /** Every WindowExec with an EMPTY partition spec in the final adaptive
    * plan — the single-partition global-sort scale-cliff class (km1's
    * round-6 defect). Call AFTER an action so AQE has finalized.
    */
  def partitionlessWindows(p: SparkPlan): Seq[WindowExec] = {
    val self = p match {
      case w: WindowExec if w.partitionSpec.isEmpty => Seq(w)
      case _ => Nil
    }
    val kids = p match {
      case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
      case q: QueryStageExec => Seq(q.plan)
      case other => other.children
    }
    self ++ kids.flatMap(partitionlessWindows)
  }

  /** Convenience: execute the frame, then walk its final plan. */
  def partitionlessWindows(df: DataFrame): Seq[WindowExec] = {
    df.collect()
    partitionlessWindows(df.queryExecution.executedPlan)
  }

  private def children(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
    case q: QueryStageExec => Seq(q.plan)
    case other => other.children
  }

  private def nodes(p: SparkPlan): Seq[SparkPlan] = p +: children(p).flatMap(nodes)

  /** The map side of an exchange: its subtree down to the next exchange. */
  private def mapSide(p: SparkPlan): Seq[SparkPlan] = p +: children(p).flatMap {
    case _: ShuffleExchangeExec => Nil
    case c => mapSide(c)
  }

  private def groupLimits(ps: Seq[SparkPlan], mode: String) = ps.collect {
    case w: WindowGroupLimitExec if w.mode.toString == mode => w
  }

  /** For each hash exchange of the frame's plan (before execution)
    * partitioned on exactly `keys`: whether its map side holds a partial
    * `WindowGroupLimit` — the per-group top-k that ships at most k rows
    * per group per map partition into the exchange. Empty when a final
    * `WindowGroupLimit` is missing from the plan.
    */
  def groupLimitedExchanges(df: DataFrame, keys: String*): Seq[Boolean] = {
    val all = nodes(df.queryExecution.executedPlan)
    if (groupLimits(all, "Final").isEmpty) Nil
    else all.collect { case e: ShuffleExchangeExec => e }.filter(_.outputPartitioning match {
      case h: HashPartitioning => h.expressions.flatMap(_.references.map(_.name)) == keys
      case _ => false
    }).map(e => groupLimits(children(e).flatMap(mapSide), "Partial").nonEmpty)
  }
}
