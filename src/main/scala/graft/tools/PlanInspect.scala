package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}

/** Final-plan inspection helpers shared by the ExplainAudit tool and the
  * plan-property regression specs. All functions operate on the FINAL
  * adaptive plan: callers must run an action on the same QueryExecution
  * first (df.collect(), not count()/foreach() which build new ones).
  */
object PlanInspect {

  /** Flatten the executed plan, descending through AQE wrappers whose
    * children hide behind executedPlan/plan instead of children. */
  def nodes(p: SparkPlan): Seq[SparkPlan] = p +: children(p).flatMap(nodes)

  /** Every node of the flattened plan with its ancestors, nearest first. */
  def withAncestors(
      p: SparkPlan, up: List[SparkPlan] = Nil): Seq[(SparkPlan, List[SparkPlan])] =
    (p, up) +: children(p).flatMap(withAncestors(_, p :: up))

  private def children(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
    case q: QueryStageExec => Seq(q.plan)
    case other => other.children
  }

  /** Execute `df` and return its flattened final plan nodes. */
  def executedNodes(df: DataFrame): Seq[SparkPlan] = {
    df.collect()
    nodes(df.queryExecution.executedPlan)
  }

  def nodeNames(df: DataFrame): Seq[String] =
    executedNodes(df).map(_.getClass.getSimpleName)

  /** Formatted pre-execution plan text (PushedFilters / ReadSchema live
    * in the scan description, visible without executing). */
  def formatted(df: DataFrame): String =
    df.queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
}
