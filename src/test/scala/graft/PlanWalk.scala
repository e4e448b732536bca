package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.ReusedExchangeExec

/** The plan walker every plan pin uses. Under AQE the executed plan is an
  * [[AdaptiveSparkPlanExec]] leaf and each query stage is a leaf whose
  * subtree hangs off `.plan`, so `SparkPlan.collect` stops at the first
  * boundary and a pin that uses it finds nothing.
  */
object PlanWalk {

  /** The executed plan after a full run, so AQE has finalized it. */
  def executed(df: DataFrame): SparkPlan = {
    df.collect()
    df.queryExecution.executedPlan
  }

  /** Every node of `p`, crossing AQE wrappers, query stages, reused
    * exchanges and subqueries. */
  def collectAll(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => a +: collectAll(a.executedPlan)
    case q: QueryStageExec => q +: collectAll(q.plan)
    case r: ReusedExchangeExec => r +: collectAll(r.child)
    case other => other +: (other.children.flatMap(collectAll) ++
      other.subqueries.flatMap(collectAll))
  }
}
