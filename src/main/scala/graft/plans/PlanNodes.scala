package graft.plans

import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.ReusedExchangeExec

/** Every node of a physical plan, pre-order, AQE-aware: descends through
  * `AdaptiveSparkPlanExec.executedPlan` (the current plan: the initial one
  * before execution, the final one after), `QueryStageExec.plan` and
  * `ReusedExchangeExec.child`, which `SparkPlan.children` hides. Callers
  * filter the nodes, e.g.
  * `PlanNodes(df.queryExecution.executedPlan).collect { case s: ShuffleExchangeExec => s }`.
  */
object PlanNodes {
  def apply(plan: SparkPlan): Seq[SparkPlan] = {
    val below = plan match {
      case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
      case q: QueryStageExec => Seq(q.plan)
      case r: ReusedExchangeExec => Seq(r.child)
      case p => p.children
    }
    plan +: below.flatMap(apply)
  }
}
