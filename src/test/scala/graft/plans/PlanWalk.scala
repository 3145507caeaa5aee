package graft.plans

import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}

/** Flattens an executed plan through AQE's wrappers. `TreeNode.collect`
  * does not descend into `AdaptiveSparkPlanExec.executedPlan` or
  * `QueryStageExec.plan` (they are fields, not children), so a spec that
  * reads metrics or asserts shapes on a post-execution plan needs this
  * traversal. One shared definition so a Spark upgrade that changes stage
  * wrapping is fixed in one place. */
object PlanWalk {
  def unwrap(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => unwrap(a.executedPlan)
    case q: QueryStageExec => q +: unwrap(q.plan)
    // subquery plans (DPP filters, scalar subqueries) hang off EXPRESSIONS,
    // not children — without them an exchange-count probe under-reports
    case other => other +: (other.children ++ other.subqueries).flatMap(unwrap)
  }
}
