package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper

/** Plan-shape checks that see through AQE. `executedPlan.collect` stops at
  * `AdaptiveSparkPlanExec` (a leaf), so a check over an adaptive plan
  * finds nothing and passes vacuously; `AdaptiveSparkPlanHelper.collect`
  * descends into the adaptive plan and its query stages. */
object PlanNodes extends AdaptiveSparkPlanHelper {
  def collectNodes[B](df: DataFrame)(pf: PartialFunction[SparkPlan, B]): Seq[B] =
    collect(df.queryExecution.executedPlan)(pf)
}
