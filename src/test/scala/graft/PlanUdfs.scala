package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.ScalaUDF
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper

/** The ScalaUDF instances in a DataFrame's executed plan, adaptive stages
  * and subqueries included. Plan strings cannot show a ScalaUDF: it prints
  * as `UDF(...)` or its registered name, never "ScalaUDF". */
object PlanUdfs {
  def scalaUdfs(df: DataFrame): Seq[ScalaUDF] =
    new AdaptiveSparkPlanHelper {}.collectWithSubqueries(df.queryExecution.executedPlan) {
      case p => p.expressions.flatMap(_.collect { case u: ScalaUDF => u })
    }.flatten
}
