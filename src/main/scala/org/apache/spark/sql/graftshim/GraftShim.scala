package org.apache.spark.sql.graftshim

import org.apache.spark.sql.{DataFrame, SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.classic
import org.apache.spark.sql.execution.SparkStrategy

/** The standard extension-project bridge into `private[sql]` Spark surface.
  *
  * Custom logical operators (graft.plans.*) need two things Spark keeps
  * package-private: turning a hand-built `LogicalPlan` into a `DataFrame`
  * (`Dataset.ofRows`) and, for tests, materializing the strategies an
  * extensions object would inject. Every Spark extension library
  * (connectors, Delta, etc.) ships exactly this shim — a file placed under
  * `org.apache.spark.sql` so the `private[sql]` qualifier admits it. Keep it
  * minimal: anything that can be done through the public API must not live
  * here.
  */
object GraftShim {

  /** Wrap a custom logical plan as a DataFrame on this session. */
  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)

  /** Catalyst expression behind a public `Column` (Spark 4 moved `.expr`
    * behind the ColumnNode indirection). Uses the eager converter, not
    * `ExpressionUtils.expression` — the latter returns a lazy
    * `ColumnNodeExpression` wrapper whose `sql.internal` payload is neither
    * analyzer-resolved inside a custom logical node nor serializable.
    */
  def expression(col: org.apache.spark.sql.Column): org.apache.spark.sql.catalyst.expressions.Expression =
    classic.ColumnNodeToExpressionConverter(col.node)

  /** Public `Column` around a Catalyst expression — how the graft kernels
    * (graft.functions.*) reach the DataFrame API without a function-registry
    * entry. Unresolved children resolve in the analyzer like any column.
    */
  def column(e: org.apache.spark.sql.catalyst.expressions.Expression): org.apache.spark.sql.Column =
    classic.ExpressionUtils.column(e)

  /** Resolve the planner strategies an extensions object injects — lets a
    * test assert registration through the real `SparkSessionExtensions`
    * path without tearing down the shared session.
    */
  def plannerStrategies(
      ext: SparkSessionExtensions, spark: SparkSession): Seq[SparkStrategy] =
    ext.buildPlannerStrategies(spark)
}
