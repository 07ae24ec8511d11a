package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression

/** Bridge between the public Column DSL and catalyst Expressions.
  * Spark 4 moved Column onto ColumnNode and made the conversion helpers
  * (`classic.ExpressionUtils`) private[sql]; this shim re-exposes exactly
  * the two conversions a custom-Expression library needs.
  */
object GraftShims {
  def toColumn(e: Expression): Column =
    classic.ExpressionUtils.column(e)
  def toExpression(c: Column): Expression =
    classic.ExpressionUtils.expression(c)

  /** Build a DataFrame from a hand-assembled logical plan (Spark 4 made
    * `Dataset.ofRows` private[sql]). Needed by the manifest-pruned scan,
    * which plans a file source over a custom
    * [[org.apache.spark.sql.execution.datasources.FileIndex]] instead of
    * round-tripping a selected-path list through `spark.read.parquet`,
    * and by the driver-side sidecar reads, which present decoded
    * `InternalRow`s as a LocalRelation.
    */
  def ofRows(
      spark: SparkSession,
      plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)
}
