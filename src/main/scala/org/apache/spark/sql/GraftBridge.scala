package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan

/** Bridge into `private[sql]` Column↔Expression conversion (Spark 4
  * moved `new Column(expr)` behind `classic.ExpressionUtils`) and
  * Dataset construction from a raw LogicalPlan (for custom logical
  * operators). Lives in the `org.apache.spark.sql` package solely for
  * access; this is the standard pattern for libraries shipping native
  * Catalyst expressions and plans.
  */
object GraftBridge {
  def columnOf(e: Expression): Column = classic.ExpressionUtils.column(e)
  def expressionOf(c: Column): Expression = classic.ExpressionUtils.expression(c)

  /** DataFrame over a (possibly custom) logical plan. */
  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)

  /** The analyzed logical plan backing a Dataset. */
  def planOf(df: Dataset[_]): LogicalPlan = df.queryExecution.analyzed

  /** `schema` with every field, nested ones included, nullable — the
    * schema Spark's own file sources read under.
    */
  def asNullable(schema: types.StructType): types.StructType =
    schema.asNullable
}
