package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression

/** Access shim: Column ⇄ Expression conversion lives in
  * `org.apache.spark.sql.classic.ExpressionUtils`, which is
  * `private[sql]` in Spark 4. graft's custom Catalyst expressions
  * (graft.plans) need exactly these two conversions to expose a
  * Column API, so this object re-exports them from inside the
  * package, plus the two other `private[sql]`/`private[spark]`
  * members graft uses: Divide's ANSI division-by-zero error (the
  * native cosine kernel raises the same one) and the all-nullable form
  * of a schema (what a parquet round trip yields). No Spark behavior
  * is modified. */
object GraftShims {
  def column(e: Expression): Column = classic.ExpressionUtils.column(e)
  def expression(c: Column): Expression = classic.ExpressionUtils.expression(c)
  def ofRows(spark: SparkSession,
      plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)
  def divideByZeroError(): ArithmeticException =
    errors.QueryExecutionErrors.divideByZeroError(null)
  def asNullable(s: types.StructType): types.StructType = s.asNullable
}
