package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils
import org.apache.spark.sql.types.StructType

/** Spark 4 moved the `Column` ↔ catalyst `Expression` bridge behind
  * `private[sql]` (`org.apache.spark.sql.classic.ExpressionUtils`). Extension
  * libraries that ship native catalyst expressions (as this one does for the
  * vector kernels) need that bridge, so we expose it from inside the package —
  * the same approach used by other Spark-native extension libraries.
  */
object GraftSqlShim {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** Eager Column→Expression conversion. `ExpressionUtils.expression`
    * wraps the column in a LAZY `ColumnNodeExpression` placeholder that
    * only the DataFrame API's own analysis path unwraps — spliced into a
    * `FunctionRegistry` builder's return tree it survives to codegen
    * still unresolved and throws `Unevaluable`. Converting the node here
    * yields the real catalyst tree (with ordinary `UnresolvedFunction`
    * children the analyzer resolves in place), which is what a SQL
    * function builder must return. */
  def eagerExpression(c: Column): Expression =
    org.apache.spark.sql.classic.ColumnNodeToExpressionConverter(c.node)

  /** `schema` with every field nullable, nested ones too — the form a
    * file source reads any schema in. */
  def nullable(schema: StructType): StructType = schema.asNullable

  /** A DataFrame over an already-resolved logical plan — what a command
    * node captured at analysis time (Spark 4 hides `Dataset.ofRows`
    * behind the classic package). */
  def ofRows(
      spark: SparkSession,
      plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan)
      : DataFrame =
    org.apache.spark.sql.classic.Dataset.ofRows(
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession], plan)
}
