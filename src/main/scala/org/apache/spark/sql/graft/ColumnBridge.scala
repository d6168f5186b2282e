package org.apache.spark.sql.graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils
import org.apache.spark.sql.types.StructType

/** Column ⇄ Expression bridge for the library's custom Catalyst
  * functions. Spark 4 made `ExpressionUtils` private[sql]; a subpackage
  * of org.apache.spark.sql can still reach it, which lets the Column
  * API wrap expressions DIRECTLY instead of routing through the session
  * function registry (`createOrReplaceTempFunction` + `call_function`).
  * The registry route is kept for SQL users ([[graft.GraftExtensions]]),
  * but Column-API calls no longer mutate
  * whatever session happens to be active — a Column built while session
  * A is active now resolves fine when executed on session B.
  */
object ColumnBridge {

  def column(e: Expression): Column = ExpressionUtils.column(e)

  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** `t` with every field, element and value nullable: `spark.read`'s rule. */
  def asNullable(t: StructType): StructType = t.asNullable
}
