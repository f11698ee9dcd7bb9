package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils
import org.apache.spark.sql.types.StructType

/** Minimal bridge to the `private[sql]` Column ⇄ Expression converters —
  * the standard pattern for libraries that ship custom Catalyst
  * expressions without forcing every SparkSession to be built with
  * extension registration (graft's driver contract hands us sessions we
  * didn't construct). Besides those, only `StructType.asNullable` (which
  * every file-source read applies to its data schema) is touched.
  */
object GraftColumns {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)
  def asNullable(s: StructType): StructType = s.asNullable
}
