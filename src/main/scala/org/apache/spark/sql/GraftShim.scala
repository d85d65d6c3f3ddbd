package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.types.{AbstractDataType, TypeCollection}

/** Bridge to the classic backend's Column⇄Expression converters, which are
  * `private[sql]` in Spark 4 (Column is ColumnNode-backed there). This is the
  * supported extension seam for libraries that ship custom Catalyst
  * expressions without a FunctionRegistry round-trip. */
object GraftShim {
  def column(e: Expression): Column = classic.ExpressionUtils.column(e)
  def expression(c: Column): Expression = classic.ExpressionUtils.expression(c)
  /** Any of `types`, for an `ExpectsInputTypes` kernel that accepts several
    * (`TypeCollection` is `private[sql]`). */
  def anyOf(types: AbstractDataType*): AbstractDataType = TypeCollection(types: _*)
  /** Spark's ANSI `cast(double AS long)`: truncates, and raises
    * CAST_OVERFLOW out of range or on NaN (`DoubleExactNumeric` is
    * `private[sql]`). */
  def doubleToLongExact(d: Double): Long = types.DoubleExactNumeric.toLong(d)
}
