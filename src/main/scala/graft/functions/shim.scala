package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.objects.StaticInvoke
import org.apache.spark.sql.classic.ExpressionUtils
import org.apache.spark.sql.types.DataType

/** Bridge between graft's native functions and the public Column API (the
  * Expression<->Column converters and `AbstractDataType` are private[sql]
  * in Spark 4's classic module). */
object GraftColumn {
  def of(e: Expression): Column = ExpressionUtils.column(e)
  def expr(c: Column): Expression = ExpressionUtils.expression(c)

  /** `obj.fn(args)` as one Catalyst call through Spark's `StaticInvoke`:
    * codegen emits the direct static call (so the helper stays inside
    * WholeStageCodegen), and with codegen off it is evaluated by
    * reflection. A null argument yields null without calling `fn`;
    * `inputTypes` is the analysis-time type check (one per argument);
    * `returnsNull` says whether `fn` itself may return null, which sets
    * the result's nullability. */
  def staticCall(obj: AnyRef, fn: String, out: DataType, args: Seq[Column],
      inputTypes: Seq[DataType], returnsNull: Boolean): Column =
    of(StaticInvoke(obj.getClass, out, fn, args.map(expr), inputTypes,
      returnNullable = returnsNull))
}
