package org.apache.spark.sql

import org.apache.spark.SparkContext
import org.apache.spark.sql.catalyst.expressions.Expression

/** Minimal bridge to the `private[sql]` Expression ↔ Column converters —
  * the one place the engine steps inside Spark's package, needed to
  * expose the custom codegen vector expressions
  * (graft.functions.VectorExpressions) as plain `Column` functions — and
  * to the listener bus's `private[spark]` drain, which `graft.Profile`
  * needs before it detaches its listener (and the specs before they
  * read a job group's count).
  * Everything else in graft.* uses only public API. */
object GraftSqlBridge {
  def column(e: Expression): Column = classic.ExpressionUtils.column(e)
  def expression(c: Column): Expression = classic.ExpressionUtils.expression(c)
  /** Block until every event posted so far has reached every listener. */
  def waitUntilEmpty(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}

/** Mixin for graft's vector expressions: float and double arrays pass
  * through untouched (read in place), anything else numeric — e.g. the
  * decimal arrays SQL literals produce — implicitly casts to
  * array<double>. Lives here because `AbstractDataType`/`TypeCollection`
  * are `private[sql]`. */
trait GraftArrayInputCasts
    extends org.apache.spark.sql.catalyst.expressions.ImplicitCastInputTypes {
  self: org.apache.spark.sql.catalyst.expressions.Expression =>
  override def inputTypes: Seq[types.AbstractDataType] = {
    val tc = types.TypeCollection(
      types.ArrayType(types.DoubleType), types.ArrayType(types.FloatType))
    children.map(_ => tc)
  }
}
