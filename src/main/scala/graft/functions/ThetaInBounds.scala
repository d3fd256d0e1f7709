package graft.functions

import org.apache.datasketches.memory.Memory
import org.apache.datasketches.theta.CompactSketch

import org.apache.spark.sql.{Column, GraftSqlBridge}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{BooleanType, DataType}

/** `theta_in_bounds(sketchBytes, exactCount)` — TRUE iff the exact
  * count sits inside the sketch's ±`numStd`·σ confidence bounds. The
  * gate-facing shape of the estimate (the q19/q176 contract pattern):
  * the OUTPUT column is an exact-arithmetic boolean both engines can
  * agree on, while the estimate itself stays internal.
  *
  * The sketches themselves come from Spark's built-in theta functions
  * (`theta_sketch_agg`, `theta_union_agg`, `theta_intersection`,
  * `theta_union`, `theta_difference`); Spark exposes only the point
  * estimate (`theta_sketch_estimate`), not the bounds, so this check is
  * the one theta function graft keeps.
  */
case class ThetaInBounds(left: Expression, right: Expression, numStd: Int)
    extends BinaryExpression {

  require(numStd >= 1 && numStd <= 3, "theta bounds support 1..3 std devs")

  override def dataType: DataType = BooleanType
  override def prettyName: String = "theta_in_bounds"

  override protected def nullSafeEval(l: Any, r: Any): Any =
    ThetaInBounds.check(l.asInstanceOf[Array[Byte]], r.asInstanceOf[Long], numStd)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, n) =>
      s"${ev.value} = graft.functions.ThetaInBounds.check($a, $n, $numStd);")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): ThetaInBounds =
    copy(left = newLeft, right = newRight)
}

object ThetaInBounds {
  def thetaInBounds(sketch: Column, exact: Column, numStd: Int): Column =
    GraftSqlBridge.toColumn(ThetaInBounds(
      GraftSqlBridge.toExpression(sketch),
      GraftSqlBridge.toExpression(exact), numStd))

  /** Static so codegen'd call sites stay inside whole-stage codegen. */
  def check(sketch: Array[Byte], exact: Long, numStd: Int): Boolean = {
    val s = CompactSketch.heapify(Memory.wrap(sketch))
    exact >= s.getLowerBound(numStd) && exact <= s.getUpperBound(numStd)
  }
}
