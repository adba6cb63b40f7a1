package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.util.SQLOrderingUtil
import org.apache.spark.sql.types.{DataType, DoubleType, LongType}

/** Quantile bucket of a double: the number of `cuts` at or below the
  * value under Spark's own `<=` on doubles (−0.0 equals 0.0; NaN equals
  * itself and sorts above every number). A null value buckets to 0.
  * This is the z-order clustering bucket: a binary search over the
  * cuts in one codegen'd static call, so layout jobs stay inside
  * whole-stage codegen. `cuts` must be ascending under that order, so
  * the cuts at or below any value form a prefix.
  */
case class QuantileBucket(child: Expression, cuts: Array[Double])
    extends UnaryExpression {
  require(cuts.indices.drop(1).forall(i =>
    SQLOrderingUtil.compareDoubles(cuts(i - 1), cuts(i)) <= 0),
    "quantile cuts must be ascending")

  override def dataType: DataType = LongType
  override def nullable: Boolean = false

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == DoubleType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"quantile buckets take a double, not ${child.dataType}")

  override def eval(input: InternalRow): Any = {
    val v = child.eval(input)
    if (v == null) 0L else QuantileBucket.kernel(cuts, v.asInstanceOf[Double])
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val c = child.genCode(ctx)
    val ref = ctx.addReferenceObj("cuts", cuts, "double[]")
    ev.copy(code = code"""
      ${c.code}
      long ${ev.value} = ${c.isNull} ? 0L :
        graft.functions.QuantileBucket.kernel($ref, ${c.value});""",
      isNull = FalseLiteral)
  }

  override protected def withNewChildInternal(c: Expression): QuantileBucket =
    copy(child = c)
}

object QuantileBucket {

  /** Number of `cuts` at or below `x` (static: the codegen call target). */
  def kernel(cuts: Array[Double], x: Double): Long = {
    var lo = 0
    var hi = cuts.length
    while (lo < hi) {
      val mid = (lo + hi) >>> 1
      if (SQLOrderingUtil.compareDoubles(cuts(mid), x) <= 0) lo = mid + 1
      else hi = mid
    }
    lo
  }
}
