package graft.vector

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.graftbridge.GraftSqlBridge
import org.apache.spark.sql.types.{ArrayType, DataType, LongType}

/** Native Catalyst expression: Σ (aᵢ−bᵢ)² over two BIGINT arrays, in
  * 64-bit integer arithmetic — the exact quantized squared-L2 kernel of
  * [[QuantizedKMeans.dist2]]. Identical math to the
  * `aggregate`/`zip_with` formulation it replaces (integer ops have one
  * result; overflow wraps identically), but compiled into whole-stage
  * codegen instead of the interpreted higher-order-function path, which
  * benchmarked ~2× slower end-to-end on the PQ argmin joins (every
  * (vector, centroid) candidate pair evaluates this — the hot loop of
  * km01/vq02/nn08–nn11: ~1M evals per Lloyd round at nn11's k=64 on
  * sf0.1, corpus×k at any scale).
  *
  * Inputs must be non-null-element bigint arrays of equal length (the
  * quantized-embedding contract — [[QuantizedKMeans.quantize]] output);
  * a length mismatch OR a null element throws loudly (zip_with would
  * emit nulls silently; getLong on a null slot would read a plausible
  * 0) because either is always a data bug.
  */
case class IntL2Expr(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = {
    def ok(t: DataType) = t match {
      case ArrayType(LongType, _) => true
      case _ => false
    }
    if (ok(left.dataType) && ok(right.dataType)) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"int_l2 requires two array<bigint> inputs, got " +
        s"${left.dataType.simpleString} and ${right.dataType.simpleString}")
  }
  override def dataType: DataType = LongType
  override def prettyName: String = "int_l2"

  override def nullSafeEval(a: Any, b: Any): Any =
    IntL2Expr.sqDist(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val owner = IntL2Expr.getClass.getName.stripSuffix("$")
    nullSafeCodeGen(ctx, ev, (a, b) => s"${ev.value} = $owner.sqDist($a, $b);")
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): IntL2Expr =
    copy(left = newLeft, right = newRight)
}

object IntL2Expr {
  /** Σ (xᵢ−yᵢ)² in 64-bit integer arithmetic — the one loop behind the
    * interpreted and generated expression paths and the Lloyd round
    * kernel ([[QuantizedKMeans]]). Throws on a length mismatch or a
    * null element. */
  def sqDist(x: ArrayData, y: ArrayData): Long = {
    val n = x.numElements()
    if (y.numElements() != n)
      throw new IllegalArgumentException(
        s"int_l2: length mismatch ($n vs ${y.numElements()})")
    var acc = 0L
    var i = 0
    while (i < n) {
      // getLong on a null slot silently reads 0 — a plausible-but-wrong
      // distance (the zip_with formulation this replaced propagated
      // null instead). The quantize contract guarantees non-null
      // elements, so a null here is always a data bug: throw loudly.
      if (x.isNullAt(i) || y.isNullAt(i))
        throw new IllegalArgumentException(
          s"int_l2: null element at index $i - inputs must be " +
            "non-null-element bigint arrays (the quantized-embedding contract)")
      val d = x.getLong(i) - y.getLong(i)
      acc += d * d
      i += 1
    }
    acc
  }

  /** Column wrapper. */
  def l2(a: Column, b: Column): Column =
    GraftSqlBridge.column(IntL2Expr(
      GraftSqlBridge.expression(a), GraftSqlBridge.expression(b)))
}
