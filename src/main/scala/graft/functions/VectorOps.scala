package graft.functions

import org.apache.spark.sql.{Column, GraftBridge}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, FloatType, LongType}

/** Native Catalyst expression for the embedding hot path.
  *
  * The higher-order-function formulation (`aggregate(zip_with(...))`)
  * allocates a lambda frame per element and blocks whole-stage codegen;
  * at brute-force-KNN scale (|queries| × |corpus| × dim evaluations)
  * that dominates the query. This expression compiles to a tight
  * primitive loop inside WholeStageCodegen instead.
  *
  * Semantics: dot product of two float32 vectors accumulated in
  * double, matching the element order of the arrays. Mismatched
  * lengths return NULL (a ragged/corrupted embedding column must not
  * yield a plausible partial dot product — the null propagates and is
  * visible, where a truncated sum would silently skew cosines).
  */
case class FloatVectorDot(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(FloatType, _), ArrayType(FloatType, _)) =>
        TypeCheckResult.TypeCheckSuccess
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires two array<float> arguments, got $l and $r")
    }
  override def dataType: DataType = DoubleType
  override def nullIntolerant: Boolean = true
  // nullable even over non-null inputs: length mismatch produces NULL
  override def nullable: Boolean = true
  override def prettyName: String = "float_vector_dot"

  override protected def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = x.numElements()
    if (y.numElements() != n) {
      null
    } else {
      var acc = 0.0
      var i = 0
      while (i < n) {
        acc += x.getFloat(i).toDouble * y.getFloat(i).toDouble
        i += 1
      }
      acc
    }
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (x, y) => {
      val n = ctx.freshName("n")
      val acc = ctx.freshName("acc")
      val i = ctx.freshName("i")
      s"""
         |int $n = $x.numElements();
         |if ($y.numElements() != $n) {
         |  ${ev.isNull} = true;
         |} else {
         |  double $acc = 0.0;
         |  for (int $i = 0; $i < $n; $i++) {
         |    $acc += (double) $x.getFloat($i) * (double) $y.getFloat($i);
         |  }
         |  ${ev.value} = $acc;
         |}
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): FloatVectorDot =
    copy(left = newLeft, right = newRight)
}

/** Exact integer dot product of two long arrays — the IVF fixed-point
  * hot path ([[graft.analytics.Similarity]]): quantized vectors score
  * against k codebook centroids per row, and the lambda-frame
  * formulation (`aggregate(zip_with(...))`) costs ~4× the whole
  * query. Long arithmetic wraps on overflow like any JVM long; the
  * IVF quant scale bounds every product far inside the exact range
  * (see IvfScale), so no checked math in the loop. Length mismatch
  * returns NULL, same contract as [[FloatVectorDot]].
  */
case class LongVectorDot(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(LongType, _), ArrayType(LongType, _)) =>
        TypeCheckResult.TypeCheckSuccess
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires two array<bigint> arguments, got $l and $r")
    }
  override def dataType: DataType = LongType
  override def nullIntolerant: Boolean = true
  override def nullable: Boolean = true
  override def prettyName: String = "long_vector_dot"

  override protected def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = x.numElements()
    if (y.numElements() != n) {
      null
    } else {
      var acc = 0L
      var i = 0
      while (i < n) {
        acc += x.getLong(i) * y.getLong(i)
        i += 1
      }
      acc
    }
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (x, y) => {
      val n = ctx.freshName("n")
      val acc = ctx.freshName("acc")
      val i = ctx.freshName("i")
      s"""
         |int $n = $x.numElements();
         |if ($y.numElements() != $n) {
         |  ${ev.isNull} = true;
         |} else {
         |  long $acc = 0L;
         |  for (int $i = 0; $i < $n; $i++) {
         |    $acc += $x.getLong($i) * $y.getLong($i);
         |  }
         |  ${ev.value} = $acc;
         |}
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): LongVectorDot =
    copy(left = newLeft, right = newRight)
}

object VectorOps {

  /** Codegen'd float32 dot product (double accumulator). */
  def vecDot(a: Column, b: Column): Column =
    GraftBridge.column(FloatVectorDot(
      GraftBridge.expression(a), GraftBridge.expression(b)))

  /** Codegen'd exact integer dot product of two long arrays. */
  def vecDotLong(a: Column, b: Column): Column =
    GraftBridge.column(LongVectorDot(
      GraftBridge.expression(a), GraftBridge.expression(b)))

  /** L2 norm via the same codegen'd kernel. */
  def vecNorm(a: Column): Column = sqrt(vecDot(a, a))

  /** Reference implementation with built-in higher-order functions —
    * used by specs to pin the custom expression's semantics, and as
    * the oracle-friendly formulation (identical evaluation order).
    */
  def vecDotHof(a: Column, b: Column): Column =
    aggregate(
      zip_with(a, b, (x, y) => x.cast("double") * y.cast("double")),
      lit(0.0), (acc, v) => acc + v)
}
