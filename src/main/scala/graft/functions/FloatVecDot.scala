package graft.functions

import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, FloatType}

/** Native dot product of two array<float> columns, accumulated in
  * double in index order.
  *
  * Replaces `aggregate(zip_with(a, b, (x,y) -> double(x)*double(y)),
  * 0.0d, (acc,v) -> acc+v)` — Spark's higher-order functions are
  * interpreted (CodegenFallback with per-element boxing), which made
  * the 2M-pair cosine stage the bench bottleneck. This expression is
  * the same *sequential* fold ((0 + p₀) + p₁) + …, so results are
  * bit-identical to both the HOF form and the DuckDB oracle's
  * `list_reduce`; it just runs as a primitive loop (and participates
  * in whole-stage codegen via doGenCode).
  */
case class FloatVecDot(left: Expression, right: Expression)
    extends BinaryExpression with NativeFunction {

  def sqlName: String = "float_dot"
  def inputTypes: Seq[DataType] = Seq(ArrayType(FloatType), ArrayType(FloatType))

  override def dataType: DataType = DoubleType

  // Ragged input (length mismatch) yields NULL — the same outcome as
  // the HOF form it replaces (zip_with null-pads the shorter side and
  // the fold nullifies), so a corrupt vector drops out of ranking
  // instead of scoring on a silently truncated dot product.
  override def nullable: Boolean = true

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData].toFloatArray()
    val y = b.asInstanceOf[ArrayData].toFloatArray()
    if (x.length != y.length) return null
    var acc = 0.0
    var i = 0
    while (i < x.length) {
      acc += x(i).toDouble * y(i).toDouble
      i += 1
    }
    acc
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val x = ctx.freshName("x")
      val y = ctx.freshName("y")
      val i = ctx.freshName("i")
      val acc = ctx.freshName("acc")
      s"""
         |float[] $x = $a.toFloatArray();
         |float[] $y = $b.toFloatArray();
         |if ($x.length != $y.length) {
         |  ${ev.isNull} = true;
         |} else {
         |  double $acc = 0.0;
         |  for (int $i = 0; $i < $x.length; $i++) {
         |    $acc += ((double) $x[$i]) * ((double) $y[$i]);
         |  }
         |  ${ev.value} = $acc;
         |}
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): FloatVecDot =
    copy(left = newLeft, right = newRight)
}
