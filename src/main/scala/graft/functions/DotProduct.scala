package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, FloatType}

/** Native Catalyst expression for the dot product of two `array<float>`
  * or two `array<double>` columns, in double — the one dot of the
  * engine: [[graft.operators.Similarity.dot]] builds it for every
  * caller (p5's projection norms, every L2 norm, the k-means family's
  * assignment and pair cosines), so every session plans it inside
  * whole-stage codegen. [[CosineSimilarity]] is the fused
  * dot-plus-norms pass over `array<float>`.
  *
  * One ascending-index multiply-accumulate pass, floats widened to
  * double first — bit-identical to the interpreted
  * `aggregate(zip_with(a, b, (x, y) => x * y), 0.0, _ + _)` and to
  * DuckDB `list_inner_product` on `DOUBLE[]`, which is what keeps the
  * oracle hashes exact (FunctionsSpec asserts bit-equality). A mixed
  * (float, double) pair fails analysis.
  *
  * Null semantics: null if either array is null; mismatched lengths
  * score the common prefix.
  */
case class DotProduct(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(FloatType, _), ArrayType(FloatType, _)) |
           (ArrayType(DoubleType, _), ArrayType(DoubleType, _)) =>
        TypeCheckResult.TypeCheckSuccess
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        s"$prettyName expects (array<float>, array<float>) or " +
          s"(array<double>, array<double>), got ($l, $r)")
    }

  override def dataType: DataType = DoubleType

  override def prettyName: String = "graft_dot"

  private def isFloat: Boolean =
    left.dataType.asInstanceOf[ArrayType].elementType == FloatType

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    var d = 0.0; var i = 0
    if (isFloat)
      while (i < n) { d += x.getFloat(i).toDouble * y.getFloat(i).toDouble; i += 1 }
    else
      while (i < n) { d += x.getDouble(i) * y.getDouble(i); i += 1 }
    d
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val d = ctx.freshName("d")
      val get = if (isFloat) "getFloat" else "getDouble"
      s"""
         |final int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |double $d = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  $d += ((double) $a.$get($i)) * ((double) $b.$get($i));
         |}
         |${ev.value} = $d;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): DotProduct =
    copy(left = newLeft, right = newRight)
}
