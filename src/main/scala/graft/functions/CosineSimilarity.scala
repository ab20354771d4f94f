package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, FloatType}

/** Native Catalyst expression for cosine similarity of two
  * `array<float>` columns — the hot scoring primitive of every
  * similarity/near-dup operator (s1/s2/s3/s6).
  *
  * Why an Expression and not a compiled Scala UDF (the form it
  * superseded): a UDF sits OUTSIDE
  * whole-stage codegen — every row pays a codegen-boundary row copy
  * plus `Seq[Float]` materialization of both arrays (boxing + a
  * WrappedArray allocation per side per row). `doGenCode` below inlines
  * the loop into the generated stage, reading floats straight out of
  * the columnar/unsafe array representation with zero allocation.
  *
  * Arithmetic is IDENTICAL to the HOF form
  * [[graft.operators.Similarity.cosine]] and the DuckDB oracle replay:
  * float widened to double, one ascending-index pass, d/(√na·√nb) —
  * IEEE-deterministic, so it cannot change any oracle hash
  * (FunctionsSpec asserts bit-equality against a scalar reference).
  *
  * Null semantics: null if either side is null (BinaryExpression
  * default); mismatched lengths score the common prefix, matching the
  * zip_with semantics of the expression form.
  */
case class CosineSimilarity(left: Expression, right: Expression)
    extends BinaryExpression {

  // manual type check (ExpectsInputTypes is out of reach: its
  // AbstractDataType vocabulary is private[sql]); exact array<float>
  // is what the callers produce, so no implicit-cast support is needed
  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(FloatType, _), ArrayType(FloatType, _)) =>
        TypeCheckResult.TypeCheckSuccess
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        s"$prettyName expects (array<float>, array<float>), got ($l, $r)")
    }

  override def dataType: DataType = DoubleType

  override def prettyName: String = "graft_cosine"

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    var d = 0.0; var na = 0.0; var nb = 0.0; var i = 0
    while (i < n) {
      val xi = x.getFloat(i).toDouble
      val yi = y.getFloat(i).toDouble
      d += xi * yi; na += xi * xi; nb += yi * yi
      i += 1
    }
    d / (math.sqrt(na) * math.sqrt(nb))
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val d = ctx.freshName("d")
      val na = ctx.freshName("na")
      val nb = ctx.freshName("nb")
      val x = ctx.freshName("x")
      val y = ctx.freshName("y")
      s"""
         |final int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |double $d = 0.0; double $na = 0.0; double $nb = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  final double $x = (double) $a.getFloat($i);
         |  final double $y = (double) $b.getFloat($i);
         |  $d += $x * $y; $na += $x * $x; $nb += $y * $y;
         |}
         |${ev.value} = $d / (java.lang.Math.sqrt($na) * java.lang.Math.sqrt($nb));
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): CosineSimilarity =
    copy(left = newLeft, right = newRight)
}
