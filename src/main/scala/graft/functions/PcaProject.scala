package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnsafeArrayData}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, CodeGenerator, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, FloatType}

/** Native Catalyst expression for the PCA projection —
  * `graft_pca_project(x, pcT)` returns the k dot products of an
  * `array<float>` or `array<double>` row `x` with the k rows of the
  * k×n component matrix `pcT`, as `array<double>`: the transform of
  * [[graft.ml.feature.GraftPCAModel]] (reference: RapidsPCA.scala:
  * 186-189).
  *
  * Same parameterized pattern as [[NearestCentroid]]: the component
  * matrix arrives as a foldable nested-array literal and is baked into
  * the generated stage via `ctx.addReferenceObj`. Each row is read once
  * into a primitive `double[]` (float widened to double, as the
  * covariance pass reads it), each component is one ascending-index
  * multiply-accumulate ([[PcaProject.project]], shared by both paths),
  * and the k results go out as `UnsafeArrayData` — no boxing.
  *
  * Bad input fails loudly, in `eval` and in the generated code alike,
  * with an `IllegalArgumentException` naming the function: a null row,
  * a row whose width is not n, or a null element. Nothing is truncated,
  * padded or read as zero.
  */
case class PcaProject(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(FloatType | DoubleType, _), ArrayType(ArrayType(DoubleType, _), _)) =>
        if (right.foldable) TypeCheckResult.TypeCheckSuccess
        else TypeCheckResult.TypeCheckFailure(
          s"$prettyName requires a foldable (literal) component matrix")
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        s"$prettyName expects (array<float> or array<double>, array<array<double>>), got ($l, $r)")
    }

  override def dataType: DataType = ArrayType(DoubleType, containsNull = false)

  override def nullable: Boolean = false

  override def prettyName: String = "graft_pca_project"

  /** Component rows, materialized once from the foldable argument. */
  @transient private lazy val pcT: Array[Array[Double]] = {
    val ad = right.eval().asInstanceOf[ArrayData]
    val rows = Array.tabulate(ad.numElements())(c => ad.getArray(c).toDoubleArray())
    require(rows.nonEmpty && rows.forall(_.length == rows(0).length),
      s"$prettyName needs a non-empty rectangular component matrix")
    rows
  }

  private def inputType: ArrayType = left.dataType.asInstanceOf[ArrayType]

  override def eval(input: InternalRow): Any = {
    val v = left.eval(input).asInstanceOf[ArrayData]
    val n = pcT(0).length
    if (v == null) throw PcaProject.nullRow()
    if (v.numElements() != n) throw PcaProject.badWidth(v.numElements(), n)
    val isFloat = inputType.elementType == FloatType
    val x = new Array[Double](n)
    var i = 0
    while (i < n) {
      if (v.isNullAt(i)) throw PcaProject.nullElement(i)
      x(i) = if (isFloat) v.getFloat(i) else v.getDouble(i)
      i += 1
    }
    UnsafeArrayData.fromPrimitiveArray(PcaProject.project(pcT, x))
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val in = left.genCode(ctx)
    val n = pcT(0).length
    val pc = ctx.addReferenceObj("pcaComponents", pcT, "double[][]")
    // one row buffer per generated instance (per task), reused row to row
    val x = ctx.addMutableState("double[]", "pcaRow", v => s"$v = new double[$n];")
    val i = ctx.freshName("i")
    val obj = classOf[PcaProject].getName
    val get = if (inputType.elementType == FloatType) "getFloat" else "getDouble"
    val nullElement =
      if (inputType.containsNull)
        s"if (${in.value}.isNullAt($i)) throw $obj.nullElement($i);"
      else ""
    ev.copy(code = code"""
      |${in.code}
      |if (${in.isNull}) throw $obj.nullRow();
      |if (${in.value}.numElements() != $n) {
      |  throw $obj.badWidth(${in.value}.numElements(), $n);
      |}
      |for (int $i = 0; $i < $n; $i++) {
      |  $nullElement
      |  $x[$i] = ${in.value}.$get($i);
      |}
      |${CodeGenerator.javaType(dataType)} ${ev.value} =
      |  org.apache.spark.sql.catalyst.expressions.UnsafeArrayData.fromPrimitiveArray(
      |    $obj.project($pc, $x));
      """.stripMargin, isNull = FalseLiteral)
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): PcaProject =
    copy(left = newLeft, right = newRight)
}

object PcaProject {

  /** `pcT · x`: one ascending-index multiply-accumulate per component. */
  def project(pcT: Array[Array[Double]], x: Array[Double]): Array[Double] = {
    val out = new Array[Double](pcT.length)
    var c = 0
    while (c < pcT.length) {
      val p = pcT(c)
      var d = 0.0; var i = 0
      while (i < x.length) { d += p(i) * x(i); i += 1 }
      out(c) = d
      c += 1
    }
    out
  }

  def nullRow(): IllegalArgumentException =
    new IllegalArgumentException("graft_pca_project: null input row")

  def badWidth(width: Int, n: Int): IllegalArgumentException =
    new IllegalArgumentException(
      s"graft_pca_project: input row has $width elements, the components have $n")

  def nullElement(i: Int): IllegalArgumentException =
    new IllegalArgumentException(s"graft_pca_project: null element at index $i")
}
