package graft.ml.feature

import org.apache.spark.ml.{Estimator, Model}
import org.apache.spark.ml.param._
import org.apache.spark.ml.util.{Identifiable, MLReadable, MLReader, MLWritable, MLWriter}
import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions.{col, lit}
import org.apache.spark.sql.types.{DoubleType, NumericType, StructField, StructType}

import graft.operators.Ols

/** Estimator/Model API over the closed-form exact-moments linear
  * regression (SURVEY.md §2.B12 D79/D89) — the reference's
  * fit/transform/persistence protocol (reference:
  * /root/reference/src/main/scala/org/apache/spark/ml/feature/RapidsPCA.scala:81-137,
  * the Estimator–Model–MLWritable lifecycle) extended to the Gaussian
  * member of the GLM family, completing the trainable set next to
  * [[GraftLogistic]] (Bernoulli), [[GraftPoisson]] (count),
  * [[GraftKMeans]] and [[GraftPCA]].
  *
  * The math is [[graft.operators.Ols.fitExact]]: ONE partial-aggregated
  * pass producing 14 exact integer moments (the same
  * moments-then-driver-solve shape as the reference PCA's covariance
  * route, RapidsPCA.scala:110-140), then the driver-side 4×4 Cramer
  * solve over a shared-by-construction Leibniz expansion — so `fit` on
  * the p9 design produces BIT-identical coefficients to the
  * `p9_ols_multi` query (λ = 0) and `p10_ridge` (λ =
  * [[graft.operators.Ols.ridgeLambda]]), spec-gated in OlsSpec.
  *
  * Input is exactly three integer-valued feature columns (the 4×4
  * normal-equation design: intercept + 3 features) plus a numeric
  * label, all pre-quantized by the caller (the p9 discipline: 2-dp
  * decimals ×100 → exact longs). Transform appends the prediction
  * ŷ = b0 + b1·x1 + b2·x2 + b3·x3 as a narrow codegen map — no
  * shuffle. Persistence mirrors [[GraftPCA]]'s plain parquet-artifact
  * layout.
  */
trait GraftLinearParams extends Params {
  final val featuresCols = new StringArrayParam(this, "featuresCols",
    "exactly three integer-valued feature columns (intercept is implicit)",
    (v: Array[String]) => v.length == 3 && v.distinct.length == 3)
  final val labelCol = new Param[String](this, "labelCol",
    "numeric label column (pre-quantized to exact integers)")
  final val regParam = new LongParam(this, "regParam",
    "ridge shift added to the non-intercept diagonal of XᵀX, in " +
      "quantized-design units (0 = plain OLS)", ParamValidators.gtEq(0))
  final val predictionCol = new Param[String](this, "predictionCol",
    "output prediction column name")

  setDefault(regParam -> 0L, predictionCol -> "prediction")

  protected def validateFeatures(schema: StructType): Unit = {
    $(featuresCols).foreach { c =>
      require(schema.fieldNames.contains(c),
        s"features column '$c' not in ${schema.fieldNames.mkString(",")}")
      schema(c).dataType match {
        case _: NumericType => ()
        case other => throw new IllegalArgumentException(
          s"features column '$c' must be numeric, got $other")
      }
    }
  }

  protected def validateAndTransformSchema(schema: StructType): StructType = {
    validateFeatures(schema)
    require(!schema.fieldNames.contains($(predictionCol)),
      s"output column '${$(predictionCol)}' already exists")
    StructType(schema.fields :+
      StructField($(predictionCol), DoubleType, nullable = false))
  }
}

class GraftLinear(override val uid: String)
    extends Estimator[GraftLinearModel] with GraftLinearParams
    with MLWritable {

  def this() = this(Identifiable.randomUID("graftLinear"))

  def setFeaturesCols(value: Array[String]): this.type = set(featuresCols, value)
  def setLabelCol(value: String): this.type = set(labelCol, value)
  def setRegParam(value: Long): this.type = set(regParam, value)
  def setPredictionCol(value: String): this.type = set(predictionCol, value)

  override def fit(dataset: Dataset[_]): GraftLinearModel = {
    transformSchema(dataset.schema, logging = true)
    require(dataset.schema.fieldNames.contains($(labelCol)),
      s"label column '${$(labelCol)}' not in ${dataset.schema.fieldNames.mkString(",")}")
    val design = dataset.toDF().select(
      col($(featuresCols)(0)).cast("long").as("x1"),
      col($(featuresCols)(1)).cast("long").as("x2"),
      col($(featuresCols)(2)).cast("long").as("x3"),
      col($(labelCol)).cast("long").as("y"))
    val b = Ols.fitExact(design, $(regParam))
    copyValues(new GraftLinearModel(uid, b(0), b.drop(1)).setParent(this))
  }

  override def transformSchema(schema: StructType): StructType =
    validateAndTransformSchema(schema)

  override def copy(extra: ParamMap): GraftLinear = defaultCopy(extra)

  override def write: MLWriter = new StageIO.EstimatorWriter(this)
}

/** Fitted linear model: intercept + one coefficient per feature
  * column, in quantized-design units. */
class GraftLinearModel private[feature] (override val uid: String,
    val intercept: Double, val coefficients: Array[Double])
    extends Model[GraftLinearModel] with GraftLinearParams
    with MLWritable {

  def setFeaturesCols(value: Array[String]): this.type = set(featuresCols, value)
  def setPredictionCol(value: String): this.type = set(predictionCol, value)

  override def transform(dataset: Dataset[_]): DataFrame = {
    transformSchema(dataset.schema, logging = true)
    val pred = $(featuresCols).zip(coefficients)
      .foldLeft(lit(intercept)) { case (acc, (c, b)) =>
        acc + lit(b) * col(c).cast("double")
      }
    dataset.toDF().withColumn($(predictionCol), pred)
  }

  override def transformSchema(schema: StructType): StructType =
    validateAndTransformSchema(schema)

  override def copy(extra: ParamMap): GraftLinearModel =
    copyValues(new GraftLinearModel(uid, intercept, coefficients),
      extra).setParent(parent)

  override def write: MLWriter = new StageIO.ModelWriter(this,
    LinearModelData(intercept, coefficients.toSeq))
}

/** Fitted-model payload after the `params` struct ([[StageIO]]):
  * intercept + coefficients. */
private[feature] case class LinearModelData(intercept: Double,
    coefficients: Seq[Double])

object GraftLinear extends MLReadable[GraftLinear] {
  override def read: MLReader[GraftLinear] = new StageIO.EstimatorReader(new GraftLinear(_))
  override def load(path: String): GraftLinear = super.load(path)
}

object GraftLinearModel extends MLReadable[GraftLinearModel] {
  override def read: MLReader[GraftLinearModel] =
    new StageIO.ModelReader((uid: String, d: LinearModelData) =>
      new GraftLinearModel(uid, d.intercept, d.coefficients.toArray))
  override def load(path: String): GraftLinearModel = super.load(path)
}
