package graft.ml.feature

import org.apache.spark.ml.{Estimator, Model}
import org.apache.spark.ml.param._
import org.apache.spark.ml.util.{Identifiable, MLReadable, MLReader, MLWritable, MLWriter}
import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions.{col, lit}
import org.apache.spark.sql.types.{DoubleType, NumericType, StructField, StructType}

import graft.operators.Poisson

/** Estimator/Model API over the deterministic IRLS Poisson regression
  * (SURVEY.md §2.B12 D192/D198) — the reference's
  * fit/transform/persistence protocol (reference:
  * /root/reference/src/main/scala/org/apache/spark/ml/feature/RapidsPCA.scala:81-137,
  * the Estimator–Model–MLWritable lifecycle) extended to the COUNT
  * member of the GLM family, alongside [[GraftLogistic]] (Bernoulli),
  * [[GraftKMeans]] and [[GraftPCA]].
  *
  * The math is [[graft.operators.Poisson.fitTrace]]: the null-model
  * init (β⁰ = ln ȳ from one exact pre-pass) plus fixed-superstep
  * quantized IRLS over exact integer moments — bit-deterministic
  * under any partitioning, no RNG. The fitted model scores through
  * the IDENTICAL [[graft.operators.Poisson.muqCol]] expression p15's
  * eval scan uses, so `model.transform` ≡ p15's scoring by
  * construction (spec-gated in OlsSpec).
  *
  * Input is one integer-valued feature column plus a non-negative
  * count label column. Transform appends a ppm-resolution predicted
  * RATE column (μ̂ = exp(β₀ + β₁x)) — a narrow codegen map, no
  * shuffle. Persistence mirrors [[GraftPCA]]'s plain
  * parquet-artifact layout.
  */
trait GraftPoissonParams extends Params {
  final val maxIter = new IntParam(this, "maxIter",
    "IRLS supersteps after the null-model init (> 0)",
    ParamValidators.gtEq(1))
  final val featuresCol = new Param[String](this, "featuresCol",
    "integer-valued feature column (the design is intercept + feature)")
  final val labelCol = new Param[String](this, "labelCol",
    "non-negative count label column")
  final val rateCol = new Param[String](this, "rateCol",
    "output ppm-resolution predicted-rate column name")

  setDefault(maxIter -> Poisson.poIters, rateCol -> "rate")

  protected def validateFeatures(schema: StructType): Unit = {
    require(schema.fieldNames.contains($(featuresCol)),
      s"features column '${$(featuresCol)}' not in ${schema.fieldNames.mkString(",")}")
    schema($(featuresCol)).dataType match {
      case _: NumericType => ()
      case other => throw new IllegalArgumentException(
        s"features column '${$(featuresCol)}' must be numeric, got $other")
    }
  }

  protected def validateAndTransformSchema(schema: StructType): StructType = {
    validateFeatures(schema)
    require(!schema.fieldNames.contains($(rateCol)),
      s"output column '${$(rateCol)}' already exists")
    StructType(schema.fields :+
      StructField($(rateCol), DoubleType, nullable = false))
  }
}

class GraftPoisson(override val uid: String)
    extends Estimator[GraftPoissonModel] with GraftPoissonParams
    with MLWritable {

  def this() = this(Identifiable.randomUID("graftPoisson"))

  def setMaxIter(value: Int): this.type = set(maxIter, value)
  def setFeaturesCol(value: String): this.type = set(featuresCol, value)
  def setLabelCol(value: String): this.type = set(labelCol, value)
  def setRateCol(value: String): this.type = set(rateCol, value)

  override def fit(dataset: Dataset[_]): GraftPoissonModel = {
    transformSchema(dataset.schema, logging = true)
    require(dataset.schema.fieldNames.contains($(labelCol)),
      s"label column '${$(labelCol)}' not in ${dataset.schema.fieldNames.mkString(",")}")
    val d = dataset.toDF().select(
      col($(featuresCol)).cast("long").as("x"),
      col($(labelCol)).cast("long").as("y"))
    val trace = Poisson.fitTrace(d, $(maxIter))
    val last = trace.last
    copyValues(new GraftPoissonModel(uid, last.b0, last.b1,
      trace.map(b => Array(b.b0, b.b1)).toArray).setParent(this))
  }

  override def transformSchema(schema: StructType): StructType =
    validateAndTransformSchema(schema)

  override def copy(extra: ParamMap): GraftPoisson = defaultCopy(extra)

  override def write: MLWriter = new StageIO.EstimatorWriter(this)
}

/** Fitted Poisson GLM: intercept + slope (log scale), plus the
  * per-superstep coefficient trace (the p14 output, iteration 0 = the
  * null-model init) for inspection. */
class GraftPoissonModel private[feature] (override val uid: String,
    val intercept: Double, val coefficient: Double,
    val trace: Array[Array[Double]])
    extends Model[GraftPoissonModel] with GraftPoissonParams
    with MLWritable {

  def setFeaturesCol(value: String): this.type = set(featuresCol, value)
  def setRateCol(value: String): this.type = set(rateCol, value)

  override def transform(dataset: Dataset[_]): DataFrame = {
    transformSchema(dataset.schema, logging = true)
    val muq = Poisson.muqCol(intercept, coefficient, col($(featuresCol)))
    dataset.toDF()
      .withColumn($(rateCol), muq.cast("double") / lit(1e6))
  }

  override def transformSchema(schema: StructType): StructType =
    validateAndTransformSchema(schema)

  override def copy(extra: ParamMap): GraftPoissonModel =
    copyValues(new GraftPoissonModel(uid, intercept, coefficient, trace),
      extra).setParent(parent)

  override def write: MLWriter = new StageIO.ModelWriter(this,
    PoissonModelData(intercept, coefficient, trace.flatten))
}

/** Fitted-model payload after the `params` struct ([[StageIO]]):
  * coefficients + flattened trace. */
private[feature] case class PoissonModelData(intercept: Double,
    coefficient: Double, traceValues: Array[Double])

object GraftPoisson extends MLReadable[GraftPoisson] {
  override def read: MLReader[GraftPoisson] = new StageIO.EstimatorReader(new GraftPoisson(_))
  override def load(path: String): GraftPoisson = super.load(path)
}

object GraftPoissonModel extends MLReadable[GraftPoissonModel] {
  override def read: MLReader[GraftPoissonModel] =
    new StageIO.ModelReader((uid: String, d: PoissonModelData) =>
      new GraftPoissonModel(uid, d.intercept, d.coefficient,
        d.traceValues.grouped(2).toArray))
  override def load(path: String): GraftPoissonModel = super.load(path)
}
