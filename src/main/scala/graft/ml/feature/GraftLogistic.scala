package graft.ml.feature

import org.apache.spark.ml.{Estimator, Model}
import org.apache.spark.ml.param._
import org.apache.spark.ml.util.{Identifiable, MLReadable, MLReader, MLWritable, MLWriter}
import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions.{col, lit}
import org.apache.spark.sql.types.{DoubleType, LongType, NumericType, StructField, StructType}

import graft.operators.Logistic

/** Estimator/Model API over the deterministic IRLS logistic regression
  * (SURVEY.md §2.B12 D111/D166) — the reference's
  * fit/transform/persistence protocol (reference:
  * /root/reference/src/main/scala/org/apache/spark/ml/feature/RapidsPCA.scala:81-137,
  * the Estimator–Model–MLWritable lifecycle) extended to the GLM
  * family, completing the pattern [[GraftPCA]] set for the reference
  * algorithm itself and [[GraftKMeans]] set for clustering.
  *
  * The math is [[graft.operators.Logistic.fitTrace]]: fixed-superstep
  * IRLS over exact integer moments (decimal(38,0) product chain,
  * ppm-quantized sigmoid — bit-deterministic under any partitioning,
  * no RNG). The fitted model scores through the IDENTICAL
  * [[graft.operators.Logistic.pqCol]] expression p13's eval scan uses,
  * so `model.transform` ≡ p13's scoring by construction (spec-gated in
  * OlsSpec).
  *
  * Input is one integer-valued feature column plus a {0,1} label
  * column (the p11 design: intercept + slope). Transform appends a
  * ppm-resolution probability column and a {0,1} prediction column —
  * a narrow codegen map, no shuffle. Persistence mirrors
  * [[GraftPCA]]'s plain parquet-artifact layout.
  */
trait GraftLogisticParams extends Params {
  final val maxIter = new IntParam(this, "maxIter", "IRLS supersteps (> 0)",
    ParamValidators.gtEq(1))
  final val featuresCol = new Param[String](this, "featuresCol",
    "integer-valued feature column (the design is intercept + feature)")
  final val labelCol = new Param[String](this, "labelCol",
    "binary {0,1} label column")
  final val predictionCol = new Param[String](this, "predictionCol",
    "output {0,1} prediction column name")
  final val probabilityCol = new Param[String](this, "probabilityCol",
    "output ppm-resolution probability column name")

  setDefault(maxIter -> Logistic.lrIters, predictionCol -> "prediction",
    probabilityCol -> "probability")

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
    Seq($(predictionCol), $(probabilityCol)).foreach { c =>
      require(!schema.fieldNames.contains(c),
        s"output column '$c' already exists")
    }
    StructType(schema.fields ++ Seq(
      StructField($(probabilityCol), DoubleType, nullable = false),
      StructField($(predictionCol), LongType, nullable = false)))
  }
}

class GraftLogistic(override val uid: String)
    extends Estimator[GraftLogisticModel] with GraftLogisticParams
    with MLWritable {

  def this() = this(Identifiable.randomUID("graftLogistic"))

  def setMaxIter(value: Int): this.type = set(maxIter, value)
  def setFeaturesCol(value: String): this.type = set(featuresCol, value)
  def setLabelCol(value: String): this.type = set(labelCol, value)
  def setPredictionCol(value: String): this.type = set(predictionCol, value)
  def setProbabilityCol(value: String): this.type = set(probabilityCol, value)

  override def fit(dataset: Dataset[_]): GraftLogisticModel = {
    transformSchema(dataset.schema, logging = true)
    require(dataset.schema.fieldNames.contains($(labelCol)),
      s"label column '${$(labelCol)}' not in ${dataset.schema.fieldNames.mkString(",")}")
    val d = dataset.toDF().select(
      col($(featuresCol)).cast("long").as("x"),
      col($(labelCol)).cast("long").as("y"))
    val trace = Logistic.fitTrace(d, $(maxIter))
    val last = trace.last
    copyValues(new GraftLogisticModel(uid, last.b0, last.b1,
      trace.map(b => Array(b.b0, b.b1)).toArray).setParent(this))
  }

  override def transformSchema(schema: StructType): StructType =
    validateAndTransformSchema(schema)

  override def copy(extra: ParamMap): GraftLogistic = defaultCopy(extra)

  override def write: MLWriter = new StageIO.EstimatorWriter(this)
}

/** Fitted GLM: intercept + slope, plus the per-superstep coefficient
  * trace (the p11 output) for inspection. */
class GraftLogisticModel private[feature] (override val uid: String,
    val intercept: Double, val coefficient: Double,
    val trace: Array[Array[Double]])
    extends Model[GraftLogisticModel] with GraftLogisticParams
    with MLWritable {

  def setFeaturesCol(value: String): this.type = set(featuresCol, value)
  def setPredictionCol(value: String): this.type = set(predictionCol, value)
  def setProbabilityCol(value: String): this.type = set(probabilityCol, value)

  override def transform(dataset: Dataset[_]): DataFrame = {
    transformSchema(dataset.schema, logging = true)
    val pq = Logistic.pqCol(intercept, coefficient, col($(featuresCol)))
    dataset.toDF()
      .withColumn($(probabilityCol), pq.cast("double") / lit(1e6))
      .withColumn($(predictionCol),
        (pq >= lit(500000L)).cast("long"))
  }

  override def transformSchema(schema: StructType): StructType =
    validateAndTransformSchema(schema)

  override def copy(extra: ParamMap): GraftLogisticModel =
    copyValues(new GraftLogisticModel(uid, intercept, coefficient, trace),
      extra).setParent(parent)

  override def write: MLWriter = new StageIO.ModelWriter(this,
    LogisticModelData(intercept, coefficient, trace.flatten))
}

/** Fitted-model payload after the `params` struct ([[StageIO]]):
  * coefficients + flattened trace. */
private[feature] case class LogisticModelData(intercept: Double,
    coefficient: Double, traceValues: Array[Double])

object GraftLogistic extends MLReadable[GraftLogistic] {
  override def read: MLReader[GraftLogistic] = new StageIO.EstimatorReader(new GraftLogistic(_))
  override def load(path: String): GraftLogistic = super.load(path)
}

object GraftLogisticModel extends MLReadable[GraftLogisticModel] {
  override def read: MLReader[GraftLogisticModel] =
    new StageIO.ModelReader((uid: String, d: LogisticModelData) =>
      new GraftLogisticModel(uid, d.intercept, d.coefficient,
        d.traceValues.grouped(2).toArray))
  override def load(path: String): GraftLogisticModel = super.load(path)
}
