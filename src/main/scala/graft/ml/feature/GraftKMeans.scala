package graft.ml.feature

import org.apache.spark.ml.{Estimator, Model}
import org.apache.spark.ml.param._
import org.apache.spark.ml.util.{Identifiable, MLReadable, MLReader, MLWritable, MLWriter}
import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions.{col, monotonically_increasing_id}
import org.apache.spark.sql.types.{ArrayType, IntegerType, StructField, StructType}

import graft.operators.KMeans

/** Estimator/Model API over the deterministic Lloyd k-means (SURVEY.md
  * §2.B12 D67) — the reference's fit/transform/persistence protocol
  * (reference: RapidsPCA.scala:111-210, the Estimator–Model–MLWritable
  * lifecycle) applied to the engine's second ML algorithm. The math is
  * [[graft.operators.KMeans.fitVectors]]: integer-quantized centroid
  * sums (bit-deterministic under any partitioning), struct-min argmin
  * assignment with lowest-id ties, no RNG (seeding = the k first rows
  * in `orderCol` order).
  *
  * Input is an `array<numeric>` column (the fixture embeddings' shape);
  * transform appends an int cluster-id column computed by the same
  * codegen-friendly literal-centroid expression the fit loop uses — a
  * narrow map, no shuffle. Persistence mirrors [[GraftPCA]]'s plain
  * parquet-artifact layout (readable by any parquet reader).
  */
trait GraftKMeansParams extends Params {
  final val k = new IntParam(this, "k", "number of clusters (> 0)",
    ParamValidators.gtEq(1))
  final val maxIter = new IntParam(this, "maxIter", "Lloyd rounds (> 0)",
    ParamValidators.gtEq(1))
  final val inputCol = new Param[String](this, "inputCol", "input column name")
  final val predictionCol = new Param[String](this, "predictionCol",
    "output cluster-id column name")
  final val orderCol = new Param[String](this, "orderCol",
    "deterministic seeding order column (the no-RNG init: the k lowest " +
      "values seed the clusters)")

  setDefault(k -> 8, maxIter -> 3, predictionCol -> "cluster")

  def getK: Int = $(k)

  protected def validateAndTransformSchema(schema: StructType): StructType = {
    require(schema.fieldNames.contains($(inputCol)),
      s"input column '${$(inputCol)}' not in ${schema.fieldNames.mkString(",")}")
    schema($(inputCol)).dataType match {
      case _: ArrayType => ()
      case other => throw new IllegalArgumentException(
        s"input column '${$(inputCol)}' must be array<numeric>, got $other")
    }
    require(!schema.fieldNames.contains($(predictionCol)),
      s"output column '${$(predictionCol)}' already exists")
    StructType(schema.fields :+
      StructField($(predictionCol), IntegerType, nullable = false))
  }
}

class GraftKMeans(override val uid: String)
    extends Estimator[GraftKMeansModel] with GraftKMeansParams
    with MLWritable {

  def this() = this(Identifiable.randomUID("graftKmeans"))

  def setK(value: Int): this.type = set(k, value)
  def setMaxIter(value: Int): this.type = set(maxIter, value)
  def setInputCol(value: String): this.type = set(inputCol, value)
  def setPredictionCol(value: String): this.type = set(predictionCol, value)
  def setOrderCol(value: String): this.type = set(orderCol, value)

  override def fit(dataset: Dataset[_]): GraftKMeansModel = {
    transformSchema(dataset.schema, logging = true)
    val ord = if (isSet(orderCol)) col($(orderCol))
              else monotonically_increasing_id()
    val vecs = dataset.toDF().select(ord.cast("long").as("ord"),
      col($(inputCol)).cast("array<double>").as("e"))
    val f = KMeans.fitVectors(vecs, $(k), $(maxIter))
    copyValues(new GraftKMeansModel(uid, f.cents, f.counts).setParent(this))
  }

  override def transformSchema(schema: StructType): StructType =
    validateAndTransformSchema(schema)

  override def copy(extra: ParamMap): GraftKMeans = defaultCopy(extra)

  override def write: MLWriter = new StageIO.EstimatorWriter(this)
}

class GraftKMeansModel private[feature] (override val uid: String,
    val centroids: Array[Array[Double]], val clusterSizes: Array[Long])
    extends Model[GraftKMeansModel] with GraftKMeansParams with MLWritable {

  def setInputCol(value: String): this.type = set(inputCol, value)
  def setPredictionCol(value: String): this.type = set(predictionCol, value)

  override def transform(dataset: Dataset[_]): DataFrame = {
    transformSchema(dataset.schema, logging = true)
    dataset.toDF().withColumn($(predictionCol),
      KMeans.assignCol(col($(inputCol)).cast("array<double>"), centroids))
  }

  override def transformSchema(schema: StructType): StructType =
    validateAndTransformSchema(schema)

  override def copy(extra: ParamMap): GraftKMeansModel =
    copyValues(new GraftKMeansModel(uid, centroids, clusterSizes), extra)
      .setParent(parent)

  override def write: MLWriter = new StageIO.ModelWriter(this,
    KMeansModelData(centroids.length,
      if (centroids.isEmpty) 0 else centroids.head.length, centroids.flatten,
      clusterSizes))
}

/** Fitted-model payload after the `params` struct ([[StageIO]]):
  * row-major centroid matrix + sizes. */
private[feature] case class KMeansModelData(nCents: Int, dim: Int,
    centValues: Array[Double], sizes: Array[Long])

object GraftKMeans extends MLReadable[GraftKMeans] {
  override def read: MLReader[GraftKMeans] = new StageIO.EstimatorReader(new GraftKMeans(_))
  override def load(path: String): GraftKMeans = super.load(path)
}

object GraftKMeansModel extends MLReadable[GraftKMeansModel] {
  override def read: MLReader[GraftKMeansModel] =
    new StageIO.ModelReader((uid: String, d: KMeansModelData) => {
      val cents = d.centValues.grouped(d.dim).toArray
      require(cents.length == d.nCents,
        s"corrupt artifact: ${cents.length} centroids, expected ${d.nCents}")
      new GraftKMeansModel(uid, cents, d.sizes)
    })
  override def load(path: String): GraftKMeansModel = super.load(path)
}
