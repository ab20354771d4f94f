package graft.ml.feature

import org.apache.spark.ml.{Estimator, Model}
import org.apache.spark.ml.param._
import org.apache.spark.ml.util.{Identifiable, MLReadable, MLReader, MLWritable, MLWriter}
import org.apache.spark.sql.{Column, DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, IntegerType, StructField, StructType}

import graft.operators.Similarity

/** Estimator/Model API over the IVF coarse quantizer (SURVEY.md §2.B
  * D19/D230, queries s6/s16/s20/s21) — the reference's
  * fit/transform/persistence protocol (reference:
  * /root/reference/src/main/scala/org/apache/spark/ml/feature/RapidsPCA.scala:81-137,
  * the Estimator–Model–MLWritable lifecycle) applied to the ANN
  * index family: what was a query-internal trainer
  * ([[Similarity.ivfCentroids]]) becomes a persistable index artifact
  * a pipeline fits ONCE and every later job loads — exactly what
  * s21's incremental ingest wants instead of re-fitting per query.
  *
  * What fit learns: the coarse-cell codebook — ONE distributed pass
  * draws the deterministic hash-ordered [[sampleSize]] sample (a
  * TakeOrdered, corpus-size-independent afterwards), then the
  * quantized Lloyd iterations run driver-local over the ~2 MB sample
  * (the audited s6 shape: a distributed Lloyd would pay shuffle +
  * codegen + scheduling per round for arithmetic a single core does
  * in milliseconds). No RNG anywhere: seed = the sample's first k
  * rows, integer-quantized means, empty cells keep their previous
  * centroid — the same bit-deterministic trainer the s6 DuckDB
  * oracle replays hash-exact.
  *
  * What transform does: appends the int cell id via the codegen'd
  * nearest-centroid expression ([[graft.functions.NearestCentroid]]
  * under the graft extensions, the compiled UDF otherwise — cells
  * bit-identical either way, FunctionsSpec) — a narrow map, no
  * shuffle; the expensive candidate-generation join a caller builds
  * on the cells inherits s6's audited probe shape via [[GraftIVFModel.probeCol]].
  */
trait GraftIVFParams extends Params {
  final val idCol = new Param[String](this, "idCol",
    "long-valued vector id column (drives the deterministic sample order)")
  final val inputCol = new Param[String](this, "inputCol",
    "array<float> embedding column")
  final val cellCol = new Param[String](this, "cellCol",
    "output column: assigned coarse-cell id")
  final val k = new IntParam(this, "k", "number of coarse cells (> 0)",
    ParamValidators.gtEq(1))
  final val maxIter = new IntParam(this, "maxIter", "Lloyd rounds (> 0)",
    ParamValidators.gtEq(1))
  final val sampleSize = new IntParam(this, "sampleSize",
    "deterministic hash-ordered training sample size",
    ParamValidators.gtEq(1))

  setDefault(idCol -> "vec_id", inputCol -> "embedding",
    cellCol -> "cell", k -> 16, maxIter -> 2,
    sampleSize -> Similarity.ivfTrainSize)

  protected def validateAndTransformSchema(schema: StructType): StructType = {
    require(schema.fieldNames.contains($(inputCol)),
      s"input column '${$(inputCol)}' not in ${schema.fieldNames.mkString(",")}")
    schema($(inputCol)).dataType match {
      case _: ArrayType => ()
      case other => throw new IllegalArgumentException(
        s"input column '${$(inputCol)}' must be array<numeric>, got $other")
    }
    require(!schema.fieldNames.contains($(cellCol)),
      s"output column '${$(cellCol)}' already exists")
    StructType(schema.fields :+
      StructField($(cellCol), IntegerType, nullable = false))
  }
}

class GraftIVF(override val uid: String)
    extends Estimator[GraftIVFModel] with GraftIVFParams with MLWritable {

  def this() = this(Identifiable.randomUID("graftIvf"))

  def setIdCol(value: String): this.type = set(idCol, value)
  def setInputCol(value: String): this.type = set(inputCol, value)
  def setCellCol(value: String): this.type = set(cellCol, value)
  def setK(value: Int): this.type = set(k, value)
  def setMaxIter(value: Int): this.type = set(maxIter, value)
  def setSampleSize(value: Int): this.type = set(sampleSize, value)

  override def fit(dataset: Dataset[_]): GraftIVFModel = {
    transformSchema(dataset.schema, logging = true)
    val spark = dataset.sparkSession
    import spark.implicits._
    val sample = dataset.toDF()
      .select(col($(idCol)).cast("long").as("vec_id"),
        col($(inputCol)).cast("array<double>").as("e"))
      .orderBy(md5($"vec_id".cast("string")), $"vec_id")
      .limit($(sampleSize))
      .select($"e").collect()
      .map(_.getSeq[Double](0).toArray)
    require(sample.length >= $(k),
      s"IVF training sample has ${sample.length} rows, need >= ${$(k)}")
    val cents = Similarity.lloyd(sample, $(k), $(maxIter))
    copyValues(new GraftIVFModel(uid, cents).setParent(this))
  }

  override def transformSchema(schema: StructType): StructType =
    validateAndTransformSchema(schema)

  override def copy(extra: ParamMap): GraftIVF = defaultCopy(extra)

  override def write: MLWriter = new StageIO.EstimatorWriter(this)
}

/** Fitted IVF index plan: the coarse-cell codebook. */
class GraftIVFModel private[feature] (override val uid: String,
    val centroids: Array[Array[Double]])
    extends Model[GraftIVFModel] with GraftIVFParams with MLWritable {

  def setIdCol(value: String): this.type = set(idCol, value)
  def setInputCol(value: String): this.type = set(inputCol, value)
  def setCellCol(value: String): this.type = set(cellCol, value)

  override def transform(dataset: Dataset[_]): DataFrame = {
    transformSchema(dataset.schema, logging = true)
    dataset.toDF().withColumn($(cellCol),
      Similarity.nearestCentroidCol(col($(inputCol)), centroids))
  }

  /** Query-side probe list: the `nprobe` nearest cells for an
    * embedding column — `explode(model.probeCol(col, 4))` is s6's
    * candidate-generation key. */
  def probeCol(emb: Column, nprobe: Int): Column =
    Similarity.probes(centroids, nprobe)(emb)

  override def transformSchema(schema: StructType): StructType =
    validateAndTransformSchema(schema)

  override def copy(extra: ParamMap): GraftIVFModel =
    copyValues(new GraftIVFModel(uid, centroids), extra).setParent(parent)

  override def write: MLWriter = new StageIO.ModelWriter(this,
    IvfModelData(centroids.length,
      if (centroids.isEmpty) 0 else centroids.head.length, centroids.flatten))
}

/** Fitted-model payload after the `params` struct ([[StageIO]]):
  * row-major centroid matrix. */
private[feature] case class IvfModelData(nCents: Int, dim: Int,
    centValues: Array[Double])

object GraftIVF extends MLReadable[GraftIVF] {
  override def read: MLReader[GraftIVF] = new StageIO.EstimatorReader(new GraftIVF(_))
  override def load(path: String): GraftIVF = super.load(path)
}

object GraftIVFModel extends MLReadable[GraftIVFModel] {
  override def read: MLReader[GraftIVFModel] =
    new StageIO.ModelReader((uid: String, d: IvfModelData) => {
      val cents = d.centValues.grouped(d.dim).toArray
      require(cents.length == d.nCents,
        s"corrupt artifact: ${cents.length} centroids, expected ${d.nCents}")
      new GraftIVFModel(uid, cents)
    })
  override def load(path: String): GraftIVFModel = super.load(path)
}
