package graft.ml.feature

import org.apache.spark.ml.{Estimator, Model}
import org.apache.spark.ml.param._
import org.apache.spark.ml.util.{Identifiable, MLReadable, MLReader, MLWritable, MLWriter}
import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, IntegerType, StructField, StructType}

import graft.operators.Similarity

/** Estimator/Model API over the product-quantization encoder
  * (SURVEY.md §2.B D19/D231, queries s7/s15/s17) — the reference's
  * fit/transform/persistence protocol (reference:
  * /root/reference/src/main/scala/org/apache/spark/ml/feature/RapidsPCA.scala:81-137)
  * applied to the compressed half of the ANN family: the per-subspace
  * codebooks that were query-internal in [[Similarity.pqCodebooks]]
  * become a persistable artifact, so the corpus is encoded ONCE and
  * every later search job loads codebooks + codes instead of
  * re-training (at 100 TB the encode pass is the expensive step —
  * re-running it per query is the anti-pattern this estimator
  * removes).
  *
  * What fit learns: [[numSubspaces]] codebooks of [[codebookSize]]
  * centroids each, trained per subspace by the same driver-local
  * quantized Lloyd over the deterministic hash-ordered sample as the
  * s7 pipeline (L2-normalized first, so squared-L2 ADC ranking is
  * cosine ranking on unit vectors). Bit-deterministic, no RNG — the
  * s7 DuckDB oracle replays all [[numSubspaces]] trainers hash-exact.
  *
  * What transform does: appends the `array<int>` PQ codes via the
  * codegen'd encoder ([[graft.functions.PqEncode]] under the graft
  * extensions, the compiled UDF otherwise — bit-identical codes
  * either way, FunctionsSpec): a narrow map, no shuffle, and the only
  * thing the downstream ADC scoring shuffle ever needs to carry.
  */
trait GraftPQParams extends Params {
  final val idCol = new Param[String](this, "idCol",
    "long-valued vector id column (drives the deterministic sample order)")
  final val inputCol = new Param[String](this, "inputCol",
    "array<float> embedding column")
  final val codesCol = new Param[String](this, "codesCol",
    "output column: array of per-subspace codes")
  final val numSubspaces = new IntParam(this, "numSubspaces",
    "subspace count (must divide the embedding dimension)",
    ParamValidators.gtEq(1))
  final val codebookSize = new IntParam(this, "codebookSize",
    "centroids per subspace codebook", ParamValidators.gtEq(1))
  final val maxIter = new IntParam(this, "maxIter", "Lloyd rounds (> 0)",
    ParamValidators.gtEq(1))
  final val sampleSize = new IntParam(this, "sampleSize",
    "deterministic hash-ordered training sample size",
    ParamValidators.gtEq(1))

  setDefault(idCol -> "vec_id", inputCol -> "embedding",
    codesCol -> "pq_codes", numSubspaces -> Similarity.pqSubspaces,
    codebookSize -> Similarity.pqCodebookSize,
    maxIter -> Similarity.pqIters, sampleSize -> Similarity.ivfTrainSize)

  protected def validateAndTransformSchema(schema: StructType): StructType = {
    require(schema.fieldNames.contains($(inputCol)),
      s"input column '${$(inputCol)}' not in ${schema.fieldNames.mkString(",")}")
    schema($(inputCol)).dataType match {
      case _: ArrayType => ()
      case other => throw new IllegalArgumentException(
        s"input column '${$(inputCol)}' must be array<numeric>, got $other")
    }
    require(!schema.fieldNames.contains($(codesCol)),
      s"output column '${$(codesCol)}' already exists")
    StructType(schema.fields :+
      StructField($(codesCol), ArrayType(IntegerType), nullable = true))
  }
}

class GraftPQ(override val uid: String)
    extends Estimator[GraftPQModel] with GraftPQParams with MLWritable {

  def this() = this(Identifiable.randomUID("graftPq"))

  def setIdCol(value: String): this.type = set(idCol, value)
  def setInputCol(value: String): this.type = set(inputCol, value)
  def setCodesCol(value: String): this.type = set(codesCol, value)
  def setNumSubspaces(value: Int): this.type = set(numSubspaces, value)
  def setCodebookSize(value: Int): this.type = set(codebookSize, value)
  def setMaxIter(value: Int): this.type = set(maxIter, value)
  def setSampleSize(value: Int): this.type = set(sampleSize, value)

  override def fit(dataset: Dataset[_]): GraftPQModel = {
    transformSchema(dataset.schema, logging = true)
    val spark = dataset.sparkSession
    import spark.implicits._
    val sample = dataset.toDF()
      .select(col($(idCol)).cast("long").as("vec_id"),
        col($(inputCol)).cast("array<double>").as("e"))
      .orderBy(md5($"vec_id".cast("string")), $"vec_id")
      .limit($(sampleSize))
      .select($"e").collect()
      .map(r => Similarity.normalized(r.getSeq[Double](0).toArray))
    require(sample.length >= $(codebookSize),
      s"PQ training sample has ${sample.length} rows, need >= ${$(codebookSize)}")
    val dim = sample.head.length
    require(dim % $(numSubspaces) == 0,
      s"embedding dim $dim not divisible into ${$(numSubspaces)} subspaces")
    val sub = dim / $(numSubspaces)
    val books = Array.tabulate($(numSubspaces)) { m =>
      Similarity.lloyd(sample.map(v =>
        java.util.Arrays.copyOfRange(v, m * sub, (m + 1) * sub)),
        $(codebookSize), $(maxIter))
    }
    copyValues(new GraftPQModel(uid, books).setParent(this))
  }

  override def transformSchema(schema: StructType): StructType =
    validateAndTransformSchema(schema)

  override def copy(extra: ParamMap): GraftPQ = defaultCopy(extra)

  override def write: MLWriter = new StageIO.EstimatorWriter(this)
}

/** Fitted PQ encoder: per-subspace codebooks. */
class GraftPQModel private[feature] (override val uid: String,
    val codebooks: Array[Array[Array[Double]]])
    extends Model[GraftPQModel] with GraftPQParams with MLWritable {

  def setIdCol(value: String): this.type = set(idCol, value)
  def setInputCol(value: String): this.type = set(inputCol, value)
  def setCodesCol(value: String): this.type = set(codesCol, value)

  override def transform(dataset: Dataset[_]): DataFrame = {
    transformSchema(dataset.schema, logging = true)
    dataset.toDF().withColumn($(codesCol),
      Similarity.pqEncodeCol(col($(inputCol)), codebooks))
  }

  override def transformSchema(schema: StructType): StructType =
    validateAndTransformSchema(schema)

  override def copy(extra: ParamMap): GraftPQModel =
    copyValues(new GraftPQModel(uid, codebooks), extra).setParent(parent)

  override def write: MLWriter = {
    val nCents = if (codebooks.isEmpty) 0 else codebooks.head.length
    val subDim = if (nCents == 0) 0 else codebooks.head.head.length
    new StageIO.ModelWriter(this, PqModelData(codebooks.length, nCents, subDim,
      codebooks.flatten.flatten))
  }
}

/** Fitted-model payload after the `params` struct ([[StageIO]]):
  * flattened codebook tensor. */
private[feature] case class PqModelData(nSubspaces: Int, nCents: Int,
    subDim: Int, bookValues: Array[Double])

object GraftPQ extends MLReadable[GraftPQ] {
  override def read: MLReader[GraftPQ] = new StageIO.EstimatorReader(new GraftPQ(_))
  override def load(path: String): GraftPQ = super.load(path)
}

object GraftPQModel extends MLReadable[GraftPQModel] {
  override def read: MLReader[GraftPQModel] =
    new StageIO.ModelReader((uid: String, d: PqModelData) => {
      val books = d.bookValues.grouped(d.subDim).toArray.grouped(d.nCents).toArray
      require(books.length == d.nSubspaces,
        s"corrupt artifact: ${books.length} codebooks, expected ${d.nSubspaces}")
      new GraftPQModel(uid, books)
    })
  override def load(path: String): GraftPQModel = super.load(path)
}
