package graft.ml.feature

import org.apache.spark.ml.{Estimator, Model}
import org.apache.spark.ml.attribute.AttributeGroup
import org.apache.spark.ml.functions.{array_to_vector, vector_to_array}
import org.apache.spark.ml.linalg.{DenseMatrix, DenseVector, SQLDataTypes}
import org.apache.spark.ml.param._
import org.apache.spark.ml.util.{Identifiable, MLReadable, MLReader, MLWritable, MLWriter}
import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions.{col, typedLit}
import org.apache.spark.sql.graftshim.ExpressionShim.{column, expression}
import org.apache.spark.sql.types.{ArrayType, DoubleType, FloatType, Metadata, StructField, StructType}

import graft.functions.PcaProject
import graft.ml.{Cov, Eigen}

/** Principal Component Analysis, API-compatible with the reference's
  * `com.nvidia.spark.ml.feature.PCA` (reference: PCA.scala:27-37,
  * RapidsPCA.scala:30-210): same params (`k`, `inputCol`, `outputCol`,
  * `meanCentering`, plus `useGemm`, `useCuSolverSVD` and `gpuId` kept
  * as inert compatibility params), same fit/transform/persistence
  * protocol, deterministic canonical-sign eigenvectors. The covariance
  * is always one [[graft.ml.Cov]] pass: upper-triangle panel `dgemm`
  * over row blocks, whatever `useGemm` says. Fit keeps only the top-k
  * eigenpairs ([[graft.ml.Eigen]]); transform is one codegen'd
  * projection expression ([[graft.functions.PcaProject]]) on every
  * input type.
  *
  * Differences from stock Spark ML PCA, matching the reference:
  *  - `meanCentering=false` computes components of the uncentered second
  *    moment (reference: RapidsRowMatrix.scala:163-165);
  *  - eigenvector signs are canonical (largest-|entry| positive,
  *    reference: rapidsml_jni.cu:37-64), so results are reproducible;
  *  - `array<numeric>` input columns are accepted alongside `VectorUDT`
  *    (the fixture embeddings are `array<float>`).
  */
trait GraftPCAParams extends Params {
  final val k = new IntParam(this, "k", "number of principal components (> 0)",
    ParamValidators.gtEq(1))
  final val inputCol = new Param[String](this, "inputCol", "input column name")
  final val outputCol = new Param[String](this, "outputCol", "output column name")
  final val meanCentering = new BooleanParam(this, "meanCentering",
    "center columns before computing covariance (reference RapidsPCA.scala:36-45)")
  final val useGemm = new BooleanParam(this, "useGemm",
    "compat: inert on JVM, the covariance is always the blocked dgemm pass " +
      "(reference RapidsPCA.scala:47-52)")
  final val useCuSolverSVD = new BooleanParam(this, "useCuSolverSVD",
    "compat: inert on JVM (reference RapidsPCA.scala:54-59)")
  final val gpuId = new IntParam(this, "gpuId",
    "compat: inert on JVM (reference RapidsPCA.scala:61-68)")

  setDefault(meanCentering -> true, useGemm -> true, useCuSolverSVD -> false,
    gpuId -> -1)

  def getK: Int = $(k)
  def getInputCol: String = $(inputCol)
  def getOutputCol: String = $(outputCol)
  def getMeanCentering: Boolean = $(meanCentering)

  protected def validateAndTransformSchema(schema: StructType): StructType = {
    require(schema.fieldNames.contains($(inputCol)),
      s"input column '${$(inputCol)}' not in ${schema.fieldNames.mkString(",")}")
    val outType = schema($(inputCol)).dataType match {
      case t if t == SQLDataTypes.VectorType => SQLDataTypes.VectorType
      case _: ArrayType => ArrayType(DoubleType, containsNull = false)
      case other => throw new IllegalArgumentException(
        s"input column '${$(inputCol)}' must be VectorUDT or array<numeric>, got $other")
    }
    require(!schema.fieldNames.contains($(outputCol)),
      s"output column '${$(outputCol)}' already exists")
    // stamp size-k ML attribute-group metadata so downstream stages
    // (assemblers, models) read the output width without a data pass
    // (reference: RapidsPCA.scala:193-200 via updateAttributeGroupSize)
    val meta = if (isSet(k)) new AttributeGroup($(outputCol), $(k)).toMetadata()
               else Metadata.empty
    StructType(schema.fields :+
      StructField($(outputCol), outType, nullable = false, meta))
  }
}

class GraftPCA(override val uid: String) extends Estimator[GraftPCAModel]
    with GraftPCAParams with MLWritable {

  def this() = this(Identifiable.randomUID("graftPca"))

  def setK(value: Int): this.type = set(k, value)
  def setInputCol(value: String): this.type = set(inputCol, value)
  def setOutputCol(value: String): this.type = set(outputCol, value)
  def setMeanCentering(value: Boolean): this.type = set(meanCentering, value)
  def setUseGemm(value: Boolean): this.type = set(useGemm, value)
  def setUseCuSolverSVD(value: Boolean): this.type = set(useCuSolverSVD, value)
  def setGpuId(value: Int): this.type = set(gpuId, value)

  /** Fit: one distributed pass (count+mean+Gram, Cov.scala), then
    * driver-local eigen post-processing (Eigen.scala). Mirrors the
    * reference lifecycle (RapidsPCA.scala:111-125), in one Spark job.
    *
    * The pass reads the width from the rows. Past [[Cov.MaxCols]], where
    * the exact route would need an n×n covariance that no JVM array
    * holds (the reference fails fast at 65535, RapidsRowMatrix.scala:
    * 66-68), the pass returns only the width and fit runs the randomized
    * sketch ([[graft.ml.Rsvd]]) instead: same output contract,
    * O(n·(k+10)) memory instead of O(n²). Routing depends on the width
    * alone, and only such wide input pays the width-only pass as an
    * extra job before the sketch's own passes. */
  override def fit(dataset: Dataset[_]): GraftPCAModel = {
    transformSchema(dataset.schema, logging = true)
    val df = dataset.toDF()
    val p = Cov.pass(df, $(inputCol)).getOrElse(
      throw new IllegalArgumentException(s"empty input column '${$(inputCol)}'"))
    val n = p.width
    require($(k) <= n, s"k=${$(k)} must be <= numFeatures=$n")
    val res =
      if (n > Cov.MaxCols) {
        // the sketch makes powerIters+2 passes: cache the extracted
        // vectors so each pass rereads storage instead of re-running
        // the upstream query's whole lineage
        val rows = Cov.vectorRdd(df, $(inputCol))
        rows.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        try graft.ml.Rsvd.pca(rows, n, $(k), $(meanCentering))
        finally { rows.unpersist(blocking = false); () }
      } else {
        val stats = p.stats
        val matrix =
          if ($(meanCentering)) stats.covariance else stats.gramNormalized
        Eigen.pca(matrix, $(k))
      }
    copyValues(new GraftPCAModel(uid, res.pc, res.explainedVariance)
      .setParent(this))
  }

  override def transformSchema(schema: StructType): StructType =
    validateAndTransformSchema(schema)

  override def copy(extra: ParamMap): GraftPCA = defaultCopy(extra)

  override def write: MLWriter = new GraftPCA.Writer(this)
}

/** Explicitly-set params of an estimator or model, one parquet row.
  * (The reference stores a JSON metadata file + a Matrix-UDT parquet,
  * RapidsPCA.scala:218-228; we store plain columns so the artifact is
  * readable by any parquet reader, DuckDB included.) Top-level so the
  * encoder's generated code can reach the accessors (nested private
  * classes force an interpreter fallback — or a hard failure under
  * Pipeline.save's codegen path). */
private[feature] case class ParamsData(uid: String, k: Option[Int],
    inputCol: Option[String], outputCol: Option[String],
    meanCentering: Option[Boolean], useGemm: Option[Boolean],
    useCuSolverSVD: Option[Boolean], gpuId: Option[Int])

/** Fitted-model artifact row: params + the n×k component matrix. */
private[feature] case class ModelData(params: ParamsData, pcRows: Int,
    pcCols: Int, pcValues: Array[Double], explainedVariance: Array[Double])

object GraftPCA extends MLReadable[GraftPCA] {

  /** DefaultParamsWriter-layout metadata file, so Pipeline persistence
    * can discover the stage class (`SharedReadWrite.load` reads
    * `metadata/` to find the companion reader, which then loads our
    * parquet artifact). Params are replicated in paramMap for
    * inspectability; our own reader uses the parquet row. */
  private[feature] def writeMetadata(path: String,
      spark: org.apache.spark.sql.SparkSession, instance: Params): Unit = {
    def jsonVal(v: Any): String = v match {
      case s: String => "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"") + "\""
      // array-typed params (e.g. featuresCols) must render as JSON
      // arrays — Array.toString would corrupt the metadata file that
      // Pipeline persistence parses to discover the stage class
      case a: Array[_] => "[" + a.map(jsonVal).mkString(",") + "]"
      case s: Seq[_] => "[" + s.map(jsonVal).mkString(",") + "]"
      case other => other.toString
    }
    val pairs = instance.params.flatMap(p => instance.get(p).map(v =>
      s""""${p.name}":${jsonVal(v)}""")).mkString(",")
    val json = s"""{"class":"${instance.getClass.getName}",""" +
      s""""timestamp":${System.currentTimeMillis()},""" +
      s""""sparkVersion":"${spark.version}","uid":"${instance.uid}",""" +
      s""""paramMap":{$pairs},"defaultParamMap":{}}"""
    import spark.implicits._
    // a one-row local Dataset is one partition: one part file, no shuffle
    Seq(json).toDS().write.mode("overwrite").text(s"$path/metadata")
  }

  private[feature] def paramsData(p: GraftPCAParams with Params): ParamsData =
    ParamsData(p.uid, p.get(p.k), p.get(p.inputCol), p.get(p.outputCol),
      p.get(p.meanCentering), p.get(p.useGemm), p.get(p.useCuSolverSVD),
      p.get(p.gpuId))

  private[feature] def restoreParams(t: GraftPCAParams, d: ParamsData): Unit = {
    d.k.foreach(v => t.set(t.k, v))
    d.inputCol.foreach(v => t.set(t.inputCol, v))
    d.outputCol.foreach(v => t.set(t.outputCol, v))
    d.meanCentering.foreach(v => t.set(t.meanCentering, v))
    d.useGemm.foreach(v => t.set(t.useGemm, v))
    d.useCuSolverSVD.foreach(v => t.set(t.useCuSolverSVD, v))
    d.gpuId.foreach(v => t.set(t.gpuId, v))
  }

  private[feature] class Writer(instance: GraftPCA) extends MLWriter {
    override protected def saveImpl(path: String): Unit = {
      val spark = sparkSession
      import spark.implicits._
      Seq(paramsData(instance)).toDS()
        .write.mode("overwrite").parquet(s"$path/params")
      writeMetadata(path, spark, instance)
    }
  }

  private class Reader extends MLReader[GraftPCA] {
    override def load(path: String): GraftPCA = {
      val spark = sparkSession
      import spark.implicits._
      val d = spark.read.parquet(s"$path/params").as[ParamsData].head()
      val est = new GraftPCA(d.uid)
      restoreParams(est, d)
      est
    }
  }

  override def read: MLReader[GraftPCA] = new Reader
  override def load(path: String): GraftPCA = super.load(path)
}

/** Fitted PCA model: `pc` is n×k (column i = i-th principal component),
  * `explainedVariance` the k variance ratios. Transform projects each
  * row n→k via pcᵀ·v (reference: RapidsPCA.scala:186-189). */
class GraftPCAModel(override val uid: String, val pc: DenseMatrix,
    val explainedVariance: DenseVector)
    extends Model[GraftPCAModel] with GraftPCAParams with MLWritable {

  def setInputCol(value: String): this.type = set(inputCol, value)
  def setOutputCol(value: String): this.type = set(outputCol, value)

  /** One appended column: the codegen'd [[graft.functions.PcaProject]]
    * with pcᵀ as a foldable k×n literal. `array<float>`/`array<double>`
    * input goes in directly, other numeric arrays are cast to
    * `array<double>` in the plan, and VectorUDT input (dense or sparse)
    * is wrapped in Spark's `vector_to_array`/`array_to_vector`. */
  override def transform(dataset: Dataset[_]): DataFrame = {
    val outField = transformSchema(dataset.schema, logging = true)($(outputCol))
    val in = col($(inputCol))
    val (rows, isVec) = dataset.schema($(inputCol)).dataType match {
      case ArrayType(FloatType | DoubleType, _) => (in, false)
      case _: ArrayType => (in.cast("array<double>"), false)
      case _ => (vector_to_array(in), true)
    }
    val pcT = pc.colIter.map(_.toArray.toSeq).toSeq
    val projected = column(PcaProject(expression(rows), expression(typedLit(pcT))))
    dataset.select(col("*"), (if (isVec) array_to_vector(projected) else projected)
      .as($(outputCol), outField.metadata))
  }

  override def transformSchema(schema: StructType): StructType =
    validateAndTransformSchema(schema)

  override def copy(extra: ParamMap): GraftPCAModel =
    copyValues(new GraftPCAModel(uid, pc, explainedVariance), extra)
      .setParent(parent)

  override def write: MLWriter = new GraftPCAModel.Writer(this)
}

object GraftPCAModel extends MLReadable[GraftPCAModel] {

  private[feature] class Writer(instance: GraftPCAModel) extends MLWriter {
    override protected def saveImpl(path: String): Unit = {
      val spark = sparkSession
      import spark.implicits._
      val d = ModelData(GraftPCA.paramsData(instance), instance.pc.numRows,
        instance.pc.numCols, instance.pc.values,
        instance.explainedVariance.values)
      // single artifact file, as the reference (RapidsPCA.scala:224)
      Seq(d).toDS().write.mode("overwrite").parquet(s"$path/data")
      GraftPCA.writeMetadata(path, spark, instance)
    }
  }

  private class Reader extends MLReader[GraftPCAModel] {
    override def load(path: String): GraftPCAModel = {
      val spark = sparkSession
      import spark.implicits._
      val d = spark.read.parquet(s"$path/data").as[ModelData].head()
      val model = new GraftPCAModel(d.params.uid,
        new DenseMatrix(d.pcRows, d.pcCols, d.pcValues),
        new DenseVector(d.explainedVariance))
      GraftPCA.restoreParams(model, d.params)
      model
    }
  }

  override def read: MLReader[GraftPCAModel] = new Reader
  override def load(path: String): GraftPCAModel = super.load(path)
}
