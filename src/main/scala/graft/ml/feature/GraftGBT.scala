package graft.ml.feature

import org.apache.spark.ml.{Estimator, Model}
import org.apache.spark.ml.param._
import org.apache.spark.ml.util.{Identifiable, MLReadable, MLReader, MLWritable, MLWriter}
import org.apache.spark.sql.{Column, DataFrame, Dataset}
import org.apache.spark.sql.functions.{col, count, floor, lit, sum, transform, when}
import org.apache.spark.sql.types.{ArrayType, DoubleType, LongType, NumericType, StructField, StructType}

import graft.operators.Gbt

/** Estimator/Model API over the exact-integer gradient-boosted stumps
  * (SURVEY.md §2 D281) — protocol surface #12, completing the tree
  * family [[GraftTree]] (#11) opened, behind the reference's
  * fit/transform/persistence lifecycle (reference:
  * /root/reference/src/main/scala/org/apache/spark/ml/feature/RapidsPCA.scala:81-137).
  *
  * Training is [[Gbt.fitGbt]]: T rounds of least-squares stumps on
  * the residuals of the running per-mille-grid integer prediction,
  * learning rate ½, every census an exact long off the same
  * domain-bounded bin histogram (Friedman 2001; the histogram
  * formulation is XGBoost-`hist`, arXiv:1603.02754 §3.3).
  *
  * Transform evaluates the additive model as a literal expression —
  * the base floor-mean plus one `when(bin <= thr, dl, dr)` term per
  * round (pure codegen, no shuffle, no join) — emitting the per-mille
  * score as a [0-ish..1-ish] probability and a 0.5-threshold
  * prediction. Scoring uses the integer adjustments training
  * committed, so model output and fitted state can never disagree. */
trait GraftGBTParams extends Params {
  final val maxIter = new IntParam(this, "maxIter",
    "boosting rounds (1 to Gbt.gbtMaxRounds): the exact-integer " +
      "residual grid supports at most 25 rounds before the worst-case " +
      "drift envelope could overflow the Long census",
    ParamValidators.inRange(1, Gbt.gbtMaxRounds))
  final val binWidth = new DoubleParam(this, "binWidth",
    "histogram bin width in feature units (> 0)", ParamValidators.gt(0.0))
  final val featuresCol = new Param[String](this, "featuresCol",
    "numeric feature column (binned by binWidth for the split search)")
  final val featureCols = new StringArrayParam(this, "featureCols",
    "multi-feature mode (D290): numeric feature columns each round's " +
      "split search argmins across; overrides featuresCol when set")
  final val binWidths = new DoubleArrayParam(this, "binWidths",
    "per-feature histogram bin widths for featureCols (same length); " +
      "defaults to binWidth for every feature",
    (ws: Array[Double]) => ws.forall(_ > 0.0))
  final val labelCol = new Param[String](this, "labelCol",
    "label column: binary {0,1} for lossType=binary, an integer-grid " +
      "numeric for lossType=variance")
  final val predictionCol = new Param[String](this, "predictionCol",
    "output prediction column name ({0,1} for binary; the rounded " +
      "predicted label for variance)")
  final val probabilityCol = new Param[String](this, "probabilityCol",
    "output boosted-score column name (per-mille grid / 1000 for " +
      "binary; the predicted label value for variance)")
  final val lossType = new Param[String](this, "lossType",
    "loss (D295): 'binary' (binary {0,1} label on the fixed per-mille " +
      "grid) or 'variance' (continuous integer-grid label, " +
      "squared-error regression boosting)",
    ParamValidators.inArray(Array("binary", "variance")))
  final val labelGrid = new LongParam(this, "labelGrid",
    "variance loss: integer grid multiplier applied to the label " +
      "(yg = label * labelGrid; finer grids give finer leaf values)",
    ParamValidators.gtEq(1))
  final val labelBound = new LongParam(this, "labelBound",
    "variance loss: declared bound on |label * labelGrid| — sizes the " +
      "exact-arithmetic shift (fit fails loudly if data exceeds it)",
    ParamValidators.gtEq(1))

  setDefault(maxIter -> Gbt.gbtRounds, binWidth -> 100.0,
    lossType -> "binary", labelGrid -> 100L,
    predictionCol -> "prediction", probabilityCol -> "probability")

  /** The (column, binWidth) pairs training and scoring bin by. */
  protected def effectiveFeatures: Seq[(String, Double)] =
    if (isSet(featureCols)) {
      val cols = $(featureCols).toSeq
      require(cols.nonEmpty, "featureCols must be non-empty")
      val ws =
        if (isSet(binWidths)) $(binWidths).toSeq
        else Seq.fill(cols.length)($(binWidth))
      require(ws.length == cols.length,
        s"binWidths has ${ws.length} entries for ${cols.length} featureCols")
      cols.zip(ws)
    } else Seq(($(featuresCol), $(binWidth)))

  protected def validateFeatures(schema: StructType): Unit =
    effectiveFeatures.foreach { case (c, _) =>
      require(schema.fieldNames.contains(c),
        s"features column '$c' not in ${schema.fieldNames.mkString(",")}")
      schema(c).dataType match {
        case _: NumericType => ()
        case other => throw new IllegalArgumentException(
          s"features column '$c' must be numeric, got $other")
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

class GraftGBT(override val uid: String)
    extends Estimator[GraftGBTModel] with GraftGBTParams with MLWritable {

  def this() = this(Identifiable.randomUID("graftGBT"))

  def setMaxIter(value: Int): this.type = set(maxIter, value)
  def setBinWidth(value: Double): this.type = set(binWidth, value)
  def setFeaturesCol(value: String): this.type = set(featuresCol, value)
  def setFeatureCols(value: Array[String]): this.type = set(featureCols, value)
  def setBinWidths(value: Array[Double]): this.type = set(binWidths, value)
  def setLabelCol(value: String): this.type = set(labelCol, value)
  def setPredictionCol(value: String): this.type = set(predictionCol, value)
  def setProbabilityCol(value: String): this.type = set(probabilityCol, value)
  def setLossType(value: String): this.type = set(lossType, value)
  def setLabelGrid(value: Long): this.type = set(labelGrid, value)
  def setLabelBound(value: Long): this.type = set(labelBound, value)

  override def fit(dataset: Dataset[_]): GraftGBTModel = {
    transformSchema(dataset.schema, logging = true)
    require(dataset.schema.fieldNames.contains($(labelCol)),
      s"label column '${$(labelCol)}' not in ${dataset.schema.fieldNames.mkString(",")}")
    import graft.CacheScope.ScopedPersist
    val feats = effectiveFeatures
    val (f0, rounds) =
      if ($(lossType) == "variance") {
        // D295: regression boosting on the declared integer grid
        require(isSet(labelBound),
          "lossType=variance needs labelBound (the declared bound on " +
            "|label * labelGrid| that sizes the exact-arithmetic shift)")
        val design = dataset.toDF().select(
          feats.zipWithIndex.map { case ((c, w), i) =>
            floor(col(c).cast("double") / w).cast("long").as(s"__f$i")
          } :+ (col($(labelCol)).cast("long") * lit($(labelGrid)))
            .as("yg"): _*)
          .scopedPersist()
        graft.operators.RegTree.fitRegGbtMulti(design,
          feats.indices.map(i => s"__f$i"), $(maxIter), $(labelBound))
      } else if (feats.length == 1) {
        // single feature: one domain-bounded histogram serves every
        // round (per-bin F is well-defined) — cheaper than re-censusing
        val hist = dataset.toDF().select(
            floor(col(feats.head._1).cast("double") / feats.head._2)
              .cast("long").as("bin"),
            col($(labelCol)).cast("long").as("y"))
          .groupBy(col("bin"))
          .agg(count(lit(1)).as("cnt"), sum(col("y")).as("p"))
        Gbt.fitGbt(hist.scopedPersist(), $(maxIter))
      } else {
        // multi-feature (D290): per-round re-census, argmin across
        // the d residual histograms
        val design = dataset.toDF().select(
          feats.zipWithIndex.map { case ((c, w), i) =>
            floor(col(c).cast("double") / w).cast("long").as(s"__f$i")
          } :+ col($(labelCol)).cast("long").as("y"): _*)
          .scopedPersist()
        Gbt.fitGbtMulti(design, feats.indices.map(i => s"__f$i"),
          $(maxIter))
      }
    copyValues(new GraftGBTModel(uid, f0, rounds.toArray).setParent(this))
  }

  override def transformSchema(schema: StructType): StructType =
    validateAndTransformSchema(schema)

  override def copy(extra: ParamMap): GraftGBT = defaultCopy(extra)

  override def write: MLWriter = new StageIO.EstimatorWriter(this)
}

/** Fitted boosted-stump ensemble: the base per-mille prediction plus
  * one (threshold, leaf values) round per boosting iteration. */
class GraftGBTModel private[feature] (override val uid: String,
    val baseF: Long, val rounds: Array[Gbt.GbtRound])
    extends Model[GraftGBTModel] with GraftGBTParams with MLWritable {

  def setFeaturesCol(value: String): this.type = set(featuresCol, value)
  def setFeatureCols(value: Array[String]): this.type = set(featureCols, value)
  def setBinWidths(value: Array[Double]): this.type = set(binWidths, value)
  def setPredictionCol(value: String): this.type = set(predictionCol, value)
  def setProbabilityCol(value: String): this.type = set(probabilityCol, value)

  /** The additive per-mille score as a literal expression chain over
    * the per-feature bin columns. */
  private def scoreCol(bins: Seq[Column]): Column =
    rounds.foldLeft(lit(baseF)) { (f, r) =>
      val (dl, dr) = Gbt.adjustments(r)
      f + when(bins(r.feature) <= lit(r.thresholdBin), lit(dl))
        .otherwise(lit(dr))
    }

  override def transform(dataset: Dataset[_]): DataFrame = {
    transformSchema(dataset.schema, logging = true)
    val bins = effectiveFeatures.map { case (c, w) =>
      floor(col(c).cast("double") / w).cast("long") }
    val f = scoreCol(bins)
    if ($(lossType) == "variance") {
      // the additive score lives on the labelGrid: surface the
      // predicted label value and its half-up rounding
      val score = f.cast("double") / lit($(labelGrid).toDouble)
      dataset.toDF()
        .withColumn($(probabilityCol), score)
        .withColumn($(predictionCol), floor(score + lit(0.5)).cast("long"))
    } else
      dataset.toDF()
        .withColumn($(probabilityCol), f.cast("double") / lit(1000.0))
        .withColumn($(predictionCol), (f >= lit(500L)).cast("long"))
  }

  override def transformSchema(schema: StructType): StructType =
    validateAndTransformSchema(schema)

  override def copy(extra: ParamMap): GraftGBTModel =
    copyValues(new GraftGBTModel(uid, baseF, rounds), extra)
      .setParent(parent)

  override def write: MLWriter =
    new StageIO.ModelWriter(this, GBTModelData(baseF, rounds.toSeq))
}

/** Fitted-model payload after the `params` struct ([[StageIO]]): base
  * prediction + round table. */
private[feature] case class GBTModelData(baseF: Long, rounds: Seq[Gbt.GbtRound])

object GraftGBT extends MLReadable[GraftGBT] {
  override def read: MLReader[GraftGBT] = new StageIO.EstimatorReader(new GraftGBT(_))
  override def load(path: String): GraftGBT = super.load(path)
}

object GraftGBTModel extends MLReadable[GraftGBTModel] {

  /** Artifacts persisted before the multi-feature round lack the nested
    * `feature` field, and `.as[T]` does NOT apply Scala default values:
    * backfill feature = 0 (the single-feature reading) before decoding. */
  private def withRoundFeature(df: DataFrame): DataFrame =
    if (df.schema("rounds").dataType.asInstanceOf[ArrayType].elementType
        .asInstanceOf[StructType].fieldNames.contains("feature")) df
    else df.withColumn("rounds", transform(col("rounds"), _.withField("feature", lit(0))))

  override def read: MLReader[GraftGBTModel] =
    new StageIO.ModelReader((uid: String, d: GBTModelData) =>
      new GraftGBTModel(uid, d.baseF, d.rounds.toArray), fix = withRoundFeature)
  override def load(path: String): GraftGBTModel = super.load(path)
}
