package graft.ml.feature

import org.apache.spark.ml.{Estimator, Model}
import org.apache.spark.ml.param._
import org.apache.spark.ml.util.{Identifiable, MLReadable, MLReader, MLWritable, MLWriter}
import org.apache.spark.sql.{Column, DataFrame, Dataset}
import org.apache.spark.sql.functions.{col, floor, lit, transform, when}
import org.apache.spark.sql.types.{ArrayType, StructType}

import graft.operators.{Gbt, RegTree}

/** Estimator/Model API over the exact-integer gradient-boosted stumps
  * (SURVEY.md §2 D281) — protocol surface #12, completing the tree
  * family [[GraftTree]] (#11) opened, behind the reference's
  * fit/transform/persistence lifecycle (reference:
  * /root/reference/src/main/scala/org/apache/spark/ml/feature/RapidsPCA.scala:81-137).
  *
  * Training is T rounds of least-squares stumps on the residuals of
  * the running integer-grid prediction, learning rate ½, every census
  * an exact long (Friedman 2001; the histogram formulation is
  * XGBoost-`hist`, arXiv:1603.02754 §3.3), all through
  * [[Gbt.fitGbtMulti]]: a single binary feature off its (bin, label)
  * census, which every round re-reads instead of the data; several
  * features and the variance loss re-census the rows per round.
  *
  * Transform evaluates the additive model as a literal expression —
  * the base floor-mean plus one `when(bin <= thr, dl, dr)` term per
  * round (pure codegen, no shuffle, no join) — emitting the per-mille
  * score as a [0-ish..1-ish] probability and a 0.5-threshold
  * prediction. Scoring uses the integer adjustments training
  * committed, so model output and fitted state can never disagree. */
trait GraftGBTParams extends TreeFamilyParams {
  final val maxIter = new IntParam(this, "maxIter",
    "boosting rounds (1 to Gbt.gbtMaxRounds): the exact-integer " +
      "residual grid supports at most 25 rounds before the worst-case " +
      "drift envelope could overflow the Long census",
    ParamValidators.inRange(1, Gbt.gbtMaxRounds))
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

  setDefault(maxIter -> Gbt.gbtRounds, lossType -> "binary",
    labelGrid -> 100L)
}

class GraftGBT(override val uid: String)
    extends Estimator[GraftGBTModel] with GraftGBTParams with MLWritable {

  def this() = this(Identifiable.randomUID("graftGBT"))

  def setMaxIter(value: Int): this.type = set(maxIter, value)
  def setBinWidth(value: Double): this.type = set(binWidth, value)
  def setLabelCol(value: String): this.type = set(labelCol, value)
  def setLossType(value: String): this.type = set(lossType, value)
  def setLabelGrid(value: Long): this.type = set(labelGrid, value)
  def setLabelBound(value: Long): this.type = set(labelBound, value)

  override def fit(dataset: Dataset[_]): GraftGBTModel = {
    transformSchema(dataset.schema, logging = true)
    require(dataset.schema.fieldNames.contains($(labelCol)),
      s"label column '${$(labelCol)}' not in ${dataset.schema.fieldNames.mkString(",")}")
    import graft.CacheScope.ScopedPersist
    val feats = effectiveFeatures
    val variance = $(lossType) == "variance"
    // the per-mille grid (binary) or the declared label grid
    // (variance, D295)
    require(!variance || isSet(labelBound),
      "lossType=variance needs labelBound (the declared bound on " +
        "|label * labelGrid| that sizes the exact-arithmetic shift)")
    val (grid, range, shift) =
      if (variance) ($(labelGrid), (-$(labelBound), $(labelBound)),
        RegTree.regShiftFor($(labelBound), $(maxIter)))
      else (1000L, Gbt.binaryGrid, Gbt.shiftFor($(maxIter)))
    // one binary feature: its (bin, label) census, at most 2 × |bin
    // domain| rows, serves every round — cheaper than re-censusing
    val (design, cols) = weightedDesign(dataset.toDF(),
      feats.map { case (c, w) => widthBin(c, w) },
      (col($(labelCol)).cast("long") * lit(grid)).as("yg"),
      census = !variance && feats.length == 1)
    val (f0, rounds) = Gbt.fitGbtMulti(design.scopedPersist(), cols,
      $(maxIter), range, shift)
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
    val f = scoreCol(effectiveFeatures.map { case (c, w) => widthBin(c, w) })
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
