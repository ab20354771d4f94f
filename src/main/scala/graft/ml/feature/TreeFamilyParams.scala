package graft.ml.feature

import org.apache.spark.ml.param._
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions.{col, count, floor, lit}
import org.apache.spark.sql.types.{DoubleType, LongType, NumericType, StructField, StructType}

/** The params and schema rules [[GraftTree]] and [[GraftGBT]] share:
  * the binned feature columns, the label, and the two output columns
  * (a leaf value or boosted score, and its prediction). Each estimator
  * adds its own loss and size params. */
trait TreeFamilyParams extends Params {
  final val binWidth = new DoubleParam(this, "binWidth",
    "histogram bin width in feature units (> 0)", ParamValidators.gt(0.0))
  final val featuresCol = new Param[String](this, "featuresCol",
    "numeric feature column (binned by binWidth for the split search)")
  final val featureCols = new StringArrayParam(this, "featureCols",
    "multi-feature mode: numeric feature columns the split search " +
      "argmins across; overrides featuresCol when set")
  final val binWidths = new DoubleArrayParam(this, "binWidths",
    "per-feature histogram bin widths for featureCols (same length); " +
      "defaults to binWidth for every feature",
    (ws: Array[Double]) => ws.forall(_ > 0.0))
  final val labelCol = new Param[String](this, "labelCol",
    "label column: binary {0,1} for the classification loss, an " +
      "integer-grid numeric for lossType=variance")
  final val predictionCol = new Param[String](this, "predictionCol",
    "output prediction column name ({0,1} for the classification " +
      "loss; the rounded predicted label for variance)")
  final val probabilityCol = new Param[String](this, "probabilityCol",
    "output score column name (positive rate or per-mille score / " +
      "1000 for the classification loss; the predicted label value for " +
      "variance)")

  setDefault(binWidth -> 100.0, predictionCol -> "prediction",
    probabilityCol -> "probability")

  def setFeaturesCol(value: String): this.type = set(featuresCol, value)
  def setFeatureCols(value: Array[String]): this.type = set(featureCols, value)
  def setBinWidths(value: Array[Double]): this.type = set(binWidths, value)
  def setPredictionCol(value: String): this.type = set(predictionCol, value)
  def setProbabilityCol(value: String): this.type = set(probabilityCol, value)

  /** The (column, binWidth) pairs training and scoring bin by:
    * featureCols×binWidths in multi-feature mode, the single
    * featuresCol×binWidth otherwise. */
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

  /** Fixed-width bin of a numeric feature column: floor(v / width). */
  protected def widthBin(c: String, width: Double): Column =
    floor(col(c).cast("double") / width).cast("long")

  /** The weighted design the tree loops read, and its feature column
    * names: binned features `__f<i>`, the label column as given and
    * `w`, the count of observations a row stands for. With `census`
    * the rows are grouped to their (bins, label) table — at most
    * 2 × |bin domain| rows for one feature and a binary label, which
    * every level or round then re-reads instead of the data; without
    * it each observation keeps its own row with `w` = 1. */
  protected def weightedDesign(df: DataFrame, bins: Seq[Column],
      label: Column, census: Boolean): (DataFrame, Seq[String]) = {
    val names = bins.indices.map(i => s"__f$i")
    val rows = df.select(bins.zip(names).map { case (b, n) => b.as(n) } :+
      label: _*)
    val design =
      if (census)
        rows.groupBy(rows.columns.toSeq.map(col): _*).agg(count(lit(1)).as("w"))
      else rows.withColumn("w", lit(1L))
    (design, names)
  }

  protected def validateAndTransformSchema(schema: StructType): StructType = {
    effectiveFeatures.foreach { case (c, _) =>
      require(schema.fieldNames.contains(c),
        s"features column '$c' not in ${schema.fieldNames.mkString(",")}")
      schema(c).dataType match {
        case _: NumericType => ()
        case other => throw new IllegalArgumentException(
          s"features column '$c' must be numeric, got $other")
      }
    }
    Seq($(predictionCol), $(probabilityCol)).foreach { c =>
      require(!schema.fieldNames.contains(c),
        s"output column '$c' already exists")
    }
    StructType(schema.fields ++ Seq(
      StructField($(probabilityCol), DoubleType, nullable = false),
      StructField($(predictionCol), LongType, nullable = false)))
  }
}
