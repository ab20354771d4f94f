package graft.ml.feature

import org.apache.spark.ml.{Estimator, Model}
import org.apache.spark.ml.param._
import org.apache.spark.ml.util.{Identifiable, MLReadable, MLReader, MLWritable, MLWriter}
import org.apache.spark.sql.{Column, DataFrame, Dataset}
import org.apache.spark.sql.functions.{col, count, floor, lit, sum, transform, when}
import org.apache.spark.sql.types.{ArrayType, DoubleType, LongType, NumericType, StructField, StructType}

import graft.operators.Stump

/** Estimator/Model API over the depth-k histogram decision tree
  * (SURVEY.md §2 D279) — protocol surface #11, generalizing the
  * p17/p19 split-search recursion ([[graft.operators.Stump]]) to
  * configurable depth behind the reference's fit/transform/persistence
  * lifecycle (reference:
  * /root/reference/src/main/scala/org/apache/spark/ml/feature/RapidsPCA.scala:81-137,
  * the Estimator–Model–MLWritable protocol [[GraftPCA]] established).
  *
  * Training is [[Stump.fitTreeSplits]]: per level, ONE pass over the
  * domain-bounded bin histogram routes rows through a literal
  * threshold when-tree, an exact-integer cumulative scan finds each
  * node's best weighted-Gini split, and the ≤ 2^depth winners extend
  * the tree — the XGBoost-`hist` architecture (arXiv:1603.02754
  * §3.3): distributed histograms, centralized split decisions, no
  * per-row sort, per-level cost bounded by the value domain.
  *
  * Transform routes each row to its leaf with the same literal
  * when-tree (pure codegen, no shuffle, no join) and scores it with
  * the leaf's exact positive rate — left child = pl/nl, right child =
  * pr/nr off the parent's recorded split census, so model scoring and
  * the fitted censuses can never disagree. */
trait GraftTreeParams extends Params {
  final val maxDepth = new IntParam(this, "maxDepth",
    "tree depth: number of split levels (>= 1)", ParamValidators.gtEq(1))
  final val binWidth = new DoubleParam(this, "binWidth",
    "histogram bin width in feature units (> 0)", ParamValidators.gt(0.0))
  final val featuresCol = new Param[String](this, "featuresCol",
    "numeric feature column (binned by binWidth for the split search)")
  final val featureCols = new StringArrayParam(this, "featureCols",
    "multi-feature mode (D289): numeric feature columns the split " +
      "search argmins across; overrides featuresCol when set")
  final val binWidths = new DoubleArrayParam(this, "binWidths",
    "per-feature histogram bin widths for featureCols (same length); " +
      "defaults to binWidth for every feature",
    (ws: Array[Double]) => ws.forall(_ > 0.0))
  final val labelCol = new Param[String](this, "labelCol",
    "label column: binary {0,1} for lossType=gini, an integer-grid " +
      "numeric for lossType=variance")
  final val predictionCol = new Param[String](this, "predictionCol",
    "output prediction column name ({0,1} for gini; the rounded leaf " +
      "mean for variance)")
  final val probabilityCol = new Param[String](this, "probabilityCol",
    "output leaf-value column name (positive rate for gini; exact " +
      "leaf mean for variance)")
  final val lossType = new Param[String](this, "lossType",
    "split criterion (D294): 'gini' (binary label, weighted-Gini " +
      "splits) or 'variance' (integer-grid label, squared-error splits)",
    ParamValidators.inArray(Array("gini", "variance")))
  final val numBins = new IntParam(this, "numBins",
    "automatic quantile binning (D294): derive each feature's bin " +
      "edges as its exact k/numBins quantiles at fit time (overrides " +
      "binWidth/binWidths); the learned edges persist in the model so " +
      "scoring bins identically", ParamValidators.gtEq(2))

  setDefault(maxDepth -> 3, binWidth -> 100.0, lossType -> "gini",
    predictionCol -> "prediction", probabilityCol -> "probability")

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

class GraftTree(override val uid: String)
    extends Estimator[GraftTreeModel] with GraftTreeParams with MLWritable {

  def this() = this(Identifiable.randomUID("graftTree"))

  def setMaxDepth(value: Int): this.type = set(maxDepth, value)
  def setBinWidth(value: Double): this.type = set(binWidth, value)
  def setFeaturesCol(value: String): this.type = set(featuresCol, value)
  def setFeatureCols(value: Array[String]): this.type = set(featureCols, value)
  def setBinWidths(value: Array[Double]): this.type = set(binWidths, value)
  def setLabelCol(value: String): this.type = set(labelCol, value)
  def setPredictionCol(value: String): this.type = set(predictionCol, value)
  def setProbabilityCol(value: String): this.type = set(probabilityCol, value)
  def setLossType(value: String): this.type = set(lossType, value)
  def setNumBins(value: Int): this.type = set(numBins, value)

  /** Learn per-feature quantile edges from the dataset (the D294 auto
    * binning): one bounded min/max pass sizes each feature's histogram
    * width, then exactPercentiles' two-phase machinery finds the
    * k/numBins edges without buffering any value set. */
  private def learnEdges(df: DataFrame,
      feats: Seq[String]): Array[Array[Double]] = {
    import org.apache.spark.sql.functions.{max, min}
    val b = $(numBins)
    val aggs = feats.flatMap(c => Seq(min(col(c).cast("double")),
      max(col(c).cast("double"))))
    val mm = df.agg(aggs.head, aggs.tail: _*).head()
    feats.indices.map { i =>
      val (mn, mx) =
        (if (mm.isNullAt(2 * i)) 0.0 else mm.getDouble(2 * i),
          if (mm.isNullAt(2 * i + 1)) 0.0 else mm.getDouble(2 * i + 1))
      val width = math.max((mx - mn) / 1024.0, java.lang.Double.MIN_NORMAL)
      graft.operators.RegTree.quantileEdges(
        df.select(col(feats(i)).cast("double").as("v")), b, width).toArray
    }.toArray
  }

  override def fit(dataset: Dataset[_]): GraftTreeModel = {
    transformSchema(dataset.schema, logging = true)
    require(dataset.schema.fieldNames.contains($(labelCol)),
      s"label column '${$(labelCol)}' not in ${dataset.schema.fieldNames.mkString(",")}")
    import graft.CacheScope.ScopedPersist
    val feats = effectiveFeatures
    val edges: Array[Array[Double]] =
      if (isSet(numBins)) learnEdges(dataset.toDF(), feats.map(_._1))
      else Array.empty
    def binCol(i: Int): Column =
      if (edges.nonEmpty)
        graft.operators.RegTree.quantileBin(
          col(feats(i)._1).cast("double"), edges(i).toSeq)
      else floor(col(feats(i)._1).cast("double") / feats(i)._2).cast("long")
    val (splits, rootCensus) =
      if ($(lossType) == "variance") {
        // D294: squared-error splits over the (possibly quantile-)
        // binned design; TreeSplit's pos/pl/pr fields carry Σy, so
        // leaf values are exact means through the same model shape
        val design = dataset.toDF().select(
          feats.indices.map(i => binCol(i).as(s"__f$i")) :+
            col($(labelCol)).cast("long").as("y"): _*)
          .scopedPersist()
        val sp = graft.operators.RegTree.fitRegTreeSplitsMulti(design,
          feats.indices.map(i => s"__f$i"), $(maxDepth))
        val census = () => {
          val t = design.agg(count(lit(1)), sum(col("y"))).head()
          (t.getLong(0), if (t.isNullAt(1)) 0L else t.getLong(1))
        }
        (sp, census)
      } else if (feats.length == 1 && edges.isEmpty) {
        // single feature: the domain-bounded histogram is computed
        // ONCE and every level re-routes it — strictly cheaper than
        // the multi-feature per-level re-census
        val hist = dataset.toDF().select(
            floor(col(feats.head._1).cast("double") / feats.head._2)
              .cast("long").as("bin"),
            col($(labelCol)).cast("long").as("y"))
          .groupBy(col("bin"))
          .agg(count(lit(1)).as("cnt"), sum(col("y")).as("p"))
          .scopedPersist()
        val sp = Stump.fitTreeSplits(hist, $(maxDepth))
        val census = () => {
          val t = hist.agg(sum(col("cnt")), sum(col("p"))).head()
          (if (t.isNullAt(0)) 0L else t.getLong(0),
            if (t.isNullAt(1)) 0L else t.getLong(1))
        }
        (sp, census)
      } else {
        // multi-feature (D289): per-level re-census, argmin across
        // the d feature histograms
        val design = dataset.toDF().select(
          feats.indices.map(i => binCol(i).as(s"__f$i")) :+
            col($(labelCol)).cast("long").as("y"): _*)
          .scopedPersist()
        val sp = Stump.fitTreeSplitsMulti(design,
          feats.indices.map(i => s"__f$i"), $(maxDepth))
        val census = () => {
          val t = design.agg(count(lit(1)), sum(col("y"))).head()
          (t.getLong(0), if (t.isNullAt(1)) 0L else t.getLong(1))
        }
        (sp, census)
      }
    // root census even when the root is pure (no split to read it off)
    val (rootN, rootPos) = splits.headOption match {
      case Some(r) if r.node.isEmpty => (r.n, r.pos)
      case _ => rootCensus()
    }
    copyValues(new GraftTreeModel(uid, splits.toArray, rootN, rootPos,
      edges).setParent(this))
  }

  override def transformSchema(schema: StructType): StructType =
    validateAndTransformSchema(schema)

  override def copy(extra: ParamMap): GraftTree = defaultCopy(extra)

  override def write: MLWriter = new StageIO.EstimatorWriter(this)
}

/** Fitted histogram tree: the complete split table (path-labeled
  * nodes with exact censuses and thresholds), the root census for the
  * pure-root edge, and — when fit with `numBins` — the learned
  * per-feature quantile edges, so scoring bins exactly as training
  * did. For lossType=variance the `pos`/`pl`/`pr` fields carry Σy and
  * a leaf's value is its exact mean. */
class GraftTreeModel private[feature] (override val uid: String,
    val splits: Array[Stump.TreeSplit], val rootN: Long, val rootPos: Long,
    val binEdges: Array[Array[Double]] = Array.empty)
    extends Model[GraftTreeModel] with GraftTreeParams with MLWritable {

  def setFeaturesCol(value: String): this.type = set(featuresCol, value)
  def setFeatureCols(value: Array[String]): this.type = set(featureCols, value)
  def setBinWidths(value: Array[Double]): this.type = set(binWidths, value)
  def setPredictionCol(value: String): this.type = set(predictionCol, value)
  def setProbabilityCol(value: String): this.type = set(probabilityCol, value)

  private lazy val byNode: Map[String, Stump.TreeSplit] =
    splits.map(s => s.node -> s).toMap

  /** Exact leaf value for a region with no further split — positive
    * rate (gini) or mean (variance), read off the parent's recorded
    * child census (one formula: pl/nl carries positives or Σy). */
  private def leafRate(path: String): Double =
    if (path.isEmpty) {
      if (rootN == 0L) 0.0 else rootPos.toDouble / rootN.toDouble
    } else {
      val s = byNode(path.dropRight(1))
      if (path.last == 'L') s.pl.toDouble / s.nl.toDouble
      else s.pr.toDouble / s.nr.toDouble
    }

  /** The literal routing when-tree over the per-feature bin columns —
    * pure codegen, ≤ 2^depth leaves, no join, no shuffle. */
  private def probCol(bins: Seq[Column]): Column = {
    def walk(path: String): Column = byNode.get(path) match {
      case Some(s) => when(bins(s.feature) <= lit(s.thresholdBin),
        walk(path + "L")).otherwise(walk(path + "R"))
      case None => lit(leafRate(path))
    }
    walk("")
  }

  override def transform(dataset: Dataset[_]): DataFrame = {
    transformSchema(dataset.schema, logging = true)
    val feats = effectiveFeatures
    val bins = feats.indices.map { i =>
      if (binEdges.nonEmpty)
        graft.operators.RegTree.quantileBin(
          col(feats(i)._1).cast("double"), binEdges(i).toSeq)
      else floor(col(feats(i)._1).cast("double") / feats(i)._2).cast("long")
    }
    val p = probCol(bins)
    val pred =
      if ($(lossType) == "variance") floor(p + lit(0.5)).cast("long")
      else (p >= lit(0.5)).cast("long")
    dataset.toDF()
      .withColumn($(probabilityCol), p)
      .withColumn($(predictionCol), pred)
  }

  override def transformSchema(schema: StructType): StructType =
    validateAndTransformSchema(schema)

  override def copy(extra: ParamMap): GraftTreeModel =
    copyValues(new GraftTreeModel(uid, splits, rootN, rootPos, binEdges),
      extra).setParent(parent)

  override def write: MLWriter = new StageIO.ModelWriter(this,
    TreeModelData(splits.toSeq, rootN, rootPos,
      if (binEdges.isEmpty) None else Some(binEdges.toSeq.map(_.toSeq))))
}

/** Fitted-model payload after the `params` struct ([[StageIO]]): split
  * table + root census + learned quantile edges (empty = width
  * binning). */
private[feature] case class TreeModelData(splits: Seq[Stump.TreeSplit],
    rootN: Long, rootPos: Long, binEdges: Option[Seq[Seq[Double]]])

object GraftTree extends MLReadable[GraftTree] {
  override def read: MLReader[GraftTree] = new StageIO.EstimatorReader(new GraftTree(_))
  override def load(path: String): GraftTree = super.load(path)
}

object GraftTreeModel extends MLReadable[GraftTreeModel] {

  /** Artifacts persisted before the multi-feature round lack the nested
    * split `feature` field, and pre-r15 ones the `binEdges` column.
    * `.as[T]` does NOT apply Scala default values, so both are
    * backfilled before decoding: feature = 0 (the single-feature
    * reading) and null edges (width binning). */
  private def withFeatureAndEdges(df: DataFrame): DataFrame = {
    val withFeature =
      if (df.schema("splits").dataType.asInstanceOf[ArrayType].elementType
          .asInstanceOf[StructType].fieldNames.contains("feature")) df
      else df.withColumn("splits", transform(col("splits"), _.withField("feature", lit(0))))
    if (withFeature.columns.contains("binEdges")) withFeature
    else withFeature.withColumn("binEdges", lit(null).cast("array<array<double>>"))
  }

  override def read: MLReader[GraftTreeModel] =
    new StageIO.ModelReader((uid: String, d: TreeModelData) =>
      new GraftTreeModel(uid, d.splits.toArray, d.rootN, d.rootPos,
        d.binEdges.map(_.map(_.toArray).toArray).getOrElse(Array.empty)),
      fix = withFeatureAndEdges)
  override def load(path: String): GraftTreeModel = super.load(path)
}
