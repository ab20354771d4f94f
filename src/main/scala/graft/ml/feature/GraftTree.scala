package graft.ml.feature

import org.apache.spark.ml.{Estimator, Model}
import org.apache.spark.ml.param._
import org.apache.spark.ml.util.{Identifiable, MLReadable, MLReader, MLWritable, MLWriter}
import org.apache.spark.sql.{Column, DataFrame, Dataset}
import org.apache.spark.sql.functions.{coalesce, col, floor, lit, sum, transform, when}
import org.apache.spark.sql.types.{ArrayType, StructType}

import graft.operators.{RegTree, Stump}

/** Estimator/Model API over the depth-k histogram decision tree
  * (SURVEY.md §2 D279) — protocol surface #11, generalizing the
  * p17/p19 split-search recursion ([[graft.operators.Stump]]) to
  * configurable depth behind the reference's fit/transform/persistence
  * lifecycle (reference:
  * /root/reference/src/main/scala/org/apache/spark/ml/feature/RapidsPCA.scala:81-137,
  * the Estimator–Model–MLWritable protocol [[GraftPCA]] established).
  *
  * Training is [[RegTree.fitForestSplits]] with one all-rows bag, the
  * loss picked by `lossType` (weighted Gini or variance): per level,
  * ONE pass over the weighted design routes rows through a literal
  * threshold when-tree, an exact-integer cumulative scan per feature
  * histogram finds each node's best split, and the ≤ 2^depth winners
  * extend the tree — the XGBoost-`hist` architecture
  * (arXiv:1603.02754 §3.3): distributed histograms, centralized split
  * decisions, no per-row sort. A single width-binned Gini feature is
  * fitted off its (bin, label) census, so each level re-reads a table
  * bounded by the value domain; several features, `numBins` and the
  * variance loss re-census the rows per level.
  *
  * Transform routes each row to its leaf with the same literal
  * when-tree (pure codegen, no shuffle, no join) and scores it with
  * the leaf's exact positive rate — left child = pl/nl, right child =
  * pr/nr off the parent's recorded split census, so model scoring and
  * the fitted censuses can never disagree. */
trait GraftTreeParams extends TreeFamilyParams {
  final val maxDepth = new IntParam(this, "maxDepth",
    "tree depth: number of split levels (>= 1)", ParamValidators.gtEq(1))
  final val lossType = new Param[String](this, "lossType",
    "split criterion (D294): 'gini' (binary label, weighted-Gini " +
      "splits) or 'variance' (integer-grid label, squared-error splits)",
    ParamValidators.inArray(Array("gini", "variance")))
  final val numBins = new IntParam(this, "numBins",
    "automatic quantile binning (D294): derive each feature's bin " +
      "edges as its exact k/numBins quantiles at fit time (overrides " +
      "binWidth/binWidths); the learned edges persist in the model so " +
      "scoring bins identically", ParamValidators.gtEq(2))

  setDefault(maxDepth -> 3, lossType -> "gini")

  /** Feature i's bin column: by its learned quantile edges when fit
    * with `numBins`, by its fixed width otherwise. */
  protected def binCol(feats: Seq[(String, Double)],
      edges: Array[Array[Double]], i: Int): Column =
    if (edges.nonEmpty)
      RegTree.quantileBin(col(feats(i)._1).cast("double"), edges(i).toSeq)
    else widthBin(feats(i)._1, feats(i)._2)
}

class GraftTree(override val uid: String)
    extends Estimator[GraftTreeModel] with GraftTreeParams with MLWritable {

  def this() = this(Identifiable.randomUID("graftTree"))

  def setMaxDepth(value: Int): this.type = set(maxDepth, value)
  def setBinWidth(value: Double): this.type = set(binWidth, value)
  def setLabelCol(value: String): this.type = set(labelCol, value)
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
      RegTree.quantileEdges(
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
    val gini = $(lossType) != "variance"
    // one width-binned Gini feature: its (bin, label) census, at most
    // 2 × |bin domain| rows, serves every level — cheaper than
    // re-censusing
    val (rows, cols) = weightedDesign(dataset.toDF(),
      feats.indices.map(binCol(feats, edges, _)),
      col($(labelCol)).cast("long").as("y"),
      census = gini && feats.length == 1 && edges.isEmpty)
    val design = rows.scopedPersist()
    // variance (D294) splits on squared error; TreeSplit's pos/pl/pr
    // carry Σy under either loss, so leaf values are exact means
    // through the same model shape
    val loss = if (gini) RegTree.Gini else RegTree.Variance
    val splits = RegTree.fitForestSplits(design, Seq((lit(true), cols)),
      $(maxDepth), loss).head
    // root census even when the root is pure (no split to read it off)
    val (rootN, rootPos) = splits.headOption match {
      case Some(r) if r.node.isEmpty => (r.n, r.pos)
      case _ =>
        val t = design.agg(coalesce(sum(col("w")), lit(0L)),
          coalesce(sum(col("w") * col("y")), lit(0L))).head()
        (t.getLong(0), t.getLong(1))
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
    val p = probCol(feats.indices.map(binCol(feats, binEdges, _)))
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
