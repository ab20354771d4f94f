package graft.ml.feature

import org.apache.spark.ml.{Estimator, Model}
import org.apache.spark.ml.param._
import org.apache.spark.ml.util.{Identifiable, MLReadable, MLReader, MLWritable, MLWriter}
import org.apache.spark.sql.{Column, DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.functions.{transform => arrayTransform}
import org.apache.spark.sql.types.{ArrayType, StringType, StructField, StructType}

import graft.operators.Pipeline

/** Estimator/Model API over the BPE tokenizer (SURVEY.md §2.B D142/
  * D225, queries c9/c19) — the reference's fit/transform/persistence
  * protocol (reference:
  * /root/reference/src/main/scala/org/apache/spark/ml/feature/RapidsPCA.scala:81-137)
  * applied to tokenizer training, completing the protocol family
  * (PCA, KMeans, Logistic, Poisson, Linear, MinHash): fit LEARNS the
  * merge table, the model IS the merge table, transform encodes.
  *
  * fit runs the committed c9 loop ([[Pipeline.bpeTrace]] — the shared
  * code path, so the estimator and the c9/c19 queries cannot drift):
  * one corpus word-count pass, then [[Pipeline.bpeMerges]] rounds
  * over the DISTINCT vocabulary, each collecting only the single
  * best (pair, count) row.
  *
  * transform encodes a text column into its BPE symbol stream as a
  * PURE per-row expression chain: lowercase → whitespace split →
  * keep [a-z]+ words (the training filter, documented) → per word
  * the bracketed character representation with the end-of-word
  * marker → the learned merges applied as a fixed nested `replace`
  * chain (merge literals baked into the plan, in training order —
  * BPE application IS ordered longest-training-priority replacement)
  * → symbols. No explode, no join, no shuffle; the merge table is a
  * plan literal, not a broadcast.
  */
trait GraftBPEParams extends Params {
  final val textCol = new Param[String](this, "textCol",
    "document text column")
  final val tokensCol = new Param[String](this, "tokensCol",
    "output column: the encoded BPE symbol array")

  setDefault(textCol -> "text", tokensCol -> "bpe_tokens")

  protected def validateAndTransformSchema(schema: StructType): StructType = {
    require(schema.fieldNames.contains($(textCol)),
      s"column '${$(textCol)}' not in ${schema.fieldNames.mkString(",")}")
    require(!schema.fieldNames.contains($(tokensCol)),
      s"output column '${$(tokensCol)}' already exists")
    StructType(schema.fields :+
      StructField($(tokensCol), ArrayType(StringType), nullable = true))
  }
}

class GraftBPE(override val uid: String)
    extends Estimator[GraftBPEModel] with GraftBPEParams with MLWritable {

  def this() = this(Identifiable.randomUID("graftBPE"))

  def setTextCol(value: String): this.type = set(textCol, value)
  def setTokensCol(value: String): this.type = set(tokensCol, value)

  override def fit(dataset: Dataset[_]): GraftBPEModel = {
    transformSchema(dataset.schema, logging = true)
    // bpeTrace's corpus pass reads (text) from the fixture-table shape;
    // the estimator accepts any frame with the text column by viewing
    // it through a projection with the canonical column name
    val merges = Pipeline.bpeTraceOn(
      dataset.toDF().select(col($(textCol)).cast("string").as("text")))._2
    copyValues(new GraftBPEModel(uid,
      merges.map(m => Array(m._2, m._3)).toArray).setParent(this))
  }

  override def transformSchema(schema: StructType): StructType =
    validateAndTransformSchema(schema)

  override def copy(extra: ParamMap): GraftBPE = defaultCopy(extra)

  override def write: MLWriter = new StageIO.EstimatorWriter(this)
}

/** Fitted tokenizer: the ordered merge table (lhs, rhs) pairs. */
class GraftBPEModel private[feature] (override val uid: String,
    val merges: Array[Array[String]])
    extends Model[GraftBPEModel] with GraftBPEParams with MLWritable {

  def setTextCol(value: String): this.type = set(textCol, value)
  def setTokensCol(value: String): this.type = set(tokensCol, value)

  override def transform(dataset: Dataset[_]): DataFrame = {
    transformSchema(dataset.schema, logging = true)
    // per-word bracketed representation, merges as a nested literal
    // replace chain in training order (the c9 semantics: replace ALL
    // occurrences), then split back to symbols
    def encodeWord(w: Column): Column = {
      val rep0 = concat(lit("<"), array_join(split(w, ""), "><"),
        lit("><_>"))
      val merged = merges.foldLeft(rep0) { case (r, Array(x, y)) =>
        replace(r, lit(s"<$x><$y>"), lit(s"<$x$y>"))
      }
      split(merged.substr(lit(2), length(merged) - 2), "><")
    }
    val words = filter(
      split(lower(col($(textCol)).cast("string")), " "),
      w => w.rlike("^[a-z]+$"))
    dataset.toDF().withColumn($(tokensCol),
      flatten(arrayTransform(words, w => encodeWord(w))))
  }

  override def transformSchema(schema: StructType): StructType =
    validateAndTransformSchema(schema)

  override def copy(extra: ParamMap): GraftBPEModel =
    copyValues(new GraftBPEModel(uid, merges), extra).setParent(parent)

  override def write: MLWriter = new StageIO.ModelWriter(this,
    BPEModelData(merges.flatten))
}

/** Fitted-model payload after the `params` struct ([[StageIO]]):
  * the flattened ordered merge table. */
private[feature] case class BPEModelData(mergeValues: Array[String])

object GraftBPE extends MLReadable[GraftBPE] {
  override def read: MLReader[GraftBPE] = new StageIO.EstimatorReader(new GraftBPE(_))
  override def load(path: String): GraftBPE = super.load(path)
}

object GraftBPEModel extends MLReadable[GraftBPEModel] {
  override def read: MLReader[GraftBPEModel] =
    new StageIO.ModelReader((uid: String, d: BPEModelData) =>
      new GraftBPEModel(uid, d.mergeValues.grouped(2).toArray))
  override def load(path: String): GraftBPEModel = super.load(path)
}
