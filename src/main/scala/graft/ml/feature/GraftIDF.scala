package graft.ml.feature

import org.apache.spark.ml.{Estimator, Model}
import org.apache.spark.ml.param._
import org.apache.spark.ml.util.{Identifiable, MLReadable, MLReader, MLWritable, MLWriter}
import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, StringType, StructField, StructType}

/** Estimator/Model API over the corpus IDF table (SURVEY.md §2.D
  * D245) — the reference's fit/transform/persistence protocol
  * (reference: /root/reference/src/main/scala/org/apache/spark/ml/feature/RapidsPCA.scala:81-137,
  * the Estimator–Model–MLWritable lifecycle) applied to the text
  * family: what the t6/t15 queries derive inline (document frequency
  * → ln(N/df) inverse document frequency) becomes a persistable
  * artifact fit ONCE on the reference corpus, so scoring jobs — and
  * DRIFTING corpora — reuse the frozen table instead of re-censusing.
  *
  * What fit learns: the (term → idf) table over the fit corpus's
  * vocabulary (whitespace tokens, the corpus convention), restricted
  * to terms with document frequency ≥ [[GraftIDFParams.minDf]] and
  * CAPPED at the [[GraftIDFParams.vocabSize]] highest-df terms
  * (ties by term, ascending — t40's TakeOrdered discipline), plus the
  * corpus document count. The cap is what makes the artifact's size a
  * CONFIGURED constant rather than a Heaps-law function of the fit
  * corpus: at 100 TB the uncapped vocabulary is 10⁸–10⁹ terms of
  * long-tail noise, and MLlib's own IDFModel is O(numFeatures) by the
  * same argument. The table lives as a DataFrame artifact end-to-end
  * — fit, transform, save, load — and is NEVER collected to the
  * driver on the scoring path.
  *
  * What transform does: appends the document's total TF·IDF mass
  * (Σ_t tf(t, doc) · idf(t), 4-dp — the t15 "keywordness" scalar,
  * rounded per the cross-engine float rule) via explode → join
  * against the idf table → partial-aggregated per-doc sum → one
  * id-keyed join back. The idf join follows the t6
  * broadcast-vs-shuffle rule, routed on the ACTUAL kept-term count
  * recorded at fit: BROADCAST while it is ≤
  * [[GraftIDF.broadcastMaxVocab]] (the table is then at most a few
  * tens of MB), a term-keyed SHUFFLE join above it (broadcasting a
  * 10⁷⁺-term table would OOM the driver).
  * Out-of-vocabulary terms contribute zero (the frozen-table
  * semantics scoring against drift wants — and, post-cap, the
  * semantics of dropping the long tail). */
trait GraftIDFParams extends Params {
  final val idCol = new Param[String](this, "idCol",
    "document id column (transform groups and joins back on it)")
  final val inputCol = new Param[String](this, "inputCol",
    "string text column (whitespace-tokenized, lowercased)")
  final val outputCol = new Param[String](this, "outputCol",
    "output column: the document's summed tf*idf mass (4-dp)")
  final val minDf = new IntParam(this, "minDf",
    "minimum document frequency for a term to enter the idf table",
    ParamValidators.gtEq(1))
  final val vocabSize = new IntParam(this, "vocabSize",
    "max number of terms kept in the idf table (top document " +
      "frequency, ties by term ascending)",
    ParamValidators.gtEq(1))

  setDefault(idCol -> "doc_id", inputCol -> "text",
    outputCol -> "tfidf_mass", minDf -> 1, vocabSize -> (1 << 20))

  protected def validateAndTransformSchema(schema: StructType): StructType = {
    require(schema.fieldNames.contains($(inputCol)),
      s"input column '${$(inputCol)}' not in ${schema.fieldNames.mkString(",")}")
    require(schema($(inputCol)).dataType == StringType,
      s"input column '${$(inputCol)}' must be string")
    require(!schema.fieldNames.contains($(outputCol)),
      s"output column '${$(outputCol)}' already exists")
    StructType(schema.fields :+
      StructField($(outputCol), DoubleType, nullable = true))
  }
}

class GraftIDF(override val uid: String)
    extends Estimator[GraftIDFModel] with GraftIDFParams with MLWritable {

  def this() = this(Identifiable.randomUID("graftIdf"))

  def setIdCol(value: String): this.type = set(idCol, value)
  def setInputCol(value: String): this.type = set(inputCol, value)
  def setOutputCol(value: String): this.type = set(outputCol, value)
  def setMinDf(value: Int): this.type = set(minDf, value)
  def setVocabSize(value: Int): this.type = set(vocabSize, value)

  override def fit(dataset: Dataset[_]): GraftIDFModel = {
    transformSchema(dataset.schema, logging = true)
    val spark = dataset.sparkSession
    import spark.implicits._
    val docs = dataset.toDF()
      .select(col($(idCol)).as("id"),
        graft.operators.TextAnalysis.tokens(col($(inputCol))).as("toks"))
    val nDocs = docs.count()
    // df census → minDf floor → vocabSize cap → idf. The cap keeps the
    // top-df terms, ties by term ascending — a deterministic total
    // order, so the kept set is reproducible.
    val census = docs.select($"id", explode($"toks").as("term"))
      .distinct()
      .groupBy($"term").agg(count(lit(1)).as("df"))
      .filter($"df" >= $(minDf))
      .persist()
    // Cap selection goes through the DF-VALUE HISTOGRAM, not a global
    // (df, term) sort: orderBy+limit at a 2^20 cap is past Spark's
    // top-k fallback threshold, so it would full-sort the whole
    // Heaps-law census and funnel it through one GlobalLimit task.
    // Instead: histogram rows are (df, #terms) — each carries ≥ 1
    // term, so the top `vocabSize` of them always cover the cap; walk
    // them driver-side (≤ cap rows, transient) to find the threshold
    // df value, keep everything strictly above it, and sort-limit ONLY
    // the tie slice at the threshold.
    val hist = census.groupBy($"df").agg(count(lit(1)).as("nt"))
      .orderBy($"df".desc).limit($(vocabSize)).collect()
    var before = 0L
    var tieDf = -1L
    var tieRoom = 0L
    val it = hist.iterator
    while (it.hasNext && tieDf < 0) {
      val r = it.next()
      if (before + r.getLong(1) >= $(vocabSize)) {
        tieDf = r.getLong(0); tieRoom = $(vocabSize) - before
      } else before += r.getLong(1)
    }
    val selected =
      if (tieDf < 0) census // the whole vocabulary fits under the cap
      else census.filter($"df" > tieDf).unionAll(
        census.filter($"df" === tieDf).orderBy($"term").limit(tieRoom.toInt))
    // the kept-term count falls out of the histogram walk for free:
    // an untruncated walk covered the whole vocabulary (`before`), a
    // capped one keeps exactly vocabSize terms (the tie slice always
    // has ≥ tieRoom members). The model routes its transform join on
    // this ACTUAL size, not the configured cap.
    val vocabCount = if (tieDf < 0) before else $(vocabSize).toLong
    // Freeze the artifact so the model does not drag the fit corpus's
    // lineage into every scoring job: a RELIABLE checkpoint when the
    // session has one configured (survives executor loss — this table
    // is an artifact that outlives the fit job), else localCheckpoint
    // (executor-storage blocks; always safe in local mode, and
    // model.write remains the durable form either way).
    val idfRaw = selected.select($"term", org.apache.spark.sql.functions
      .log(lit(nDocs.toDouble) / $"df").as("idf"))
    val idfDf =
      if (spark.sparkContext.getCheckpointDir.isDefined) idfRaw.checkpoint()
      else idfRaw.localCheckpoint()
    census.unpersist()
    copyValues(new GraftIDFModel(uid, nDocs, vocabCount, idfDf)
      .setParent(this))
  }

  override def transformSchema(schema: StructType): StructType =
    validateAndTransformSchema(schema)

  override def copy(extra: ParamMap): GraftIDF = defaultCopy(extra)

  override def write: MLWriter = new StageIO.EstimatorWriter(this)
}

/** Fitted IDF table: (term, ln(nDocs/df)) rows over the fit corpus's
  * capped vocabulary, held as a DataFrame artifact. */
class GraftIDFModel private[graft] (override val uid: String,
    val nDocs: Long, val vocabCount: Long, val idfTable: DataFrame)
    extends Model[GraftIDFModel] with GraftIDFParams with MLWritable {

  def setIdCol(value: String): this.type = set(idCol, value)
  def setInputCol(value: String): this.type = set(inputCol, value)
  def setOutputCol(value: String): this.type = set(outputCol, value)

  /** Driver-side view of the idf table — a spec/debug convenience,
    * bounded by the vocabSize cap. The transform path never calls
    * this (the table stays distributed end-to-end). */
  lazy val idf: Map[String, Double] = idfTable
    .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap

  override def transform(dataset: Dataset[_]): DataFrame = {
    transformSchema(dataset.schema, logging = true)
    val spark = dataset.sparkSession
    import spark.implicits._
    // t6 broadcast-vs-shuffle rule, routed on the ACTUAL kept-term
    // count recorded at fit (a defensively-huge configured cap over a
    // small corpus must not force the term shuffle): below
    // broadcastMaxVocab a broadcast join skips it; above, the join
    // must stay a shuffle join keyed on the term
    val idfSide =
      if (vocabCount <= GraftIDF.broadcastMaxVocab) broadcast(idfTable)
      else idfTable
    val mass = dataset.toDF()
      .select(col($(idCol)).as("__gid"),
        explode(graft.operators.TextAnalysis.tokens(col($(inputCol))))
          .as("term"))
      .join(idfSide, Seq("term"))
      .groupBy($"__gid")
      .agg(round(sum($"idf"), 4).as($(outputCol)))
    dataset.toDF().join(mass,
      dataset.toDF()(($(idCol))) === mass("__gid"), "left")
      .drop("__gid")
      .na.fill(0.0, Seq($(outputCol)))
  }

  override def transformSchema(schema: StructType): StructType =
    validateAndTransformSchema(schema)

  override def copy(extra: ParamMap): GraftIDFModel =
    copyValues(new GraftIDFModel(uid, nDocs, vocabCount, idfTable), extra)
      .setParent(parent)

  override def write: MLWriter = new GraftIDFModel.Writer(this)
}

/** Fitted-model payload after the `params` struct in `meta/`
  * ([[StageIO]]); the idf table itself is `idf/`. */
private[feature] case class IdfModelMeta(nDocs: Long, vocabCount: Long)

object GraftIDF extends MLReadable[GraftIDF] {

  /** Widest configured cap the transform join is allowed to broadcast
    * (t6 rule): 2²¹ (term, double) rows is a few tens of MB — fine on
    * a driver/executor; past it the term-keyed shuffle join wins. */
  val broadcastMaxVocab: Int = 1 << 21

  override def read: MLReader[GraftIDF] = new StageIO.EstimatorReader(new GraftIDF(_))
  override def load(path: String): GraftIDF = super.load(path)
}

object GraftIDFModel extends MLReadable[GraftIDFModel] {

  private[feature] class Writer(instance: GraftIDFModel)
      extends StageIO.ModelWriter(instance,
        IdfModelMeta(instance.nDocs, instance.vocabCount), "meta") {
    private var staged: Option[String] = None

    /** Stage the idf table to a sibling temp dir BEFORE MLWriter's
      * overwrite handling deletes the target — but ONLY when the
      * target already exists: a LOADED model's table lazily reads
      * from the very path an overwrite().save(samePath) is about to
      * clear, and without staging the delete would destroy the
      * artifact mid-save. A fresh target has no such hazard, so the
      * common fit→save cycle pays exactly one Spark write, the idf
      * table's; `meta/` and `metadata/` are written on the driver. */
    override def save(path: String): Unit = {
      val p = new org.apache.hadoop.fs.Path(path)
      val fs = p.getFileSystem(sparkSession.sparkContext.hadoopConfiguration)
      if (!fs.exists(p)) super.save(path)
      else {
        val tmp = s"$path.__idf_staging_${java.util.UUID.randomUUID()}"
        instance.idfTable.write.mode("overwrite").parquet(tmp)
        staged = Some(tmp)
        try super.save(path)
        finally {
          val tp = new org.apache.hadoop.fs.Path(tmp)
          fs.delete(tp, true)
          staged = None
        }
      }
    }

    override protected def saveImpl(path: String): Unit = {
      // the idf table writes DISTRIBUTED (no driver round-trip); the
      // vocabSize cap bounds it, so the file count stays small
      staged.map(sparkSession.read.parquet(_)).getOrElse(instance.idfTable)
        .write.mode("overwrite").parquet(s"$path/idf")
      super.saveImpl(path)
    }
  }

  /** Pre-vocabCount artifacts (the field landed after the first
    * persisted models): fall back to the configured cap, the vocabSize
    * default when unset. Routing is then conservative-by-cap exactly as
    * those models were. */
  private def withVocabCount(meta: DataFrame): DataFrame =
    if (meta.columns.contains("vocabCount")) meta
    else {
      val cap = lit(1 << 20)
      meta.withColumn("vocabCount", (
        if (meta.schema("params").dataType.asInstanceOf[StructType]
            .fieldNames.contains("vocabSize")) coalesce(col("params.vocabSize"), cap)
        else cap).cast("long"))
    }

  private class Reader extends MLReader[GraftIDFModel] {
    override def load(path: String): GraftIDFModel = {
      // loads as a DataFrame over the persisted parquet — the model is
      // usable without materializing the vocabulary anywhere
      val idfDf = sparkSession.read.parquet(s"$path/idf")
        .select(col("term"), col("idf"))
      new StageIO.ModelReader((uid: String, m: IdfModelMeta) =>
          new GraftIDFModel(uid, m.nDocs, m.vocabCount, idfDf),
        "meta", withVocabCount).session(sparkSession).load(path)
    }
  }

  override def read: MLReader[GraftIDFModel] = new Reader
  override def load(path: String): GraftIDFModel = super.load(path)
}
