package graft.ml.feature

import org.apache.spark.ml.{Estimator, Model}
import org.apache.spark.ml.param._
import org.apache.spark.ml.util.{Identifiable, MLReadable, MLReader, MLWritable, MLWriter}
import org.apache.spark.sql.{Column, DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.functions.{transform => arrayTransform}
import org.apache.spark.sql.types.{ArrayType, StringType, StructField, StructType}
import org.apache.spark.storage.StorageLevel

import graft.operators.Dedup

/** Estimator/Model API over the MinHash-LSH dedup surface
  * (SURVEY.md §2.B D18, queries d3/d4/d18) — the reference's
  * fit/transform/persistence protocol (reference:
  * /root/reference/src/main/scala/org/apache/spark/ml/feature/RapidsPCA.scala:81-137,
  * the Estimator–Model–MLWritable lifecycle) applied to near-duplicate
  * detection, the protocol twin of Spark MLlib's `MinHashLSH` but over
  * raw text and with a MEASURED banding choice.
  *
  * What fit learns: the LSH banding configuration. It runs the
  * committed d18 sweep core ([[Dedup.lshSweepRows]]) over a
  * deterministic hash-ordered sample of the INPUT dataset — every
  * (bands, rowsPerBand) factorization of the k=[[Dedup.numHashes]]
  * signature, each with the production [[Dedup.maxBucket]] skew cap —
  * and picks the configuration with the best F1 against the exact-
  * Jaccard-≥0.5 truth proxy (ties → fewer candidates, then fewer
  * bands: the cheaper index). This replaces the assume-the-S-curve
  * default with the d18 instrument's measurement, on the caller's own
  * corpus.
  *
  * What transform does: appends an `array<string>` of per-band bucket
  * hashes — the join key surface for candidate generation — computed
  * PER ROW as narrow array expressions (shingles → md5 → k derived
  * min-hashes → band md5s): no explode, no groupBy, no shuffle, and
  * bit-identical to the d4/d18 exploded-aggregate derivation (min
  * over the same value multiset; spec-gated in DedupSpec). Documents
  * with no 3-shingle (< 3 tokens) get NULL (the aggregate path emits
  * no row for them — null is the per-row spelling of that).
  *
  * Scale shape: fit is corpus-size-independent after one TakeOrdered
  * sample pass (the d18/tuneSample argument); transform is a narrow
  * codegen map, so the expensive stage — the band-bucket self-join a
  * caller builds on these hashes — inherits d4's audited shape.
  */
trait GraftMinHashParams extends Params {
  final val idCol = new Param[String](this, "idCol",
    "long-valued document id column")
  final val textCol = new Param[String](this, "textCol",
    "document text column (lowercased whitespace tokens are shingled)")
  final val bandsCol = new Param[String](this, "bandsCol",
    "output column: array of per-band bucket hashes")
  final val sampleSize = new IntParam(this, "sampleSize",
    "deterministic hash-ordered sample size the banding sweep runs on",
    ParamValidators.gtEq(8))

  setDefault(idCol -> "doc_id", textCol -> "text",
    bandsCol -> "minhash_bands", sampleSize -> Dedup.tuneSample)

  protected def validateAndTransformSchema(schema: StructType): StructType = {
    Seq($(idCol), $(textCol)).foreach { c =>
      require(schema.fieldNames.contains(c),
        s"column '$c' not in ${schema.fieldNames.mkString(",")}")
    }
    require(!schema.fieldNames.contains($(bandsCol)),
      s"output column '${$(bandsCol)}' already exists")
    StructType(schema.fields :+
      StructField($(bandsCol), ArrayType(StringType), nullable = true))
  }
}

class GraftMinHash(override val uid: String)
    extends Estimator[GraftMinHashModel] with GraftMinHashParams
    with MLWritable {

  def this() = this(Identifiable.randomUID("graftMinHash"))

  def setIdCol(value: String): this.type = set(idCol, value)
  def setTextCol(value: String): this.type = set(textCol, value)
  def setBandsCol(value: String): this.type = set(bandsCol, value)
  def setSampleSize(value: Int): this.type = set(sampleSize, value)

  override def fit(dataset: Dataset[_]): GraftMinHashModel = {
    transformSchema(dataset.schema, logging = true)
    val spark = dataset.sparkSession
    import spark.implicits._
    val docs = dataset.toDF().select(
      col($(idCol)).cast("long").as("doc_id"),
      col($(textCol)).cast("string").as("text"))
    val sampleIds = docs
      .orderBy(md5($"doc_id".cast("string")), $"doc_id")
      .limit($(sampleSize)).select($"doc_id")
    // estimator context has no harness drain — persist/release locally.
    // Snapshot the scope FIRST so the finally-block releases only
    // frames registered after this fit began: an ENCLOSING query's
    // still-live scoped caches survive the drain. (A query running
    // CONCURRENTLY on another thread that registers caches during this
    // fit is NOT protected — delta-draining by timestamp cannot
    // distinguish its registrations from ours; true isolation would
    // need per-owner tags on the registry. Single-threaded composition
    // — the supported shape — is fully safe.)
    val scopeMark = graft.CacheScope.snapshot()
    val docSh = docs.join(broadcast(sampleIds), "doc_id")
      .select($"doc_id", explode(Dedup.shingles($"text")).as("s"))
      .distinct()
      .persist(StorageLevel.MEMORY_AND_DISK)
    val sigs = Dedup.signaturesOf(docSh)
      .persist(StorageLevel.MEMORY_AND_DISK)
    val sweep = try Dedup.lshSweepRows(docSh, sigs)
    finally {
      sigs.unpersist(blocking = false)
      docSh.unpersist(blocking = false)
      // the sweep core registers its own per-call frames (widest,
      // candidate shingles, truth) via scopedPersist; fit is a cache
      // boundary, so release them here — repeated fits must not
      // accumulate session-lifetime persists (the CacheScope
      // contract). Delta-only: frames tracked before this fit began
      // belong to an enclosing query and must survive its drain.
      graft.CacheScope.drainSince(scopeMark)
    }
    def f1(r: (Int, Int, Long, Long, Double, Double)): Double =
      if (r._5 + r._6 == 0.0) 0.0 else 2.0 * r._5 * r._6 / (r._5 + r._6)
    val best = sweep.minBy(r => (-f1(r), r._3, r._1))
    copyValues(new GraftMinHashModel(uid, best._1, best._2,
      sweep.map(r => Array[Double](r._1, r._2, r._3, r._4, r._5, r._6))
        .toArray).setParent(this))
  }

  override def transformSchema(schema: StructType): StructType =
    validateAndTransformSchema(schema)

  override def copy(extra: ParamMap): GraftMinHash = defaultCopy(extra)

  override def write: MLWriter = new StageIO.EstimatorWriter(this)
}

/** Fitted LSH index plan: the measured (bands, rowsPerBand) choice
  * plus the full sweep table (bands, rowsPerBand, nCandidates,
  * nTrueFound, recall, precision — the d18 output) for inspection. */
class GraftMinHashModel private[feature] (override val uid: String,
    val numBands: Int, val rowsPerBand: Int,
    val sweep: Array[Array[Double]])
    extends Model[GraftMinHashModel] with GraftMinHashParams
    with MLWritable {

  def setIdCol(value: String): this.type = set(idCol, value)
  def setTextCol(value: String): this.type = set(textCol, value)
  def setBandsCol(value: String): this.type = set(bandsCol, value)

  override def transform(dataset: Dataset[_]): DataFrame = {
    transformSchema(dataset.schema, logging = true)
    // bind the per-shingle (h1, h2) pairs once per row; every derived
    // column below reads only the bound array (the Dedup lambda rule)
    val tmp = s"__${uid}_sh"
    val hashed = dataset.toDF().withColumn(tmp,
      arrayTransform(Dedup.shingles(col($(textCol)).cast("string")), s => {
        val h = md5(s)
        struct(
          conv(substring(h, 1, 8), 16, 10).cast("long").as("h1"),
          conv(substring(h, 9, 8), 16, 10).cast("long").as("h2"))
      }))
    def sig(i: Int): Column = array_min(arrayTransform(col(tmp), x =>
      (x.getField("h1") + lit(i.toLong) * x.getField("h2")) %
        Dedup.hashMod))
    val bandCols = (0 until numBands).map { b =>
      md5(concat_ws("|",
        (0 until rowsPerBand).map(j => sig(b * rowsPerBand + j)): _*))
    }
    hashed.withColumn($(bandsCol),
        when(col(tmp).isNull || size(col(tmp)) === 0, lit(null))
          .otherwise(array(bandCols: _*)))
      .drop(tmp)
  }

  override def transformSchema(schema: StructType): StructType =
    validateAndTransformSchema(schema)

  override def copy(extra: ParamMap): GraftMinHashModel =
    copyValues(new GraftMinHashModel(uid, numBands, rowsPerBand, sweep),
      extra).setParent(parent)

  override def write: MLWriter = new StageIO.ModelWriter(this,
    MinHashModelData(numBands, rowsPerBand, sweep.flatten))
}

/** Fitted-model payload after the `params` struct ([[StageIO]]):
  * chosen banding + flattened sweep. */
private[feature] case class MinHashModelData(numBands: Int,
    rowsPerBand: Int, sweepValues: Array[Double])

object GraftMinHash extends MLReadable[GraftMinHash] {
  override def read: MLReader[GraftMinHash] = new StageIO.EstimatorReader(new GraftMinHash(_))
  override def load(path: String): GraftMinHash = super.load(path)
}

object GraftMinHashModel extends MLReadable[GraftMinHashModel] {
  override def read: MLReader[GraftMinHashModel] =
    new StageIO.ModelReader((uid: String, d: MinHashModelData) =>
      new GraftMinHashModel(uid, d.numBands, d.rowsPerBand,
        d.sweepValues.grouped(6).toArray))
  override def load(path: String): GraftMinHashModel = super.load(path)
}
