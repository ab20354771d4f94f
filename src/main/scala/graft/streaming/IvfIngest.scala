package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.Similarity

/** Streaming IVF index ingest — the `foreachBatch` face of the
  * s21/s22 incremental-index operators (SURVEY.md §2.D D232): a
  * production vector index ingests CONTINUOUSLY, without retraining
  * (retraining invalidates every stored cell assignment), and the
  * operator on call watches the per-cell occupancy drift to decide
  * when a retrain is finally due. This class folds micro-batches of
  * new vectors into a per-(epoch, cell) add census over centroids
  * trained ONCE on the old corpus — the D42 IncrementalCov pattern:
  * per-batch heavy work (the nearest-centroid assignment, a narrow
  * codegen map) stays distributed; only a ≤ k·epochs-row count frame
  * returns to the driver per trigger, and driver state is that same
  * bounded map.
  *
  * Epochs are a DATA column (`batch_id`), not trigger boundaries — so
  * arrival order does not matter: rows of one logical epoch may split
  * across triggers or arrive after a later epoch's rows and the final
  * census is identical (the fold is a per-key counter merge —
  * commutative). StreamingSpec gates exactly that: an out-of-order
  * epoch boundary, then census ≡ the batch twin
  * ([[Similarity.s22IndexIngest]]) row-for-row.
  *
  * Wire: `writeStream.foreachBatch((df, _) => ingest.update(df))`;
  * replay idempotence is the checkpoint/sink contract's concern, as
  * for any foreachBatch accumulator.
  */
final class IvfIngest(val centroids: Array[Array[Double]],
    val oldCensus: Map[Int, Long]) extends Serializable {

  /** (batch_id, cell_id) -> adds. Bounded by epochs × k. */
  private val added =
    scala.collection.mutable.Map.empty[(Long, Int), Long]

  /** Fold one micro-batch (`batch_id` long, `embedding` array) into
    * the running census. Empty batches are no-ops. */
  def update(batch: DataFrame): Unit = {
    val counts = batch
      .select(col("batch_id").cast("long").as("batch_id"),
        Similarity.nearestCentroidCol(col("embedding"), centroids)
          .as("cell_id"))
      .groupBy(col("batch_id"), col("cell_id"))
      .agg(count(lit(1)).as("n"))
      .collect()
    synchronized {
      counts.foreach { r =>
        val key = (r.getLong(0), r.getInt(1))
        added(key) = added.getOrElse(key, 0L) + r.getLong(2)
      }
    }
  }

  /** The s22-shaped census of the state folded so far: per
    * (batch_id, cell_id) adds, cumulative new count, and post-batch
    * occupancy share — driver arithmetic over the bounded count map,
    * emitted as a frame so it can be joined/sunk like the batch twin.
    * Epoch grid covers 0..max(seen, [[Similarity.numIngestBatches]]−1)
    * so a drained stream reproduces the batch twin exactly. */
  def census(spark: SparkSession): DataFrame = {
    import spark.implicits._
    val snap = synchronized { added.toMap }
    val maxBatch = (snap.keys.map(_._1) ++
      Seq(Similarity.numIngestBatches - 1L)).max
    val cells = (oldCensus.keySet ++ snap.keys.map(_._2)).toSeq.sorted
    val totOld = oldCensus.values.sum
    val batchTot = (0L to maxBatch).map(b =>
      b -> snap.collect { case ((bb, _), n) if bb == b => n }.sum)
    val cumTot = batchTot.scanLeft(0L)(_ + _._2).tail
    val rows = for {
      (b, bi) <- (0L to maxBatch).zipWithIndex
      c <- cells
    } yield {
      val nAdd = snap.getOrElse((b, c), 0L)
      val cum = (0L to b).map(bb => snap.getOrElse((bb, c), 0L)).sum
      val occ = BigDecimal((oldCensus.getOrElse(c, 0L) + cum).toDouble /
          (totOld + cumTot(bi)).toDouble)
        .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
      (b, c, nAdd, cum, occ)
    }
    rows.toDF("batch_id", "cell_id", "n_added", "cum_new", "occ_share")
      .orderBy($"batch_id", $"cell_id")
  }
}

object IvfIngest {

  /** Train the ingest state from the OLD corpus (`vec_id`,
    * `embedding`): quantized-Lloyd centroids over the deterministic
    * bounded sample + the per-cell baseline census — one assignment
    * pass, ≤ k rows collected. */
  def fit(old: DataFrame, k: Int = 16, iters: Int = 2): IvfIngest = {
    val cents = Similarity.ivfCentroids(old, k, iters)
    fromCentroids(cents, old)
  }

  /** Build the ingest state from a PERSISTED index artifact
    * ([[graft.ml.feature.GraftIVFModel]]) instead of re-fitting — the
    * production path: the index is fit once (`GraftIVF.fit` → `save`),
    * and every later ingest job `load`s it and only re-derives the
    * baseline census (one assignment pass over the old corpus, ≤ k
    * rows collected). Equal to [[fit]] whenever the model was fit on
    * the same old corpus with the same params (StreamingSpec pins
    * that). */
  def fromModel(model: graft.ml.feature.GraftIVFModel,
      old: DataFrame): IvfIngest =
    fromCentroids(model.centroids, old)

  private def fromCentroids(cents: Array[Array[Double]],
      old: DataFrame): IvfIngest = {
    val oldCensus = old
      .select(Similarity.nearestCentroidCol(col("embedding"), cents)
        .as("cell"))
      .groupBy(col("cell")).agg(count(lit(1)).as("n"))
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    new IvfIngest(cents, oldCensus)
  }
}
