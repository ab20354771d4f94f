package graft.streaming

import org.apache.spark.sql.DataFrame

import graft.ml.Cov

/** Incremental covariance state over a stream of feature batches — the
  * streaming face of the reference's distributed covariance pass
  * (/root/reference/src/main/scala/org/apache/spark/ml/linalg/distributed/RapidsRowMatrix.scala:149-257).
  *
  * The per-batch result is the same mergeable `(m, Σv, Σv·vᵀ)` partial
  * the batch aggregation tree reduces, so folding micro-batches is
  * associative: the final statistics match one batch pass over the
  * concatenated data (StreamingSpec pins 1e-12 agreement, and exact
  * equality of counts/means). This is how a 100 TB/day feature stream
  * keeps a covariance/PCA model current without re-scanning history —
  * each batch's heavy work (blocked GEMM over executor partitions)
  * stays distributed; only one n×n partial returns to the driver per
  * batch, and driver state is a single n×n matrix (n capped by
  * [[Cov.MaxCols]] = 46340 exactly like the batch path).
  *
  * Wire into Structured Streaming with
  * `writeStream.foreachBatch((df, _) => inc.update(df))`; replay
  * idempotence is the checkpoint/sink contract's concern, as for any
  * foreachBatch accumulator.
  */
final class IncrementalCov(inputCol: String) extends Serializable {

  private var acc: Cov.Partial = _

  /** Fold one micro-batch into the running state: one [[Cov.pass]] job.
    * Empty batches are no-ops (streams deliver them on watermark-only
    * triggers); a batch whose width is outside (0, [[Cov.MaxCols]]], or
    * differs from the folded batches', fails by name. */
  def update(batch: DataFrame): Unit =
    Cov.pass(batch, inputCol).foreach { p =>
      Cov.requireWidth(p.width)
      synchronized { acc = if (acc == null) p else acc.merge(p) }
    }

  def rowCount: Long = synchronized { if (acc == null) 0L else acc.m }

  /** Current statistics; same accessor surface as the batch
    * [[Cov.stats]] result (covariance, gramNormalized, mean, m). Every
    * folded partial is full and symmetric, so their sum is too. */
  def stats: Cov.Stats = synchronized {
    require(acc != null, "no rows accumulated yet")
    acc.stats
  }
}
