package graft.ml

import breeze.linalg.{DenseMatrix => BDM, DenseVector => BDV}
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.{ArrayType, DoubleType, FloatType}
import org.apache.spark.ml.linalg.{Vector, Vectors}

/** Distributed column statistics + Gram/covariance computation.
  *
  * Semantics follow the reference's `RapidsRowMatrix.computeCovariance`
  * (reference: RapidsRowMatrix.scala:149-257): a single pass over the
  * rows produces per-partition partials `(count, colSum, BᵀB)` that are
  * tree-reduced to the driver, where the small n×n result is finalized.
  * The reference's GEMM path batches partition rows into a local matrix
  * and calls cublasDgemm (RapidsRowMatrix.scala:168-200); ours batches
  * into a Breeze matrix block and uses netlib dgemm — same blocking
  * idea, JVM BLAS instead of a device kernel.
  *
  * Scale notes: the shuffle-free `treeAggregate` moves only n×n partials
  * (n ≤ 65535 enforced below, same ceiling as RapidsRowMatrix.scala:147);
  * row data never leaves its partition, so this holds at any row count —
  * executor work is O(rows·n²/blocked-GEMM) and driver work is O(n²·log P).
  */
object Cov {

  /** Max supported feature width, as documented by the reference
    * (RapidsRowMatrix.scala:66-68): n(n+1)/2 must stay within Int range. */
  val MaxCols = 65535

  /** Rows per GEMM block inside a partition — bounds executor memory at
    * blockRows·n doubles regardless of partition size. */
  val blockRows = 4096

  /** One partition/tree-level partial: row count, per-column sum, and
    * the n×n second-moment accumulation Σ v·vᵀ. */
  final case class Partial(var m: Long, sum: BDV[Double], gram: BDM[Double]) {
    def merge(o: Partial): Partial = {
      m += o.m; sum += o.sum; gram += o.gram; this
    }
  }

  /** Extract an `RDD[Vector]` from either a `VectorUDT` column or an
    * `array<numeric>` column (the fixture `embeddings.embedding` is
    * `array<float>`; the reference API is VectorUDT — support both,
    * cf. dense/sparse equivalence in PCASuite.scala:155-190).
    *
    * Array columns are read from the plan's internal rows: one primitive
    * `double[]` per row, float widened element by element, no `Row` and
    * no boxing. `array<float>`/`array<double>` are read as they are;
    * other numeric arrays are cast to `array<double>` in the plan. A
    * null row or a null element fails the job with an
    * `IllegalArgumentException` instead of entering the Gram. */
  def vectorRdd(df: DataFrame, inputCol: String): RDD[Vector] = {
    df.schema(inputCol).dataType match {
      case ArrayType(et, _) =>
        val isFloat = et == FloatType
        val arrays =
          if (isFloat || et == DoubleType) df.select(col(inputCol))
          else df.select(col(inputCol).cast("array<double>"))
        arrays.queryExecution.toRdd.map { row =>
          if (row.isNullAt(0)) throw new IllegalArgumentException(
            s"null value in input column '$inputCol'")
          val a = row.getArray(0)
          val v = new Array[Double](a.numElements())
          var i = 0
          while (i < v.length) {
            if (a.isNullAt(i)) throw new IllegalArgumentException(
              s"null element at index $i in input column '$inputCol'")
            v(i) = if (isFloat) a.getFloat(i) else a.getDouble(i)
            i += 1
          }
          Vectors.dense(v)
        }
      case _ =>
        df.select(col(inputCol)).rdd.map { r =>
          r.get(0) match {
            case v: Vector => v
            case other => throw new IllegalArgumentException(
              s"input column '$inputCol' must be VectorUDT or array<numeric>, got $other")
          }
        }
    }
  }

  /** Single-pass distributed (count, mean, Gram) — per-row accumulation
    * path (the reference's SPR path, RapidsRowMatrix.scala:203-234):
    * scalar upper-triangle updates, cheapest for sparse rows. Partials
    * combine via treeAggregate (2 levels), so the driver receives
    * O(sqrt(P)) partials instead of P. */
  def meanAndGram(rows: RDD[Vector], n: Int): Partial = {
    require(n > 0 && n <= MaxCols, s"feature width $n outside (0, $MaxCols]")
    val zero = Partial(0L, BDV.zeros[Double](n), BDM.zeros[Double](n, n))
    rows.treeAggregate(zero)(
      seqOp = (p, v) => { accumulate(p, v); p },
      combOp = (a, b) => a.merge(b),
      depth = 2)
  }

  /** Single-pass distributed (count, mean, Gram) — blocked-GEMM path
    * (the reference's default, RapidsRowMatrix.scala:168-200, which
    * stacks partition rows into a matrix and calls cublasDgemm): rows
    * buffer into [[blockRows]]-row blocks, each block contributes
    * Bᵀ·B via one netlib dgemm. ~5-10× the per-row path's throughput
    * for dense data; identical semantics up to FP summation order. */
  def meanAndGramGemm(rows: RDD[Vector], n: Int): Partial = {
    require(n > 0 && n <= MaxCols, s"feature width $n outside (0, $MaxCols]")
    // bound block buffer memory at ~16 MiB regardless of width
    val block = math.max(1, math.min(blockRows, (16 << 20) / 8 / n))
    val partials = rows.mapPartitions { it =>
      val sum = BDV.zeros[Double](n)
      val gram = BDM.zeros[Double](n, n)
      var m = 0L
      val buf = new Array[Double](block * n)
      var r = 0
      def flush(): Unit = if (r > 0) {
        // buf holds r rows row-major = Bᵀ (n×r) column-major
        val bt = new BDM[Double](n, r, java.util.Arrays.copyOf(buf, r * n))
        gram += bt * bt.t // dgemm
        r = 0
      }
      while (it.hasNext) {
        val v = it.next()
        require(v.size == n, s"row width ${v.size} != $n (uniform width required)")
        val off = r * n
        v match {
          case dv: org.apache.spark.ml.linalg.DenseVector =>
            System.arraycopy(dv.values, 0, buf, off, n)
          case sv: org.apache.spark.ml.linalg.SparseVector =>
            java.util.Arrays.fill(buf, off, off + n, 0.0)
            sv.foreachActive((i, x) => buf(off + i) = x)
        }
        var i = 0
        while (i < n) { sum(i) += buf(off + i); i += 1 }
        m += 1; r += 1
        if (r == block) flush()
      }
      flush()
      Iterator.single(Partial(m, sum, gram))
    }
    partials.treeReduce((a, b) => a.merge(b), depth = 2)
  }

  // Row accumulation: dspr-style upper update would halve the flops; a
  // full syrk via Breeze on a buffered block halves wall time further.
  // For clarity and zero per-row allocation we do the full outer-product
  // update on the lower-cost path: x := v once, gram += v vᵀ in a tight
  // loop over the upper triangle, mirrored at finalize time.
  private def accumulate(p: Partial, v: Vector): Unit = {
    val n = p.sum.length
    require(v.size == n, s"row width ${v.size} != $n (uniform width required)")
    p.m += 1
    val g = p.gram.data
    v match {
      case dv: org.apache.spark.ml.linalg.DenseVector =>
        val a = dv.values
        var j = 0
        while (j < n) {
          val vj = a(j)
          if (vj != 0.0) {
            p.sum(j) += vj
            val off = j * n
            var i = 0
            while (i <= j) { g(off + i) += a(i) * vj; i += 1 }
          }
          j += 1
        }
      case sv: org.apache.spark.ml.linalg.SparseVector =>
        val idx = sv.indices; val vals = sv.values
        var jj = 0
        while (jj < idx.length) {
          val j = idx(jj); val vj = vals(jj)
          p.sum(j) += vj
          val off = j * n
          var ii = 0
          while (ii <= jj) { g(off + idx(ii)) += vals(ii) * vj; ii += 1 }
          jj += 1
        }
    }
  }

  /** Mirror the accumulated upper triangle into the lower (cf. the
    * reference's `triuToFull`, RapidsRowMatrix.scala:260-288). */
  private def symmetrize(gram: BDM[Double]): BDM[Double] = {
    val n = gram.rows
    var j = 0
    while (j < n) {
      var i = j + 1
      while (i < n) { gram(i, j) = gram(j, i); i += 1 }
      j += 1
    }
    gram
  }

  /** Result of the distributed pass. */
  final case class Stats(m: Long, mean: BDV[Double], secondMoment: BDM[Double]) {
    /** Sample covariance (m−1 normalization, as the reference:
      * RapidsRowMatrix.scala:236-251). */
    def covariance: BDM[Double] = {
      require(m > 1, s"covariance needs >1 row, got $m")
      val c = secondMoment.copy
      // co-moment identity: Cov = (Σvvᵀ − m·x̄x̄ᵀ) / (m−1)
      val n = mean.length
      var j = 0
      while (j < n) {
        var i = 0
        while (i < n) { c(i, j) -= m * mean(i) * mean(j); i += 1 }
        j += 1
      }
      c /= (m - 1).toDouble
      c
    }
    /** Uncentered second moment / (m−1) — the meanCentering=false path
      * (reference: RapidsRowMatrix.scala:163-165). */
    def gramNormalized: BDM[Double] = {
      require(m > 1, s"normalization needs >1 row, got $m")
      secondMoment / (m - 1).toDouble
    }
  }

  /** Run the distributed pass; feature width inferred from the first row
    * (reference: RapidsPCA.scala:117). `useGemm` selects blocked-GEMM
    * (default, like the reference) vs per-row accumulation. */
  def stats(rows: RDD[Vector], useGemm: Boolean = true): Stats =
    stats(rows, rows.first().size, useGemm)

  /** As above with the width already known — callers that probed the
    * first row for routing (GraftPCA's exact-vs-sketch decision) must
    * not pay a second first() job. */
  def stats(rows: RDD[Vector], n: Int, useGemm: Boolean): Stats = {
    val p = if (useGemm) meanAndGramGemm(rows, n) else meanAndGram(rows, n)
    require(p.m > 0, "empty input")
    val moment = if (useGemm) p.gram else symmetrize(p.gram)
    Stats(p.m, p.sum / p.m.toDouble, moment)
  }

  def stats(df: DataFrame, inputCol: String): Stats =
    stats(vectorRdd(df, inputCol))

  def stats(df: DataFrame, inputCol: String, useGemm: Boolean): Stats =
    stats(vectorRdd(df, inputCol), useGemm)
}
