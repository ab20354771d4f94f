package graft.ml

import breeze.linalg.{DenseMatrix => BDM, DenseVector => BDV}
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.{ArrayType, DoubleType, FloatType}
import org.apache.spark.ml.linalg.{DenseVector, SparseVector, Vector, Vectors}

/** Distributed column statistics + Gram/covariance computation.
  *
  * Semantics follow the reference's `RapidsRowMatrix.computeCovariance`
  * (reference: RapidsRowMatrix.scala:149-257): one pass over the rows
  * produces per-partition partials `(count, colSum, BᵀB)` that are
  * tree-reduced to the driver, where the small n×n result is finalized.
  * The pass is one Spark job and one kernel. Each partition reads the
  * width from its own first row and only then allocates its
  * accumulator; an empty partition contributes nothing, and the merge
  * fails by name when two partitions' widths differ. The reference's
  * GEMM path batches partition rows into a local matrix and calls
  * cuBLAS (RapidsRowMatrix.scala:168-200); ours calls no BLAS. Like
  * SystemML's `tsmm`, it runs `BᵀB` as its own kernel: each row is
  * written straight into one row array of a [[blockRows]]-row block, and
  * a full block is added into the upper triangle of the partition's
  * accumulator in place by a plain rank-4 loop that HotSpot's C2
  * vectorizes (see [[GramBlock]]). Only the upper triangle is
  * accumulated (half the flops); [[Partial.stats]] writes both triangles
  * of one symmetric `BDM`, once, after the tree reduce.
  *
  * Scale notes: the shuffle-free tree reduce moves only n×n partials
  * (n ≤ [[MaxCols]]); row data never leaves its partition, so this holds
  * at any row count — executor work is O(rows·n²/2) in the blocked
  * kernel and driver work is O(n²·log P). A partition whose first row
  * is wider than [[MaxCols]] stops there and reports only that width, so
  * a caller can route wide input elsewhere without a probe job.
  */
object Cov {

  /** Max width of the exact path: the symmetric n×n result is one JVM
    * array, so n·n must fit an `Int` (46340² ≤ Int.MaxValue < 46341²).
    * The reference documents 65535 (RapidsRowMatrix.scala:66-68), where
    * n(n+1)/2 must fit; past ours `GraftPCA` routes to [[Rsvd]]. */
  val MaxCols = 46340

  /** Rows per block inside a partition: the kernel's unit of work, and
    * the bound of executor memory besides the accumulator (blockRows·n
    * doubles, whatever the partition size). A fixed constant on
    * purpose, see [[GramBlock]]. */
  val blockRows = 64

  /** One partition/tree-level partial of a pass: the row width, the row
    * count, the per-column sum, and the second-moment accumulation
    * Σ v·vᵀ as n row arrays, row i holding entry (i, j) at index j for
    * j ≥ i (the strict lower triangle stays 0). `sum` and `gram` are
    * null, and `m` is 0, when the width is outside (0, [[MaxCols]]]:
    * the partial then reports only its width. */
  final case class Partial(width: Int, var m: Long, sum: Array[Double],
      gram: Array[Array[Double]]) {
    /** Adds `o` into this partial, row by row over the upper triangle;
      * partials of different widths fail by name. */
    def merge(o: Partial): Partial = {
      requireRowWidth(o.width, width)
      if (gram != null) {
        m += o.m
        var i = 0
        while (i < width) {
          sum(i) += o.sum(i)
          val gi = gram(i)
          val oi = o.gram(i)
          var j = i
          while (j < width) { gi(j) += oi(j); j += 1 }
          i += 1
        }
      }
      this
    }

    /** The finished statistics; a width outside (0, [[MaxCols]]] fails
      * by name. One loop writes both triangles of the symmetric second
      * moment (cf. the reference's `triuToFull`,
      * RapidsRowMatrix.scala:260-288). */
    def stats: Stats = {
      requireWidth(width)
      val n = width
      val full = new Array[Double](n * n)
      var i = 0
      while (i < n) {
        val gi = gram(i)
        var j = i
        while (j < n) { full(i * n + j) = gi(j); full(j * n + i) = gi(j); j += 1 }
        i += 1
      }
      Stats(m, new BDV(sum.map(_ / m.toDouble)), new BDM(n, n, full))
    }
  }

  /** An `array<numeric>` column as the plan's internal rows, and whether
    * its elements are floats. `array<float>`/`array<double>` are read as
    * they are; other numeric arrays are cast to `array<double>` in the
    * plan. `None` for any other column type. */
  private def arrayRows(df: DataFrame, inputCol: String): Option[(RDD[InternalRow], Boolean)] =
    df.schema(inputCol).dataType match {
      case ArrayType(et, _) =>
        val isFloat = et == FloatType
        val arrays =
          if (isFloat || et == DoubleType) df.select(col(inputCol))
          else df.select(col(inputCol).cast("array<double>"))
        Some((arrays.queryExecution.toRdd, isFloat))
      case _ => None
    }

  /** Row 0's array; a null row fails by name. */
  private def arrayOf(row: InternalRow, inputCol: String): ArrayData = {
    if (row.isNullAt(0)) throw new IllegalArgumentException(
      s"null value in input column '$inputCol'")
    row.getArray(0)
  }

  /** Writes `a` into `dst`, widening floats; a null element fails by
    * name instead of reading as 0. */
  private def copyInto(a: ArrayData, isFloat: Boolean, inputCol: String,
      dst: Array[Double]): Unit = {
    val len = a.numElements()
    var i = 0
    while (i < len) {
      if (a.isNullAt(i)) throw new IllegalArgumentException(
        s"null element at index $i in input column '$inputCol'")
      dst(i) = if (isFloat) a.getFloat(i) else a.getDouble(i)
      i += 1
    }
  }

  private def requireRowWidth(width: Int, n: Int): Unit =
    require(width == n, s"row width $width != $n (uniform width required)")

  /** Extract an `RDD[Vector]` from either a `VectorUDT` column or an
    * `array<numeric>` column (the fixture `embeddings.embedding` is
    * `array<float>`; the reference API is VectorUDT — support both,
    * cf. dense/sparse equivalence in PCASuite.scala:155-190).
    *
    * Array columns are read from the plan's internal rows: one primitive
    * `double[]` per row, float widened element by element, no `Row` and
    * no boxing. A null row or a null element fails the job with an
    * `IllegalArgumentException` instead of entering the Gram. The pass
    * over an array column does not come through here: it writes the
    * elements straight into its block rows. */
  def vectorRdd(df: DataFrame, inputCol: String): RDD[Vector] =
    arrayRows(df, inputCol) match {
      case Some((rows, isFloat)) =>
        rows.map { row =>
          val a = arrayOf(row, inputCol)
          val v = new Array[Double](a.numElements())
          copyInto(a, isFloat, inputCol, v)
          Vectors.dense(v)
        }
      case None =>
        df.select(col(inputCol)).rdd.map { r =>
          r.get(0) match {
            case v: Vector => v
            case other => throw new IllegalArgumentException(
              s"input column '$inputCol' must be VectorUDT or array<numeric>, got $other")
          }
        }
    }

  private[graft] def requireWidth(n: Int): Unit =
    require(n > 0 && n <= MaxCols, s"feature width $n outside (0, $MaxCols]")

  /** The pass over an `array<numeric>` or `VectorUDT` column: one job,
    * `None` for a column with no rows. Array elements are written from
    * the scanned rows straight into the block's row arrays, with no per-row
    * `double[]` or `Vector`; VectorUDT columns go through [[vectorRdd]].
    * The result's width is the rows'; past [[MaxCols]] it carries only
    * that width (see [[Partial]]). */
  def pass(df: DataFrame, inputCol: String): Option[Partial] =
    arrayRows(df, inputCol) match {
      case Some((rows, isFloat)) =>
        reduce(rows.mapPartitions { it =>
          partitionPartial(it.map(arrayOf(_, inputCol)))(_.numElements()) {
            (a, row) => copyInto(a, isFloat, inputCol, row)
          }
        })
      case None => pass(vectorRdd(df, inputCol))
    }

  /** As above over vectors, dense or sparse, into the same block. */
  private def pass(rows: RDD[Vector]): Option[Partial] =
    reduce(rows.mapPartitions { it =>
      partitionPartial(it)(_.size) { (v, row) =>
        v match {
          case dv: DenseVector =>
            System.arraycopy(dv.values, 0, row, 0, dv.size)
          case sv: SparseVector =>
            java.util.Arrays.fill(row, 0.0)
            sv.foreachActive((i, x) => row(i) = x)
        }
      }
    })

  /** One partition's partial, `None` for no rows. The width n is the
    * first row's, and every later row must match it. A first row whose
    * width is outside (0, [[MaxCols]]] ends the scan: the partial holds
    * only that width, with no n×n allocation. A width whose n×n
    * accumulator alone exceeds the max heap fails by name, before the
    * allocation would fail with an `OutOfMemoryError` (which in local
    * mode ends the JVM). `fill` writes one row into the given row
    * array from index 0. */
  private def partitionPartial[T](rows: Iterator[T])(width: T => Int)(
      fill: (T, Array[Double]) => Unit): Iterator[Option[Partial]] =
    Iterator.single(if (!rows.hasNext) None else {
      val first = rows.next()
      val n = width(first)
      if (n < 1 || n > MaxCols) Some(Partial(n, 0L, null, null))
      else {
        val need = 8L * n * n
        val heap = Runtime.getRuntime.maxMemory
        require(need <= heap, s"feature width $n needs ${need >> 20} MiB for " +
          s"its n x n Gram, over the max heap of ${heap >> 20} MiB")
        val g = new GramBlock(n)
        fill(first, g.next())
        rows.foreach { x =>
          requireRowWidth(width(x), n)
          fill(x, g.next())
        }
        Some(g.result())
      }
    })

  /** Tree-reduces the partition partials (2 levels, so the driver
    * receives O(sqrt(P)) partials instead of P). */
  private def reduce(partials: RDD[Option[Partial]]): Option[Partial] = {
    val merge = (a: Option[Partial], b: Option[Partial]) => (a ++ b).reduceOption(_.merge(_))
    partials.treeAggregate(Option.empty[Partial])(merge, merge, depth = 2)
  }

  /** One partition's blocked Gram, without BLAS. Rows are written into
    * the [[blockRows]] row arrays of `block`; a full block is added into
    * the upper triangle of `gram`, one row array per Gram row, in place:
    * for each i, rank-4 updates `g_i(j) += a0·x0(j) + a1·x1(j) +
    * a2·x2(j) + a3·x3(j)` over j in [i, n) with `a_t = x_t(i)`, then
    * rank-1 updates for the block's last (rows mod 4) rows.
    *
    * The layout is what C2's superword pass vectorizes. In a standalone
    * harness, one pass over 50,000×512 floats, 4 threads × 12,500 rows,
    * JDK 17 on a 4-core AVX-512 Xeon (medians of 6–8), took 0.30–0.36 s.
    * Measured and dropped:
    *  - netlib GEMM panels, one call per 128-column panel of the upper
    *    triangle of a 4096-row block (the loaded BLAS is Java11BLAS,
    *    scalar): 0.87–1.08 s;
    *  - SYRK, which this BLAS has only as F2j: 0.49–0.52 s against
    *    0.26–0.32 s for the full-square GEMM on one 4096-row block;
    *  - one flat `gram(i*n + j)` accumulator: 0.85–1.0 s;
    *  - the same loop reading one block array at four row offsets: not
    *    vectorized, 2.9 GFLOP/s against 15 for four row arrays;
    *  - rank 8: not vectorized, 1.1–1.4 s;
    *  - a block size derived from the width, or blocks of ≥1024 rows:
    *    C2 compiles the loop from the trip counts it has profiled, so a
    *    JVM that had first run 64-row blocks recompiled into 0.67–0.92 s
    *    code. The block is a fixed 64 rows for that reason.
    *
    * Widths under 8 take the rank-1 loop only. A rank-4 loop first
    * compiled on rows that short is not vectorized: after a 20,000-row
    * pass at n = 3 to 6, the same JVM ran the n = 512 pass at
    * 0.83–0.92 s, against 0.30–0.33 s with this split (and after n = 8,
    * 12, 16 or 32 either way). */
  private final class GramBlock(n: Int) {
    private val block = Array.fill(blockRows)(new Array[Double](n))
    private val sum = new Array[Double](n)
    private val gram = Array.fill(n)(new Array[Double](n))
    private var m = 0L
    private var r = 0

    /** The row array for the next row, after flushing a full block. The
      * caller fills all n entries before asking for the next one. */
    def next(): Array[Double] = {
      if (r == blockRows) flush()
      r += 1
      block(r - 1)
    }

    private def flush(): Unit = if (r > 0) {
      var k = 0
      while (k < r) {
        val x = block(k)
        var i = 0
        while (i < n) { sum(i) += x(i); i += 1 }
        k += 1
      }
      val quads = if (n < 8) 0 else r & ~3
      var i = 0
      while (i < n) {
        val gi = gram(i)
        var k = 0
        while (k < quads) {
          val x0 = block(k); val x1 = block(k + 1)
          val x2 = block(k + 2); val x3 = block(k + 3)
          val a0 = x0(i); val a1 = x1(i); val a2 = x2(i); val a3 = x3(i)
          var j = i
          while (j < n) {
            gi(j) += a0 * x0(j) + a1 * x1(j) + a2 * x2(j) + a3 * x3(j)
            j += 1
          }
          k += 4
        }
        while (k < r) {
          val x = block(k)
          val a = x(i)
          var j = i
          while (j < n) { gi(j) += a * x(j); j += 1 }
          k += 1
        }
        i += 1
      }
      m += r
      r = 0
    }

    def result(): Partial = {
      flush()
      Partial(n, m, sum, gram)
    }
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

  /** The pass and its statistics. No rows, or a width outside
    * (0, [[MaxCols]]], fails by name. */
  def stats(df: DataFrame, inputCol: String): Stats =
    pass(df, inputCol).getOrElse(
      throw new IllegalArgumentException(s"empty input column '$inputCol'")).stats

  /** The pass over vectors whose width the caller states; rows of
    * another width fail by name. `useGemm` is accepted for API
    * compatibility and ignored: there is one kernel. */
  def stats(rows: RDD[Vector], n: Int, useGemm: Boolean): Stats = {
    val p = pass(rows).getOrElse(throw new IllegalArgumentException("empty input"))
    requireRowWidth(p.width, n)
    p.stats
  }
}
