package graft.ml

import breeze.linalg.{DenseMatrix => BDM, DenseVector => BDV}
import dev.ludovic.netlib.blas.BLAS
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
  * cublasDgemm (RapidsRowMatrix.scala:168-200); ours writes each row
  * straight into a [[blockRows]]-row block buffer and adds the block's
  * Gram into the partition's accumulator in place, one netlib `dgemm`
  * per [[panelCols]]-column panel of the upper block triangle. Only the
  * upper triangle is accumulated (half the flops, like SystemML's
  * `tsmm`); it is mirrored once, after the tree reduce, so every pass
  * returns a full symmetric `gram`.
  *
  * Scale notes: the shuffle-free tree reduce moves only n×n partials
  * (n ≤ [[MaxCols]]); row data never leaves its partition, so this holds
  * at any row count — executor work is O(rows·n²/2) in blocked GEMM and
  * driver work is O(n²·log P). A partition whose first row is wider
  * than [[MaxCols]] stops there and reports only that width, so a
  * caller can route wide input elsewhere without a probe job.
  */
object Cov {

  /** Max width of the exact path: the dense n×n accumulator is one JVM
    * array, so n·n must fit an `Int` (46340² ≤ Int.MaxValue < 46341²).
    * The reference documents 65535 (RapidsRowMatrix.scala:66-68), where
    * n(n+1)/2 must fit; past ours `GraftPCA` routes to [[Rsvd]]. */
  val MaxCols = 46340

  /** Rows per GEMM block inside a partition — bounds executor memory at
    * blockRows·n doubles regardless of partition size. */
  val blockRows = 4096

  /** Columns per upper-triangle `dgemm` panel. One pass over 50,000×512
    * floats in 4 partitions on a 4-core box with Java11BLAS (medians of
    * 6, same JVM): panels of 64 / 128 / 256 took 1.26 / 1.27 / 1.49 s,
    * and one 512-column panel (the full square) 1.80 s; scanning and
    * copying the rows alone took 0.36 s. */
  val panelCols = 128

  /** One partition/tree-level partial of a pass: the row width, the row
    * count, the per-column sum, and the n×n second-moment accumulation
    * Σ v·vᵀ (upper triangle only until the pass mirrors it). `sum` and
    * `gram` are null, and `m` is 0, when the width is outside
    * (0, [[MaxCols]]]: the partial then reports only its width. */
  final case class Partial(width: Int, var m: Long, sum: BDV[Double], gram: BDM[Double]) {
    /** Adds `o` into this partial; partials of different widths fail by
      * name. */
    def merge(o: Partial): Partial = {
      requireRowWidth(o.width, width)
      if (gram != null) { m += o.m; sum += o.sum; gram += o.gram }
      this
    }

    /** The finished statistics; a width outside (0, [[MaxCols]]] fails
      * by name. */
    def stats: Stats = {
      requireWidth(width)
      Stats(m, sum / m.toDouble, gram)
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

  /** Writes `a` into `dst` from `off`, widening floats; a null element
    * fails by name instead of reading as 0. */
  private def copyInto(a: ArrayData, isFloat: Boolean, inputCol: String,
      dst: Array[Double], off: Int): Unit = {
    val len = a.numElements()
    var i = 0
    while (i < len) {
      if (a.isNullAt(i)) throw new IllegalArgumentException(
        s"null element at index $i in input column '$inputCol'")
      dst(off + i) = if (isFloat) a.getFloat(i) else a.getDouble(i)
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
    * elements straight into its block buffer. */
  def vectorRdd(df: DataFrame, inputCol: String): RDD[Vector] =
    arrayRows(df, inputCol) match {
      case Some((rows, isFloat)) =>
        rows.map { row =>
          val a = arrayOf(row, inputCol)
          val v = new Array[Double](a.numElements())
          copyInto(a, isFloat, inputCol, v, 0)
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
    * the scanned rows straight into the block buffer, with no per-row
    * `double[]` or `Vector`; VectorUDT columns go through [[vectorRdd]].
    * The result's width is the rows'; past [[MaxCols]] it carries only
    * that width (see [[Partial]]). */
  def pass(df: DataFrame, inputCol: String): Option[Partial] =
    arrayRows(df, inputCol) match {
      case Some((rows, isFloat)) =>
        reduce(rows.mapPartitions { it =>
          partitionPartial(it.map(arrayOf(_, inputCol)))(_.numElements()) {
            (a, buf, off) => copyInto(a, isFloat, inputCol, buf, off)
          }
        })
      case None => pass(vectorRdd(df, inputCol))
    }

  /** As above over vectors, dense or sparse, into the same block buffer. */
  private def pass(rows: RDD[Vector]): Option[Partial] =
    reduce(rows.mapPartitions { it =>
      partitionPartial(it)(_.size) { (v, buf, off) =>
        v match {
          case dv: DenseVector =>
            System.arraycopy(dv.values, 0, buf, off, dv.size)
          case sv: SparseVector =>
            java.util.Arrays.fill(buf, off, off + sv.size, 0.0)
            sv.foreachActive((i, x) => buf(off + i) = x)
        }
      }
    })

  /** One partition's partial, `None` for no rows. The width n is the
    * first row's, and every later row must match it. A first row whose
    * width is outside (0, [[MaxCols]]] ends the scan: the partial holds
    * only that width, with no n×n allocation. A width whose n×n
    * accumulator alone exceeds the max heap fails by name, before the
    * allocation would fail with an `OutOfMemoryError` (which in local
    * mode ends the JVM). `fill` writes one row into the block buffer
    * from the given offset. */
  private def partitionPartial[T](rows: Iterator[T])(width: T => Int)(
      fill: (T, Array[Double], Int) => Unit): Iterator[Option[Partial]] =
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
        fill(first, g.buf, g.slot())
        rows.foreach { x =>
          requireRowWidth(width(x), n)
          fill(x, g.buf, g.slot())
        }
        Some(g.result())
      }
    })

  /** Tree-reduces the partition partials (2 levels, so the driver
    * receives O(sqrt(P)) partials instead of P) and mirrors the result's
    * upper triangle. */
  private def reduce(partials: RDD[Option[Partial]]): Option[Partial] = {
    val merge = (a: Option[Partial], b: Option[Partial]) => (a ++ b).reduceOption(_.merge(_))
    val p = partials.treeAggregate(Option.empty[Partial])(merge, merge, depth = 2)
    p.foreach(q => if (q.gram != null) symmetrize(q.gram))
    p
  }

  /** One partition's blocked Gram. Rows are written into `buf` row-major,
    * which is Bᵀ column-major (n×r, leading dimension n); a full block is
    * added into the upper block triangle of `gram` in place:
    * for each panel of columns [j0, j0+bj), `gram[0:j0+bj, j0:j0+bj] +=
    * Bᵀ[0:j0+bj, :]·B[:, j0:j0+bj]`, one `dgemm` with offsets and
    * beta = 1. No copy of the block and no temporary n×n product. The
    * strict lower triangle outside the diagonal panels stays 0 and is
    * overwritten by the mirror after the reduce.
    *
    * `dsyrk` would be the textbook call, but this BLAS has it only as
    * F2j, which took 0.49–0.52 s against 0.26–0.32 s for the Java11BLAS
    * full `dgemm` on one 4096-row block. A hand-written rank-8
    * `Math.fma` upper-triangle kernel lost to the panels in the same
    * pass (1.55 s against 1.31 s, same JVM, medians of 6), and so did
    * `dgemm("T", "N")` over a feature-major buffer (1.37 s against
    * 1.28 s, medians of 8). */
  private final class GramBlock(n: Int) {
    // bound block buffer memory at ~16 MiB regardless of width
    private val block = math.max(1, math.min(blockRows, (16 << 20) / 8 / n))
    val buf = new Array[Double](block * n)
    private val sum = new Array[Double](n)
    private val gram = new Array[Double](n * n)
    private var m = 0L
    private var r = 0

    /** Offset in `buf` for the next row, flushing a full block first. The
      * caller fills all n slots before asking for the next one. */
    def slot(): Int = {
      if (r == block) flush()
      r += 1
      (r - 1) * n
    }

    private def flush(): Unit = if (r > 0) {
      var k = 0
      while (k < r) {
        val off = k * n
        var i = 0
        while (i < n) { sum(i) += buf(off + i); i += 1 }
        k += 1
      }
      val blas = BLAS.getInstance()
      var j0 = 0
      while (j0 < n) {
        val bj = math.min(panelCols, n - j0)
        blas.dgemm("N", "T", j0 + bj, bj, r, 1.0, buf, 0, n, buf, j0, n,
          1.0, gram, j0 * n, n)
        j0 += bj
      }
      m += r
      r = 0
    }

    def result(): Partial = {
      flush()
      Partial(n, m, new BDV(sum), new BDM(n, n, gram))
    }
  }

  /** Mirror the accumulated upper triangle into the lower (cf. the
    * reference's `triuToFull`, RapidsRowMatrix.scala:260-288). */
  private def symmetrize(gram: BDM[Double]): Unit = {
    val n = gram.rows
    val g = gram.data
    var j = 0
    while (j < n) {
      var i = j + 1
      while (i < n) { g(j * n + i) = g(i * n + j); i += 1 }
      j += 1
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
