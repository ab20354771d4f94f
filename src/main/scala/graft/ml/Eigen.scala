package graft.ml

import breeze.linalg.{DenseMatrix => BDM}
import dev.ludovic.netlib.lapack.LAPACK
import org.apache.spark.ml.linalg.{DenseMatrix, DenseVector}
import org.netlib.util.intW

/** Driver-local eigendecomposition of the (small) covariance matrix and
  * the deterministic post-processing the reference applies on the GPU:
  * symmetric-eig instead of general SVD (reference: rapidsml_jni.cu:338),
  * descending eigenvalue order (colReverse/rowReverse, rapidsml_jni.cu:
  * 339-340), canonical sign-flip (rapidsml_jni.cu:37-64), explained-
  * variance ratio (RapidsRowMatrix.scala:101-102), top-k truncation
  * (RapidsRowMatrix.scala:104-109).
  *
  * Only the k pairs that are returned are computed: LAPACK `dsyevr`
  * with RANGE='I' (bisection + inverse iteration for k < n, MRRR for
  * k = n), and the ratio denominator is the trace, which equals the sum
  * of all n eigenvalues without a full decomposition.
  *
  * This never distributes: n ≤ [[Cov.MaxCols]] = 46340 so the n×n
  * problem fits the driver (reference does the same, with n ≤ 65535,
  * RapidsRowMatrix.scala:94-95).
  */
object Eigen {

  /** `pc`: n×k components (column i = i-th PC); `explainedVariance`:
    * the k ratios λᵢ / trace; `eigenvalues`: the k largest eigenvalues,
    * descending and clamped at 0 (all n when k = n). */
  final case class PcaResult(pc: DenseMatrix, explainedVariance: DenseVector,
      eigenvalues: Array[Double])

  /** Canonical sign: for each eigenvector column, the element with the
    * largest absolute value must be positive — negate the column if not.
    * Replicates the reference's signFlip kernel (rapidsml_jni.cu:37-64)
    * so results are reproducible across runs and backends. */
  def signFlip(vectors: BDM[Double]): BDM[Double] = {
    var j = 0
    while (j < vectors.cols) {
      var maxAbs = 0.0; var maxVal = 0.0; var i = 0
      while (i < vectors.rows) {
        val x = vectors(i, j)
        if (math.abs(x) > maxAbs) { maxAbs = math.abs(x); maxVal = x }
        i += 1
      }
      if (maxVal < 0) {
        i = 0
        while (i < vectors.rows) { vectors(i, j) = -vectors(i, j); i += 1 }
      }
      j += 1
    }
    vectors
  }

  /** PCA post-processing of a symmetric PSD matrix: its k largest
    * eigenpairs in descending order, eigenvalues clamped at 0,
    * sign-flipped components.
    *
    * @return components as an n×k matrix (column i = i-th PC) plus the
    *         k explained-variance ratios λᵢ/Σλ, the sum running over ALL
    *         n eigenvalues (as RapidsRowMatrix.scala:101-102,115-116) and
    *         taken as the trace of `cov`.
    */
  def pca(cov: BDM[Double], k: Int): PcaResult = {
    val n = cov.rows
    require(cov.cols == n, s"matrix must be square, got ${cov.rows}x${cov.cols}")
    require(k >= 1 && k <= n, s"k=$k outside [1, $n]")
    val (ascending, z) = topK(cov, k)
    val values = Array.tabulate(k)(j => math.max(ascending(k - 1 - j), 0.0))
    // z's columns ascend with the eigenvalues: reverse them into pc
    val vectors = BDM.zeros[Double](n, k)
    var j = 0
    while (j < k) {
      System.arraycopy(z, (k - 1 - j) * n, vectors.data, j * n, n)
      j += 1
    }
    signFlip(vectors)
    var trace = 0.0
    var i = 0
    while (i < n) { trace += cov(i, i); i += 1 }
    val ratios =
      if (trace <= 0.0) Array.fill(k)(0.0)
      else values.map(_ / trace)
    PcaResult(new DenseMatrix(n, k, vectors.data), new DenseVector(ratios), values)
  }

  /** The k largest eigenpairs of symmetric `a` through LAPACK `dsyevr`
    * (RANGE='I', indices n−k+1..n, upper triangle): eigenvalues
    * ascending, eigenvectors as an n×k column-major array in the same
    * order. */
  private def topK(a: BDM[Double], k: Int): (Array[Double], Array[Double]) = {
    val n = a.rows
    val lapack = LAPACK.getInstance()
    val data = a.copy.data // column-major; dsyevr overwrites it
    val w = new Array[Double](n)
    val z = new Array[Double](n * k)
    val isuppz = new Array[Int](2 * n) // the wrapper checks 2n, LAPACK uses 2k
    val found = new intW(0)
    val info = new intW(0)
    val abstol = lapack.dlamch("S")
    def run(work: Array[Double], lwork: Int, iwork: Array[Int], liwork: Int): Unit = {
      lapack.dsyevr("V", "I", "U", n, data, n, 0.0, 0.0, n - k + 1, n, abstol,
        found, w, z, n, isuppz, work, lwork, iwork, liwork, info)
      require(info.`val` == 0, s"LAPACK dsyevr failed: info=${info.`val`}")
    }
    val workSize = new Array[Double](1)
    val iworkSize = new Array[Int](1)
    run(workSize, -1, iworkSize, -1) // workspace query
    val lwork = workSize(0).toInt
    val liwork = iworkSize(0)
    run(new Array[Double](lwork), lwork, new Array[Int](liwork), liwork)
    require(found.`val` == k, s"LAPACK dsyevr returned ${found.`val`} of $k eigenpairs")
    (w, z)
  }
}
