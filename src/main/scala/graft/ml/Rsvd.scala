package graft.ml

import breeze.linalg.{eigSym, qr, DenseMatrix => BDM, DenseVector => BDV}
import org.apache.spark.ml.linalg.{DenseMatrix, DenseVector, Vector}
import org.apache.spark.rdd.RDD

/** Randomized PCA past the exact path's [[Cov.MaxCols]] = 46,340-column
  * ceiling, which lies below the reference's 65,535 (SURVEY.md §2.D
  * D250).
  *
  * The reference fails fast at 65,535 columns because its exact route
  * MATERIALIZES the n×n covariance (reference:
  * RapidsRowMatrix.scala:66-68,147 — n(n+1)/2 must fit an Int, and the
  * n×n Gram must fit one device buffer); ours stops at [[Cov.MaxCols]],
  * where n·n no longer fits one JVM array. This route never forms it:
  * the Halko–Martinsson–Tropp randomized range finder (Halko,
  * Martinsson & Tropp, SIAM Rev. 53(2), 2011, Algs. 4.3/4.4 + 5.3)
  * sketches the covariance OPERATOR v ↦ Cv, which is available in one
  * distributed pass per application without n² state anywhere:
  *
  *   C·X = (Σᵢ vᵢ(vᵢᵀX) − s(sᵀX)/m) / (m−1),   s = Σᵢ vᵢ
  *
  * so executors accumulate the n×l frame Σ vᵢ(vᵢᵀX) (l = k +
  * oversample, tens of columns — megabytes, not the n×n gigabytes)
  * plus the n-vector s, tree-reduced exactly like [[Cov]]. Power
  * iterations replay the same pass against the current orthonormal
  * basis; the final l×l projection M = QᵀCQ eigendecomposes on the
  * driver in microseconds. Total: `powerIters + 2` distributed passes,
  * driver memory O(n·l), executor memory O(n·l) per task.
  *
  * Determinism: the Gaussian test matrix Ω draws from ONE seeded
  * driver RNG and broadcasts, so the SKETCH is identical on every
  * refit; the distributed accumulation inherits treeAggregate's
  * combine-order FP noise (~1e-12 relative, exactly like [[Cov]]'s
  * exact path), and eigenvectors get the reference's canonical sign
  * ([[Eigen.signFlip]], reference rapidsml_jni.cu:37-64).
  *
  * Accuracy: exact (up to fp) when rank(C) ≤ l, since the sketch then
  * spans the whole column space; for general spectra the HMT bound
  * applies and `powerIters` sharpens the tail — PCASpec pins 1e-5
  * agreement with the exact path on a narrow-rank 2,048-dim fixture
  * and runs the 46,341- and 66,000-dim cases the exact path must
  * reject. */
object Rsvd {

  /** Extra sketch columns beyond k (HMT recommend 5–10). */
  val oversample = 10

  /** Subspace (power) iterations — 2 is the standard accuracy/cost
    * point for slowly-decaying spectra. */
  val powerIters = 2

  /** Fixed sketch seed: refits must reproduce. */
  val seed = 8843L

  /** One distributed pass: (m, s = Σv, sumsq = Σv∘v, G = Σ v(vᵀX)).
    * sumsq rides along only when `wantTrace` (the first pass) — the
    * exact total variance that normalizes explainedVariance. */
  private final case class Pass(var m: Long, s: BDV[Double],
      sumsq: BDV[Double], g: BDM[Double]) {
    def merge(o: Pass): Pass = { m += o.m; s += o.s; sumsq += o.sumsq; g += o.g; this }
  }

  private def applyOp(rows: RDD[Vector], n: Int, x: BDM[Double],
      wantTrace: Boolean): Pass = {
    val l = x.cols
    val bc = rows.sparkContext.broadcast(x.data)
    val zero = Pass(0L, BDV.zeros[Double](n), BDV.zeros[Double](n),
      BDM.zeros[Double](n, l))
    val out = rows.treeAggregate(zero)(
      seqOp = (p, v) => {
        require(v.size == n, s"row width ${v.size} != $n")
        val xm = bc.value // column-major n×l
        val t = new Array[Double](l)
        // t = vᵀX
        v.foreachActive { (i, vi) =>
          var j = 0
          while (j < l) { t(j) += vi * xm(j * n + i); j += 1 }
        }
        // G += v·tᵀ ; s += v ; sumsq += v∘v
        val g = p.g.data
        v.foreachActive { (i, vi) =>
          p.s(i) += vi
          if (wantTrace) p.sumsq(i) += vi * vi
          var j = 0
          while (j < l) { g(j * n + i) += vi * t(j); j += 1 }
        }
        p.m += 1
        p
      },
      combOp = (a, b) => a.merge(b),
      depth = 2)
    bc.destroy()
    out
  }

  /** C·X from a pass's accumulators (covariance or uncentered moment). */
  private def finishOp(p: Pass, x: BDM[Double], center: Boolean): BDM[Double] = {
    require(p.m > 1, s"needs >1 row, got ${p.m}")
    val y = p.g.copy
    if (center) {
      // y -= s (sᵀX) / m
      val st = x.t * p.s // l-vector sᵀX... (x is n×l: x.t * s = Xᵀs)
      var j = 0
      while (j < x.cols) {
        var i = 0
        while (i < x.rows) { y(i, j) -= p.s(i) * st(j) / p.m.toDouble; i += 1 }
        j += 1
      }
    }
    y /= (p.m - 1).toDouble
    y
  }

  /** Exact total variance (trace of C) from the first pass. */
  private def trace(p: Pass, center: Boolean): Double = {
    var t = 0.0
    var i = 0
    while (i < p.s.length) {
      t += p.sumsq(i) - (if (center) p.s(i) * p.s(i) / p.m.toDouble else 0.0)
      i += 1
    }
    t / (p.m - 1).toDouble
  }

  /** Randomized PCA: top-k principal components + explained-variance
    * ratios of the (centered or uncentered) second-moment operator,
    * never materializing anything n×n. */
  def pca(rows: RDD[Vector], n: Int, k: Int,
      meanCentering: Boolean = true): Eigen.PcaResult = {
    require(k >= 1 && k <= n, s"k=$k outside [1, $n]")
    val l = math.min(n, k + oversample)
    // deterministic Gaussian sketch
    val rnd = new java.util.Random(seed)
    val omega = new BDM[Double](n, l,
      Array.fill(n * l)(rnd.nextGaussian()))
    // pass 1: range sketch + exact trace
    val p1 = applyOp(rows, n, omega, wantTrace = true)
    val total = trace(p1, meanCentering)
    var q = qr.reduced(finishOp(p1, omega, meanCentering)).q
    // power iterations sharpen the captured subspace
    for (_ <- 1 to powerIters) {
      val p = applyOp(rows, n, q, wantTrace = false)
      q = qr.reduced(finishOp(p, q, meanCentering)).q
    }
    // final projection: CQ one more pass, M = Qᵀ(CQ) is l×l
    val pf = applyOp(rows, n, q, wantTrace = false)
    val cq = finishOp(pf, q, meanCentering)
    val m = q.t * cq
    // symmetrize fp asymmetry before eig
    val ms = (m + m.t) * 0.5
    val eig = eigSym(ms)
    val order = (l - 1) to 0 by -1
    val values = order.map(i => math.max(eig.eigenvalues(i), 0.0)).toArray
    val u = BDM.zeros[Double](l, k)
    var j = 0
    while (j < k) {
      var i = 0
      while (i < l) { u(i, j) = eig.eigenvectors(i, order(j)); i += 1 }
      j += 1
    }
    val v = q * u // n×k components
    Eigen.signFlip(v)
    val ratios =
      if (total == 0.0) Array.fill(k)(0.0)
      else values.take(k).map(_ / total)
    val pcData = new Array[Double](n * k)
    j = 0
    while (j < k) {
      var i = 0
      while (i < n) { pcData(j * n + i) = v(i, j); i += 1 }
      j += 1
    }
    Eigen.PcaResult(new DenseMatrix(n, k, pcData), new DenseVector(ratios),
      values.take(k))
  }
}
