package graft

import breeze.linalg.{eigSym, DenseMatrix => BDM}
import org.scalatest.funsuite.AnyFunSuite

import graft.ml.Eigen

/** Property tests: Eigen.pca invariants on random symmetric PSD
  * matrices — descending eigenvalues, orthonormal canonical-sign
  * components, spectral reconstruction, ratio normalization.
  * Deterministic seed sweep (no scalatestplus bridge in the offline
  * dependency cache). */
class EigenPropSpec extends AnyFunSuite {

  private def psd(seed: Long): BDM[Double] = {
    val rng = new scala.util.Random(seed)
    val n = 2 + rng.nextInt(11)
    val b = BDM.fill(n, n)(rng.nextGaussian())
    b.t * b // PSD by construction
  }

  private val seeds = 0L until 30L

  test("eigenvalues descend, components are orthonormal with canonical sign") {
    seeds.foreach { seed =>
      val cov = psd(seed)
      val n = cov.rows
      val res = Eigen.pca(cov, n)
      val ev = res.eigenvalues
      assert(ev.zip(ev.tail).forall { case (a, b) => a >= b - 1e-9 }, s"seed $seed")
      assert(ev.forall(_ >= 0.0), s"seed $seed")
      val pc = res.pc
      for (a <- 0 until n; b <- a until n) {
        val dot = (0 until n).map(i => pc(i, a) * pc(i, b)).sum
        assert(math.abs(dot - (if (a == b) 1.0 else 0.0)) < 1e-8,
          s"seed $seed: pc($a)·pc($b) = $dot")
      }
      for (j <- 0 until n) {
        val colVals = (0 until n).map(pc(_, j))
        assert(colVals.maxBy(math.abs) >= 0, s"seed $seed: component $j sign")
      }
      // explained-variance ratios sum to 1 for k = n (trace exhausted)
      assert(math.abs(res.explainedVariance.values.sum - 1.0) < 1e-9, s"seed $seed")
    }
  }

  test("spectral reconstruction: V diag(lambda) V^T recovers the matrix") {
    seeds.foreach { seed =>
      val cov = psd(seed)
      val n = cov.rows
      val res = Eigen.pca(cov, n)
      val scale = math.max(1.0, cov.data.map(math.abs).max)
      for (i <- 0 until n; j <- 0 until n) {
        val recon = (0 until n)
          .map(k => res.pc(i, k) * res.eigenvalues(k) * res.pc(j, k)).sum
        assert(math.abs(recon - cov(i, j)) / scale < 1e-8,
          s"seed $seed: recon($i,$j) $recon vs ${cov(i, j)}")
      }
    }
  }

  test("top-k truncation returns a prefix of the full decomposition") {
    seeds.foreach { seed =>
      val cov = psd(seed)
      val n = cov.rows
      val k = 1 + (seed % n).toInt
      val full = Eigen.pca(cov, n)
      val trunc = Eigen.pca(cov, k)
      for (j <- 0 until k; i <- 0 until n)
        assert(math.abs(trunc.pc(i, j) - full.pc(i, j)) < 1e-12, s"seed $seed")
      for (j <- 0 until k)
        assert(math.abs(trunc.explainedVariance(j) - full.explainedVariance(j)) < 1e-12,
          s"seed $seed")
    }
  }

  /** Sample covariance of `rows` Gaussian rows of width n, the matrix
    * PCA eigendecomposes. */
  private def sampleCov(n: Int, rows: Int, seed: Long): BDM[Double] = {
    val rng = new scala.util.Random(seed)
    val b = BDM.fill(rows, n)(rng.nextGaussian())
    (b.t * b) / (rows - 1).toDouble
  }

  test("top-k dsyevr agrees with a full Breeze eigSym reference (n = 64, 512; k = 1, 16, n)") {
    // rows = n puts eigenvalues close to 0 and to each other (the
    // hardest case for eigenvectors); rows = 4n is a typical covariance
    for (n <- Seq(64, 512); rows <- Seq(n, 4 * n)) {
      val cov = sampleCov(n, rows, n.toLong + rows)
      // reference: every eigenpair, descending, clamped, canonical sign,
      // ratios over the sum of all n eigenvalues
      val eig = eigSym(cov)
      val values = Array.tabulate(n)(j => math.max(eig.eigenvalues(n - 1 - j), 0.0))
      val vectors = Eigen.signFlip(BDM.tabulate(n, n)((i, j) => eig.eigenvectors(i, n - 1 - j)))
      val total = values.sum
      for (k <- Seq(1, 16, n)) {
        val res = Eigen.pca(cov, k)
        assert(res.pc.numRows == n && res.pc.numCols == k && res.eigenvalues.length == k)
        for (j <- 0 until k; i <- 0 until n)
          assert(math.abs(res.pc(i, j) - vectors(i, j)) < 1e-10,
            s"n=$n rows=$rows k=$k pc($i,$j): ${res.pc(i, j)} vs ${vectors(i, j)}")
        for (j <- 0 until k)
          assert(math.abs(res.explainedVariance(j) - values(j) / total) < 1e-12,
            s"n=$n rows=$rows k=$k ratio $j: ${res.explainedVariance(j)} vs ${values(j) / total}")
      }
    }
  }
}
