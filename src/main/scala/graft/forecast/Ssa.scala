package graft.forecast

import breeze.linalg.{DenseMatrix, DenseVector}

/** Singular Spectrum Analysis — rebuild of the reference's SAMoSSA core
  * (/root/reference/forcester_ts/samossa.py:55-612): Hankel trajectory
  * matrix (:116-134), truncated SVD with variance-target auto rank
  * (:135-169), diagonal-averaging reconstruction (:185-197), recurrent
  * R-forecast (:485-556).
  *
  * Series per ticker are small (≤ a few thousand points), so the SVD is
  * a tiny dense problem inside the per-ticker kernel — the distribution
  * axis is tickers, not the matrix.
  */
object Ssa {

  final case class Decomposition(window: Int, rank: Int,
      reconstruction: Array[Double], explainedVariance: Double)

  /** C = A·B with explicit ascending-k scalar accumulation. The breeze
    * `*` would route through gemm whose blocking/accumulation order is
    * an implementation detail; these matrices are tiny (window ≤ a few
    * dozen rows), and a SPECIFIED op order is what lets the q150 oracle
    * replay the reconstruction bit-exactly (the Garch pow→cumprod
    * rationale). */
  private[forecast] def mm(a: DenseMatrix[Double], b: DenseMatrix[Double]): DenseMatrix[Double] = {
    val out = DenseMatrix.zeros[Double](a.rows, b.cols)
    var i = 0
    while (i < a.rows) {
      var j = 0
      while (j < b.cols) {
        var s = 0.0
        var k = 0
        while (k < a.cols) { s += a(i, k) * b(k, j); k += 1 }
        out(i, j) = s
        j += 1
      }
      i += 1
    }
    out
  }

  /** Left singular structure of H from the window×window Gram matrix
    * H·Hᵀ via the pure-Scala Jacobi eigensolver (LinAlg.eigSym — LAPACK
    * dgesdd is not reentrant, see LinAlg's scaladoc). Returns
    * (eigenvalues = σ² descending, U columns). Everything SSA needs is
    * U and σ²: the rank-r reconstruction is the projector U_r·U_rᵀ·H
    * (no V, no σ division), and R-forecasting only reads U. */
  private def gramEig(h: DenseMatrix[Double]): (DenseVector[Double], DenseMatrix[Double]) =
    LinAlg.eigSym(mm(h, h.t))

  def hankel(x: Array[Double], window: Int): DenseMatrix[Double] = {
    val k = x.length - window + 1
    DenseMatrix.tabulate(window, k)((i, j) => x(i + j))
  }

  /** H's Gram spectrum: σ² (clamped at 0, descending), U, their total,
    * and the smallest count of leading σ² that reaches `varianceTarget`
    * of the total (before either caller's clamp). */
  private final case class Spectrum(ev: Array[Double], u: DenseMatrix[Double],
      total: Double, targetRank: Int)

  private def spectrum(h: DenseMatrix[Double], varianceTarget: Double): Spectrum = {
    val (evv, uu) = gramEig(h)
    val ev = evv.toArray.map(v => math.max(v, 0.0)) // σ², already sorted
    val total = math.max(ev.sum, 1e-300)
    var acc = 0.0; var r = 0
    while (r < ev.length && acc / total < varianceTarget) { acc += ev(r); r += 1 }
    Spectrum(ev, uu, total, r)
  }

  private def requireWindow(n: Int, window: Int): Unit =
    require(window >= 2 && window < n, s"bad SSA window $window for n=$n")

  /** The series of length `n` behind the rank-r projection U_r·U_rᵀ·H of
    * its trajectory matrix, by diagonal averaging. */
  private def reconstruct(h: DenseMatrix[Double], u: DenseMatrix[Double], rank: Int,
      n: Int): Array[Double] = {
    // low-rank trajectory matrix via the left-projector (no V needed)
    val ur = u(::, 0 until rank)
    val approx = mm(ur, mm(ur.t, h))
    val recon = new Array[Double](n)
    val counts = new Array[Int](n)
    (0 until approx.rows).foreach { i =>
      (0 until approx.cols).foreach { j =>
        recon(i + j) += approx(i, j)
        counts(i + j) += 1
      }
    }
    (0 until n).foreach(i => recon(i) /= counts(i))
    recon
  }

  /** Rank-r SSA reconstruction, r chosen to reach `varianceTarget` of
    * the squared singular-value mass. */
  def decompose(x: Array[Double], window: Int, varianceTarget: Double = 0.90): Decomposition =
    decomposeWithForecast(x, window, varianceTarget)._1

  /** Recurrent SSA forecast: the last window row is projected through
    * the linear recurrence implied by the leading eigenvectors
    * (standard SSA R-forecasting). The history it extends is
    * [[decompose]]'s reconstruction (its rank rule, without the
    * recurrence's window−1 cap), built from the same spectrum. */
  def forecast(x: Array[Double], horizon: Int, window: Int, varianceTarget: Double = 0.90)
      : Array[Double] =
    decomposeWithForecast(x, window, varianceTarget)._2(horizon)

  /** [[decompose]] and [[forecast]] of one series and window from ONE
    * Hankel matrix and spectrum: the decomposition, and the forecast for
    * a horizon, built on demand over the decomposition's reconstruction. */
  def decomposeWithForecast(x: Array[Double], window: Int, varianceTarget: Double = 0.90)
      : (Decomposition, Int => Array[Double]) = {
    requireWindow(x.length, window)
    val h = hankel(x, window)
    val sp = spectrum(h, varianceTarget)
    val rank = math.max(1, sp.targetRank)
    val dec = Decomposition(window, rank, reconstruct(h, sp.u, rank, x.length),
      sp.ev.take(rank).sum / math.max(sp.total, 1e-300))
    (dec, horizon => recurrent(sp, window, horizon, x.last, dec.reconstruction))
  }

  /** The R-forecast recurrence over `recon`, the history it extends. */
  private def recurrent(sp: Spectrum, window: Int, horizon: Int, last: Double,
      recon: Array[Double]): Array[Double] = {
    val uu = sp.u
    val rank = math.max(1, math.min(sp.targetRank, window - 1))
    // recurrence coefficients from leading left singular vectors
    val pi = DenseVector((0 until rank).map(c => uu(window - 1, c)).toArray)
    val nu2 = { var s = 0.0; var c = 0; while (c < rank) { s += pi(c) * pi(c); c += 1 }; s }
    if (nu2 >= 1.0 - 1e-9) {
      // degenerate (verticality ~1): fall back to last-value forecast
      return Array.fill(horizon)(last)
    }
    val uHead = uu(0 until window - 1, 0 until rank)
    val rCoef = mm(uHead, pi.toDenseMatrix.t)(::, 0) * (1.0 / (1.0 - nu2)) // length window-1, oldest→newest
    val hist = scala.collection.mutable.ArrayBuffer(recon.toSeq: _*)
    (1 to horizon).map { _ =>
      val next = (0 until window - 1).map { j =>
        rCoef(j) * hist(hist.length - (window - 1) + j)
      }.sum
      hist += next
      next
    }.toArray
  }
}
