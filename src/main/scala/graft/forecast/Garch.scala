package graft.forecast

/** GARCH(1,1) by quasi-MLE — rebuild of the reference's GARCH operator
  * (/root/reference/forcester_ts/garch.py:66-818): return clipping at
  * p99.5 (:156-168), (1,1) volatility recursion, the full innovation-
  * distribution grid of the reference's (p,q)×dist×mean AIC search
  * (:225-470): normal, Student-t, and Hansen (1994) skewed Student-t
  * (the published two-piece standardized skew-t the arch library's
  * `skewt` dist implements), AIC selection, EWMA fallback when the
  * sample is short or the fit fails to improve on it (:580-633),
  * persistence diagnostics (:519-579).
  *
  * Optimizer: Nelder–Mead over (ω, α, β[, ν]) with a stationarity
  * barrier (α+β<1) — no gradient needed, deterministic.
  */
object Garch {

  final case class Fit(omega: Double, alpha: Double, beta: Double,
      persistence: Double, logLik: Double, converged: Boolean, usedEwma: Boolean,
      dist: String = "normal", nu: Double = 0.0, aic: Double = Double.NaN,
      mean: String = "Zero", meanC: Double = 0.0, meanPhi: Double = 0.0,
      skew: Double = 0.0)

  def clip(returns: Array[Double], q: Double = 0.995): Array[Double] = {
    if (returns.length < 3) return returns
    val sortedAbs = returns.map(math.abs).sorted
    val cap = sortedAbs(math.min(sortedAbs.length - 1,
      math.floor(q * (sortedAbs.length - 1)).toInt))
    returns.map(r => math.max(-cap, math.min(cap, r)))
  }

  /** The filter's unconditional init h₁ = Σr²/n, summed in array order. */
  private def unconditional(r: Array[Double]): Double = r.map(x => x * x).sum / r.length

  private val log2Pi = math.log(2 * math.Pi)

  private[forecast] def negLogLik(r: Array[Double], omega: Double, alpha: Double,
      beta: Double): Double =
    negLogLik(r, omega, alpha, beta, unconditional(r))

  /** Gaussian negative log-likelihood with the filter started at `h0`,
    * which must be [[unconditional]]`(r)`: [[fit]] computes it once per
    * arm instead of once per optimizer evaluation. The three likelihoods
    * keep their per-element IEEE ops in the original order; only values
    * that do not change along the loop are hoisted out of it. */
  private[forecast] def negLogLik(r: Array[Double], omega: Double, alpha: Double,
      beta: Double, h0: Double): Double = {
    if (omega <= 0 || alpha < 0 || beta < 0 || alpha + beta >= 0.9999) return 1e12
    val n = r.length
    var h = h0
    var nll = 0.0
    var i = 0
    while (i < n) {
      if (i > 0) h = omega + alpha * r(i - 1) * r(i - 1) + beta * h
      if (h <= 0) return 1e12
      nll += 0.5 * (log2Pi + math.log(h) + r(i) * r(i) / h)
      i += 1
    }
    nll
  }

  /** Student-t negative log-likelihood with unit-variance scaling: the
    * innovation is t_ν scaled so Var = h_t, i.e. density uses h(ν−2)/ν.
    * Same variance recursion as the Gaussian filter. */
  private[forecast] def negLogLikT(r: Array[Double], omega: Double, alpha: Double,
      beta: Double, nu: Double): Double =
    negLogLikT(r, omega, alpha, beta, nu, unconditional(r))

  private[forecast] def negLogLikT(r: Array[Double], omega: Double, alpha: Double,
      beta: Double, nu: Double, h0: Double): Double = {
    if (omega <= 0 || alpha < 0 || beta < 0 || alpha + beta >= 0.9999 ||
      nu <= 2.05 || nu > 200) return 1e12
    val n = r.length
    val cst = lnGamma((nu + 1) / 2) - lnGamma(nu / 2) -
      0.5 * math.log(math.Pi * (nu - 2))
    val halfNu1 = (nu + 1) / 2
    val nuM2 = nu - 2
    var h = h0
    var nll = 0.0
    var i = 0
    while (i < n) {
      if (i > 0) h = omega + alpha * r(i - 1) * r(i - 1) + beta * h
      if (h <= 0) return 1e12
      nll -= cst - 0.5 * math.log(h) -
        halfNu1 * math.log1p(r(i) * r(i) / (h * nuM2))
      i += 1
    }
    nll
  }

  /** Hansen (1994) skewed Student-t negative log-likelihood. The
    * standardized (zero-mean, unit-variance) density is the two-piece
    *   f(z) = b·c·(1 + ((b·z+a)/(1∓λ))²/(ν−2))^(−(ν+1)/2)
    * with the (1−λ) scale left of the mode (z < −a/b) and (1+λ) right,
    * where c = Γ((ν+1)/2)/(√(π(ν−2))·Γ(ν/2)), a = 4λc(ν−2)/(ν−1),
    * b² = 1+3λ²−a². λ=0 reduces exactly to the standardized t. Same
    * variance recursion as the Gaussian/t filters; r_t = √h_t · z_t. */
  private[forecast] def negLogLikSkewT(r: Array[Double], omega: Double, alpha: Double,
      beta: Double, nu: Double, lambda: Double): Double =
    negLogLikSkewT(r, omega, alpha, beta, nu, lambda, unconditional(r))

  private[forecast] def negLogLikSkewT(r: Array[Double], omega: Double, alpha: Double,
      beta: Double, nu: Double, lambda: Double, h0: Double): Double = {
    if (omega <= 0 || alpha < 0 || beta < 0 || alpha + beta >= 0.9999 ||
      nu <= 2.05 || nu > 200 || lambda <= -0.99 || lambda >= 0.99) return 1e12
    val lnc = lnGamma((nu + 1) / 2) - lnGamma(nu / 2) -
      0.5 * math.log(math.Pi * (nu - 2))
    val c = math.exp(lnc)
    val a = 4 * lambda * c * (nu - 2) / (nu - 1)
    val b2 = 1 + 3 * lambda * lambda - a * a
    if (b2 <= 0) return 1e12
    val b = math.sqrt(b2)
    val lnb = 0.5 * math.log(b2)
    val mode = -a / b
    val left = 1 - lambda
    val right = 1 + lambda
    val halfNu1 = (nu + 1) / 2
    val nuM2 = nu - 2
    val n = r.length
    var h = h0
    var nll = 0.0
    var i = 0
    while (i < n) {
      if (i > 0) h = omega + alpha * r(i - 1) * r(i - 1) + beta * h
      if (h <= 0) return 1e12
      val z = r(i) / math.sqrt(h)
      val t = (b * z + a) / (if (z < mode) left else right)
      nll -= lnb + lnc - halfNu1 * math.log1p(t * t / nuM2) - 0.5 * math.log(h)
      i += 1
    }
    nll
  }

  /** Lanczos log-gamma (g=7, n=9 — the standard public coefficients). */
  private[forecast] def lnGamma(x: Double): Double = {
    if (x < 0.5)
      return math.log(math.Pi / math.sin(math.Pi * x)) - lnGamma(1 - x)
    val g = Array(0.99999999999980993, 676.5203681218851, -1259.1392167224028,
      771.32342877765313, -176.61502916214059, 12.507343278686905,
      -0.13857109526572012, 9.9843695780195716e-6, 1.5056327351493116e-7)
    val z = x - 1
    var a = g(0)
    val t = z + 7.5
    (1 until 9).foreach(i => a += g(i) / (z + i))
    0.5 * math.log(2 * math.Pi) + (z + 0.5) * math.log(t) - t + math.log(a)
  }

  /** Gaussian log-likelihood of the EWMA (IGARCH) variance filter
    * h_t = (1−λ)r²_{t−1} + λh_{t−1}. A dedicated recursion — the GARCH
    * negLogLik's stationarity barrier (α+β<1) would reject the IGARCH
    * point (α+β=1) outright, which made the fit-vs-fallback comparison
    * in fit() vacuous. */
  private[forecast] def ewmaNegLogLik(r: Array[Double], lambda: Double = 0.94): Double = {
    val n = r.length
    if (n == 0) return 1e12
    var h = unconditional(r) // as in negLogLik
    var nll = 0.0
    var i = 0
    while (i < n) {
      if (i > 0) h = (1 - lambda) * r(i - 1) * r(i - 1) + lambda * h
      if (h <= 0) return 1e12
      nll += 0.5 * (log2Pi + math.log(h) + r(i) * r(i) / h)
      i += 1
    }
    nll
  }

  /** Fit GARCH(1,1) over the {normal, t, skewt} innovation grid,
    * selecting by AIC (normal k=3, t k=4, skewt k=5 — the reference's
    * dist axis, garch.py:225-470); falls back to EWMA (λ=0.94) when the
    * sample is short or no MLE beats the EWMA-equivalent likelihood.
    * Pass `dists = Seq("normal")` to keep the pure-QMLE behavior. */
  def fit(rawReturns: Array[Double], minObs: Int = 50,
      dists: Seq[String] = Seq("normal", "t", "skewt"),
      means: Seq[String] = Seq("Zero", "AR")): Fit = {
    val r = clip(rawReturns)
    // the EWMA fallback likelihood must share the candidates' n-1 span
    // (every mean arm fits on r.drop(1)) — a full-n EWMA likelihood would
    // carry ~one extra observation's log-density and bias the
    // fit-vs-fallback comparison toward the fallback
    val rCmp = if (r.length > 1) r.drop(1) else r
    val ewmaAsGarch = { // EWMA ≡ IGARCH(ω=0, α=1−λ, β=λ) — the fallback
      val l = 0.94
      Fit(0.0, 1 - l, l, 1.0, -ewmaNegLogLik(rCmp, l), converged = false, usedEwma = true)
    }
    if (r.length < minObs) return ewmaAsGarch
    // mean axis (two-stage QMLE: the mean model is fit by OLS, GARCH runs
    // on its residuals; its parameter count enters the AIC)
    // every arm fits on the SAME n-1 observations (the AR arm loses one
    // row to its lag) — AICs across different spans are not comparable
    val meanModels: Seq[(String, Double, Double, Array[Double], Int)] = means.map {
      case "Zero" => ("Zero", 0.0, 0.0, r.drop(1), 0)
      case "AR" =>
        val n = r.length - 1
        val x = r.take(n); val y = r.drop(1)
        val mx = x.sum / n; val my = y.sum / n
        val sxx = x.map(v => (v - mx) * (v - mx)).sum
        val phi = if (sxx > 0) x.zip(y).map { case (a, b) => (a - mx) * (b - my) }.sum / sxx else 0.0
        val c = my - phi * mx
        ("AR", c, phi, y.zip(x).map { case (b, a) => b - c - phi * a }, 2)
      case other => throw new IllegalArgumentException(s"unknown mean: $other")
    }
    val candidates = for {
      (meanName, c, phi, e, kMean) <- meanModels
      dist <- dists
      fit <- {
        val v = unconditional(e)
        dist match {
          case "normal" =>
            val (p, nll, conv) = LinAlg.nelderMead(
              a => negLogLik(e, a(0), a(1), a(2), v), Array(0.05 * v, 0.08, 0.90))
            val ll = -nll
            if (!ll.isFinite) None
            else Some(Fit(p(0), p(1), p(2), p(1) + p(2), ll, conv, usedEwma = false,
              dist = "normal", aic = 2.0 * (3 + kMean) - 2.0 * ll,
              mean = meanName, meanC = c, meanPhi = phi))
          case "t" =>
            val (p, nll, conv) = LinAlg.nelderMead(
              a => negLogLikT(e, a(0), a(1), a(2), a(3), v),
              Array(0.05 * v, 0.08, 0.90, 8.0))
            val ll = -nll
            if (!ll.isFinite) None
            else Some(Fit(p(0), p(1), p(2), p(1) + p(2), ll, conv, usedEwma = false,
              dist = "t", nu = p(3), aic = 2.0 * (4 + kMean) - 2.0 * ll,
              mean = meanName, meanC = c, meanPhi = phi))
          case "skewt" =>
            // λ starts at the symmetric point, which is flat to first
            // order — it needs a deliberate 0.05 absolute opening, while
            // ω (~0.05·E[r²], as small as 1e-8 on low-vol series) needs
            // its natural 25% relative step, so the scales are passed
            // explicitly. One restart from the found optimum polishes
            // the 5-dim fit: the first run's simplex can collapse along
            // ν while chasing λ, and reopening it at the optimum
            // recovers the tail axis.
            val obj = (a: Array[Double]) =>
              negLogLikSkewT(e, a(0), a(1), a(2), a(3), a(4), v)
            val w0 = 0.05 * v
            val open = Array(0.25 * w0, 0.02, 0.1, 2.0, 0.05)
            val first = LinAlg.nelderMead(obj, Array(w0, 0.08, 0.90, 8.0, 0.0),
              steps = open)
            val (p, nll, conv) = LinAlg.nelderMead(obj, first._1, steps =
              Array(0.25 * math.max(math.abs(first._1(0)), 1e-12), 0.02,
                0.05, 1.0, math.max(0.25 * math.abs(first._1(4)), 0.02)))
            val ll = -nll
            if (!ll.isFinite) None
            else Some(Fit(p(0), p(1), p(2), p(1) + p(2), ll, conv, usedEwma = false,
              dist = "skewt", nu = p(3), aic = 2.0 * (5 + kMean) - 2.0 * ll,
              mean = meanName, meanC = c, meanPhi = phi, skew = p(4)))
          case other => throw new IllegalArgumentException(s"unknown dist: $other")
        }
      }
    } yield fit
    val best = candidates.filter(_.logLik >= ewmaAsGarch.logLik)
      .sortBy(_.aic).headOption
    best.getOrElse(ewmaAsGarch)
  }

  /** The (1,1) conditional-variance filter itself — the recursion
    * negLogLik and forecastVol share, exposed so the oracle gate (q149)
    * can pin its floats: h_1 = Σr²/n (unconditional init, summed in
    * array order), h_i = ω + α·r²_{i−1} + β·h_{i−1}. */
  def variancePath(r: Array[Double], omega: Double, alpha: Double,
      beta: Double): Array[Double] = {
    if (r.isEmpty) return Array.empty
    val out = new Array[Double](r.length)
    out(0) = unconditional(r)
    var i = 1
    while (i < r.length) {
      out(i) = omega + alpha * r(i - 1) * r(i - 1) + beta * out(i - 1)
      i += 1
    }
    out
  }

  /** h-step conditional variance forecast:
    * h_{t+k} = σ²_∞ + (α+β)^{k−1}(h_{t+1} − σ²_∞). The power term is a
    * cumulative product (pk ← pk·ρ per step) rather than math.pow — the
    * same recursion the closed form telescopes from, and bit-replayable
    * across engines (libm pow implementations differ in the last ulp),
    * which is what lets q149 hash-gate this path. */
  def forecastVol(returns: Array[Double], fit: Fit, horizon: Int): Array[Double] = {
    val r0 = clip(returns)
    if (r0.isEmpty) return Array.fill(horizon)(0.0)
    if (fit.usedEwma) return Ewma.forecastVol(r0, horizon)
    // the variance recursion runs on the fit's mean-model residuals
    val r =
      if (fit.mean == "AR" && r0.length > 1)
        r0.drop(1).zip(r0.dropRight(1)).map { case (b, a) =>
          b - fit.meanC - fit.meanPhi * a }
      else r0
    val h = variancePath(r, fit.omega, fit.alpha, fit.beta).last
    val h1 = fit.omega + fit.alpha * r.last * r.last + fit.beta * h
    val persistence = fit.alpha + fit.beta
    val longRun = if (persistence < 1) fit.omega / (1 - persistence) else h1
    val out = new Array[Double](horizon)
    var pk = 1.0
    var k = 0
    while (k < horizon) {
      out(k) = math.sqrt(math.max(0.0, longRun + pk * (h1 - longRun)))
      pk *= persistence
      k += 1
    }
    out
  }
}
