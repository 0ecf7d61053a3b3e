package graft.forecast

import breeze.linalg.{DenseMatrix, DenseVector}

/** SARIMA-lite: (seasonal) differencing + ARMA(p, q) with optional
  * seasonal AR lags — the stand-in for the reference's statsmodels
  * SARIMAX stack (/root/reference/forcester_ts/sarimax.py:431-707 keeps
  * the same SHAPE: stationarity-driven d, autocorrelation-peak
  * seasonality detection :212-224, AIC-minimizing order search over
  * (p, q)(P, s), fallback ladder to a drift model). AR terms fit by
  * OLS; MA terms by Hannan-Rissanen two-stage least squares (long-AR
  * innovation proxies) instead of full MLE — consistent for invertible
  * ARMA and grid-friendly (every candidate is one linear solve).
  */
object Ar {

  /** seasonalLags: absolute lags (s, 2s, ...) appended to 1..p;
    * maCoefs: θ coefficients for the innovation lags in maLags (the
    * non-seasonal 1..q plus, when selected, the seasonal MA lag s —
    * the Q of (P,D,Q,s)); ds/dsSeason: seasonal difference order and
    * its period (D, s). */
  final case class Fit(p: Int, d: Int, intercept: Double, coefs: Array[Double],
      sigma2: Double, aic: Double, n: Int,
      season: Int = 0, seasonalLags: Array[Int] = Array.empty,
      maCoefs: Array[Double] = Array.empty,
      ds: Int = 0, dsSeason: Int = 0,
      maLags: Array[Int] = Array.empty)

  /** Stationarity gate: difference once when the level series is
    * near-unit-root, measured by lag-1 autocorrelation ρ₁ ≥ 0.95
    * (stands in for the ADF gate, sarimax.py:225-270 — a random walk has
    * ρ₁→1 while even a strongly autocorrelated stationary AR(0.8) stays
    * well below the gate). */
  def chooseD(x: Array[Double]): Int = {
    if (x.length < 10) return 0
    val m = x.sum / x.length
    val denom = x.map(e => (e - m) * (e - m)).sum
    if (denom <= 0) return 0
    val num = (1 until x.length).map(i => (x(i) - m) * (x(i - 1) - m)).sum
    if (num / denom >= 0.95) 1 else 0
  }

  def difference(x: Array[Double], d: Int): Array[Double] =
    if (d == 0) x else difference(x.sliding(2).map(a => a(1) - a(0)).toArray, d - 1)

  /** Lag-s (seasonal) difference: z_i = x_{i+s} − x_i. */
  def seasonalDifference(x: Array[Double], s: Int): Array[Double] =
    Array.tabulate(math.max(x.length - s, 0))(i => x(i + s) - x(i))

  /** ACF of x at lag k (mean-centered). */
  private def acfAt(x: Array[Double], k: Int): Double = {
    val m = x.sum / x.length
    val denom = x.map(v => (v - m) * (v - m)).sum
    if (denom <= 0 || k >= x.length) 0.0
    else (k until x.length).map(i => (x(i) - m) * (x(i - k) - m)).sum / denom
  }

  /** Seasonal-unit-root gate (the OCSB/CH stand-in, mirroring chooseD's
    * shape at lag s): D = 1 when the d-differenced series is still
    * dominated by its seasonal lag, ρ_s ≥ 0.90. */
  def chooseSeasonalD(x: Array[Double], s: Int): Int =
    if (s > 0 && x.length >= 3 * s && acfAt(x, s) >= 0.90) 1 else 0

  /** Seasonality detection: dominant autocorrelation peak of the
    * differenced series among candidate periods (sarimax.py:212-224). */
  def detectSeason(x: Array[Double], candidates: Seq[Int] = Seq(5, 7, 12, 21, 126)): Int = {
    if (x.length < 30) return 0
    val m = x.sum / x.length
    val denom = x.map(v => (v - m) * (v - m)).sum
    if (denom <= 0) return 0
    def acf(k: Int): Double =
      (k until x.length).map(i => (x(i) - m) * (x(i - k) - m)).sum / denom
    val viable = candidates.filter(s => x.length >= 3 * s)
    if (viable.isEmpty) return 0
    val (best, r) = viable.map(s => s -> acf(s)).maxBy(_._2)
    if (r > 0.25) best else 0
  }

  /** OLS AR on explicit lag set (1..p plus optional seasonal lags).
    * `burn` forces a common first usable index so AIC is comparable
    * across candidates fit on the same span. */
  private def fitLags(x: Array[Double], p: Int, d: Int,
      seasonal: Array[Int], season: Int, burn: Int = 0): Option[Fit] = {
    val lags = ((1 to p) ++ seasonal).distinct.sorted.toArray
    if (lags.isEmpty) return None
    val maxLag = math.max(lags.max, burn)
    val n = x.length - maxLag
    if (n <= lags.length + 2) return None
    val y = DenseVector(x.drop(maxLag))
    val xm = DenseMatrix.zeros[Double](n, lags.length + 1)
    (0 until n).foreach { i =>
      xm(i, 0) = 1.0
      lags.zipWithIndex.foreach { case (l, j) => xm(i, j + 1) = x(maxLag + i - l) }
    }
    // Normal equations assembled with explicit ascending-row loops
    // rather than breeze's matmul: each X'X / X'y entry is a sequential
    // sum over i, which is the documented IEEE order the q148 oracle
    // replays — this puts the PRODUCTION fit (not a parallel
    // reimplementation) on the hash-anchored path. Values differ from
    // dgemm only by summation-order ulps; everything downstream of the
    // solve is already sequential scalar code.
    val cols = lags.length + 1
    val xtx = DenseMatrix.zeros[Double](cols, cols)
    val xty = DenseVector.zeros[Double](cols)
    var i = 0
    while (i < n) {
      var a = 0
      while (a < cols) {
        val ra = xm(i, a)
        xty(a) += ra * y(i)
        var b = 0
        while (b < cols) { xtx(a, b) += ra * xm(i, b); b += 1 }
        a += 1
      }
      i += 1
    }
    val beta = LinAlg.solveSpd(xtx, xty)
    // residual sum of squares by the same explicit sequential loops
    // (dgemv + dot were the remaining unreplayable steps): per row the
    // prediction folds left over columns, rss folds over ascending rows
    // — σ² and with it the forecast CI are now oracle-replayable too
    var rss = 0.0
    i = 0
    while (i < n) {
      var pred = 0.0
      var j = 0
      while (j < cols) { pred += xm(i, j) * beta(j); j += 1 }
      val r = y(i) - pred
      rss += r * r
      i += 1
    }
    val sigma2 = math.max(1e-12, rss / n.toDouble)
    val k = lags.length + 2.0 // intercept + coefs + sigma
    val ll = -0.5 * n * (math.log(2 * math.Pi * sigma2) + 1)
    val aic = 2 * k - 2 * ll
    Some(Fit(p, d, beta(0), beta.toArray.drop(1), sigma2, aic, n,
      season, seasonal))
  }

  /** OLS AR(p) on a (stationary) series. */
  def fitArP(x: Array[Double], p: Int, d: Int): Option[Fit] =
    fitLags(x, p, d, Array.empty, 0)

  /** ARMA(p, q) via Hannan-Rissanen two-stage least squares — the
    * MA-term stand-in for statsmodels' SARIMAX MLE (sarimax.py:431-707):
    * stage 1 fits a long AR to proxy the innovations, stage 2 regresses
    * x_t on AR lags (1..p, + seasonal) and the lagged stage-1 residuals
    * (1..q). Consistent for invertible ARMA; no iterative likelihood. */
  /** Stage-1 long-AR innovation proxies for Hannan-Rissanen: e_t = 0 for
    * t < long, OLS one-step residuals after. */
  private[forecast] def hrInnovations(x: Array[Double], long: Int): Option[Array[Double]] = {
    if (long < 1) return None
    val stage1 = fitLags(x, long, 0, Array.empty, 0).getOrElse(return None)
    val e = new Array[Double](x.length)
    (long until x.length).foreach { t =>
      val pred = stage1.intercept +
        (1 to long).map(l => stage1.coefs(l - 1) * x(t - l)).sum
      e(t) = x(t) - pred
    }
    Some(e)
  }

  private def fitArma(x: Array[Double], p: Int, maLags: Array[Int], d: Int,
      seasonal: Array[Int], season: Int, e: Array[Double], burn: Int): Option[Fit] = {
    if (maLags.isEmpty) return fitLags(x, p, d, seasonal, season, burn)
    val arLags = ((1 to p) ++ seasonal).distinct.sorted.toArray
    val q = maLags.length
    val start = math.max(arLags.max, burn) // burn >= long + max maLag by contract
    val n = x.length - start
    if (n <= arLags.length + q + 2) return None
    val y = DenseVector(x.drop(start))
    val k = arLags.length + q + 1
    val xm = DenseMatrix.zeros[Double](n, k)
    (0 until n).foreach { i =>
      val t = start + i
      xm(i, 0) = 1.0
      arLags.zipWithIndex.foreach { case (l, j) => xm(i, j + 1) = x(t - l) }
      maLags.zipWithIndex.foreach { case (l, j) => xm(i, arLags.length + 1 + j) = e(t - l) }
    }
    val beta = LinAlg.solveSpd(xm.t * xm, xm.t * y)
    val resid = y - xm * beta
    val sigma2 = math.max(1e-12, (resid.t * resid) / n.toDouble)
    val kAic = k + 1.0 // + sigma
    val ll = -0.5 * n * (math.log(2 * math.Pi * sigma2) + 1)
    val aic = 2 * kAic - 2 * ll
    Some(Fit(p, d, beta(0), beta.toArray.slice(1, arLags.length + 1),
      sigma2, aic, n, season, seasonal,
      beta.toArray.slice(arLags.length + 1, k), maLags = maLags))
  }

  /** Conditional-sum-of-squares refinement (R `arima` method="CSS"
    * shape — the iterative-likelihood step statsmodels' SARIMAX runs
    * after its own start-params stage): Nelder-Mead over (intercept,
    * AR+seasonal coefs, MA coefs) minimizing one-step-ahead squared
    * innovations, seeded by the Hannan-Rissanen/OLS estimates. Only
    * used when MA terms exist — for pure AR the OLS solution already
    * minimizes the CSS exactly. Non-invertible MA explodes the
    * innovation recursion and is rejected by the objective itself. */
  private def cssRefine(x: Array[Double], fit0: Fit): Fit = {
    val maLags = fit0.maLags
    val q = maLags.length
    if (q == 0) return fit0
    val lags = ((1 to fit0.p) ++ fit0.seasonalLags).distinct.sorted.toArray
    val nPar = 1 + lags.length + q
    val t0 = math.max(if (lags.isEmpty) 0 else lags.max, maLags.max)
    val nEff = x.length - t0
    if (nEff < nPar + 2) return fit0
    def css(par: Array[Double]): Double = {
      val e = new Array[Double](x.length)
      var ss = 0.0
      var t = t0
      while (t < x.length) {
        var pred = par(0)
        var j = 0
        while (j < lags.length) { pred += par(1 + j) * x(t - lags(j)); j += 1 }
        j = 0
        while (j < q) { pred += par(1 + lags.length + j) * e(t - maLags(j)); j += 1 }
        val err = x(t) - pred
        e(t) = err
        ss += err * err
        t += 1
      }
      if (ss.isNaN || ss.isInfinite) 1e100 else ss
    }
    val start = Array(fit0.intercept) ++ fit0.coefs ++ fit0.maCoefs
    val (best, ssBest, _) = LinAlg.nelderMead(css, start, maxIter = 500)
    val sigma2 = math.max(1e-12, ssBest / nEff)
    val k = nPar + 1.0
    val ll = -0.5 * nEff * (math.log(2 * math.Pi * sigma2) + 1)
    fit0.copy(intercept = best(0),
      coefs = best.slice(1, 1 + lags.length),
      maCoefs = best.slice(1 + lags.length, nPar),
      sigma2 = sigma2, aic = 2 * k - 2 * ll, n = nEff)
  }

  /** Exact state-space MLE refinement ([[Kalman.armaLoglik]]): maximize
    * the exact Gaussian likelihood over (mean, AR coefs, MA coefs) with
    * Nelder-Mead seeded by the CSS/HR estimates — the full statsmodels
    * `SARIMAX.fit()` objective (sarimax.py:431-707). Non-stationary
    * proposals get -inf from the filter itself, which keeps the search
    * inside the stationary region. Falls back to the seed fit when the
    * filter rejects it or the likelihood does not improve. */
  def mleRefine(x: Array[Double], fit0: Fit, maxIter: Int = 400): Fit = {
    val lags = ((1 to fit0.p) ++ fit0.seasonalLags).distinct.sorted.toArray
    if (lags.isEmpty && fit0.maLags.isEmpty) return fit0
    val nAr = lags.length
    val nMa = fit0.maLags.length
    val phiSum = fit0.coefs.sum
    val mu0 = if (math.abs(1 - phiSum) > 1e-8) fit0.intercept / (1 - phiSum)
      else x.sum / math.max(x.length, 1)
    def objective(par: Array[Double]): Double = {
      val z = x.map(_ - par(0))
      Kalman.loglikSparse(z, lags, par.slice(1, 1 + nAr),
          fit0.maLags, par.slice(1 + nAr, 1 + nAr + nMa)) match {
        case Some((ll, _)) => -ll
        case None => 1e100
      }
    }
    val start = Array(mu0) ++ fit0.coefs ++ fit0.maCoefs
    if (objective(start) >= 1e100) return fit0 // seed outside stationary region
    val (best, negLl, _) = LinAlg.nelderMead(objective, start, maxIter = maxIter)
    if (negLl >= 1e100) return fit0
    val ll = -negLl
    val phi = best.slice(1, 1 + nAr)
    val sigma2 = Kalman.loglikSparse(x.map(_ - best(0)), lags, phi,
      fit0.maLags, best.slice(1 + nAr, 1 + nAr + nMa)).map(_._2)
      .getOrElse(return fit0)
    val k = 1.0 + nAr + nMa + 1.0 // mean + coefs + sigma
    fit0.copy(intercept = best(0) * (1 - phi.sum), coefs = phi,
      maCoefs = best.slice(1 + nAr, 1 + nAr + nMa),
      sigma2 = sigma2, aic = 2 * k - 2 * ll, n = x.length)
  }

  /** AIC grid over p=1..maxP at the chosen d, each also tried with
    * detected seasonal lags (s, 2s); drift-model fallback when every
    * candidate fails (the reference's fallback ladder shape).
    *
    * `warm` = a learned (p, d) order (ForecastCache's order cache): the
    * order grid is SKIPPED and only the suggested p at the suggested d
    * is fit (still trying the seasonal-lag variants — they are 3 cheap
    * OLS solves, not a grid). Mirrors the reference's should_skip_grid
    * warm-start (order_learner.py); falls back to the full grid when
    * the warm order cannot be fit on this sample. */
  def fit(series: Array[Double], maxP: Int = 5,
      warm: Option[(Int, Int)] = None, maxQ: Int = 0,
      exactMle: Boolean = false): Fit = {
    val d = warm.map(_._2).getOrElse(chooseD(series))
    val x0 = difference(series, d)
    val season = detectSeason(x0)
    // seasonal difference (the D of (P,D,Q,s)) when the seasonal lag
    // still dominates after regular differencing
    val ds = if (season > 0) chooseSeasonalD(x0, season) else 0
    val x = if (ds == 1) seasonalDifference(x0, season) else x0
    val seasonalSets: Seq[Array[Int]] =
      if (season == 0) Seq(Array.empty[Int])
      else Seq(Array.empty[Int], Array(season), Array(season, 2 * season))
    val grid: Seq[Int] = warm match {
      case Some((p, _)) if p >= 1 && p <= x.length / 4 => Seq(p)
      case _ => 1 to math.min(maxP, x.length / 4)
    }
    // one shared long-AR innovation pass + a common burn-in so every
    // (p, q, seasonal) candidate is scored on the SAME sample span —
    // AIC across different spans is not comparable
    val long = math.min(math.max(10, 2 * (maxP + maxQ)), x.length / 4)
    val e = if (maxQ > 0) hrInnovations(x, long) else None
    val effQ = if (e.isDefined) maxQ else 0
    // MA lag sets: consecutive 1..q, plus seasonal-MA variants
    // ((1..q) :+ s — the Q of (P,D,Q,s)) when the sample can afford the
    // longer burn-in
    val seasonalMaOk = effQ > 0 && season > 0 && x.length >= 4 * season
    val maSets: Seq[Array[Int]] =
      (0 to effQ).map(q => (1 to q).toArray) ++
        (if (seasonalMaOk) (0 to math.min(effQ, 1)).map(q => (1 to q).toArray :+ season)
         else Seq.empty)
    val maxMaLag = maSets.map(s => if (s.isEmpty) 0 else s.max).max
    // the burn-in must cover the largest lag ANY candidate uses — AR grid,
    // seasonal AR lags (2s can exceed long + maxMaLag), and MA innovation
    // lags — or candidates silently fit on different spans again
    val maxArLag = math.max(grid.max,
      seasonalSets.map(s => if (s.isEmpty) 0 else s.max).max)
    val burn = math.max(if (effQ > 0) long + maxMaLag else 0, maxArLag)
    val candidates = for {
      p <- grid
      ml <- maSets
      sl <- seasonalSets
      f <- fitArma(x, p, ml, d, sl, if (sl.isEmpty) 0 else season,
        e.getOrElse(Array.empty), burn)
    } yield f
    if (warm.isDefined && candidates.isEmpty)
      return fit(series, maxP, None, maxQ, exactMle)
    // refinement ladder: HR/OLS seed -> CSS -> (opt-in) exact MLE. The
    // exact pass RE-RANKS the top 3 OLS/HR candidates by exact-MLE AIC —
    // the Kalman likelihood uses every observation for every candidate,
    // so unlike the OLS/CSS approximations its AIC is same-span by
    // construction and can safely arbitrate between nearby orders.
    val chosen = (
      if (exactMle) {
        val refined = candidates.sortBy(_.aic).take(3)
          .map(f => mleRefine(x, cssRefine(x, f)))
        // Only exact-MLE AICs are mutually comparable (every observation,
        // one likelihood definition). A mleRefine FALLBACK returns its CSS
        // seed, whose AIC spans n - t0 observations with a per-candidate
        // t0 — ranking those against exact AICs can pick the wrong order.
        // Exact fits are recognizable by n == x.length (CSS always loses
        // t0 >= 1 warm-up rows); when every candidate fell back, keep the
        // head of the same-span HR-AIC order instead of re-ranking.
        val exact = refined.filter(_.n == x.length)
        if (exact.nonEmpty) exact.sortBy(_.aic).headOption
        else refined.headOption
      }
      else candidates.sortBy(_.aic).headOption.map(cssRefine(x, _))
    ).getOrElse {
      val mean = if (x.isEmpty) 0.0 else x.sum / x.length
      val v = if (x.length > 1) x.map(e => (e - mean) * (e - mean)).sum / (x.length - 1) else 1e-8
      Fit(0, d, mean, Array.empty, math.max(v, 1e-12), Double.MaxValue, x.length)
    }
    chosen.copy(ds = ds, dsSeason = if (ds == 1) season else 0)
  }

  /** Recursive h-step forecast on the ORIGINAL scale, with normal CIs
    * whose width grows with cumulative forecast variance. */
  def forecast(series: Array[Double], fit: Fit, horizon: Int, z: Double = 1.959963984540054)
      : (Array[Double], Array[Double], Array[Double]) = {
    val y = difference(series, fit.d)
    val x = if (fit.ds > 0) seasonalDifference(y, fit.dsSeason) else y
    val hist = scala.collection.mutable.ArrayBuffer(x.toSeq: _*)
    val lags = ((1 to fit.p) ++ fit.seasonalLags).distinct.sorted
    val maLags = if (fit.maLags.nonEmpty) fit.maLags
      else Array.tabulate(fit.maCoefs.length)(_ + 1) // legacy 1..q
    val q = fit.maCoefs.length
    // in-sample innovations for the MA terms (zeros for the warm-up and
    // for future steps — the h-step MA contribution dies after max(maLags))
    val e = new Array[Double](x.length + horizon)
    if (q > 0) {
      val t0 = math.max(if (lags.nonEmpty) lags.max else 0, maLags.max)
      (t0 until x.length).foreach { t =>
        val pred = fit.intercept +
          fit.coefs.zip(lags).map { case (c, l) => c * x(t - l) }.sum +
          fit.maCoefs.zip(maLags).map { case (th, l) => th * e(t - l) }.sum
        e(t) = x(t) - pred
      }
    }
    val diffPreds = (1 to horizon).map { h =>
      val t = x.length + h - 1
      val pred = fit.intercept + fit.coefs.zip(lags).map { case (c, l) =>
        c * hist(hist.length - l)
      }.sum +
        (if (q > 0) fit.maCoefs.zip(maLags).map { case (th, l) =>
          th * e(t - l)
        }.sum else 0.0)
      hist += pred
      pred
    }.toArray
    // invert the seasonal difference first: ŷ_h = ẑ_h + y_{T+h-s}
    val yPreds =
      if (fit.ds == 0) diffPreds
      else {
        val s = fit.dsSeason
        val yh = scala.collection.mutable.ArrayBuffer(y.toSeq: _*)
        diffPreds.map { zp =>
          val yp = zp + yh(yh.length - s)
          yh += yp
          yp
        }
      }
    // integrate back to levels
    val levels = new Array[Double](horizon)
    var lastLevel = series.last
    yPreds.zipWithIndex.foreach { case (dp, i) =>
      lastLevel = if (fit.d == 0) dp else lastLevel + dp
      levels(i) = lastLevel
    }
    // cumulative variance widening when any differencing happened
    val se = (1 to horizon).map { h =>
      if (fit.d == 0 && fit.ds == 0) math.sqrt(fit.sigma2)
      else math.sqrt(fit.sigma2 * h)
    }.toArray
    (levels, levels.zip(se).map { case (m, s) => m - z * s },
      levels.zip(se).map { case (m, s) => m + z * s })
  }
}
