package graft.forecast

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._

/** The per-ticker forecasting orchestrator — Spark shape of the
  * reference's TimeSeriesForecaster (/root/reference/forcester_ts/
  * forecaster.py:88-3259): regime detect → per-model fit with failure
  * isolation → per-model forecast → confidence-weighted ensemble blend.
  *
  * Scale design: one `groupByKey(ticker).flatMapGroups` — every ticker's
  * fit runs as an independent task-side pure function (the only correct
  * topology for sequential model fits), so the fleet of tickers is the
  * parallelism axis. No driver-side loops, no collect.
  */
object ForecastEngine {

  final case class Config(
      horizon: Int = 10,
      arMaxP: Int = 5,
      arMaxQ: Int = 1,
      // exact state-space MLE refinement after CSS (Kalman likelihood);
      // off by default: CSS is grid-friendly, MLE is the polish tier
      arExactMle: Boolean = false,
      ssaWindow: Int = 30,
      mcPaths: Int = 500,
      seed: Long = 42L)

  final case class TickerForecast(
      ticker: String,
      regime: String,
      model: String,
      weight: Double,
      horizonStep: Int,
      forecast: Double,
      lowerCi: Double,
      upperCi: Double,
      vol: Double,
      probUp: Double)

  /** Per-ticker fit detail for the snapshot/order caches: the blended
    * rows plus the chosen AR order and detected regime. */
  final case class FitDetail(rows: Seq[TickerForecast], regime: String,
      p: Int, d: Int, aic: Double)

  /** Pure per-ticker kernel: prices (time-ordered) → payloads + blend. */
  def forecastOne(ticker: String, prices: Array[Double], cfg: Config)
      : Seq[TickerForecast] =
    forecastOneDetailed(ticker, prices, cfg, warm = None).rows

  /** [[forecastOne]] plus order/regime detail; `warm` short-circuits the
    * AR order grid (the order learned for (ticker, regime), from
    * [[ForecastCache.warmStartsFor]]). */
  def forecastOneDetailed(ticker: String, prices: Array[Double], cfg: Config,
      warm: Option[(Int, Int)]): FitDetail = {
    if (prices.length < 40) return FitDetail(Seq.empty, "UNKNOWN", 0, 0, 0.0)
    val rets = prices.sliding(2).map(a => a(1) / a(0) - 1).toArray
    val regime = RegimeDetector.detect(prices)

    def attempt[T](f: => T): Option[T] =
      try Some(f) catch { case _: Exception => None } // failure isolation per model

    def fitAr(px: Array[Double]) =
      attempt(Ar.fit(px, cfg.arMaxP, warm, cfg.arMaxQ, cfg.arExactMle))

    // `ar` is the AR arm's point forecast of `px` over `horizon`
    def runModels(px: Array[Double], horizon: Int,
        ar: Option[Array[Double]]): Map[String, Array[Double]] = Seq(
      "AR" -> ar,
      "SSA" -> (if (px.length > cfg.ssaWindow * 2)
        attempt(Ssa.forecast(px, horizon, cfg.ssaWindow)) else None),
      "NAIVE_DRIFT" -> Some {
        val drift = (px.last - px.head) / (px.length - 1)
        Array.tabulate(horizon)(h => px.last + drift * (h + 1))
      }).collect { case (m, Some(f)) if f.forall(v => !v.isNaN && !v.isInfinite) => m -> f }
      .toMap

    val arFit = fitAr(prices)
    val arFc = arFit.map(f => Ar.forecast(prices, f, cfg.horizon))
    val garchFit = attempt(Garch.fit(rets))
    val volFc = garchFit.map(g => Garch.forecastVol(rets, g, cfg.horizon))
      .getOrElse(Ewma.forecastVol(rets, cfg.horizon))

    val forecasts = runModels(prices, cfg.horizon, arFc.map(_._1))

    // Confidence from a trailing out-of-sample backtest vs the random-walk
    // baseline (the reference's relative-RMSE score + OOS trailing gate,
    // ensemble.py:551-561, forecaster.py:2751-3044): refit each model on
    // the train prefix, evaluate on the held-out tail.
    val evalH = math.min(cfg.horizon, math.max(3, prices.length / 20))
    val (confidence, daScores): (Map[String, Double], Map[String, Double]) = {
      val fitPart = prices.dropRight(evalH)
      val actual = prices.takeRight(evalH)
      if (fitPart.length < 40)
        (forecasts.map { case (m, _) => m -> 0.5 }, Map.empty[String, Double])
      else {
        def rmse(pred: Array[Double]): Double = math.sqrt(
          pred.zip(actual).map { case (p, a) => (p - a) * (p - a) }.sum / actual.length)
        // 1-step directional accuracy vs the realized path (metrics.py
        // sign-match; feeds the ensemble's DA candidate + cap)
        val prev = fitPart.last +: actual.dropRight(1)
        def da(pred: Array[Double]): Double =
          pred.indices.count(i =>
            math.signum(pred(i) - prev(i)) == math.signum(actual(i) - prev(i))
          ).toDouble / pred.length
        val rw = rmse(Array.fill(evalH)(fitPart.last))
        val oos = runModels(fitPart, evalH,
          fitAr(fitPart).map(f => Ar.forecast(fitPart, f, evalH)._1))
        (oos.map { case (m, pred) =>
          m -> rw / (rmse(pred) + rw + 1e-12) // 0.5 = ties RW, >0.5 beats it
        }.withDefaultValue(0.25),
          oos.map { case (m, pred) => m -> da(pred) })
      }
    }
    val candidates = Seq(
      Ensemble.Candidate("ar_heavy", Map("AR" -> 0.7, "SSA" -> 0.2, "NAIVE_DRIFT" -> 0.1)),
      Ensemble.Candidate("balanced", Map("AR" -> 0.4, "SSA" -> 0.4, "NAIVE_DRIFT" -> 0.2)),
      Ensemble.Candidate("ar_only", Map("AR" -> 1.0)),
      Ensemble.Candidate("ssa_only", Map("SSA" -> 1.0)))
      .map(c => c.copy(weights = c.weights.filter(kv => forecasts.contains(kv._1))))
      .filter(_.weights.nonEmpty)
    // regime-specific candidate sets (config regime_candidate_weights):
    // CRISIS prunes to defensive blends — the reference's regime-based
    // candidate pruning perf/safety switch
    val regimeCandidates = Map(
      "CRISIS" -> (Seq(
        Ensemble.Candidate("defensive", Map("NAIVE_DRIFT" -> 0.5, "SSA" -> 0.5)),
        Ensemble.Candidate("drift_only", Map("NAIVE_DRIFT" -> 1.0)))
        .map(c => c.copy(weights = c.weights.filter(kv => forecasts.contains(kv._1))))
        .filter(_.weights.nonEmpty)))
    val fullConfidence = forecasts.keys.map(m =>
      m -> confidence.getOrElse(m, 0.25)).toMap
    val selected = Ensemble.selectFull(candidates, fullConfidence,
      da = daScores, regime = regime.regime, regimeCandidates = regimeCandidates)
      .getOrElse(Ensemble.select(candidates, fullConfidence))
    val blended = Ensemble.blend(forecasts, selected.candidate.weights)

    val mc = MonteCarlo.simulate(prices.last, blended, volFc,
      nPaths = cfg.mcPaths, seed = cfg.seed ^ ticker.hashCode.toLong)

    val perModel = forecasts.toSeq.flatMap { case (m, f) =>
      val w = selected.candidate.weights.getOrElse(m, 0.0)
      val (lo, hi) = m match {
        case "AR" => (arFc.get._2, arFc.get._3)
        case _ => (f.zip(volFc).map { case (x, v) => x * (1 - 1.96 * v) },
          f.zip(volFc).map { case (x, v) => x * (1 + 1.96 * v) })
      }
      (0 until cfg.horizon).map(h => TickerForecast(ticker, regime.regime, m, w,
        h + 1, f(h), lo(h), hi(h), volFc(h), mc.probUp))
    }
    val ensembleRows = (0 until cfg.horizon).map(h =>
      TickerForecast(ticker, regime.regime, "ENSEMBLE", 1.0, h + 1, blended(h),
        mc.p05(h), mc.p95(h), volFc(h), mc.probUp))
    FitDetail(perModel ++ ensembleRows, regime.regime,
      arFit.map(_.p).getOrElse(0), arFit.map(_.d).getOrElse(0),
      arFit.map(_.aic).getOrElse(0.0))
  }

  /** Distributed API: bar frame (ticker, date, close) → forecast rows. */
  def fitForecast(bars: DataFrame, cfg: Config = Config()): Dataset[TickerForecast] = {
    val spark = bars.sparkSession
    import spark.implicits._
    bars.select(col("ticker").as[String], col("date").cast("long").as[Long],
        col("close").as[Double])
      .groupByKey(_._1)
      .flatMapGroups { (ticker, rows) =>
        val prices = rows.toArray.sortBy(_._2).map(_._3)
        forecastOne(ticker, prices, cfg).iterator
      }
  }
}
