package graft.forecast

/** MSSA-RL forecasting strategy selection — rebuild of /root/reference/
  * forcester_ts/mssa_rl.py:477-1069: SSA backbone + CUSUM change-point
  * detection (:616-649), discretized residual states (:653-665), a
  * static offline Q-table policy (:666-793 loads a JSON artifact; here a
  * typed Map with the same (state → action) semantics), and the
  * action → forecast strategy dispatch (:794-915).
  */
object MssaRl {

  /** Two-sided CUSUM change-point detector. The baseline (mean, σ) is
    * calibrated on the first `calib` samples of the CURRENT segment and
    * re-baselined after every alarm — normalizing against the global
    * mean would make both regimes of a genuine break alarm forever. */
  def cusum(x: Array[Double], threshold: Double = 8.0, k: Double = 0.5,
      calib: Int = 30): Seq[Int] = {
    if (x.length < calib + 2) return Seq.empty
    val out = scala.collection.mutable.ArrayBuffer.empty[Int]
    var segStart = 0
    var n = 0L; var mean = 0.0; var m2 = 0.0 // Welford baseline
    var hi = 0.0; var lo = 0.0
    var i = 0
    while (i < x.length) {
      val v = x(i)
      if (i - segStart < calib) {
        n += 1
        val d = v - mean
        mean += d / n
        m2 += d * (v - mean)
      } else {
        val sd = math.max(1e-12, math.sqrt(m2 / math.max(1L, n - 1)))
        val z = (v - mean) / sd
        hi = math.max(0.0, hi + z - k)
        lo = math.min(0.0, lo + z + k)
        if (hi > threshold || lo < -threshold) {
          out += i
          segStart = i
          n = 0; mean = 0.0; m2 = 0.0; hi = 0.0; lo = 0.0
        }
      }
      i += 1
    }
    out.toSeq
  }

  sealed trait Action
  case object TrustSsa extends Action
  case object BlendDrift extends Action
  case object FallbackNaive extends Action

  /** State: (volatility tercile 0-2, |residual| tercile 0-2, recent
    * change-point flag). */
  final case class State(volBucket: Int, residBucket: Int, recentBreak: Boolean)

  /** Default offline policy — the artifact the reference ships as
    * models/mssa_rl_policy.v1.json, expressed as data. */
  val defaultPolicy: Map[State, Action] = (for {
    v <- 0 to 2; r <- 0 to 2; b <- Seq(false, true)
  } yield State(v, r, b) -> ((v, r, b) match {
    case (_, _, true) => FallbackNaive      // just broke: trust nothing
    case (2, _, _) => BlendDrift            // high vol: damp the model
    case (_, 2, _) => BlendDrift            // big residuals: damp
    case _ => TrustSsa
  })).toMap

  private def tercile(v: Double, sorted: Array[Double]): Int = {
    if (sorted.isEmpty) return 0
    val a = sorted(sorted.length / 3)
    val b = sorted(2 * sorted.length / 3)
    if (v <= a) 0 else if (v <= b) 1 else 2
  }

  /** Classify the current state from the series and SSA residuals. */
  def currentState(prices: Array[Double], residuals: Array[Double],
      breakLookback: Int = 20): State = {
    val rets = prices.sliding(2).map(a => a(1) / a(0) - 1).toArray
    val vols = rets.sliding(10).map(w => {
      val m = w.sum / w.length
      math.sqrt(w.map(v => (v - m) * (v - m)).sum / math.max(1, w.length - 1))
    }).toArray
    val volB = tercile(vols.last, vols.sorted)
    val absRes = residuals.map(math.abs)
    val resB = tercile(absRes.last, absRes.sorted)
    val breaks = cusum(residuals)
    State(volB, resB, breaks.exists(_ >= residuals.length - breakLookback))
  }

  /** Policy-dispatched forecast. The state's residuals and the SSA
    * forecast come from one decomposition of `prices`. */
  def forecast(prices: Array[Double], horizon: Int, ssaWindow: Int = 30,
      policy: Map[State, Action] = defaultPolicy): (Array[Double], Action) = {
    val (dec, ssaForecast) =
      Ssa.decomposeWithForecast(prices, math.min(ssaWindow, prices.length / 2))
    val resid = prices.zip(dec.reconstruction).map { case (a, b) => a - b }
    val state = currentState(prices, resid)
    val action = policy.getOrElse(state, FallbackNaive)
    val naive = Array.fill(horizon)(prices.last)
    val fc = action match {
      case TrustSsa => ssaForecast(horizon)
      case BlendDrift =>
        ssaForecast(horizon).zip(naive).map { case (s, n) => 0.5 * s + 0.5 * n }
      case FallbackNaive => naive
    }
    (fc, action)
  }
}
