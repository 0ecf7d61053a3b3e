package graft.pipeline

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.exec.PortfolioEngine
import graft.forecast.ForecastEngine
import graft.signals.{QuantGate, SignalGenerator}

/** The trading cycle loop — rebuild of /root/reference/scripts/
  * run_auto_trader.py:3876-4200: per cycle, prepare a lookback market
  * window → forecast per ticker → generate signals → execute through the
  * FIFO engine → persist fills + mark-to-market. The reference's
  * same-bar gate (:3970-3990) holds per ticker: a cycle that brings a
  * ticker no new bar (no bar on its cutoff date) gives it no signal.
  *
  * Batch shape (daily bars): one per-ticker pass over the bars. Each
  * ticker's bars are shuffled once and sorted once; cycle c's history is
  * the prefix up to cutoff c, and the FIFO engine folds the ticker's
  * signals in the same task. The streaming variant of the same state
  * machine is graft.streaming.LiveCycle (flatMapGroupsWithState).
  */
object AutoTrader {

  final case class CycleResult(cycle: Int, nSignals: Long, nBuys: Long,
      nSells: Long, nFills: Long, realizedPnl: Double)

  /** Operating-mode routing (reference config/risk_mode.yml via
    * run_auto_trader's active-mode plumbing): each mode carries the
    * engine sizing preset (position cap / short cap / sizing floor —
    * [[PortfolioEngine.RiskMode]]) PLUS the `min_signal_confidence`
    * ENTRY GATE (risk_mode.yml:32/:76/:120) — a BUY/SELL below the
    * mode's threshold is held before it ever reaches the engine, which
    * is a different knob from the sizing floor (that LIFTS the weight
    * of signals that already passed). */
  final case class RiskPolicy(name: String, minSignalConfidence: Double,
      engine: PortfolioEngine.Config => PortfolioEngine.Config) {
    /** The entry gate: a sub-threshold BUY/SELL becomes HOLD. */
    def gate(action: String, confidence: Double): String =
      if (action != "HOLD" && confidence < minSignalConfidence) "HOLD" else action
  }

  object RiskPolicy {
    val production: RiskPolicy =
      RiskPolicy("production", 0.55, PortfolioEngine.RiskMode.production(_))
    val researchProduction: RiskPolicy =
      RiskPolicy("research_production", 0.45,
        PortfolioEngine.RiskMode.researchProduction(_))
    val diagnostic: RiskPolicy =
      RiskPolicy("diagnostic", 0.10, PortfolioEngine.RiskMode.diagnostic(_))
    def named(n: String): RiskPolicy = n match {
      case "production" => production
      case "research_production" => researchProduction
      case "diagnostic" => diagnostic
      case other => throw new IllegalArgumentException(s"unknown risk mode: $other")
    }
  }

  /** Run `cycles` cycles over the bar table: cycle c sees bars up to
    * (maxDate - cycles + c) and trades on the signal at that bar. Leaves
    * nothing cached. */
  def run(spark: SparkSession, bars: DataFrame, cycles: Int,
      fcCfg: ForecastEngine.Config = ForecastEngine.Config(horizon = 5, mcPaths = 100),
      sigCfg: SignalGenerator.Config = SignalGenerator.Config(),
      engineCfg: PortfolioEngine.Config = PortfolioEngine.Config(),
      gateCfg: Option[QuantGate.Config] = Some(QuantGate.Config()),
      riskMode: Option[RiskPolicy] = None): Seq[CycleResult] = {
    val (results, fills) = runDetailed(spark, bars, cycles, fcCfg, sigCfg, engineCfg,
      gateCfg, riskMode)
    fills.unpersist()
    results
  }

  /** [[run]] plus the fill table itself — the streaming cycle
    * ([[graft.streaming.LiveCycle]]) specs fill-for-fill parity against
    * these rows, not just the per-cycle aggregates. The returned fills
    * frame is cached (and materialized), so reading it runs no forecast
    * again; the caller owns that cache entry and may `unpersist` it. The
    * pass's own cache is released before this returns. */
  def runDetailed(spark: SparkSession, bars: DataFrame, cycles: Int,
      fcCfg: ForecastEngine.Config = ForecastEngine.Config(horizon = 5, mcPaths = 100),
      sigCfg: SignalGenerator.Config = SignalGenerator.Config(),
      engineCfg: PortfolioEngine.Config = PortfolioEngine.Config(),
      gateCfg: Option[QuantGate.Config] = Some(QuantGate.Config()),
      riskMode: Option[RiskPolicy] = None): (Seq[CycleResult], DataFrame) = {
    import spark.implicits._
    // driver collect of the DATE DIMENSION only (distinct daily dates —
    // thousands of entries for decades of history, independent of the
    // ticker × row fact volume); bounded inside the shared helper
    val dates = graft.etl.Splitter.distinctDates(bars)
    require(dates.length > cycles + 60, "not enough history for the lookback window")
    val cutoffs = dates.takeRight(cycles)
    // a fill's cycle is the cutoff its bar-date is (-1: no cycle's)
    val cycleOf = cutoffs.zipWithIndex.toMap
    val effectiveEngineCfg = riskMode.fold(engineCfg)(_.engine(engineCfg))

    // ONE pass per ticker, each bar shuffled once: cycle c's history is
    // the prefix of the ticker's sorted bars up to cutoff c, and the
    // engine folds the ticker's signals in the same task
    val pass = bars.select(col("ticker"), col("date"), col("close"),
        col("high"), col("low"))
      .as[(String, java.sql.Timestamp, Double, Double, Double)]
      .groupByKey(_._1)
      .flatMapGroups { (ticker, rows) =>
        // same (ms, nanos, close) order as LiveCycle.barKey so tied
        // timestamps resolve identically in batch and stream; a null
        // date is at or before no cutoff
        val arr = rows.filter(_._2 != null).toArray
          .sortBy(r => (r._2.getTime, r._2.getNanos, r._3))
          .map(r => (r._2, r._3, r._4, r._5))
        val out = Seq.newBuilder[PassRow]
        val events = Seq.newBuilder[PortfolioEngine.Event]
        var n = 0
        cutoffs.indices.foreach { c =>
          val seen = n
          while (n < arr.length && !arr(n)._1.after(cutoffs(c))) n += 1
          // same-bar gate: a cycle that brings the ticker no new bar
          // trades nothing, as LiveCycle drops a repeated bar
          if (n > seen)
            signalForHistory(ticker, arr.take(n), fcCfg, sigCfg, gateCfg, engineCfg)
              .foreach { case (ts, price, action0, conf, atr) =>
                val action = riskMode.fold(action0)(_.gate(action0, conf))
                out += PassRow(c, isFill = false, ticker, ts, 0L, action, 0.0,
                  price, isClose = false, -1L, 0.0, "", isSynthetic = false, "")
                events += PortfolioEngine.Event(ticker, ts, price, action, conf,
                  isSynthetic = false, atr = atr)
              }
        }
        // the engine is stateful across cycles: it folds the ticker's
        // signals in time order once, the ATR snapshot arming its
        // trailing ratchet
        PortfolioEngine.runTicker(events.result().sortBy(PortfolioEngine.eventKey),
            effectiveEngineCfg).foreach { f =>
          out += PassRow(cycleOf.getOrElse(f.ts, -1), isFill = true, f.ticker, f.ts,
            f.tradeId, f.action, f.quantity, f.price, f.isClose, f.entryTradeId,
            f.pnl, f.exitReason, f.isSynthetic, f.side)
        }
        out.result().iterator
      }
      .cache()

    // driver collect of ONE AGGREGATE ROW PER CYCLE: the signal census
    // and the fills' count and realized P&L, bounded by `cycles`
    val signal = !col("isFill")
    val byCycle = pass.groupBy(col("cycle")).agg(
        count(when(signal, 1)),
        count(when(signal && col("action") === "BUY", 1)),
        count(when(signal && col("action") === "SELL", 1)),
        count(when(col("isFill"), 1)),
        sum(when(col("isFill") && col("isClose"), col("pnl")).otherwise(0.0)))
      .as[(Int, Long, Long, Long, Long, Double)].collect()
      .map(r => r._1 -> CycleResult(r._1, r._2, r._3, r._4, r._5, r._6)).toMap
    val fills = pass.where(col("isFill")).drop("cycle", "isFill").cache()
    fills.write.format("noop").mode("overwrite").save()
    // fills is materialized: nothing reads the pass's cache any more
    pass.unpersist()

    val resultsSeq = (0 until cycles).map(c =>
      byCycle.getOrElse(c, CycleResult(c, 0L, 0L, 0L, 0L, 0.0)))
    (resultsSeq, fills)
  }

  /** One row out of [[runDetailed]]'s per-ticker pass: a signal (its cycle
    * and gated action) or a fill (its cycle, -1 for none, and the
    * [[PortfolioEngine.ExecRow]] columns in order). */
  private[pipeline] final case class PassRow(cycle: Int, isFill: Boolean,
      ticker: String, ts: java.sql.Timestamp, tradeId: Long, action: String,
      quantity: Double, price: Double, isClose: Boolean, entryTradeId: Long,
      pnl: Double, exitReason: String, isSynthetic: Boolean, side: String)

  /** One trade decision for a ticker given its full bar history
    * ((ts, close, high, low), ascending) — the forecast → signal →
    * quant-gate slice of the cycle, shared VERBATIM by the batch loop
    * above and the streaming cycle ([[graft.streaming.LiveCycle]]) so
    * the two modes cannot drift. Returns None when the forecaster
    * declines the bucket (too little history), exactly like the batch
    * loop's empty iterator: the engine never sees that bar.
    * Output: (ts, price, action, confidence, atr snapshot). */
  def signalForHistory(ticker: String,
      arr: Array[(java.sql.Timestamp, Double, Double, Double)],
      fcCfg: ForecastEngine.Config, sigCfg: SignalGenerator.Config,
      gateCfg: Option[QuantGate.Config], engineCfg: PortfolioEngine.Config)
      : Option[(java.sql.Timestamp, Double, String, Double, Double)] = {
    val closes = arr.map(_._2)
    val atr = arr.takeRight(15).sliding(2).map { case Array(a, b) =>
      math.max(b._3 - b._4, math.max(math.abs(b._3 - a._2), math.abs(b._4 - a._2)))
    }.toArray
    val fc = ForecastEngine.forecastOne(ticker, closes, fcCfg)
      .filter(_.model == "ENSEMBLE").sortBy(_.horizonStep)
    if (fc.isEmpty) None
    else {
      val in = SignalGenerator.Inputs(ticker, arr.last._1, closes.last,
        if (atr.nonEmpty) atr.sum / atr.length else 1.0,
        fc.map(_.forecast).toArray, fc.map(_.lowerCi).toArray,
        fc.map(_.upperCi).toArray, fc.map(_.vol).toArray,
        modelAgreement = 0.8, diagnosticsScore = 0.7,
        probUp = fc.head.probUp)
      val sig0 = SignalGenerator.generate(in, sigCfg)
      // quant success-criteria hard gate over the trailing 120-bar
      // window (run_auto_trader's quant validation; lookback_days
      // default 120). The reference gates any >=2-point window; we
      // additionally let very short (<~30-bar) histories pass
      // through rather than hard-block on meaningless statistics.
      // The trade return is DIRECTION-ADJUSTED like the strategy
      // returns — a SELL profits from its negative expected move
      // (without this, expected_profit would veto every short).
      val sig = gateCfg match {
        case Some(g) if closes.length > 30 && sig0.action != "HOLD" =>
          val tail = closes.takeRight(121).map(c => math.max(c, 1e-6))
          val lr = tail.sliding(2).map(a => math.log(a(1) / a(0))).toArray
          val dir = if (sig0.action == "SELL") -1.0 else 1.0
          QuantGate(sig0, QuantGate.evaluate(lr, dir,
            positionValue = engineCfg.initialCapital * 0.1,
            netTradeReturn = dir * sig0.expectedReturn, cfg = g))
        case _ => sig0
      }
      Some((arr.last._1, closes.last, sig.action, sig.confidence, in.atr))
    }
  }
}
