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
  * same-bar gate (:3970-3990) is honored by construction: each cycle
  * consumes exactly one new bar per ticker.
  *
  * Batch shape (daily bars): a driver loop over cycles where each cycle
  * is a DataFrame job; the streaming variant of the same state machine
  * is graft.streaming.QuoteStream (mapGroupsWithState).
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
      engine: PortfolioEngine.Config => PortfolioEngine.Config)

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
    * intermediate signal cache is released before this returns. */
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

    // signals for every cycle are independent per (ticker, cycle) — one
    // distributed pass computes them all (the driver loop only sequences
    // the stateful execution below).
    val cutoffs = dates.takeRight(cycles)
    val cutoffDf = cutoffs.zipWithIndex.map { case (d, i) => (i, d) }.toSeq
      .toDF("cycle", "cutoff")
    val signals = bars.select(col("ticker"), col("date"), col("close"),
        col("high"), col("low"))
      .crossJoin(broadcast(cutoffDf))
      .where(col("date") <= col("cutoff"))
      .as[(String, java.sql.Timestamp, Double, Double, Double, Int, java.sql.Timestamp)]
      .groupByKey(r => (r._1, r._6))
      .flatMapGroups { (key, rows) =>
        val (ticker, cycle) = key
        // same (ms, nanos, close) order as LiveCycle.barKey so tied
        // timestamps resolve identically in batch and stream
        val arr = rows.toArray.sortBy(r => (r._2.getTime, r._2.getNanos, r._3))
          .map(r => (r._2, r._3, r._4, r._5))
        signalForHistory(ticker, arr, fcCfg, sigCfg, gateCfg, engineCfg)
          .map { case (ts, price, action, conf, atr) =>
            (cycle, ticker, ts, price, action, conf, atr)
          }.iterator
      }
      .toDF("cycle", "ticker", "ts", "price", "action", "confidence", "atr")
      .withColumn("isSynthetic", lit(false))
      // risk-mode entry gate: sub-threshold BUY/SELL → HOLD before the
      // engine (the sizing presets apply inside the engine config below)
      .transform { df =>
        riskMode.fold(df) { p =>
          df.withColumn("action",
            when(col("action") =!= "HOLD" &&
              col("confidence") < p.minSignalConfidence, "HOLD")
              .otherwise(col("action")))
        }
      }
      .cache()

    // execution is stateful across cycles → feed the per-ticker engine
    // the chronological signal sequence once (equivalent to replaying
    // the cycles in order) and attribute fills back to cycles. The ATR
    // snapshot rides along so the engine's trailing ratchet is armed.
    val effectiveEngineCfg = riskMode.fold(engineCfg)(_.engine(engineCfg))
    val fills = PortfolioEngine.backtest(
      signals.select("ticker", "ts", "price", "action", "confidence",
        "isSynthetic", "atr"),
      effectiveEngineCfg).cache()
    // driver collect of ONE AGGREGATE ROW PER CYCLE (the groupBy reduces
    // fills to `cycles` rows before the collect) — bounded by the cycle
    // count argument, never by fills or bars
    val fillsByCycle = fills.toDF()
      .join(cutoffDf, col("ts") === col("cutoff"), "left")
      .groupBy(col("cycle")).agg(
        count(lit(1)).as("nFills"),
        sum(when(col("isClose"), col("pnl")).otherwise(0.0)).as("pnl"))
      .collect().map(r => Option(r.get(0)).map(_.asInstanceOf[Int]).getOrElse(-1) ->
        (r.getLong(1), r.getDouble(2))).toMap

    // the per-cycle action census in ONE aggregate: at most
    // cycles × |actions| rows reach the driver
    val census = signals.groupBy(col("cycle"), col("action")).count().collect()
      .groupBy(_.getInt(0))
      .map { case (c, rows) => c -> rows.map(r => r.getString(1) -> r.getLong(2)).toMap }
    // fills is materialized (fillsByCycle read it) and the census is
    // collected: nothing reads the signal cache any more
    signals.unpersist()

    val resultsSeq = (0 until cycles).map { c =>
      val acts = census.getOrElse(c, Map.empty[String, Long])
      val (nf, pnl) = fillsByCycle.getOrElse(c, (0L, 0.0))
      CycleResult(c, acts.values.sum, acts.getOrElse("BUY", 0L),
        acts.getOrElse("SELL", 0L), nf, pnl)
    }
    (resultsSeq, fills.toDF())
  }

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
