package graft.streaming

import org.apache.spark.sql.Dataset
import org.apache.spark.sql.catalyst.util.DateTimeUtils
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

import graft.exec.PortfolioEngine
import graft.exec.PortfolioEngine.{EngineState, Event, ExecRow}
import graft.forecast.ForecastEngine
import graft.pipeline.AutoTrader
import graft.signals.{QuantGate, SignalGenerator}

/** The COMPLETE live trading cycle as one Structured Streaming pipeline:
  * bar stream → forecast → signal → quant gate → risk-mode entry gate →
  * FIFO engine → fills, the streaming form of the reference's polling
  * loop (scripts/run_auto_trader.py:3876-4200) and of
  * [[graft.pipeline.AutoTrader.run]]'s batch cycles.
  *
  * Spark permits ONE stateful operator per query, so the per-ticker
  * state object carries BOTH halves of the cycle: the rolling bar
  * history the forecaster reads (the batch loop re-derives it per cycle
  * from the bar table) and the [[EngineState]] the executor folds over.
  * The decision slice itself is [[AutoTrader.signalForHistory]] — the
  * SAME function the batch loop calls — so streaming-vs-batch parity is
  * structural, not coincidental (spec-asserted fill-for-fill anyway).
  *
  * Scale: state per ticker is O(histCap) doubles plus O(open lots) —
  * a few KB — so the state store holds the full book the same way
  * [[LivePortfolio]] does. Each micro-batch forecasts only tickers with
  * a NEW bar (one kernel call per new bar, as in the reference's
  * same-bar-gated cycle). Ordering follows [[LivePortfolio.fills]]'s
  * contract: sorted within the batch, in-order delivery across batches
  * (compose [[LivePortfolio.fillsOrdered]]'s buffer pattern if the
  * source can reorder); a bar at-or-before the ticker's last seen bar
  * is dropped — the same-bar gate (run_auto_trader.py:3970-3990).
  */
object LiveCycle {

  final case class Bar(ticker: String, ts: java.sql.Timestamp,
      close: Double, high: Double, low: Double)

  /** Total bar order: (ms, nanos, close) — the bar analog of
    * [[graft.exec.PortfolioEngine.eventKey]]. An ms-only sort leaves
    * two same-ms bars in shuffle order, so which one survives the
    * same-bar gate would differ across checkpoint replays; the close
    * tiebreak makes the survivor deterministic (and the batch loop
    * sorts by the same key, so stream/batch parity holds for tied
    * timestamps too). */
  def barKey(b: Bar): (Long, Int, Double) =
    (b.ts.getTime, b.ts.getNanos, b.close)

  /** Rolling history (ms-epoch, close, high, low) + engine state — the
    * form [[foldBars]] works on. The state store holds [[StoredCycle]]. */
  final case class CycleState(
      hist: Seq[(Long, Double, Double, Double)],
      engine: EngineState)

  /** [[CycleState]] as the state store holds it: scalar columns, and the
    * history and each side's open lots packed into binary columns
    * ([[packRows]], [[packLots]]). A Seq of tuples, a List of case classes
    * and even a primitive array decode through a collection loop
    * (MapObjects) whose generated code names fresh lambda variables on
    * every micro-batch, so every batch compiled a new state decoder; a
    * binary column decodes without one. A checkpoint written by the
    * earlier (Seq/List-of-structs) state schema cannot be restarted. */
  final case class StoredCycle(hist: Array[Byte], cash: Double, nextId: Long,
      lots: Array[Byte], shortLots: Array[Byte], entryPrice: Double,
      entryAtr: Double, stopLevel: Double, targetLevel: Double, entryBar: Int,
      barIdx: Int)

  /** (long, double, double, double) rows, 32 bytes each, bits exact. */
  private def packRows(rows: Seq[(Long, Double, Double, Double)]): Array[Byte] = {
    val b = java.nio.ByteBuffer.allocate(rows.size * 32)
    rows.foreach { case (k, x, y, z) => b.putLong(k).putDouble(x).putDouble(y).putDouble(z) }
    b.array
  }

  private def unpackRows(bytes: Array[Byte]): Vector[(Long, Double, Double, Double)] = {
    val b = java.nio.ByteBuffer.wrap(bytes)
    Vector.fill(bytes.length / 32)((b.getLong, b.getDouble, b.getDouble, b.getDouble))
  }

  /** Open lots, 29 bytes each, bits exact. */
  private def packLots(ls: List[PortfolioEngine.Lot]): Array[Byte] = {
    val b = java.nio.ByteBuffer.allocate(ls.size * 29)
    ls.foreach { l =>
      b.putLong(l.tradeId).putDouble(l.qty).putDouble(l.price).putInt(l.barIdx)
        .put(if (l.isSynthetic) 1.toByte else 0.toByte)
    }
    b.array
  }

  private def unpackLots(bytes: Array[Byte]): List[PortfolioEngine.Lot] = {
    val b = java.nio.ByteBuffer.wrap(bytes)
    List.fill(bytes.length / 29)(PortfolioEngine.Lot(b.getLong, b.getDouble,
      b.getDouble, b.getInt, b.get != 0))
  }

  private def store(st: CycleState): StoredCycle = {
    val e = st.engine
    StoredCycle(packRows(st.hist), e.cash, e.nextId, packLots(e.lots),
      packLots(e.shortLots), e.entryPrice, e.entryAtr, e.stopLevel,
      e.targetLevel, e.entryBar, e.barIdx)
  }

  private def load(s: StoredCycle): CycleState = CycleState(unpackRows(s.hist),
    EngineState(s.cash, s.nextId, unpackLots(s.lots), unpackLots(s.shortLots),
      s.entryPrice, s.entryAtr, s.stopLevel, s.targetLevel, s.entryBar, s.barIdx))

  /** Shared per-ticker fold: ordered bars through same-bar gate →
    * history append → [[AutoTrader.signalForHistory]] → risk-mode entry
    * gate → engine step. Both the in-order and the reorder-buffered
    * variants run exactly this. */
  private def foldBars(ticker: String, ordered: Seq[Bar], st0: CycleState,
      minBars: Int, histCap: Int, fcCfg: ForecastEngine.Config,
      sigCfg: SignalGenerator.Config, engineCfg: PortfolioEngine.Config,
      gateCfg: Option[QuantGate.Config],
      riskMode: Option[AutoTrader.RiskPolicy],
      effCfg: PortfolioEngine.Config): (CycleState, Seq[ExecRow]) = {
    var st = st0
    val out = Seq.newBuilder[ExecRow]
    ordered.foreach { b =>
      val lastTs = st.hist.lastOption.map(_._1).getOrElse(Long.MinValue)
      if (b.ts.getTime > lastTs) { // same-bar gate
        val hist = (st.hist :+ ((b.ts.getTime, b.close, b.high, b.low)))
          .takeRight(histCap)
        var eng = st.engine
        if (hist.length >= minBars) {
          val arr = hist.map { case (ms, c, h, l) =>
            (new java.sql.Timestamp(ms), c, h, l)
          }.toArray
          AutoTrader.signalForHistory(ticker, arr, fcCfg, sigCfg,
              gateCfg, engineCfg).foreach {
            case (ts, price, action0, conf, atr) =>
              // risk-mode entry gate, the batch loop's rule
              val action = riskMode.fold(action0)(_.gate(action0, conf))
              val (e2, fs) = PortfolioEngine.step(eng,
                Event(ticker, ts, price, action, conf,
                  isSynthetic = false, atr = atr), effCfg)
              eng = e2
              out ++= fs
          }
        }
        st = CycleState(hist, eng)
      }
    }
    (st, out.result())
  }

  /** bars (streaming) → fills. `minBars`: trade only once a ticker has
    * this much history (the batch loop's warmup: its first cycle sees
    * `dates − cycles + 1` bars). `histCap` bounds state growth; keep it
    * ≥ the forecaster's effective lookback or long-history parity with
    * an uncapped batch run decays (default 4096 daily bars ≈ 16 years).
    */
  def fills(bars: Dataset[Bar], minBars: Int,
      fcCfg: ForecastEngine.Config = ForecastEngine.Config(horizon = 5, mcPaths = 100),
      sigCfg: SignalGenerator.Config = SignalGenerator.Config(),
      engineCfg: PortfolioEngine.Config = PortfolioEngine.Config(),
      gateCfg: Option[QuantGate.Config] = Some(QuantGate.Config()),
      riskMode: Option[AutoTrader.RiskPolicy] = None,
      histCap: Int = 4096): Dataset[ExecRow] = {
    import bars.sparkSession.implicits._
    val effCfg = riskMode.fold(engineCfg)(_.engine(engineCfg))
    bars
      .groupByKey(_.ticker)
      .flatMapGroupsWithState[StoredCycle, ExecRow](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (ticker: String, rows: Iterator[Bar], state: GroupState[StoredCycle]) =>
          val st0 = state.getOption.map(load).getOrElse(
            CycleState(Vector.empty, EngineState.init(effCfg)))
          val (st, out) = foldBars(ticker, rows.toArray.sortBy(barKey).toSeq,
            st0, minBars, histCap, fcCfg, sigCfg, engineCfg, gateCfg,
            riskMode, effCfg)
          state.update(store(st))
          out.iterator
      }
  }

  /** [[StoredCycle]] plus the reorder buffer of the late-tolerant
    * variant — one state object so the whole cycle stays a single
    * stateful operator (see [[LivePortfolio.fillsOrdered]]). The buffered
    * bars are the group's own, so they are packed without their ticker:
    * (epoch microseconds, close, high, low) rows ([[packRows]]). */
  final case class OrderedCycleState(buffered: Array[Byte], cycle: StoredCycle)

  /** [[fills]] with the ordering contract enforced in code: bars buffer
    * per ticker and reach the cycle only in full event-time order once
    * the watermark (max event time − `delay`) passes them, so a feed
    * that reorders bars ACROSS micro-batches still matches the batch
    * auto-trader fill-for-fill. Bars at-or-before the last bar already
    * consumed are dropped (the same-bar gate generalized to late data);
    * an EventTimeTimeout at the earliest buffered bar drains quiescent
    * tickers without new input. */
  def fillsOrdered(bars: Dataset[Bar], minBars: Int, delay: String,
      fcCfg: ForecastEngine.Config = ForecastEngine.Config(horizon = 5, mcPaths = 100),
      sigCfg: SignalGenerator.Config = SignalGenerator.Config(),
      engineCfg: PortfolioEngine.Config = PortfolioEngine.Config(),
      gateCfg: Option[QuantGate.Config] = Some(QuantGate.Config()),
      riskMode: Option[AutoTrader.RiskPolicy] = None,
      histCap: Int = 4096): Dataset[ExecRow] = {
    import bars.sparkSession.implicits._
    val effCfg = riskMode.fold(engineCfg)(_.engine(engineCfg))
    bars
      .withWatermark("ts", delay)
      .groupByKey(_.ticker)
      .flatMapGroupsWithState[OrderedCycleState, ExecRow](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout()) {
        (ticker: String, rows: Iterator[Bar], state: GroupState[OrderedCycleState]) =>
          val stored = state.getOption
          val buffered = stored.toSeq.flatMap(s => unpackRows(s.buffered)).map {
            case (us, c, h, l) => Bar(ticker, DateTimeUtils.toJavaTimestamp(us), c, h, l)
          }
          val wm = state.getCurrentWatermarkMs()
          val (due, keep) = (buffered ++ rows).partition(_.ts.getTime <= wm)
          val (st, out) = foldBars(ticker, due.sortBy(barKey),
            stored.map(b => load(b.cycle))
              .getOrElse(CycleState(Vector.empty, EngineState.init(effCfg))),
            minBars, histCap, fcCfg, sigCfg, engineCfg, gateCfg, riskMode, effCfg)
          state.update(OrderedCycleState(packRows(keep.map(b =>
            (DateTimeUtils.fromJavaTimestamp(b.ts), b.close, b.high, b.low))), store(st)))
          // keep's timestamps are all > wm (partition above): legal
          // future timeout, fires when the watermark reaches it
          if (keep.nonEmpty) state.setTimeoutTimestamp(keep.map(_.ts.getTime).min)
          out.iterator
      }
  }
}
