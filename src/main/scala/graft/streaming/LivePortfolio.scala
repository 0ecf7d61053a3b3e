package graft.streaming

import org.apache.spark.sql.Dataset
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

import graft.exec.PortfolioEngine
import graft.exec.PortfolioEngine.{Config, EngineState, Event, ExecRow}

/** Streaming live-mode portfolio engine — the Structured Streaming form
  * of the reference's live trading cycle (scripts/run_auto_trader.py:
  * 3876-4200 polling loop driving execution/paper_trading_engine.py:486
  * execute_signal), which holds per-ticker positions/stops/cash across
  * cycles exactly the way a state store holds keyed state across
  * micro-batches.
  *
  * The event logic is [[PortfolioEngine.step]] — the SAME kernel the
  * batch backtest folds over — so streaming output is fill-for-fill
  * identical to a batch run over the same event sequence (spec-asserted
  * parity). The state per key is one [[EngineState]]: O(open lots) per
  * ticker, which is what lets a 1000-executor cluster hold the whole
  * book — millions of tickers would still be a few hundred bytes each in
  * the state store, checkpointed and recoverable.
  *
  * Ordering contract: [[fills]] sorts events by the engine's total
  * event order WITHIN each micro-batch; ACROSS batches the source must
  * not deliver a ticker's events out of order (true of the reference's
  * poll loop, and of any log-compacted feed keyed by ticker). For
  * sources that CAN reorder across batches, [[fillsOrdered]] enforces
  * the contract in code with a watermark + per-ticker event-time buffer
  * in the same state store.
  */
object LivePortfolio {

  /** Fill stream → MERGE-upsert sink: the exactly-once persistence leg
    * of the live cycle (the reference INSERTs fills into
    * trade_executions per cycle; database_manager.py's executions
    * table). The engine's trade ids are deterministic per ticker (state
    * carries `nextId`), so (ticker, tradeId) is a natural idempotency
    * key — a checkpoint replay or restart re-emits the SAME rows and
    * the MERGE collapses them instead of double-counting fills.
    * Partitioned by fill date: a replay rewrites only the partitions it
    * touches, and a new bar-date's fills land in a new partition, so a
    * live micro-batch is ONE job — the sink's staged write, which also
    * runs the stateful engine — plus renames. */
  def upsertFills(fills: Dataset[ExecRow], sink: graft.sources.MergeSink,
      checkpoint: String): org.apache.spark.sql.streaming.StreamingQuery = {
    import org.apache.spark.sql.DataFrame
    import org.apache.spark.sql.functions.{col, to_date}
    fills
      .withColumn("fill_date", to_date(col("ts")))
      .writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        // unique by construction: the engine state's monotonic nextId
        // gives every fill a distinct (ticker, tradeId) within a run
        // (PortfolioSpec's conservation property pins it), so the
        // per-batch dedupe window would be a pure shuffle tax
        sink.upsert(batch, assumeUniqueKeys = true): Unit
      }
      .start()
  }

  /** [[fills]] state plus the out-of-order front's reorder buffer:
    * events not yet releasable by the watermark, and the key of the last
    * event fed to the engine (for the truly-late drop). One state object
    * per ticker keeps the whole pipeline a SINGLE stateful operator —
    * Spark does not allow a second flatMapGroupsWithState downstream of
    * the first, so buffering must live with the engine state, not in
    * front of it. */
  final case class OrderedState(
      engine: EngineState,
      buffered: Seq[Event],
      lastTs: Long, lastNanos: Int, lastSeq: Long)

  private val keyOrd = Ordering.Tuple3[Long, Int, Long]

  /** Late-tolerant live engine: [[fills]]' ordering contract enforced IN
    * CODE instead of assumed of the source. Events are buffered per
    * ticker and released to [[PortfolioEngine.step]] in full event-time
    * order only once the watermark passes them, so a feed that delivers
    * a ticker's events out of order ACROSS micro-batches (a Kafka-style
    * bus with partition lag, a backfilling poller) still produces
    * fill-for-fill batch parity — the reference's poll loop never
    * reorders, but its real-time extractor documents exactly this
    * bounded-lateness front (etl/real_time_extractor.py:115-179).
    *
    * Contract: an event is processed in order iff it arrives BEFORE the
    * watermark (max event time − `delay`) passes its timestamp; after
    * that it is dropped iff it sorts at-or-before the last event already
    * fed to the engine (replaying it would corrupt state), and is still
    * processed in order otherwise. Buffer occupancy per ticker is
    * bounded by the events inside one `delay` window — O(events/`delay`
    * span), the price of tolerating reorder; [[fills]] remains the
    * zero-latency variant for sources with a per-ticker order guarantee.
    * Flush: an EventTimeTimeout at the earliest buffered timestamp
    * re-fires the group when the watermark reaches it, so quiescent
    * tickers drain without new data. */
  def fillsOrdered(events: Dataset[Event], cfg: Config = Config(),
      delay: String = "10 minutes"): Dataset[ExecRow] = {
    import events.sparkSession.implicits._
    events
      .withWatermark("ts", delay)
      .groupByKey(_.ticker)
      .flatMapGroupsWithState[OrderedState, ExecRow](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout()) {
        (_: String, rows: Iterator[Event], state: GroupState[OrderedState]) =>
          val st = state.getOption.getOrElse(OrderedState(
            EngineState.init(cfg), Seq.empty, Long.MinValue, 0, Long.MinValue))
          val lastKey = (st.lastTs, st.lastNanos, st.lastSeq)
          val incoming = rows.filter(ev =>
            keyOrd.gt(PortfolioEngine.eventKey(ev), lastKey)).toSeq
          val wm = state.getCurrentWatermarkMs()
          val (due, keep) = (st.buffered ++ incoming)
            .partition(_.ts.getTime <= wm)
          val released = due.sortBy(PortfolioEngine.eventKey)(keyOrd)
          var eng = st.engine
          val out = Seq.newBuilder[ExecRow]
          released.foreach { ev =>
            val (e2, fs) = PortfolioEngine.step(eng, ev, cfg)
            eng = e2
            out ++= fs
          }
          val newLast = released.lastOption
            .map(PortfolioEngine.eventKey).getOrElse(lastKey)
          state.update(OrderedState(eng, keep, newLast._1, newLast._2, newLast._3))
          // keep's timestamps are all > wm (partition above), so this is
          // a legal future timeout; it fires when the watermark passes
          // the earliest buffered event even if no new data arrives
          if (keep.nonEmpty) state.setTimeoutTimestamp(keep.map(_.ts.getTime).min)
          out.result().iterator
      }
  }

  /** events (streaming Dataset) → fills, state held per ticker.
    * Append-mode output: each micro-batch emits only the fills its
    * events produced; positions/cash/stops carry over in the store. */
  def fills(events: Dataset[Event], cfg: Config = Config()): Dataset[ExecRow] = {
    import events.sparkSession.implicits._
    events
      .groupByKey(_.ticker)
      .flatMapGroupsWithState[EngineState, ExecRow](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (_: String, rows: Iterator[Event], state: GroupState[EngineState]) =>
          var st = state.getOption.getOrElse(EngineState.init(cfg))
          val out = Seq.newBuilder[ExecRow]
          // sort within the batch by the engine's total event order
          // (full-precision ts + seq tiebreak — same key as the batch
          // backtest): micro-batch shuffle order is arbitrary, and a
          // ms-only key would make same-ms events replay-nondeterministic
          rows.toArray.sortBy(PortfolioEngine.eventKey).foreach { ev =>
            val (st1, fills) = PortfolioEngine.step(st, ev, cfg)
            st = st1
            out ++= fills
          }
          state.update(st)
          out.result().iterator
      }
  }
}
