package graft.streaming

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark
import graft.pipeline.AutoTrader
import graft.sources.SyntheticSource

class LiveCycleSpec extends AnyFunSuite with TestSpark {

  private val cycles = 5
  // permissive decision stack (diagnostic risk mode, loose signal
  // thresholds, no quant gate) so the short fixture actually trades —
  // parity on zero fills is vacuous; the same configs feed BOTH modes
  private val mode = Some(AutoTrader.RiskPolicy.diagnostic)
  private val sigCfg = graft.signals.SignalGenerator.Config(
    minExpectedReturn = 0.0002, minConfidence = 0.15, minSnr = 0.05)
  private val gateCfg: Option[graft.signals.QuantGate.Config] = None
  private val cols = Seq("ticker", "tradeId", "action", "quantity", "price",
    "isClose", "entryTradeId", "pnl", "exitReason", "isSynthetic", "side")

  // one fixture for the parity tests: bars, the batch-mode fills, and
  // the stream-shaped source rows
  private lazy val fixture: (Array[String], Int, Array[LiveCycle.Bar]) = {
    val spark2 = spark
    import spark2.implicits._
    val bars = SyntheticSource.generate(spark, Seq("A1", "A2"), 160, seed = 19)
      .toDF().cache()
    val (results, batchFillsDf) = AutoTrader.runDetailed(spark, bars, cycles,
      sigCfg = sigCfg, gateCfg = gateCfg, riskMode = mode)
    val batchFills = batchFillsDf.select(cols.map(col): _*)
      .collect().map(_.toString).sorted
    assert(results.size === cycles)
    assert(batchFills.nonEmpty,
      "fixture produced no fills — parity would be vacuous")
    val nDates = graft.etl.Splitter.distinctDates(bars).length
    val minBars = nDates - cycles + 1
    val src = bars
      .select($"ticker", $"date".as("ts"), $"close", $"high", $"low")
      .as[LiveCycle.Bar].collect().sortBy(b => (b.ts.getTime, b.ticker))
    (batchFills, minBars, src)
  }

  test("streaming live cycle matches batch auto-trader fill-for-fill through the MERGE sink") {
    val (batchFills, minBars, src) = fixture
    val spark2 = spark
    import spark2.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[LiveCycle.Bar]
    val fills = LiveCycle.fills(input.toDS(), minBars,
      sigCfg = sigCfg, gateCfg = gateCfg, riskMode = mode)
    // full §3.2 loop: bars → forecast → signal → gate → engine → MERGE
    // sink, exactly-once on (ticker, tradeId)
    val tmp = java.nio.file.Files.createTempDirectory("graft_livecycle")
    val sink = new graft.sources.MergeSink(spark, s"$tmp/fills",
      keyCols = Seq("ticker", "tradeId"), partitionCol = "fill_date")
    val q = LivePortfolio.upsertFills(fills, sink, s"$tmp/ckpt")
    try {
      // three micro-batches, cut mid-cycle (prefix splits of the global
      // time order keep the per-ticker order contract)
      val cut = src.length / 3
      Seq(src.take(cut), src.slice(cut, 2 * cut), src.drop(2 * cut))
        .foreach { c => input.addData(c); q.processAllAvailable() }
      val streamed = sink.read().select(cols.map(col): _*)
        .collect().map(_.toString).sorted
      assert(streamed.toSeq === batchFills.toSeq,
        "streaming cycle diverged from the batch auto-trader")
    } finally q.stop()
  }

  test("same-bar gate: a ticker with no bar on a cutoff date signals nothing there, and batch matches the stream") {
    val spark2 = spark
    import spark2.implicits._
    implicit val sqlCtx = spark.sqlContext
    val full = SyntheticSource.generate(spark, Seq("A1", "A2"), 160, seed = 19).toDF()
    val dates = graft.etl.Splitter.distinctDates(full)
    // A1 misses the bar-date of cycle 2; A2 still has it, so it stays a cutoff
    val gap = dates(dates.length - cycles + 2)
    val bars = full.where(!($"ticker" === "A1" && $"date" === gap)).cache()
    try {
      val (results, batchDf) = AutoTrader.runDetailed(spark, bars, cycles,
        sigCfg = sigCfg, gateCfg = gateCfg, riskMode = mode)
      val batch = batchDf.select(cols.map(col): _*).collect().map(_.toString).sorted
      batchDf.unpersist()
      assert(results.map(_.nSignals) === Seq(2L, 2L, 1L, 2L, 2L))
      assert(batch.nonEmpty, "no fills — parity would be vacuous")
      val src = bars.select($"ticker", $"date".as("ts"), $"close", $"high", $"low")
        .as[LiveCycle.Bar].collect().sortBy(b => (b.ts.getTime, b.ticker))
      val input = MemoryStream[LiveCycle.Bar]
      val q = LiveCycle.fills(input.toDS(), dates.length - cycles + 1,
          sigCfg = sigCfg, gateCfg = gateCfg, riskMode = mode)
        .writeStream.format("memory").queryName("gap_cycle").outputMode("append").start()
      try {
        input.addData(src.toSeq)
        q.processAllAvailable()
        val streamed = spark.table("gap_cycle").select(cols.map(col): _*)
          .collect().map(_.toString).sorted
        assert(streamed.toSeq === batch.toSeq, "a cycle without a new bar re-signaled")
      } finally q.stop()
    } finally bars.unpersist()
  }

  test("a warm micro-batch of the live cycle compiles no generated class") {
    val (_, minBars, src) = fixture
    val spark2 = spark
    import spark2.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[LiveCycle.Bar]
    val q = LiveCycle.fills(input.toDS(), minBars,
        sigCfg = sigCfg, gateCfg = gateCfg, riskMode = mode)
      .writeStream.format("noop").outputMode("append").start()
    val counts = new graft.GraftSession.Counts
    try {
      // the history in one batch, then one batch per bar-date: the first
      // two read and write the state (its decoder is compiled there), the
      // last two are warm
      val byDate = src.groupBy(_.ts.getTime).toSeq.sortBy(_._1).map(_._2.toSeq)
      val (history, live) = byDate.splitAt(byDate.size - 4)
      input.addData(history.flatten)
      q.processAllAvailable()
      live.take(2).foreach { b => input.addData(b); q.processAllAvailable() }
      counts.reset()
      live.drop(2).foreach { b => input.addData(b); q.processAllAvailable() }
      assert(counts.compiles === 0L, s"warm micro-batches: $counts")
    } finally q.stop()
  }

  test("checkpoint restart: a NEW query resumes per-ticker cycle state and converges the sink") {
    val (batchFills, minBars, src) = fixture
    val spark2 = spark
    import spark2.implicits._
    implicit val sqlCtx = spark.sqlContext
    val tmp = java.nio.file.Files.createTempDirectory("graft_livecycle_rs")
    val sink = new graft.sources.MergeSink(spark, s"$tmp/fills",
      keyCols = Seq("ticker", "tradeId"), partitionCol = "fill_date")
    val input = MemoryStream[LiveCycle.Bar]
    def startQ() = LivePortfolio.upsertFills(
      LiveCycle.fills(input.toDS(), minBars,
        sigCfg = sigCfg, gateCfg = gateCfg, riskMode = mode),
      sink, s"$tmp/ckpt")
    // first query: half the bars (cut INSIDE the trading window so open
    // positions, history, and the engine's trade-id counter all live in
    // the state store at the stop), then a hard stop
    val q1 = startQ()
    try {
      input.addData(src.take(src.length - 4).toSeq)
      q1.processAllAvailable()
    } finally q1.stop()
    // second query: SAME checkpoint — state must restore, the remaining
    // bars must produce exactly the missing fills, and the MERGE sink
    // must converge to the batch table
    val q2 = startQ()
    try {
      input.addData(src.takeRight(4).toSeq)
      q2.processAllAvailable()
      val streamed = sink.read().select(cols.map(col): _*)
        .collect().map(_.toString).sorted
      assert(streamed.toSeq === batchFills.toSeq,
        "restart from checkpoint diverged from the batch auto-trader")
    } finally q2.stop()
  }

  test("out-of-order bars: shuffled cross-batch delivery through the reorder front matches batch") {
    val (batchFills, minBars, src) = fixture
    val spark2 = spark
    import spark2.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[LiveCycle.Bar]
    val fills = LiveCycle.fillsOrdered(input.toDS(), minBars,
      delay = "200 days", sigCfg = sigCfg, gateCfg = gateCfg, riskMode = mode)
    val q = fills.writeStream.format("memory").queryName("ooo_cycle")
      .outputMode("append").start()
    try {
      val shuffled = new scala.util.Random(5).shuffle(src.toSeq)
      shuffled.grouped(80).foreach { c => input.addData(c); q.processAllAvailable() }
      // flush sentinel: far enough ahead that the watermark passes every
      // base bar; itself stays buffered (never consumed), so the batch
      // side correctly excludes it
      val last = src.last
      val sentinel = LiveCycle.Bar("A1",
        new java.sql.Timestamp(src.map(_.ts.getTime).max + 400L * 86400000L),
        last.close, last.high, last.low)
      input.addData(Seq(sentinel))
      q.processAllAvailable()
      val streamed = spark.table("ooo_cycle")
        .as[graft.exec.PortfolioEngine.ExecRow]
        .toDF().select(cols.map(col): _*)
        .collect().map(_.toString).sorted
      assert(streamed.toSeq === batchFills.toSeq,
        "shuffled bar delivery must replay to batch parity")
    } finally q.stop()
  }
}
