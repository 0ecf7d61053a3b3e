package graft.pipeline

import java.security.MessageDigest

import org.apache.spark.sql.{DataFrame, Row}
import org.scalatest.funsuite.AnyFunSuite

import graft.{GraftSession, TestSpark}
import graft.signals.{QuantGate, SignalGenerator}
import graft.sources.SyntheticSource

class AutoTraderSpec extends AnyFunSuite with TestSpark {

  /** AnnAndLoopSpec's trading fixture. */
  private def bars: DataFrame =
    SyntheticSource.generate(spark, Seq("A1", "A2"), 160, seed = 19).toDF()

  private val permissive = SignalGenerator.Config(
    minExpectedReturn = 0.0002, minConfidence = 0.15, minSnr = 0.05)

  private def rawBits(x: Double): String =
    java.lang.Long.toHexString(java.lang.Double.doubleToRawLongBits(x))

  /** A cycle result with its P&L as raw bits. */
  private def show(r: AutoTrader.CycleResult): String =
    s"${r.cycle},${r.nSignals},${r.nBuys},${r.nSells},${r.nFills},${rawBits(r.realizedPnl)}"

  /** SHA-256 over the sorted fill rows, every double as its raw bits. */
  private def fillDigest(fills: DataFrame): (Int, String) = {
    val rows = fills.collect().map { (r: Row) =>
      r.toSeq.map {
        case d: Double => rawBits(d)
        case other => String.valueOf(other)
      }.mkString("|")
    }.sorted
    val sha = MessageDigest.getInstance("SHA-256")
      .digest(rows.mkString("\n").getBytes("UTF-8")).map(b => f"$b%02x").mkString
    (rows.length, sha)
  }

  // Recorded from runDetailed as it stood before the census became one
  // aggregate and the forecast kernels stopped recomputing their
  // constants: the cycle results and fills may not move by one bit.
  private val golden = Map(
    "default" -> (Seq("0,2,0,0,0,0", "1,2,0,0,0,0", "2,2,0,0,0,0", "3,2,0,0,0,0", "4,2,0,0,0,0"), 0,
      "e3b0c44298fc1c149afbf4c8996fb92427ae41e4649b934ca495991b7852b855"),
    "diagnostic" -> (Seq("0,2,0,0,0,0", "1,2,0,0,0,0", "2,2,0,0,0,0", "3,2,0,0,0,0", "4,2,0,0,0,0"), 0,
      "e3b0c44298fc1c149afbf4c8996fb92427ae41e4649b934ca495991b7852b855"),
    "permissive" -> (Seq("0,2,1,1,2,0", "1,2,1,0,1,3ffb33c7ae195ed5", "2,2,2,0,2,0",
      "3,2,1,1,2,4021f91771dce654", "4,2,1,1,2,0"), 9,
      "f15bcb19bccb25d05e241519cf124c17cf9982a2e0afd9b8b2670504237d6b6a"))

  test("runDetailed's cycle results and fills are bit-identical to the recorded outputs") {
    // the default gate and the diagnostic mode hold every signal on this
    // fixture; the permissive arm (the trading benchmark's signal floors,
    // no quant gate) is the one that buys, sells and fills
    val diagnostic = Some(AutoTrader.RiskPolicy.diagnostic)
    val got = Seq(
      ("default", SignalGenerator.Config(), Option(QuantGate.Config()), None),
      ("diagnostic", SignalGenerator.Config(), Option(QuantGate.Config()), diagnostic),
      ("permissive", permissive, None, diagnostic))
      .map { case (name, sigCfg, gateCfg, mode) =>
        val (results, fills) = AutoTrader.runDetailed(spark, bars, 5, sigCfg = sigCfg,
          gateCfg = gateCfg, riskMode = mode)
        val (n, sha) = fillDigest(fills)
        fills.unpersist()
        name -> (results.map(show), n, sha)
      }.toMap
    assert(got === golden)
  }

  test("runDetailed leaves only its returned fills cached, and they read back from that cache") {
    val sc = spark.sparkContext
    val counts = new GraftSession.Counts
    val diagnostic = Some(AutoTrader.RiskPolicy.diagnostic)
    def call() = AutoTrader.runDetailed(spark, bars, 5, sigCfg = permissive,
      gateCfg = None, riskMode = diagnostic)._2
    val before = sc.getPersistentRDDs.size
    val first = call()
    assert(sc.getPersistentRDDs.size === before + 1)
    val second = call()
    assert(sc.getPersistentRDDs.size === before + 2)
    sc.addSparkListener(counts)
    try {
      GraftSession.drain(sc)
      counts.reset()
      assert(second.collect().length === 9)
      GraftSession.drain(sc)
      // one stage over the cached blocks: a recomputed fills frame would
      // rerun the forecast and the engine behind their shuffles
      assert((counts.jobs, counts.stages, counts.shuffleWriteBytes) === ((1, 1, 0L)),
        counts.toString)
    } finally sc.removeSparkListener(counts)
    first.unpersist()
    second.unpersist()
    assert(sc.getPersistentRDDs.size === before)
  }

  test("a backtest fits Spark's codegen cache: at most 40 entries from an empty cache; a warm call compiles at most 5 classes in 9 jobs") {
    // PipelineSpec's footprint test, for the trading cycle: a call whose
    // generated classes fit every segment of Spark's 100-entry codegen
    // cache compiles nothing when it runs again. The bars are cached and
    // materialized first, as the trading benchmark reads them, so the
    // counts are runDetailed's own (measured: 37 compiles cold, 0 warm,
    // 8 jobs).
    val sc = spark.sparkContext
    val counts = new GraftSession.Counts
    val b = bars.cache()
    b.count()
    def call(): Unit = AutoTrader.runDetailed(spark, b, 5, sigCfg = permissive,
      gateCfg = None, riskMode = Some(AutoTrader.RiskPolicy.diagnostic))._2.unpersist()
    sc.addSparkListener(counts)
    try {
      TestSpark.emptyCodegenCache()
      counts.reset()
      call()
      GraftSession.drain(sc)
      val cold = counts.toString
      assert(counts.compiles <= 40L, s"cold call: $cold")
      counts.reset()
      call()
      GraftSession.drain(sc)
      assert(counts.compiles <= 5L, s"warm call: $counts (cold call: $cold)")
      assert(counts.jobs <= 9, s"warm call: $counts")
    } finally {
      sc.removeSparkListener(counts)
      b.unpersist()
    }
  }
}
