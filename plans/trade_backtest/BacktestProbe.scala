package probe

import org.apache.spark.sql.execution.{FormattedMode, QueryExecution}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.util.QueryExecutionListener

import graft.GraftSession
import graft.pipeline.AutoTrader
import graft.streaming.{LiveCycle, LivePortfolio}

/** Spark work of `AutoTrader.runDetailed` inside perfbench's `trade_live`
  * pass, on its session and input (8 tickers x 250 seeded bars,
  * `local[4]`, Spark's default codegen cache): each pass streams the
  * history and the last 8 bar-dates through LiveCycle → MergeSink, then
  * runs the backtest over 8 cycles under a `GraftSession.Counts`. The
  * first pass starts from an empty codegen cache. Prints one line per
  * backtest (jobs, tasks, shuffle MB, compiles) and writes the executed
  * plan of each action of the last backtest to <work>/plans. Args: work
  * dir, passes, seed. */
object BacktestProbe {
  def main(args: Array[String]): Unit = {
    val Array(work, passesArg, seedArg) = args
    val spark = perfbench.Session.start(work, 4)
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val tickers = (1 to 8).map(i => s"LC$i")
    perfbench.Inputs.write(perfbench.Inputs.bars(spark, tickers, 250, seedArg.toLong),
      s"$work/bars")
    val bars = spark.read.parquet(s"$work/bars").cache()
    val src = bars.select($"ticker", $"date".as("ts"), $"close", $"high", $"low")
      .as[LiveCycle.Bar].collect().toSeq
    val dates = src.map(_.ts).distinct.sortBy(_.getTime)
    val byDate = src.groupBy(_.ts).toSeq.sortBy(_._1.getTime).map(_._2)
    val mode = Some(AutoTrader.RiskPolicy.diagnostic)
    val sigCfg = graft.signals.SignalGenerator.Config(
      minExpectedReturn = 0.0002, minConfidence = 0.15, minSnr = 0.05)

    val plansDir = new java.io.File(work, "plans")
    @volatile var dump = false
    val action = new java.util.concurrent.atomic.AtomicInteger
    spark.listenerManager.register(new QueryExecutionListener {
      def onSuccess(f: String, qe: QueryExecution, d: Long): Unit = if (dump) {
        plansDir.mkdirs()
        val w = new java.io.PrintWriter(
          new java.io.File(plansDir, f"runDetailed_${action.incrementAndGet()}%02d_$f.txt"))
        try w.write(qe.explainString(FormattedMode)) finally w.close()
      }
      def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    })
    val counts = new GraftSession.Counts
    spark.sparkContext.addSparkListener(counts)
    val cache = org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
    val field = cache.getClass.getDeclaredField("cache")
    field.setAccessible(true)
    field.get(cache).getClass.getMethod("invalidateAll").invoke(field.get(cache))

    val passes = passesArg.toInt
    (1 to passes).foreach { p =>
      val sink = new graft.sources.MergeSink(spark, s"$work/pass$p/fills",
        keyCols = Seq("ticker", "tradeId"), partitionCol = "fill_date")
      val input = MemoryStream[LiveCycle.Bar]
      val q = LivePortfolio.upsertFills(LiveCycle.fills(input.toDS(), dates.length - 7,
        sigCfg = sigCfg, gateCfg = None, riskMode = mode), sink, s"$work/pass$p/ckpt")
      try {
        input.addData(byDate.dropRight(8).flatten)
        q.processAllAvailable()
        byDate.takeRight(8).foreach { b => input.addData(b); q.processAllAvailable() }
      } finally q.stop()
      GraftSession.drain(spark.sparkContext)
      counts.reset()
      dump = p == passes
      val t0 = System.nanoTime()
      val (_, fills) = AutoTrader.runDetailed(spark, bars, 8, sigCfg = sigCfg,
        gateCfg = None, riskMode = mode)
      val wall = (System.nanoTime() - t0) / 1e9
      GraftSession.drain(spark.sparkContext)
      dump = false
      println(f"BACKTEST pass $p wall=$wall%.3fs $counts")
      counts.stageLog.forEach(l => println(s"BACKTEST $l"))
      fills.unpersist()
    }
    perfbench.Session.stop()
  }
}
