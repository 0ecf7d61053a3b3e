package perfbench

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.pipeline.{AutoTrader, EtlPipeline}

/** One benchmark workload: a closed loop with a single client, so the next
  * call starts when the previous one returns. */
trait Workload {
  /** Writes the seeded inputs under `dir` (outside every clock but setup). */
  def prepare(spark: SparkSession, dir: String, seed: Long): Unit

  /** One untimed call of the measured path, so classes are loaded and code
    * is compiled before the clock starts. */
  def warmUp(spark: SparkSession): Unit

  /** Runs operations until `deadline` (System.nanoTime) and at least one. */
  def measure(spark: SparkSession, t: Tracer, deadline: Long, m: Meter): Unit

  /** The workload's own figures, each under its own name (see METRICS.md). */
  def report(m: Meter): Seq[(String, Double, String)]

  /** Traced run only: direct calls into the layers the workload exercises,
    * each in its own span, plus figures computed from those spans. Each
    * workload also runs here a path that only this run measures
    * ([[Curation]], [[Reports]]); its operations count in `m`. */
  def layers(spark: SparkSession, t: Tracer, m: Meter): Map[String, Double]
}

object Workloads {
  /** `oracle` is the script that gives the report queries' oracle row counts. */
  def apply(name: String, oracle: String): Workload = name match {
    case "etl_cached" => new EtlCached
    case "trade_live" => new TradeLive(oracle)
    case other => throw new IllegalArgumentException(s"unknown workload: $other")
  }

  /** Order-independent content hash of collected rows. */
  def rowsHash(rows: Seq[Row]): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    rows.map(_.toString).sorted.foreach(r => md.update((r + "\n").getBytes("UTF-8")))
    md.digest().take(12).map("%02x".format(_)).mkString
  }

  /** Median of the per-call figure `f` over every span named `name`
    * (0 when the layer was not called). */
  def perCall(t: Tracer, name: String)(f: Tracer.CallStats => Double): Double = {
    val cs = t.calls(name)
    if (cs.isEmpty) 0.0 else Stats.median(cs.map(f))
  }

  lazy val queries: Map[String, graft.queries.QFn] = graft.SparkEntry.queries
}

/** Back-to-back `EtlPipeline.run` over a cached parquet extract of
  * 2 tickers × 1,006 seeded daily bars. The traced run also measures the
  * corpus curation path ([[Curation]]) on 5,000 seeded documents. */
final class EtlCached extends Workload {
  import Workloads._
  private val tickers = Seq("AAPL", "MSFT")
  private val nBars = 1006
  private var dir = ""
  private def cache = s"$dir/cache"
  private def out = s"$dir/out"
  private var inputBytes = 0L
  private var seed = 0L
  private val splitNames = Seq("training", "validation", "testing")

  def prepare(spark: SparkSession, dir: String, seed: Long): Unit = {
    this.dir = dir
    this.seed = seed
    Inputs.write(Inputs.bars(spark, tickers, nBars, seed), cache)
    inputBytes = Inputs.bytesUnder(cache)
  }

  private def runOnce(spark: SparkSession, t: Tracer): EtlPipeline.RunResult =
    t.span("pipeline.EtlPipeline.run") {
      EtlPipeline.run(spark, spark.read.parquet(cache), EtlPipeline.Config(outDir = out))
    }

  private def problem(r: EtlPipeline.RunResult): Option[String] = {
    val rows = splitNames.map(r.rowsPerSplit.getOrElse(_, 0L)).sum
    if (r.quality.status == "FAIL") Some(s"validation FAIL: ${r.quality}")
    else if (rows != tickers.size.toLong * nBars)
      Some(s"split rows $rows != input rows ${tickers.size * nBars}")
    else None
  }

  /** Two calls: the first pipeline runs are still on the steep part of
    * the JIT's curve (about 13, 7.6 and 6.4 s for the first three). */
  def warmUp(spark: SparkSession): Unit = (1 to 2).foreach(_ => runOnce(spark, Tracer.off))

  def measure(spark: SparkSession, t: Tracer, deadline: Long, m: Meter): Unit = {
    var last: Option[EtlPipeline.RunResult] = None
    do {
      m.attempted += 1
      try {
        val (r, dt) = Stats.timed(runOnce(spark, t))
        System.err.println(f"[perfbench] etl run in $dt%.3f s")
        problem(r) match {
          case Some(p) => m.fail(s"etl run: $p")
          case None => m.op += dt; m.batch += dt; last = Some(r)
        }
      } catch { case e: Exception => m.fail(s"etl run: $e") }
    } while (System.nanoTime() < deadline)
    last.foreach { r =>
      val stageBytes = r.stageDirs.values.toSeq.distinct.map(Inputs.bytesUnder).sum
      m.add("stage_bytes", stageBytes.toDouble)
    }
  }

  def report(m: Meter): Seq[(String, Double, String)] = Seq(
    ("etl_run_s", Stats.median(m.batch), "s"),
    ("etl_bytes_per_input_byte",
      m.named.get("stage_bytes").map(_.last / inputBytes).getOrElse(Double.NaN), "ratio"))

  def layers(spark: SparkSession, t: Tracer, m: Meter): Map[String, Double] = {
    import graft.etl._
    import graft.features.FeatureBuilder
    // the pipeline's stages, called one by one in its order, twice
    val stage = s"$dir/stages"
    (1 to 2).foreach { _ =>
      val raw = spark.read.parquet(s"$out/raw")
      t.span("etl.Validator.validate")(Validator.validate(raw, minBars = 30))
      val filled = Preprocessor.handleMissing(raw,
        cols = Seq("open", "high", "low", "close"), backfill = false)
      val processed = t.span("features.FeatureBuilder.build") {
        FeatureBuilder.build(filled, dropNa = false)
          .write.mode("overwrite").partitionBy("ticker").parquet(stage)
        spark.read.parquet(stage)
      }
      val tagged = Splitter.chronological(processed, 0.70, 0.15)
      // the split is lazy: materialize its per-split census, as the
      // pipeline's observed write does
      t.span("etl.Splitter.chronological")(tagged.groupBy("split").count().collect())
      t.span("etl.Preprocessor.fitZScore")(
        Preprocessor.fitZScore(tagged.where(col("split") === "training"), Seq("close"))
          .collect())
      t.span("etl.SplitDiagnostics.psi")(SplitDiagnostics.psi(tagged, "close").collect())
    }
    def pc(n: String)(f: Tracer.CallStats => Double) = perCall(t, n)(f)
    val run = "pipeline.EtlPipeline.run"
    val fb = "features.FeatureBuilder.build"
    val stageMb = m.named.get("stage_bytes").map(_.last / 1e6).getOrElse(0.0)
    val curation = new Curation(5000L)
    curation.prepare(spark, s"$dir/corpus", seed)
    curation.layers(spark, t, s"$dir/corpus", m) ++ Map(
      s"$run.s" -> pc(run)(_.selfS), s"$run.jobs" -> pc(run)(_.jobs),
      s"$run.driver_s" -> pc(run)(_.driverS), s"$run.task_s" -> pc(run)(_.taskS),
      s"$fb.s" -> pc(fb)(_.selfS), s"$fb.task_s" -> pc(fb)(_.taskS),
      s"$fb.shuffle_write_mb" -> pc(fb)(_.shuffleWriteMb),
      "sources.stage_write.bytes_mb" -> stageMb,
      "sources.stage_write.bytes_per_input_byte" -> stageMb * 1e6 / inputBytes) ++
      Seq("etl.Validator.validate", "etl.Splitter.chronological",
        "etl.Preprocessor.fitZScore", "etl.SplitDiagnostics.psi").flatMap(n =>
        Seq(s"$n.s" -> pc(n)(_.selfS), s"$n.jobs" -> pc(n)(_.jobs)))
  }
}

/** Live trading: 8 seeded tickers × 250 daily bars. The history before the
  * last `liveDates` bar-dates goes in as one micro-batch, then each
  * bar-date is its own micro-batch through LiveCycle.fills →
  * LivePortfolio.upsertFills → MergeSink. `AutoTrader.runDetailed` over the
  * same bars and cycles is the parity oracle and the timed backtest. The
  * traced run also measures the dashboards' reads ([[Reports]]). */
final class TradeLive(oracle: String) extends Workload {
  import Workloads._
  import graft.streaming.{LiveCycle, LivePortfolio}
  private val tickers = (1 to 8).map(i => s"LC$i")
  private val nBars = 250
  private val liveDates = 8
  private val mode = Some(AutoTrader.RiskPolicy.diagnostic)
  private val sigCfg = graft.signals.SignalGenerator.Config(
    minExpectedReturn = 0.0002, minConfidence = 0.15, minSnr = 0.05)
  private val fillCols = Seq("ticker", "ts", "tradeId", "action", "quantity", "price",
    "isClose", "entryTradeId", "pnl", "exitReason", "isSynthetic", "side")
  private var dir = ""
  private var bars: DataFrame = _
  private var history: Seq[LiveCycle.Bar] = Nil
  private var live: Seq[(java.sql.Timestamp, Seq[LiveCycle.Bar])] = Nil
  private var minBars = 0
  private var passes = 0
  private var seed = 0L
  private var readFigures = Seq.empty[(String, Double, String)]

  def prepare(spark: SparkSession, dir: String, seed: Long): Unit = {
    import spark.implicits._
    this.dir = dir
    this.seed = seed
    Inputs.write(Inputs.bars(spark, tickers, nBars, seed), s"$dir/bars")
    bars = spark.read.parquet(s"$dir/bars").cache()
    val src = bars.select($"ticker", $"date".as("ts"), $"close", $"high", $"low")
      .as[LiveCycle.Bar].collect().toSeq
    val dates = src.map(_.ts).distinct.sortBy(_.getTime)
    minBars = dates.length - liveDates + 1
    val firstLive = dates(dates.length - liveDates)
    history = src.filter(_.ts.before(firstLive))
    live = src.filterNot(_.ts.before(firstLive)).groupBy(_.ts).toSeq.sortBy(_._1.getTime)
  }

  /** One pass: a fresh stream over history + every live bar-date, then the
    * backtest. Returns (per-date latency, streamed fills, backtest fills,
    * backtest seconds). */
  private def pass(spark: SparkSession, t: Tracer, dates: Int)
      : (Seq[Double], Array[Row], Array[Row], Double) = {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    passes += 1
    val root = s"$dir/pass$passes"
    val sink = new graft.sources.MergeSink(spark, s"$root/fills",
      keyCols = Seq("ticker", "tradeId"), partitionCol = "fill_date")
    val input = MemoryStream[LiveCycle.Bar]
    val minB = minBars + liveDates - dates
    val q = LivePortfolio.upsertFills(
      LiveCycle.fills(input.toDS(), minB, sigCfg = sigCfg, gateCfg = None, riskMode = mode),
      sink, s"$root/ckpt")
    val lat = try {
      t.span("streaming.LiveCycle.history") {
        input.addData(history ++ live.take(live.size - dates).flatMap(_._2))
        q.processAllAvailable()
      }
      live.takeRight(dates).map { case (_, bs) =>
        Stats.timed(t.span("streaming.LiveCycle.bar_date") {
          input.addData(bs); q.processAllAvailable()
        })._2
      }
    } finally q.stop()
    val streamed =
      if (sink.exists) sink.read().select(fillCols.map(col): _*).collect() else Array.empty[Row]
    val ((_, fills), bt) = Stats.timed(t.span("pipeline.AutoTrader.runDetailed") {
      val r = AutoTrader.runDetailed(spark, bars, dates, sigCfg = sigCfg, gateCfg = None,
        riskMode = mode)
      (r._1, r._2.select(fillCols.map(col): _*).collect())
    })
    Inputs.rmTree(root)
    (lat, streamed, fills, bt)
  }

  def warmUp(spark: SparkSession): Unit = pass(spark, Tracer.off, liveDates): Unit

  private def day(r: Row): String = r.getTimestamp(1).toString.take(10)

  def measure(spark: SparkSession, t: Tracer, deadline: Long, m: Meter): Unit =
    do {
      m.attempted += liveDates + 1
      // a pass that throws fails its every operation
      scala.util.Try(pass(spark, t, liveDates)) match {
        case scala.util.Failure(e) => (0 to liveDates).foreach(_ => m.fail(s"trade pass: $e"))
        case scala.util.Success((lat, streamed, batch, bt)) =>
          System.err.println(s"[perfbench] bar-dates ${lat.map(x => f"$x%.3f").mkString(" ")} s, " +
            f"backtest $bt%.3f s")
          val sDay = streamed.groupBy(day)
          val bDay = batch.groupBy(day)
          val days = live.map(_._1.toString.take(10))
          // a bar-date's operation holds only if its streamed fills equal
          // the backtest's fills for that date, fill for fill
          val bad = days.zip(lat).count { case (d, dt) =>
            val a = sDay.getOrElse(d, Array.empty[Row]).map(_.toString).sorted.toSeq
            val b = bDay.getOrElse(d, Array.empty[Row]).map(_.toString).sorted.toSeq
            if (a != b) m.fail(s"bar-date $d: ${a.size} streamed fills != ${b.size} backtest fills")
            else m.op += dt
            a != b
          }
          val extra = sDay.keySet ++ bDay.keySet -- days
          if (batch.isEmpty) m.fail("backtest: no fills, parity would be vacuous")
          else if (extra.nonEmpty) m.fail(s"backtest: fills outside the live dates $extra")
          else if (bad > 0) m.fail(s"backtest: stream disagrees on $bad bar-dates")
          else m.batch += bt
      }
    } while (System.nanoTime() < deadline)

  def report(m: Meter): Seq[(String, Double, String)] = Seq(
    ("bar_to_fill_p50_s", Stats.median(m.op), "s"),
    ("bar_to_fill_p90_s", Stats.quantile(m.op, 0.9), "s"),
    ("backtest_s", Stats.median(m.batch), "s")) ++ readFigures

  def layers(spark: SparkSession, t: Tracer, m: Meter): Map[String, Double] = {
    import scala.jdk.CollectionConverters._
    import graft.exec.PortfolioEngine
    import graft.forecast.ForecastEngine
    import graft.signals.SignalGenerator
    // stream progress of the live micro-batches (the history batch excluded)
    val prog = t.streams.progress.toSeq.filter(_.numInputRows > 0)
      .filter(_.numInputRows <= tickers.size)
    def dur(k: String) = if (prog.isEmpty) 0.0
      else Stats.median(prog.map(p => Option(p.durationMs.asScala.getOrElse(k, null))
        .map(_.toDouble).getOrElse(0.0)))
    def state(f: org.apache.spark.sql.streaming.StateOperatorProgress => Double) =
      if (prog.isEmpty) 0.0 else Stats.median(prog.map(p => p.stateOperators.headOption
        .map(f).getOrElse(0.0)))
    val lc = "streaming.LiveCycle"
    val streamFigures = Map(
      s"$lc.add_batch_ms" -> dur("addBatch"),
      s"$lc.planning_ms" -> dur("queryPlanning"),
      s"$lc.wal_commit_ms" -> dur("walCommit"),
      s"$lc.state_rows" -> state(_.numRowsTotal.toDouble),
      s"$lc.state_mb" -> state(_.memoryUsedBytes / 1e6),
      s"$lc.state_commit_ms" -> state(_.commitTimeMs.toDouble))

    // the decision kernels, called on the driver for every (ticker, live
    // bar-date) history the stream and the backtest see
    val fc = ForecastEngine.Config(horizon = 5, mcPaths = 100)
    val engCfg = mode.get.engine(PortfolioEngine.Config())
    val hist = (history ++ live.flatMap(_._2)).groupBy(_.ticker)
      .map { case (k, v) => k -> v.sortBy(b => (b.ts.getTime, b.ts.getNanos, b.close)).toArray }
    var fcNs, sigNs, sfhNs = 0L
    var calls, genCalls = 0
    val events = Seq.newBuilder[PortfolioEngine.Event]
    hist.toSeq.sortBy(_._1).foreach { case (tk, all) =>
      (all.length - liveDates + 1 to all.length).foreach { n =>
        val arr = all.take(n).map(b => (b.ts, b.close, b.high, b.low))
        val closes = arr.map(_._2)
        val t0 = System.nanoTime()
        val f = ForecastEngine.forecastOne(tk, closes, fc)
          .filter(_.model == "ENSEMBLE").sortBy(_.horizonStep)
        fcNs += System.nanoTime() - t0
        calls += 1
        if (f.nonEmpty) {
          val in = SignalGenerator.Inputs(tk, arr.last._1, closes.last, 1.0,
            f.map(_.forecast).toArray, f.map(_.lowerCi).toArray, f.map(_.upperCi).toArray,
            f.map(_.vol).toArray, modelAgreement = 0.8, diagnosticsScore = 0.7,
            probUp = f.head.probUp)
          val t1 = System.nanoTime()
          SignalGenerator.generate(in, sigCfg)
          sigNs += System.nanoTime() - t1
          genCalls += 1
        }
        val t2 = System.nanoTime()
        val sig = AutoTrader.signalForHistory(tk, arr, fc, sigCfg, None, PortfolioEngine.Config())
        sfhNs += System.nanoTime() - t2
        sig.foreach { case (ts, px, act, conf, atr) =>
          events += PortfolioEngine.Event(tk, ts, px, act, conf, isSynthetic = false, atr = atr)
        }
      }
    }
    val evs = events.result()
    val byTicker = evs.groupBy(_.ticker).values.toSeq
    val (_, rtS) = Stats.timed((1 to 20).foreach(_ =>
      byTicker.foreach(e => PortfolioEngine.runTicker(e.sortBy(PortfolioEngine.eventKey), engCfg))))
    import spark.implicits._
    val evDf = evs.toDF()
    (1 to 2).foreach(_ => t.span("exec.PortfolioEngine.backtest")(
      PortfolioEngine.backtest(evDf, engCfg).collect()))

    // MergeSink write path: each live bar-date's fills upserted in order
    // into a fresh sink, as the stream's foreachBatch does
    val sinkDir = s"$dir/upsert"
    Inputs.rmTree(sinkDir)
    val sink = new graft.sources.MergeSink(spark, sinkDir,
      keyCols = Seq("ticker", "tradeId"), partitionCol = "fill_date")
    val fills = PortfolioEngine.backtest(evDf, engCfg)
      .withColumn("fill_date", to_date(col("ts"))).cache()
    var written = 0L
    fills.select("fill_date").distinct().collect().map(_.getDate(0)).sortBy(_.getTime)
      .foreach { d =>
        val before = Inputs.files(sinkDir)
        t.span("sources.MergeSink.upsert")(
          sink.upsert(fills.where(col("fill_date") === d), assumeUniqueKeys = true))
        written += (Inputs.files(sinkDir) -- before.keySet).values.sum
      }
    val once = s"$dir/fills_once"
    fills.write.mode("overwrite").partitionBy("fill_date").parquet(once)
    val fillBytes = Inputs.bytesUnder(once).toDouble
    fills.unpersist()
    Inputs.rmTree(sinkDir); Inputs.rmTree(once)

    def us(ns: Long, n: Int) = if (n == 0) 0.0 else ns / 1e3 / n
    // the dashboards' reads, on their own seeded events table
    val reports = new Reports(oracle)
    reports.prepare(spark, s"$dir/reports", seed)
    val (readLayers, reads) = reports.layers(spark, t, m)
    readFigures = reads
    val rd = "pipeline.AutoTrader.runDetailed"
    val bt = "exec.PortfolioEngine.backtest"
    streamFigures ++ readLayers ++ Map(
      "forecast.ForecastEngine.forecastOne.us_per_call" -> us(fcNs, calls),
      "forecast.ForecastEngine.forecastOne.calls" -> calls.toDouble,
      "signals.SignalGenerator.generate.us_per_call" -> us(sigNs, genCalls),
      "pipeline.AutoTrader.signalForHistory.us_per_call" -> us(sfhNs, calls),
      "exec.PortfolioEngine.runTicker.us_per_call" ->
        rtS * 1e6 / math.max(1, 20 * byTicker.size),
      "sources.MergeSink.upsert.s" -> perCall(t, "sources.MergeSink.upsert")(_.wallS),
      "sources.MergeSink.upsert.bytes_written_per_fill_byte" ->
        (if (fillBytes > 0) written / fillBytes else 0.0),
      s"$rd.jobs" -> perCall(t, rd)(_.jobs),
      s"$rd.driver_s" -> perCall(t, rd)(_.driverS),
      s"$bt.s" -> perCall(t, bt)(_.selfS),
      s"$bt.jobs" -> perCall(t, bt)(_.jobs))
  }
}

/** Corpus curation: `q137_source_report` (LSH near-dup → connected
  * components → contamination and quality → per-source report) over a
  * seeded corpus in the `ScaleSweep.genDocuments` family, and the stages
  * of that path one by one. [[EtlCached]]'s traced run measures it. */
final class Curation(val nDocs: Long) {
  import Workloads._
  private var expectHash = ""

  def prepare(spark: SparkSession, dir: String, seed: Long): Unit = {
    Inputs.write(Inputs.documents(spark, nDocs, seed), s"$dir/documents.parquet", files = 4)
    expectHash = ""
  }

  /** Problem with a report, if any: its counts must cover the corpus, and
    * the first report fixes the hash every later one must repeat. */
  def problem(rows: Array[Row]): Option[String] = {
    val total = rows.map(_.getAs[Long]("n")).sum
    val h = rowsHash(rows.toSeq)
    if (expectHash.isEmpty) expectHash = h
    if (total != nDocs) Some(s"report counts $total docs, corpus has $nDocs")
    else if (h != expectHash) Some(s"report hash $h != first report's $expectHash")
    else None
  }

  /** The whole report twice, then the path's stages called one by one.
    * A report that fails [[problem]] counts as a failed operation. */
  def layers(spark: SparkSession, t: Tracer, dir: String, m: Meter): Map[String, Double] = {
    (1 to 2).foreach { _ =>
      m.attempted += 1
      problem(t.span("queries.q137_source_report")(
        queries("q137_source_report")(spark, dir).collect())).foreach(p => m.fail(s"curate: $p"))
    }
    val cand = t.span("queries.q52_minhash_lsh")(queries("q52_minhash_lsh")(spark, dir).count())
    val pairs = t.span("queries.q90_neardup_lsh_verify")(
      queries("q90_neardup_lsh_verify")(spark, dir).collect())
    val pairDf = spark.createDataFrame(
      spark.sparkContext.parallelize(pairs.toSeq.map(r => (r.getLong(0), r.getLong(1)))))
      .toDF("da", "db")
    t.span("operators.ConnectedComponents.run")(
      graft.operators.ConnectedComponents.run(pairDf, "da", "db").collect())
    t.span("queries.q125_contamination")(
      queries("q125_contamination")(spark, dir).write.format("noop").mode("overwrite").save())
    t.span("queries.q127_corpus_filter")(
      queries("q127_corpus_filter")(spark, dir).write.format("noop").mode("overwrite").save())
    def pc(n: String)(f: Tracer.CallStats => Double) = perCall(t, n)(f)
    val q90 = "queries.q90_neardup_lsh_verify"
    val cc = "operators.ConnectedComponents.run"
    Map(
      s"$q90.s" -> pc(q90)(_.selfS), s"$q90.task_s" -> pc(q90)(_.taskS),
      s"$q90.shuffle_write_mb" -> pc(q90)(_.shuffleWriteMb),
      s"$q90.spill_mb" -> pc(q90)(_.spillMb),
      "queries.q90.verified_per_candidate" ->
        (if (cand > 0) pairs.length.toDouble / cand else 0.0),
      s"$cc.s" -> pc(cc)(_.selfS), s"$cc.jobs" -> pc(cc)(_.jobs),
      s"$cc.shuffle_write_mb" -> pc(cc)(_.shuffleWriteMb),
      s"$cc.task_skew" -> pc(cc)(_.taskSkew),
      "queries.q137_source_report.s" -> pc("queries.q137_source_report")(_.wallS),
      "queries.q125_contamination.s" -> pc("queries.q125_contamination")(_.selfS),
      "queries.q127_corpus_filter.s" -> pc("queries.q127_corpus_filter")(_.selfS))
  }
}

/** Dashboard reads: one pass over a fixed list of 25 read-only queries on
  * a seeded `events` table, after one warm-up call of each query. Each
  * query's row count must equal the DuckDB oracle's on the same file, and
  * the pass must repeat the warm-up's hashes. [[TradeLive]]'s traced run
  * measures it. */
final class Reports(oracle: String, nEvents: Long = 15000L, nUsers: Long = 225L) {
  import Workloads._
  /** (module, query-name prefix); the modules name the per-layer figures. */
  val list: Seq[(String, String)] =
    Seq("q100", "q103", "q104", "q107", "q108", "q110", "q113", "q118", "q142")
      .map("DashboardQueries" -> _) ++
    Seq("q70", "q72", "q73", "q94").map("TradeQueries" -> _) ++
    Seq("q11", "q12", "q16", "q17", "q19").map("WindowQueries" -> _) ++
    Seq("q41", "q43", "q46", "q89").map("MetricsQueries" -> _) ++
    Seq("q156", "q157", "q158").map("FeatureQueries" -> _)
  lazy val names: Seq[(String, String)] = list.map { case (mod, p) =>
    val hits = queries.keys.filter(_.startsWith(p + "_")).toSeq
    require(hits.size == 1, s"query prefix $p matches ${hits.mkString(",")}")
    mod -> hits.head
  }
  private var dir = ""
  private val hashes = scala.collection.mutable.Map.empty[String, String]
  /** Row counts of every execution, checked against the oracle after the pass. */
  val counts = scala.collection.mutable.Map.empty[String, Seq[Long]]

  def prepare(spark: SparkSession, dir: String, seed: Long): Unit = {
    this.dir = dir
    Inputs.write(Inputs.events(spark, nEvents, nUsers, seed)
      .withColumn("ts", col("ts").cast("timestamp_ntz")), s"$dir/events.parquet")
    hashes.clear()
    counts.clear()
  }

  def dataDir: String = dir

  private def runQuery(spark: SparkSession, t: Tracer, mod: String, name: String)
      : Array[Row] = {
    val df = t.span(s"queries.$mod.build")(queries(name)(spark, dir))
    t.span(s"queries.$mod.plan")(df.queryExecution.executedPlan)
    t.span(s"queries.$mod.exec")(df.collect())
  }

  /** Problem with one query's result, if any. */
  private def problem(name: String, rows: Array[Row]): Option[String] = {
    val h = rowsHash(rows.toSeq)
    counts(name) = counts.getOrElse(name, Nil) :+ rows.length.toLong
    if (hashes.getOrElseUpdate(name, h) != h) Some(s"pass hash $h != first pass ${hashes(name)}")
    else None
  }

  /** Every query once, four at a time: this loads and compiles the same
    * code as a sequential pass at a fraction of its wall time. */
  private def warmUp(spark: SparkSession): Unit = {
    import scala.concurrent.{Await, ExecutionContext, Future}
    import scala.concurrent.duration.Duration
    val pool = java.util.concurrent.Executors.newFixedThreadPool(4)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    try {
      val results = Await.result(Future.traverse(names) { case (mod, n) =>
        Future(n -> runQuery(spark, Tracer.off, mod, n))
      }, Duration.Inf)
      results.foreach { case (n, rows) => problem(n, rows): Unit }
    } finally pool.shutdown()
  }

  /** One sequential pass, each query timed as one operation of `m`. */
  private def pass(spark: SparkSession, t: Tracer, m: Meter): Unit = {
    val t0 = System.nanoTime()
    val bad = names.count { case (mod, n) =>
      m.attempted += 1
      try {
        val (rows, dt) = Stats.timed(runQuery(spark, t, mod, n))
        problem(n, rows) match {
          case Some(p) => m.fail(s"$n: $p"); true
          case None => m.op += dt; m.add(s"op:$n", dt); false
        }
      } catch { case e: Exception => m.fail(s"$n: $e"); true }
    }
    if (bad == 0) m.batch += Stats.since(t0)
  }

  /** Warm-up, one traced pass and the oracle check. Its operations and
    * failures count in `m`; returns the per-module figures of the pass and
    * its own figures (query latency median and p90, pass wall time). */
  def layers(spark: SparkSession, t: Tracer, m: Meter)
      : (Map[String, Double], Seq[(String, Double, String)]) = {
    val mm = new Meter
    try {
      warmUp(spark)
      pass(spark, t, mm)
      Oracle.check(this, oracle, mm)
    } catch { case e: Exception => mm.fail(s"reports: $e") }
    m.attempted += math.max(mm.attempted, mm.failed)
    mm.failures.foreach(m.fail)
    val perModule = names.map(_._1).distinct.flatMap { mod =>
      def total(kind: String)(f: Tracer.CallStats => Double) =
        t.calls(s"queries.$mod.$kind").map(f).sum
      Seq(s"queries.$mod.plan_s" -> total("plan")(_.wallS),
        s"queries.$mod.exec_s" -> total("exec")(_.wallS),
        s"queries.$mod.jobs" -> total("exec")(_.jobs),
        s"queries.$mod.task_s" -> total("exec")(_.taskS))
    }.toMap
    (perModule, Seq(
      ("report_query_p50_s", Stats.median(mm.op), "s"),
      ("report_query_p90_s", Stats.quantile(mm.op, 0.9), "s"),
      ("dashboard_refresh_s", Stats.median(mm.batch), "s")))
  }
}
