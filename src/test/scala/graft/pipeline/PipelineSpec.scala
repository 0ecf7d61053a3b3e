package graft.pipeline

import java.nio.file.Files
import java.sql.Timestamp

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.{CommandResultExec, ExternalRDDScanExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.command.DataWritingCommandExec
import org.apache.spark.sql.execution.datasources.InsertIntoHadoopFsRelationCommand
import org.apache.spark.sql.execution.window.WindowExec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.util.QueryExecutionListener
import org.scalatest.funsuite.AnyFunSuite

import graft.{GraftSession, TestSpark}
import graft.etl.{Preprocessor, Splitter}
import graft.exec.StrategyOptimizer
import graft.features.{FeatureBuilder, FeatureParity}
import graft.sources.{CacheManager, SyntheticSource}

class PipelineSpec extends AnyFunSuite with TestSpark {

  test("end-to-end ETL pipeline: extract -> validate -> features -> split -> store") {
    val out = Files.createTempDirectory("graft_etl").toString
    val bars = SyntheticSource.generate(spark, Seq("AAPL", "MSFT"), 250, seed = 3).toDF()
    val res = EtlPipeline.run(spark, bars, EtlPipeline.Config(outDir = out))
    assert(res.quality.status === "PASS")
    assert(res.rowsPerSplit.keySet === Set("training", "validation", "testing"))
    // splits materialized, partitioned by ticker, non-empty, disjoint dates
    val train = spark.read.parquet(s"$out/training")
    val test = spark.read.parquet(s"$out/testing")
    assert(train.count() === res.rowsPerSplit("training"))
    val maxTrain = train.agg(max("date")).head().getTimestamp(0)
    val minTest = test.agg(min("date")).head().getTimestamp(0)
    assert(maxTrain.before(minTest))
    // post-split normalization: train close is z-scored (mean ~ 0)
    val m = train.groupBy("ticker").agg(avg("close").as("m")).collect()
    m.foreach(r => assert(math.abs(r.getAs[Double]("m")) < 1e-6))
    // feature columns survived the pipeline
    assert(train.columns.contains("atr_14") && train.columns.contains("ret_20"))
    // the constant split tag is NOT a stage-output column (same schema
    // contract as versioned mode — split identity is the directory)
    assert(!train.columns.contains("split"))
    // PSI computed per ticker, finite
    assert(res.psi.size === 2 && res.psi.values.forall(v => !v.isNaN))
    // run catalog row written
    val cat = spark.read.parquet(s"$out/_run_catalog")
    assert(cat.where(col("run_id") === res.runId).count() === 1)
    // pipeline refuses corrupted input
    val corrupt = bars.withColumn("close", lit(-1.0))
    intercept[IllegalArgumentException] {
      EtlPipeline.run(spark, corrupt, EtlPipeline.Config(outDir = out + "2"))
    }
    // retention: with a future "now", everything ages out except the
    // catalog, which is compacted to the horizon (here: emptied)
    val farFuture = System.currentTimeMillis() + 10L * 86400000L
    val deleted = EtlPipeline.retention(spark, out, maxAgeDays = 3, nowMillis = farFuture)
    assert(deleted.toSet.contains("training") && deleted.toSet.contains("raw"))
    assert(!Files.exists(java.nio.file.Paths.get(s"$out/training")))
    assert(spark.read.parquet(s"$out/_run_catalog").count() === 0)
    // a fresh run right after retention is retained (age 0 < horizon)
    val res2 = EtlPipeline.run(spark, bars, EtlPipeline.Config(outDir = out))
    assert(EtlPipeline.retention(spark, out, maxAgeDays = 3).isEmpty)
    assert(spark.read.parquet(s"$out/_run_catalog")
      .where(col("run_id") === res2.runId).count() === 1)
  }

  test("a ticker with no validation rows gets no psi entry instead of failing the run") {
    val out = Files.createTempDirectory("graft_etl_delisted").toString
    // DLST stops trading after 120 bars: its dates all fall inside the
    // training window, so its train-vs-validation PSI has no other side
    val bars = SyntheticSource.generate(spark, Seq("AAPL"), 300, seed = 3).toDF()
      .unionByName(SyntheticSource.generate(spark, Seq("DLST"), 120, seed = 4).toDF())
    val res = EtlPipeline.run(spark, bars, EtlPipeline.Config(outDir = out))
    assert(res.psi.keySet === Set("AAPL"))
    assert(!res.psi("AAPL").isNaN)
    assert(res.rowsPerSplit.values.sum === 420L)
  }

  // ---- feature route: kernel on contract-clean input, plain otherwise ----

  private lazy val cleanBars =
    SyntheticSource.generate(spark, Seq("AAPL", "MSFT"), 250, seed = 3).toDF()

  /** Runs the pipeline, keeping the executed plan of every query it ran. */
  private def runCapturing(bars: DataFrame, out: String)
      : (EtlPipeline.RunResult, Seq[SparkPlan]) = {
    val plans = new java.util.concurrent.ConcurrentLinkedQueue[SparkPlan]()
    val listener = new QueryExecutionListener {
      def onSuccess(f: String, qe: QueryExecution, d: Long): Unit =
        plans.add(qe.executedPlan)
      def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      val res = EtlPipeline.run(spark, bars, EtlPipeline.Config(outDir = out))
      GraftSession.drain(spark.sparkContext)
      (res, plans.asScala.toSeq)
    } finally spark.listenerManager.unregister(listener)
  }

  private object Plans extends AdaptiveSparkPlanHelper {
    private def nodes(p: SparkPlan): Seq[SparkPlan] = collect(p) {
      case c: CommandResultExec => nodes(c.commandPhysicalPlan)
      case n => Seq(n)
    }.flatten

    /** The executed plan of the feature stage: the one write that emits
      * the processed stage and the split stages. */
    def featureStage(plans: Seq[SparkPlan]): Seq[SparkPlan] = {
      val hits = plans.map(nodes).filter(_.exists {
        case w: DataWritingCommandExec => w.cmd match {
          case i: InsertIntoHadoopFsRelationCommand =>
            i.outputPath.getName == "_stages_tmp"
          case _ => false
        }
        case _ => false
      })
      assert(hits.size === 1, "one stage write")
      hits.head
    }

    /** The Window operators partitioned by `ticker` alone. */
    def tickerWindows(stage: Seq[SparkPlan]): Seq[WindowExec] = stage.collect {
      case w: WindowExec if w.partitionSpec.map(_.sql) == Seq("ticker") => w
    }
  }

  private def stageRows(dir: String) = spark.read.parquet(dir)
    .select("ticker", "date").collect().map(_.toString).sorted.toSeq

  test("clean input takes the kernel route: processed stage matches build under the parity check") {
    val out = Files.createTempDirectory("graft_etl_kernel").toString
    val (res, plans) = runCapturing(cleanBars, out)
    assert(res.quality.nFeatureNulls === 0L)
    val stage = Plans.featureStage(plans)
    // the kernel's rows enter the plan as an RDD scan
    assert(stage.exists(_.isInstanceOf[ExternalRDDScanExec[_]]), "kernel route taken")
    // the reference: build over the same raw stage (its causal fill is
    // the identity on null-free prices), stored the way the stage is
    val ref = Files.createTempDirectory("graft_etl_ref").toString + "/features"
    FeatureBuilder.build(spark.read.parquet(s"$out/raw"), dropNa = false)
      .write.mode("overwrite").partitionBy("ticker").parquet(ref)
    FeatureParity.check(spark.read.parquet(ref), spark.read.parquet(s"$out/processed"),
      carried = Set("open", "volume", "adjClose", "source"))
  }

  test("kernel route: the feature stage's executed plan has no Window partitioned by ticker alone") {
    val kernel = Files.createTempDirectory("graft_etl_plan_k").toString
    assert(Plans.tickerWindows(Plans.featureStage(runCapturing(cleanBars, kernel)._2)).isEmpty)
    // the detector does see the plain form's per-ticker windows
    val plain = Files.createTempDirectory("graft_etl_plan_p").toString
    val gappy = cleanBars.withColumn("close",
      when(dayofmonth(col("date")) === 7, lit(null).cast("double")).otherwise(col("close")))
    assert(Plans.tickerWindows(Plans.featureStage(runCapturing(gappy, plain)._2)).nonEmpty)
  }

  test("interior null closes take the plain route: causal fill, then build") {
    val out = Files.createTempDirectory("graft_etl_gappy").toString
    val gappy = cleanBars.withColumn("close",
      when(dayofmonth(col("date")) === 7, lit(null).cast("double")).otherwise(col("close")))
    val (res, plans) = runCapturing(gappy, out)
    assert(res.quality.status === "WARN" && res.quality.nFeatureNulls === 16L)
    assert(!Plans.featureStage(plans).exists(_.isInstanceOf[ExternalRDDScanExec[_]]), "plain route taken")
    val ref = Files.createTempDirectory("graft_etl_ref").toString + "/features"
    FeatureBuilder.build(Preprocessor.handleMissing(spark.read.parquet(s"$out/raw"),
        Seq("open", "high", "low", "close")), dropNa = false)
      .write.mode("overwrite").partitionBy("ticker").parquet(ref)
    val cols = spark.read.parquet(ref).columns
    def rows(dir: String) = spark.read.parquet(dir).select(cols.map(col): _*)
      .orderBy("ticker", "date").collect().toSeq
    assert(spark.read.parquet(s"$out/processed").columns.toSeq === cols.toSeq)
    assert(rows(s"$out/processed") === rows(ref))
  }

  test("an all-null-close ticker completes on the plain route") {
    val out = Files.createTempDirectory("graft_etl_nullclose").toString
    val bars = cleanBars.unionByName(
      SyntheticSource.generate(spark, Seq("DARK"), 250, seed = 5).toDF()
        .withColumn("close", lit(null).cast("double")))
    val res = EtlPipeline.run(spark, bars, EtlPipeline.Config(outDir = out))
    assert(res.quality.nFeatureNulls === 250L)
    assert(res.rowsPerSplit.values.sum === 750L)
    // its train cuts are null, so it has no bins to compare: no psi entry
    assert(res.psi.keySet === Set("AAPL", "MSFT"))
    assert(res.psi.values.forall(v => !v.isNaN))
  }

  test("a null-date row completes on the plain route and tags testing, as chronological does") {
    val out = Files.createTempDirectory("graft_etl_nulldate").toString
    val bars = cleanBars.withColumn("date",
      when(col("ticker") === "MSFT" && col("date") === "2024-03-01",
        lit(null).cast("timestamp")).otherwise(col("date")))
    val res = EtlPipeline.run(spark, bars, EtlPipeline.Config(outDir = out))
    assert(res.quality.nFeatureNulls === 1L)
    assert(res.rowsPerSplit.values.sum === 500L)
    // the stage dirs hold exactly chronological's tags over the
    // processed stage, row for row
    val tagged = Splitter.chronological(spark.read.parquet(s"$out/processed"))
    Seq("training", "validation", "testing").foreach { sp =>
      assert(stageRows(s"$out/$sp") ===
        tagged.where(col("split") === sp).select("ticker", "date").collect()
          .map(_.toString).sorted.toSeq, sp)
    }
    assert(spark.read.parquet(s"$out/testing").where(col("date").isNull).count() === 1L)
  }

  test("a run fits Spark's codegen cache: at most 80 entries from an empty cache, 14 jobs") {
    // Spark keeps compiled classes in one JVM-wide cache of 100 entries
    // in 4 LRU segments of 25, keyed by (class loader, source): a class
    // compiled on the driver and again in a task takes two entries. A run
    // whose entries fit every segment compiles nothing when it runs
    // again; one that needs more than the cache holds recompiles most of
    // them every run. Which segment an entry lands in follows the class
    // loaders' identity hashes, so it varies between JVMs, and at ~74
    // entries one segment overflows in roughly one JVM in eight; the
    // footprint itself does not vary. The warm bound allows one
    // overflowing segment and no more.
    val sc = spark.sparkContext
    val counts = new GraftSession.Counts
    sc.addSparkListener(counts)
    try {
      val out = Files.createTempDirectory("graft_etl_warm").toString
      emptyCodegenCache()
      counts.reset()
      EtlPipeline.run(spark, cleanBars, EtlPipeline.Config(outDir = out))
      GraftSession.drain(sc)
      val cold = counts.toString
      assert(counts.compiles <= 80L, s"cold run: $cold")
      counts.reset()
      EtlPipeline.run(spark, cleanBars, EtlPipeline.Config(outDir = out))
      GraftSession.drain(sc)
      assert(counts.compiles <= 40L, s"warm run: $counts (cold run: $cold)")
      assert(counts.jobs <= 14, s"warm run: $counts")
    } finally sc.removeSparkListener(counts)
  }

  /** Empties Spark's codegen cache, so the next run's compiles count
    * every cache entry it needs. */
  private def emptyCodegenCache(): Unit = {
    val gen = org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
    val field = gen.getClass.getDeclaredField("cache")
    field.setAccessible(true)
    val cache = field.get(gen)
    cache.getClass.getMethod("invalidateAll").invoke(cache)
  }

  test("a run leaves no persisted kernel blocks: persistent RDDs and the cache manager are unchanged") {
    val sc = spark.sparkContext
    val cache = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sharedState.cacheManager
    // start from an empty cache so its emptiness is evidence
    spark.catalog.clearCache()
    val before = sc.getPersistentRDDs.keySet
    (1 to 2).foreach { i =>
      val out = Files.createTempDirectory(s"graft_etl_blocks_$i").toString
      EtlPipeline.run(spark, cleanBars, EtlPipeline.Config(outDir = out))
      assert(sc.getPersistentRDDs.keySet === before, s"run $i")
      assert(cache.isEmpty, s"run $i")
    }
  }

  test("versioned stages: each run is a snapshot version; prior runs stay readable") {
    val out = Files.createTempDirectory("graft_etl_v").toString
    val cfg = EtlPipeline.Config(outDir = out, versionedStages = true)
    val bars1 = SyntheticSource.generate(spark, Seq("AAPL", "MSFT"), 250, seed = 3).toDF()
    val res1 = EtlPipeline.run(spark, bars1, cfg)
    val table = new graft.sources.VersionedTable(spark, s"$out/training", "ticker")
    val v1 = table.latestVersion
    val rows1 = table.read().count()
    assert(rows1 === res1.rowsPerSplit("training"))
    // schema parity with plain mode: no split column in stage outputs
    assert(!table.read().columns.contains("split"))

    // second run with MORE data overwrites into a new version
    val bars2 = SyntheticSource.generate(spark, Seq("AAPL", "MSFT"), 300, seed = 3).toDF()
    val res2 = EtlPipeline.run(spark, bars2, cfg)
    assert(table.latestVersion > v1)
    assert(table.read().count() === res2.rowsPerSplit("training"))
    // time travel: the first run's training stage is still exactly readable
    assert(table.readAt(v1).count() === rows1)
    assert(table.history().map(_.op).forall(_ == "overwrite"))
  }

  test("cache-first reads: full hit avoids fetch; tail delta fetches only the gap") {
    val dir = Files.createTempDirectory("graft_cache").toString
    val cache = new CacheManager(spark, dir)
    var fetchCalls = List.empty[(Seq[String], Timestamp, Timestamp)]
    def fetch(ts: Seq[String], a: Timestamp, b: Timestamp) = {
      fetchCalls = (ts, a, b) :: fetchCalls
      SyntheticSource.generate(spark, ts, 90,
          startDate = java.time.LocalDate.of(2023, 12, 1), seed = 9).toDF()
        .where(col("date").between(a, b))
    }
    val t0 = Timestamp.valueOf("2024-01-01 00:00:00")
    val t30 = Timestamp.valueOf("2024-01-30 00:00:00")
    val t50 = Timestamp.valueOf("2024-02-19 00:00:00")
    // cold: miss -> fetch everything
    val first = cache.read(Seq("AAPL"), t0, t30)(fetch)
    assert(first.count() === 30 && fetchCalls.size === 1)
    // warm same range: full hit, no fetch
    val second = cache.read(Seq("AAPL"), t0, t30)(fetch)
    assert(second.count() === 30 && fetchCalls.size === 1)
    assert(cache.stats(Seq("AAPL"), t0, t30) === ((1, 0, 0)))
    // extended range: stale tail -> delta fetch only after the high-water mark
    val third = cache.read(Seq("AAPL"), t0, t50)(fetch)
    assert(third.count() === 50 && fetchCalls.size === 2)
    val (tk, dFrom, dTo) = fetchCalls.head
    assert(tk === Seq("AAPL") && dFrom.after(t30.asInstanceOf[java.util.Date] match {
      case d => new Timestamp(d.getTime - 1)
    }) && dTo === t50)
    // new ticker: miss for it only
    cache.read(Seq("AAPL", "MSFT"), t0, t30)(fetch)
    assert(fetchCalls.head._1 === Seq("MSFT"))
    // head gap: cache starts after the requested start -> fetch [start, lo)
    // and return the FULL range, not just the cached suffix
    val tm5 = Timestamp.valueOf("2023-12-27 00:00:00")
    val callsBefore = fetchCalls.size
    val headRead = cache.read(Seq("AAPL"), tm5, t30)(fetch)
    assert(fetchCalls.size === callsBefore + 1)
    val (htk, hFrom, hTo) = fetchCalls.head
    assert(htk === Seq("AAPL") && hFrom === tm5 && hTo.before(t0))
    assert(headRead.count() === 35) // 5 head days + original 30
    assert(cache.stats(Seq("AAPL"), tm5, t30) === ((1, 0, 0)))

    // head-gap probe marks: a start at/after an already-probed start is
    // settled and never re-fetched; the provider's full history (from
    // 2023-12-01) is absorbed by the first deep probe
    val preListing = Timestamp.valueOf("2023-06-01 00:00:00")
    val c1 = fetchCalls.size
    val r1 = cache.read(Seq("AAPL"), preListing, t30)(fetch)
    assert(fetchCalls.size === c1 + 1 && r1.count() === 61) // 2023-12-01..2024-01-30
    val r2 = cache.read(Seq("AAPL"), preListing, t30)(fetch)
    assert(fetchCalls.size === c1 + 1 && r2.count() === 61) // NOT re-probed
    // head-gap convergence on an UNFILLABLE range: no data exists before
    // 2023-12-01, so the empty probe is recorded once and never repeated
    val earlier = Timestamp.valueOf("2023-01-01 00:00:00")
    cache.read(Seq("AAPL"), earlier, t30)(fetch)
    assert(fetchCalls.size === c1 + 2)
    cache.read(Seq("AAPL"), earlier, t30)(fetch)
    assert(fetchCalls.size === c1 + 2) // empty probe not repeated
  }

  test("cold cache with an empty fetch: no poison dir, schema-bearing empty result, cache stays usable") {
    val dir = Files.createTempDirectory("graft_cache_cold").toString
    val cache = new CacheManager(spark, dir)
    val t0 = Timestamp.valueOf("2024-01-01 00:00:00")
    val t30 = Timestamp.valueOf("2024-01-30 00:00:00")
    def bars(ts: Seq[String]) =
      SyntheticSource.generate(spark, ts, 30,
        startDate = java.time.LocalDate.of(2024, 1, 1), seed = 7).toDF()
    // the provider has NOTHING: the old path wrote the empty frame,
    // creating a dir holding only _SUCCESS, and every later cache read
    // died on parquet schema inference
    val r = cache.read(Seq("AAPL"), t0, t30)((ts, _, _) =>
      bars(ts).where(lit(false)))
    assert(r.isEmpty && r.columns.contains("date"),
      "empty result must still carry the provider schema")
    assert(cache.isEmpty, "an empty fetch must not create the cache dir")
    // the same cache then serves a real fetch normally
    assert(cache.read(Seq("AAPL"), t0, t30)((ts, a, b) =>
      bars(ts).where(col("date").between(a, b))).count() === 30)
  }

  test("statusOf and stats consult the head-probe marks read() routes on") {
    val dir = Files.createTempDirectory("graft_cache_probe_status").toString
    val cache = new CacheManager(spark, dir)
    val t0 = Timestamp.valueOf("2024-01-01 00:00:00")
    val t30 = Timestamp.valueOf("2024-01-30 00:00:00")
    def fetch(ts: Seq[String], a: Timestamp, b: Timestamp) =
      SyntheticSource.generate(spark, ts, 30,
          startDate = java.time.LocalDate.of(2024, 1, 1), seed = 7).toDF()
        .where(col("date").between(a, b))
    cache.read(Seq("AAPL"), t0, t30)(fetch): Unit
    // ask from a start BEFORE the provider's history: the head probe
    // comes back empty and the mark settles [preStart, t0)
    val preStart = Timestamp.valueOf("2023-12-01 00:00:00")
    cache.read(Seq("AAPL"), preStart, t30)(fetch): Unit
    // read() will never fetch this head again — the report must agree
    // (the pre-fix statusOf called this ticker head_gap forever)
    val st = cache.statusOf(Seq("AAPL"), preStart, t30)
      .select("status").head().getString(0)
    assert(st === "full", s"probe-settled head reported $st")
    assert(cache.stats(Seq("AAPL"), preStart, t30) === ((1, 0, 0)))
    // a start DEEPER than any probe is still an open head gap
    val deeper = Timestamp.valueOf("2023-06-01 00:00:00")
    assert(cache.statusOf(Seq("AAPL"), deeper, t30)
      .select("status").head().getString(0) === "head_gap")
    assert(cache.stats(Seq("AAPL"), deeper, t30) === ((0, 1, 0)))
  }

  test("run ids are unique per run: re-running the same config appends a distinct catalog row") {
    val out = Files.createTempDirectory("graft_etl_runid").toString
    val bars = SyntheticSource.generate(spark, Seq("AAPL", "MSFT"), 250, seed = 3).toDF()
    val r1 = EtlPipeline.run(spark, bars, EtlPipeline.Config(outDir = out))
    val r2 = EtlPipeline.run(spark, bars, EtlPipeline.Config(outDir = out))
    assert(r1.runId !== r2.runId,
      "identical config must still get a fresh run id per run")
    val cat = spark.read.parquet(s"$out/_run_catalog")
    assert(cat.select("run_id").distinct().count() === 2)
    assert(cat.where(col("run_id") === r2.runId).count() === 1)
  }

  test("legacy millis probe sidecar is ignored, then superseded on save") {
    val dir = Files.createTempDirectory("graft_cache_legacy").toString
    val cache = new CacheManager(spark, dir)
    var fetchCalls = 0
    def fetch(ts: Seq[String], a: Timestamp, b: Timestamp) = {
      fetchCalls += 1
      SyntheticSource.generate(spark, ts, 90,
          startDate = java.time.LocalDate.of(2023, 12, 1), seed = 9).toDF()
        .where(col("date").between(a, b))
    }
    val t0 = Timestamp.valueOf("2024-01-01 00:00:00")
    val t30 = Timestamp.valueOf("2024-01-30 00:00:00")
    cache.read(Seq("AAPL"), t0, t30)(fetch)
    assert(fetchCalls === 1)
    // A pre-versioning sidecar (epoch MILLIS values) claims the head
    // start below was already probed. Read as micros those marks are
    // ~1000× too small — under the old filename they would have
    // silently suppressed the head-gap fetch forever. The versioned
    // loader must IGNORE the legacy file (fail-open: re-probe once).
    val tm5 = Timestamp.valueOf("2023-12-27 00:00:00")
    java.nio.file.Files.write(
      java.nio.file.Paths.get(s"$dir/head_probes.json"),
      s"""{"AAPL":${tm5.getTime}}""".getBytes("UTF-8"))
    cache.read(Seq("AAPL"), tm5, t30)(fetch)
    assert(fetchCalls === 2, "legacy marks must not suppress the head fetch")
    // the save that recorded the fresh micros probe deletes the legacy file
    assert(!java.nio.file.Files.exists(
      java.nio.file.Paths.get(s"$dir/head_probes.json")))
    assert(java.nio.file.Files.exists(
      java.nio.file.Paths.get(s"$dir/head_probes_us.json")))
    // and the new mark holds: same head start is settled, no re-fetch
    cache.read(Seq("AAPL"), tm5, t30)(fetch)
    assert(fetchCalls === 2)
  }

  test("strategy sweep ranks candidates and tighter stops change outcomes") {
    val spark2 = spark
    import spark2.implicits._
    val rng = new scala.util.Random(17)
    val events = Seq("A", "B").flatMap { t =>
      var p = 100.0
      (1 to 120).map { i =>
        p = math.max(1.0, p * (1 + 0.001 + 0.02 * rng.nextGaussian()))
        (t, new Timestamp(86400000L * i), p,
          if (i % 5 == 1) "BUY" else if (i % 17 == 0) "SELL" else "HOLD",
          0.9, false)
      }
    }.toDF("ticker", "ts", "price", "action", "confidence", "isSynthetic")
    val cands = StrategyOptimizer.grid(
      stops = Seq(0.02, 0.10), targets = Seq(0.05, 0.20), kellys = Seq(0.1, 0.2))
    val ranked = StrategyOptimizer.sweep(events, cands, topK = 8).collect()
    assert(ranked.length === 8)
    assert(ranked.map(_.candId).distinct.length === 8)
    // ranked descending by score
    assert(ranked.map(_.score).sliding(2).forall(p => p(0) >= p(1)))
    // at least two candidates genuinely differ in outcome
    assert(ranked.map(_.totalPnl).distinct.length > 1)
  }
}
