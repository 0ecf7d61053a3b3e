package graft.sources

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.functions._
import org.apache.spark.sql.util.QueryExecutionListener
import org.scalatest.funsuite.AnyFunSuite

import graft.{GraftSession, TestSpark}

class MergeSinkSpec extends AnyFunSuite with TestSpark {

  test("MERGE upsert: insert/update split, last-write-wins, only touched partitions rewritten") {
    val s = spark; import s.implicits._
    val dir = Files.createTempDirectory("graft_merge").toString + "/bars"
    val sink = new MergeSink(spark, dir, keyCols = Seq("ticker", "seq"), partitionCol = "m")

    val init = Seq(
      ("AAPL", 1L, 10.0, 1, 100L), ("AAPL", 2L, 11.0, 1, 100L),
      ("MSFT", 1L, 20.0, 1, 100L), ("MSFT", 2L, 21.0, 2, 100L),
      ("MSFT", 3L, 22.0, 2, 100L))
      .toDF("ticker", "seq", "price", "m", "v")
    val s1 = sink.upsert(init, versionCol = Some("v"))
    assert(s1 === sink.MergeStats(inserted = 5, updated = 0, partitions = 2))

    val untouchedDir = Paths.get(dir, "m=2")
    val mtimeBefore = Files.getLastModifiedTime(untouchedDir)

    // update AAPL seq=2 (new price), insert AAPL seq=3; batch contains a
    // duplicate key where the higher version must win; partition m=2 untouched
    val delta = Seq(
      ("AAPL", 2L, 99.0, 1, 200L), ("AAPL", 2L, 55.0, 1, 150L),
      ("AAPL", 3L, 12.0, 1, 200L))
      .toDF("ticker", "seq", "price", "m", "v")
    val s2 = sink.upsert(delta, versionCol = Some("v"))
    assert(s2 === sink.MergeStats(inserted = 1, updated = 1, partitions = 1))

    val after = sink.read().select("ticker", "seq", "price").as[(String, Long, Double)]
      .collect().toSet
    assert(after === Set(
      ("AAPL", 1L, 10.0), ("AAPL", 2L, 99.0), ("AAPL", 3L, 12.0),
      ("MSFT", 1L, 20.0), ("MSFT", 2L, 21.0), ("MSFT", 3L, 22.0)))
    // untouched partition directory was not rewritten
    assert(Files.getLastModifiedTime(untouchedDir) === mtimeBefore)
    // idempotence: replaying the same delta changes nothing
    val s3 = sink.upsert(delta, versionCol = Some("v"))
    assert(s3.inserted === 0 && s3.updated === 2)
    assert(sink.read().count() === 6)
    // commit marker reflects the LAST completed upsert (torn-write probe)
    val c = sink.lastCommit.get
    assert(c.partitions === Seq("1") && c.inserted === 0 && c.updated === 2)
  }

  test("upsert merges null and path-escaped partition values without dropping rows") {
    val s = spark; import s.implicits._
    val dir = Files.createTempDirectory("graft_merge_esc").toString + "/bars"
    val sink = new MergeSink(spark, dir, keyCols = Seq("ticker", "seq"), partitionCol = "d")
    val init = Seq(
      ("AAPL", 1L, 10.0, "a:b"), ("AAPL", 2L, 11.0, "a:b"),
      ("MSFT", 1L, 20.0, null), ("MSFT", 2L, 21.0, null),
      ("NVDA", 1L, 30.0, "plain"))
      .toDF("ticker", "seq", "price", "d")
    sink.upsert(init)
    // the physical dirs live in fragment space (escaped / Hive sentinel),
    // and the first upsert's commit marker must use the SAME namespace
    assert(Files.exists(Paths.get(dir, "d=a%3Ab")))
    assert(Files.exists(Paths.get(dir, "d=__HIVE_DEFAULT_PARTITION__")))
    assert(sink.lastCommit.get.partitions.toSet ===
      Set("a%3Ab", "__HIVE_DEFAULT_PARTITION__", "plain"))

    // update one row in EACH of the escaped and null partitions. The
    // pre-fix bare-isin filter was three-valued-logic-NULL for the null
    // partition's existing rows: MSFT seq=1 missed the anti-join and the
    // swap replaced its directory with batch-only data (silent row loss,
    // stats reading inserted=1/updated=1)
    val delta = Seq(("AAPL", 2L, 99.0, "a:b"), ("MSFT", 2L, 88.0, null))
      .toDF("ticker", "seq", "price", "d")
    val st = sink.upsert(delta)
    assert(st.inserted === 0 && st.updated === 2 && st.partitions === 2)
    val after = sink.read().select("ticker", "seq", "price").as[(String, Long, Double)]
      .collect().toSet
    assert(after === Set(
      ("AAPL", 1L, 10.0), ("AAPL", 2L, 99.0),
      ("MSFT", 1L, 20.0), ("MSFT", 2L, 88.0), ("NVDA", 1L, 30.0)))
  }

  test("recover() rolls forward a crash between the aside-rename and the staged-rename") {
    val s = spark; import s.implicits._
    val dir = Files.createTempDirectory("graft_merge_rec").toString + "/bars"
    val sink = new MergeSink(spark, dir, keyCols = Seq("ticker", "seq"), partitionCol = "m")
    val init = Seq(("AAPL", 1L, 10.0, 1), ("MSFT", 1L, 20.0, 2))
      .toDF("ticker", "seq", "price", "m")
    sink.upsert(init)

    // Simulate the torn window by hand: a committed staging dir (with
    // _SUCCESS) holding the merged replacement for m=1, and live m=1
    // already renamed aside to the trash dir — the writer died before
    // renaming staged in.
    Seq(("AAPL", 1L, 99.0, 1)).toDF("ticker", "seq", "price", "m")
      .write.partitionBy("m").parquet(s"$dir/.staging_deadbeef")
    Files.move(Paths.get(dir, "m=1"), Paths.get(dir, ".trash_deadbeef_tmp"))
    Files.createDirectories(Paths.get(dir, ".trash_deadbeef"))
    Files.move(Paths.get(dir, ".trash_deadbeef_tmp"), Paths.get(dir, ".trash_deadbeef", "m=1"))

    assert(sink.recover() === Seq("1"))
    val after = sink.read().select("ticker", "seq", "price").as[(String, Long, Double)]
      .collect().toSet
    assert(after === Set(("AAPL", 1L, 99.0), ("MSFT", 1L, 20.0)))
    assert(sink.lastCommit.exists(_.recovered))
    // staging and trash fully cleared; a second recover is a no-op
    assert(!Files.exists(Paths.get(dir, ".staging_deadbeef")))
    assert(!Files.exists(Paths.get(dir, ".trash_deadbeef")))
    assert(sink.recover() === Seq.empty)
  }

  test("recover() discards a staging dir whose parquet job never committed") {
    val s = spark; import s.implicits._
    val dir = Files.createTempDirectory("graft_merge_disc").toString + "/bars"
    val sink = new MergeSink(spark, dir, keyCols = Seq("ticker", "seq"), partitionCol = "m")
    sink.upsert(Seq(("AAPL", 1L, 10.0, 1)).toDF("ticker", "seq", "price", "m"))

    Seq(("AAPL", 1L, 99.0, 1)).toDF("ticker", "seq", "price", "m")
      .write.partitionBy("m").parquet(s"$dir/.staging_cafe0000")
    Files.delete(Paths.get(dir, ".staging_cafe0000", "_SUCCESS"))

    assert(sink.recover() === Seq.empty)
    assert(!Files.exists(Paths.get(dir, ".staging_cafe0000")))
    // live data untouched
    assert(sink.read().select("price").as[Double].collect().toSeq === Seq(10.0))
  }

  test("recover() writes per-txid commit markers when multiple crashed transactions exist") {
    val s = spark; import s.implicits._
    val dir = Files.createTempDirectory("graft_merge_multi").toString + "/bars"
    val sink = new MergeSink(spark, dir, keyCols = Seq("ticker", "seq"), partitionCol = "m")
    sink.upsert(Seq(("AAPL", 1L, 10.0, 1), ("MSFT", 1L, 20.0, 2))
      .toDF("ticker", "seq", "price", "m"))

    // two independent crashed writers, each with a committed staging dir for a
    // DIFFERENT partition
    Seq(("AAPL", 1L, 99.0, 1)).toDF("ticker", "seq", "price", "m")
      .write.partitionBy("m").parquet(s"$dir/.staging_aaaa0001")
    Seq(("MSFT", 1L, 88.0, 2)).toDF("ticker", "seq", "price", "m")
      .write.partitionBy("m").parquet(s"$dir/.staging_bbbb0002")

    assert(sink.recover().toSet === Set("1", "2"))
    // the marker belongs to ONE txid and lists only ITS partitions — the
    // pre-fix bug accumulated earlier txids' swaps into later markers
    val c = sink.lastCommit.get
    assert(c.recovered && c.partitions.length === 1)
    val after = sink.read().select("ticker", "price").as[(String, Double)].collect().toSet
    assert(after === Set(("AAPL", 99.0), ("MSFT", 88.0)))
  }

  test("comma-valued partition fragments survive the commit-marker round-trip whole") {
    val s = spark; import s.implicits._
    val dir = Files.createTempDirectory("graft_merge_comma").toString + "/t"
    val sink = new MergeSink(spark, dir, keyCols = Seq("k"), partitionCol = "m")
    sink.upsert(Seq((1L, 10.0, "us,eu")).toDF("k", "price", "m")): Unit
    // insert-only marker: one fragment, not sheared at the comma
    assert(sink.lastCommit.get.partitions === Seq("us,eu"))
    sink.upsert(Seq((1L, 99.0, "us,eu")).toDF("k", "price", "m")): Unit
    // merge marker: same
    assert(sink.lastCommit.get.partitions === Seq("us,eu"))
    assert(sink.read().select("k", "price", "m").as[(Long, Double, String)]
      .collect().toSet === Set((1L, 99.0, "us,eu")))
  }

  test("first-create marker fragments live in the DIRECTORY namespace: a timestamp partition matches its on-disk dir and later swap markers") {
    val s = spark; import s.implicits._
    val dir = Files.createTempDirectory("graft_merge_ts").toString + "/t"
    val sink = new MergeSink(spark, dir, keyCols = Seq("k"), partitionCol = "m")
    val ts = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")
    sink.upsert(Seq((1L, 10.0, ts)).toDF("k", "price", "m")): Unit
    val onDisk = Files.list(Paths.get(dir)).iterator().asScala
      .map(_.getFileName.toString).filter(_.startsWith("m="))
      .map(_.stripPrefix("m=")).toSeq
    val first = sink.lastCommit.get.partitions
    // String.valueOf(ts) would give "... 00:00:00.0" — a fragment no dir
    // (and no later swap-listed marker) ever carries
    assert(first === onDisk, s"marker $first vs dirs $onDisk")
    sink.upsert(Seq((1L, 99.0, ts)).toDF("k", "price", "m")): Unit
    assert(sink.lastCommit.get.partitions === first,
      "merge marker disagrees with the first upsert's marker namespace")
  }

  test("a failed partition-swap rename aborts the upsert with the staged data intact; recover() completes the commit") {
    val s = spark; import s.implicits._
    val conf = spark.sparkContext.hadoopConfiguration
    conf.set("fs.graftswapf.impl", classOf[GraftSwapFailFs].getName)
    val local = Files.createTempDirectory("graft_merge_swapf").toString + "/t"
    val sink = new MergeSink(spark, s"graftswapf://$local",
      keyCols = Seq("k"), partitionCol = "m")
    sink.upsert(Seq((1L, 10.0, 1), (2L, 20.0, 2)).toDF("k", "price", "m")): Unit

    GraftSwapFailFs.failStagedSwaps.set(true)
    try {
      val e = intercept[java.io.IOException] {
        sink.upsert(Seq((1L, 99.0, 1)).toDF("k", "price", "m"))
      }
      assert(e.getMessage.contains("failed to move staged"))
    } finally GraftSwapFailFs.failStagedSwaps.set(false)
    // the staged merged partition is still on disk (crash shape), the
    // marker still describes the LAST completed commit...
    assert(Files.list(Paths.get(local)).iterator().asScala
      .exists(_.getFileName.toString.startsWith(".staging_")))
    assert(!sink.lastCommit.get.recovered)
    // ...and recover() rolls the batch forward: nothing was lost
    assert(sink.recover() === Seq("1"))
    assert(sink.read().select("k", "price").as[(Long, Double)].collect().toSet
      === Set((1L, 99.0), (2L, 20.0)))
    assert(sink.lastCommit.get.recovered)
  }

  /** A table on the failure-injecting filesystem, seeded with m=1 and m=2. */
  private def swapFailSink(name: String): (String, MergeSink) = {
    val s = spark; import s.implicits._
    spark.sparkContext.hadoopConfiguration
      .set("fs.graftswapf.impl", classOf[GraftSwapFailFs].getName)
    val local = Files.createTempDirectory(name).toString + "/t"
    val sink = new MergeSink(spark, s"graftswapf://$local", keyCols = Seq("k"), partitionCol = "m")
    sink.upsert(Seq((1L, 10.0, 1), (2L, 20.0, 2)).toDF("k", "price", "m")): Unit
    (local, sink)
  }

  private def dotDirs(local: String, prefix: String): Seq[String] =
    Files.list(Paths.get(local)).iterator().asScala.map(_.getFileName.toString)
      .filter(_.startsWith(prefix)).toSeq

  private def armed[T](flag: java.util.concurrent.atomic.AtomicBoolean)(body: => T): T = {
    flag.set(true)
    try body finally flag.set(false)
  }

  test("a crash between the incoming write and its rename: recover() discards the incoming dir, live rows and lastCommit unchanged") {
    val s = spark; import s.implicits._
    val (local, sink) = swapFailSink("graft_merge_incf")
    val before = sink.lastCommit.get
    val e = intercept[java.io.IOException] {
      armed(GraftSwapFailFs.failIncoming)(sink.upsert(Seq((3L, 30.0, 3)).toDF("k", "price", "m")))
    }
    assert(e.getMessage.contains("failed to move incoming"))
    // the staged batch sits in .incoming_<txid>, which readers ignore
    assert(dotDirs(local, ".incoming_").size === 1)
    assert(dotDirs(local, ".staging_").isEmpty)
    assert(sink.read().select("k", "price").as[(Long, Double)].collect().toSet
      === Set((1L, 10.0), (2L, 20.0)))
    // an incoming dir is never rolled forward: it is not a merged replacement
    assert(sink.recover() === Seq.empty)
    assert(dotDirs(local, ".incoming_").isEmpty)
    assert(sink.read().select("k", "price").as[(Long, Double)].collect().toSet
      === Set((1L, 10.0), (2L, 20.0)))
    assert(sink.lastCommit.get === before)
  }

  test("a crash after the incoming rename: recover() rolls the insert forward") {
    val s = spark; import s.implicits._
    val (local, sink) = swapFailSink("graft_merge_insf")
    val e = intercept[java.io.IOException] {
      armed(GraftSwapFailFs.failStagedSwaps)(sink.upsert(Seq((3L, 30.0, 3)).toDF("k", "price", "m")))
    }
    assert(e.getMessage.contains("failed to move staged"))
    assert(dotDirs(local, ".incoming_").isEmpty)
    assert(dotDirs(local, ".staging_").size === 1)
    assert(sink.recover() === Seq("3"))
    assert(sink.read().select("k", "price").as[(Long, Double)].collect().toSet
      === Set((1L, 10.0), (2L, 20.0), (3L, 30.0)))
    assert(sink.lastCommit.get.recovered)
    assert(dotDirs(local, ".").filterNot(_.endsWith(".crc")).isEmpty)
  }

  test("a failed commit-marker rename fails the upsert by name instead of reporting success with no marker") {
    val s = spark; import s.implicits._
    val (_, sink) = swapFailSink("graft_merge_markf")
    val e = intercept[java.io.IOException] {
      armed(GraftSwapFailFs.failMarker)(sink.upsert(Seq((3L, 30.0, 3)).toDF("k", "price", "m")))
    }
    assert(e.getMessage.contains("commit marker"))
    // the swap itself completed before the marker: the rows are live
    assert(sink.read().select("k", "price").as[(Long, Double)].collect().toSet
      === Set((1L, 10.0), (2L, 20.0), (3L, 30.0)))
  }

  test("a pure-insert upsert into new partitions runs exactly one Spark job and caches nothing") {
    val s = spark; import s.implicits._
    val dir = Files.createTempDirectory("graft_merge_1job").toString + "/t"
    val sink = new MergeSink(spark, dir, keyCols = Seq("ticker", "seq"), partitionCol = "m")
    sink.upsert(Seq(("AAPL", 1L, 10.0, 1), ("MSFT", 1L, 20.0, 2))
      .toDF("ticker", "seq", "price", "m")): Unit
    val batch = Seq(("AAPL", 2L, 11.0, 3), ("MSFT", 2L, 21.0, 3), ("MSFT", 3L, 22.0, 4))
      .toDF("ticker", "seq", "price", "m")
    val cachedBefore = spark.sparkContext.getPersistentRDDs.keySet
    val counts = new GraftSession.Counts
    // a foreachBatch batch runs on the stream's session, which turns AQE
    // off; under AQE the repartition's map stage would be a job of its own
    val aqe = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    GraftSession.drain(spark.sparkContext)
    spark.sparkContext.addSparkListener(counts)
    val st = try sink.upsert(batch, assumeUniqueKeys = true) finally {
      GraftSession.drain(spark.sparkContext)
      spark.sparkContext.removeSparkListener(counts)
      spark.conf.set("spark.sql.adaptive.enabled", aqe)
    }
    assert(st === sink.MergeStats(inserted = 3, updated = 0, partitions = 2))
    assert(counts.jobs === 1, counts.toString)
    assert(spark.sparkContext.getPersistentRDDs.keySet === cachedBefore)
    assert(sink.lastCommit.get.partitions.toSet === Set("3", "4"))
    assert(sink.read().count() === 5)
  }

  test("an empty batch leaves no directory on a missing table and no trace on an existing one") {
    val s = spark; import s.implicits._
    val dir = Files.createTempDirectory("graft_merge_empty").toString + "/t"
    val sink = new MergeSink(spark, dir, keyCols = Seq("k"), partitionCol = "m")
    val empty = Seq.empty[(Long, Double, Int)].toDF("k", "price", "m")
    assert(sink.upsert(empty) === sink.MergeStats(0, 0, 0))
    assert(!Files.exists(Paths.get(dir)) && !sink.exists)
    sink.upsert(Seq((1L, 10.0, 1)).toDF("k", "price", "m")): Unit
    val before = sink.lastCommit.get
    assert(sink.upsert(empty) === sink.MergeStats(0, 0, 0))
    assert(dotDirs(dir, ".").filterNot(_.endsWith(".crc")).isEmpty)
    assert(sink.lastCommit.get === before)
    assert(sink.read().count() === 1)
  }

  test("a colliding upsert scans only the live partition dirs it collides with") {
    val s = spark; import s.implicits._
    val dir = Files.createTempDirectory("graft_merge_scan").toString + "/t"
    val sink = new MergeSink(spark, dir, keyCols = Seq("k"), partitionCol = "m")
    sink.upsert(Seq((1L, 10.0, 1), (2L, 20.0, 2), (3L, 30.0, 3)).toDF("k", "price", "m")): Unit
    val plans = new java.util.concurrent.ConcurrentLinkedQueue[SparkPlan]()
    val listener = new QueryExecutionListener {
      def onSuccess(f: String, qe: QueryExecution, d: Long): Unit = plans.add(qe.executedPlan): Unit
      def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    val st = try {
      val r = sink.upsert(Seq((2L, 99.0, 2), (4L, 40.0, 4)).toDF("k", "price", "m"))
      GraftSession.drain(spark.sparkContext)
      r
    } finally spark.listenerManager.unregister(listener)
    assert(st === sink.MergeStats(inserted = 1, updated = 1, partitions = 2))
    val helper = new AdaptiveSparkPlanHelper {}
    val roots = plans.asScala.toSeq.flatMap(p => helper.collectWithSubqueries(p) {
      case scan: FileSourceScanExec => scan.relation.location.rootPaths
    }).flatten.map(_.toUri.getPath).filterNot(_.contains("/."))
    assert(roots.map(_.stripPrefix(dir + "/")).toSet === Set("m=2"), roots)
    assert(sink.read().select("k", "price").as[(Long, Double)].collect().toSet
      === Set((1L, 10.0), (2L, 99.0), (3L, 30.0), (4L, 40.0)))
  }

  test("colliding upserts read their staged batch without a hidden-path WARN") {
    import org.apache.logging.log4j.{Level, LogManager}
    import org.apache.logging.log4j.core.{LogEvent, LoggerContext}
    import org.apache.logging.log4j.core.appender.AbstractAppender
    import org.apache.logging.log4j.core.config.{LoggerConfig, Property}
    val s = spark; import s.implicits._
    val warns = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val hook = new AbstractAppender("hidden-path-probe", null, null, true,
        Property.EMPTY_ARRAY) {
      override def append(e: LogEvent): Unit =
        if (e.getLevel.isMoreSpecificThan(Level.WARN))
          warns.add(e.getMessage.getFormattedMessage): Unit
    }
    hook.start()
    val name = "org.apache.spark.sql.execution.datasources.DataSource"
    val ctx = LogManager.getContext(false).asInstanceOf[LoggerContext]
    val lc = new LoggerConfig(name, Level.WARN, true)
    lc.addAppender(hook, Level.WARN, null)
    ctx.getConfiguration.addLogger(name, lc)
    ctx.updateLoggers()
    try {
      val init = Seq((1L, 10.0, 1), (2L, 20.0, 2)).toDF("k", "price", "m")
      val delta = Seq((2L, 99.0, 2), (3L, 30.0, 3)).toDF("k", "price", "m")
      val want = Set((1L, 10.0), (2L, 99.0), (3L, 30.0))
      val sink = new MergeSink(spark,
        Files.createTempDirectory("graft_merge_warn").toString + "/t",
        keyCols = Seq("k"), partitionCol = "m")
      sink.upsert(init): Unit
      assert(sink.upsert(delta) === sink.MergeStats(inserted = 1, updated = 1, partitions = 2))
      assert(sink.read().select("k", "price").as[(Long, Double)].collect().toSet === want)
      val table = new VersionedTable(spark,
        Files.createTempDirectory("graft_vt_warn").toString + "/t", partitionCol = "m")
      table.upsert(init, Seq("k")): Unit
      val st = table.upsert(delta, Seq("k"))
      assert(st.inserted === 1L && st.updated === 1L)
      assert(table.read().select("k", "price").as[(Long, Double)].collect().toSet === want)
      assert(!warns.asScala.exists(_.contains("All paths were ignored")), warns)
    } finally {
      ctx.getConfiguration.removeLogger(name)
      ctx.updateLoggers()
      hook.stop()
    }
  }
}
