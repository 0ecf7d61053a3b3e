package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession

/** One benchmark run of one workload in one JVM.
  *
  * {{{
  * perfbench.Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *   --work <dir> --out <result.json> --sidecar <trace.json> --oracle <oracle.py>
  * }}}
  *
  * Set-up is a session start with the seeded inputs written, then the
  * workload's warm-up. The first part runs [[Main.SetupReps]] times (the
  * first timed from the start of main, the others restart the session),
  * and `setup_s` is its median plus the warm-up's time. A full set-up
  * repeated three times would cost three warm-ups, longer than the
  * measurement itself. Then the workload's closed loop runs for the
  * given seconds. With `--trace 1` the loop runs traced, between two
  * timings of a fixed reference job, followed by the workload's direct
  * calls into its layers. The result goes to `--out` as JSON, with the
  * loop's `op_p50_s` on either kind of run; the process exits 1 when any
  * operation failed. */
object Main {
  val SetupReps = 3

  def main(argv: Array[String]): Unit = {
    val mainStart = System.nanoTime()
    val a = argv.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }
      .toMap
    def arg(k: String) = a.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    val name = arg("workload")
    val seed = arg("seed").toLong
    val seconds = arg("seconds").toDouble
    val trace = arg("trace") == "1"
    val work = Paths.get(arg("work")).toAbsolutePath.toString
    val cores = math.max(1, math.min(4, Runtime.getRuntime.availableProcessors))
    val wl = Workloads(name, arg("oracle"))

    val data = s"$work/data"
    val starts = (1 to SetupReps).map { rep =>
      val t0 = if (rep == 1) mainStart else System.nanoTime()
      if (rep > 1) Session.stop()
      Inputs.rmTree(data)
      wl.prepare(Session.start(work, cores), data, seed)
      Stats.since(t0)
    }
    val spark = Session.active
    val calib0 = if (trace) calib(spark) else 0.0
    val warm = Stats.timed(wl.warmUp(spark))._2
    val setupS = Stats.median(starts) + warm

    def loop(t: Tracer): Meter = {
      val mm = new Meter
      wl.measure(spark, t, System.nanoTime() + (seconds * 1e9).toLong, mm)
      mm
    }
    var layerFigures = Map.empty[String, Double]
    var sidecar = ""
    val m =
      if (!trace) loop(Tracer.off)
      else {
        val tracer = new Tracer(spark, enabled = true)
        val traced = loop(tracer)
        layerFigures = tracer.runFigures(cores) ++ wl.layers(spark, tracer, traced) ++
          Map("box.calib_s" -> (calib0 + calib(spark)) / 2)
        tracer.close()
        sidecar = tracer.sidecar
        traced
      }
    val rss = peakRssMb()

    val e2e = Seq(
      ("op_p50_s", Stats.median(m.op), "s"),
      ("batch_s", Stats.median(m.batch), "s"),
      ("setup_s", setupS, "s"))
    val reportFigures = wl.report(m) ++ e2e.filter(_._1 == "setup_s") ++
      Seq(("ops_failed_frac", m.failed.toDouble / math.max(1, m.attempted), "ratio"),
        ("peak_rss_mb", rss, "MB"))
    def obj(xs: Seq[(String, Double, String)]) = xs.map { case (k, v, u) =>
      s"${Json.str(k)}:{\"value\":${Json.num(v)},\"unit\":${Json.str(u)}}"
    }.mkString("{", ",", "}")
    val metrics =
      if (trace) layerFigures.toSeq.sortBy(_._1).map { case (k, v) => (k, v, "") }
        .:+(("spark.peak_rss_mb", rss, "MB"))
      else e2e
    val out =
      s"""{"workload":${Json.str(name)},"seed":$seed,"trace":$trace,""" +
        s""""correct":${m.failed == 0},"attempted":${m.attempted},"failed":${m.failed},""" +
        s""""op_p50_s":${Json.num(Stats.median(m.op))},""" +
        s""""metrics":${obj(metrics)},"report":${obj(reportFigures)},""" +
        s""""samples":{"op":${m.op.size},"batch":${m.batch.size},"starts":[${starts.map(Json.num).mkString(",")}],"warm_up_s":${Json.num(warm)}},""" +
        s""""failures":[${m.failures.take(20).map(Json.str).mkString(",")}]}"""
    Files.write(Paths.get(arg("out")), out.getBytes(UTF_8))
    if (trace) Files.write(Paths.get(arg("sidecar")), sidecar.getBytes(UTF_8))
    Session.stop()
    sys.exit(if (m.failed == 0) 0 else 1)
  }

  /** A fixed reference job, the same in every run and every commit:
    * 50M rows → 1,024-key shuffle → sum. It measures the box, not the code. */
  def calib(spark: SparkSession): Double = Stats.timed {
    spark.range(50000000L)
      .selectExpr("pmod(id * 2654435761, 1024) AS k", "id AS v")
      .groupBy("k").sum("v")
      .write.format("noop").mode("overwrite").save()
  }._2

  /** High-water resident set of this JVM, from /proc (Linux). */
  def peakRssMb(): Double = {
    import scala.jdk.CollectionConverters._
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:"))
      .map(_.replaceAll("[^0-9]", "").toDouble / 1024.0).getOrElse(Double.NaN)
  }
}

/** The shared Spark runtime: `local[N]` with N ≤ 4 cores and as many
  * shuffle partitions; every scratch path inside the work directory. */
object Session {
  def start(work: String, cores: Int): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.default.parallelism", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.driver.host", "127.0.0.1")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  def active: SparkSession = SparkSession.active

  def stop(): Unit = SparkSession.getActiveSession.orElse(SparkSession.getDefaultSession)
    .foreach { s =>
      s.stop()
      SparkSession.clearActiveSession()
      SparkSession.clearDefaultSession()
    }
}

/** Row counts of the report queries against the DuckDB oracle SQL that the
  * repository declares for them, run on the same `events` file. */
object Oracle {
  def check(r: Reports, script: String, m: Meter): Unit = {
    val sql = graft.SparkEntry.oracleSql
    val names = r.names.map(_._2)
    val spec = Paths.get(r.dataDir, "oracle_sql.json")
    Files.write(spec, names.map(n =>
      s"${Json.str(n)}:${Json.str(sql.getOrElse(n, ""))}").mkString("{", ",", "}")
      .getBytes(UTF_8))
    val outFile = Paths.get(r.dataDir, "oracle_counts.txt")
    val p = new ProcessBuilder("python3", script, r.dataDir, spec.toString, outFile.toString)
      .redirectErrorStream(true).redirectOutput(Paths.get(r.dataDir, "oracle.log").toFile)
      .start()
    val code = p.waitFor()
    val expect: Map[String, Long] =
      if (code != 0 || !Files.exists(outFile)) Map.empty
      else {
        import scala.jdk.CollectionConverters._
        Files.readAllLines(outFile).asScala.map(_.split("\t"))
          .collect { case Array(n, c) => n -> c.toLong }.toMap
      }
    names.foreach { n =>
      val got = r.counts.getOrElse(n, Nil)
      expect.get(n) match {
        case Some(e) if got.forall(_ == e) => ()
        case other =>
          // every measured execution of a query that missed its oracle
          // count fails, and none of its times stay in the samples
          m.named.get(s"op:$n").toSeq.flatten.foreach { v =>
            m.fail(s"$n: rows ${got.mkString(",")} != oracle " +
              other.map(_.toString).getOrElse(s"(no count, oracle exit $code)"))
            m.op -= v
          }
          m.batch.clear()
      }
    }
  }
}
