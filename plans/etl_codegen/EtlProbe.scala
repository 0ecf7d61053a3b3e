package probe

import org.apache.logging.log4j.{Level, LogManager}
import org.apache.logging.log4j.core.{LogEvent, LoggerContext}
import org.apache.logging.log4j.core.appender.AbstractAppender
import org.apache.logging.log4j.core.config.{Configurator, Property}
import org.apache.spark.TaskContext
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}

/** Counts codegen compiles and distinct generated classes per
  * `EtlPipeline.run` on perfbench's `etl_cached` input and session
  * settings (2 tickers x 1,006 seeded bars, `local[4]`, Spark's default
  * codegen cache). Each compile is caught from the `CodeGenerator` DEBUG
  * log (one message per compile, carrying the class source: its hash
  * names the class) and attributed to the `EtlPipeline.scala` lines on
  * the compiling thread's stack, or, for a compile on a task or AQE
  * thread, to those of the SQL execution it runs under. Jobs are
  * attributed the same way (a job outside any SQL execution by its first
  * stage's name). `CodegenMetrics.METRIC_COMPILATION_TIME` counts the
  * compiles of each run. Args: work dir, runs, seed. Each distinct class
  * is written to <work>/classes/<hash>.java, each compile to
  * <work>/events.tsv (run, line, hash). */
object EtlProbe {
  final case class Ev(run: Int, line: String, hash: String)
  val events = new java.util.concurrent.ConcurrentLinkedQueue[Ev]()
  @volatile var run = 0
  @volatile var dumpDir = ""
  val jobs = new java.util.concurrent.ConcurrentLinkedQueue[(Int, String)]()

  private val Pipe = """EtlPipeline\.scala:(\d+)""".r

  def lineOf(stack: String): String =
    Pipe.findAllMatchIn(stack).map(_.group(1)).toSeq.distinct.take(2) match {
      case Seq() => "?"
      case ls => ls.mkString("<")
    }

  val execLine = new java.util.concurrent.ConcurrentHashMap[String, String]()
  @volatile var sc: org.apache.spark.SparkContext = _
  val Exec = "spark.sql.execution.id"

  def where(): String = {
    val tc = TaskContext.get()
    val eid = if (tc != null) tc.getLocalProperty(Exec) else sc.getLocalProperty(Exec)
    val l = lineOf(Thread.currentThread.getStackTrace.mkString("\n"))
    if (l != "?" || eid == null) "d" + l else "e" + eid
  }
  def resolve(w: String): String =
    if (w.startsWith("e")) Option(execLine.get(w.drop(1))).getOrElse("x" + w) else w.drop(1).replace(' ', '_')

  class Hook extends AbstractAppender("probe", null, null, true, Property.EMPTY_ARRAY) {
    override def append(e: LogEvent): Unit = {
      val msg = e.getMessage.getFormattedMessage
      if (e.getLevel == Level.DEBUG && msg.contains("class ")) {
        val md = java.security.MessageDigest.getInstance("SHA-1")
        val h = md.digest(msg.getBytes("UTF-8")).take(6).map("%02x".format(_)).mkString
        val w = where()
        events.add(Ev(run, w, h))
        val f = new java.io.File(s"$dumpDir/$h.java")
        if (!f.exists) java.nio.file.Files.write(f.toPath, (w + "\n" + msg).getBytes("UTF-8"))
      }
    }
  }

  def main(args: Array[String]): Unit = {
    val work = args(0); val runs = args(1).toInt; val seed = args(2).toLong
    val spark = perfbench.Session.start(work, 4)
    dumpDir = s"$work/classes"; new java.io.File(dumpDir).mkdirs()
    val cache = s"$work/cache"
    perfbench.Inputs.write(perfbench.Inputs.bars(spark, Seq("AAPL", "MSFT"), 1006, seed), cache)
    val ctx = LogManager.getContext(false).asInstanceOf[LoggerContext]
    val hook = new Hook; hook.start()
    val name = "org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator"
    Configurator.setLevel(name, Level.DEBUG)
    ctx.getConfiguration.getLoggerConfig(name) match {
      case lc if lc.getName == name => lc.addAppender(hook, Level.DEBUG, null)
      case _ =>
        val lc = new org.apache.logging.log4j.core.config.LoggerConfig(name, Level.DEBUG, false)
        lc.addAppender(hook, Level.DEBUG, null)
        ctx.getConfiguration.addLogger(name, lc)
    }
    ctx.updateLoggers()
    sc = spark.sparkContext
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit =
        jobs.add((run, Option(j.properties).flatMap(p => Option(p.getProperty(Exec)))
          .map("e" + _).getOrElse("s" + j.stageInfos.headOption.map(_.name).getOrElse("?"))))
      override def onOtherEvent(e: org.apache.spark.scheduler.SparkListenerEvent): Unit = e match {
        case s: org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart =>
          execLine.put(s.executionId.toString, lineOf(s.details))
        case _ =>
      }
    })
    val metric = CodegenMetrics.METRIC_COMPILATION_TIME
    val out = s"$work/out"
    (1 to runs).foreach { r =>
      run = r
      val c0 = metric.getCount
      val t0 = System.nanoTime()
      val res = graft.pipeline.EtlPipeline.run(spark, spark.read.parquet(cache),
        graft.pipeline.EtlPipeline.Config(outDir = out))
      val dt = (System.nanoTime() - t0) / 1e9
      graft.GraftSession.drain(spark.sparkContext)
      val c = metric.getCount - c0
      println(f"RUN $r%d s=$dt%.3f compiles=$c%d rows=${res.rowsPerSplit} psi=${res.psi}")
    }
    val evs = events.toArray(Array.empty[Ev]).toSeq.map(e => e.copy(line = "_" + resolve(e.line)))
    val js = jobs.toArray(Array.empty[(Int, String)]).toSeq.map(j => (j._1, resolve(j._2)))
    val cold = evs.filter(_.run == 1)
    println(s"COLD distinct classes=${cold.map(_.hash).distinct.size} compiles=${cold.size} jobs=${js.count(_._1 == 1)}")
    println("per line (cold): distinct / compiles ; warm compiles per run ; jobs")
    val lines = (evs.map(e => e.line.drop(1)) ++ js.map(_._2)).distinct.sortBy(l => l.takeWhile(_.isDigit).toIntOption.getOrElse(99999))
    lines.foreach { l =>
      val ce = cold.filter(_.line.drop(1) == l)
      val warm = (2 to runs).map(r => evs.count(e => e.run == r && e.line.drop(1) == l))
      val jb = (1 to runs).map(r => js.count(j => j._1 == r && j._2 == l))
      println(f"L$l%-22s cold distinct=${ce.map(_.hash).distinct.size}%3d compiles=${ce.size}%3d warm=${warm.mkString(",")} jobs=${jb.mkString(",")}")
    }
    java.nio.file.Files.write(new java.io.File(s"$work/events.tsv").toPath,
      evs.map(e => s"${e.run}\t${e.line}\t${e.hash}").mkString("\n").getBytes("UTF-8"))
    println(s"ALL distinct classes=${evs.map(_.hash).distinct.size}")
    spark.stop()
  }
}
