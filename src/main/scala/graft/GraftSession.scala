package graft

import org.apache.spark.{GraftListenerBus, SparkConf, SparkContext}
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart,
  SparkListenerStageCompleted, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession

/** The local-session policy of every graft main and of the test session,
  * and the measurement tools the timing mains share. */
object GraftSession {

  /** The positive integer in env var `name`, or `default` when it is
    * unset; any other value fails with a message naming the variable. */
  def positiveInt(name: String, default: Int,
      env: Map[String, String] = sys.env): Int =
    env.get(name) match {
      case None => default
      case Some(v) =>
        val n = v.toIntOption.getOrElse(0)
        require(n > 0, s"$name must be a positive integer, got '$v'")
        n
    }

  /** Local cores: `SPARK_GRAFT_CPUS`, by default the box's processors. */
  lazy val cpus: Int =
    positiveInt("SPARK_GRAFT_CPUS", Runtime.getRuntime.availableProcessors)

  /** The session on `local[cores]` with one shuffle partition per core, UTC
    * session time, AQE on, no UI and WARN logging. Each key is set only
    * when missing, so a `-Dspark.<key>=...` system property overrides it. */
  def local(cores: Int = cpus): SparkSession = {
    val conf = new SparkConf()
      .setIfMissing("spark.master", s"local[$cores]")
      .setIfMissing("spark.app.name", "graft")
      .setIfMissing("spark.sql.shuffle.partitions", cores.toString)
      .setIfMissing("spark.sql.session.timeZone", "UTC")
      .setIfMissing("spark.sql.adaptive.enabled", "true")
      .setIfMissing("spark.ui.enabled", "false")
    val spark = SparkSession.builder().config(conf).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** Wall seconds of `f`. */
  def clock(f: => Unit): Double = {
    val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9
  }

  /** The box probe: a fixed range-50M → 1,024-key shuffle → sum job. It
    * measures the box, not the engine, so "calib" means this same job in
    * every run and artifact that divides by it. */
  def calibJob(spark: SparkSession): Unit =
    spark.range(50000000L)
      .selectExpr("pmod(id * 2654435761, 1024) AS k", "id AS v")
      .groupBy("k").sum("v")
      .write.format("noop").mode("overwrite").save()

  /** Blocks until every event posted so far has reached every listener
    * (listener and QueryExecutionListener delivery is asynchronous). */
  def drain(sc: SparkContext): Unit = GraftListenerBus.drain(sc)

  /** Spark work since the last `reset`: jobs, stages, tasks, summed
    * executor task time, shuffle bytes written and generated classes
    * compiled (`compiles`: the JVM-wide codegen compile count, so it
    * counts the compiles of every session in the JVM). With
    * SPARK_GRAFT_STAGES set, each completed stage is also logged to
    * `stageLog`. */
  final class Counts extends SparkListener {
    private def compileCount = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    @volatile private var compileBase = compileCount
    def compiles: Long = compileCount - compileBase
    @volatile var jobs = 0
    @volatile var stages = 0
    @volatile var tasks = 0
    @volatile var taskTimeMs = 0L
    @volatile var shuffleWriteBytes = 0L
    override def onJobStart(j: SparkListenerJobStart): Unit = jobs += 1
    val stageLog = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    override def onStageCompleted(s: SparkListenerStageCompleted): Unit = {
      stages += 1
      tasks += s.stageInfo.numTasks
      shuffleWriteBytes += s.stageInfo.taskMetrics.shuffleWriteMetrics.bytesWritten
      if (sys.env.contains("SPARK_GRAFT_STAGES"))
        stageLog.add(f"    stage ${s.stageInfo.stageId}%5d tasks=${s.stageInfo.numTasks}%4d " +
          f"runMs=${s.stageInfo.taskMetrics.executorRunTime}%6d ${s.stageInfo.name.take(90)}")
    }
    override def onTaskEnd(t: SparkListenerTaskEnd): Unit =
      if (t.taskMetrics != null) taskTimeMs += t.taskMetrics.executorRunTime
    def reset(): Unit = { jobs = 0; stages = 0; tasks = 0; taskTimeMs = 0L
      shuffleWriteBytes = 0L; compileBase = compileCount; stageLog.clear() }
    override def toString: String =
      f"jobs=$jobs%d tasks=$tasks%d tasktime=${taskTimeMs / 1e3}%.1fs " +
        f"shufMB=${shuffleWriteBytes / 1e6}%.1f compiles=$compiles%d"
  }
}
