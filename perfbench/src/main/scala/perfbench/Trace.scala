package perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.{StreamingQueryListener, StreamingQueryProgress}

/** Spans and Spark counters for the traced run.
  *
  * A span wraps one call from the benchmark into a module's public function.
  * While it is open, the calling thread carries the span id in the local
  * property [[Tracer.SpanKey]] and a job group named after the span; Spark
  * copies local properties to the threads that run a query's sub-jobs, so
  * broadcast and adaptive sub-jobs are attributed too. Everything stays in
  * memory until [[Tracer.sidecar]] writes it out at exit. */
final class Tracer(spark: SparkSession, val enabled: Boolean) {
  import Tracer._

  private lazy val sc = spark.sparkContext
  // nanoTime and the listener's epoch-ms job times share one clock through
  // this offset (ms resolution on job intervals, ns on spans)
  private val epochOffsetNs = System.currentTimeMillis() * 1000000L - System.nanoTime()
  val spans = mutable.ArrayBuffer.empty[Span]
  private var stack: List[Span] = Nil
  val collector = new Collector
  val streams = new StreamCollector
  private val gcAtStart = gcMillis()
  private val t0 = System.nanoTime()

  if (enabled) {
    sc.addSparkListener(collector)
    spark.streams.addListener(streams)
  }

  def span[T](name: String)(f: => T): T =
    if (!enabled) f
    else {
      val s = Span(spans.size, name, stack.headOption.map(_.id).getOrElse(-1),
        System.nanoTime(), -1L)
      spans += s
      stack = s :: stack
      setProps(Some(s))
      try f
      finally {
        s.end = System.nanoTime()
        stack = stack.tail
        setProps(stack.headOption)
      }
    }

  private def setProps(s: Option[Span]): Unit = s match {
    case Some(sp) =>
      sc.setLocalProperty(SpanKey, sp.id.toString)
      sc.setJobGroup(s"perfbench-${sp.id}", sp.name, interruptOnCancel = false)
    case None =>
      sc.setLocalProperty(SpanKey, null)
      sc.clearJobGroup()
  }

  /** Run-level counters from the tracer's start until now. */
  def runFigures(cores: Int): Map[String, Double] = {
    if (!enabled) return Map.empty
    org.apache.spark.PerfbenchBus.drain(sc)
    val wall = (System.nanoTime() - t0) / 1e9
    val taskS = collector.jobs.values.map(_.taskMs).sum / 1e3
    Map(
      "spark.jobs" -> collector.jobs.size.toDouble,
      "spark.tasks" -> collector.jobs.values.map(_.tasks).sum.toDouble,
      "spark.task_busy_frac" -> taskS / (wall * cores),
      "spark.gc_s" -> (gcMillis() - gcAtStart) / 1e3)
  }

  /** Stops collecting. */
  def close(): Unit = if (enabled) {
    org.apache.spark.PerfbenchBus.drain(sc)
    sc.removeSparkListener(collector)
    spark.streams.removeListener(streams)
  }

  /** Per-call figures for every span named `name`. */
  def calls(name: String): Seq[CallStats] = {
    org.apache.spark.PerfbenchBus.drain(sc)
    val byParent = spans.toSeq.groupBy(_.parent)
    val jobsBySpan = collector.jobs.values.groupBy(_.span)
    val jobIntervals = collector.jobs.values.toSeq.map(j =>
      (j.startMs * 1000000L - epochOffsetNs, j.endMs * 1000000L - epochOffsetNs))
    def subtree(s: Span): Seq[Span] = s +: byParent.getOrElse(s.id, Nil).flatMap(subtree)
    spans.toSeq.filter(s => s.name == name && s.end > 0).map { s =>
      val children = byParent.getOrElse(s.id, Nil).map(c => (c.start, c.end))
      val own = subtree(s).flatMap(c => jobsBySpan.getOrElse(c.id, Nil))
      val wall = s.end - s.start
      val stages = own.flatMap(_.stages.values)
      val dominant = stages.filter(_.durations.size >= 2)
        .sortBy(-_.durations.sum).headOption
      CallStats(
        wallS = wall / 1e9,
        selfS = (wall - covered(s.start, s.end, children)) / 1e9,
        driverS = (wall - covered(s.start, s.end, jobIntervals)) / 1e9,
        jobs = own.size,
        taskS = own.map(_.taskMs).sum / 1e3,
        shuffleWriteMb = own.map(_.shuffleWriteBytes).sum / 1e6,
        spillMb = own.map(_.spillBytes).sum / 1e6,
        taskSkew = dominant.map { st =>
          val d = st.durations.sorted
          d.last.toDouble / math.max(1L, d(d.size / 2))
        }.getOrElse(1.0))
    }
  }

  /** Spans, jobs and stream progress as one JSON document. */
  def sidecar: String = {
    val sp = spans.map(s =>
      s"""{"id":${s.id},"name":${Json.str(s.name)},"parent":${s.parent},""" +
        s""""start_ns":${s.start - t0},"end_ns":${s.end - t0}}""")
    val jb = collector.jobs.values.toSeq.sortBy(_.id).map(j =>
      s"""{"job":${j.id},"span":${j.span},"start_ms":${j.startMs},"end_ms":${j.endMs},""" +
        s""""tasks":${j.tasks},"task_ms":${j.taskMs},"shuffle_write_bytes":${j.shuffleWriteBytes},""" +
        s""""spill_bytes":${j.spillBytes}}""")
    val pr = streams.progress.map(_.json)
    s"""{"spans":[${sp.mkString(",")}],"jobs":[${jb.mkString(",")}],"stream_progress":[${pr.mkString(",")}]}"""
  }
}

object Tracer {
  val SpanKey = "perfbench.span"

  /** Records nothing; `span` just runs its body. */
  val off = new Tracer(null, enabled = false)

  final case class Span(id: Int, name: String, parent: Int, start: Long, var end: Long)

  final case class CallStats(wallS: Double, selfS: Double, driverS: Double,
      jobs: Int, taskS: Double, shuffleWriteMb: Double,
      spillMb: Double, taskSkew: Double)

  final class StageRec {
    var tasks = 0
    var taskMs = 0L
    var shuffleWriteBytes = 0L
    var spillBytes = 0L
    val durations = mutable.ArrayBuffer.empty[Long]
  }

  final class JobRec(val id: Int, val span: Int, val startMs: Long) {
    var endMs: Long = startMs
    val stages = mutable.Map.empty[Int, StageRec]
    def tasks: Int = stages.values.map(_.tasks).sum
    def taskMs: Long = stages.values.map(_.taskMs).sum
    def shuffleWriteBytes: Long = stages.values.map(_.shuffleWriteBytes).sum
    def spillBytes: Long = stages.values.map(_.spillBytes).sum
  }

  /** Job and task counters keyed by job; a stage's tasks count towards the
    * latest job that submitted it. */
  final class Collector extends SparkListener {
    val jobs = mutable.Map.empty[Int, JobRec]
    private val stageJob = mutable.Map.empty[Int, Int]

    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      val span = Option(e.properties).flatMap(p => Option(p.getProperty(SpanKey)))
        .map(_.toInt).getOrElse(-1)
      jobs(e.jobId) = new JobRec(e.jobId, span, e.time)
      e.stageIds.foreach(s => stageJob(s) = e.jobId)
    }

    override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
      jobs.get(e.jobId).foreach(_.endMs = e.time)
    }

    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
      for (j <- stageJob.get(e.stageId); job <- jobs.get(j); m <- Option(e.taskMetrics)) {
        val st = job.stages.getOrElseUpdate(e.stageId, new StageRec)
        st.tasks += 1
        st.taskMs += m.executorRunTime
        st.durations += m.executorRunTime
        st.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
        st.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
      }
    }
  }

  final class StreamCollector extends StreamingQueryListener {
    val progress = mutable.ArrayBuffer.empty[StreamingQueryProgress]
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      synchronized { progress += e.progress }
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  }

  /** Length of the part of [lo, hi] covered by the union of `ivs`. */
  def covered(lo: Long, hi: Long, ivs: Seq[(Long, Long)]): Long = {
    var total = 0L
    var cur = lo
    ivs.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
      .foreach { case (a, b) =>
        val from = math.max(a, cur)
        if (b > from) { total += b - from; cur = b }
      }
    total
  }

  def gcMillis(): Long = {
    import scala.jdk.CollectionConverters._
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(b => math.max(0L, b.getCollectionTime)).sum
  }
}
