package graft.tools

import org.apache.spark.sql.execution.{FormattedMode, QueryExecution}
import org.apache.spark.sql.util.QueryExecutionListener

import graft.GraftSession

/** Dev main: per-query runtime-structure profile for the optimization
  * rounds — wall seconds (min of reps after a warm rep), Spark job /
  * stage / task counts, summed executor task time, shuffle bytes
  * written, and (optionally) the executed plans. The task metrics
  * separate "the plan does too much work" (task time >> wall x cores
  * would allow) from "the query is scheduling-bound" (many jobs/stages,
  * tiny task time) — the first question guide §1 asks of every slow
  * entry.
  *
  * `--plans <outDir>` writes the executed (AQE-final) plan of every
  * action a query's warm rep ran, one `<query>_<nn>_<action>.txt` file
  * each — what actually ran, including the eager per-round jobs of
  * iterative operators, not a re-planning of the returned frame.
  *
  * Usage: runMain graft.tools.QueryProfile [--plans <outDir>] [q...]
  * Env: SPARK_GRAFT_SF_DIR (default sf0.1), SPARK_GRAFT_CPUS (default
  *      nproc), SPARK_GRAFT_REPS (2).
  */
object QueryProfile {

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val reps = GraftSession.positiveInt("SPARK_GRAFT_REPS", 2)
    val plansDir = {
      val i = args.indexOf("--plans")
      if (i >= 0 && i + 1 < args.length) Some(args(i + 1)) else None
    }
    val names0 = args.toSeq.filterNot(_.startsWith("--"))
      .filterNot(a => plansDir.contains(a))
    val unknown = names0.filterNot(graft.SparkEntry.queries.contains)
    require(unknown.isEmpty, s"unknown query names: ${unknown.mkString(", ")}")
    val spark = GraftSession.local()
    val listener = new GraftSession.Counts
    spark.sparkContext.addSparkListener(listener)
    // the query whose actions are being dumped; read on the listener
    // thread, so each switch happens only after a drain
    @volatile var planned: Option[String] = None
    val action = new java.util.concurrent.atomic.AtomicInteger
    plansDir.foreach { d =>
      new java.io.File(d).mkdirs()
      spark.listenerManager.register(new QueryExecutionListener {
        override def onSuccess(funcName: String, qe: QueryExecution,
            durationNs: Long): Unit = planned.foreach { name =>
          val f = new java.io.File(d, f"${name}_${action.incrementAndGet()}%02d_$funcName.txt")
          val w = new java.io.PrintWriter(f)
          try w.write(qe.explainString(FormattedMode)) finally w.close()
        }
        override def onFailure(funcName: String, qe: QueryExecution,
            exception: Exception): Unit = ()
      })
    }

    val names =
      if (names0.nonEmpty) names0
      else graft.SparkEntry.queries.keys.toSeq.sorted
    // serve arms read persisted artifacts; build them outside the clocks
    if (names.exists(_.contains("_serve")))
      try graft.queries.ServeArtifacts.ensure(spark, sfDir): Unit
      catch { case t: Throwable => System.err.println(s"[profile] serve warmup FAILED: $t") }

    println(f"${"query"}%-34s ${"wall_s"}%7s ${"jobs"}%5s ${"stages"}%7s " +
      f"${"tasks"}%6s ${"tasktime_s"}%10s ${"shufMB"}%7s ${"compiles"}%8s")
    names.foreach { name =>
      val fn = graft.SparkEntry.queries(name)
      def once(): Double = GraftSession.clock {
        fn(spark, sfDir).write.format("noop").mode("overwrite").save()
      }
      try {
        planned = plansDir.map(_ => name); action.set(0)
        try once() // warm rep: codegen + footers
        finally { GraftSession.drain(spark.sparkContext); planned = None }
        listener.reset()
        var best = Double.MaxValue
        (1 to reps).foreach(_ => best = math.min(best, once()))
        GraftSession.drain(spark.sparkContext)
        val perRep = reps.toDouble
        println(f"$name%-34s $best%7.2f ${listener.jobs / perRep}%5.1f " +
          f"${listener.stages / perRep}%7.1f ${listener.tasks / perRep}%6.0f " +
          f"${listener.taskTimeMs / perRep / 1e3}%10.2f " +
          f"${listener.shuffleWriteBytes / perRep / 1e6}%7.1f " +
          f"${listener.compiles / perRep}%8.1f")
        while (!listener.stageLog.isEmpty) println(listener.stageLog.poll())
      } catch {
        case t: Throwable => println(f"$name%-34s FAILED: $t")
      }
    }
    spark.stop()
  }
}
