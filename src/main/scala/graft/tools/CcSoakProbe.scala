package graft.tools

import org.apache.spark.sql.SparkSession
import org.apache.spark.storage.StorageLevel

/** Dev probe: the bench's cc soak (stars + propagation on the ~1M-edge
  * synthetic graph) in isolation, bracketed by the bench's own calib
  * job — the instrument for the r20 alternating base-vs-opt A/B at
  * local[32] (VERDICT r19 "Next round" #1: the 32-core soak reading was
  * never measured base-vs-opt on one box; the full Bench cannot run the
  * soaks under SPARK_GRAFT_ONLY).
  *
  * Env: SPARK_GRAFT_CPUS (default 32), SPARK_GRAFT_CC_ARMS
  * ("stars,prop" default — comma set). Prints one JSON line with the
  * calib brackets and raw arm seconds.
  */
object CcSoakProbe {
  def main(args: Array[String]): Unit = {
    val cpusEnv = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val cpus = cpusEnv.toIntOption.getOrElse(0)
    require(cpus > 0, s"SPARK_GRAFT_CPUS must be a positive integer, got '$cpusEnv'")
    val arms = sys.env.getOrElse("SPARK_GRAFT_CC_ARMS", "stars,prop")
      .split(",").map(_.trim).toSet
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toLong)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val counts = new QueryProfile.Counts
    spark.sparkContext.addSparkListener(counts)
    import graft.operators.ConnectedComponents
    def clock(f: => Unit): Double = {
      val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9
    }
    def armStats(label: String): Unit = {
      Thread.sleep(300) // listener drain
      System.err.println(f"[ccprobe] $label: jobs=${counts.jobs}%d " +
        f"tasks=${counts.tasks}%d tasktime=${counts.taskTimeMs / 1e3}%.1fs " +
        f"shufMB=${counts.shuffleWriteBytes / 1e6}%.1f")
      counts.reset()
    }
    def calibJob(): Unit =
      spark.range(50000000L)
        .selectExpr("pmod(id * 2654435761, 1024) AS k", "id AS v")
        .groupBy("k").sum("v")
        .write.format("noop").mode("overwrite").save()
    calibJob() // session warm-up outside the brackets
    val calib = (1 to 2).map(_ => clock(calibJob())).min
    val edges = ConnectedComponents.soakEdges(spark)
      .persist(StorageLevel.MEMORY_AND_DISK)
    edges.count()
    armStats("setup")
    val tStars =
      if (arms("stars")) clock { ConnectedComponents.runStars(edges).count(): Unit }
      else -1.0
    if (arms("stars")) armStats("stars")
    val tProp =
      if (arms("prop")) clock { ConnectedComponents.run(edges).count(): Unit }
      else -1.0
    if (arms("prop")) armStats("prop")
    edges.unpersist()
    val calibEnd = (1 to 2).map(_ => clock(calibJob())).min
    spark.stop()
    println(f"""{"calib":$calib%.2f,"cc_soak_stars_1m":$tStars%.2f,"cc_soak_prop_1m":$tProp%.2f,"calib_end":$calibEnd%.2f,"cpus":$cpus%d}""")
  }
}
