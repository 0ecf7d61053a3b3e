package probe

import org.apache.spark.sql.functions._

import graft.GraftSession
import graft.pipeline.EtlPipeline

/** Warm `EtlPipeline.run` on perfbench's `etl_cached` input shape (2
  * tickers x 1,006 seeded bars, read back from parquet) and on the same
  * bars with every close of the 7th of a month null (the gappy input of
  * PipelineSpec's interior-gap case): jobs, tasks, summed task time and
  * wall per run, counted with `GraftSession.Counts`. Each input gets two
  * untimed runs, then `runs` counted ones. Args: work dir, runs, seed.
  *
  * Run it from test scope in a checkout (copy it under src/test/scala):
  *   sbt "Test/runMain probe.FeatureRouteProbe /tmp/frp 5 1"
  */
object FeatureRouteProbe {
  def main(args: Array[String]): Unit = {
    val work = args(0); val runs = args(1).toInt; val seed = args(2).toLong
    val spark = GraftSession.local(4)
    val sc = spark.sparkContext
    val cache = s"$work/cache"
    graft.sources.SyntheticSource.generate(spark, Seq("AAPL", "MSFT"), 1006, seed = seed)
      .toDF().write.mode("overwrite").parquet(cache)
    val clean = spark.read.parquet(cache)
    val gappy = clean.withColumn("close",
      when(dayofmonth(col("date")) === 7, lit(null).cast("double")).otherwise(col("close")))
    val counts = new GraftSession.Counts
    sc.addSparkListener(counts)
    Seq("clean" -> clean, "gappy" -> gappy).foreach { case (name, in) =>
      val cfg = EtlPipeline.Config(outDir = s"$work/out_$name")
      (1 to 2).foreach(_ => EtlPipeline.run(spark, in, cfg))
      val walls = (1 to runs).map { r =>
        GraftSession.drain(sc)
        counts.reset()
        val t0 = System.nanoTime()
        EtlPipeline.run(spark, in, cfg)
        val dt = (System.nanoTime() - t0) / 1e9
        GraftSession.drain(sc)
        println(f"RUN $name $r%d wall=$dt%.3f s $counts")
        dt
      }
      println(f"MEDIAN $name wall=${walls.sorted.apply(walls.size / 2)}%.3f s")
    }
    spark.stop()
  }
}
