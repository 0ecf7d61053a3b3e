package probe

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

/** Runs `EtlPipeline.run` once per input and writes every output bit to
  * one text file: the quality report, rowsPerSplit, psi (raw bits), and
  * each stage dir's schema and sorted rows (doubles as raw bits). Inputs:
  * perfbench's `etl_cached` bars (seed 4), PipelineSpec's clean bars, its
  * gappy (plain-route) and null-date variants, 8 tickers (so the
  * per-date features see more than two rows), and a delisted plus an
  * all-null-close ticker. Run it on two trees and `diff` the files.
  * Args: work dir, out file. */
object Dump {
  def v(x: Any): String = x match {
    case null => "null"
    case d: Double => java.lang.Long.toHexString(java.lang.Double.doubleToRawLongBits(d))
    case f: Float => java.lang.Integer.toHexString(java.lang.Float.floatToRawIntBits(f))
    case r: Row => r.toSeq.map(v).mkString("[", ",", "]")
    case s: scala.collection.Seq[_] => s.map(v).mkString("<", ",", ">")
    case o => o.toString
  }

  def main(args: Array[String]): Unit = {
    val work = args(0); val outFile = args(1)
    val spark = perfbench.Session.start(work, 4)
    val sb = new StringBuilder
    val clean = graft.sources.SyntheticSource.generate(spark, Seq("AAPL", "MSFT"), 250, seed = 3).toDF()
    perfbench.Inputs.write(perfbench.Inputs.bars(spark, Seq("AAPL", "MSFT"), 1006, 4), s"$work/cache")
    val gappy = clean.withColumn("close",
      when(dayofmonth(col("date")) === 7, lit(null).cast("double")).otherwise(col("close")))
    val nulldate = clean.withColumn("date",
      when(col("ticker") === "MSFT" && col("date") === "2024-03-01",
        lit(null).cast("timestamp")).otherwise(col("date")))
    val dark = graft.sources.SyntheticSource.generate(spark, Seq("AAPL"), 300, seed = 3).toDF()
      .unionByName(graft.sources.SyntheticSource.generate(spark, Seq("DLST"), 120, seed = 4).toDF())
      .unionByName(graft.sources.SyntheticSource.generate(spark, Seq("DARK"), 300, seed = 5).toDF()
        .withColumn("close", lit(null).cast("double")))
    val wide = graft.sources.SyntheticSource.generate(spark, (1 to 8).map(i => s"W$i"), 300, seed = 6).toDF()
    val inputs = Seq("bench" -> (() => spark.read.parquet(s"$work/cache")),
      "wide" -> (() => wide),
      "spec" -> (() => clean), "gappy" -> (() => gappy), "nulldate" -> (() => nulldate),
      "dark" -> (() => dark))
    inputs.foreach { case (name, df) =>
      val out = s"$work/out_$name"
      val r = graft.pipeline.EtlPipeline.run(spark, df(), graft.pipeline.EtlPipeline.Config(outDir = out))
      sb ++= s"== $name\nquality ${r.quality}\nrows ${r.rowsPerSplit.toSeq.sorted}\n"
      r.psi.toSeq.sorted.foreach { case (t, p) => sb ++= f"psi $t ${v(p)} $p%.17g\n" }
      r.stageDirs.toSeq.sorted.foreach { case (st, dir) =>
        val d = spark.read.parquet(dir)
        sb ++= s"-- stage $st ${dir.stripPrefix(out)}\nschema ${d.schema.fields.map(f => s"${f.name}:${f.dataType.simpleString}:${f.nullable}").mkString(",")}\n"
        d.collect().map(v).sorted.foreach(l => sb ++= l + "\n")
      }
      val cat = spark.read.parquet(s"$out/_run_catalog")
      sb ++= s"catalog schema ${cat.schema.simpleString} rows=${cat.count()}\n"
    }
    java.nio.file.Files.write(new java.io.File(outFile).toPath, sb.toString.getBytes("UTF-8"))
    spark.stop()
  }
}
