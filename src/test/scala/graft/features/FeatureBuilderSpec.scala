package graft.features

import java.sql.Timestamp

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark
import graft.etl.Preprocessor
import graft.sources.SyntheticSource

class FeatureBuilderSpec extends AnyFunSuite with TestSpark {

  private lazy val bars = SyntheticSource
    .generate(spark, Seq("AAPL", "MSFT"), nBars = 200, seed = 11).toDF().cache()
  private lazy val feats = FeatureBuilder.build(bars, dropNa = false).cache()

  test("feature-health telemetry: counts, null fractions, warn flags") {
    val h = FeatureBuilder.health(feats).head()
    assert(h.getAs[Long]("rows") === feats.count())
    assert(h.getAs[Long]("tickers") === 2L)
    val nf = h.getAs[Double]("null_frac_ret_20")
    assert(nf >= 0.0 && nf <= 1.0)
    assert(h.getAs[Int]("decomp_available") === 1)
    // dropNa=false build keeps warm-up nulls; ret_20 misses ~20/200 rows
    // per ticker (10%), under the 30% warn threshold
    assert(h.getAs[Int]("warn_high_null_fraction") === 0)
  }

  test("lags and returns match hand-computed values") {
    val spark2 = spark
    import spark2.implicits._
    val a = bars.where($"ticker" === "AAPL").orderBy("date")
      .select("close").as[Double].collect()
    val f = feats.where($"ticker" === "AAPL").orderBy("date")
      .select("close_lag_1", "ret_1", "diff_1").collect()
    assert(f(0).isNullAt(0))
    (1 until a.length).foreach { i =>
      assert(f(i).getDouble(0) === a(i - 1))
      assert(math.abs(f(i).getDouble(1) - (a(i) / a(i - 1) - 1)) < 1e-12)
      assert(math.abs(f(i).getDouble(2) - (a(i) - a(i - 1))) < 1e-12)
    }
  }

  test("rolling mean over 5 matches a sliding average with min_periods=1") {
    val spark2 = spark
    import spark2.implicits._
    val a = bars.where($"ticker" === "MSFT").orderBy("date")
      .select("close").as[Double].collect()
    val f = feats.where($"ticker" === "MSFT").orderBy("date")
      .select("roll_mean_5").as[Double].collect()
    a.indices.foreach { i =>
      val wnd = a.slice(math.max(0, i - 4), i + 1)
      assert(math.abs(f(i) - wnd.sum / wnd.length) < 1e-9)
    }
  }

  test("cross-sectional rank is a per-date percentile across tickers") {
    val oneDate = feats.where(col("xsec_rank_ret5").isNotNull)
      .groupBy("date").agg(min("xsec_rank_ret5").as("mn"), max("xsec_rank_ret5").as("mx"),
        count(lit(1)).as("n"))
      .where(col("n") === 2)
    assert(oneDate.where(col("mn") =!= 0.0 || col("mx") =!= 1.0).isEmpty)
  }

  test("ATR is positive and drawdown non-positive") {
    assert(feats.where(col("atr_14") < 0).isEmpty)
    assert(feats.where(col("drawdown_60") > 1e-12).isEmpty)
  }

  test("cvar proxy equals exact quantile of the trailing window") {
    val spark2 = spark
    import spark2.implicits._
    val r = feats.where($"ticker" === "AAPL").orderBy("date")
      .select("ret_1", "cvar_95_60").collect()
    val rets = r.map(x => if (x.isNullAt(0)) Double.NaN else x.getDouble(0))
    (60 until r.length).foreach { i =>
      val wnd = rets.slice(i - 59, i + 1).filterNot(_.isNaN).sorted
      val idx = math.floor(0.05 * (wnd.length - 1)).toInt
      assert(math.abs(r(i).getDouble(1) - math.abs(wnd(idx))) < 1e-12)
    }
  }

  test("seasonal-126: per-phase index is the phase mean of the detrended series, resid phase-means are zero") {
    // 300 bars > 2 full cycles of 126 — the reference's statsmodels
    // precondition for the decomposition to engage (:197-201)
    val longBars = SyntheticSource
      .generate(spark, Seq("AAPL"), nBars = 300, seed = 7).toDF()
    val f = FeatureBuilder.build(longBars, dropNa = false)
      .orderBy("date")
      .select("close", "seasonal_trend_126", "seasonal_126", "seasonal_resid_126")
      .collect()
    assert(f.length === 300)
    // recompute the decomposition by hand
    val close = f.map(_.getDouble(0))
    val trend = close.indices.map(i =>
      close.slice(math.max(0, i - 125), i + 1).sum /
        (i - math.max(0, i - 125) + 1))
    val detrended = close.indices.map(i => close(i) - trend(i))
    val phaseMean = detrended.indices.groupBy(_ % 126).view
      .mapValues(is => is.map(detrended).sum / is.size).toMap
    f.zipWithIndex.foreach { case (row, i) =>
      assert(math.abs(row.getDouble(1) - trend(i)) < 1e-9, s"trend@$i")
      assert(math.abs(row.getDouble(2) - phaseMean(i % 126)) < 1e-9, s"seasonal@$i")
      assert(math.abs(row.getDouble(3) -
        (detrended(i) - phaseMean(i % 126))) < 1e-9, s"resid@$i")
    }
    // per-phase means of the residual vanish exactly (the seasonal index
    // IS the phase mean of the detrended series)
    val resid = f.map(_.getDouble(3))
    resid.indices.groupBy(_ % 126).values.foreach { is =>
      assert(math.abs(is.map(resid).sum / is.size) < 1e-9)
    }
  }

  test("dropNa removes warmup rows only") {
    val dropped = FeatureBuilder.build(bars, dropNa = true)
    assert(dropped.where(col("ret_20").isNull).isEmpty)
    assert(dropped.count() === bars.count() - 2 * 20)
  }

  test("buildFast parity: bit-exact gated columns, ulp-close moments, identical null patterns") {
    val in = bars.select("ticker", "date", "close", "high", "low")
    // 8 partitions over 2×200 rows: key runs SPLIT across partitions, so
    // the halo replay path is exercised, not just the fresh-key path
    FeatureParity.check(WindowedFeatures.build(in, dropNa = false),
      FeatureBuilder.build(in, dropNa = false))
  }

  test("buildFast carries every other input column through, in build's column order") {
    // open/volume/adjClose/source ride through the kernel untouched: no
    // join back on (ticker, date), and the schema is build's exactly
    FeatureParity.check(WindowedFeatures.build(bars, dropNa = false),
      FeatureBuilder.build(bars, dropNa = false),
      carried = Set("open", "volume", "adjClose", "source"))
  }

  test("buildFast parity on constant closes: std exactly 0, skew exactly NULL") {
    val spark2 = spark
    import spark2.implicits._
    val flat = (0 until 80).map(i =>
      ("FLAT", Timestamp.valueOf(f"2024-01-01 00:${i / 60}%02d:${i % 60}%02d"),
        50.0, 51.0, 49.0))
      .toDF("ticker", "date", "close", "high", "low")
    val plain = WindowedFeatures.build(flat, dropNa = false)
      .orderBy("date").select("roll_std_20", "roll_skew_20", "cvar_95_60").collect()
    val fast = FeatureBuilder.build(flat, dropNa = false)
      .orderBy("date").select("roll_std_20", "roll_skew_20", "cvar_95_60").collect()
    plain.zip(fast).zipWithIndex.foreach { case ((pr, fr), i) =>
      assert(pr.isNullAt(0) === fr.isNullAt(0), s"std null @ $i")
      if (!pr.isNullAt(0))
        assert(java.lang.Double.compare(
          pr.getDouble(0), fr.getDouble(0)) == 0, s"std @ $i")
      // constant frame ⇒ m2 = 0 ⇒ Spark 4 skewness is NULL on both sides
      assert(pr.isNullAt(1) && fr.isNullAt(1), s"skew null @ $i")
      assert(pr.isNullAt(2) === fr.isNullAt(2), s"cvar null @ $i")
      if (!pr.isNullAt(2)) assert(pr.getDouble(2) === fr.getDouble(2))
    }
  }

  test("buildFast dropNa keeps exactly the plain surviving row set") {
    val in = bars.select("ticker", "date", "close", "high", "low")
    val a = WindowedFeatures.build(in, dropNa = true)
      .select("ticker", "date").collect().map(_.toString).sorted
    val b = FeatureBuilder.build(in, dropNa = true)
      .select("ticker", "date").collect().map(_.toString).sorted
    assert(a.sameElements(b))
  }

  // ---- the kernel's input contract: every frame handleMissing emits ----

  /** `df` as a local frame: its size estimate counts its rows, so the
    * kernel sizes several partitions for a few thousand rows, and a
    * ticker's rows span them — its halo replay runs. */
  private def local(df: DataFrame): DataFrame =
    spark.createDataFrame(df.collectAsList(), df.schema)

  private def parity(in: DataFrame): Unit = {
    val x = local(in)
    FeatureParity.check(WindowedFeatures.build(x, dropNa = false),
      FeatureBuilder.build(x, dropNa = false),
      carried = Set("open", "volume", "adjClose", "source"))
  }

  private def gappy(df: DataFrame): DataFrame = df.withColumn("close",
    when(dayofmonth(col("date")).isin(7, 8, 21), lit(null).cast("double"))
      .otherwise(col("close")))

  private val prices = Seq("open", "high", "low", "close")

  test("kernel parity on the bench bars, carried columns included") {
    parity(SyntheticSource.generate(spark, Seq("AAPL", "MSFT"), 1006, seed = 1).toDF())
  }

  test("kernel parity on handleMissing output of interior-gap bars") {
    parity(Preprocessor.handleMissing(gappy(bars), prices))
  }

  test("kernel parity on an all-null-close ticker split over kernel partitions") {
    val dark = SyntheticSource.generate(spark, Seq("DARK"), 1500, seed = 5).toDF()
      .withColumn("close", lit(null).cast("double"))
    val in = local(Preprocessor.handleMissing(bars.unionByName(dark), prices))
    // a partition replays its halo in null mode
    val parts = FeatureKernel.run(in).where(col("ticker") === "DARK")
      .select(spark_partition_id()).distinct().count()
    assert(parts >= 2, s"DARK in $parts kernel partition(s)")
    parity(in)
    val gaps = FeatureBuilder.build(in, dropNa = false).where(col("ticker") === "DARK")
      .select("gap_run_len").distinct().collect().map(_.getLong(0))
    assert(gaps.toSeq === Seq(1500L))
  }

  test("kernel parity on a null-date row and on null high/low legs") {
    val in = bars.withColumn("date",
        when(col("ticker") === "MSFT" && col("date") === "2024-03-01",
          lit(null).cast("timestamp")).otherwise(col("date")))
      .withColumn("high", when(dayofmonth(col("date")) === 9, lit(null).cast("double"))
        .otherwise(col("high")))
      .withColumn("low", when(dayofmonth(col("date")) === 10, lit(null).cast("double"))
        .otherwise(col("low")))
    assert(in.where(col("date").isNull).count() === 1L)
    parity(in)
  }

  test("kernel parity on a null-ticker group") {
    val orphan = SyntheticSource.generate(spark, Seq("ORPH"), 200, seed = 6).toDF()
      .withColumn("ticker", lit(null).cast("string"))
    parity(bars.unionByName(orphan))
  }

  test("interior null closes without a fill throw a named error") {
    val e = intercept[Exception](FeatureBuilder.build(gappy(bars), dropNa = false).count())
    val named = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .collectFirst { case i: IllegalArgumentException => i }
    assert(named.exists(i => i.getMessage.contains("ticker ") &&
      i.getMessage.contains("fill it first")), e.toString)
  }

  test("macro as-of merge is causal (no future macro leaks)") {
    val spark2 = spark
    import spark2.implicits._
    val macroDf = Seq(
      (Timestamp.valueOf("2024-01-05 00:00:00"), 1.0),
      (Timestamp.valueOf("2024-01-20 00:00:00"), 2.0),
      (Timestamp.valueOf("2030-01-01 00:00:00"), 99.0)) // beyond data → clipped
      .toDF("date", "rate")
    val merged = FeatureBuilder.mergeMacroAsOf(bars, macroDf, Seq("rate"))
    assert(merged.where(col("date") < "2024-01-05" && col("rate").isNotNull).isEmpty)
    assert(merged.where(col("date").between("2024-01-05", "2024-01-19 23:59:59")
      && col("rate") =!= 1.0).isEmpty)
    assert(merged.where(col("date") >= "2024-01-20" && col("rate") =!= 2.0).isEmpty)
    assert(merged.where(col("rate") === 99.0).isEmpty)
    assert(merged.count() === bars.count())
  }
}
