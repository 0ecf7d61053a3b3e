package graft.forecast

import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark
import graft.sources.SyntheticSource

class ForecastCacheSpec extends AnyFunSuite with TestSpark {

  private def bars(n: Int, seed: Long) = SyntheticSource
    .generate(spark, Seq("AAPL", "MSFT"), nBars = n, seed = seed).toDF()
    .select("ticker", "date", "close")

  test("fit-through-cache: first run fits, identical rerun is all hits with identical rows") {
    val dir = Files.createTempDirectory("graft_fc").toString
    val cache = new ForecastCache(spark, dir)
    val b = bars(120, seed = 5)

    val (r1, s1) = cache.fitForecast(b)
    val rows1 = r1.collect().toSet
    assert(s1 === cache.Stats(hits = 0, misses = 2))
    assert(rows1.nonEmpty)
    // first run has no learned orders -> kernel ran cold, so the cached
    // result must equal the direct engine output exactly
    assert(rows1 === ForecastEngine.fitForecast(b).collect().toSet)

    val (r2, s2) = cache.fitForecast(b)
    assert(s2 === cache.Stats(hits = 2, misses = 0))
    assert(r2.collect().toSet === rows1)

    // learned orders exist now, and longer series (a walk-forward growth
    // step) are a fresh key: refit with warm starts available
    assert(cache.warmStartsFor(b).nonEmpty)
    val (r3, s3) = cache.fitForecast(bars(160, seed = 5))
    assert(s3.misses === 2 && s3.hits === 0)
    assert(r3.where(org.apache.spark.sql.functions.col("model") === "ENSEMBLE").count() > 0)
  }

  test("cached walk-forward: reruns skip every fit and reproduce identical metrics") {
    val dir = Files.createTempDirectory("graft_wf").toString
    val cache = new ForecastCache(spark, dir)
    val b = bars(140, seed = 8)

    val (m1, (h1, mi1)) = WalkForward.runCached(b, cache, k = 3, horizon = 5)
    val rows1 = m1.collect().toSet
    assert(h1 === 0L && mi1 === 6L) // 3 folds x 2 tickers, all cold
    assert(rows1.nonEmpty)
    assert(rows1.exists(_.model == "ENSEMBLE"))
    assert(rows1.forall(r => r.rmse >= 0 && r.nTest == 5))
    assert(rows1.map(_.foldId) === Set(1, 2, 3))

    val (m2, (h2, mi2)) = WalkForward.runCached(b, cache, k = 3, horizon = 5)
    assert(h2 === 6L && mi2 === 0L) // pure cache read; fit-skip rate 100%
    assert(m2.collect().toSet === rows1)
  }

  test("a file-URI cache dir: an identical rerun is all hits") {
    val dir = "file:" + Files.createTempDirectory("graft_fc_uri").toString
    val cache = new ForecastCache(spark, dir)
    val b = bars(80, seed = 3)
    val (r1, s1) = cache.fitForecast(b)
    val rows1 = r1.collect().toSet
    assert(s1 === cache.Stats(hits = 0, misses = 2))
    val (r2, s2) = cache.fitForecast(b)
    assert(s2 === cache.Stats(hits = 2, misses = 0))
    assert(r2.collect().toSet === rows1) // one stored copy, not duplicates
  }

  test("snapshot key: a changed config or series misses, a rerun all hits") {
    val dir = Files.createTempDirectory("graft_snap").toString
    val cache = new ForecastCache(spark, dir)
    val b = bars(80, seed = 4)
    val cfgA = ForecastEngine.Config()
    val cfgB = cfgA.copy(arMaxP = 3)
    assert(cache.fitForecast(b, cfgA)._2 === cache.Stats(hits = 0, misses = 2))
    assert(cache.fitForecast(b, cfgA)._2 === cache.Stats(hits = 2, misses = 0))
    assert(cache.fitForecast(b, cfgB)._2 === cache.Stats(hits = 0, misses = 2))
    val moved = b.withColumn("close", org.apache.spark.sql.functions.col("close") + 1.0)
    assert(cache.fitForecast(moved, cfgA)._2 === cache.Stats(hits = 0, misses = 2))
    assert(cache.fitForecast(b, cfgB)._2 === cache.Stats(hits = 2, misses = 0))
  }

  test("order cache: learned order warm-starts only its (ticker, regime)") {
    val s = spark
    import s.implicits._
    val dir = Files.createTempDirectory("graft_orders").toString
    val cache = new ForecastCache(spark, dir)
    val b = bars(80, seed = 6)
    assert(cache.warmStartsFor(b).isEmpty)
    val (fc, _) = cache.fitForecast(b)
    val regimes = fc.select($"ticker", $"regime").distinct().as[(String, String)]
      .collect().toMap
    val warm = cache.warmStartsFor(b)
    val prices = ForecastCache.series(b).collect().toMap
    assert(warm.keySet === regimes.toSet)
    regimes.foreach { case (t, regime) =>
      val detail = ForecastEngine.forecastOneDetailed(t, prices(t),
        ForecastEngine.Config(), warm = None)
      assert(detail.regime === regime)
      assert(warm((t, regime)) === ((detail.p, detail.d)))
      val other = Seq("CRISIS", "RANGING").find(_ != regime).get
      assert(!warm.contains((t, other)))
    }
    // bounded to the batch's tickers
    assert(cache.warmStartsFor(bars(80, seed = 6).where($"ticker" === "AAPL"))
      .keySet.map(_._1) === Set("AAPL"))
  }

  test("on a cold cache, runCached's fold-1 metrics equal run's bit for bit") {
    val dir = Files.createTempDirectory("graft_wf_cold").toString
    val cache = new ForecastCache(spark, dir)
    val b = bars(140, seed = 9)
    val (cached, _) = WalkForward.runCached(b, cache, k = 3, horizon = 5)
    val direct = WalkForward.run(b, k = 3, horizon = 5)
    val fold1 = (ms: Array[WalkForward.FoldMetric]) => ms.filter(_.foldId == 1)
      .map(m => (m.ticker, m.model, java.lang.Double.doubleToRawLongBits(m.rmse),
        java.lang.Double.doubleToRawLongBits(m.da), m.nTest)).toSet
    val expected = fold1(direct.collect())
    assert(expected.nonEmpty)
    assert(fold1(cached.collect()) === expected)
  }

  test("warm order skips the AR grid but falls back when unfittable") {
    val rng = new scala.util.Random(23)
    val x = new Array[Double](300)
    x(0) = 1.0; x(1) = 0.5
    (2 until 300).foreach(i => x(i) = 0.5 * x(i - 1) + 0.2 * x(i - 2) + rng.nextGaussian() * 0.1)
    val full = Ar.fit(x, maxP = 5)
    val warm4 = Ar.fit(x, maxP = 5, warm = Some((4, full.d)))
    assert(warm4.p === 4) // grid skipped: suggested order honored
    val absurd = Ar.fit(x, maxP = 5, warm = Some((2000, 0)))
    assert(absurd.p >= 1 && absurd.p <= 5) // fell back to the full grid
  }
}
