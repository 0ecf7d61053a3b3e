package graft.sources

import java.sql.Timestamp

import org.apache.spark.sql.DataFrame
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark
import graft.domain.Signal
import graft.signals.SignalRouter
import graft.stats.PortfolioMath

class SourceInfraSpec extends AnyFunSuite with TestSpark {

  private val t0 = Timestamp.valueOf("2024-01-01 00:00:00")
  private val t60 = Timestamp.valueOf("2024-02-20 00:00:00")

  test("failover chain: broken and empty providers fall through; provenance tagged") {
    val broken = new DataSourceManager.Source {
      val name = "yfinance"
      def extract(t: Seq[String], a: Timestamp, b: Timestamp): DataFrame =
        throw new RuntimeException("network down")
    }
    val empty = new DataSourceManager.Source {
      val name = "alpha_vantage"
      def extract(t: Seq[String], a: Timestamp, b: Timestamp): DataFrame =
        spark.emptyDataFrame
    }
    val chain = new DataSourceManager.FailoverChain(Seq(broken, empty,
      DataSourceManager.syntheticFallback(spark)))
    val res = chain.extract(Seq("AAPL"), t0, t60)
    assert(res.provider === "synthetic")
    assert(res.failedProviders === Seq("yfinance:RuntimeException", "alpha_vantage:empty"))
    assert(res.df.select("source").distinct().head().getString(0) === "synthetic")
    assert(res.df.count() > 0)
    // all providers dead → error listing every failure
    val dead = new DataSourceManager.FailoverChain(Seq(broken, empty))
    val ex = intercept[IllegalStateException](dead.extract(Seq("AAPL"), t0, t60))
    assert(ex.getMessage.contains("yfinance") && ex.getMessage.contains("alpha_vantage"))
  }

  test("synthetic terminal fallback serves an intraday window: day-floor bars are not filtered out") {
    val fb = DataSourceManager.syntheticFallback(spark)
    // bars are stamped at the day floor; a same-day 09:00-17:00 request
    // previously excluded every bar and the TERMINAL fallback reported
    // empty, failing the whole chain
    val df = fb.extract(Seq("AAPL"),
      Timestamp.valueOf("2024-01-05 09:00:00"),
      Timestamp.valueOf("2024-01-05 17:00:00"))
    assert(!df.isEmpty, "terminal fallback must serve an intraday window")
    val chain = new DataSourceManager.FailoverChain(Seq(fb))
    assert(chain.extract(Seq("AAPL"),
      Timestamp.valueOf("2024-01-05 09:00:00"),
      Timestamp.valueOf("2024-01-05 17:00:00")).df.count() >= 1)
  }

  test("signal router: priority order, disabled routes skipped, stats counted") {
    def fixed(n: String, on: Boolean, sig: Option[Signal]) = new SignalRouter.Route {
      val name = n; val enabled = on
      def generate(t: String): Option[Signal] = sig
    }
    val sig = Signal("X", t0, "BUY", 0.8, 0.02, 0.1, 100, 95, 110, "")
    val router = new SignalRouter.Router(Seq(
      fixed("ts_disabled", on = false, Some(sig)),
      fixed("ts_primary", on = true, None), // primary declines
      fixed("fallback", on = true, Some(sig))))
    val (routed, via) = router.route("X")
    assert(via === "fallback" && routed.action === "BUY")
    val stats = router.stats
    assert(!stats.attempts.contains("ts_disabled"))
    assert(stats.attempts("ts_primary") === 1 && stats.served.get("ts_primary").isEmpty)
    assert(stats.served("fallback") === 1)
    // nothing serves → HOLD default
    val none = new SignalRouter.Router(Seq(fixed("a", on = true, None)))
    val (hold, v2) = none.route("Y")
    assert(hold.action === "HOLD" && v2 === "default_hold")
  }

  test("pinball loss and NGN effective return formulas") {
    val actual = Array(1.0, 2.0, 3.0)
    val q = Array(1.5, 1.5, 1.5)
    // tau=0.5 → half the MAE
    assert(math.abs(PortfolioMath.pinballLoss(actual, q, 0.5) -
      (0.5 * (0.5 + 0.5 + 1.5) / 3)) < 1e-12)
    // under-prediction penalized more at high tau
    assert(PortfolioMath.pinballLoss(actual, q, 0.9) >
      PortfolioMath.pinballLoss(actual, q, 0.1))
    val eff = PortfolioMath.ngnEffectiveReturn(0.10, fxDriftAnnual = 0.20,
      p2pFrictionBps = 150, holdingDays = 365)
    assert(eff > 0.10 && eff < 0.32) // fx boost minus friction
    assert(PortfolioMath.ngnEffectiveReturn(0.0, 0.0, 0.0, 30) === 0.0)
  }
}
