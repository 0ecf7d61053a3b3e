package graft.queries

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import Det._

/** Metrics/statistics operators from SURVEY.md §2.10:
  * forecast regression metrics RMSE/sMAPE/DA (forcester_ts/metrics.py:39-212),
  * Sharpe/Sortino (etl/portfolio_math.py:84-238), omega ratio (:540-851),
  * fat-tail Kelly (:249-265, :1033-1082), PSI drift (etl/split_diagnostics
  * .py:41-57), ACF (etl/time_series_analyzer.py:338-438), one/two-sample
  * t-stats (etl/regime_detector.py:47-131), VaR backtest violations +
  * Kupiec POF LR (forcester_ts/var_backtest.py:41-236).
  *
  * "Forecast" here is a rolling-mean-5 predictor over [[Bars]] so every
  * metric has a closed-form DuckDB oracle; the real model kernels live in
  * graft.forecast and are property-tested instead.
  */
object MetricsQueries extends QueryModule {

  /** Strictly-past 20-bar rolling σ of `r` from exact sliding sums
    * over the (−20..−1) frame (shared by q46/q63). */
  private def withSigma20Past(df: DataFrame): DataFrame = {
    val dec0 = DecimalType(38, 0)
    val w = Window.partitionBy(col("ticker")).orderBy(col("ts"), col("seq"))
    val q9 = qfloor(col("r"), 1e9).cast(dec0)
    withSlidingSums(df, w,
        SlidingSum("_sq", qfloor(col("r"), 1e12), dec0, -20, -1),
        SlidingSum("_sqq", q9 * q9, dec0, -20, -1))
      .withColumn("sigma", momentStddev(col("_sq_n").cast("double"),
        col("_sq").cast("double") / 1e12, col("_sqq").cast("double") / 1e18))
      .drop("_sq", "_sq_n", "_sqq", "_sqq_n")
  }

  /** Strictly-past 5-bar rolling-mean predictor over the (−5..−1)
    * frame. Input df must carry (ticker, ts, seq, price); adds `pred`. */
  private def withPred5(df: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("ticker")).orderBy(col("ts"), col("seq"))
    withSlidingSums(df, w, SlidingSum("_p5", col("price"), DecimalType(38, 6), -5, -1))
      .withColumn("pred",
        when(col("_p5_n") > 0, col("_p5").cast("double") / col("_p5_n")))
      .drop("_p5", "_p5_n")
  }

  override def queries: Map[String, QFn] = Map(
    // RMSE / sMAPE / 1-step directional accuracy of a rolling-mean forecast.
    "q40_forecast_metrics" -> ((s, dir) => {
      import s.implicits._
      val w = Window.partitionBy($"ticker").orderBy($"ts", $"seq")
      val prev = lag($"price", 1).over(w)
      val base = Bars.of(s, dir)
        .transform(withPred5)
        .select($"ticker", $"price".as("actual"), $"pred", prev.as("prev"))
        .where($"pred".isNotNull && $"prev".isNotNull)
      val err = $"pred" - $"actual"
      // tie-free quantized means (Det.qavg): err² ≤ (max price 561)² ≈
      // 3.2e5 → scale 1e12 (3.2e17 ≪ clamp); smape terms ∈ [0, 2]
      base.groupBy($"ticker").agg(
        count(lit(1)).as("n"),
        sqrt(qavg(err * err, 1e12)).as("rmse"),
        qavg(lit(2.0) * abs(err) / (abs($"pred") + abs($"actual")), 1e12).as("smape"),
        davg(when(signum($"pred" - $"prev") === signum($"actual" - $"prev"), 1.0)
          .otherwise(0.0)).as("da"))
    }),

    // Sharpe / Sortino / total return over 1-bar returns, annualized √252.
    "q41_sharpe_sortino" -> ((s, dir) => {
      import s.implicits._
      val w = Window.partitionBy($"ticker").orderBy($"ts", $"seq")
      val ret = $"price" / lag($"price", 1).over(w) - 1
      val base = Bars.of(s, dir)
        .select($"ticker", ret.as("ret")).where($"ret".isNotNull)
      // tie-free quantized moments: r linear at 1e12; squares GRID-EXACT
      // on the 1e9 grid (Det.qpowsum — full dynamic range, a 1e-5-return
      // ticker keeps its variance, a 1e4 ratio spike stays in range)
      val mu = qavg($"ret", 1e12)
      val sd = qstddev($"ret", 1e12, 1e9)
      val dn = qstddev(when($"ret" < 0, $"ret").otherwise(lit(0.0)), 1e12, 1e9)
      base.groupBy($"ticker").agg(
        count(lit(1)).as("n"),
        (mu / sd * sqrt(lit(252.0))).as("sharpe"),
        (mu / dn * sqrt(lit(252.0))).as("sortino"),
        qsum($"ret", 1e12).as("total_ret"))
    }),

    // Expected-shortfall-to-edge + payoff asymmetry (portfolio_math.py:
    // 852-1032): ES = −mean of the k = max(1, ⌊0.05·n⌋) worst returns
    // (rank ties share a value, so any tie order yields the same mean);
    // the no-positive-edge sentinel is NULL here (SQL has no Infinity —
    // the library function stats/PortfolioMath.esToEdge keeps it).
    "q98_es_edge" -> ((s, dir) => {
      import s.implicits._
      val w = Window.partitionBy($"ticker").orderBy($"ts", $"seq")
      val ret = $"price" / lag($"price", 1).over(w) - 1
      val base = Bars.of(s, dir)
        .select($"ticker", ret.as("r")).where($"r".isNotNull)
      val ranked = base
        .withColumn("rn", row_number().over(
          Window.partitionBy($"ticker").orderBy($"r")))
        .withColumn("n", count(lit(1)).over(Window.partitionBy($"ticker")))
      val inTail = $"rn" <= greatest(lit(1.0), floor($"n" * lit(0.05)))
      ranked.groupBy($"ticker").agg(
          count(lit(1)).as("n"),
          (qavg(when(inTail, $"r"), 1e12) * -1.0).as("es_95"),
          qavg($"r", 1e12).as("edge"),
          qavg(when($"r" > 0, $"r"), 1e12).as("win_mean"),
          qavg(when($"r" < 0, $"r"), 1e12).as("loss_mean"))
        .withColumn("es_to_edge", when($"edge" > 0, $"es_95" / $"edge"))
        .withColumn("payoff_asym", $"win_mean" / abs($"loss_mean"))
        .select($"ticker", $"n", $"es_95", $"edge", $"es_to_edge", $"payoff_asym")
    }),

    // Omega ratio at hurdle τ + fat-tail fractional Kelly (kurtosis dampener).
    "q42_omega_kelly" -> ((s, dir) => {
      import s.implicits._
      val w = Window.partitionBy($"ticker").orderBy($"ts", $"seq")
      val tau = 0.0
      val ret = $"price" / lag($"price", 1).over(w) - 1
      val base = Bars.of(s, dir)
        .select($"ticker", ret.as("r")).where($"r".isNotNull)
      // tie-free quantized moments: r linear at 1e12; higher powers
      // GRID-EXACT (Det.qpowsum): squares on the 1e9 grid, cubes 1e6,
      // quartics 1e4 — exact integer products, in range even at the
      // theoretical worst-case tick ratio (see Det scaladoc bounds)
      val n = count($"r").cast("double")
      val sx = qsum($"r", 1e12)
      val sx2 = qpowsum($"r", 1e9, 2)
      val sx3 = qpowsum($"r", 1e6, 3)
      val sx4 = qpowsum($"r", 1e4, 4)
      val mean = sx / n
      val m2 = sx2 / n - mean * mean
      val m4 = sx4 / n - lit(4.0) * mean * sx3 / n +
        lit(6.0) * mean * mean * sx2 / n - lit(3.0) * mean * mean * mean * mean
      val kurt = m4 / (m2 * m2)
      val kellyRaw = mean / m2
      val damp = lit(1.0) / (lit(1.0) + greatest(kurt - 3.0, lit(0.0)) / lit(4.0))
      base.groupBy($"ticker").agg(
        (qsum(greatest($"r" - tau, lit(0.0)), 1e12) /
          qsum(greatest(lit(tau) - $"r", lit(0.0)), 1e12)).as("omega"),
        least(kellyRaw * damp * lit(0.5), lit(0.2)).as("kelly"))
    }),

    // PSI drift between chronological halves with fixed-width bins.
    "q43_psi_drift" -> ((s, dir) => {
      import s.implicits._
      val eps = 1e-6
      val binned = Bars.of(s, dir)
        .withColumn("part", when($"ts" < lit("2024-01-16"), "train").otherwise("test"))
        .withColumn("bin", floor($"price" / 50.0))
      val counts = binned.groupBy($"ticker", $"bin").agg(
        sum(when($"part" === "train", 1).otherwise(0)).as("n_train"),
        sum(when($"part" === "test", 1).otherwise(0)).as("n_test"))
      val tot = counts.groupBy($"ticker").agg(
        sum($"n_train").as("t_train"), sum($"n_test").as("t_test"))
      counts.join(tot, "ticker")
        .withColumn("p", $"n_train".cast("double") / $"t_train" + eps)
        .withColumn("q", $"n_test".cast("double") / $"t_test" + eps)
        .groupBy($"ticker")
        .agg(qsum(($"p" - $"q") * log($"p" / $"q"), 1e12).as("psi"))
    }),

    // ACF at lags 1/2/3 of the price series (Pearson on lag pairs).
    "q44_acf" -> ((s, dir) => {
      import s.implicits._
      val w = Window.partitionBy($"ticker").orderBy($"ts", $"seq")
      val base = Bars.of(s, dir).select($"ticker", $"ts", $"seq", $"price",
        lag($"price", 1).over(w).as("y1"),
        lag($"price", 2).over(w).as("y2"),
        lag($"price", 3).over(w).as("y3"))
      def pearson(y: org.apache.spark.sql.Column) = {
        val x = when(y.isNotNull, $"price")
        val n = count(x).cast("double")
        // raw prices sit on the 1e-6 grid, so qfloor at 1e6 recovers the
        // exact raw integers and the pairwise PRODUCTS (the q83 tie
        // class, off the double grid) become exact integer sums
        val sx = sum(x.cast("decimal(38,6)")).cast("double")
        val sy = sum(y.cast("decimal(38,6)")).cast("double")
        val sxy = qprodsum(x, y, 1e6)
        val sx2 = qprodsum(x, x, 1e6)
        val sy2 = qprodsum(y, y, 1e6)
        (n * sxy - sx * sy) / sqrt((n * sx2 - sx * sx) * (n * sy2 - sy * sy))
      }
      base.groupBy($"ticker").agg(
        pearson($"y1").as("acf1"),
        pearson($"y2").as("acf2"),
        pearson($"y3").as("acf3"))
    }),

    // One-sample t-stat of returns vs 0 + two-sample t between halves.
    "q45_ttest" -> ((s, dir) => {
      import s.implicits._
      val w = Window.partitionBy($"ticker").orderBy($"ts", $"seq")
      val ret = $"price" / lag($"price", 1).over(w) - 1
      val base = Bars.of(s, dir)
        .select($"ticker", $"ts", ret.as("r")).where($"r".isNotNull)
        .withColumn("part", when($"ts" < lit("2024-01-16"), "a").otherwise("b"))
      val rA = when($"part" === "a", $"r")
      val rB = when($"part" === "b", $"r")
      // tie-free quantized moments (r at 1e12, r² at 1e9 — see q41)
      def m(c: org.apache.spark.sql.Column) = qavg(c, 1e12)
      def v(c: org.apache.spark.sql.Column) = {
        val n = count(c).cast("double")
        val sx = qsum(c, 1e12)
        val sx2 = qpowsum(c, 1e9, 2)
        // quantized moments can dip epsilon-negative for near-constant
        // samples - clamp like dstddev does (identically in the oracle)
        greatest((n * sx2 - sx * sx) / (n * (n - lit(1.0))), lit(0.0))
      }
      base.groupBy($"ticker").agg(
        (m($"r") / sqrt(v($"r") / count($"r"))).as("t_onesample"),
        ((m(rA) - m(rB)) /
          sqrt(v(rA) / count(rA) + v(rB) / count(rB))).as("t_twosample_welch"))
    }),

    // Pinball (quantile) loss of a rolling exact-quantile forecaster:
    // predict the τ=0.25 quantile of the next return from the prior 20,
    // score with the asymmetric pinball loss (var_backtest.py pinball).
    "q48_pinball" -> ((s, dir) => {
      import s.implicits._
      val w = Window.partitionBy($"ticker").orderBy($"ts", $"seq")
      val ret = $"price" / lag($"price", 1).over(w) - 1
      // null first-returns are dropped BEFORE the window so both engines
      // collect identical 20-element frames (DuckDB's list() keeps NULLs).
      // The frame list is collected ONCE — textual copies of the same
      // window expression are evaluated as separate window aggregates
      // (the q156 lesson), so the CASE works over the concrete column.
      val base = Bars.of(s, dir)
        .select($"ticker", $"ts", $"seq", ret.as("r"))
        .where($"r".isNotNull)
        .withColumn("_f20", expr(
          """collect_list(r) OVER
            |  (PARTITION BY ticker ORDER BY ts, seq ROWS BETWEEN 20 PRECEDING AND 1 PRECEDING)""".stripMargin))
        .withColumn("q25", expr(
          """CASE WHEN size(_f20) >= 10
            |THEN array_sort(_f20)[CAST(floor(0.25 * (size(_f20) - 1)) AS INT)]
            |END""".stripMargin))
        .where($"q25".isNotNull)
        .drop("_f20")
      val tau = 0.25
      base.groupBy($"ticker").agg(
        count(lit(1)).as("n"),
        qavg(when($"r" >= $"q25", lit(tau) * ($"r" - $"q25"))
          .otherwise(lit(1 - tau) * ($"q25" - $"r")), 1e12).as("pinball_25"))
    }),

    // Diebold–Mariano with Newey–West HAC variance (statistical_tests.py
    // :34-111): rolling-mean-5 forecaster vs the random walk; the loss
    // differential's lagged autocovariances come from window lag products.
    "q49_diebold_mariano" -> ((s, dir) => {
      import s.implicits._
      val w = Window.partitionBy($"ticker").orderBy($"ts", $"seq")
      val pred2 = lag($"price", 1).over(w)
      val base = Bars.of(s, dir)
        .transform(withPred5)
        .select($"ticker", $"ts", $"seq", $"price",
          $"pred".as("p1"), pred2.as("p2"))
        .where($"p1".isNotNull && $"p2".isNotNull)
        .withColumn("d",
          ($"p1" - $"price") * ($"p1" - $"price") -
            ($"p2" - $"price") * ($"p2" - $"price"))
      val wT = Window.partitionBy($"ticker")
      // tie-free quantized means: the loss differential d = e1²−e2² is
      // price-scale-squared (|d| ≤ ~3.2e5 → 1e12); its centered lag
      // PRODUCTS reach ~4e11 → 1e6
      val dBar = qavgOver($"d", 1e12, wT)
      val centered = base
        .withColumn("dm", $"d" - dBar) // window #1 (full-partition mean)
        .withColumn("dm1", lag($"dm", 1).over(w)) // lags of the concrete column
        .withColumn("dm2", lag($"dm", 2).over(w))
        .withColumn("dm3", lag($"dm", 3).over(w))
        .withColumn("dm4", lag($"dm", 4).over(w))
      def g(c: org.apache.spark.sql.Column) =
        qprodsum($"dm", c, 1e6) / count($"dm")
      val n = count($"dm").cast("double")
      val nwVar = g($"dm") +
        lit(2.0) * (lit(0.8) * g($"dm1") + lit(0.6) * g($"dm2") +
          lit(0.4) * g($"dm3") + lit(0.2) * g($"dm4"))
      val meanD = qavg($"d", 1e12)
      centered.groupBy($"ticker").agg(
        count(lit(1)).as("n"),
        (meanD / sqrt(greatest(nwVar, lit(1e-300)) / n)).as("dm_stat"))
    }),

    // VaR violations at 95% (normal, rolling σ20) + Kupiec POF LR statistic.
    "q46_var_backtest" -> ((s, dir) => {
      import s.implicits._
      val w = Window.partitionBy($"ticker").orderBy($"ts", $"seq")
      val ret = $"price" / lag($"price", 1).over(w) - 1
      val base = Bars.of(s, dir)
        .select($"ticker", $"ts", $"seq", ret.as("r"))
        .transform(withSigma20Past)
        .where($"sigma".isNotNull && $"r".isNotNull)
        .withColumn("violation", ($"r" < lit(-1.6448536269514722) * $"sigma").cast("int"))
      val p = 0.05
      base.groupBy($"ticker").agg(
        count(lit(1)).as("n"),
        sum($"violation").as("n_violations"),
        {
          val n = count(lit(1)).cast("double")
          val x = sum($"violation").cast("double")
          val pi = x / n
          // x·ln(pi) and (n−x)·ln(1−pi) are 0 at the x=0 / x=n boundaries
          // (lim t·ln t = 0) — guard so neither engine hits ln(0).
          val tx = when(x === 0.0, lit(0.0)).otherwise(x * log(pi))
          val tnx = when(n - x === 0.0, lit(0.0)).otherwise((n - x) * log(lit(1.0) - pi))
          val lr = lit(-2.0) * ((n - x) * log(lit(1.0) - p) + x * log(lit(p))) +
            lit(2.0) * (tnx + tx)
          lr.as("kupiec_lr")
        })
    }),

    // Christoffersen independence LR over the q46 violation series
    // (var_backtest.py:141-236): Markov transition counts n00/n01/n10/n11
    // via lag, then the likelihood-ratio of independent vs first-order
    // clustered violations. Same formula as StatTests.christoffersen.
    "q63_christoffersen" -> ((s, dir) => {
      import s.implicits._
      val w = Window.partitionBy($"ticker").orderBy($"ts", $"seq")
      val ret = $"price" / lag($"price", 1).over(w) - 1
      val base = Bars.of(s, dir)
        .select($"ticker", $"ts", $"seq", ret.as("r"))
        .transform(withSigma20Past)
        .where($"sigma".isNotNull && $"r".isNotNull)
        .withColumn("v", ($"r" < lit(-1.6448536269514722) * $"sigma").cast("int"))
      val wv = Window.partitionBy($"ticker").orderBy($"ts", $"seq")
      val trans = base
        .withColumn("pv", lag($"v", 1).over(wv))
        .where($"pv".isNotNull)
      val agg = trans.groupBy($"ticker").agg(
        sum(when($"pv" === 0 && $"v" === 0, 1).otherwise(0)).as("n00"),
        sum(when($"pv" === 0 && $"v" === 1, 1).otherwise(0)).as("n01"),
        sum(when($"pv" === 1 && $"v" === 0, 1).otherwise(0)).as("n10"),
        sum(when($"pv" === 1 && $"v" === 1, 1).otherwise(0)).as("n11"))
      // ll(k, n, pi) with lim t·ln(t) = 0 boundary guards (ANSI-safe)
      def ll(k: org.apache.spark.sql.Column, n: org.apache.spark.sql.Column,
          pi: org.apache.spark.sql.Column) =
        when(n === 0 || pi <= 0.0 || pi >= 1.0, lit(0.0))
          .otherwise((n - k) * log(lit(1.0) - pi) + k * log(pi))
      val (n00, n01, n10, n11) =
        ($"n00".cast("double"), $"n01".cast("double"),
          $"n10".cast("double"), $"n11".cast("double"))
      val tot = n00 + n01 + n10 + n11
      val p01 = when(n00 + n01 > 0, n01 / (n00 + n01)).otherwise(lit(0.0))
      val p11 = when(n10 + n11 > 0, n11 / (n10 + n11)).otherwise(lit(0.0))
      val p = (n01 + n11) / greatest(tot, lit(1.0))
      val lr = lit(-2.0) * (ll(n01 + n11, tot, p) -
        (ll(n01, n00 + n01, p01) + ll(n11, n10 + n11, p11)))
      agg.select($"ticker", $"n00", $"n01", $"n10", $"n11", lr.as("lr_ind"))
    }),

    // Ljung–Box Q over the first 5 return autocorrelations
    // (statistical_tests.py:193-250, StatTests.ljungBox): center once via
    // a full-partition window mean, then each r_k is a lag-product sum —
    // one shuffle, no self-joins.
    "q87_ljung_box" -> ((s, dir) => {
      import s.implicits._
      val w = Window.partitionBy($"ticker").orderBy($"ts", $"seq")
      val ret = $"price" / lag($"price", 1).over(w) - 1
      val base = Bars.of(s, dir)
        .select($"ticker", $"ts", $"seq", ret.as("r")).where($"r".isNotNull)
      val wT = Window.partitionBy($"ticker")
      // tie-free sums: r mean at 1e12; the centered lag PRODUCTS are
      // GRID-EXACT on the 1e9 grid (Det.qprodsum — a 1e-5-return ticker
      // keeps a nonzero denom, a 1e4 spike stays inside HUGEINT)
      val mBar = qavgOver($"r", 1e12, wT)
      var lagd = base.withColumn("c", $"r" - mBar)
      (1 to 5).foreach(k => lagd = lagd.withColumn(s"c$k", lag($"c", k).over(w)))
      def g(k: Int) = qprodsum($"c", col(s"c$k"), 1e9)
      val denom = qprodsum($"c", $"c", 1e9)
      val n = count($"c").cast("double")
      val q = n * (n + lit(2.0)) * (1 to 5).map { k =>
        (g(k) / denom) * (g(k) / denom) / (n - lit(k.toDouble))
      }.reduce(_ + _)
      lagd.groupBy($"ticker").agg(count(lit(1)).as("n"), q.as("lb_q"))
    }),

    // Mean rank of 3 rolling-mean forecasters across 4 chronological
    // folds (statistical_tests.py:112-174 rank stability): per-fold RMSE
    // → rank over (ticker, fold) → average rank per model.
    "q88_rank_stability" -> ((s, dir) => {
      import s.implicits._
      val w = Window.partitionBy($"ticker").orderBy($"ts", $"seq")
      val wT = Window.partitionBy($"ticker")
      // the three strictly-past rolling means share one running prefix
      def predK(k: Int) =
        when(col(s"_m${k}_n") > 0, col(s"_m$k").cast("double") / col(s"_m${k}_n"))
      val means = Seq(2, 5, 10)
        .map(k => SlidingSum(s"_m$k", $"price", DecimalType(38, 6), -k, -1))
      val base = withSlidingSums(
          Bars.of(s, dir).select($"ticker", $"ts", $"seq", $"price"), w, means: _*)
        .withColumn("rn", row_number().over(w))
        .withColumn("cnt", count(lit(1)).over(wT))
        .withColumn("fold", expr("((rn - 1) * 4) div cnt"))
        .withColumn("e2", predK(2) - $"price")
        .withColumn("e5", predK(5) - $"price")
        .withColumn("e10", predK(10) - $"price")
      val long = base.select($"ticker", $"fold",
          expr("stack(3, 'ma2', e2, 'ma5', e5, 'ma10', e10) as (model, err)"))
        .where($"err".isNotNull)
      val rmse = long.groupBy($"ticker", $"fold", $"model")
        .agg(sqrt(qavg($"err" * $"err", 1e12)).as("rmse"))
      val wR = Window.partitionBy($"ticker", $"fold").orderBy($"rmse", $"model")
      rmse.withColumn("rnk", rank().over(wR))
        .groupBy($"ticker", $"model")
        .agg((sum($"rnk").cast("double") / count(lit(1))).as("avg_rank"))
    }),

    // Hurst exponent (regime_detector.py:144-187): slope of
    // log std(x_t − x_{t−l}) vs log l for l = 2..20. The 19 lag diffs
    // come from ONE window pass (no self-join — lag columns share the
    // per-ticker sort), unpivoted with stack; std and the log-log OLS
    // are exact-decimal aggregations.
    "q89_hurst" -> ((s, dir) => {
      import s.implicits._
      val w = Window.partitionBy($"ticker").orderBy($"ts", $"seq")
      var dfl = Bars.of(s, dir).select($"ticker", $"ts", $"seq", $"price")
      (2 to 20).foreach(l =>
        dfl = dfl.withColumn(s"d$l", $"price" - lag($"price", l).over(w)))
      // The window leaves |tickers| output partitions — repartition before
      // the 19× unpivot so the (19·rows)-element aggregation runs
      // cluster-wide, not on |tickers| tasks. Count derived from the
      // input size (capped at shuffle.partitions), not the constant
      // defaultParallelism — r19: 32 near-empty tasks cost more than the
      // unpivot they spread. Decimal sums are order-independent, so the
      // redistribution cannot move the result.
      val pairs = dfl.repartition(graft.operators.SizedPartitions.of(dfl))
        .select($"ticker", expr("stack(19, " +
          (2 to 20).map(l => s"$l, d$l").mkString(", ") + ") as (l, d)"))
        .where($"d".isNotNull)
      val sd = pairs.groupBy($"ticker", $"l").agg(dstddev($"d").as("sdl"))
      val pts = sd.select($"ticker", log($"l".cast("double")).as("lx"),
        log(greatest($"sdl", lit(1e-12))).as("ly"))
      val n = count(lit(1)).cast("double")
      // log-log points are O(10) magnitude -> tie-free sums at 1e12
      def s18(c: org.apache.spark.sql.Column) = qsum(c, 1e12)
      pts.groupBy($"ticker").agg(
        ((n * s18($"lx" * $"ly") - s18($"lx") * s18($"ly")) /
          (n * s18($"lx" * $"lx") - s18($"lx") * s18($"lx"))).as("hurst"))
    })
  )

  private val over = "PARTITION BY ticker ORDER BY ts, seq"

  override def oracles: Map[String, String] = Map(
    "q40_forecast_metrics" -> {
      val f5 = "ROWS BETWEEN 5 PRECEDING AND 1 PRECEDING"
      s"""${Bars.sql},
         |aligned AS (
         |  SELECT ticker,
         |    price AS actual,
         |    CAST(SUM(CAST(price AS DECIMAL(38,6))) OVER ($over $f5) AS DOUBLE)
         |      / COUNT(price) OVER ($over $f5) AS pred,
         |    lag(price, 1) OVER ($over) AS prev
         |  FROM bars)
         |SELECT ticker, COUNT(*) AS n,
         |  sqrt(${sqlQavg("(pred - actual)*(pred - actual)", "1e12")}) AS rmse,
         |  ${sqlQavg("2.0 * abs(pred - actual) / (abs(pred) + abs(actual))", "1e12")} AS smape,
         |  ${sqlAvg("CASE WHEN sign(pred - prev) = sign(actual - prev) THEN 1.0 ELSE 0.0 END")} AS da
         |FROM aligned WHERE pred IS NOT NULL AND prev IS NOT NULL
         |GROUP BY ticker""".stripMargin
    },
    "q41_sharpe_sortino" ->
      s"""${Bars.sql},
         |rets AS (
         |  SELECT ticker, price / lag(price, 1) OVER ($over) - 1 AS ret
         |  FROM bars)
         |SELECT ticker, COUNT(*) AS n,
         |  ${sqlQavg("ret", "1e12")} / ${sqlQstddev("ret", "1e12", "1e9", "1e18")} * sqrt(252.0) AS sharpe,
         |  ${sqlQavg("ret", "1e12")} / ${sqlQstddev("CASE WHEN ret < 0 THEN ret ELSE 0.0 END", "1e12", "1e9", "1e18")} * sqrt(252.0) AS sortino,
         |  ${sqlQsum("ret", "1e12")} AS total_ret
         |FROM rets WHERE ret IS NOT NULL
         |GROUP BY ticker""".stripMargin,
    "q98_es_edge" ->
      s"""${Bars.sql},
         |rets AS (
         |  SELECT ticker, price / lag(price, 1) OVER ($over) - 1 AS r FROM bars),
         |ranked AS (
         |  SELECT ticker, r,
         |    row_number() OVER (PARTITION BY ticker ORDER BY r) AS rn,
         |    COUNT(*) OVER (PARTITION BY ticker) AS n
         |  FROM rets WHERE r IS NOT NULL),
         |agg AS (
         |  SELECT ticker, COUNT(*) AS n,
         |    -(${sqlQavg("CASE WHEN rn <= greatest(1.0, floor(n * 0.05)) THEN r END", "1e12")}) AS es_95,
         |    ${sqlQavg("r", "1e12")} AS edge,
         |    ${sqlQavg("CASE WHEN r > 0 THEN r END", "1e12")} AS win_mean,
         |    ${sqlQavg("CASE WHEN r < 0 THEN r END", "1e12")} AS loss_mean
         |  FROM ranked GROUP BY ticker)
         |SELECT ticker, n, es_95, edge,
         |  CASE WHEN edge > 0 THEN es_95 / edge END AS es_to_edge,
         |  win_mean / abs(loss_mean) AS payoff_asym
         |FROM agg""".stripMargin,
    "q42_omega_kelly" -> {
      val n = "CAST(COUNT(r) AS DOUBLE)"
      val sx = sqlQsum("r", "1e12")
      val sx2 = sqlQpowsum("r", "1e9", 2, "1e18")
      val sx3 = sqlQpowsum("r", "1e6", 3, "1e18")
      val sx4 = sqlQpowsum("r", "1e4", 4, "1e16")
      val mean = s"($sx/$n)"
      val m2 = s"($sx2/$n - $mean*$mean)"
      val m4 = s"($sx4/$n - 4.0*$mean*$sx3/$n + 6.0*$mean*$mean*$sx2/$n - 3.0*$mean*$mean*$mean*$mean)"
      s"""${Bars.sql},
         |rets AS (
         |  SELECT ticker, price / lag(price, 1) OVER ($over) - 1 AS r
         |  FROM bars)
         |SELECT ticker,
         |  ${sqlQsum("greatest(r - 0.0, 0.0)", "1e12")} / ${sqlQsum("greatest(0.0 - r, 0.0)", "1e12")} AS omega,
         |  least($mean / $m2 * (1.0 / (1.0 + greatest($m4/($m2*$m2) - 3.0, 0.0) / 4.0)) * 0.5, 0.2) AS kelly
         |FROM rets WHERE r IS NOT NULL
         |GROUP BY ticker""".stripMargin
    },
    "q43_psi_drift" ->
      s"""${Bars.sql},
         |binned AS (
         |  SELECT ticker,
         |    CASE WHEN ts < TIMESTAMP '2024-01-16' THEN 'train' ELSE 'test' END AS part,
         |    floor(price / 50.0) AS bin
         |  FROM bars),
         |counts AS (
         |  SELECT ticker, bin,
         |    SUM(CASE WHEN part = 'train' THEN 1 ELSE 0 END) AS n_train,
         |    SUM(CASE WHEN part = 'test' THEN 1 ELSE 0 END) AS n_test
         |  FROM binned GROUP BY ticker, bin),
         |tot AS (
         |  SELECT ticker, SUM(n_train) AS t_train, SUM(n_test) AS t_test
         |  FROM counts GROUP BY ticker),
         |pq AS (
         |  SELECT c.ticker,
         |    CAST(n_train AS DOUBLE) / t_train + 1e-6 AS p,
         |    CAST(n_test AS DOUBLE) / t_test + 1e-6 AS q
         |  FROM counts c JOIN tot t ON c.ticker = t.ticker)
         |SELECT ticker, ${sqlQsum("(p - q) * ln(p / q)", "1e12")} AS psi
         |FROM pq GROUP BY ticker""".stripMargin,
    "q44_acf" -> {
      def pearson(y: String): String = {
        val x = s"CASE WHEN $y IS NOT NULL THEN price END"
        val n = s"CAST(COUNT($x) AS DOUBLE)"
        val sx = sqlSum(x)
        val sy = sqlSum(y)
        val sxy = sqlQprodsum(x, y, "1e6", "1e12")
        val sx2 = sqlQprodsum(x, x, "1e6", "1e12")
        val sy2 = sqlQprodsum(y, y, "1e6", "1e12")
        s"($n*$sxy - $sx*$sy) / sqrt(($n*$sx2 - $sx*$sx) * ($n*$sy2 - $sy*$sy))"
      }
      s"""${Bars.sql},
         |lagged AS (
         |  SELECT ticker, price,
         |    lag(price, 1) OVER ($over) AS y1,
         |    lag(price, 2) OVER ($over) AS y2,
         |    lag(price, 3) OVER ($over) AS y3
         |  FROM bars)
         |SELECT ticker,
         |  ${pearson("y1")} AS acf1,
         |  ${pearson("y2")} AS acf2,
         |  ${pearson("y3")} AS acf3
         |FROM lagged GROUP BY ticker""".stripMargin
    },
    "q45_ttest" -> {
      def m(c: String) = sqlQavg(c, "1e12")
      def v(c: String) = {
        val n = s"CAST(COUNT($c) AS DOUBLE)"
        s"greatest((($n*${sqlQpowsum(c, "1e9", 2, "1e18")} - ${sqlQsum(c, "1e12")}*${sqlQsum(c, "1e12")}) / ($n*($n-1.0))), 0.0)"
      }
      val rA = "CASE WHEN part = 'a' THEN r END"
      val rB = "CASE WHEN part = 'b' THEN r END"
      s"""${Bars.sql},
         |rets AS (
         |  SELECT ticker, ts, price / lag(price, 1) OVER ($over) - 1 AS r
         |  FROM bars),
         |parts AS (
         |  SELECT ticker, r,
         |    CASE WHEN ts < TIMESTAMP '2024-01-16' THEN 'a' ELSE 'b' END AS part
         |  FROM rets WHERE r IS NOT NULL)
         |SELECT ticker,
         |  ${m("r")} / sqrt(${v("r")} / COUNT(r)) AS t_onesample,
         |  (${m(rA)} - ${m(rB)}) / sqrt(${v(rA)} / COUNT($rA) + ${v(rB)} / COUNT($rB)) AS t_twosample_welch
         |FROM parts GROUP BY ticker""".stripMargin
    },
    "q48_pinball" -> {
      val f = "ROWS BETWEEN 20 PRECEDING AND 1 PRECEDING"
      val lst = s"list_sort(list(r) OVER ($over $f))"
      val cnt = s"len(list(r) OVER ($over $f))"
      s"""${Bars.sql},
         |rets AS (
         |  SELECT ticker, ts, seq, price / lag(price, 1) OVER ($over) - 1 AS r
         |  FROM bars),
         |nn AS (SELECT * FROM rets WHERE r IS NOT NULL),
         |preds AS (
         |  SELECT ticker, r,
         |    CASE WHEN $cnt >= 10
         |      THEN $lst[CAST(floor(0.25 * ($cnt - 1)) AS INT) + 1]
         |    END AS q25
         |  FROM nn)
         |SELECT ticker, COUNT(*) AS n,
         |  ${sqlQavg("CASE WHEN r >= q25 THEN 0.25 * (r - q25) ELSE (1 - 0.25) * (q25 - r) END", "1e12")} AS pinball_25
         |FROM preds WHERE q25 IS NOT NULL
         |GROUP BY ticker""".stripMargin
    },
    "q49_diebold_mariano" -> {
      val f5 = "ROWS BETWEEN 5 PRECEDING AND 1 PRECEDING"
      def gk(c: String) =
        s"(${sqlQprodsum("dm", c, "1e6", "1e12")} / COUNT(dm))"
      val n = "CAST(COUNT(dm) AS DOUBLE)"
      val nwVar = s"(${gk("dm")} + 2.0*(0.8*${gk("dm1")} + 0.6*${gk("dm2")} + 0.4*${gk("dm3")} + 0.2*${gk("dm4")}))"
      val meanD = sqlQavg("d", "1e12")
      s"""${Bars.sql},
         |preds AS (
         |  SELECT ticker, ts, seq, price,
         |    CAST(SUM(CAST(price AS DECIMAL(38,6))) OVER ($over $f5) AS DOUBLE)
         |      / COUNT(price) OVER ($over $f5) AS p1,
         |    lag(price, 1) OVER ($over) AS p2
         |  FROM bars),
         |diffs AS (
         |  SELECT ticker, ts, seq,
         |    (p1 - price)*(p1 - price) - (p2 - price)*(p2 - price) AS d
         |  FROM preds WHERE p1 IS NOT NULL AND p2 IS NOT NULL),
         |cent AS (
         |  SELECT ticker, ts, seq, d,
         |    d - (CAST(SUM(CAST(${sqlQfloor("d", "1e12")} AS DECIMAL(38,0)))
         |           OVER (PARTITION BY ticker) AS DOUBLE) / 1e12)
         |          / COUNT(d) OVER (PARTITION BY ticker) AS dm
         |  FROM diffs),
         |lagged AS (
         |  SELECT ticker, d, dm,
         |    lag(dm, 1) OVER ($over) AS dm1,
         |    lag(dm, 2) OVER ($over) AS dm2,
         |    lag(dm, 3) OVER ($over) AS dm3,
         |    lag(dm, 4) OVER ($over) AS dm4
         |  FROM cent)
         |SELECT ticker, COUNT(*) AS n,
         |  $meanD / sqrt(greatest($nwVar, 1e-300) / $n) AS dm_stat
         |FROM lagged GROUP BY ticker""".stripMargin
    },
    "q46_var_backtest" -> {
      val f20 = "ROWS BETWEEN 20 PRECEDING AND 1 PRECEDING"
      val n20 = s"COUNT(r) OVER ($over $f20)"
      val sx20 = s"(CAST(SUM(CAST(${sqlQfloor("r", "1e12")} AS DECIMAL(38,0))) OVER ($over $f20) AS DOUBLE) / 1e12)"
      val sx220 = s"(CAST(SUM(CAST(${sqlQfloor("r", "1e9")} AS HUGEINT) * CAST(${sqlQfloor("r", "1e9")} AS HUGEINT)) OVER ($over $f20) AS DOUBLE) / 1e18)"
      val sig = s"CASE WHEN $n20 > 1 THEN sqrt(greatest((CAST($n20 AS DOUBLE)*$sx220 - $sx20*$sx20) / (CAST($n20 AS DOUBLE)*(CAST($n20 AS DOUBLE)-1.0)), 0.0)) END"
      s"""${Bars.sql},
         |rets AS (
         |  SELECT ticker, ts, seq, price / lag(price, 1) OVER ($over) - 1 AS r
         |  FROM bars),
         |sigd AS (
         |  SELECT ticker, r, $sig AS sigma FROM rets),
         |viol AS (
         |  SELECT ticker,
         |    CASE WHEN r < -1.6448536269514722 * sigma THEN 1 ELSE 0 END AS violation
         |  FROM sigd WHERE sigma IS NOT NULL AND r IS NOT NULL)
         |SELECT ticker, COUNT(*) AS n,
         |  CAST(SUM(violation) AS BIGINT) AS n_violations,
         |  -2.0 * ((CAST(COUNT(*) AS DOUBLE) - SUM(violation)) * ln(1.0 - 0.05) + SUM(violation) * ln(0.05))
         |   + 2.0 * ((CASE WHEN COUNT(*) = SUM(violation) THEN 0.0
         |             ELSE (CAST(COUNT(*) AS DOUBLE) - SUM(violation)) * ln(1.0 - CAST(SUM(violation) AS DOUBLE)/COUNT(*)) END)
         |            + (CASE WHEN SUM(violation) = 0 THEN 0.0
         |               ELSE SUM(violation) * ln(CAST(SUM(violation) AS DOUBLE)/COUNT(*)) END)) AS kupiec_lr
         |FROM viol GROUP BY ticker""".stripMargin
    },
    "q63_christoffersen" -> {
      val f20 = "ROWS BETWEEN 20 PRECEDING AND 1 PRECEDING"
      val n20 = s"COUNT(r) OVER ($over $f20)"
      val sx20 = s"(CAST(SUM(CAST(${sqlQfloor("r", "1e12")} AS DECIMAL(38,0))) OVER ($over $f20) AS DOUBLE) / 1e12)"
      val sx220 = s"(CAST(SUM(CAST(${sqlQfloor("r", "1e9")} AS HUGEINT) * CAST(${sqlQfloor("r", "1e9")} AS HUGEINT)) OVER ($over $f20) AS DOUBLE) / 1e18)"
      val sig = s"CASE WHEN $n20 > 1 THEN sqrt(greatest((CAST($n20 AS DOUBLE)*$sx220 - $sx20*$sx20) / (CAST($n20 AS DOUBLE)*(CAST($n20 AS DOUBLE)-1.0)), 0.0)) END"
      def ll(k: String, n: String, pi: String) =
        s"(CASE WHEN $n = 0 OR $pi <= 0 OR $pi >= 1 THEN 0.0 ELSE ($n - $k) * ln(1.0 - $pi) + $k * ln($pi) END)"
      s"""${Bars.sql},
         |rets AS (
         |  SELECT ticker, ts, seq, price / lag(price, 1) OVER ($over) - 1 AS r
         |  FROM bars),
         |sigd AS (
         |  SELECT ticker, ts, seq, r, $sig AS sigma FROM rets),
         |viol AS (
         |  SELECT ticker, ts, seq,
         |    CASE WHEN r < -1.6448536269514722 * sigma THEN 1 ELSE 0 END AS v
         |  FROM sigd WHERE sigma IS NOT NULL AND r IS NOT NULL),
         |trans AS (
         |  SELECT ticker, lag(v, 1) OVER ($over) AS pv, v FROM viol),
         |cnt AS (
         |  SELECT ticker,
         |    CAST(SUM(CASE WHEN pv = 0 AND v = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n00,
         |    CAST(SUM(CASE WHEN pv = 0 AND v = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n01,
         |    CAST(SUM(CASE WHEN pv = 1 AND v = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n10,
         |    CAST(SUM(CASE WHEN pv = 1 AND v = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n11
         |  FROM trans WHERE pv IS NOT NULL GROUP BY ticker),
         |probs AS (
         |  SELECT ticker, n00, n01, n10, n11,
         |    CAST(n00 AS DOUBLE) AS a, CAST(n01 AS DOUBLE) AS b,
         |    CAST(n10 AS DOUBLE) AS c, CAST(n11 AS DOUBLE) AS d,
         |    CAST(n00 AS DOUBLE) + CAST(n01 AS DOUBLE)
         |      + CAST(n10 AS DOUBLE) + CAST(n11 AS DOUBLE) AS tot,
         |    CASE WHEN CAST(n00 AS DOUBLE) + CAST(n01 AS DOUBLE) > 0
         |      THEN CAST(n01 AS DOUBLE) / (CAST(n00 AS DOUBLE) + CAST(n01 AS DOUBLE))
         |      ELSE 0.0 END AS p01,
         |    CASE WHEN CAST(n10 AS DOUBLE) + CAST(n11 AS DOUBLE) > 0
         |      THEN CAST(n11 AS DOUBLE) / (CAST(n10 AS DOUBLE) + CAST(n11 AS DOUBLE))
         |      ELSE 0.0 END AS p11,
         |    (CAST(n01 AS DOUBLE) + CAST(n11 AS DOUBLE))
         |      / greatest(CAST(n00 AS DOUBLE) + CAST(n01 AS DOUBLE)
         |          + CAST(n10 AS DOUBLE) + CAST(n11 AS DOUBLE), 1.0) AS p
         |  FROM cnt)
         |SELECT ticker, n00, n01, n10, n11,
         |  -2.0 * (${ll("(b + d)", "tot", "p")}
         |    - (${ll("b", "(a + b)", "p01")} + ${ll("d", "(c + d)", "p11")})) AS lr_ind
         |FROM probs""".stripMargin
    },
    "q87_ljung_box" -> {
      val lagCols = (1 to 5).map(k => s"lag(c, $k) OVER ($over) AS c$k").mkString(",\n  ")
      def g(k: Int) = sqlQprodsum("c", s"c$k", "1e9", "1e18")
      val gs = (1 to 5).map(k => s"${g(k)} AS g$k").mkString(",\n  ")
      val terms = (1 to 5).map(k =>
        s"(g$k / denom) * (g$k / denom) / (n - $k.0)").mkString(" + ")
      s"""${Bars.sql},
         |rets AS (
         |  SELECT ticker, ts, seq,
         |    price / lag(price, 1) OVER ($over) - 1 AS r
         |  FROM bars),
         |rr AS (SELECT ticker, ts, seq, r FROM rets WHERE r IS NOT NULL),
         |cent AS (
         |  SELECT ticker, ts, seq,
         |    r - ((CAST(SUM(CAST(${sqlQfloor("r", "1e12")} AS DECIMAL(38,0)))
         |            OVER (PARTITION BY ticker) AS DOUBLE) / 1e12)
         |         / COUNT(r) OVER (PARTITION BY ticker)) AS c
         |  FROM rr),
         |lagd AS (
         |  SELECT ticker, c,
         |  $lagCols
         |  FROM cent),
         |agg AS (
         |  SELECT ticker, COUNT(c) AS n_raw, CAST(COUNT(c) AS DOUBLE) AS n,
         |    ${sqlQprodsum("c", "c", "1e9", "1e18")} AS denom,
         |  $gs
         |  FROM lagd GROUP BY ticker)
         |SELECT ticker, n_raw AS n,
         |  n * (n + 2.0) * ($terms) AS lb_q
         |FROM agg""".stripMargin
    },
    "q88_rank_stability" -> {
      def predK(k: Int) =
        s"""CAST(SUM(CAST(price AS DECIMAL(38,6))) OVER ($over ROWS BETWEEN $k PRECEDING AND 1 PRECEDING) AS DOUBLE)
           | / COUNT(price) OVER ($over ROWS BETWEEN $k PRECEDING AND 1 PRECEDING)""".stripMargin
      s"""${Bars.sql},
         |base AS (
         |  SELECT ticker, ts, seq, price,
         |    ((row_number() OVER ($over) - 1) * 4) // (COUNT(*) OVER (PARTITION BY ticker)) AS fold,
         |    ${predK(2)} - price AS e2,
         |    ${predK(5)} - price AS e5,
         |    ${predK(10)} - price AS e10
         |  FROM bars),
         |arms AS (
         |  SELECT ticker, fold, 'ma2' AS model, e2 AS err FROM base
         |  UNION ALL SELECT ticker, fold, 'ma5', e5 FROM base
         |  UNION ALL SELECT ticker, fold, 'ma10', e10 FROM base),
         |rmse AS (
         |  SELECT ticker, fold, model,
         |    sqrt(${sqlQavg("err * err", "1e12")}) AS rmse
         |  FROM arms WHERE err IS NOT NULL GROUP BY 1, 2, 3),
         |ranked AS (
         |  SELECT ticker, model,
         |    rank() OVER (PARTITION BY ticker, fold ORDER BY rmse, model) AS rnk
         |  FROM rmse)
         |SELECT ticker, model, CAST(SUM(rnk) AS DOUBLE) / COUNT(*) AS avg_rank
         |FROM ranked GROUP BY 1, 2""".stripMargin
    },
    "q89_hurst" -> {
      def s18(x: String) = sqlQsum(x, "1e12")
      s"""${Bars.sql},
         |idx AS (
         |  SELECT ticker, price, row_number() OVER ($over) AS rn FROM bars),
         |lags AS (SELECT unnest(generate_series(2, 20)) AS l),
         |pairs AS (
         |  SELECT a.ticker, lags.l, a.price - b.price AS d
         |  FROM idx a CROSS JOIN lags
         |  JOIN idx b ON b.ticker = a.ticker AND b.rn = a.rn - lags.l),
         |sd AS (
         |  SELECT ticker, l, ${sqlStddev("d")} AS sdl FROM pairs GROUP BY 1, 2),
         |pts AS (
         |  SELECT ticker, ln(CAST(l AS DOUBLE)) AS lx,
         |    ln(greatest(sdl, 1e-12)) AS ly
         |  FROM sd)
         |SELECT ticker,
         |  (CAST(COUNT(*) AS DOUBLE) * ${s18("lx * ly")} - ${s18("lx")} * ${s18("ly")})
         |  / (CAST(COUNT(*) AS DOUBLE) * ${s18("lx * lx")} - ${s18("lx")} * ${s18("lx")}) AS hurst
         |FROM pts GROUP BY ticker""".stripMargin
    }
  )
}
