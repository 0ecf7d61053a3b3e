package graft.features

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import FeatureBuilder.{lagSet, rollSet, windowedCols}

/** The parity oracle of [[FeatureBuilder.build]]: the reference's form of
  * the per-ticker windowed block — ~20 sliding aggregates through Spark's
  * WindowExec over `Window.partitionBy("ticker").orderBy("date")`, one
  * task per ticker — followed by the same cross-sectional tail
  * ([[FeatureBuilder.finish]]). It accepts any bar frame, closes null on
  * some rows included. Each dependency level is ONE projection (a
  * withColumn per feature re-analyzed the whole growing plan ~60 times).
  */
object WindowedFeatures {

  def build(df: DataFrame, dropNa: Boolean = true): DataFrame =
    FeatureBuilder.finish(windowed(df), dropNa, Nil, Nil).features

  /** The per-ticker windowed block, in [[FeatureBuilder.windowedCols]]'
    * order after the input columns. */
  def windowed(df: DataFrame): DataFrame = {
    val w = Window.partitionBy("ticker").orderBy("date")
    def wN(n: Int) = w.rowsBetween(-(n - 1), 0)
    val close = col("close")
    val ret1 = col("ret_1")
    // missing-gap run length (gaps-and-islands over the null mask)
    val isGap = when(close.isNull, 1).otherwise(0)
    val change = when(isGap =!= lag(isGap, 1, 0).over(w), 1).otherwise(0)
    val prevClose = lag(close, 1).over(w)
    val peak60 = max(close).over(wN(60))
    val trend = avg(close).over(wN(126))
    // level 1: everything over the input columns alone — lags, multi-
    // horizon pct changes, differencing, rolling moments (min_periods=1
    // semantics: the frame grows from 1 row), drawdown depth vs the
    // rolling peak, true range, and the seasonal decompose-lite at
    // period 126 (reference :197-208, statsmodels one-sided additive):
    // trend = one-sided MA(126); detrended + phase feed the
    // per-(ticker, phase) index in finish()
    val level1 = df.select(Seq(col("*"), (close / prevClose - 1).as("ret_1")) ++
        lagSet.flatMap(k => lag(close, k).over(w).as(s"close_lag_$k") +:
          (if (k == 1) Nil else Seq((close / lag(close, k).over(w) - 1).as(s"ret_$k")))) ++
        Seq((close - prevClose).as("diff_1"), (close - lag(close, 5).over(w)).as("diff_5")) ++
        rollSet.flatMap(n => Seq(avg(close).over(wN(n)).as(s"roll_mean_$n"),
          stddev_samp(close).over(wN(n)).as(s"roll_std_$n"),
          skewness(close).over(wN(n)).as(s"roll_skew_$n"))) ++
        Seq(sum(change).over(w.rowsBetween(Window.unboundedPreceding, 0)).as("_gap_grp"),
          when(peak60 =!= 0.0, close / peak60 - 1).as("drawdown_60"),
          greatest(col("high") - col("low"),
            abs(col("high") - prevClose), abs(col("low") - prevClose)).as("true_range"),
          trend.as("seasonal_trend_126"),
          (close - trend).as("_detrended"),
          ((row_number().over(w) - 1) % 126).as("_phase")): _*)
    // level 2: features of level-1 columns — gap run length, drift
    // intensity |mean20-mean60|/(std60+eps) of returns, downside
    // volatility, the rolling worst drawdown, ATR(14), and the 60-bar
    // return list of the CVaR proxy
    val level2 = level1.select(col("*"),
      when(close.isNull,
        count(lit(1)).over(Window.partitionBy(col("ticker"), col("_gap_grp"))))
        .otherwise(0).as("gap_run_len"),
      (abs(avg(ret1).over(wN(20)) - avg(ret1).over(wN(60))) /
        (stddev_samp(ret1).over(wN(60)) + lit(1e-9))).as("drift_intensity"),
      stddev_samp(when(ret1 < 0, ret1).otherwise(lit(0.0))).over(wN(20))
        .as("downside_vol_20"),
      abs(min(col("drawdown_60")).over(wN(60))).as("max_drawdown_60"),
      // CVaR proxy: exact rolling 5% quantile of returns over 60 bars.
      // percentile_approx is NOT used here: the window is ≤60 elements,
      // so an exact sort of the collected frame is cheap and
      // oracle-parity-safe (SURVEY §7.5 risk 4). The frame list is
      // collected ONCE and reused — three textual collect_list copies
      // were three separate window aggregates (3× the O(frame)/row list
      // building); collect_list skips nulls in Spark, so the non-null-
      // size guard is just size > 0.
      collect_list(ret1).over(w.rowsBetween(-59, 0)).as("_cv_lst"),
      avg(col("true_range")).over(wN(14)).as("atr_14"))
    val cvar = abs(expr(
      """CASE WHEN size(_cv_lst) > 0
        |THEN array_sort(_cv_lst)
        |  [CAST(floor(0.05 * (size(_cv_lst) - 1)) AS INT)]
        |END""".stripMargin))
    val inputCols = df.columns.toSeq.filterNot(windowedCols.contains)
    level2.select(inputCols.map(c => col(s"`$c`")) ++ windowedCols.map {
      case "cvar_95_60" => cvar.as("cvar_95_60")
      case c => col(c)
    }: _*)
  }
}
