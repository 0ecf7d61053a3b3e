package graft.features

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The feature engine — rebuild of /root/reference/etl/
  * time_series_feature_builder.py:71-290 (~40 engineered columns) as one
  * wide DataFrame projection.
  *
  * Scale design: every per-ticker feature shares the SAME window spec
  * (partitionBy ticker, orderBy date), so Catalyst collapses them into a
  * single Window operator → exactly ONE shuffle by ticker for ~30
  * features. Cross-sectional features (per-date rank/z-score) are the
  * only second shuffle (by date). Nothing touches the driver.
  *
  * Feature ↔ reference map (file:line of time_series_feature_builder.py):
  *  lags/returns :105-108 · rolling mean/std/skew :110-116 · diff :117-119
  *  gap run-length :121-129 · drift intensity :131-135 · vol regime
  *  :137-148 · downside vol :150-152 · drawdown :153-155 · CVaR proxy
  *  :156 · cross-sectional rank :158-166 / z :168-177 · ATR(14) :184-195
  *  · seasonal trend (one-sided MA) :197-208 · calendar flags :211-214.
  */
object FeatureBuilder {

  val lagSet: Seq[Int] = Seq(1, 5, 10, 20)
  val rollSet: Seq[Int] = Seq(5, 10, 20, 60)

  /** The per-ticker windowed block, in the column order both [[build]]
    * and [[FeatureKernel]] emit it after the input columns. */
  private[features] val windowedCols: Seq[String] =
    ("ret_1" +: lagSet.flatMap(k => Seq(s"close_lag_$k", s"ret_$k"))).distinct ++
      Seq("diff_1", "diff_5") ++
      rollSet.flatMap(n => Seq(s"roll_mean_$n", s"roll_std_$n", s"roll_skew_$n")) ++
      Seq("gap_run_len", "drift_intensity", "downside_vol_20", "drawdown_60",
        "max_drawdown_60", "cvar_95_60", "true_range", "atr_14",
        "seasonal_trend_126", "_detrended", "_phase")

  /** The reference form: ~20 sliding aggregates through Spark's
    * WindowExec, one task per ticker. Accepts any bar frame — nullable
    * closes included (the gap-run feature exists for them) — and stays
    * the spec-pinned reference for [[buildFast]]. Each dependency level
    * is ONE projection (a withColumn per feature re-analyzed the whole
    * growing plan ~60 times, about a second of driver time per call). */
  def build(df: DataFrame, dropNa: Boolean = true): DataFrame = {
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
    finish(level2.select(inputCols.map(c => col(s"`$c`")) ++ windowedCols.map {
      case "cvar_95_60" => cvar.as("cvar_95_60")
      case c => col(c)
    }: _*), dropNa)
  }

  /** The fast twin of [[build]]: the same columns in the same order, the
    * per-ticker windowed block computed by [[FeatureKernel]] in one
    * halo-exchange streaming pass (row-proportional parallelism, O(h)/row)
    * instead of ~20 WindowExec sliding aggregates (one core per ticker,
    * O(frame)/row). Every input column beyond (ticker, date, close, high,
    * low) — a bar's open, volume, adjClose, source — rides through the
    * kernel unchanged, so no join back on (ticker, date) is needed.
    *
    * Route rule: requires the feature-input contract — non-null ticker,
    * date, close, high and low, unique (ticker, date). Any other input
    * takes [[build]], which remains the spec-pinned reference
    * implementation (parity: FeatureBuilderSpec); `EtlPipeline.run`
    * routes on exactly this contract. Gated outputs (lags/returns, null
    * patterns, order statistics, cvar) are bit-identical; inexact moment
    * VALUES agree to last ulps (the kernel sums exact decimals where
    * WindowExec sums doubles). */
  def buildFast(df: DataFrame, dropNa: Boolean = true,
      reuseKernel: Boolean = false): DataFrame = {
    // reuseKernel: finish() consumes the kernel frame from three
    // subtrees (vol-regime cuts, the seasonal index, the main stream),
    // and a kernel RDD has no exchange for Spark to reuse — when a
    // caller's projection keeps those joins alive (q158's health over
    // every feature), the whole halo pass re-ran per subtree (r19
    // measured: 2 kernel scans in the plan). Persisting costs one
    // full-width cache write, so it stays OFF for callers whose final
    // projection lets Catalyst prune the joins away (q156 keeps only
    // cvar — its plan is a single kernel scan already). Blocks are
    // reclaimed by the ContextCleaner when the caller drops the frame.
    val kernel = FeatureKernel.run(df)
    finish(if (reuseKernel)
      kernel.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    else kernel, dropNa)
  }

  /** Cross-sectional + dimension-join tail shared by both forms: vol
    * regime, per-date rank/z, the seasonal index join, calendar flags,
    * and the dropNa gate. `out` carries the per-ticker windowed block
    * (incl. `_detrended`, `_phase`). Output: ticker, the other columns of
    * `out` but the two scratch ones, then the tail's columns. */
  private def finish(out: DataFrame, dropNa: Boolean): DataFrame = {
    // volatility regime bucket from rolling σ20 terciles (per ticker)
    val vol = col("roll_std_20")
    val cuts = out.groupBy("ticker")
      .agg(percentile_approx(vol, typedLit(Seq(1.0 / 3, 2.0 / 3)), lit(10000))
        .as("_vol_cuts"))
    // cross-sectional (per-date) rank and z-score of 5d returns
    val wDate = Window.partitionBy("date")
    val sd = stddev_samp(col("ret_20")).over(wDate)
    val ranked = out.join(broadcast(cuts), Seq("ticker"), "left")
      .select(col("*"),
        when(vol.isNull, lit(null))
          .when(vol <= col("_vol_cuts")(0), 0)
          .when(vol <= col("_vol_cuts")(1), 1)
          .otherwise(2).as("vol_regime"),
        percent_rank().over(wDate.orderBy(col("ret_5"), col("ticker")))
          .as("xsec_rank_ret5"),
        when(sd =!= 0.0, (col("ret_20") - avg(col("ret_20")).over(wDate)) / sd)
          .as("xsec_z_ret20"))
    // seasonal = per-(ticker, phase) mean of the detrended series with
    // phase = bar index mod 126 (the same shape q17 oracles at period
    // 7); resid = detrended − seasonal. The phase index is a tiny
    // (tickers × 126) dimension → broadcast joined back, so the big
    // side is never reshuffled for it.
    val seasonalIdx = ranked.groupBy(col("ticker"), col("_phase"))
      .agg(avg(col("_detrended")).as("seasonal_126"))
    val date = to_date(col("date"))
    val monthEnd = last_day(date) === date
    val kept = out.columns.toSeq.filterNot(Set("ticker", "_detrended", "_phase"))
    val res = ranked.join(broadcast(seasonalIdx), Seq("ticker", "_phase"), "left")
      .select((col("ticker") +: kept.map(c => col(s"`$c`"))) ++ Seq(
        col("vol_regime"), col("xsec_rank_ret5"), col("xsec_z_ret20"),
        col("seasonal_126"),
        (col("_detrended") - col("seasonal_126")).as("seasonal_resid_126"),
        // calendar flags
        monthEnd.cast("int").as("is_month_end"),
        (monthEnd && month(col("date")).isin(3, 6, 9, 12)).cast("int")
          .as("is_quarter_end")): _*)

    if (dropNa) {
      val needed = Seq("ret_20", "roll_std_60", "atr_14")
      res.na.drop(needed)
    } else res
  }

  /** Feature-health telemetry (time_series_feature_builder.py:243-289):
    * one metrics row per build — row/ticker counts, per-feature null
    * fraction for the load-bearing features, and warning flags when a
    * feature's availability drops below the reference's thresholds.
    * Single aggregation pass; emit alongside the feature write. */
  def health(features: DataFrame): DataFrame = {
    val checked = Seq("ret_20", "roll_std_60", "atr_14", "xsec_z_ret20",
      "seasonal_resid_126").filter(features.columns.contains)
    val nullFracs = checked.map(c =>
      avg(col(c).isNull.cast("double")).as(s"null_frac_$c"))
    val aggs = Seq(count(lit(1)).as("rows"),
      countDistinct(col("ticker")).as("tickers")) ++ nullFracs
    val base = features.agg(aggs.head, aggs.tail: _*)
    val warn = checked.map(c => col(s"null_frac_$c") > 0.3)
      .reduce(_ || _)
    base.withColumn("decomp_available",
        (col("null_frac_seasonal_resid_126") < 1.0).cast("int"))
      .withColumn("warn_high_null_fraction", warn.cast("int"))
  }

  /** Macro as-of merge with the reference's leak guard: macro rows later
    * than the bar frame's max date are clipped BEFORE the as-of fill
    * (LEAK-02 fix, time_series_feature_builder.py:218-234).
    *
    * Scale design: the macro frame is a small dimension (one row per
    * macro date), so we turn each macro row into a validity interval
    * [date, next_date) and BROADCAST range-join the bar table against
    * it — the 100 TB side is never shuffled or globally sorted. */
  def mergeMacroAsOf(bars: DataFrame, macroDf: DataFrame, macroCols: Seq[String]): DataFrame = {
    val maxDate = bars.agg(max(col("date"))).head().getTimestamp(0)
    // macro is tiny — the global window sort below happens on the dim only
    val intervals = macroDf.where(col("date") <= lit(maxDate))
      .select((col("date").as("_m_from") +:
        macroCols.map(c => col(c).as(s"_m_$c"))): _*)
      .withColumn("_m_to", lead(col("_m_from"), 1).over(Window.orderBy(col("_m_from"))))
    val joined = bars.join(broadcast(intervals),
      col("date") >= col("_m_from") &&
        (col("_m_to").isNull || col("date") < col("_m_to")), "left")
    macroCols.foldLeft(joined) { (acc, c) =>
        acc.withColumn(c, col(s"_m_$c"))
      }
      .drop("_m_from" +: "_m_to" +: macroCols.map(c => s"_m_$c"): _*)
  }
}
