package graft.features

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, DoubleType, IntegerType, LongType,
  StructField, StructType}

/** The feature engine — rebuild of /root/reference/etl/
  * time_series_feature_builder.py:71-290 (~40 engineered columns).
  *
  * Scale design: ONE engine. The per-ticker windowed block (lags,
  * returns, rolling moments, gap run length, drawdowns, CVaR, ATR, the
  * seasonal trend) is [[FeatureKernel]]'s one halo-exchange pass: one
  * range shuffle on (ticker, date), row-proportional parallelism, O(h)
  * per row. Cross-sectional features (per-date rank/z-score) are the
  * only second shuffle (by date). Only the per-ticker dimensions (vol
  * cuts, seasonal index: at most tickers × 126 rows) reach the driver.
  * The reference's per-ticker `Window` form of the block lives in the
  * tests (`WindowedFeatures`) as the parity oracle.
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

  /** The per-ticker windowed block, in the column order [[FeatureKernel]]
    * emits it after the input columns. */
  private[features] val windowedCols: Seq[String] =
    ("ret_1" +: lagSet.flatMap(k => Seq(s"close_lag_$k", s"ret_$k"))).distinct ++
      Seq("diff_1", "diff_5") ++
      rollSet.flatMap(n => Seq(s"roll_mean_$n", s"roll_std_$n", s"roll_skew_$n")) ++
      Seq("gap_run_len", "drift_intensity", "downside_vol_20", "drawdown_60",
        "max_drawdown_60", "cvar_95_60", "true_range", "atr_14",
        "seasonal_trend_126", "_detrended", "_phase")

  /** The feature frame of a bar frame: its columns in its order, the
    * windowed block, then [[finish]]'s cross-sectional tail. Every input
    * column beyond (ticker, date, close, high, low) — a bar's open,
    * volume, adjClose, source — rides through the kernel unchanged, so
    * no join back on (ticker, date) is needed. Accepts every frame
    * `Preprocessor.handleMissing` emits ([[FeatureKernel]]'s input
    * contract); a ticker whose close is null on only some rows must be
    * filled first. Gated outputs (lags/returns, null patterns, order
    * statistics, cvar) are bit-identical to the Window form; inexact
    * moment VALUES agree to last ulps (the kernel sums exact decimals
    * where WindowExec sums doubles). */
  def build(df: DataFrame, dropNa: Boolean = true,
      reuseKernel: Boolean = false): DataFrame = {
    // reuseKernel: finish() consumes the kernel frame twice (its
    // dimension aggregate, collected at once, then the main stream), and
    // a kernel RDD has no exchange for Spark to reuse, so the halo pass
    // runs once per consumer. Persisting costs one full-width cache
    // write, so it stays OFF unless a caller reads the frame more than
    // the pipeline's one write does (q158). Blocks are reclaimed by the
    // ContextCleaner when the caller drops the frame.
    val kernel = FeatureKernel.run(df)
    finish(if (reuseKernel)
      kernel.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    else kernel, dropNa, Nil, Nil).features
  }

  /** A feature frame and its per-ticker fit: `fit` holds one row per
    * ticker (a null ticker included), in `fitSchema`: ticker, then the
    * fit columns. */
  final case class Fitted(features: DataFrame, fitSchema: StructType, fit: Array[Row])

  /** [[build]]'s feature frame with dropNa = false, plus `perTicker`:
    * aggregate columns (or expressions over aggregates) on the windowed
    * block, input columns included, evaluated inside the one per-ticker
    * aggregate [[finish]] already runs and returned collected. The
    * `carry` columns of the fit also ride [[finish]]'s dimension join
    * onto every feature row of a non-null ticker (null on the others),
    * appended after the feature columns. */
  def buildFitting(df: DataFrame, perTicker: Seq[Column], carry: Seq[String]): Fitted =
    finish(FeatureKernel.run(df), dropNa = false, perTicker, carry)

  /** Cross-sectional + dimension-join tail of the windowed block: vol
    * regime, per-date rank/z, the seasonal index join, calendar flags,
    * and the dropNa gate. `out` carries the per-ticker windowed block
    * (incl. `_detrended`, `_phase`). Output: ticker, the other columns of
    * `out` but the two scratch ones, then the tail's columns.
    *
    * The two per-ticker dimensions — the σ20 tercile cuts and the
    * per-(ticker, phase) seasonal index — come from ONE aggregate over
    * `out`, collected as a local (ticker, _phase) dimension of at most
    * tickers × 126 rows and broadcast back, so `out`'s lineage runs
    * twice (that aggregate, then the main stream), not once per
    * dimension. The aggregate runs when the frame is built (one job), so
    * [[build]] is not lazy. */
  private[graft] def finish(out: DataFrame, dropNa: Boolean, perTicker: Seq[Column],
      carry: Seq[String]): Fitted = {
    val vol = col("roll_std_20")
    val agg = out.groupBy("ticker").agg(
        // volatility regime bucket from rolling σ20 terciles (per ticker)
        percentile_approx(vol, typedLit(Seq(1.0 / 3, 2.0 / 3)), lit(10000))
          .as("_vol_cuts"),
        collect_list(struct(col("_phase"), col("date"), col("_detrended")))
          .as("_season") +: perTicker: _*)
      .withColumn("_season", seasonalIndex(col("_season")))
    val rows = agg.collect()
    val fitSchema = StructType(agg.schema.fields.head +: agg.schema.fields.drop(3).toSeq)
    val fit = rows.map(r => Row.fromSeq(r.get(0) +: r.toSeq.drop(3)))
    // a join never matches a null ticker, so the dimension drops it, and
    // its keys are declared non-null (no inferred not-null filter)
    val carried = carry.map(agg.schema.fieldIndex)
    val dimRows = rows.toSeq.filter(!_.isNullAt(0)).flatMap { r =>
      val c = carried.map(r.get)
      r.getSeq[Row](2).map(p => Row.fromSeq(Seq(r.get(0), p.get(0), r.get(1), p.get(1)) ++ c))
    }
    val dim = out.sparkSession.createDataFrame(java.util.Arrays.asList(dimRows: _*),
      StructType(Seq(out.schema("ticker").copy(nullable = false),
        out.schema("_phase").copy(nullable = false), agg.schema("_vol_cuts"),
        StructField("seasonal_126", DoubleType)) ++ carried.map(agg.schema(_))))
    // cross-sectional (per-date) rank and z-score of 5d returns, over
    // one window spec: the moments read the whole date partition in the
    // rank's (ret_5, ticker) order
    val wDate = Window.partitionBy("date").orderBy(col("ret_5"), col("ticker"))
    val wAll = wDate.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    val sd = stddev_samp(col("ret_20")).over(wAll)
    val date = to_date(col("date"))
    val monthEnd = last_day(date) === date
    val kept = out.columns.toSeq.filterNot(Set("ticker", "_detrended", "_phase"))
    val res = out.join(broadcast(dim), Seq("ticker", "_phase"), "left")
      .select((col("ticker") +: kept.map(c => col(s"`$c`"))) ++ Seq(
        when(vol.isNull, lit(null))
          .when(vol <= col("_vol_cuts")(0), 0)
          .when(vol <= col("_vol_cuts")(1), 1)
          .otherwise(2).as("vol_regime"),
        percent_rank().over(wDate).as("xsec_rank_ret5"),
        when(sd =!= 0.0, (col("ret_20") - avg(col("ret_20")).over(wAll)) / sd)
          .as("xsec_z_ret20"),
        col("seasonal_126"),
        (col("_detrended") - col("seasonal_126")).as("seasonal_resid_126"),
        // calendar flags
        monthEnd.cast("int").as("is_month_end"),
        (monthEnd && month(col("date")).isin(3, 6, 9, 12)).cast("int")
          .as("is_quarter_end")) ++ carry.map(col): _*)

    Fitted(if (dropNa) res.na.drop(Seq("ret_20", "roll_std_60", "atr_14")) else res,
      fitSchema, fit)
  }

  /** Seasonal index of one ticker: from its (_phase, date, _detrended)
    * structs, one (_phase, seasonal_126) per phase present, where
    * seasonal_126 is the mean of the phase's non-null `_detrended` (null
    * when it has none) — phase = bar index mod 126, the one-sided
    * decompose-lite of the reference (the same shape q17 oracles at
    * period 7); resid = detrended − seasonal. Each phase's sum runs in
    * date order from 0.0, adding 0.0 for a null, exactly as Spark's
    * `avg` accumulates, so the result does not depend on how the
    * ticker's rows were partitioned. */
  private def seasonalIndex(season: Column): Column = {
    def acc(p: Column, s: Column, c: Column, o: Column) =
      struct(p.as("p"), s.as("s"), c.as("c"), o.as("o"))
    // the finished phases, plus the open one (none before the first)
    def closed(a: Column) = when(a("p") < 0, a("o")).otherwise(
      concat(a("o"), array(struct(a("p").as("p"), a("s").as("s"), a("c").as("c")))))
    val slot = StructType(Seq(StructField("p", IntegerType),
      StructField("s", DoubleType), StructField("c", LongType)))
    val zero = acc(lit(-1), lit(0.0), lit(0L), array().cast(ArrayType(slot)))
    aggregate(array_sort(season), zero,
      (a, x) => {
        val v = coalesce(x("_detrended"), lit(0.0))
        val n = when(x("_detrended").isNull, 0L).otherwise(1L)
        when(x("_phase") === a("p"), acc(a("p"), a("s") + v, a("c") + n, a("o")))
          .otherwise(acc(x("_phase"), lit(0.0) + v, n, closed(a)))
      },
      a => transform(closed(a), e => struct(e("p").as("_phase"),
        when(e("c") > 0, e("s") / e("c")).as("seasonal_126"))))
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
