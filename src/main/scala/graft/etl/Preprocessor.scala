package graft.etl

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Missing-data handling + leak-safe per-ticker normalization — rebuild of
  * /root/reference/etl/preprocessor.py:
  *  - handleMissing (:48-74): per-ticker causal forward fill (the live-mode
  *    default forced by the pipeline, scripts/run_etl_pipeline.py:1402-1408),
  *    optional backward fill for leading NaNs (research mode only), and
  *    group-mean imputation for anything left.
  *  - zscore fit/apply (:216-328): stats fitted on the TRAIN split only and
  *    re-applied without refit to val/test (post-split normalization,
  *    scripts/run_etl_pipeline.py:1463-1482). std==0 → 0 (not NaN/error).
  *
  * Scale design: ffill is `last(_, ignoreNulls)` over the per-ticker
  * window — one shuffle by ticker shared by every filled column; z-score
  * apply is a broadcast join of a tiny (nTickers × nCols) stats frame.
  */
object Preprocessor {

  /** Causal forward fill per ticker; optionally backward-fill leading
    * gaps (non-causal — research mode only), then group-mean impute. */
  def handleMissing(
      df: DataFrame,
      cols: Seq[String],
      backfill: Boolean = false,
      groupMean: Boolean = true): DataFrame = {
    val wAll = Window.partitionBy("ticker").orderBy("date")
      .rowsBetween(Window.unboundedPreceding, 0)
    // backward fill = a RUNNING frame over descending date, NOT
    // first() over (0, unboundedFollowing): Spark evaluates
    // UnboundedFollowing frames by re-aggregating the tail per row —
    // O(n²) per partition (350 s on a 20k-row ticker; the running
    // descending frame is the O(n) incremental path). Same semantics
    // PROVIDED (ticker, date) is unique: with duplicate dates the
    // ascending and descending tie orders are independent, so the
    // chosen anchor inside a tie group could differ between the two
    // frames (true of the old unboundedFollowing frame too). Duplicate
    // keys are FAILed upstream by Validator.validate, which is the
    // contract this rewrite assumes.
    val wBack = Window.partitionBy("ticker").orderBy(col("date").desc)
      .rowsBetween(Window.unboundedPreceding, 0)
    val wGrp = Window.partitionBy("ticker")
    require(cols.forall(df.columns.contains),
      s"handleMissing: no column ${cols.filterNot(df.columns.contains).mkString(", ")}")
    // one projection fills every column in place (a withColumn per column
    // re-analyzed the growing plan once each)
    df.select(df.columns.toSeq.map { c =>
      val x = df(s"`$c`")
      if (!cols.contains(c)) x
      else {
        val ff = last(x, ignoreNulls = true).over(wAll)
        val bf = if (backfill) coalesce(ff, last(x, ignoreNulls = true).over(wBack)) else ff
        val gm = if (groupMean) coalesce(bf, avg(x).over(wGrp)) else bf
        gm.as(c)
      }
    }: _*)
  }

  /** Linear interpolation of interior gaps per ticker: previous and next
    * non-null anchor values weighted by row distance (reference
    * `interpolate` method option, etl/preprocessor.py:48-74). */
  def interpolate(df: DataFrame, c: String): DataFrame = {
    val w = Window.partitionBy("ticker").orderBy("date")
    val wPrev = w.rowsBetween(Window.unboundedPreceding, 0)
    // next anchor via the descending RUNNING frame (see handleMissing:
    // Spark's UnboundedFollowing frames re-aggregate per row, O(n²);
    // anchor choice assumes unique (ticker, date) — Validator FAILs dups)
    val wNext = Window.partitionBy("ticker").orderBy(col("date").desc)
      .rowsBetween(Window.unboundedPreceding, 0)
    val rn = row_number().over(w)
    val df1 = df.withColumn("_rn", rn)
    val prevVal = last(when(col(c).isNotNull, col(c)), ignoreNulls = true).over(wPrev)
    val prevRn = last(when(col(c).isNotNull, col("_rn")), ignoreNulls = true).over(wPrev)
    val nextVal = last(when(col(c).isNotNull, col(c)), ignoreNulls = true).over(wNext)
    val nextRn = last(when(col(c).isNotNull, col("_rn")), ignoreNulls = true).over(wNext)
    df1.withColumn(c,
        when(col(c).isNotNull, col(c))
          .when(prevVal.isNotNull && nextVal.isNotNull && nextRn =!= prevRn,
            prevVal + (nextVal - prevVal) *
              (col("_rn") - prevRn) / (nextRn - prevRn))
          .otherwise(coalesce(col(c), prevVal, nextVal)))
      .drop("_rn")
  }

  /** Fit per-ticker mean/std for `cols` — call on the TRAIN split only.
    *
    * Moments ride [[graft.queries.Det]]'s exact decimal accumulation, not
    * `avg`/`stddev_samp`: double aggregation is partition-order-dependent,
    * so on a cluster two runs of the same fit could emit stats differing
    * in the last ulp — and normalization stats feed model training, where
    * run-to-run reproducibility matters. 12-dp decimal sums are exact and
    * order-independent for any input already on a ≤12 dp grid, and for
    * off-grid doubles quantize ~1e-12 relative — far inside the fit's
    * statistical noise (EtlCoreSpec pins the round trip at 1e-9). */
  def fitZScore(train: DataFrame, cols: Seq[String]): DataFrame = {
    val aggs = zScoreAggs(cols)
    train.groupBy("ticker").agg(aggs.head, aggs.tail: _*)
  }

  /** [[fitZScore]]'s per-ticker aggregates (`<c>__mean`, `<c>__std`), for
    * callers that fit them in a wider per-ticker aggregate: over the rows
    * where `rows` holds, the same as fitting a frame filtered by it (both
    * moments skip nulls). */
  def zScoreAggs(cols: Seq[String], rows: Column = lit(true)): Seq[Column] =
    cols.flatMap(c => Seq(
      graft.queries.Det.davg12(when(rows, col(c))).as(s"${c}__mean"),
      graft.queries.Det.dstddev12(when(rows, col(c))).as(s"${c}__std")))

  /** Apply previously fitted stats (no refit — leak-safe). std==0 or
    * null → 0.0, matching the reference's std==0→NaN→0 handling. */
  def applyZScore(df: DataFrame, stats: DataFrame, cols: Seq[String]): DataFrame =
    zScored(df.join(broadcast(stats), Seq("ticker"), "left"), cols)

  /** [[applyZScore]] over a frame that already carries each row's
    * `<c>__mean` and `<c>__std` (dropped from the result). Rows where
    * `rows` does not hold keep their values (the columns must then be
    * doubles already). */
  def zScored(joined: DataFrame, cols: Seq[String], rows: Column = lit(true)): DataFrame = {
    val out = cols.foldLeft(joined) { (acc, c) =>
      val m = col(s"${c}__mean"); val sd = col(s"${c}__std")
      acc.withColumn(c,
        when(!rows, col(c))
          .when(sd.isNull || sd === 0.0 || m.isNull, lit(0.0))
          .otherwise((col(c) - m) / sd))
    }
    out.drop(cols.flatMap(c => Seq(s"${c}__mean", s"${c}__std")): _*)
  }
}
