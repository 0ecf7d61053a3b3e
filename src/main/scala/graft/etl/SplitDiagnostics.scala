package graft.etl

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Split drift diagnostics — rebuild of /root/reference/etl/
  * split_diagnostics.py:25-80: PSI over 10 train-quantile bins, mean/std
  * deltas and volatility ratio between train and each other split, plus
  * the non-overlap assertion (:81).
  *
  * Scale design: train deciles are computed once per ticker (exact
  * `percentile` — small per-ticker arrays; swap to percentile_approx at
  * true 100 TB cardinality), broadcast as a tiny dim, and both sides are
  * bucketed in one pass each.
  */
object SplitDiagnostics {

  /** PSI of `valueCol` between the rows tagged `trainTag` and `otherTag`
    * in `splitCol`, per ticker, using nBins train-quantile bins. A ticker
    * with no rows on either side (say, one delisted before the
    * validation window) has no distribution to compare and gets no row. */
  def psi(
      df: DataFrame,
      valueCol: String,
      splitCol: String = "split",
      trainTag: String = "training",
      otherTag: String = "validation",
      nBins: Int = 10,
      eps: Double = 1e-6): DataFrame = {
    val cuts = df.where(col(splitCol) === trainTag).groupBy("ticker")
      .agg(binCuts(valueCol, nBins))
    psiWithCuts(df, cuts, valueCol, splitCol, trainTag, otherTag, eps)
  }

  /** The per-ticker train-quantile bin cuts [[psi]] buckets by, as the
    * aggregate column `cuts` — for callers that fit them in a wider
    * per-ticker aggregate over the training rows. */
  def binCuts(valueCol: String, nBins: Int = 10): Column = {
    val probs = (1 until nBins).map(_.toDouble / nBins)
    percentile_approx(col(valueCol), typedLit(probs), lit(10000)).as("cuts")
  }

  /** [[psi]] over precomputed `cuts` (ticker, cuts — see [[binCuts]]). A
    * ticker with null cuts (no non-null training value) has no bins and
    * gets no row. */
  def psiWithCuts(
      df: DataFrame,
      cuts: DataFrame,
      valueCol: String,
      splitCol: String = "split",
      trainTag: String = "training",
      otherTag: String = "validation",
      eps: Double = 1e-6): DataFrame = {
    val bucketed = df.where(col(splitCol).isin(trainTag, otherTag))
      .join(broadcast(cuts.where(col("cuts").isNotNull)), "ticker")
      .withColumn("bin", expr(
        s"size(filter(cuts, c -> c <= $valueCol))")) // 0..nBins-1
    val counts = bucketed.groupBy("ticker", "bin").agg(
      sum(when(col(splitCol) === trainTag, 1).otherwise(0)).as("n_a"),
      sum(when(col(splitCol) === otherTag, 1).otherwise(0)).as("n_b"))
    // both sides must hold rows: an empty side divides by zero (an
    // ANSI-mode DIVIDE_BY_ZERO failure of the whole query)
    val tot = counts.groupBy("ticker")
      .agg(sum("n_a").as("t_a"), sum("n_b").as("t_b"))
      .where(col("t_a") > 0 && col("t_b") > 0)
    counts.join(tot, "ticker")
      .withColumn("p", col("n_a").cast("double") / col("t_a") + eps)
      .withColumn("q", col("n_b").cast("double") / col("t_b") + eps)
      .groupBy("ticker")
      .agg(sum((col("p") - col("q")) * log(col("p") / col("q"))).as("psi"))
  }

  /** Mean/std deltas + volatility ratio between two splits per ticker. */
  def momentDrift(
      df: DataFrame,
      valueCol: String,
      splitCol: String = "split",
      trainTag: String = "training",
      otherTag: String = "validation"): DataFrame = {
    val a = when(col(splitCol) === trainTag, col(valueCol))
    val b = when(col(splitCol) === otherTag, col(valueCol))
    df.where(col(splitCol).isin(trainTag, otherTag))
      .groupBy("ticker").agg(
        (avg(b) - avg(a)).as("mean_delta"),
        (stddev_samp(b) - stddev_samp(a)).as("std_delta"),
        when(stddev_samp(a) =!= 0.0, stddev_samp(b) / stddev_samp(a)).as("vol_ratio"))
  }

  /** True iff the two splits share no (ticker, date) key — reference
    * split non-overlap validation (etl/split_diagnostics.py:81). */
  def nonOverlapping(
      df: DataFrame,
      splitCol: String = "split",
      tagA: String = "training",
      tagB: String = "validation"): Boolean = {
    val a = df.where(col(splitCol) === tagA).select("ticker", "date")
    val b = df.where(col(splitCol) === tagB).select("ticker", "date")
    a.intersect(b).isEmpty
  }
}
