package graft.etl

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, StructField, StructType}

/** Split drift diagnostics — rebuild of /root/reference/etl/
  * split_diagnostics.py:25-80: PSI over 10 train-quantile bins, mean/std
  * deltas and volatility ratio between train and each other split, plus
  * the non-overlap assertion (:81).
  *
  * Scale design: PSI is one per-ticker aggregate ([[binCountsAgg]]): the
  * train deciles (percentile_approx) and the bin counts of both sides
  * come out of it together, at most tickers × 2·nBins counts reach the
  * driver, and each ticker's PSI is summed there in bin order.
  */
object SplitDiagnostics {

  /** PSI of `valueCol` between the rows tagged `trainTag` and `otherTag`
    * in `splitCol`, per ticker, using nBins train-quantile bins. A ticker
    * with no rows on either side (say, one delisted before the
    * validation window), or with no non-null training value, has no
    * distribution to compare and gets no row; so does a null ticker.
    * Runs its aggregate at once and returns a local (ticker, psi) frame. */
  def psi(
      df: DataFrame,
      valueCol: String,
      splitCol: String = "split",
      trainTag: String = "training",
      otherTag: String = "validation",
      nBins: Int = 10,
      eps: Double = 1e-6): DataFrame = {
    val split = col(splitCol)
    val rows = df.groupBy("ticker").agg(binCountsAgg(valueCol, split,
        binCuts(valueCol, nBins, rows = split === trainTag), nBins, trainTag, otherTag))
      .collect().filter(r => !r.isNullAt(0) && !r.isNullAt(1))
      .flatMap(r => psiOfCounts(r.getSeq[Long](1), eps).map(Row(r.get(0), _)))
    df.sparkSession.createDataFrame(java.util.Arrays.asList(rows: _*),
      StructType(Seq(df.schema("ticker"), StructField("psi", DoubleType))))
  }

  /** The per-ticker train-quantile bin cuts [[psi]] buckets by, as the
    * aggregate column `cuts` — for callers that fit them in a wider
    * per-ticker aggregate: over the rows where `rows` holds (the
    * training rows), the same as over a frame filtered by it. */
  def binCuts(valueCol: String, nBins: Int = 10, rows: Column = lit(true)): Column = {
    val probs = (1 until nBins).map(_.toDouble / nBins)
    percentile_approx(when(rows, col(valueCol)), typedLit(probs), lit(10000)).as("cuts")
  }

  /** [[psi]]'s per-ticker bin counts as ONE aggregate column, for a
    * per-ticker aggregate that also fits the ticker's `cuts` (an
    * aggregate such as [[binCuts]]): 2·nBins counts — the `trainTag`
    * rows' bins 0..nBins-1, then the `otherTag` rows' — null when the
    * cuts are. A value's bin is the number of cuts at or below it (a null
    * value: bin 0). The side values are collected per ticker (the
    * ticker's own rows, as the per-ticker feature windows hold them) and
    * binned once the cuts are known. */
  def binCountsAgg(valueCol: String, split: Column, cuts: Column, nBins: Int = 10,
      trainTag: String = "training", otherTag: String = "validation"): Column = {
    val side = when(split === trainTag, 0).when(split === otherTag, nBins)
    val xs = collect_list(when(side.isNotNull,
      struct(side.as("o"), col(valueCol).as("v"))))
    // each value's slot: its side's offset plus its bin
    val slots = transform(xs, x => x("o") + size(filter(cuts, c => c <= x("v"))))
    when(cuts.isNotNull, aggregate(slots, array_repeat(lit(0L), 2 * nBins),
      (acc, i) => transform(acc, (n, j) => n + when(j === i, 1L).otherwise(0L))))
  }

  /** PSI from [[binCountsAgg]]'s counts: Σ (p − q)·ln(p / q) over the
    * bins in bin order, p and q each side's bin share plus `eps`; None
    * when either side has no rows. */
  def psiOfCounts(counts: Seq[Long], eps: Double = 1e-6): Option[Double] = {
    val (a, b) = counts.splitAt(counts.size / 2)
    val (ta, tb) = (a.sum, b.sum)
    if (ta > 0 && tb > 0) Some(a.zip(b).foldLeft(0.0) { case (acc, (na, nb)) =>
      val p = na.toDouble / ta + eps
      val q = nb.toDouble / tb + eps
      acc + (p - q) * math.log(p / q)
    })
    else None
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
