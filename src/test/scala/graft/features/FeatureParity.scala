package graft.features

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.Assertions._

/** The parity check between the Window oracle
  * ([[WindowedFeatures.build]]) and the kernel ([[FeatureBuilder.build]]):
  * the same columns in the same order, then row by row (ordered by
  * ticker, date) identical null patterns, bit-exact gated columns, and
  * moments within 1e-7 relative. */
object FeatureParity {

  /** Columns both forms compute with the same IEEE operations. */
  val exact: Set[String] = Set("ticker", "date", "close", "high", "low",
    "ret_1", "close_lag_1", "close_lag_5", "close_lag_10", "close_lag_20",
    "ret_5", "ret_10", "ret_20", "diff_1", "diff_5", "gap_run_len",
    "drawdown_60", "max_drawdown_60", "cvar_95_60", "true_range",
    "xsec_rank_ret5", "is_month_end", "is_quarter_end")

  /** `carried`: further columns that must be bit-exact (input columns
    * the forms pass through). */
  def check(plain: DataFrame, fast: DataFrame,
      carried: Set[String] = Set.empty): Unit = {
    assert(plain.columns.toSeq === fast.columns.toSeq)
    val cols = plain.columns
    def rowsOf(df: DataFrame) = df.orderBy("ticker", "date").collect()
    val p = rowsOf(plain)
    val f = rowsOf(fast)
    assert(p.length === f.length)

    // vol_regime is NOT in the guaranteed-exact set: it buckets
    // roll_std_20 (ulp-close, not bit-equal, between the two forms)
    // against percentile_approx tercile cuts over that same column — a
    // std landing exactly ON a cut can legitimately flip the bucket by
    // one. A mismatch is accepted only when it is exactly that: adjacent
    // buckets AND the row's std within relative 2e-7 of a tercile cut
    // (recomputed here from the plain frame, the same
    // percentile_approx(…, 1e4) call finish() uses).
    val volCuts: Map[String, Seq[Double]] = plain.groupBy("ticker")
      .agg(percentile_approx(col("roll_std_20"),
        typedLit(Seq(1.0 / 3, 2.0 / 3)), lit(10000)).as("cuts"))
      .collect()
      .map(r => r.getString(0) -> r.getSeq[Double](1)).toMap
    val stdIdx = cols.indexOf("roll_std_20")
    val tickerIdx = cols.indexOf("ticker")
    p.zip(f).zipWithIndex.foreach { case ((pr, fr), ri) =>
      cols.zipWithIndex.foreach { case (c, ci) =>
        val ctx = s"row $ri col $c"
        assert(pr.isNullAt(ci) === fr.isNullAt(ci), s"null pattern @ $ctx")
        if (!pr.isNullAt(ci)) {
          (pr.get(ci), fr.get(ci)) match {
            case (a: Double, b: Double) =>
              if (exact(c) || carried(c)) assert(
                java.lang.Double.compare(a, b) == 0, s"$ctx: $a vs $b")
              else {
                // moments: exact-decimal sums vs frame-order double sums
                assert(a.isNaN === b.isNaN, s"NaN @ $ctx: $a vs $b")
                if (!a.isNaN)
                  assert(math.abs(a - b) <=
                    1e-7 * math.max(1.0, math.max(a.abs, b.abs)),
                    s"$ctx: $a vs $b")
              }
            case (a: Int, b: Int) if c == "vol_regime" && a != b =>
              val std = pr.getDouble(stdIdx)
              val cutsT = volCuts(pr.getString(tickerIdx))
              // 2e-7: the row's std and the recomputed cut can EACH sit
              // up to rel 1e-7 from their fast-path twins (ulp drift
              // compounds), so a legitimate flip can show plain-std vs
              // plain-cut distance up to ~2e-7
              val nearCut = cutsT.exists(cut =>
                math.abs(std - cut) <= 2e-7 * math.max(1.0, std.abs))
              assert(math.abs(a - b) == 1 && nearCut,
                s"$ctx: bucket $a vs $b with std=$std not at a cut $cutsT")
            case (a, b) => assert(a === b, s"$ctx: $a vs $b")
          }
        }
      }
    }
  }
}
