package graft.etl

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.domain.QualityReport
import graft.features.FeatureKernel

/** OHLCV validator — rebuild of the reference's predicate set
  * (/root/reference/etl/data_validator.py:36-90: price positivity, volume
  * non-negativity, per-column missing ratio vs threshold) plus the
  * post-preprocess structural checks (etl/preprocessor.py:79-214:
  * duplicate (ticker,date) keys, non-monotonic dates, non-finite values,
  * residual NaNs, min-bar floor).
  *
  * Everything is ONE aggregation job over the frame (plus one windowed
  * pass for monotonicity) — a full-scan report, the way a 100 TB table
  * must be profiled. No collect of row-level data.
  */
object Validator {

  val priceCols: Seq[String] = Seq("open", "high", "low", "close")

  /** The full validation report as a LAZY one-row DataFrame — the same
    * aggregation [[validate]] collects, including the PASS/WARN/FAIL
    * status column, so callers (and the q173 oracle gate) can compose it
    * without forcing a job at construction time. `n_feature_nulls`
    * counts the rows with a null in one of the feature kernel's input
    * columns (`graft.features.FeatureKernel.inputCols`); it feeds no
    * status. `exactDistinct = false` profiles ticker cardinality with HLL
    * (`approx_count_distinct`) — at 100 TB the exact distinct is the
    * report's only expensive aggregate, and every pass/fail predicate
    * stays exact either way. */
  def reportDf(
      df: DataFrame,
      missingThreshold: Double = 0.05,
      minBars: Int = 30,
      exactDistinct: Boolean = true): DataFrame = {
    val w = Window.partitionBy("ticker").orderBy("date")
    val nonFinite = priceCols
      .map(c => sum(when(isnan(col(c)) || col(c) === Double.PositiveInfinity ||
        col(c) === Double.NegativeInfinity, 1).otherwise(0)))
      .reduce(_ + _)
    val residualNulls = (priceCols :+ "volume")
      .map(c => sum(when(col(c).isNull, 1).otherwise(0)))
      .reduce(_ + _)
    val nonPositive = priceCols
      .map(c => sum(when(col(c) <= 0, 1).otherwise(0)))
      .reduce(_ + _)
    val missing = (priceCols :+ "volume")
      .map(c => avg(col(c).isNull.cast("int")))
      .reduce(_ + _) / (priceCols.size + 1)

    df
      .withColumn("prev_date", lag(col("date"), 1).over(w))
      .withColumn("key_cnt",
        count(lit(1)).over(Window.partitionBy("ticker", "date")))
      .withColumn("ticker_bars",
        count(lit(1)).over(Window.partitionBy("ticker")))
      .agg(
        count(lit(1)).as("n_rows"),
        (if (exactDistinct) countDistinct(col("ticker"))
         else approx_count_distinct(col("ticker"))).as("n_tickers"),
        sum(when(col("key_cnt") > 1, 1).otherwise(0)).as("n_dup"),
        sum(when(col("prev_date").isNotNull && col("date") <= col("prev_date"), 1)
          .otherwise(0)).as("n_nonmono"),
        nonFinite.as("n_nonfinite"),
        residualNulls.as("n_nulls"),
        nonPositive.as("n_nonpos"),
        sum(when(col("volume") < 0, 1).otherwise(0)).as("n_negvol"),
        missing.as("missing_ratio"),
        min(col("ticker_bars")).as("min_bars"),
        sum(when(FeatureKernel.inputCols.map(c => col(c).isNull).reduce(_ || _), 1)
          .otherwise(0)).as("n_feature_nulls"))
      .withColumn("status",
        when(col("n_rows") === 0 || col("n_dup") > 0 || col("n_nonmono") > 0 ||
          col("n_nonfinite") > 0 || col("n_nonpos") > 0 || col("n_negvol") > 0 ||
          coalesce(col("min_bars"), lit(0L)) < minBars, lit("FAIL"))
          .when(col("missing_ratio") > missingThreshold || col("n_nulls") > 0,
            lit("WARN"))
          .otherwise(lit("PASS")))
  }

  def validate(
      df: DataFrame,
      missingThreshold: Double = 0.05,
      minBars: Int = 30,
      exactDistinct: Boolean = true): QualityReport = {
    val agged: Row = reportDf(df, missingThreshold, minBars, exactDistinct).head()

    // sums over an empty frame come back null — read defensively
    def l(name: String): Long =
      Option(agged.get(agged.fieldIndex(name))).map(_.asInstanceOf[Long]).getOrElse(0L)
    def d(name: String): Double =
      Option(agged.get(agged.fieldIndex(name))).map(_.asInstanceOf[Double]).getOrElse(0.0)
    QualityReport(
      nRows = l("n_rows"),
      nTickers = l("n_tickers"),
      nDuplicateKeys = l("n_dup"),
      nNonMonotonic = l("n_nonmono"),
      nNonFinite = l("n_nonfinite"),
      nResidualNulls = l("n_nulls"),
      nNonPositivePrices = l("n_nonpos"),
      nNegativeVolume = l("n_negvol"),
      missingRatio = d("missing_ratio"),
      status = agged.getString(agged.fieldIndex("status")),
      nFeatureNulls = l("n_feature_nulls"))
  }

  /** PASS/WARN/FAIL → routing classification (preprocessor.py:174-186):
    * production_ok only on PASS, research_ok unless FAIL, quality tag
    * CLEAN / HIGH_IMPUTE-or-SPARSE / BLOCKED. `imputedFraction` and
    * `paddingFraction` come from preprocessing metadata (the reference's
    * >30% imputed / >20% padded quality warnings). */
  final case class Classification(productionOk: Boolean, researchOk: Boolean,
      qualityTag: String)

  /** [[classify]]'s rules as COLUMN expressions over a report row (the
    * lazy q173 gate path; ValidatorSpec pins column/scalar equivalence
    * over the full status × fraction grid). Emits production_ok,
    * research_ok, quality_tag. */
  def classificationCols(status: org.apache.spark.sql.Column,
      imputedFraction: org.apache.spark.sql.Column,
      paddingFraction: org.apache.spark.sql.Column,
      maxImputedFraction: Double = 0.30, maxPaddingFraction: Double = 0.20)
      : Seq[org.apache.spark.sql.Column] = {
    val highImpute = imputedFraction > maxImputedFraction ||
      paddingFraction > maxPaddingFraction
    val eff = when(status === "FAIL", lit("FAIL"))
      .when(status === "WARN" || highImpute, lit("WARN"))
      .otherwise(lit("PASS"))
    Seq(
      (eff === "PASS").as("production_ok"),
      (eff =!= "FAIL").as("research_ok"),
      when(eff === "FAIL", lit("BLOCKED"))
        .when(highImpute, lit("HIGH_IMPUTE"))
        .when(eff === "WARN", lit("SPARSE_DATA"))
        .otherwise(lit("CLEAN")).as("quality_tag"))
  }

  def classify(report: QualityReport,
      imputedFraction: Double = 0.0, paddingFraction: Double = 0.0,
      maxImputedFraction: Double = 0.30, maxPaddingFraction: Double = 0.20)
      : Classification = {
    val highImpute = imputedFraction > maxImputedFraction ||
      paddingFraction > maxPaddingFraction
    val status =
      if (report.status == "FAIL") "FAIL"
      else if (report.status == "WARN" || highImpute) "WARN"
      else "PASS"
    val tag =
      if (status == "FAIL") "BLOCKED"
      else if (highImpute) "HIGH_IMPUTE"
      else if (status == "WARN") "SPARSE_DATA"
      else "CLEAN"
    Classification(productionOk = status == "PASS",
      researchOk = status != "FAIL", qualityTag = tag)
  }

  /** CHECK-constraint emulation (SURVEY §1.2): Spark has no table CHECK,
    * so enum validity is enforced by routing — rows whose column value
    * is outside the allowed set go to a quarantine frame instead of
    * failing the write. Returns (clean, quarantined); one predicate,
    * both sides lazily share the scan. */
  def enforceEnum(df: DataFrame, column: String, allowed: Seq[String])
      : (DataFrame, DataFrame) = {
    val ok = col(column).isin(allowed: _*)
    (df.where(ok), df.where(!ok || col(column).isNull))
  }
}
