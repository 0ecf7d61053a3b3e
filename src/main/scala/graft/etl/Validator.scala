package graft.etl

import org.apache.spark.sql.{Column, DataFrame, Row}
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
  * The report is one query of three aggregation levels — a full-scan
  * report, the way a 100 TB table must be profiled. No collect of
  * row-level data.
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
    * stays exact either way.
    *
    * Plan: three aggregation levels and no window or sort. Level 1 is
    * one row per (ticker, date) key with its row count and the row-level
    * counts; a key counted more than once is a duplicate, and every row
    * after the first of a non-null-date key is one the reference's
    * (ticker ORDER BY date) lag reads as non-monotonic. Level 2 is one
    * row per ticker (its bar count); level 3 is the report. All three
    * are hash aggregates, so the report is a handful of generated
    * classes and, with AQE, 4 jobs (three shuffles and the result). */
  def reportDf(
      df: DataFrame,
      missingThreshold: Double = 0.05,
      minBars: Int = 30,
      exactDistinct: Boolean = true): DataFrame =
    reportOf(keysOf(df), missingThreshold, minBars, exactDistinct)

  private def cnt(c: Column) = sum(when(c, 1).otherwise(0))
  private def sumOf(cs: Seq[Column]) = cs.map(cnt).reduce(_ + _)

  // the per-row counts, summed up through every level
  private def rowCounts: Seq[(String, Column)] = Seq(
    "n_nonfinite" -> sumOf(priceCols.map(c => isnan(col(c)) ||
      col(c) === Double.PositiveInfinity || col(c) === Double.NegativeInfinity)),
    "n_nulls" -> sumOf((priceCols :+ "volume").map(c => col(c).isNull)),
    "n_nonpos" -> sumOf(priceCols.map(c => col(c) <= 0)),
    "n_negvol" -> cnt(col("volume") < 0),
    "n_feature_nulls" -> cnt(FeatureKernel.inputCols.map(c => col(c).isNull)
      .reduce(_ || _))) ++
    (priceCols :+ "volume").map(c => s"_null_$c" -> cnt(col(c).isNull))

  /** Level 1: one row per (ticker, date) key. */
  private def keysOf(df: DataFrame): DataFrame =
    df.groupBy("ticker", "date").agg(count(lit(1)).as("_k"),
      rowCounts.map { case (n, c) => c.as(n) }: _*)

  /** Levels 2 and 3 over [[keysOf]]. */
  private def reportOf(keys: DataFrame, missingThreshold: Double, minBars: Int,
      exactDistinct: Boolean): DataFrame = {
    def summed = rowCounts.map { case (n, _) => sum(col(n)).as(n) }
    val k = col("_k")
    val tickers = keys.groupBy("ticker").agg(sum(k).as("_bars"), Seq(
      sum(when(k > 1, k).otherwise(0L)).as("n_dup"),
      sum(when(col("date").isNotNull, k - 1).otherwise(0L)).as("n_nonmono")) ++
      summed: _*)
    // avg(isNull) per column, as avg computes it: null over no rows
    val nRows = col("n_rows")
    val missing = (priceCols :+ "volume")
      .map(c => when(nRows > 0, col(s"_null_$c").cast("double") / nRows.cast("double")))
      .reduce(_ + _) / (priceCols.size + 1)
    tickers
      .agg(coalesce(sum("_bars"), lit(0L)).as("n_rows"), Seq(
        (if (exactDistinct) count(col("ticker"))
         else approx_count_distinct(col("ticker"))).as("n_tickers"),
        sum("n_dup").as("n_dup"), sum("n_nonmono").as("n_nonmono"),
        min("_bars").as("min_bars")) ++ summed: _*)
      .select(col("n_rows"), col("n_tickers"), col("n_dup"), col("n_nonmono"),
        col("n_nonfinite"), col("n_nulls"), col("n_nonpos"), col("n_negvol"),
        missing.as("missing_ratio"), col("min_bars"), col("n_feature_nulls"))
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
      exactDistinct: Boolean = true): QualityReport =
    qualityOf(reportDf(df, missingThreshold, minBars, exactDistinct).head())

  /** [[validate]] plus the frame's distinct dates — the split stage's
    * date dimension, in [[Splitter.distinctDates]]'s form and bound — from
    * ONE query: the dates are a second aggregate over the report's own
    * (ticker, date) level (its shuffle is reused, the frame is scanned
    * once), unioned into the report's result as rows of their own. */
  def validateWithDates(
      df: DataFrame,
      missingThreshold: Double = 0.05,
      minBars: Int = 30): (QualityReport, Array[java.sql.Timestamp]) = {
    val keys = keysOf(df)
    val dates = keys.select(col("date").cast("timestamp").as("_date")).distinct()
      .limit(Splitter.maxDates + 1)
    val rows = reportOf(keys, missingThreshold, minBars, exactDistinct = true)
      .unionByName(dates, allowMissingColumns = true).collect()
    // the report row is the one with a status
    val (report, dateRows) = rows.partition(r => !r.isNullAt(r.fieldIndex("status")))
    require(dateRows.length <= Splitter.maxDates,
      s"date dimension unexpectedly large (>${dateRows.length} rows) — not a bar-frequency table")
    (qualityOf(report.head),
      Splitter.sortDates(dateRows.map(r => r.getTimestamp(r.fieldIndex("_date")))))
  }

  private def qualityOf(agged: Row): QualityReport = {
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
