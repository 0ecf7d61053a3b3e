package graft.etl

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Chronological train/val/test split + expanding/rolling k-fold CV —
  * rebuild of /root/reference/etl/data_storage.py:179-439 and
  * etl/time_series_cv.py:55-322.
  *
  * Semantics preserved from the reference:
  *  - splits are by UNIQUE DATE, not by row, so multi-ticker frames never
  *    let one ticker's rows straddle a boundary (data_storage.py:246-330);
  *  - the final test fraction is isolated from CV folds
  *    (time_series_cv.py:108-117);
  *  - expanding folds grow the train window, rolling folds slide it;
  *    an optional gap of g dates separates train from validation.
  *
  * Scale design: rows are TAGGED with split/fold columns, never
  * materialized into per-split copies — one `when` chain against
  * broadcast cut-points. Cut-points come from the sorted distinct-date
  * dimension (tiny: one row per trading day, ~250/yr even for a 100 TB
  * bar table), so collecting it to the driver is safe at any scale.
  */
object Splitter {

  /** Distinct sorted dates of the frame — the split dimension, the null
    * date (if any) first. This is a driver collect by design: the date
    * dimension of a bar table is tiny (decades of daily bars < 20k rows)
    * regardless of how many tickers × rows the fact side has. ONE query
    * collects at most one row past the bound and the driver sorts it, so
    * an oversized dimension fails by name instead of flooding the driver.
    * Shared by [[tagChronological]], [[cvFolds]] and pipeline.AutoTrader. */
  private[graft] def distinctDates(df: DataFrame,
      dateCol: String = "date"): Array[java.sql.Timestamp] = {
    val maxDates = 1000000
    // cast("timestamp") tolerates a TIMESTAMP_NTZ date column (drifting
    // testdata parquet) — rows then always carry java.sql.Timestamp.
    val dates = df.select(col(dateCol).cast("timestamp")).distinct()
      .limit(maxDates + 1).collect().map(_.getTimestamp(0))
    require(dates.length <= maxDates,
      s"date dimension unexpectedly large (>${dates.length} rows) — not a bar-frequency table")
    dates.sorted(Ordering.by[java.sql.Timestamp, Option[(Long, Int)]](t =>
      Option(t).map(t => (t.getTime, t.getNanos))))
  }

  /** Tag each row train/validation/testing by unique-date fractions.
    *
    * FULLY LAZY — no driver collect: the cut-points are rank bounds on
    * the distinct-date dimension, computed in-plan (the same arithmetic
    * the eager version did on a collected array: rank ≤ min(nTrain, n−2)
    * → training, rank ≤ min(nTrain+nVal, n−1) → validation). The tiny
    * tag dim broadcasts back onto the fact side, so a malformed table
    * fails at ACTION time inside this query only, never at construction;
    * the ≥3-distinct-dates contract is enforced in-plan via assert_true.
    * The rank window is unpartitioned BY DESIGN over the already
    * aggregated (distinct) date dim — ExplainAudit's dim-evidence shape.
    * Null dates tag "testing", as the eager `otherwise` branch did. */
  def chronological(
      df: DataFrame,
      trainFrac: Double = 0.70,
      valFrac: Double = 0.15): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val dates = df.select(col("date").cast("timestamp").as("__d")).distinct()
    val ranked = dates.withColumn("__rn",
      row_number().over(Window.orderBy(col("__d"))))
    val params = dates.agg(count(lit(1)).as("__n"))
      .select(col("__n"),
        greatest(lit(1L), round(col("__n") * lit(trainFrac)).cast("long")).as("__ntr"),
        greatest(lit(1L), round(col("__n") * lit(valFrac)).cast("long")).as("__nva"))
      .where(assert_true(col("__n") >= 3,
        concat(lit("need >=3 distinct dates, got "), col("__n"))).isNull)
    val tags = ranked.crossJoin(broadcast(params))
      .select(col("__d"),
        when(col("__rn") <= least(col("__ntr"), col("__n") - 2), "training")
          .when(col("__rn") <= least(col("__ntr") + col("__nva"), col("__n") - 1),
            "validation")
          .otherwise("testing").as("__split"))
    df.join(broadcast(tags), df("date") === col("__d"), "left")
      .withColumn("split", coalesce(col("__split"), lit("testing")))
      .drop("__d", "__split")
  }

  /** [[chronological]] with its two cut dates derived once, on the
    * driver, from ONE bounded collect of the distinct-date dimension
    * ([[distinctDates]]). The tagged frame is then a plain projection of
    * `df` — no join, no tag dim — so no later action over it re-derives
    * anything. The ranks are chronological's row_number over the
    * distinct dates (ascending, the null date first: it takes a rank yet
    * tags no row) and the rounding is Spark's `round` (HALF_UP on the
    * double's decimal form), so every row gets chronological's tag (spec:
    * EtlCoreSpec); null dates tag "testing". */
  def tagChronological(df: DataFrame, trainFrac: Double = 0.70,
      valFrac: Double = 0.15): DataFrame = {
    val sorted = distinctDates(df).map(Option(_))
    val n = sorted.length.toLong
    require(n >= 3, s"need >=3 distinct dates, got $n")
    def round(x: Double): Long = java.math.BigDecimal.valueOf(x)
      .setScale(0, java.math.RoundingMode.HALF_UP).longValue
    val nTr = math.max(1L, round(n * trainFrac))
    val nVa = math.max(1L, round(n * valFrac))
    // a row is at or below the cut at rank r (1-based); a cut on the
    // null date admits no row
    def upTo(r: Long) = sorted((r - 1).toInt)
      .map(c => col("date") <= lit(c)).getOrElse(lit(false))
    df.withColumn("split",
      when(upTo(math.min(nTr, n - 2)), "training")
        .when(upTo(math.min(nTr + nVa, n - 1)), "validation")
        .otherwise("testing"))
  }

  final case class FoldSpec(foldId: Int, trainStart: java.sql.Timestamp,
      trainEnd: java.sql.Timestamp, valStart: java.sql.Timestamp,
      valEnd: java.sql.Timestamp)

  /** Expanding (or rolling) k-fold specs over the non-test prefix.
    * fold_size = cvDates/(k+1) as in time_series_cv.py:55-150. */
  def cvFolds(
      df: DataFrame,
      k: Int,
      testFrac: Double = 0.15,
      expanding: Boolean = true,
      gap: Int = 0): Seq[FoldSpec] = {
    val ds = distinctDates(df)
    val nTest = math.round(ds.length * testFrac).toInt
    val cv = ds.take(ds.length - nTest)
    val foldSize = cv.length / (k + 1)
    require(foldSize > gap, s"fold size $foldSize must exceed gap $gap")
    (1 to k).map { f =>
      val valStart = f * foldSize
      val valEnd = math.min(valStart + foldSize, cv.length) - 1
      val trainStart = if (expanding) 0 else (f - 1) * foldSize
      FoldSpec(f, cv(trainStart), cv(valStart - gap - 1), cv(valStart), cv(valEnd))
    }
  }

  /** Lazy [[cvFolds]]+[[tagFolds]] in one plan — no driver collect. The
    * fold boundaries are rank bounds on the distinct-date dim (the same
    * index arithmetic cvFolds does on the collected array: expanding
    * train = ranks [1, f·fs−gap], rolling = [(f−1)·fs+1, f·fs−gap],
    * validation = ranks [f·fs+1, min((f+1)·fs, cv)]); the k-row fold dim
    * is generated in-plan and broadcast onto the fact side. The
    * foldSize>gap contract is enforced via assert_true at action time. */
  def cvFoldTags(df: DataFrame, k: Int, testFrac: Double = 0.15,
      expanding: Boolean = true, gap: Int = 0): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val dates = df.select(col("date").cast("timestamp").as("__d")).distinct()
    val ranked = dates.withColumn("__rn",
      row_number().over(Window.orderBy(col("__d"))))
    val params = dates.agg(count(lit(1)).as("__n"))
      .select((col("__n") - round(col("__n") * lit(testFrac)).cast("long")).as("__cv"))
      .select(col("__cv"), floor(col("__cv") / lit(k + 1)).cast("long").as("__fs"))
      .where(assert_true(col("__fs") > gap,
        concat(lit("fold size "), col("__fs"), lit(s" must exceed gap $gap"))).isNull)
    val trainLo =
      if (expanding) lit(1L) else (col("fold_id") - 1) * col("__fs") + 1
    val foldDim = params
      .select(col("__cv"), col("__fs"),
        explode(sequence(lit(1), lit(k))).as("fold_id"))
      .select(col("fold_id"), trainLo.as("__tlo"),
        (col("fold_id") * col("__fs") - gap).as("__thi"),
        (col("fold_id") * col("__fs") + 1).as("__vlo"),
        least((col("fold_id") + 1) * col("__fs"), col("__cv")).as("__vhi"))
    val tagDim = ranked.join(broadcast(foldDim),
        col("__rn").between(col("__tlo"), col("__thi")) ||
          col("__rn").between(col("__vlo"), col("__vhi")))
      .select(col("__d"), col("fold_id"),
        when(col("__rn") <= col("__thi"), "train").otherwise("validation").as("role"))
    df.join(broadcast(tagDim), df("date") === col("__d")).drop("__d")
  }

  /** Tag rows with (fold_id, role) — one output row per (row, fold) via a
    * broadcast-joined fold dimension; still no materialized copies. */
  def tagFolds(df: DataFrame, folds: Seq[FoldSpec]): DataFrame = {
    val specs = folds.map(f =>
      (f.foldId, f.trainStart, f.trainEnd, f.valStart, f.valEnd))
    val spark = df.sparkSession
    import spark.implicits._
    val dim = specs.toDF("fold_id", "train_start", "train_end", "val_start", "val_end")
    df.join(broadcast(dim),
        col("date").between(col("train_start"), col("train_end")) ||
          col("date").between(col("val_start"), col("val_end")))
      .withColumn("role",
        when(col("date") <= col("train_end"), "train").otherwise("validation"))
      .drop("train_start", "train_end", "val_start", "val_end")
  }
}
