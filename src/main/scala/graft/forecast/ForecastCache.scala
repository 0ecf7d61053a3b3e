package graft.forecast

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Dataset, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import ForecastEngine.TickerForecast

/** Distributed fit-through-cache for [[ForecastEngine]] — the Spark
  * shape of the reference's model snapshot store + order learner
  * (forcester_ts/model_snapshot_store.py, order_learner.py): unchanged
  * (ticker, series, config) inputs skip the whole per-ticker fit, and
  * learned AR orders warm-start the order grid on misses.
  *
  * This is the one module that knows the snapshot key ([[contentKey]])
  * and both cache tables under `dir`: `forecast_rows` (the fitted rows,
  * keyed by snapKey) and `order_cache` (the learned (p, d) per
  * (ticker, regime)).
  *
  * Scale design: the cache is a snapKey-keyed parquet TABLE, not a
  * driver-side lookup — hits resolve via a broadcast join of this run's
  * (small, one-per-ticker) key set against the store, misses fit inside
  * a distributed map and append. Nothing iterates tickers on the
  * driver; walk-forward folds that re-present identical prefixes
  * become pure cache reads.
  */
object ForecastCache {
  /** Age after which a run's key files can no longer be referenced. */
  val runKeysTtlMs: Long = 60L * 60 * 1000

  /** Deterministic content key of a fit request — static so executor-side
    * kernels compute it without a session. */
  def contentKey(ticker: String, prices: Array[Double], configHash: String): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    md.update(ticker.getBytes)
    prices.foreach(p => md.update(java.lang.Long.toHexString(
      java.lang.Double.doubleToLongBits(p)).getBytes))
    md.update(configHash.getBytes)
    md.digest().map("%02x".format(_)).mkString.take(32)
  }

  /** Bar frame (ticker, date, close) → one time-ordered price series per
    * ticker: the input of [[ForecastCache.fitSeries]]. */
  private[forecast] def series(bars: DataFrame): Dataset[(String, Array[Double])] = {
    val spark = bars.sparkSession
    import spark.implicits._
    bars.select(col("ticker").as[String], col("date").cast("long").as[Long],
        col("close").as[Double])
      .groupByKey(_._1)
      .mapGroups((ticker, rows) => (ticker, rows.toArray.sortBy(_._2).map(_._3)))
  }
}

final class ForecastCache(spark: SparkSession, dir: String) {
  import spark.implicits._

  private val rowsPath = new Path(dir, "forecast_rows")
  private val orderPath = new Path(dir, "order_cache")
  private val runKeysRoot = new Path(dir, ".run_keys")

  final case class Stats(hits: Long, misses: Long)

  /** Every existence probe and delete resolves `dir` through Hadoop, as
    * the Spark reads and writes do: a java.nio probe answers for the
    * local disk only, so a URI-form dir (file:/…, hdfs://…) read as
    * empty and every run refit and appended duplicates. */
  private def fs = rowsPath.getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def storeDf: Option[DataFrame] =
    if (fs.exists(rowsPath)) Some(spark.read.parquet(rowsPath.toString)) else None

  /** Drop run-key dirs old enough that no lazy Dataset from a prior
    * call can still be reading them (TTL, not delete-all: a recent
    * caller may not have consumed its output yet). */
  private def sweepRunKeys(): Unit = {
    if (!fs.exists(runKeysRoot)) return
    val cutoff = System.currentTimeMillis() - ForecastCache.runKeysTtlMs
    fs.listStatus(runKeysRoot)
      .filter(_.getModificationTime < cutoff)
      .foreach(st => fs.delete(st.getPath, true))
  }

  /** Latest learned (p, d) per (ticker, regime), restricted (left-semi
    * join) to the tickers of one batch — broadcast into the miss kernel
    * as warm starts. The collected map is bounded by batch size ×
    * regimes even when the order cache has accumulated millions of
    * tickers. */
  def warmStartsFor(tickers: DataFrame): Map[(String, String), (Int, Int)] = {
    if (!fs.exists(orderPath)) return Map.empty
    spark.read.parquet(orderPath.toString)
      .join(broadcast(tickers.select(col("ticker")).distinct()), Seq("ticker"), "left_semi")
      .withColumn("rn", row_number().over(
        org.apache.spark.sql.expressions.Window
          .partitionBy(col("ticker"), col("regime")).orderBy(desc("ts"))))
      .where(col("rn") === 1)
      .select(col("ticker"), col("regime"), col("p"), col("d"))
      .collect()
      .map(r => (r.getString(0), r.getString(1)) -> (r.getInt(2), r.getInt(3)))
      .toMap
  }

  /** [[ForecastEngine.fitForecast]] through the cache: identical output,
    * but tickers whose (series, config) snapKey is already stored are
    * read back instead of refit, and fresh fits append both forecast
    * rows and learned orders. */
  def fitForecast(bars: DataFrame, cfg: ForecastEngine.Config = ForecastEngine.Config())
      : (Dataset[TickerForecast], Stats) =
    fitSeries(ForecastCache.series(bars), cfg)

  /** The cache pass over prepared (ticker, time-ordered prices) series —
    * [[fitForecast]]'s body, which cached walk-forward feeds with its
    * fold prefixes directly. */
  private[forecast] def fitSeries(series: Dataset[(String, Array[Double])],
      cfg: ForecastEngine.Config): (Dataset[TickerForecast], Stats) = {
    sweepRunKeys()
    val cfgHash = cfg.toString
    val prep = series
      .map { case (ticker, prices) =>
        (ticker, prices, ForecastCache.contentKey(ticker, prices, cfgHash)) }
      .toDF("ticker", "prices", "snapKey")
      .cache()

    // hit/miss split via joins against the store's key column — no
    // driver-side key lists, so a million-ticker run stays distributed
    val keysDf = prep.select("snapKey").distinct()
    val storedKeysDf = storeDf
      .map(_.select("snapKey").distinct())
      .getOrElse(spark.emptyDataset[String].toDF("snapKey"))
    val nKeys = keysDf.count()
    val hits = keysDf.join(storedKeysDf, "snapKey").count()
    val misses = nKeys - hits

    if (misses > 0) {
      val warm = spark.sparkContext.broadcast(warmStartsFor(prep.select(col("ticker"))))
      val fitted = prep
        .join(storedKeysDf, Seq("snapKey"), "left_anti")
        .select(col("ticker").as[String], col("prices").as[Array[Double]],
          col("snapKey").as[String])
        .map { case (ticker, prices, snapKey) =>
          val regimeGuess = RegimeDetector.detect(prices).regime
          val detail = ForecastEngine.forecastOneDetailed(
            ticker, prices, cfg, warm.value.get((ticker, regimeGuess)))
          (snapKey, ticker, detail.regime, detail.p, detail.d, detail.aic,
            detail.rows)
        }
        .toDF("snapKey", "ticker", "regime", "p", "d", "aic", "rows")
        .cache()
      fitted
        .select(col("snapKey"), explode(col("rows")).as("r"))
        .select(col("snapKey"), col("r.*"))
        .write.mode("append").parquet(rowsPath.toString)
      fitted
        .where(size(col("rows")) > 0)
        .select(col("ticker"), col("regime"), col("p"), col("d"), col("aic"),
          lit(System.currentTimeMillis()).as("ts"))
        .write.mode("append").parquet(orderPath.toString)
      fitted.unpersist()
    }

    // Persist this run's key set next to the store, so the returned
    // (lazy) Dataset's lineage is parquet-only: every cache above can be
    // dropped NOW instead of leaking past the call. The tiny key files
    // are cleaned up by a later call on this cache dir once past the TTL.
    val keysPath = new Path(runKeysRoot, java.util.UUID.randomUUID().toString.take(8))
      .toString
    keysDf.write.parquet(keysPath)
    prep.unpersist()
    val out = spark.read.parquet(rowsPath.toString)
      .join(broadcast(spark.read.parquet(keysPath)), "snapKey")
      // concurrent appends could double-store a key; keep one copy
      .dropDuplicates("snapKey", "ticker", "model", "horizonStep")
      .drop("snapKey")
      .as[TickerForecast]
    (out, Stats(hits = hits, misses = misses))
  }
}
