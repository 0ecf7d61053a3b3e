package graft.forecast

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._

/** Walk-forward / rolling-origin validation — rebuild of /root/reference/
  * forcester_ts/walk_forward_learner.py:81-398 and cross_validation.py:
  * 30-151: expanding folds over each ticker's series, a
  * fit→forecast→score cycle per fold, and per-model aggregate metrics.
  *
  * One fold kernel ([[folds]]: expanding train prefixes and the next
  * `horizon` actuals, tickers under 60 usable bars skipped) and one
  * scorer ([[score]]: RMSE and directional accuracy in Scala) serve both
  * engines. [[run]] folds, fits and scores each ticker in one
  * per-ticker task, no driver loop; [[runCached]] loops the k folds on
  * the driver and fits each fold's prefixes through a [[ForecastCache]].
  */
object WalkForward {

  final case class FoldMetric(ticker: String, foldId: Int, model: String,
      rmse: Double, da: Double, nTest: Int)

  final case class Summary(model: String, meanRmse: Double, stdRmse: Double,
      meanDa: Double, nFolds: Long)

  /** One fold of one ticker: the train prefix and the `horizon` bars after it. */
  private[forecast] final case class Fold(ticker: String, foldId: Int,
      train: Array[Double], actual: Array[Double])

  /** Per-model RMSE and directional accuracy of one fold's forecast rows
    * against its actuals (the direction of step i is taken from the bar
    * before it: the last train price for the first step). */
  private def score(fold: Fold, rows: Seq[ForecastEngine.TickerForecast])
      : Iterable[FoldMetric] = {
    val Fold(ticker, f, train, actual) = fold
    rows.groupBy(_.model).map { case (model, rws) =>
      val pred = rws.filter(_.weight >= 0).sortBy(_.horizonStep)
        .map(_.forecast).take(actual.length).toArray
      val rmse = math.sqrt(pred.zip(actual)
        .map { case (p, a) => (p - a) * (p - a) }.sum / actual.length)
      val da = pred.zip(actual).zipWithIndex.count { case ((p, a), i) =>
        val prev = if (i == 0) train.last else actual(i - 1)
        math.signum(p - prev) == math.signum(a - prev)
      }.toDouble / actual.length
      FoldMetric(ticker, f, model, rmse, da, actual.length)
    }
  }

  /** Every ticker's expanding folds, built in one per-ticker task: fold f
    * trains on the first usable + (f−1)·horizon bars, usable =
    * n − horizon·k, and a ticker with fewer than 60 usable bars has none. */
  private def folds(bars: DataFrame, k: Int, horizon: Int): Dataset[Fold] = {
    val spark = bars.sparkSession
    import spark.implicits._
    bars.select(col("ticker"), col("date").cast("long").as("epoch"), col("close"))
      .as[(String, Long, Double)]
      .groupByKey(_._1)
      .flatMapGroups { (ticker, rows) =>
        val prices = rows.toArray.sortBy(_._2).map(_._3)
        val usable = prices.length - horizon * k
        if (usable < 60) Iterator.empty
        else (1 to k).iterator.map { f =>
          val trainEnd = usable + (f - 1) * horizon
          Fold(ticker, f, prices.take(trainEnd),
            prices.slice(trainEnd, trainEnd + horizon))
        }
      }
  }

  /** Expanding walk-forward: k folds, each training on the prefix and
    * forecasting the next `horizon` bars. `forecaster` plugs the
    * per-fold kernel (defaults to the full engine); q151 passes the
    * AR-OLS kernel so the REAL fold orchestration runs under the hash
    * gate with a SQL-replayable forecaster. */
  def run(bars: DataFrame, k: Int = 4, horizon: Int = 5,
      cfg: ForecastEngine.Config = ForecastEngine.Config(),
      forecaster: (String, Array[Double], ForecastEngine.Config) =>
        Seq[ForecastEngine.TickerForecast] = ForecastEngine.forecastOne)
      : Dataset[FoldMetric] = {
    val spark = bars.sparkSession
    import spark.implicits._
    val fcCfg = cfg.copy(horizon = horizon)
    folds(bars, k, horizon)
      .flatMap(fold => score(fold, forecaster(fold.ticker, fold.train, fcCfg)))
  }

  /** [[run]] through a [[ForecastCache]]: each fold's per-ticker train
    * prefix resolves via the snapshot store (reruns on unchanged data
    * skip every fit), and orders learned in earlier folds warm-start the
    * AR grids of later folds — the NOTES "fit-skip across walk-forward"
    * wiring. The k-iteration driver loop is over FOLDS (k is small);
    * within a fold everything is distributed. Returns the fold metrics
    * plus the aggregate hit/miss tally (fit-skip rate =
    * hits / (hits + misses)).
    */
  def runCached(bars: DataFrame, cache: ForecastCache, k: Int = 4,
      horizon: Int = 5, cfg: ForecastEngine.Config = ForecastEngine.Config())
      : (Dataset[FoldMetric], (Long, Long)) = {
    val spark = bars.sparkSession
    import spark.implicits._
    val all = folds(bars, k, horizon).cache()
    var hits = 0L
    var misses = 0L
    val out = (1 to k).map { f =>
      val fold = all.where(col("foldId") === f)
      val (fc, st) = cache.fitSeries(
        fold.select(col("ticker"), col("train")).as[(String, Array[Double])],
        cfg.copy(horizon = horizon))
      hits += st.hits; misses += st.misses
      fold.groupByKey(_.ticker).cogroup(fc.groupByKey(_.ticker)) {
        (_, fs, rows) =>
          val fcRows = rows.toSeq
          fs.flatMap(score(_, fcRows))
      }
    }.reduce(_ union _)
    all.unpersist()
    (out, (hits, misses))
  }

  /** Per-model aggregates across folds and tickers. */
  def summarize(metrics: Dataset[FoldMetric]): Dataset[Summary] = {
    val spark = metrics.sparkSession
    import spark.implicits._
    metrics.groupBy(col("model")).agg(
        avg(col("rmse")).as("meanRmse"),
        coalesce(stddev_samp(col("rmse")), lit(0.0)).as("stdRmse"),
        avg(col("da")).as("meanDa"),
        count(lit(1)).as("nFolds"))
      .as[Summary]
  }
}
