package graft.domain

import java.sql.Timestamp

/** Canonical schemas of the engine (SURVEY.md §1.1).
  *
  * The core abstraction is the long-format OHLCV bar table — ticker as a
  * COLUMN, not an index level (reference keeps ticker either as index or
  * column per frame, /root/reference/etl/base_extractor.py:203-241;
  * long format is what lets Spark `partitionBy(ticker)` every per-ticker
  * window without a shuffle per feature).
  */
final case class Bar(
    ticker: String,
    date: Timestamp,
    open: Double,
    high: Double,
    low: Double,
    close: Double,
    volume: Long,
    adjClose: Double,
    source: String)

/** Per-(ticker,column) normalization stats captured at fit time and
  * re-applied without refit on val/test (leak-safe post-split
  * normalization, reference etl/preprocessor.py:216-328). */
final case class TickerColumnStats(
    ticker: String,
    column: String,
    mean: Double,
    std: Double)

/** Structural data-quality report of a bar frame
  * (reference etl/preprocessor.py:79-214 validate_post_preprocess). */
final case class QualityReport(
    nRows: Long,
    nTickers: Long,
    nDuplicateKeys: Long,
    nNonMonotonic: Long,
    nNonFinite: Long,
    nResidualNulls: Long,
    nNonPositivePrices: Long,
    nNegativeVolume: Long,
    missingRatio: Double,
    status: String) // PASS | WARN | FAIL

/** A trading signal (reference models/time_series_signal_generator.py:151). */
final case class Signal(
    ticker: String,
    date: Timestamp,
    action: String, // BUY | SELL | HOLD
    confidence: Double,
    expectedReturn: Double,
    riskScore: Double,
    entryPrice: Double,
    stopLoss: Double,
    takeProfit: Double,
    holdReason: String)

/** One executed trade row (reference execution/paper_trading_engine.py:94-178
  * + trade_executions DDL etl/database_manager.py:840-922). */
final case class Trade(
    tradeId: Long,
    ticker: String,
    date: Timestamp,
    action: String, // BUY | SELL
    quantity: Double,
    price: Double,
    isClose: Boolean,
    entryTradeId: Option[Long],
    pnl: Option[Double],
    isSynthetic: Boolean,
    dataSource: String)
