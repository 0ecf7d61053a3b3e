package graft.queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import Det._

/** Window-function operators — the heart of the reference's feature engine
  * (/root/reference/etl/time_series_feature_builder.py:71-290) and its
  * equity/drawdown analytics (etl/database_manager.py:3240-3273,
  * etl/portfolio_math.py:432-440), re-expressed on [[Bars]].
  *
  * Scale design: every per-ticker window shares ONE shuffle
  * (partitionBy ticker, orderBy ts/seq); cross-sectional features
  * shuffle by day only. No driver-side loops.
  */
object WindowQueries extends QueryModule {

  override def queries: Map[String, QFn] = Map(
    // lags / pct-change returns / differencing (feature_builder :105-119)
    "q10_win_lag_returns" -> ((s, dir) => {
      import s.implicits._
      val w = Window.partitionBy($"ticker").orderBy($"ts", $"seq")
      Bars.of(s, dir).select(
        $"ticker", $"seq", $"price",
        lag($"price", 1).over(w).as("lag1"),
        lag($"price", 5).over(w).as("lag5"),
        ($"price" / lag($"price", 1).over(w) - 1).as("ret1"),
        ($"price" - lag($"price", 1).over(w)).as("diff1"))
    }),

    // rolling mean/std over 20 bars, min_periods=1 (feature_builder
    // :110-116) — on the chunked-halo operator (row-parallel at 100 TB;
    // the grid-exact square sum over 6-dp prices equals the old
    // decimal(38,12) sum bit-for-bit — both are the exact Σx²)
    "q11_win_rolling" -> ((s, dir) => {
      import s.implicits._
      val m = graft.operators.ChunkedWindow.rollingMoments(
        Bars.of(s, dir).withColumn("t", unix_micros($"ts")),
        "ticker", "t", "seq", "price", lo = -19, hi = 0).toDF()
      m.select($"key".as("ticker"), $"seq", $"x".as("price"),
        ($"s1" / $"n").as("roll_mean20"),
        momentStddev($"n".cast("double"), $"s1", $"s2").as("roll_std20"))
    }),

    // cumulative equity + running max + drawdown (portfolio_math :432-440)
    "q12_win_equity_drawdown" -> ((s, dir) => {
      import s.implicits._
      val w = Window.partitionBy($"ticker").orderBy($"ts", $"seq")
        .rowsBetween(Window.unboundedPreceding, 0)
      val cum = dsumOver($"price", w)
      val runmax = max(cum).over(w)
      Bars.of(s, dir).select(
        $"ticker", $"seq",
        cum.as("equity"),
        runmax.as("peak"),
        (cum / runmax - 1).as("drawdown"))
    }),

    // cross-sectional per-day percent_rank + z-score (feature_builder :158-177)
    "q13_win_xsec" -> ((s, dir) => {
      import s.implicits._
      val wDay = Window.partitionBy($"day")
      val wRank = wDay.orderBy($"price", $"seq")
      val mu = sum($"price".cast("decimal(38,6)")).over(wDay).cast("double") /
        count($"price").over(wDay)
      Bars.of(s, dir).select(
        $"ticker", $"seq",
        percent_rank().over(wRank).as("xsec_rank"),
        (($"price" - mu) / dstddevOver($"price", wDay)).as("xsec_z"))
    }),

    // gaps-and-islands run length of low-price flags (feature_builder :121-129)
    "q14_win_runlength" -> ((s, dir) => {
      import s.implicits._
      val w = Window.partitionBy($"ticker").orderBy($"ts", $"seq")
      val flag = when($"price" < 50, 1).otherwise(0)
      val change = when(flag =!= lag(flag, 1, 0).over(w), 1).otherwise(0)
      val grp = sum(change).over(w.rowsBetween(Window.unboundedPreceding, 0))
      Bars.of(s, dir)
        .select($"ticker", $"seq", flag.as("flag"), grp.as("grp"))
        .withColumn("run_len",
          count(lit(1)).over(Window.partitionBy($"ticker", $"grp")))
        .select($"ticker", $"seq", $"flag", $"run_len")
    }),

    // top-1 per group via row_number (database_manager :3379-3416)
    "q15_win_top1" -> ((s, dir) => {
      import s.implicits._
      val w = Window.partitionBy($"ticker").orderBy($"price".desc, $"seq")
      Bars.of(s, dir)
        .withColumn("rn", row_number().over(w))
        .where($"rn" === 1)
        .select($"ticker", $"seq", $"price")
    }),

    // rolling skewness over 20 bars via explicit decimal moments
    // (feature_builder :110-116 roll_skew; formula identical both engines).
    // Computed with the chunked-halo operator: partitionBy(ticker) caps
    // window parallelism at |tickers| (~5) — a serialization point at
    // 100 TB — while ChunkedWindow scales with rows and stays
    // hash-identical (exact decimal prefix sums of the same quantized
    // moments).
    "q19_win_skew" -> ((s, dir) => {
      import s.implicits._
      val m = graft.operators.ChunkedWindow.rollingMoments(
        Bars.of(s, dir).withColumn("t", unix_micros($"ts")),
        "ticker", "t", "seq", "price", lo = -19, hi = 0).toDF()
      val n = $"n".cast("double")
      val sx = $"s1"
      val sx2 = $"s2"
      val sx3 = $"s3"
      val mean = sx / n
      val m2 = sx2 / n - mean * mean
      val m3 = sx3 / n - lit(3.0) * mean * sx2 / n + lit(2.0) * mean * mean * mean
      m.select($"key".as("ticker"), $"seq",
        when(n >= 3 && m2 > 0, m3 / pow(m2, 1.5)).as("roll_skew20"))
    }),

    // seasonal decompose-lite (feature_builder :197-208): one-sided MA
    // trend (chunked-halo — row-parallel at scale), per-phase seasonal
    // index (group mean broadcast back), resid.
    "q17_win_seasonal" -> ((s, dir) => {
      import s.implicits._
      val m = graft.operators.ChunkedWindow.rollingMoments(
        Bars.of(s, dir).withColumn("t", unix_micros($"ts")),
        "ticker", "t", "seq", "price", lo = -29, hi = 0).toDF()
      // persist: base feeds BOTH the per-phase index aggregate and the
      // final join's big side, and the halo-kernel RDD behind it has no
      // exchange for Spark to reuse — un-persisted, the kernel pass ran
      // twice (r19 measured: 2 kernel scans in the plan)
      val base = m.select($"key".as("ticker"), $"seq", $"x".as("price"),
          ($"s1" / $"n").as("trend"))
        .withColumn("detrended", $"price" - $"trend")
        .withColumn("phase", $"seq" % 7)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val idx = base.groupBy($"ticker", $"phase")
        .agg(davg($"detrended").as("seasonal"))
      base.join(broadcast(idx), Seq("ticker", "phase"))
        .select($"ticker", $"seq", $"trend", $"seasonal",
          ($"detrended" - $"seasonal").as("resid"))
    }),

    // exact quartiles per ticker (summary quantiles, analyzer :279-337).
    // Scalar columns, not one array column: the driver's compare hashes
    // pandas cells and cannot sort/factorize numpy arrays.
    "q18_quantiles" -> ((s, dir) => {
      import s.implicits._
      Bars.of(s, dir).groupBy($"ticker")
        .agg(percentile($"price", lit(0.25)).as("p25"),
          percentile($"price", lit(0.5)).as("p50"),
          percentile($"price", lit(0.75)).as("p75"))
    }),

    // ATR-shaped greatest-of-lag-diffs + rolling mean 14 (feature_builder :184-195)
    "q16_win_atr" -> ((s, dir) => {
      import s.implicits._
      val w = Window.partitionBy($"ticker").orderBy($"ts", $"seq")
      val tr = greatest(
        abs($"price" - lag($"price", 1).over(w)),
        abs(lag($"price", 1).over(w) - lag($"price", 2).over(w)))
      // when(n > 0): an all-null frame yields NULL like a plain sliding
      // mean (0/0 throws under ANSI)
      withSlidingSums(Bars.of(s, dir).select($"ticker", $"ts", $"seq", tr.as("tr")),
          w, SlidingSum("_s14", $"tr", DecimalType(38, 6), -13, 0))
        .select($"ticker", $"seq", $"tr",
          when($"_s14_n" > 0, $"_s14".cast("double") / $"_s14_n").as("atr14"))
    }),

    // Rank-function suite: ntile / percent_rank / cume_dist (the three
    // ranking built-ins q13/q15 don't cover). Ordering is unique by
    // (value, event_id), so peer groups are singletons and both
    // engines' percent_rank = (rn-1)/(n-1), cume_dist = rn/n — exact
    // IEEE divisions of integers, no float-class caveat.
    "q199_rank_suite" -> ((s, dir) => {
      import s.implicits._
      val w = Window.partitionBy($"event_type").orderBy($"value", $"event_id")
      graft.Tables.load(s, dir, "events")
        .select($"event_type", $"event_id",
          row_number().over(w).as("rn"),
          ntile(4).over(w).cast("long").as("quartile"),
          percent_rank().over(w).as("pr"),
          cume_dist().over(w).as("cd"))
    })
  )

  private val over = "PARTITION BY ticker ORDER BY ts, seq"
  private def dsumW(x: String, frame: String): String =
    s"CAST(SUM(CAST(($x) AS DECIMAL(38,6))) OVER ($over $frame) AS DOUBLE)"
  private def dsum2W(x: String, frame: String): String =
    // rawgrid: squares of 6-dp grid values sit ON the 12-dp grid — the
    // cast rounds an ulp-off double to its own grid point, never a tie
    s"CAST(SUM(CAST(($x)*($x) AS DECIMAL(38,12))) OVER ($over $frame) AS DOUBLE)"
  private def cntW(x: String, frame: String): String =
    s"COUNT($x) OVER ($over $frame)"
  private def stddevW(x: String, frame: String): String = {
    val n = s"CAST(${cntW(x, frame)} AS DOUBLE)"
    val sx = dsumW(x, frame)
    val sx2 = dsum2W(x, frame)
    s"CASE WHEN ${cntW(x, frame)} > 1 THEN sqrt(greatest(($n*$sx2 - $sx*$sx)/($n*($n-1.0)), 0.0)) END"
  }

  override def oracles: Map[String, String] = Map(
    "q10_win_lag_returns" ->
      s"""${Bars.sql}
         |SELECT ticker, seq, price,
         |  lag(price, 1) OVER ($over) AS lag1,
         |  lag(price, 5) OVER ($over) AS lag5,
         |  price / lag(price, 1) OVER ($over) - 1 AS ret1,
         |  price - lag(price, 1) OVER ($over) AS diff1
         |FROM bars""".stripMargin,
    "q11_win_rolling" -> {
      val f = "ROWS BETWEEN 19 PRECEDING AND CURRENT ROW"
      s"""${Bars.sql}
         |SELECT ticker, seq, price,
         |  ${dsumW("price", f)} / ${cntW("price", f)} AS roll_mean20,
         |  ${stddevW("price", f)} AS roll_std20
         |FROM bars""".stripMargin
    },
    "q12_win_equity_drawdown" -> {
      val f = "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW"
      val cum = dsumW("price", f)
      s"""${Bars.sql},
         |cums AS (SELECT ticker, seq, ts, $cum AS equity FROM bars)
         |SELECT ticker, seq, equity,
         |  max(equity) OVER ($over ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS peak,
         |  equity / max(equity) OVER ($over ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - 1 AS drawdown
         |FROM cums""".stripMargin
    },
    "q13_win_xsec" -> {
      val sx = "CAST(SUM(CAST(price AS DECIMAL(38,6))) OVER (PARTITION BY day) AS DOUBLE)"
      // rawgrid: price² sits on the 12-dp grid (see dsum2W note)
      val sx2 = "CAST(SUM(CAST(price*price AS DECIMAL(38,12))) OVER (PARTITION BY day) AS DOUBLE)"
      val n = "CAST(COUNT(price) OVER (PARTITION BY day) AS DOUBLE)"
      val sd = s"CASE WHEN COUNT(price) OVER (PARTITION BY day) > 1 THEN sqrt(greatest(($n*$sx2 - $sx*$sx)/($n*($n-1.0)), 0.0)) END"
      s"""${Bars.sql}
         |SELECT ticker, seq,
         |  percent_rank() OVER (PARTITION BY day ORDER BY price, seq) AS xsec_rank,
         |  (price - $sx / $n) / ($sd) AS xsec_z
         |FROM bars""".stripMargin
    },
    "q14_win_runlength" ->
      s"""${Bars.sql},
         |flags AS (
         |  SELECT ticker, seq, ts,
         |    CASE WHEN price < 50 THEN 1 ELSE 0 END AS flag
         |  FROM bars),
         |chg AS (
         |  SELECT ticker, seq, flag,
         |    CASE WHEN flag <> COALESCE(lag(flag, 1) OVER ($over), 0) THEN 1 ELSE 0 END AS change,
         |    ts
         |  FROM flags),
         |grps AS (
         |  SELECT ticker, seq, flag,
         |    SUM(change) OVER ($over ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS grp
         |  FROM chg)
         |SELECT ticker, seq, flag,
         |  COUNT(*) OVER (PARTITION BY ticker, grp) AS run_len
         |FROM grps""".stripMargin,
    "q19_win_skew" -> {
      val f = "ROWS BETWEEN 19 PRECEDING AND CURRENT ROW"
      val n = s"CAST(${cntW("price", f)} AS DOUBLE)"
      val sx = dsumW("price", f)
      val q6 = Det.sqlQfloor("price", "1e6")
      val q4 = Det.sqlQfloor("price", "1e4")
      val sx2 = s"(CAST(SUM(CAST($q6 AS HUGEINT) * CAST($q6 AS HUGEINT)) OVER ($over $f) AS DOUBLE) / 1e12)"
      val sx3 = s"(CAST(SUM(CAST($q4 AS HUGEINT) * CAST($q4 AS HUGEINT) * CAST($q4 AS HUGEINT)) OVER ($over $f) AS DOUBLE) / 1e12)"
      val mean = s"($sx/$n)"
      val m2 = s"($sx2/$n - $mean*$mean)"
      val m3 = s"($sx3/$n - 3.0*$mean*$sx2/$n + 2.0*$mean*$mean*$mean)"
      s"""${Bars.sql}
         |SELECT ticker, seq,
         |  CASE WHEN ${cntW("price", f)} >= 3 AND $m2 > 0
         |       THEN $m3 / pow($m2, 1.5) END AS roll_skew20
         |FROM bars""".stripMargin
    },
    "q17_win_seasonal" -> {
      val f30 = "ROWS BETWEEN 29 PRECEDING AND CURRENT ROW"
      s"""${Bars.sql},
         |based AS (
         |  SELECT ticker, ts, seq, price,
         |    ${dsumW("price", f30)} / ${cntW("price", f30)} AS trend,
         |    seq % 7 AS phase
         |  FROM bars),
         |det AS (
         |  SELECT ticker, seq, phase, trend, price - trend AS detrended FROM based),
         |idx AS (
         |  SELECT ticker, phase, ${sqlAvg("detrended")} AS seasonal
         |  FROM det GROUP BY ticker, phase)
         |SELECT d.ticker, d.seq, d.trend, i.seasonal,
         |  d.detrended - i.seasonal AS resid
         |FROM det d JOIN idx i ON d.ticker = i.ticker AND d.phase = i.phase""".stripMargin
    },
    "q18_quantiles" ->
      s"""${Bars.sql}
         |SELECT ticker,
         |  quantile_cont(price, 0.25) AS p25,
         |  quantile_cont(price, 0.5) AS p50,
         |  quantile_cont(price, 0.75) AS p75
         |FROM bars GROUP BY ticker""".stripMargin,
    "q15_win_top1" ->
      s"""${Bars.sql},
         |ranked AS (
         |  SELECT ticker, seq, price,
         |    row_number() OVER (PARTITION BY ticker ORDER BY price DESC, seq) AS rn
         |  FROM bars)
         |SELECT ticker, seq, price FROM ranked WHERE rn = 1""".stripMargin,
    "q16_win_atr" -> {
      val f = "ROWS BETWEEN 13 PRECEDING AND CURRENT ROW"
      s"""${Bars.sql},
         |trs AS (
         |  SELECT ticker, seq, ts,
         |    greatest(abs(price - lag(price, 1) OVER ($over)),
         |             abs(lag(price, 1) OVER ($over) - lag(price, 2) OVER ($over))) AS tr
         |  FROM bars)
         |SELECT ticker, seq, tr,
         |  ${dsumW("tr", f)} / ${cntW("tr", f)} AS atr14
         |FROM trs""".stripMargin
    },
    "q199_rank_suite" -> {
      val w = "PARTITION BY event_type ORDER BY value, event_id"
      s"""SELECT event_type, event_id,
         |  row_number() OVER ($w) AS rn,
         |  CAST(ntile(4) OVER ($w) AS BIGINT) AS quartile,
         |  percent_rank() OVER ($w) AS pr,
         |  cume_dist() OVER ($w) AS cd
         |FROM events""".stripMargin
    }
  )
}
