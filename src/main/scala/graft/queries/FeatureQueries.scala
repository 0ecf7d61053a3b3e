package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.features.FeatureBuilder
import Det.{SlidingSum, momentStddev, withSlidingSums}

/** Feature-engine operators under the oracle gate — the CVaR rolling
  * quantile, the dropNa gate, feature-health telemetry, and the
  * drift/downside/vol-regime trio (reference
  * etl/time_series_feature_builder.py:131-156, :243-289).
  *
  * q156/q158 run the REAL [[FeatureBuilder]] (`build` + `health`) over a
  * second-bucketed bar series whose close is an exact decimal average —
  * the selected outputs (order statistics, null fractions, counts) are
  * engine-invariant, so the gate is hash-exact without touching the
  * inexact stddev feature columns (those stay spec-verified).
  */
object FeatureQueries extends QueryModule {

  /** Unique-per-ticker bar frame for the feature engine: one row per
    * (event_type, second), close = exact decimal average (identical in
    * DuckDB), high/low = exact order stats. Unique `date` keeps every
    * orderBy("date") window deterministic. */
  private def featureInput(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    graft.Tables.load(s, dir, "events")
      .where(col("value") =!= 0)
      .groupBy($"event_type".as("ticker"),
        date_trunc("second", $"ts").as("date"))
      .agg(Det.davg($"value").as("close"),
        max($"value").as("high"), min($"value").as("low"))
  }

  private val featureInputSql: String =
    s"""base AS (
       |  SELECT event_type AS ticker, date_trunc('second', ts) AS date,
       |         ${Det.sqlAvg("value")} AS close
       |  FROM events WHERE value <> 0 GROUP BY 1, 2)""".stripMargin

  override def queries: Map[String, QFn] = Map(
    // CVaR proxy (feature_builder :156): exact rolling 5% quantile of
    // returns over 60 bars — order statistics, not sums, so the REAL
    // build() output hashes exactly. The dropNa gate (na.drop over
    // ret_20/roll_std_60/atr_14) is pinned by the surviving row set.
    "q156_cvar_rolling" -> ((s, dir) => {
      import s.implicits._
      FeatureBuilder.build(featureInput(s, dir), dropNa = true)
        .select($"ticker", $"date", $"cvar_95_60")
    }),

    // drift intensity (:131-135), downside vol (:150-152) and the
    // σ20-tercile vol-regime bucket (:137-148) with the engine's
    // documented determinism idioms: returns quantized at 1e-12
    // (floor(x·s + 0.5), pure IEEE — identical in every engine; Det's
    // computed-double rule), moments as exact decimal sums, terciles
    // as exact rank selection over the σ20 dim.
    "q157_vol_features" -> ((s, dir) => {
      import s.implicits._
      val w = Window.partitionBy($"ticker").orderBy($"ts", $"seq")
      val dec0 = DecimalType(38, 0)
      val scale = lit(1e12)

      val ret1 = $"price" / lag($"price", 1).over(w) - 1
      val b = Bars.of(s, dir)
        .withColumn("qret", floor(ret1 * scale + lit(0.5)))
        .withColumn("qd",
          when($"qret".isNotNull && $"qret" < 0, $"qret").otherwise(lit(0L)))
      def sq(c: String) = col(c).cast(dec0) * col(c).cast(dec0)
      val sums = withSlidingSums(b, w,
        SlidingSum("q20", $"qret", dec0, -19, 0),
        SlidingSum("q60", $"qret", dec0, -59, 0),
        SlidingSum("qq60", sq("qret"), dec0, -59, 0),
        SlidingSum("d20", $"qd", dec0, -19, 0),
        SlidingSum("dd20", sq("qd"), dec0, -19, 0),
        SlidingSum("p20", $"price", DecimalType(38, 6), -19, 0),
        SlidingSum("pp20", $"price" * $"price", DecimalType(38, 12), -19, 0))

      def d(c: String) = col(c).cast("double")
      val n60 = d("q60_n")
      val m20 = d("q20") / scale / d("q20_n")
      val m60 = d("q60") / scale / n60
      val s60 = momentStddev(n60, d("q60") / scale, d("qq60") / scale / scale)
      val drift = when(n60 > 1, abs(m20 - m60) / (s60 + lit(1e-9)))
      val down = momentStddev(d("d20_n"), d("d20") / scale, d("dd20") / scale / scale)
      // Det.dstddevOver(price, w20) from the same exact sliding sums
      val sig20 = momentStddev(d("p20_n"), d("p20"), d("pp20"))
      val feats = sums.select($"ticker", $"seq",
        drift.as("drift_intensity"), down.as("downside_vol20"),
        sig20.as("sig20"))

      // exact tercile cuts of sig20 per ticker: the values at sorted
      // ranks ceil(n/3) and ceil(2n/3) (rank arithmetic, q136 pattern)
      val wRank = Window.partitionBy($"ticker").orderBy($"sig20")
      val cuts = feats.where($"sig20".isNotNull)
        .withColumn("vrn", row_number().over(wRank))
        .withColumn("vn", count(lit(1)).over(Window.partitionBy($"ticker")))
        .where($"vrn" === ceil($"vn" / lit(3.0)) ||
          $"vrn" === ceil($"vn" * 2 / lit(3.0)))
        .groupBy($"ticker")
        .agg(min($"sig20").as("cut1"), max($"sig20").as("cut2"))
      feats.join(broadcast(cuts), Seq("ticker"), "left")
        .select($"ticker", $"seq", $"drift_intensity", $"downside_vol20",
          when($"sig20".isNull, lit(null).cast("int"))
            .when($"sig20" <= $"cut1", 0)
            .when($"sig20" <= $"cut2", 1)
            .otherwise(2).as("vol_regime"))
    }),

    // feature-health telemetry (:243-289) over the REAL build(dropNa =
    // false) output: row/ticker counts, per-feature null fractions
    // (0/1 sums — exact), availability + warning flags.
    "q158_feature_health" -> ((s, dir) => {
      FeatureBuilder.health(
        FeatureBuilder.build(featureInput(s, dir), dropNa = false,
          reuseKernel = true))
    })
  )

  override def oracles: Map[String, String] = Map(
    // ret_1/ret_20 from the identical davg closes; the 60-bar frame is
    // replayed with list(), Spark's null-skipping collect_list becomes
    // list_filter, the 0-based [floor(0.05·(n−1))] subscript becomes
    // 1-based (+1), and 0.05·(n−1) is exact decimal arithmetic in both
    // engines. na.drop(ret_20, roll_std_60, atr_14) reduces to
    // ret_20 IS NOT NULL: roll_std_60 is NaN (not null) only at rn=1 ⊂
    // {ret_20 null}, atr_14 is never null (true_range falls back to
    // high−low on row 1).
    "q156_cvar_rolling" ->
      s"""WITH $featureInputSql,
         |r AS (
         |  SELECT ticker, date,
         |    close / lag(close, 1) OVER w - 1 AS ret_1,
         |    close / lag(close, 20) OVER w - 1 AS ret_20
         |  FROM base WINDOW w AS (PARTITION BY ticker ORDER BY date)),
         |c AS (
         |  SELECT ticker, date, ret_20,
         |    list_filter(list(ret_1) OVER (PARTITION BY ticker ORDER BY date
         |      ROWS BETWEEN 59 PRECEDING AND CURRENT ROW),
         |      x -> x IS NOT NULL) AS lst
         |  FROM r)
         |SELECT ticker, date,
         |  ABS(CASE WHEN len(lst) > 0
         |    THEN list_sort(lst)[CAST(FLOOR(0.05 * (len(lst) - 1)) AS BIGINT) + 1]
         |    END) AS cvar_95_60
         |FROM c WHERE ret_20 IS NOT NULL""".stripMargin,

    // the quantize → exact-decimal-moment → formula chain replayed
    // op-for-op; DECIMAL(38,0) squares (qret² can exceed BIGINT);
    // tercile cuts re-derived with the identical rank arithmetic
    "q157_vol_features" ->
      s"""${Bars.sql},
         |b AS (
         |  SELECT ticker, seq, price, ts,
         |    FLOOR((price / lag(price, 1) OVER (PARTITION BY ticker ORDER BY ts, seq) - 1)
         |          * CAST(1e12 AS DOUBLE) + CAST(0.5 AS DOUBLE)) AS qret
         |  FROM bars),
         |b2 AS (
         |  SELECT *, CASE WHEN qret IS NOT NULL AND qret < 0
         |    THEN qret ELSE 0 END AS qd FROM b),
         |m AS (
         |  SELECT ticker, seq, price,
         |    CAST(count(qret) OVER w20 AS DOUBLE) AS n20,
         |    CAST(count(qret) OVER w60 AS DOUBLE) AS n60,
         |    CAST(SUM(CAST(qret AS DECIMAL(38,0))) OVER w20 AS DOUBLE) AS sq20,
         |    CAST(SUM(CAST(qret AS DECIMAL(38,0))) OVER w60 AS DOUBLE) AS sq60,
         |    CAST(SUM(CAST(qret AS DECIMAL(38,0)) * CAST(qret AS DECIMAL(38,0))) OVER w60
         |         AS DOUBLE) AS sqq60,
         |    CAST(count(qd) OVER w20 AS DOUBLE) AS nd,
         |    CAST(SUM(CAST(qd AS DECIMAL(38,0))) OVER w20 AS DOUBLE) AS sd20,
         |    CAST(SUM(CAST(qd AS DECIMAL(38,0)) * CAST(qd AS DECIMAL(38,0))) OVER w20
         |         AS DOUBLE) AS sdd20,
         |    CAST(count(price) OVER w20 AS DOUBLE) AS np,
         |    CAST(SUM(CAST(price AS DECIMAL(38,6))) OVER w20 AS DOUBLE) AS sp,
         |    -- rawgrid: price² of 6-dp prices sits ON the 12-dp grid (no tie)
         |    CAST(SUM(CAST(price * price AS DECIMAL(38,12))) OVER w20 AS DOUBLE) AS spp
         |  FROM b2
         |  WINDOW
         |    w20 AS (PARTITION BY ticker ORDER BY ts, seq
         |            ROWS BETWEEN 19 PRECEDING AND CURRENT ROW),
         |    w60 AS (PARTITION BY ticker ORDER BY ts, seq
         |            ROWS BETWEEN 59 PRECEDING AND CURRENT ROW)),
         |f AS (
         |  SELECT ticker, seq,
         |    CASE WHEN n60 > 1 THEN
         |      ABS(sq20 / CAST(1e12 AS DOUBLE) / n20 - sq60 / CAST(1e12 AS DOUBLE) / n60)
         |      / (SQRT(GREATEST(
         |           (n60 * (sqq60 / CAST(1e12 AS DOUBLE) / CAST(1e12 AS DOUBLE))
         |             - (sq60 / CAST(1e12 AS DOUBLE)) * (sq60 / CAST(1e12 AS DOUBLE)))
         |           / (n60 * (n60 - 1.0)), 0.0)) + CAST(1e-9 AS DOUBLE))
         |    END AS drift_intensity,
         |    CASE WHEN nd > 1 THEN
         |      SQRT(GREATEST(
         |        (nd * (sdd20 / CAST(1e12 AS DOUBLE) / CAST(1e12 AS DOUBLE))
         |          - (sd20 / CAST(1e12 AS DOUBLE)) * (sd20 / CAST(1e12 AS DOUBLE)))
         |        / (nd * (nd - 1.0)), 0.0))
         |    END AS downside_vol20,
         |    CASE WHEN np > 1 THEN
         |      SQRT(GREATEST((np * spp - sp * sp) / (np * (np - 1.0)), 0.0))
         |    END AS sig20
         |  FROM m),
         |ranked AS (
         |  SELECT ticker, sig20,
         |    row_number() OVER (PARTITION BY ticker ORDER BY sig20) AS vrn,
         |    count(*) OVER (PARTITION BY ticker) AS vn
         |  FROM f WHERE sig20 IS NOT NULL),
         |cuts AS (
         |  SELECT ticker, MIN(sig20) AS cut1, MAX(sig20) AS cut2
         |  FROM ranked
         |  WHERE vrn = CEIL(vn / CAST(3.0 AS DOUBLE))
         |     OR vrn = CEIL(vn * 2 / CAST(3.0 AS DOUBLE))
         |  GROUP BY ticker)
         |SELECT f.ticker, f.seq, f.drift_intensity, f.downside_vol20,
         |  CASE WHEN f.sig20 IS NULL THEN NULL
         |       WHEN f.sig20 <= c.cut1 THEN 0
         |       WHEN f.sig20 <= c.cut2 THEN 1
         |       ELSE 2 END AS vol_regime
         |FROM f LEFT JOIN cuts c ON f.ticker = c.ticker""".stripMargin,

    // null-fraction mirror (Spark 4 stddev_samp yields NULL at n=1):
    // ret_20 null ⇔ rn ≤ 20 · roll_std_60 null ⇔ rn = 1 (single-row
    // frame) · atr_14 / seasonal_resid_126 never null on this input ·
    // xsec_z_ret20 null ⇔ ret_20 null OR its per-date group has < 2
    // non-null values OR they are all equal (stddev exactly 0)
    "q158_feature_health" ->
      s"""WITH $featureInputSql,
         |r AS (
         |  SELECT ticker, date,
         |    close / lag(close, 20) OVER (PARTITION BY ticker ORDER BY date) - 1 AS ret_20,
         |    row_number() OVER (PARTITION BY ticker ORDER BY date) AS rn
         |  FROM base),
         |z AS (
         |  SELECT ticker, date, ret_20, rn,
         |    count(ret_20) OVER (PARTITION BY date) AS znn,
         |    min(ret_20) OVER (PARTITION BY date) AS zmin,
         |    max(ret_20) OVER (PARTITION BY date) AS zmax
         |  FROM r),
         |flags AS (
         |  SELECT ticker,
         |    CASE WHEN ret_20 IS NULL THEN 1.0 ELSE 0.0 END AS f_ret20,
         |    CASE WHEN rn = 1 THEN 1.0 ELSE 0.0 END AS f_std60,
         |    CASE WHEN ret_20 IS NULL OR znn <= 1 OR (znn >= 2 AND zmin = zmax)
         |      THEN 1.0 ELSE 0.0 END AS f_z
         |  FROM z)
         |SELECT COUNT(*) AS "rows", COUNT(DISTINCT ticker) AS tickers,
         |  SUM(f_ret20) / COUNT(*) AS null_frac_ret_20,
         |  SUM(f_std60) / COUNT(*) AS null_frac_roll_std_60,
         |  CAST(0.0 AS DOUBLE) AS null_frac_atr_14,
         |  SUM(f_z) / COUNT(*) AS null_frac_xsec_z_ret20,
         |  CAST(0.0 AS DOUBLE) AS null_frac_seasonal_resid_126,
         |  1 AS decomp_available,
         |  CAST(SUM(f_ret20) / COUNT(*) > 0.3 OR SUM(f_std60) / COUNT(*) > 0.3
         |       OR SUM(f_z) / COUNT(*) > 0.3 AS INT) AS warn_high_null_fraction
         |FROM flags""".stripMargin
  )
}
