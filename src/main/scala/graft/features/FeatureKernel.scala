package graft.features

import java.math.{BigDecimal => JBig}

import org.apache.spark.sql.{DataFrame, Encoders, Row}
import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

import graft.operators.ChunkedWindow

/** The per-ticker windowed block of [[FeatureBuilder.build]] as ONE
  * halo-exchange streaming pass — the feature engine.
  *
  * The Window form of this block (the spec oracle, `WindowedFeatures` in
  * the tests) evaluates ~20 sliding aggregates through Spark's WindowExec,
  * which re-walks the frame per row (O(frame)/row, no retraction) and
  * serializes each ticker onto one core. This kernel computes every
  * per-ticker windowed column in a single O(h)/row scan on
  * `ChunkedWindow.haloScan` (h = 126, the deepest lookback), with exact
  * running prefix sums in place of per-frame re-aggregation, so
  * parallelism scales with ROWS, not tickers — the 100 TB shape.
  *
  * Parity contract with the Window form (specs: FeatureBuilderSpec,
  * PipelineSpec):
  *  - BIT-EXACT: all lags/returns/diffs (pure per-row IEEE ops),
  *    drawdown_60 / max_drawdown_60 (order statistics), cvar_95_60
  *    (rank selection over exact returns), gap_run_len, true_range,
  *    every NULL pattern, and the all-equal-window cases (roll_std =
  *    0.0, roll_skew = NULL — the m2 = 0 path, detected via equality
  *    run-lengths, exactly as a per-frame recomputation sees them).
  *  - LAST-ULPS: rolling mean/std/skew, drift, downside vol, ATR, the
  *    seasonal trend — the kernel sums exact decimals (shortest-decimal
  *    image of each double, order-independent and cancellation-free at
  *    ANY prefix depth) where the Window form sums doubles in frame
  *    order. Neither is "the" value; no gate hashes these.
  *
  * Input contract: every frame `Preprocessor.handleMissing` emits. After
  * its fill, each price column of a ticker is null on every row or on
  * none, so the kernel accepts:
  *  - a null date: it sorts first within its ticker, as `orderBy("date")`
  *    puts it, and comes out null (`Validator` FAILs a second one in the
  *    same ticker as a duplicate key);
  *  - a null ticker: its rows are one key, as `partitionBy` makes them;
  *  - a null high or low on any row: `true_range` skips the null legs as
  *    `greatest` does, and `atr_14` averages the non-null ranges;
  *  - a ticker whose close is null on every row: every close-derived
  *    column is null, `downside_vol_20` is the deviation of its all-zero
  *    series, and `gap_run_len` is the ticker's row count.
  * `gap_run_len` is the reference's: the total length of the null-close
  * island a row sits in (`groupby(gap).transform(sum)`,
  * time_series_feature_builder.py:121-129), 0 on a non-null close — not
  * the length of the run so far. A ticker whose close is null on some
  * rows but not all is rejected with an IllegalArgumentException that
  * names it: fill first. Every pair of neighbouring rows is compared by
  * the partition holding the second (the first arrives in its halo), so
  * the check holds for a ticker spread over many partitions.
  *
  * Every other input column (a bar's open, volume, adjClose, source) is
  * carried through the shuffle on its own row, untouched, and comes out
  * in its input position — so callers need no join back on
  * (ticker, date) to recover it.
  */
object FeatureKernel {

  /** Kernel input row. `nulls` flags which of date, close, high and low
    * are null ([[NoDate]], [[NoClose]], [[NoHigh]], [[NoLow]]); a null
    * field holds 0. */
  case class FRow(ticker: String, dateUs: Long, close: Double,
      high: Double, low: Double, nulls: Int) {
    def has(bit: Int): Boolean = (nulls & bit) == 0
  }
  final val NoDate = 1; final val NoClose = 2; final val NoHigh = 4; final val NoLow = 8

  /** Kernel output: the five input columns, then the per-ticker windowed
    * feature block in build()'s column order. */
  final case class FeatRow(
      ticker: String, date_us: Option[Long], close: Option[Double],
      high: Option[Double], low: Option[Double],
      ret_1: Option[Double], close_lag_1: Option[Double],
      close_lag_5: Option[Double], ret_5: Option[Double],
      close_lag_10: Option[Double], ret_10: Option[Double],
      close_lag_20: Option[Double], ret_20: Option[Double],
      diff_1: Option[Double], diff_5: Option[Double],
      roll_mean_5: Option[Double], roll_std_5: Option[Double],
      roll_skew_5: Option[Double],
      roll_mean_10: Option[Double], roll_std_10: Option[Double],
      roll_skew_10: Option[Double],
      roll_mean_20: Option[Double], roll_std_20: Option[Double],
      roll_skew_20: Option[Double],
      roll_mean_60: Option[Double], roll_std_60: Option[Double],
      roll_skew_60: Option[Double],
      gap_run_len: Long,
      drift_intensity: Option[Double], downside_vol_20: Option[Double],
      drawdown_60: Option[Double], max_drawdown_60: Option[Double],
      cvar_95_60: Option[Double],
      true_range: Option[Double], atr_14: Option[Double],
      seasonal_trend_126: Option[Double], _detrended: Option[Double], _phase: Int)

  private val H = 126 // deepest lookback: the seasonal trend window
  private val R = 128 // value-ring capacity (window ≤ 126 back incl. lag)
  private val RP = 128 // prefix-ring capacity (P(k-126)..P(k): 127 live)

  private final class Kernel
      extends ChunkedWindow.HaloKernel[(FRow, Row), (FeatRow, Row)] {
    // value rings, indexed by local row index j mod R
    private val cvR = new Array[Double](R)
    private val retR = new Array[Double](R)
    private val retNullR = new Array[Boolean](R)
    private val ddR = new Array[Double](R)
    private val ddNullR = new Array[Boolean](R)
    // exact decimal prefix rings, P(i) at slot i mod RP
    private val c1 = new Array[JBig](RP); private val c2 = new Array[JBig](RP)
    private val c3 = new Array[JBig](RP)
    private val r1 = new Array[JBig](RP); private val r2 = new Array[JBig](RP)
    private val d1 = new Array[JBig](RP); private val d2 = new Array[JBig](RP)
    private val t1 = new Array[JBig](RP)
    private val rcnt = new Array[Long](RP) // prefix count of non-null rets
    private val tcnt = new Array[Long](RP) // prefix count of non-null ranges
    // equality run lengths (pairs of consecutive equal values ending here)
    private var closeEq = 0L
    private var retEq = 0L
    private var dEq = 0L
    private var rn = 0L // global per-key row index of the NEXT real row
    private var k = 0L // local pushes so far (P(k) is the top prefix)
    private var keyRows = 0L // the key's row count, over all partitions
    private var nullCloses = false // the key's close is null on every row

    def reset(rn0: Long, n: Long): Unit = {
      rn = rn0
      k = 0
      keyRows = n
      closeEq = 0; retEq = 0; dEq = 0
      dPrev = 0.0
      c1(0) = JBig.ZERO; c2(0) = JBig.ZERO; c3(0) = JBig.ZERO
      r1(0) = JBig.ZERO; r2(0) = JBig.ZERO
      d1(0) = JBig.ZERO; d2(0) = JBig.ZERO
      t1(0) = JBig.ZERO; rcnt(0) = 0L; tcnt(0) = 0L
    }

    // halo rows warm the rings exactly like real rows, without emitting;
    // their derived values at the first few local indexes differ from
    // global truth (no predecessor in the replay), but haloScan carries
    // H rows and every frame an EMITTED row reads stays > its own depth
    // away from the replay's cold edge — see the parity spec
    def halo(t: (FRow, Row)): Unit = push(t._1)

    // the carried columns ride along with their row, untouched
    def row(t: (FRow, Row)): (FeatRow, Row) = (features(t._1), t._2)

    private def push(f: FRow): Unit = {
      val j = k // local index of this row
      // the key's first pushed row sets its mode; every later one,
      // halo rows included, must agree with its predecessor's
      if (j == 0) nullCloses = !f.has(NoClose)
      else require(f.has(NoClose) != nullCloses,
        s"FeatureKernel: ticker ${f.ticker} has a null close on some rows but " +
          "not all; fill it first (Preprocessor.handleMissing)")
      val vs = (j % R).toInt
      val hasPrev = j > 0
      val prevClose = if (hasPrev) cvR(((j - 1) % R).toInt) else 0.0
      // ret_1: no predecessor (the key's first global row, or the cold
      // edge of a halo replay — never read by an emitted frame), or no
      // close at all
      val retNull = !hasPrev || nullCloses
      val ret = if (retNull) 0.0 else f.close / prevClose - 1
      // downside series: when(ret < 0, ret).otherwise(0.0) — null ret
      // falls to otherwise, NaN < 0 is false
      val d = if (!retNull && ret < 0) ret else 0.0
      // true range: greatest over the non-null legs of high-low,
      // |high-prev| and |low-prev| (the last two need a previous close)
      lastTrNull = true
      if (f.has(NoHigh) && f.has(NoLow)) trLeg(f.high - f.low)
      if (hasPrev && !nullCloses) {
        if (f.has(NoHigh)) trLeg(math.abs(f.high - prevClose))
        if (f.has(NoLow)) trLeg(math.abs(f.low - prevClose))
      }

      // equality runs (pair counters for exact constant-window detection)
      closeEq = if (hasPrev && f.close == prevClose) closeEq + 1 else 0
      val prevRetNull = if (hasPrev) retNullR(((j - 1) % R).toInt) else true
      val prevRet = if (hasPrev) retR(((j - 1) % R).toInt) else 0.0
      retEq = if (!retNull && !prevRetNull && ret == prevRet) retEq + 1 else 0
      dEq = if (hasPrev && d == dPrev) dEq + 1 else 0
      dPrev = d

      cvR(vs) = f.close
      retR(vs) = ret
      retNullR(vs) = retNull

      // drawdown vs the 60-row peak — computed for EVERY push (emitted
      // frames read the drawdowns of halo rows too). Early halo rows see
      // a clipped window where global truth may be deeper; no emitted
      // frame reaches those slots (depth argument in the scaladoc).
      // Without closes the peak is null, and so is every drawdown.
      val wp = if (nullCloses) 0 else math.min(j + 1, 60L).toInt
      var peak = Double.NegativeInfinity
      var pi = 0
      while (pi < wp) {
        val v = cvR(((j - pi) % R).toInt)
        if (java.lang.Double.compare(v, peak) > 0) peak = v
        pi += 1
      }
      ddNullR(vs) = nullCloses || peak == 0.0
      ddR(vs) = if (ddNullR(vs)) 0.0 else f.close / peak - 1

      val cb = JBig.valueOf(f.close)
      val cb2 = cb.multiply(cb)
      val rb = if (retNull) JBig.ZERO else JBig.valueOf(ret)
      val db = JBig.valueOf(d)
      val trb = if (lastTrNull) JBig.ZERO else JBig.valueOf(lastTr)
      val to = ((k + 1) % RP).toInt
      val fr = (k % RP).toInt
      c1(to) = c1(fr).add(cb)
      c2(to) = c2(fr).add(cb2)
      c3(to) = c3(fr).add(cb2.multiply(cb))
      r1(to) = r1(fr).add(rb)
      r2(to) = r2(fr).add(rb.multiply(rb))
      d1(to) = d1(fr).add(db)
      d2(to) = d2(fr).add(db.multiply(db))
      t1(to) = t1(fr).add(trb)
      rcnt(to) = rcnt(fr) + (if (retNull) 0L else 1L)
      tcnt(to) = tcnt(fr) + (if (lastTrNull) 0L else 1L)

      lastRet = ret
      lastRetNull = retNull
      k += 1
    }

    // last pushed row's derived values (for emit)
    private var lastTr = 0.0
    private var lastTrNull = true
    private var lastRet = 0.0
    private var lastRetNull = true
    private var dPrev = 0.0

    /** One non-null leg of `greatest`: it wins when it is the first or
      * orders above the best so far (NaN highest, as `greatest` does). */
    private def trLeg(v: Double): Unit =
      if (lastTrNull || java.lang.Double.compare(v, lastTr) > 0) {
        lastTr = v; lastTrNull = false
      }

    private def diff(p: Array[JBig], rows: Long): Double = exact(p, rows).doubleValue

    private def exact(p: Array[JBig], rows: Long): JBig = {
      val hiP = (k % RP).toInt
      val loP = ((k - rows) % RP).toInt
      p(hiP).subtract(p(loP))
    }

    private def cntDiff(cnt: Array[Long], rows: Long): Long = {
      val hiP = (k % RP).toInt
      val loP = ((k - rows) % RP).toInt
      cnt(hiP) - cnt(loP)
    }

    /** stddev_samp from exact sums: Det.dstddev's formula. */
    private def stdOf(s1: Double, s2: Double, n: Long): Double = {
      val nd = n.toDouble
      math.sqrt(math.max((nd * s2 - s1 * s1) / (nd * (nd - 1.0)), 0.0))
    }

    private def features(f: FRow): FeatRow = {
      push(f)
      val g = rn // global index of THIS row
      rn += 1
      val j = k - 1 // local index of this row
      val close = f.close

      def lagC(t: Int): Option[Double] =
        if (g >= t && !nullCloses) Some(cvR(((j - t) % R).toInt)) else None
      def retK(t: Int): Option[Double] = lagC(t).map(close / _ - 1)
      def diffK(t: Int): Option[Double] = lagC(t).map(close - _)

      def rows(n: Int): Long = math.min(g + 1, n.toLong)

      // rolling close moments for n in {5,10,20,60} + the 126 trend
      def mean(n: Int): Option[Double] =
        if (nullCloses) None else Some(diff(c1, rows(n)) / rows(n))
      def stdC(n: Int): Option[Double] = {
        val m = rows(n)
        if (m < 2 || nullCloses) None
        else if (closeEq >= m - 1) Some(0.0) // constant frame: exactly 0
        else Some(stdOf(diff(c1, m), diff(c2, m), m))
      }
      def skewC(n: Int): Option[Double] = {
        val m = rows(n)
        // constant frame (incl. m = 1): central m2 = 0 ⇒ Spark 4
        // skewness yields NULL
        if (closeEq >= m - 1 || nullCloses) None
        else {
          // sqrt(m)·m3/m2^1.5 of the central sums, = N3/N2^1.5 with the
          // scaled central sums N2 = m·m2 and N3 = m²·m3 formed EXACTLY
          // from the decimal sums: formed in doubles, Σx³ − 3μΣx² + …
          // cancelled to a 3.4e-7 relative gap from WindowExec on 5-bar
          // frames of the seeded bench bars
          val s1 = exact(c1, m); val s2 = exact(c2, m); val s3 = exact(c3, m)
          val mb = JBig.valueOf(m)
          val n2 = mb.multiply(s2).subtract(s1.multiply(s1))
          val n3 = mb.multiply(mb).multiply(s3)
            .subtract(JBig.valueOf(3L).multiply(mb).multiply(s1).multiply(s2))
            .add(JBig.valueOf(2L).multiply(s1).multiply(s1).multiply(s1))
          val n2d = n2.doubleValue
          Some(n3.doubleValue / math.sqrt(n2d * n2d * n2d))
        }
      }

      // drift intensity: avg/std of ret over 20/60-row frames (nulls
      // excluded from count; null iff fewer than 1/2 non-null rets)
      val rc20 = cntDiff(rcnt, rows(20)); val rc60 = cntDiff(rcnt, rows(60))
      val drift =
        if (rc20 < 1 || rc60 < 2) None
        else {
          val m20 = diff(r1, rows(20)) / rc20
          val m60 = diff(r1, rows(60)) / rc60
          val s60 =
            if (retEq >= rc60 - 1) 0.0
            else stdOf(diff(r1, rows(60)), diff(r2, rows(60)), rc60)
          Some(math.abs(m20 - m60) / (s60 + 1e-9))
        }

      // downside vol over 20 rows (series never null: all zeros
      // without closes)
      val dRows = rows(20)
      val dv =
        if (dRows < 2) None
        else if (dEq >= dRows - 1) Some(0.0)
        else Some(stdOf(diff(d1, dRows), diff(d2, dRows), dRows))

      // drawdown was stored by push(); max drawdown = min over the
      // 60-row frame of the (nullable) drawdowns — scanned off the ring
      val w60 = rows(60).toInt
      val ddSlot = (j % R).toInt
      val dd = if (ddNullR(ddSlot)) None else Some(ddR(ddSlot))
      var mddMin = Double.NaN
      var mddSeen = false
      var i = 0
      while (i < w60) {
        val s = ((j - i) % R).toInt
        if (!ddNullR(s)) {
          val v = ddR(s)
          if (!mddSeen || java.lang.Double.compare(v, mddMin) < 0) {
            mddMin = v; mddSeen = true
          }
        }
        i += 1
      }
      val mdd = if (mddSeen) Some(math.abs(mddMin)) else None

      // CVaR: rank-⌊0.05·(sz−1)⌋ smallest of the ≤60 non-null returns —
      // the rank is ≤ 2, so track the three smallest in one scan
      var m0 = Double.NaN; var m1 = Double.NaN; var m2v = Double.NaN
      var sz = 0
      i = 0
      while (i < w60) {
        val s = ((j - i) % R).toInt
        if (!retNullR(s)) {
          val v = retR(s)
          sz += 1
          if (sz == 1 || java.lang.Double.compare(v, m0) < 0) {
            m2v = m1; m1 = m0; m0 = v
          } else if (sz == 2 || java.lang.Double.compare(v, m1) < 0) {
            m2v = m1; m1 = v
          } else if (sz == 3 || java.lang.Double.compare(v, m2v) < 0) {
            m2v = v
          }
        }
        i += 1
      }
      val cvar =
        if (sz == 0) None
        else {
          val idx = math.floor(0.05 * (sz - 1)).toInt
          Some(math.abs(idx match {
            case 0 => m0
            case 1 => m1
            case _ => m2v
          }))
        }

      val trRows = rows(14)
      val trCount = cntDiff(tcnt, trRows)
      val tRows126 = rows(126)
      val trend = if (nullCloses) None else Some(diff(c1, tRows126) / tRows126)
      def in(bit: Int, v: Double) = if (f.has(bit)) Some(v) else None

      FeatRow(
        f.ticker, if (f.has(NoDate)) Some(f.dateUs) else None, in(NoClose, close),
        in(NoHigh, f.high), in(NoLow, f.low),
        ret_1 = if (lastRetNull) None else Some(lastRet),
        close_lag_1 = lagC(1), close_lag_5 = lagC(5),
        close_lag_10 = lagC(10), close_lag_20 = lagC(20),
        ret_5 = retK(5), ret_10 = retK(10), ret_20 = retK(20),
        diff_1 = diffK(1), diff_5 = diffK(5),
        roll_mean_5 = mean(5), roll_std_5 = stdC(5), roll_skew_5 = skewC(5),
        roll_mean_10 = mean(10), roll_std_10 = stdC(10), roll_skew_10 = skewC(10),
        roll_mean_20 = mean(20), roll_std_20 = stdC(20), roll_skew_20 = skewC(20),
        roll_mean_60 = mean(60), roll_std_60 = stdC(60), roll_skew_60 = skewC(60),
        gap_run_len = if (nullCloses) keyRows else 0L,
        drift_intensity = drift, downside_vol_20 = dv,
        drawdown_60 = dd, max_drawdown_60 = mdd, cvar_95_60 = cvar,
        true_range = if (lastTrNull) None else Some(lastTr),
        atr_14 = if (trCount == 0) None else Some(diff(t1, trRows) / trCount),
        seasonal_trend_126 = trend, _detrended = trend.map(close - _),
        _phase = (g % 126).toInt)
    }
  }

  private def frowTicker(r: InternalRow): String =
    if (r.isNullAt(0)) null else r.getUTF8String(0).toString

  /** A kernel input row from its (ticker, dateUs, close, high, low) struct. */
  private def frow(k: InternalRow): FRow = {
    def dbl(i: Int) = if (k.isNullAt(i)) 0.0 else k.getDouble(i)
    val nulls = (if (k.isNullAt(1)) NoDate else 0) | (if (k.isNullAt(2)) NoClose else 0) |
      (if (k.isNullAt(3)) NoHigh else 0) | (if (k.isNullAt(4)) NoLow else 0)
    FRow(frowTicker(k), if (k.isNullAt(1)) 0L else k.getLong(1), dbl(2), dbl(3), dbl(4),
      nulls)
  }

  /** The scan key of a (ticker, dateUs) row: a null date sorts first
    * within its ticker, as `orderBy("date")` puts it. */
  private def scanKey(r: InternalRow): (String, Long, Long) =
    if (r.isNullAt(1)) (frowTicker(r), Long.MinValue, -1L)
    else (frowTicker(r), r.getLong(1), 0L)

  /** The input columns the kernel reads. */
  private val inputCols: Seq[String] = Seq("ticker", "date", "close", "high", "low")

  /** Run the kernel: df must provide ticker, date (timestamp), close,
    * high, low, within the input contract above. Output: df's columns in
    * df's order — the five kernel columns as the kernel read them
    * (string ticker, timestamp date, double prices), every other column
    * carried through unchanged on its own row — then the windowed block
    * in build()'s column order. */
  def run(df: DataFrame, numPartitions: Int = 0): DataFrame = {
    val spark = df.sparkSession
    val carried = StructType(df.schema.filterNot(f => inputCols.contains(f.name)))
    val base = df.select(
      struct(
        col("ticker").cast("string").as("ticker"),
        unix_micros(col("date")).as("dateUs"),
        col("close").cast("double").as("close"),
        col("high").cast("double").as("high"),
        col("low").cast("double").as("low")).as("_1"),
      struct(carried.fieldNames.toSeq.map(c => df(s"`$c`")): _*).as("_2"))

    // data-derived partition count (capped at shuffle.partitions): this
    // range shuffle is RDD-level, so AQE never right-sizes it — see
    // graft.operators.SizedPartitions. The target chunk is 8× smaller
    // than the moment kernel's: this kernel computes the full ~40-column
    // feature block per row (BigDecimal prefix rings for every moment),
    // an order of magnitude more compute per input byte, so the
    // overhead/parallelism balance tips at correspondingly smaller
    // chunks (r19 measured: q156 lost ~1 s serial at the 512 KB target).
    val p = if (numPartitions > 0) numPartitions
      else graft.operators.SizedPartitions.of(df, targetBytes = 64L << 10)
    // Both inputs are read as the plans' own InternalRows and converted
    // here, so neither needs a generated deserializer class (a pipeline
    // run's classes must fit Spark's codegen cache; see EtlPipeline).
    // The carried values travel as a schema-less Row: a
    // GenericRowWithSchema would serialize its schema into the shuffle
    // with the values.
    val toScala = CatalystTypeConverters.createToScalaConverter(carried)
    val keyed = base.queryExecution.toRdd.map { r =>
      val k = r.getStruct(0, 5)
      (scanKey(k),
        (frow(k), Row.fromSeq(toScala(r.getStruct(1, carried.size)).asInstanceOf[Row].toSeq)))
    }
    val light = base.select(col("_1.ticker"), col("_1.dateUs")).queryExecution.toRdd
      .map(r => (scanKey(r), ()))

    val out = ChunkedWindow.haloScan(spark, keyed, light, p, H)(
      () => new Kernel)
    val featEnc = Encoders.product[FeatRow]
    val block = featEnc.schema.fieldNames.toSeq.drop(inputCols.size)
    val passed = df.columns.toSeq.map {
      case "date" => timestamp_micros(col("_1.date_us")).as("date")
      case c if inputCols.contains(c) => col(s"_1.$c").as(c)
      case c => col("_2").getField(c).as(c)
    }
    spark.createDataset(out)(Encoders.tuple(featEnc, Encoders.row(carried)))
      .select(passed ++ block.map(c => col(s"_1.$c").as(c)): _*)
  }
}
