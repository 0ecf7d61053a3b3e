package graft.queries

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.{Window, WindowSpec}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Deterministic floating-point aggregation helpers.
  *
  * Double summation is order-dependent, and Spark (partition-parallel,
  * AQE-rearranged) will not sum in the same order as the DuckDB oracle —
  * or even as its own previous run. Routing sums through a fixed-scale
  * decimal makes them exact and order-independent on BOTH engines, so the
  * driver's value-hash compare is stable. Cast back to double at the end.
  *
  * Oracle-side equivalents (DuckDB):
  *   dsum(x)  = CAST(SUM(CAST(x AS DECIMAL(38,6))) AS DOUBLE)
  *   davg(x)  = CAST(SUM(CAST(x AS DECIMAL(38,6))) AS DOUBLE) / COUNT(x)
  *   dstddev  = explicit moment formula over decimal sums
  *
  * KNOWN LATENT HAZARD — double→decimal quantization ties. Casting a
  * COMPUTED double (a ratio, product, or difference of averages) to a
  * fixed-scale decimal asks each engine to round the value's trailing
  * decimal digit, and Spark and DuckDB reach that digit through
  * different paths; on a value whose scaled fraction sits within an ulp
  * of .5 they can disagree by one last-digit unit (bit q83 at sf0.001 in
  * round 11). RAW testdata columns are safe — they sit ON the decimal
  * grid (≤6 dp), as do their squares at scale 12 — so dsum/davg/dstddev
  * over raw columns are exact. For computed doubles, the established
  * remedy (q83/q84) is engine-invariant quantization:
  *   floor(x·scale + 0.5)  summed as DECIMAL(38,0), divided by scale —
  * pure IEEE arithmetic, identical in every engine. Pick `scale` so the
  * largest quantum stays below ~9e18 (Spark's floor returns BIGINT and
  * saturates: 1e18-scaled O(1)-magnitude squares overflowed in q84 —
  * use 1e12 for O(1) returns, 1e6 for price-scale values). Convert a
  * site only WITH its oracle mirror, and re-verify at both SFs.
  *
  * SLIDING EXACT SUMS go through [[withSlidingSums]], never a bounded
  * `sum(...).over(w.rowsBetween(lo, hi))`: Spark's
  * `SlidingWindowFunctionFrame` has no retract path, so it re-aggregates
  * the whole frame for every row — O(frame) per row — while a running
  * frame is incremental and `lag` is O(1). Decimal prefix sums are
  * exact, so the running-prefix difference equals the sliding sum bit
  * for bit. Doubles are not eligible (float prefix differences cancel),
  * which the helper's `DecimalType` parameter enforces.
  */
object Det {
  private val dec = DecimalType(38, 6)
  private val dec12 = DecimalType(38, 12)

  /** Order-independent SUM(double) — exact decimal accumulation. */
  def dsum(c: Column): Column = sum(c.cast(dec)).cast("double")

  /** Order-independent AVG(double): double division of exact sum by count. */
  def davg(c: Column): Column = sum(c.cast(dec)).cast("double") / count(c)

  /** Sample stddev from a double count `n` and moment sums Σx, Σx²:
    * sqrt((n*Σx² − (Σx)²) / (n(n−1))), clamped at 0, NULL unless n > 1. */
  def momentStddev(n: Column, sx: Column, sx2: Column): Column =
    when(n > 1, sqrt(greatest((n * sx2 - sx * sx) / (n * (n - lit(1.0))), lit(0.0))))

  /** Order-independent sample stddev via exact decimal moments. */
  def dstddev(c: Column): Column = momentStddev(count(c).cast("double"),
    sum(c.cast(dec)).cast("double"), sum((c * c).cast(dec12)).cast("double"))

  /** Order-independent sample variance (same moments as dstddev). */
  def dvariance(c: Column): Column = {
    val n = count(c).cast("double")
    val sx = sum(c.cast(dec)).cast("double")
    val sx2 = sum((c * c).cast(dec12)).cast("double")
    when(n > 1, greatest((n * sx2 - sx * sx) / (n * (n - lit(1.0))), lit(0.0)))
  }

  /** Higher-precision variants for small-magnitude values (returns). */
  def dsum12(c: Column): Column = sum(c.cast(dec12)).cast("double")
  def davg12(c: Column): Column = sum(c.cast(dec12)).cast("double") / count(c)

  def dstddev12(c: Column): Column = momentStddev(count(c).cast("double"),
    sum(c.cast(dec12)).cast("double"),
    sum((c * c).cast(DecimalType(38, 18))).cast("double"))

  /** Window variants — exact decimal accumulation inside the frame. */
  def dsumOver(c: Column, w: WindowSpec): Column =
    sum(c.cast(dec)).over(w).cast("double")

  def davgOver(c: Column, w: WindowSpec): Column =
    sum(c.cast(dec)).over(w).cast("double") / count(c).over(w)

  def dstddevOver(c: Column, w: WindowSpec): Column =
    momentStddev(count(c).over(w).cast("double"),
      sum(c.cast(dec)).over(w).cast("double"),
      sum((c * c).cast(dec12)).over(w).cast("double"))

  /** One exact sliding sum for [[withSlidingSums]]: Σ `x` accumulated as
    * `dt` over the ROWS frame `lo..hi` relative to the current row. */
  final case class SlidingSum(name: String, x: Column, dt: DecimalType,
      lo: Int, hi: Int) {
    require(lo <= hi && hi <= 0,
      s"SlidingSum($name): ROWS frame $lo..$hi must satisfy lo <= hi <= 0")
  }

  /** Exact sliding sums as running-prefix differences. Adds, per
    * [[SlidingSum]], `name` = P(i+hi) − P(i+lo−1) over the running
    * decimal prefix P (0 over an empty or all-null frame, typed like a
    * plain `sum(x.cast(dt))`), and `name_n` = the non-null count of `x`
    * over the same frame; callers guard on `name_n` themselves. One
    * running sum/count is computed per distinct `(x, dt)`, so frames of
    * different width share it, and everything stays inside `w`'s one
    * partitioning and ordering. */
  def withSlidingSums(df: DataFrame, w: WindowSpec,
      sums: SlidingSum*): DataFrame = {
    val prefixes = sums.map(s => (s.x, s.dt)).distinct
    val run = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val scratch = prefixes.indices.flatMap(i => Seq(s"__ssum_$i", s"__scnt_$i"))
    val withPrefix = df.select(col("*") +: prefixes.zipWithIndex.flatMap {
      case ((x, dt), i) => Seq(sum(x.cast(dt)).over(run).as(s"__ssum_$i"),
        count(x).over(run).as(s"__scnt_$i"))
    }: _*)
    // the prefix at `back` rows before the current row, 0 before the head
    def at(c: String, back: Int, zero: Column): Column =
      coalesce(if (back == 0) col(c) else lag(col(c), back).over(w), zero)
    withPrefix.select(col("*") +: sums.flatMap { s =>
      val i = prefixes.indexOf((s.x, s.dt))
      val (p, c) = (s"__ssum_$i", s"__scnt_$i")
      val zero = lit(0).cast(s.dt)
      Seq((at(p, -s.hi, zero) - at(p, 1 - s.lo, zero))
          .cast(withPrefix.schema(p).dataType).as(s.name),
        (at(c, -s.hi, lit(0L)) - at(c, 1 - s.lo, lit(0L))).as(s"${s.name}_n"))
    }: _*).drop(scratch: _*)
  }

  // ------------------------------------------------------------------
  // Engine-invariant quantized aggregation — the q83/q84 remedy promoted
  // to first-class helpers (round-12 migration of the latent-tie class).
  //
  //   qfloor(x, s) = floor(clamp(x·s + 0.5, ±9.2e18))
  //
  // is PURE IEEE arithmetic: both engines compute the identical double
  // x·s + 0.5 (same rounding error) and floor it — no engine-private
  // double→decimal rounding path, so the q83 last-digit tie class is
  // structurally impossible. The ±9.2e18 clamp (just inside Long.Max,
  // where Spark's floor→LONG would saturate engine-PRIVATELY) makes even
  // out-of-range values deterministic and identical: saturation becomes
  // a defined, mirrored outcome instead of a cross-engine divergence.
  //
  // `scale` is a fidelity knob: pick it so |x|·scale stays well below
  // 9.2e18 for the site's data bound (document the bound at the site).
  // Tick-level return magnitudes in the driver testdata reach 1.3e4
  // (ratio spikes). LINEAR terms migrate with qsum/qavg (r and
  // price-scale values → 1e12, already-bounded error products → 1e6);
  // POWERS and cross-PRODUCTS migrate with the grid-exact helpers below
  // (qpowsum/qprodsum) — quantize once, multiply exactly — because no
  // single scale on x² spans r² from 1e-10 to 1e8.
  // ------------------------------------------------------------------

  private val dec0 = DecimalType(38, 0)

  /** Engine-invariant half-up quantization of a computed double.
    * NULL-SAFE BY CASE, not by propagation: least/greatest IGNORE nulls
    * in BOTH engines (Postgres semantics), so an unguarded clamp would
    * turn NULL into the clamp constant and silently poison null-skipping
    * sums — caught by a q44 decimal-sum overflow in round 12. */
  def qfloor(c: Column, scale: Double): Column =
    when(c.isNotNull,
      floor(greatest(least(c * scale + lit(0.5), lit(9.2e18)), lit(-9.2e18))))

  /** Order-independent, tie-free SUM of a computed double. */
  def qsum(c: Column, scale: Double): Column =
    sum(qfloor(c, scale).cast(dec0)).cast("double") / scale

  /** Order-independent, tie-free AVG of a computed double. */
  def qavg(c: Column, scale: Double): Column = qsum(c, scale) / count(c)

  /** GRID-EXACT power sums — the remedy for quantizing POWERS of a
    * wide-dynamic-range value (a single fixed scale on x² cannot span
    * r² from 1e-10 to 1e8: either tiny variances quantize to 0 or
    * spikes saturate). Instead quantize x ONCE onto the `scale` grid
    * (one tie-free qfloor) and sum the EXACT integer products of the
    * grid values: tiny grid values raise exactly, spikes stay inside
    * DECIMAL(38,0) (Spark) / HUGEINT (DuckDB). Bounds for |x| ≤ 9e4
    * (above the worst tick-return ratio in any SF): p=2 grid 1e9 →
    * q² ≤ 8e27; p=3 grid 1e6 → q³ ≤ 7e32; p=4 grid 1e4 → q⁴ ≤ 7e35 —
    * all far below the 1e38 integer ceilings of both engines.
    * The divisor scale^p is an exact power of ten ≤ 1e18 (exactly
    * representable), identical to the SQL mirror's literal. */
  def qpowsum(c: Column, scale: Double, p: Int): Column = {
    val q = qfloor(c, scale).cast(dec0)
    val prod = (1 until p).foldLeft(q: Column)((acc, _) => acc * q)
    val div = (1 until p).foldLeft(scale)((acc, _) => acc * scale)
    sum(prod).cast("double") / div
  }

  /** Grid-exact sum of PAIRWISE products (Pearson cross-terms,
    * autocovariance lag products): both factors on the same grid. */
  def qprodsum(a: Column, b: Column, scale: Double): Column =
    sum(qfloor(a, scale).cast(dec0) * qfloor(b, scale).cast(dec0))
      .cast("double") / (scale * scale)

  /** Tie-free sample stddev: linear terms quantized at `scale`, squares
    * grid-exact on the `grid` grid (see [[qpowsum]]). */
  def qstddev(c: Column, scale: Double, grid: Double): Column =
    momentStddev(count(c).cast("double"), qsum(c, scale), qpowsum(c, grid, 2))

  /** Window variants. */
  def qsumOver(c: Column, scale: Double, w: WindowSpec): Column =
    sum(qfloor(c, scale).cast(dec0)).over(w).cast("double") / scale

  def qavgOver(c: Column, scale: Double, w: WindowSpec): Column =
    qsumOver(c, scale, w) / count(c).over(w)

  def qpowsumOver(c: Column, scale: Double, p: Int, w: WindowSpec): Column = {
    val q = qfloor(c, scale).cast(dec0)
    val prod = (1 until p).foldLeft(q: Column)((acc, _) => acc * q)
    val div = (1 until p).foldLeft(scale)((acc, _) => acc * scale)
    sum(prod).over(w).cast("double") / div
  }

  def qstddevOver(c: Column, scale: Double, grid: Double,
      w: WindowSpec): Column = momentStddev(count(c).over(w).cast("double"),
    qsumOver(c, scale, w), qpowsumOver(c, grid, 2, w))

  /** SQL mirrors of the quantized helpers — `scale` must be the same
    * literal the Spark side used (e.g. "1e12" for 1e12), and the power
    * divisors must be the exact scale^p literal ("1e18" for grid 1e9
    * squares). */
  def sqlQfloor(x: String, scale: String): String =
    s"(CASE WHEN ($x) IS NOT NULL THEN FLOOR(GREATEST(LEAST(($x) * $scale + CAST(0.5 AS DOUBLE), 9.2e18), -9.2e18)) END)"
  def sqlQsum(x: String, scale: String): String =
    s"(CAST(SUM(CAST(${sqlQfloor(x, scale)} AS DECIMAL(38,0))) AS DOUBLE) / $scale)"
  def sqlQavg(x: String, scale: String): String =
    s"(${sqlQsum(x, scale)} / COUNT($x))"
  def sqlQpowsum(x: String, scale: String, p: Int, div: String): String = {
    val q = s"CAST(${sqlQfloor(x, scale)} AS HUGEINT)"
    val prod = Seq.fill(p)(q).mkString(" * ")
    s"(CAST(SUM($prod) AS DOUBLE) / $div)"
  }
  def sqlQprodsum(a: String, b: String, scale: String, div: String): String =
    s"(CAST(SUM(CAST(${sqlQfloor(a, scale)} AS HUGEINT) * CAST(${sqlQfloor(b, scale)} AS HUGEINT)) AS DOUBLE) / $div)"
  def sqlQstddev(x: String, scale: String, grid: String, div: String): String = {
    val n = s"CAST(COUNT($x) AS DOUBLE)"
    val sx = sqlQsum(x, scale)
    val sx2 = sqlQpowsum(x, grid, 2, div)
    s"CASE WHEN COUNT($x) > 1 THEN sqrt(greatest(($n*$sx2 - $sx*$sx)/($n*($n-1.0)), 0.0)) END"
  }

  /** SQL snippets for oracle strings. */
  def sqlSum(x: String): String = s"CAST(SUM(CAST(($x) AS DECIMAL(38,6))) AS DOUBLE)"
  def sqlAvg(x: String): String = s"(${sqlSum(x)} / COUNT($x))"
  def sqlSum12(x: String): String = s"CAST(SUM(CAST(($x) AS DECIMAL(38,12))) AS DOUBLE)"
  def sqlAvg12(x: String): String = s"(${sqlSum12(x)} / COUNT($x))"
  def sqlSum18(x: String): String = s"CAST(SUM(CAST(($x) AS DECIMAL(38,18))) AS DOUBLE)"
  def sqlStddev12(x: String): String = {
    val n = s"CAST(COUNT($x) AS DOUBLE)"
    val sx = sqlSum12(x)
    val sx2 = sqlSum18(s"($x)*($x)")
    s"CASE WHEN COUNT($x) > 1 THEN sqrt(greatest(($n*$sx2 - $sx*$sx)/($n*($n-1.0)), 0.0)) END"
  }
  def sqlStddev(x: String): String = {
    val n = s"CAST(COUNT($x) AS DOUBLE)"
    val sx = sqlSum(x)
    val sx2 = sqlSum12(s"($x)*($x)")
    s"CASE WHEN COUNT($x) > 1 THEN sqrt(greatest(($n*$sx2 - $sx*$sx)/($n*($n-1.0)), 0.0)) END"
  }
}
