package graft.queries

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** Pins the engine-invariant quantized aggregation helpers (Det.q*) and
  * the decimal-discipline rule they enforce.
  *
  * The null-safety test is a REGRESSION test: least/greatest ignore
  * NULLs in both Spark and DuckDB (Postgres semantics), so an unguarded
  * clamp inside qfloor turned NULL into the clamp constant 9.2e18 and
  * poisoned every null-skipping sum (caught in round 12 by a decimal-sum
  * overflow in q44 before any wrong answer shipped — but q46/q63/q98 had
  * silently computed identically-wrong values in both engines). */
class DetSpec extends AnyFunSuite with TestSpark {

  test("qfloor is NULL-preserving (least/greatest ignore nulls)") {
    import spark.implicits._
    val df = Seq(Some(1.5), None, Some(-2.25)).toDF("x")
    val out = df.select(Det.qfloor($"x", 100.0).as("q")).collect()
      .map(r => if (r.isNullAt(0)) None else Some(r.getLong(0)))
    assert(out.toSeq === Seq(Some(150L), None, Some(-225L)))
  }

  test("qsum/qavg skip nulls and quantize half-up") {
    import spark.implicits._
    val df = Seq(Some(0.0000015), None, Some(-0.0000025)).toDF("x")
    val row = df.agg(
      Det.qsum($"x", 1e6).as("s"),
      Det.qavg($"x", 1e6).as("a")).head()
    // floor(1.5 + .5) = 2, floor(-2.5 + .5) = -2 → sum 0, avg 0/2
    assert(row.getDouble(0) === 0.0)
    assert(row.getDouble(1) === 0.0)
  }

  test("clamp saturates huge values deterministically instead of overflowing") {
    import spark.implicits._
    val df = Seq(1e300, -1e300).toDF("x")
    val qs = df.select(Det.qfloor($"x", 1e12).as("q")).collect().map(_.getLong(0))
    assert(qs.toSeq === Seq(9200000000000000000L, -9200000000000000000L))
  }

  test("qpowsum is grid-exact: tiny values keep their variance, spikes stay in range") {
    import spark.implicits._
    // returns of 1e-5 magnitude: a single square scale of 1e9 would
    // quantize r² = 1e-10 to zero; the grid-exact path keeps it exactly
    val tiny = Seq(1.0e-5, -1.0e-5, 2.0e-5).toDF("r")
    val s2 = tiny.agg(Det.qpowsum($"r", 1e9, 2).as("s")).head().getDouble(0)
    assert(math.abs(s2 - 6.0e-10) < 1e-22, s"got $s2")
    // a 1e4 ratio spike squares to 1e8 — far outside any fixed square
    // scale but comfortably inside the DECIMAL(38,0) product sum
    val spike = Seq(1.0e4, 2.0).toDF("r")
    val s2b = spike.agg(Det.qpowsum($"r", 1e9, 2).as("s")).head().getDouble(0)
    assert(math.abs(s2b - (1.0e8 + 4.0)) < 1e-6, s"got $s2b")
  }

  test("qprodsum recovers exact grid products for on-grid inputs") {
    import spark.implicits._
    // 6-dp prices: qfloor at 1e6 recovers the exact raw integers, so the
    // pairwise product sum is exact — 1.25 · 2.5 = 3.125 with no residue
    val df = Seq((1.25, 2.5), (0.000001, 3.0)).toDF("a", "b")
    val s = df.agg(Det.qprodsum($"a", $"b", 1e6).as("s")).head().getDouble(0)
    assert(s === 3.125 + 0.000003)
  }

  test("prefix-diff sliding sums equal plain sliding frames exactly (decimal/long)") {
    // the Det.withSlidingSums contract: decimal prefix sums are exact, so
    // each frame's prefix difference must equal the plain sliding sum and
    // count BIT-FOR-BIT — including leading-null prefixes, an all-null
    // stretch wider than the frame, and frame clipping at partition heads.
    import spark.implicits._
    import org.apache.spark.sql.{Column, DataFrame}
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.types.DecimalType
    val dec0 = DecimalType(38, 0)
    val w = Window.partitionBy($"t").orderBy($"i")
    // strictly past, ending at the current row, narrow and wide
    val frames = Seq((-20, -1), (-59, 0), (-4, 0), (-1, -1))
    def check(df: DataFrame, x: Column, dt: DecimalType): DataFrame = {
      val slide = df.select($"t" +: $"i" +: frames.flatMap { case (lo, hi) =>
        Seq(sum(x.cast(dt)).over(w.rowsBetween(lo, hi)),
          count(x).over(w.rowsBetween(lo, hi)))
      }: _*)
      val viaHelper = Det.withSlidingSums(df, w, frames.zipWithIndex.map {
        case ((lo, hi), k) => Det.SlidingSum(s"s$k", x, dt, lo, hi)
      }: _*)
      val guarded = viaHelper.select($"t" +: $"i" +: frames.indices.flatMap(k =>
        Seq(when(col(s"s${k}_n") > 0, col(s"s$k")), col(s"s${k}_n"))): _*)
      assert(slide.exceptAll(guarded).isEmpty)
      assert(guarded.exceptAll(slide).isEmpty)
      // frames of different width share ONE running sum and count
      val running = viaHelper.queryExecution.optimizedPlan.collect {
        case pw: org.apache.spark.sql.catalyst.plans.logical.Window =>
          pw.windowExpressions.count(_.sql.contains("UNBOUNDED PRECEDING"))
      }.sum
      assert(running === 2)
      viaHelper
    }

    // random signed values over five decades, quantized onto a 1e-6 grid
    val rng = new scala.util.Random(3)
    val rnd = (for {
      t <- Seq("A", "B"); i <- 0 until 200
    } yield (t, i.toLong,
      if (i < 3 && t == "A" || rng.nextInt(11) == 0) None
      else Some((rng.nextDouble() - 0.4) * math.pow(10, rng.nextInt(5)))))
      .toDF("t", "i", "x")
    check(rnd, Det.qfloor($"x", 1e6), dec0)

    // per-ticker scattered nulls plus an all-null stretch (100..189)
    // wider than every frame, as LongType and DECIMAL(20,4) inputs
    val nully = (for {
      t <- Seq("A", "B", "C"); i <- 0 until 300
    } yield (t, i, if (i % 7 == 0 || (i >= 100 && i < 190)) None
      else Some((i * 3 + t.hashCode % 11).toDouble / 16.0)))
      .toDF("t", "i", "v")
    check(nully, ($"v" * 16).cast("long"), DecimalType(20, 0))
    val dec = check(nully, $"v".cast("decimal(20,4)"), DecimalType(20, 4))
    // inside the all-null stretch every frame is empty: sum 0, count 0
    val empty = dec.where($"i" >= 166 && $"i" < 190).select("s1", "s1_n").collect()
    assert(empty.nonEmpty && empty.forall(r =>
      r.getDecimal(0).signum == 0 && r.getLong(1) == 0L))

    val bad = intercept[IllegalArgumentException](
      Det.SlidingSum("ahead", $"v", dec0, -3, 1))
    assert(bad.getMessage.contains("SlidingSum(ahead)"))
    intercept[IllegalArgumentException](Det.SlidingSum("inverted", $"v", dec0, -1, -3))
  }

  test("decimal discipline: no unannotated 9/12/18-scale casts in query sources outside Det") {
    // The q83/q84 tie class: casting a COMPUTED double to DECIMAL(38,s)
    // lets Spark and DuckDB quantize the last digit through different
    // paths. The remedy is Det's qfloor/qpowsum idiom; this spec turns
    // the scaladoc rule into a build gate. Det.scala itself hosts the
    // 12/18 helpers, whose documented contract restricts them to raw
    // grid-resident columns. A site may remain ONLY with an explicit
    // marker within the preceding 5 lines:
    //   "rawgrid:"      — the author proved the value sits ON the target
    //                     decimal grid (e.g. squares of 6-dp prices on
    //                     the 12-dp grid): rounding an ulp-off double to
    //                     its own grid point can never tie;
    //   "tie-accepted:" — documented residual risk with the reason and
    //                     a tracked migration (ExactKMeans mirrors).
    val dir = new java.io.File("src/main/scala/graft/queries")
    val bad = dir.listFiles().filter(_.getName.endsWith(".scala"))
      .filterNot(_.getName == "Det.scala")
      .flatMap { f =>
        val lines = scala.io.Source.fromFile(f, "UTF-8").getLines().toVector
        def isComment(l: String) = {
          val t = l.trim
          t.startsWith("//") || t.startsWith("*") || t.startsWith("/*") ||
            t.matches("\\|?\\s*--.*")
        }
        lines.zipWithIndex.collect {
          case (l, i) if l.toLowerCase.matches(
              ".*decimal\\(38, ?(9|12|18)\\).*") && !isComment(l) &&
            !lines.slice(math.max(0, i - 10), i + 1).exists(p =>
              p.contains("rawgrid:") || p.contains("tie-accepted:")) =>
            s"${f.getName}:${i + 1}: ${l.trim}"
        }
      }
    assert(bad.isEmpty,
      "unannotated 9/12/18-scale decimal casts found (use Det.q* or annotate):\n" +
        bad.mkString("\n"))
  }
}
