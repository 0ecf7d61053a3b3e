package graft.tools

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{FormattedMode, SparkPlan}
import org.apache.spark.sql.execution.window.WindowExec

/** Dev main: dump the interesting physical-plan lines (scans, pushed
  * filters, read schemas, joins, exchanges) for a set of queries so
  * pushdown/broadcast regressions are visible at a glance.
  *
  * `--windows` mode instead AUDITS every SparkEntry query:
  * an unpartitioned WindowExec moves its whole input to one task, which
  * is correct only on a dim-sized frame — and the engine's two such
  * sites are dim-sized by construction (the macro as-of `lead` feeds a
  * broadcast join; q109's cumulative equity reads a per-day aggregate).
  * The audit makes that claim structural instead of a comment: every
  * zero-partition-spec WindowExec must show dim EVIDENCE in its plan,
  * or the audit fails loud. Without this, the known-benign WARN noise
  * would mask a real unpartitioned window the day one appears. */
object ExplainAudit {

  /** Dim evidence for an unpartitioned WindowExec: its input subtree
    * contains an aggregate / limit / literal local table (the frame was
    * reduced before the window), OR the window's OUTPUT feeds a
    * BroadcastExchange (the planner itself sized the frame as a dim).
    * Returns a violation line per unpartitioned window with NO such
    * evidence. */
  def unpartitionedWindowViolations(plan: SparkPlan): Seq[String] = {
    def dimEvidence(p: SparkPlan): Boolean = p.find { n =>
      val c = n.getClass.getSimpleName
      c.contains("Aggregate") || c.contains("Limit") ||
        c.contains("TakeOrderedAndProject") || c.contains("LocalTableScan")
    }.isDefined
    val out = Seq.newBuilder[String]
    def walk(p: SparkPlan, underBroadcast: Boolean): Unit = {
      val ub = underBroadcast ||
        p.getClass.getSimpleName.contains("BroadcastExchange")
      p match {
        case w: WindowExec if w.partitionSpec.isEmpty
            && !ub && !dimEvidence(w.child) =>
          out += s"unpartitioned WindowExec over non-dim input: ${w.simpleString(120)}"
        case _ => ()
      }
      p.children.foreach(walk(_, ub))
      p.subqueries.foreach(walk(_, ub))
    }
    walk(plan, underBroadcast = false)
    out.result()
  }

  /** SHRINKING window frames — lower bound anchored at the current row
    * (or offsets) with an UnboundedFollowing upper — are evaluated by
    * Spark's UnboundedFollowingWindowFunctionFrame, which RE-AGGREGATES
    * the remaining tail for every row: O(n²) per partition (the q154
    * backward-fill cost 350 s on 20k-row tickers until rewritten as a
    * running frame over descending order). Whole-partition frames
    * (unboundedPreceding..unboundedFollowing) are fine — computed once
    * per partition. Returns one violation per shrinking frame found. */
  def shrinkingFrameViolations(plan: SparkPlan): Seq[String] = {
    import org.apache.spark.sql.catalyst.expressions.{
      SpecifiedWindowFrame, UnboundedFollowing, UnboundedPreceding}
    val out = Seq.newBuilder[String]
    def walk(p: SparkPlan): Unit = {
      p.expressions.foreach(_.foreach {
        case f @ SpecifiedWindowFrame(_, lower, UnboundedFollowing)
            if lower != UnboundedPreceding =>
          out += s"shrinking O(n^2) window frame: ${f.sql}"
        case _ => ()
      })
      p.children.foreach(walk)
      p.subqueries.foreach(walk)
    }
    walk(plan)
    out.result()
  }

  /** WIDE sliding exact-sum frames — a bounded (-k..h≤0) frame whose
    * aggregate is a decimal/long Sum is re-aggregated per row by
    * Spark's SlidingWindowFunctionFrame (no retract): O(k)/row. For
    * EXACT sums `Det.withSlidingSums` is value-identical and O(1)/row
    * (round 12: q157 15→2.9 s), so a wide exact-sum
    * sliding frame in a registered plan is an unforced constant-factor
    * tax. Double sums are exempt (float prefix differences cancel);
    * list/quantile aggregates are exempt (no prefix form). Frames
    * narrower than `minSpan` stay legal — below ~40 rows the rewrite's
    * extra lag pass outweighs the savings. */
  def wideSlidingExactSumViolations(plan: SparkPlan,
      minSpan: Int = 40): Seq[String] = {
    import org.apache.spark.sql.catalyst.expressions._
    import org.apache.spark.sql.catalyst.expressions.aggregate.{AggregateExpression, Sum}
    import org.apache.spark.sql.types.{DecimalType, LongType}
    def off(e: Expression): Option[Long] = e match {
      case Literal(v: Int, _) => Some(v.toLong)
      case Literal(v: Long, _) => Some(v)
      case CurrentRow => Some(0L)
      case _ => None // UnboundedPreceding/Following → not a sliding frame
    }
    val out = Seq.newBuilder[String]
    def walk(p: SparkPlan): Unit = {
      p.expressions.foreach(_.foreach {
        case we @ WindowExpression(ae: AggregateExpression,
            WindowSpecDefinition(_, _, SpecifiedWindowFrame(RowFrame, lo, hi))) =>
          (off(lo), off(hi)) match {
            case (Some(l), Some(h)) if l < 0 && h <= 0 && (h - l + 1) >= minSpan =>
              ae.aggregateFunction match {
                case sm: Sum if sm.child.dataType.isInstanceOf[DecimalType] ||
                    sm.child.dataType == LongType =>
                  out += s"wide sliding exact-sum frame (span ${h - l + 1}, " +
                    s"use Det.withSlidingSums): ${we.sql.take(140)}"
                case _ => ()
              }
            case _ => ()
          }
        case _ => ()
      })
      p.children.foreach(walk)
      p.subqueries.foreach(walk)
    }
    walk(plan)
    out.result()
  }

  /** Plan weight of a frame = total expression-node count across its
    * ANALYZED logical plan — the quantity Catalyst analysis and Janino
    * codegen cost scale with. Measured pre-execution (no action). */
  def exprWeight(df: org.apache.spark.sql.DataFrame): Long = {
    var n = 0L
    df.queryExecution.analyzed.foreach { node =>
      node.expressions.foreach(_.foreach(_ => n += 1))
    }
    n
  }

  /** `--plansize` fixtures: parameterized operators instantiated at two
    * parameter settings (5× apart); `grows` = weight(large) > 2×
    * weight(small) — linear-in-parameter plans show ~5×, constant plans
    * ~1×, so 2 separates cleanly. The ExactKMeans k=80 incident
    * (plan ∝ k ⇒ ~50 s of analysis+Janino for sub-second data) is a
    * CLASS; this audit pins each known member of it:
    *  - the production assignment (withAssign at k>16) must be FLAT —
    *    if a refactor ever routes large k through the expression form
    *    again, this fails loud;
    *  - the raw expression form must GROW (positive detector fixture —
    *    proves the measurement sees the class at all) and the kernel
    *    form must not (negative fixture);
    *  - BarbellSizing.regimeMultiplier's literal map() grows BY DESIGN
    *    (a config lookup), so its guard is the maxRegimeCells require —
    *    the audit asserts the cap actually fires past the bound. */
  def plansizeViolations(spark: SparkSession): Seq[String] = {
    import graft.ml.ExactKMeans
    import graft.stats.BarbellSizing
    import org.apache.spark.sql.functions.col
    val ed = spark.range(8).selectExpr("id AS vec_id",
      "transform(sequence(0, 3), d -> CAST(d AS DOUBLE) / 10 + id) AS ed")
    def cents(k: Int): Array[Array[Double]] =
      Array.tabulate(k)(j => Array.tabulate(4)(d => j * 0.01 + d * 0.1))
    val regimeDf = spark.range(4)
      .selectExpr("'BULL' AS regime", "'core' AS bucket")
    def overlay(nRegimes: Int) = BarbellSizing.Overlay(regimeMult =
      (0 until nRegimes).map(i =>
        s"R$i" -> Map("core" -> 0.9, "spec" -> 0.8)).toMap)
    def regimePlan(nRegimes: Int) = regimeDf.select(
      BarbellSizing.regimeMultiplier(
        col("regime"), col("bucket"), overlay(nRegimes)).as("m"))

    val fixtures: Seq[(String, Long, Long, Boolean)] = Seq(
      ("kmeans_assign_production",
        exprWeight(ExactKMeans.withAssign(ed, cents(20))),
        exprWeight(ExactKMeans.withAssign(ed, cents(100))), false),
      ("kmeans_assign_expr_form",
        exprWeight(ExactKMeans.assignExpr(ed, cents(20))),
        exprWeight(ExactKMeans.assignExpr(ed, cents(100))), true),
      ("kmeans_assign_kernel_form",
        exprWeight(ExactKMeans.assignKernel(ed, cents(20))),
        exprWeight(ExactKMeans.assignKernel(ed, cents(100))), false),
      // 2 → 16 regimes (8×): the map literal's fixed overhead dilutes
      // the ratio, so the growth fixture uses a wider parameter spread
      ("barbell_regime_multiplier",
        exprWeight(regimePlan(2)), exprWeight(regimePlan(16)), true))

    val out = Seq.newBuilder[String]
    fixtures.foreach { case (name, wSmall, wLarge, expectGrowth) =>
      val grows = wLarge > 2L * wSmall
      System.err.println(s"[plansize] $name: weight $wSmall -> $wLarge " +
        s"(${if (grows) "grows with parameter" else "flat"})")
      if (grows != expectGrowth)
        out += s"$name: expected ${if (expectGrowth) "growth" else "flat"} " +
          s"but weight went $wSmall -> $wLarge"
    }
    // the config-growth site must be CAPPED: past maxRegimeCells the
    // literal map() must refuse, not silently build a mega-plan
    val over = BarbellSizing.maxRegimeCells / 2 + 1
    try {
      regimePlan(over)
      out += s"barbell_regime_multiplier: ${2 * over} cells exceeded " +
        s"maxRegimeCells=${BarbellSizing.maxRegimeCells} without failing"
    } catch { case _: IllegalArgumentException => () }
    out.result()
  }

  def main(args: Array[String]): Unit = {
    val spark = SparkSession.builder().master("local[4]")
      .config("spark.sql.shuffle.partitions", 4)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val dir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    if (args.contains("--plansize")) {
      val bad = plansizeViolations(spark)
      bad.foreach(v => System.err.println(s"[plansize-audit] $v"))
      println(if (bad.isEmpty) "[plansize-audit] PASS"
        else s"[plansize-audit] ${bad.size} violations")
      spark.stop()
      sys.exit(if (bad.isEmpty) 0 else 1)
    }
    if (args.contains("--windows")) {
      val bad = graft.SparkEntry.queries.toSeq.sortBy(_._1).flatMap {
        case (name, fn) =>
          unpartitionedWindowViolations(
            fn(spark, dir).queryExecution.sparkPlan).map(v => s"$name: $v")
      }
      bad.foreach(v => System.err.println(s"[windows-audit] $v"))
      println(if (bad.isEmpty) "[windows-audit] PASS"
        else s"[windows-audit] ${bad.size} violations")
      spark.stop()
      sys.exit(if (bad.isEmpty) 0 else 1)
    }
    val qs = if (args.nonEmpty) args.toSeq else Seq(
      "q2_filter_range", "q3_topk", "q4_join_inner", "q30_asof_join",
      "q50_dedup_exact", "q61_dedup_gate")
    for (q <- qs) {
      println(s"===== $q =====")
      graft.SparkEntry.queries(q)(spark, dir).queryExecution
        .explainString(FormattedMode).split("\n")
        .filter(l => l.contains("Scan parquet") || l.contains("PushedFilters") ||
          l.contains("ReadSchema") || l.contains("Join") || l.contains("Exchange") ||
          l.contains("WholeStageCodegen"))
        .take(24).foreach(println)
    }
    spark.stop()
  }
}
