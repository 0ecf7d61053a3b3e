package graft.queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark
import graft.tools.ExplainAudit

class ExplainAuditSpec extends AnyFunSuite with TestSpark {

  private val dir = "/root/testdata/sf0.001"

  test("windows audit catches a deliberately-unpartitioned window over a fact") {
    val s = spark
    import s.implicits._
    val fact = graft.Tables.load(s, dir, "documents")
    val broken = fact.withColumn("cum",
      sum(length($"text")).over(Window.orderBy($"doc_id")))
    val v = ExplainAudit.unpartitionedWindowViolations(
      broken.queryExecution.sparkPlan)
    assert(v.nonEmpty, "control plan must be flagged")

    // and the same window is FINE once the frame is provably reduced
    // (aggregate beneath) — the q109 shape
    val dim = fact.groupBy($"lang").agg(count(lit(1)).as("n"))
      .withColumn("cum", sum($"n").over(Window.orderBy($"lang")))
    assert(ExplainAudit.unpartitionedWindowViolations(
      dim.queryExecution.sparkPlan).isEmpty)
  }

  test("pushdown/broadcast audit: scale-critical plan shapes hold") {
    val s = spark
    import org.apache.spark.sql.execution.FormattedMode
    def plan(q: String): String =
      graft.SparkEntry.queries(q)(s, dir).queryExecution
        .explainString(FormattedMode)

    // q2: the date-range predicate must reach the parquet scan and the
    // projection must prune the scan schema — a scan that reads all 11
    // lineitem columns for a 4-column projection is wrong at any scale
    val p2 = plan("q2_filter_range")
    assert(p2.contains("PushedFilters") &&
      (p2.contains("GreaterThanOrEqual(l_shipdate") ||
        p2.contains("PushedFilters: [IsNotNull(l_shipdate")),
      s"q2 lost its scan-level pushdown:\n$p2")
    val read2 = p2.linesIterator.filter(_.contains("ReadSchema")).mkString
    assert(!read2.contains("l_comment") && !read2.contains("l_tax") &&
      !read2.contains("l_extendedprice"),
      s"q2 scan schema not pruned: $read2")

    // q3: ORDER BY ... LIMIT must plan as TakeOrderedAndProject (heap
    // top-k per partition + merge), never a global sort
    assert(plan("q3_topk").contains("TakeOrderedAndProject"),
      "q3 is not a top-k plan")

    // q4: the nation dim must broadcast — a shuffled join on a
    // 25-row dim would shuffle the full customer table for nothing
    val p4 = plan("q4_join_inner")
    assert(p4.contains("BroadcastHashJoin") && !p4.contains("SortMergeJoin"),
      s"q4 dim join is not broadcast:\n$p4")

    // q80 (lazy split): the fact side must join the broadcast tag dim —
    // no SortMergeJoin against the tiny date dimension
    val p80 = plan("q80_split_tags")
    assert(p80.contains("BroadcastHashJoin") && !p80.contains("SortMergeJoin"),
      s"q80 split tag join is not broadcast:\n$p80")
  }

  test("windows audit: every engine query plan is clean") {
    val s = spark
    // plan-level sweep over the full query surface: the two known
    // unpartitioned windows (macro as-of lead — broadcast output;
    // q109 cumulative equity — aggregate input) must carry their dim
    // evidence, and nothing else may introduce an unpartitioned window.
    // The same sweep bans SHRINKING frames (current-row..
    // unboundedFollowing) — Spark evaluates them O(n²) per partition
    // (the 350 s q154 regression this round); backward-looking work
    // must use running frames over descending order instead.
    val bad = graft.SparkEntry.queries.toSeq.sortBy(_._1).flatMap {
      case (name, fn) =>
        val plan = fn(s, dir).queryExecution.sparkPlan
        (ExplainAudit.unpartitionedWindowViolations(plan) ++
          ExplainAudit.shrinkingFrameViolations(plan) ++
          ExplainAudit.wideSlidingExactSumViolations(plan)).map(v => s"$name: $v")
    }
    assert(bad.isEmpty, bad.mkString("\n"))
  }

  test("shrinking-frame audit catches a deliberate O(n^2) frame") {
    val s = spark
    import s.implicits._
    val fact = graft.Tables.load(s, dir, "documents")
    val slow = fact.withColumn("next_len",
      first(length($"text"), ignoreNulls = true).over(
        Window.partitionBy($"lang").orderBy($"doc_id")
          .rowsBetween(0, Window.unboundedFollowing)))
    assert(ExplainAudit.shrinkingFrameViolations(
      slow.queryExecution.sparkPlan).nonEmpty, "control frame must be flagged")
    // the equivalent running frame over descending order is clean
    val fast = fact.withColumn("next_len",
      last(length($"text"), ignoreNulls = true).over(
        Window.partitionBy($"lang").orderBy($"doc_id".desc)
          .rowsBetween(Window.unboundedPreceding, 0)))
    assert(ExplainAudit.shrinkingFrameViolations(
      fast.queryExecution.sparkPlan).isEmpty)
  }

  test("wide-sliding audit flags a 60-row decimal sliding sum, passes the prefix form") {
    val s = spark
    import s.implicits._
    val dec0 = org.apache.spark.sql.types.DecimalType(38, 0)
    val fact = graft.Tables.load(s, dir, "events")
    val w = Window.partitionBy($"event_type").orderBy($"ts", $"event_id")
    val slow = fact.withColumn("s60",
      sum(floor($"value" * 1e6 + 0.5).cast(dec0))
        .over(w.rowsBetween(-59, 0)))
    assert(ExplainAudit.wideSlidingExactSumViolations(
      slow.queryExecution.sparkPlan).nonEmpty, "control frame must be flagged")
    // the Det.withSlidingSums plan for the same frame is clean, and a
    // NARROW sliding frame (span < 40) stays legal
    val fast = Det.withSlidingSums(fact, w,
      Det.SlidingSum("s60", floor($"value" * 1e6 + 0.5), dec0, -59, 0))
    assert(ExplainAudit.wideSlidingExactSumViolations(
      fast.queryExecution.sparkPlan).isEmpty)
    val narrow = fact.withColumn("s5",
      sum(floor($"value" * 1e6 + 0.5).cast(dec0))
        .over(w.rowsBetween(-4, 0)))
    assert(ExplainAudit.wideSlidingExactSumViolations(
      narrow.queryExecution.sparkPlan).isEmpty)
  }
}
