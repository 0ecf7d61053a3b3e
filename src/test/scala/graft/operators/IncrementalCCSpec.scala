package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.util.QueryExecutionListener
import org.scalatest.funsuite.AnyFunSuite

import graft.{GraftSession, TestSpark}

/** Incremental component maintenance must equal a from-scratch batch run
  * after EVERY batch, MERGE only the delta, and close the streaming
  * dedup seam: NearDupStream pairs folded per micro-batch land on the
  * batch q52 clusters. */
class IncrementalCCSpec extends AnyFunSuite with TestSpark {

  private val dir = "/root/testdata/sf0.001"

  private def freshRoot(name: String): String = {
    val root = new java.io.File(System.getProperty("java.io.tmpdir"), name)
    def rm(f: java.io.File): Unit = {
      if (f.isDirectory) f.listFiles.foreach(rm)
      f.delete(): Unit
    }
    if (root.exists) rm(root)
    root.toString
  }

  private def compsOf(df: DataFrame): Map[Long, Long] =
    df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

  test("table equals a batch run after EVERY batch (convergence per batch)") {
    val s = spark; import s.implicits._
    // chain 1-2-3-4 arriving edge-wise, a triangle, an isolated pair,
    // plus a LATE edge joining two existing components
    val batches = Seq(
      Seq((2L, 3L), (10L, 11L)),
      Seq((1L, 2L), (20L, 21L), (21L, 22L)),
      Seq((3L, 4L), (20L, 22L)),
      Seq((4L, 10L)) // merges {1,2,3,4} with {10,11}
    )
    val vt = IncrementalCC.table(s, freshRoot("graft_inccc_spec1"))
    var seen = Seq.empty[(Long, Long)]
    batches.foreach { b =>
      seen = seen ++ b
      IncrementalCC.updateTable(s, vt, b.toDF("src", "dst"))
      val got = compsOf(IncrementalCC.readComps(s, vt))
      val want = compsOf(
        ConnectedComponents.run(seen.toDF("src", "dst"))
          .select($"node", $"component"))
      assert(got === want, s"diverged after batch $b")
    }
    // final state spot check: one component {1,2,3,4,10,11} labeled 1
    val fin = compsOf(IncrementalCC.readComps(s, vt))
    assert(Seq(1L, 2L, 3L, 4L, 10L, 11L).forall(fin(_) == 1L))
    assert(Seq(20L, 21L, 22L).forall(fin(_) == 20L))
  }

  test("a new smaller node relabels the whole existing component; untouched components stay out of the delta") {
    val s = spark; import s.implicits._
    val comps0 = Seq((10L, 10L), (11L, 10L), (12L, 10L), // component 10
      (50L, 50L), (51L, 50L)) // untouched component 50
      .toDF("node", "component")
    // node 5 < 10 joins component 10 → every member must relabel to 5
    val step = IncrementalCC.step(comps0, Seq((5L, 11L)).toDF("src", "dst"))
    val delta = compsOf(step.delta)
    assert(delta === Map(5L -> 5L, 10L -> 5L, 11L -> 5L, 12L -> 5L),
      "delta must be the new node plus exactly the relabeled component")
    assert(!delta.contains(50L) && !delta.contains(51L),
      "untouched component leaked into the delta")
    val updated = compsOf(step.updated)
    assert(updated === Map(5L -> 5L, 10L -> 5L, 11L -> 5L, 12L -> 5L,
      50L -> 50L, 51L -> 50L))
  }

  test("distributed fallback (maxLocalEdges=0) produces the same step as the driver fast path") {
    val s = spark; import s.implicits._
    val comps0 = Seq((10L, 10L), (11L, 10L), (20L, 20L), (21L, 20L))
      .toDF("node", "component")
    val batch = Seq((5L, 11L), (11L, 21L), (30L, 31L)).toDF("src", "dst")
    // the contraction's rounds each observe their signature as cc_sig_<i>
    val rounds = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new QueryExecutionListener {
      def onSuccess(f: String, qe: QueryExecution, d: Long): Unit =
        qe.observedMetrics.keys.filter(_.startsWith("cc_sig_")).foreach(rounds.add)
      def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    def roundsOf(f: => IncrementalCC.Step): (IncrementalCC.Step, Int) = {
      rounds.clear()
      val st = f
      GraftSession.drain(spark.sparkContext)
      (st, rounds.size)
    }
    spark.listenerManager.register(listener)
    val ((fast, fastRounds), (dist, distRounds)) =
      try (roundsOf(IncrementalCC.step(comps0, batch)),
        roundsOf(IncrementalCC.step(comps0, batch, maxLocalEdges = 0)))
      finally spark.listenerManager.unregister(listener)
    assert(fastRounds === 0)
    assert(distRounds >= 1, "the fallback must run the distributed contraction")
    assert(compsOf(fast.delta) === compsOf(dist.delta))
    assert(compsOf(fast.updated) === compsOf(dist.updated))
    // the merge itself is right: 5 joins {10,11}+{20,21} → all label 5
    assert(compsOf(fast.updated) === Map(5L -> 5L, 10L -> 5L, 11L -> 5L,
      20L -> 5L, 21L -> 5L, 30L -> 30L, 31L -> 30L))
  }

  test("within-component pair is a no-op delta; brand-new pair adds exactly two rows") {
    val s = spark; import s.implicits._
    val comps0 = Seq((10L, 10L), (11L, 10L)).toDF("node", "component")
    val noop = IncrementalCC.step(comps0, Seq((10L, 11L)).toDF("src", "dst"))
    assert(noop.delta.isEmpty, "pair inside one component must change nothing")
    assert(compsOf(noop.updated) === Map(10L -> 10L, 11L -> 10L))
    val fresh = IncrementalCC.step(comps0, Seq((30L, 31L)).toDF("src", "dst"))
    assert(compsOf(fresh.delta) === Map(30L -> 30L, 31L -> 30L))
  }

  test("null-endpoint pairs are not edges: the delta from an empty table equals a batch run") {
    val s = spark; import s.implicits._
    // node 7 appears only beside a null: batch run labels neither it nor
    // the null, so the fold must not add a row for either
    val pairs = Seq[(Option[Long], Option[Long])](
      (Some(7L), None), (None, Some(3L)), (None, None),
      (Some(1L), Some(2L)), (Some(2L), Some(3L))).toDF("src", "dst")
    val empty = Seq.empty[(Long, Long)].toDF("node", "component")
    def rows(df: DataFrame) = df.collect().map(r =>
      (Option(r.get(0)), Option(r.get(1)))).toSet
    val want = rows(ConnectedComponents.run(pairs))
    assert(want === Set((Some(1L), Some(1L)), (Some(2L), Some(1L)), (Some(3L), Some(1L))))
    assert(rows(IncrementalCC.step(empty, pairs).delta) === want)
  }

  test("real pairs in shards: incremental table equals batch q95 clusters") {
    val s = spark; import s.implicits._
    val got = graft.queries.DedupTextQueries
      .queries("q147_incremental_cc")(s, dir)
    val want = graft.queries.DedupTextQueries
      .queries("q95_dedup_clusters")(s, dir)
    assert(got.count() > 0)
    assert(got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty,
      "incremental fold diverged from the batch clusters")
  }

  test("streaming-cadence compaction keeps the table identical and bounds live files") {
    val s = spark; import s.implicits._
    val root = freshRoot("graft_inccc_compact")
    val vt = IncrementalCC.table(s, root)
    // 20 disjoint pairs, all landing in shards 0/1 (node % 16), one
    // commit each — the per-micro-batch small-file worst case
    val pairsSeq = (1 to 20).map(i => (i.toLong * 32, i.toLong * 32 + 1))
    pairsSeq.foreach { p =>
      IncrementalCC.updateTable(s, vt, Seq(p).toDF("src", "dst"),
        compactEvery = 8L)
    }
    val want = compsOf(ConnectedComponents.run(pairsSeq.toDF("src", "dst")))
    assert(compsOf(IncrementalCC.readComps(s, vt)) === want,
      "compaction/vacuum changed the table contents")
    def diskFiles(): Int = {
      def walk(f: java.io.File): Seq[java.io.File] =
        if (f.isDirectory) f.listFiles.toSeq.flatMap(walk) else Seq(f)
      walk(new java.io.File(root, "data"))
        .count(_.getName.endsWith(".parquet"))
    }
    // 20 merge commits each ADD files (rewriting their touched
    // partitions) — without maintenance the data dir would hold every
    // file ever added (~130 here). The two in-loop compact+vacuum
    // rounds keep disk growth to the post-vacuum tail (files added
    // since the last maintenance, dead or alive)
    val midGrowth = diskFiles()
    assert(midGrowth < 60, s"maintenance not reclaiming: $midGrowth files on disk")
    // the LIVE snapshot itself stays small: replay the log's adds/removes
    val live = vt.history().foldLeft(Set.empty[String]) { (acc, e) =>
      acc -- e.removes ++ e.adds.map(_.path)
    }
    assert(live.size <= 10, s"live snapshot holds ${live.size} files")
    // a final maintenance round collapses disk to the live snapshot
    vt.compact(); vt.checkpoint(); vt.vacuum(keepLast = 0)
    assert(compsOf(IncrementalCC.readComps(s, vt)) === want)
    val endFiles = diskFiles()
    assert(endFiles <= 6, s"vacuum left $endFiles files for a 2-shard table")
  }

  test("streaming seam: NearDupStream pairs folded per micro-batch land on the batch q52 clusters") {
    val s = spark; import s.implicits._
    implicit val sqlCtx = s.sqlContext
    import graft.streaming.NearDupStream
    import graft.streaming.NearDupStream.Doc
    val docs = graft.Tables.load(s, dir, "documents")
      .select($"doc_id", $"text").as[(Long, String)]
      .collect().map { case (id, t) => Doc(id, t) }.toSeq
    val vt = IncrementalCC.table(s, freshRoot("graft_inccc_stream"))
    val input = MemoryStream[Doc]
    val q = NearDupStream.candidates(input.toDS(), maxBucket = Int.MaxValue)
      .writeStream.outputMode("append")
      .foreachBatch {
        (pairs: org.apache.spark.sql.Dataset[NearDupStream.CandPair], _: Long) =>
          IncrementalCC.updateTable(s, vt, pairs.toDF(), "da", "db")
      }
      .start()
    try {
      // adversarial split as in NearDupStreamSpec: pair members land in
      // different micro-batches
      docs.groupBy(_.docId % 3).toSeq.sortBy(_._1).map(_._2)
        .foreach { b => input.addData(b); q.processAllAvailable() }
    } finally q.stop()
    val got = compsOf(IncrementalCC.readComps(s, vt))
    val batchPairs = graft.queries.DedupTextQueries
      .queries("q52_minhash_lsh")(s, dir)
    val want = compsOf(ConnectedComponents.run(batchPairs, "da", "db"))
    assert(got === want,
      "continuously-maintained components diverged from the batch clusters")
    assert(got.nonEmpty)
  }
}
