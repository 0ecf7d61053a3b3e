package graft.streaming

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark
import graft.streaming.NearDupStream.{CandPair, Doc}

/** The streaming band index must reproduce the batch LSH candidate set
  * (q52) on real documents regardless of how arrivals split across
  * micro-batches — pairs appear as soon as both members have arrived,
  * and the distinct set over the whole stream is the batch set. */
class NearDupStreamSpec extends AnyFunSuite with TestSpark {

  private val dir = "/root/testdata/sf0.001"

  private def docs: Seq[Doc] = {
    val s = spark
    import s.implicits._
    graft.Tables.load(s, dir, "documents")
      .select($"doc_id", $"text").as[(Long, String)]
      .collect().map { case (id, t) => Doc(id, t) }.toSeq
  }

  private def batchPairs: Set[(Long, Long)] = {
    val s = spark
    import s.implicits._
    graft.queries.DedupTextQueries.queries("q52_minhash_lsh")(s, dir)
      .as[(Long, Long)].collect().toSet
  }

  test("distinct streamed candidates equal batch q52 across shuffled micro-batches") {
    val spark2 = spark
    import spark2.implicits._
    implicit val sqlCtx = spark.sqlContext
    val all = docs
    assert(all.size >= 100)
    // adversarial split: members of a near-dup pair land in different
    // micro-batches (mod-3 split is independent of content)
    val batches = all.groupBy(_.docId % 3).toSeq.sortBy(_._1).map(_._2)
    val input = MemoryStream[Doc]
    // batch-parity setting: the cap is OFF (the production default 64
    // is a recall dial, exercised by the boilerplate spec below)
    val q = NearDupStream.candidates(input.toDS(), maxBucket = Int.MaxValue)
      .writeStream.format("memory").queryName("neardup_cands")
      .outputMode("append").start()
    try {
      batches.foreach { b => input.addData(b); q.processAllAvailable() }
      val got = spark.table("neardup_cands").as[CandPair].collect()
        .map(p => (p.da, p.db)).toSet
      val expect = batchPairs
      assert(got === expect)
      assert(got.nonEmpty)
      got.foreach { case (a, b) => assert(a < b) }
    } finally q.stop()
  }

  test("checkpoint restart: band index resumes and the MERGE sink converges to batch q52") {
    val spark2 = spark
    import spark2.implicits._
    implicit val sqlCtx = spark.sqlContext
    import org.apache.spark.sql.DataFrame
    import org.apache.spark.sql.functions.{col, lit, pmod}
    val tmp = java.nio.file.Files.createTempDirectory("graft_neardup_rs")
    val sink = new graft.sources.MergeSink(spark, s"$tmp/pairs",
      keyCols = Seq("da", "db"), partitionCol = "shard")
    val input = MemoryStream[Doc]
    def startQ() = NearDupStream.candidates(input.toDS(), maxBucket = Int.MaxValue)
      .withColumn("shard", pmod(col("da"), lit(4L)).cast("string"))
      .writeStream.outputMode("append")
      .option("checkpointLocation", s"$tmp/ckpt")
      .foreachBatch { (batch: DataFrame, _: Long) => sink.upsert(batch): Unit }
      .start()
    val all = docs
    val (h1, h2) = all.splitAt(all.size / 2)
    // first query sees half the corpus (bucket members live in the
    // state store at the stop), then a hard stop
    val q1 = startQ()
    try { input.addData(h1); q1.processAllAvailable() } finally q1.stop()
    // a NEW query on the same checkpoint: cross-half pairs require the
    // restored band index; across-band duplicate emissions collapse in
    // the (da, db) MERGE — the documented exactly-once story
    val q2 = startQ()
    try {
      input.addData(h2); q2.processAllAvailable()
      val got = sink.read().select($"da", $"db").as[(Long, Long)]
        .collect().toSet
      assert(got === batchPairs,
        "restart from checkpoint diverged from the batch candidate set")
    } finally q2.stop()
  }

  test("finite maxBucket on a boilerplate-heavy corpus: genuine pairs keep 100% recall, hot-bucket pairs truncate to the cap") {
    val spark2 = spark
    import spark2.implicits._
    implicit val sqlCtx = spark.sqlContext
    // 20 identical boilerplate docs (one hot bucket per band) + 3
    // genuine near-dup pairs on disjoint vocab (2-member buckets)
    val boiler = (1000L until 1020L).map(i =>
      Doc(i, "bp1 bp2 bp3 bp4 bp5 bp6 bp7 bp8"))
    val genuine = Seq(
      Doc(1L, "g1 g2 g3 g4 g5"), Doc(2L, "g1 g2 g3 g4 g5"),
      Doc(3L, "h1 h2 h3 h4 h5"), Doc(4L, "h1 h2 h3 h4 h5"),
      Doc(5L, "k1 k2 k3 k4 k5"), Doc(6L, "k1 k2 k3 k4 k5"))
    val genuinePairs = Set((1L, 2L), (3L, 4L), (5L, 6L))
    val cap = 8
    val input = MemoryStream[Doc]
    val q = NearDupStream.candidates(input.toDS(), maxBucket = cap)
      .writeStream.format("memory").queryName("neardup_boiler")
      .outputMode("append").start()
    try {
      input.addData(boiler ++ genuine); q.processAllAvailable()
      val got = spark.table("neardup_boiler").as[CandPair].collect()
        .map(p => (p.da, p.db)).toSet
      // recall floor: every genuine pair survives the cap
      assert(genuinePairs.subsetOf(got), s"cap dropped genuine pairs: ${genuinePairs -- got}")
      // recall delta, exactly: within one batch a bucket admits its
      // `cap` LOWEST doc ids, so the hot bucket contributes C(cap,2)
      // pairs instead of C(20,2)=190 — and its state stays bounded
      val admitted = boiler.map(_.docId).sorted.take(cap)
      val hotPairs = (for {
        a <- admitted; b <- admitted if a < b
      } yield (a, b)).toSet
      assert(got === genuinePairs ++ hotPairs,
        s"expected genuine + C($cap,2)=${hotPairs.size} hot pairs, got ${got.size}")
    } finally q.stop()
  }

  test("adversarial boundary family: true near-dups routing only through saturated buckets LOSE verified recall under the cap, and bucketCensus detects the family") {
    val spark2 = spark
    import spark2.implicits._
    implicit val sqlCtx = spark.sqlContext
    // Miniature of ScaleSweep.genAdversarialDocs: one group of 40 docs
    // sharing a 60-token boilerplate block + 15 unique tail tokens per
    // doc. Every pair's jaccard = 58/88 ≈ 0.66 ≥ 0.5 (all 780 pairs are
    // TRUE near-dups), while disjoint tails mean two docs' band keys
    // match only when all 4 minhash rows land in the shared block in
    // both — every collision routes through the one all-boilerplate
    // bucket per band, population ≈ 0.795⁴·40 ≈ 16 > cap 8.
    val boil = (0 until 60).map(i => s"b0x$i").mkString(" ")
    val docs = (0L until 40L).map(d =>
      Doc(d, boil + " " + (0 until 15).map(i => s"u${d}t$i").mkString(" ")))
    def jac(a: Doc, b: Doc): Double = {
      val sa = NearDupStream.shingles(a.text)
      val sb = NearDupStream.shingles(b.text)
      sa.intersect(sb).size.toDouble / sa.union(sb).size
    }
    val truePairs = (for {
      a <- docs; b <- docs if a.docId < b.docId && jac(a, b) >= 0.5
    } yield (a.docId, b.docId)).toSet
    assert(truePairs.size === 40 * 39 / 2, "the whole group must be true near-dups")

    val cap = 8
    // the operational check the scaladoc prescribes: the census exposes
    // the hot buckets BEFORE any cap is fixed
    val census = NearDupStream.bucketCensus(docs.toDS()).collect()
      .map(r => (r.getInt(0), r.getString(1), r.getLong(2)))
    assert(census.count(_._3 > cap) >= 4,
      s"family failed to saturate buckets at cap $cap: ${census.filter(_._3 > 1).mkString(", ")}")

    def streamed(mb: Int, qn: String): Set[(Long, Long)] = {
      val input = MemoryStream[Doc]
      val q = NearDupStream.candidates(input.toDS(), maxBucket = mb)
        .writeStream.format("memory").queryName(qn)
        .outputMode("append").start()
      try {
        input.addData(docs); q.processAllAvailable()
        spark.table(qn).as[CandPair].collect().map(p => (p.da, p.db)).toSet
      } finally q.stop()
    }
    val uncapped = streamed(Int.MaxValue, "adv_uncapped")
    val capped = streamed(cap, "adv_capped")
    val verUncapped = uncapped.intersect(truePairs)
    val verCapped = capped.intersect(truePairs)
    assert(verUncapped.size > truePairs.size / 2,
      "uncapped LSH should surface most true pairs on this family")
    // THE BOUNDARY, measured: unlike the boilerplate-pairs-don't-verify
    // family above, here the cap costs VERIFIED recall
    assert(verCapped.size < verUncapped.size,
      s"cap $cap was expected to lose verified recall on the adversarial family " +
        s"(uncapped ${verUncapped.size}, capped ${verCapped.size})")
    assert(capped.subsetOf(uncapped))
  }

  test("adversarial remedy: stripping the hot block upstream dissolves the boilerplate pairs and empties the hot buckets — the cap then costs nothing") {
    val spark2 = spark
    import spark2.implicits._
    implicit val sqlCtx = spark.sqlContext
    import org.apache.spark.sql.functions.col
    // the same family as the boundary test: the scaladoc's prescribed
    // remedy is operators/SpanDedup upstream, because the near-dup mass
    // IS the shared block — these pairs are boilerplate-induced, and a
    // dedup run acting on them would drop docs whose UNIQUE content
    // differs. The operational loop this pins: census detects the hot
    // family → strip the block (first copy retained) → census clean →
    // the cap is recall-free again.
    val boil = (0 until 60).map(i => s"b0x$i").mkString(" ")
    val docs = (0L until 40L).map(d =>
      Doc(d, boil + " " + (0 until 15).map(i => s"u${d}t$i").mkString(" ")))
    val cap = 8

    val stripped = graft.operators.SpanDedup
      .stripSpans(docs.toDF("docId", "text")
        .select(col("docId").as("doc_id"), col("text")), 6)
      .select(col("doc_id"), col("clean_text"))
      .as[(Long, String)].collect().sortBy(_._1)
      .map { case (id, t) => Doc(id, t) }.toSeq
    // first-occurrence retention: exactly ONE doc keeps the block
    val nWithBlock = stripped.count(_.text.contains("b0x0 b0x1"))
    assert(nWithBlock === 1, s"expected one retained block copy, got $nWithBlock")

    // ground truth on the stripped corpus: no pair is a near-dup any
    // more (the block WAS the shared mass; tails are disjoint)
    def jac(a: Doc, b: Doc): Double = {
      val sa = NearDupStream.shingles(a.text)
      val sb = NearDupStream.shingles(b.text)
      if (sa.isEmpty || sb.isEmpty) 0.0
      else sa.intersect(sb).size.toDouble / sa.union(sb).size
    }
    val trueAfter = (for {
      a <- stripped; b <- stripped if a.docId < b.docId && jac(a, b) >= 0.5
    } yield (a.docId, b.docId)).toSet
    assert(trueAfter.isEmpty, s"stripped corpus still has near-dups: $trueAfter")

    // the hot buckets are gone: the census that detected the family
    // now reads every bucket under the cap
    val censusAfter = NearDupStream.bucketCensus(stripped.toDS()).collect()
      .map(_.getLong(2))
    assert(censusAfter.nonEmpty && censusAfter.max <= cap,
      s"post-strip census still has a bucket at ${censusAfter.max} > cap $cap")

    // and the capped stream on the stripped corpus drops no true pair
    // (there are none to drop — verified parity with ground truth)
    val input = MemoryStream[Doc]
    val q = NearDupStream.candidates(input.toDS(), maxBucket = cap)
      .writeStream.format("memory").queryName("adv_remedy")
      .outputMode("append").start()
    try {
      input.addData(stripped); q.processAllAvailable()
      val got = spark.table("adv_remedy").as[CandPair].collect()
        .map(p => (p.da, p.db)).toSet
      val verifiedGot = got.filter { case (a, b) =>
        jac(stripped(a.toInt), stripped(b.toInt)) >= 0.5 }
      assert(verifiedGot === trueAfter)
    } finally q.stop()
  }

  test("maxBucket recall dial: cap 1 emits no pairs, uncapped is batch-complete") {
    val spark2 = spark
    import spark2.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Doc]
    val q = NearDupStream.candidates(input.toDS(), maxBucket = 1)
      .writeStream.format("memory").queryName("neardup_capped")
      .outputMode("append").start()
    try {
      input.addData(docs); q.processAllAvailable()
      assert(spark.table("neardup_capped").isEmpty)
    } finally q.stop()
  }

  test("md5Low60 arithmetic fast path is bit-identical to the hex-substring batch-generator form") {
    val cases = Seq("", "a", "the quick brown fox", "tok1 tok2 tok3",
      "ünïcødé ≠ ascii ❄", "x" * 10000) ++
      (0 until 500).map(i => s"shingle $i of ${i * 31} salt ${i.toHexString}")
    cases.foreach { s =>
      assert(NearDupStream.md5Low60(s) === NearDupStream.md5Low60Reference(s),
        s"hash mismatch for input: $s")
    }
  }

  test("shingles split text as the batch plan does: leading, trailing and double spaces, null") {
    val s = spark
    import s.implicits._
    import org.apache.spark.sql.functions.{col, expr, split}
    val texts = Seq("a b c d", "a b c d ", " a b c d", "a  b c d", "a b  ",
      "  ", "a b", "", null)
    val batch = texts.toDF("text")
      .select(col("text"), split(col("text"), " ").as("t"))
      .select(col("text"), expr(graft.functions.TextGrams.gramsSql(3)).as("sh"))
      .as[(String, Seq[String])].collect()
    assert(batch.length === texts.length)
    batch.foreach { case (text, sh) =>
      assert(NearDupStream.shingles(text) === sh.toSet, s"text: [$text]")
    }
    assert(NearDupStream.bandKeys(null).isEmpty)
  }

  test("q215 and q216 census a corpus holding a null doc_id and a null text") {
    val s = spark
    import s.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("graft_census_nulls").toString
    Seq[(java.lang.Long, String)]((1L, "w1 w2 w3 w4 w5 w6"),
        (null, "w1 w2 w3 w4 w5 xx"), (3L, null))
      .toDF("doc_id", "text")
      .write.parquet(s"$tmp/documents.parquet")
    Seq("q215_band_census", "q216_strip_recensus").foreach { q =>
      val census = graft.queries.DedupTextQueries.queries(q)(s, tmp)
        .select("m").as[Long].collect()
      assert(census.sum === 16L, q) // 8 bands x the two shingled docs
    }
  }
}
