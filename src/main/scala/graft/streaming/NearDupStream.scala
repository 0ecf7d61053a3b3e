package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions.{col, count, lit}
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Streaming MinHash-LSH near-dup candidate generation — the q52/q90
  * candidate stage applied to a continuous crawl, and the streaming
  * sibling of q135's shard-vs-corpus incremental dedup: each arriving
  * document's band keys probe a persistent band index held in the state
  * store, and every (new, existing) bucket collision is emitted as a
  * candidate pair the moment it becomes knowable. Signature arithmetic
  * is the batch generator's exactly (3-gram shingles → low-60-bit md5 →
  * 32 universal-hash permutations → 8 bands × 4 rows, reference
  * semantics `etl/data_preprocessor.py`'s dedup family), so the distinct
  * candidate set over any delivery order equals the batch q52 pair set
  * on the same corpus — NearDupStreamSpec proves it on real documents
  * shuffled across micro-batches.
  *
  * Scale design:
  *  - State is keyed by (band, band_key): a bucket's state is its member
  *    doc-id list — the SAME persisted band index a batch incremental
  *    run (q135) joins against, sharded across executors by bucket key.
  *    Per-bucket work on arrival is |bucket| pair emissions, exactly the
  *    collision volume the batch band self-join pays.
  *  - A hot bucket (boilerplate band) is LSH's known skew; `maxBucket`
  *    caps membership as an explicit RECALL dial (docs beyond the cap
  *    join no pairs through that bucket — their other 7 bands still
  *    probe). The DEFAULT is finite (64): an uncapped boilerplate
  *    bucket accumulates O(n) member state and O(n²) pair emission in
  *    ONE state-store key — the hot-shingle skew q51 salts against —
  *    and a bucket past ~64 members is near-certainly boilerplate
  *    whose pairs exact-dedup/contamination already catch. Pass
  *    `maxBucket = Int.MaxValue` for strict batch-q52 parity (what the
  *    parity specs do); the recall-delta spec measures exactly what a
  *    finite cap drops on a boilerplate-heavy corpus.
  *
  *    MEASURED at scale (SCALING_r15{,_100x}.json, `neardup_recall`):
  *    the dial's contract is that capped buckets drop only pairs that
  *    would FAIL verification. At 10×-sf0.1 density (50k docs, 20
  *    saturated buckets at cap 16) candidate recall vs the uncapped
  *    batch q52 set falls to 0.37 @cap16 / 0.92 @cap64 / 1.00 @cap256,
  *    while VERIFIED recall (vs the batch q90 jaccard ≥ 0.5 set — the
  *    pairs a dedup run acts on) stays 1.000 at EVERY cap: saturated
  *    buckets are boilerplate bands whose pairs don't verify, and true
  *    near-dups collide through their other, low-population bands.
  *    Verified recall is likewise 1.000 at every cap at 100× density —
  *    candidate recall falls further there (to 0.04 @cap16); only the
  *    VERIFIED numbers repeat across densities. The cap bounds state
  *    and pair emission without costing one verified near-dup on this
  *    corpus family.
  *
  *    The FAILURE boundary is also measured, not hypothesized
  *    (SCALING_r16.json `neardup_recall_adversarial`): on a constructed
  *    family whose true near-dups route ONLY through saturated buckets
  *    — groups sharing a 200-token boilerplate block with disjoint
  *    50-token tails, so within-group jaccard is 0.66 (every pair a
  *    true near-dup) while every band collision goes through the one
  *    all-boilerplate bucket per (band, group) — verified recall
  *    degrades exactly as the cap predicts: 0.006 @cap16 / 0.101
  *    @cap64 / 0.880 @cap256 over 324,858 true pairs, recovering as
  *    the cap passes the hot-bucket population. The dial's operating
  *    contract follows: run `bucketCensus` on a corpus sample BEFORE
  *    fixing the cap, and let `recommendCap(census, targetPairFrac)`
  *    pick the cap from the census's pair-mass quantiles (target 1.0 =
  *    strictly no-drop); if true dups can route through buckets hotter
  *    than an affordable cap (boilerplate-dominated docs whose residual
  *    overlap still matters), strip the boilerplate upstream instead
  *    (operators/SpanDedup is the batch tool for exactly that). NearDupStreamSpec pins BOTH sides on a
  *    miniature of the family: the boundary (cap 8 measurably loses
  *    verified recall) and the remedy (stripSpans retains one block
  *    copy, dissolves the boilerplate-induced pairs, and the census
  *    reads every bucket back under the cap — the cap is recall-free
  *    again).
  *  - A pair sharing several bands is emitted once per colliding band
  *    (bucket states are independent; Spark rejects a second stateful
  *    dedup stage downstream of flatMapGroupsWithState). Contract is
  *    therefore at-least-once per pair; the exactly-once collapse
  *    belongs to the MERGE sink (sources/MergeSink, (da, db) key) just
  *    as fills do in LivePortfolio, and the spec compares DISTINCT sets.
  *  - Doc ids are assumed unique across the stream (redelivery of a doc
  *    id re-pairs it; content-level replay safety is CorpusStream's
  *    exact-dedup front).
  */
object NearDupStream {

  final case class Doc(docId: Long, text: String)
  final case class Band(band: Int, bandKey: String, docId: Long)
  final case class BucketState(members: Seq[Long])
  final case class CandPair(da: Long, db: Long)

  private val P = 2147483647L

  /** Distinct 3-gram shingles — batch `shingleSet` semantics: tokens
    * split on every single space with empty tokens kept (Spark's
    * `split(text, ' ')` and DuckDB's `string_split`; Java's one-argument
    * `split` drops trailing empty tokens), and no shingles for a null
    * text or one of fewer than 3 tokens. */
  private[streaming] def shingles(text: String): Set[String] = {
    val t = if (text == null) Array.empty[String] else text.split(" ", -1)
    if (t.length < 3) Set.empty
    else t.sliding(3).map(_.mkString(" ")).toSet
  }

  private val md5Digest = new ThreadLocal[java.security.MessageDigest] {
    override def initialValue(): java.security.MessageDigest =
      java.security.MessageDigest.getInstance("MD5")
  }

  /** Low 60 bits of md5 mod (2^31−1) — the engine-portable base hash of
    * the batch generator (`substring(md5(sh), 18, 15)` parsed base-16).
    * Hex chars 18..32 (1-based) are the digest's nibbles 17..31, i.e.
    * the last 8 bytes big-endian with the top nibble masked — derived
    * arithmetically here (bit-identical to the hex-string parse, spec-
    * pinned) because this runs once per SHINGLE in the streaming hot
    * path: the old per-call getInstance + per-byte "%02x".format was a
    * provider lookup plus 16 boxed format calls for every shingle of
    * every document in candidates()/bucketCensus(). */
  private[streaming] def md5Low60(sh: String): Long = {
    val md = md5Digest.get()
    val d = md.digest(sh.getBytes("UTF-8")) // digest() resets the instance
    var v = 0L
    var i = 8
    while (i < 16) { v = (v << 8) | (d(i) & 0xffL); i += 1 }
    (v & 0x0fffffffffffffffL) % P
  }

  /** Test seam: the literal batch-generator form of [[md5Low60]]
    * (hex string → substring(18,15) → base-16), for the bit-identity
    * spec only. */
  private[streaming] def md5Low60Reference(sh: String): Long = {
    val md = java.security.MessageDigest.getInstance("MD5")
    val hex = md.digest(sh.getBytes("UTF-8")).map("%02x".format(_)).mkString
    java.lang.Long.parseLong(hex.substring(17, 32), 16) % P
  }

  /** The 8 (band, band_key) probes of one document: 32 min-hash values
    * h_i = (a_i·x + b_i) mod (2^31−1) sliced 4 per band, keys joined
    * ':' — identical constants and string shape to the batch bands. */
  private[graft] def bandKeys(text: String): Seq[(Int, String)] = {
    val shs = shingles(text)
    if (shs.isEmpty) return Seq.empty
    val xs = shs.toArray.map(md5Low60)
    val sig = Array.tabulate(32) { i =>
      val a = 40503L * i + 12345L
      val b = 2971215073L * i + 1L
      var m = Long.MaxValue
      var j = 0
      while (j < xs.length) {
        val h = Math.floorMod(a * xs(j) + b, P)
        if (h < m) m = h
        j += 1
      }
      m
    }
    (0 until 8).map(b => (b, (0 until 4).map(r => sig(b * 4 + r)).mkString(":")))
  }

  /** Batch census of the band index `candidates` would build over
    * `docs`: one row per (band, band_key) with member count m —
    * deterministic and arrival-order-free. This is the recall dial's
    * OPERATIONAL check: before fixing `maxBucket` for a corpus, measure
    * the bucket populations its true near-dups route through — a cap
    * below a hot bucket's population drops memberships there, and on a
    * family whose true dups route ONLY through such buckets, verified
    * recall degrades (the measured adversarial curve above). The sweep's
    * saturation/drop census and the adversarial boundary arm are built
    * on this. */
  def bucketCensus(docs: Dataset[Doc]): DataFrame = {
    val s = docs.sparkSession
    import s.implicits._
    docs.flatMap(d => bandKeys(d.text))
      .toDF("band", "band_key")
      .groupBy(col("band"), col("band_key"))
      .agg(count(lit(1)).as("m"))
  }

  /** The census→cap prescription as code: pick the smallest `maxBucket`
    * that keeps at least `targetPairFrac` of the census's candidate-pair
    * mass — Σ m·(m−1)/2 over buckets with population m ≤ cap, as a
    * fraction of the total over all buckets.
    *
    * This is the measured operating contract made mechanical
    * (SCALING_r17's ρ-family curves): each recall tranche recovers
    * exactly as the cap passes the population of the buckets it routes
    * through — hot-bucket populations 50/150/~200 were precisely the cap
    * thresholds at which the subgroup and boilerplate tranches returned
    * — so the right cap for a target recall share is a census QUANTILE
    * (weighted by per-bucket pair mass), not a guess.
    * `targetPairFrac = 1.0` returns the hottest population: strictly
    * no-drop, equivalent to batch-q52 parity on this corpus. A corpus
    * with no colliding buckets has nothing to cap — the production
    * default (64) is returned.
    *
    * The quantile is CONSERVATIVE: it counts a bucket hotter than the
    * cap as contributing zero kept pairs, but `candidates`' maxBucket
    * semantics keep the first cap members of a hot bucket, so
    * cap·(cap−1)/2 of its pairs still emit. The ACTUAL kept-pair
    * fraction at the returned cap therefore meets or exceeds
    * `targetPairFrac` — "at least target" always holds — and a sub-1.0
    * target is less aggressive than the number suggests;
    * [[keptPairFrac]] reports the exact dial value at any cap.
    *
    * Scale: the census is one row per (band, band_key); this aggregates
    * it to one row per DISTINCT population m before collecting, so the
    * driver-side set is bounded by the number of distinct bucket sizes
    * — tiny by construction even on a 100 TB corpus sample. */
  def recommendCap(census: DataFrame, targetPairFrac: Double): Int =
    recommendCap(censusByM(census), targetPairFrac)

  /** The driver-side reduction [[recommendCap]] and [[keptPairFrac]]
    * share: one row per DISTINCT colliding population m (ascending) with
    * its bucket count. Collect it ONCE per census when evaluating
    * several prescriptions/dial values (ScaleSweep's emitRec arms ask
    * four questions of the same census) — the set is bounded by the
    * number of distinct bucket sizes, tiny even on a 100 TB sample. */
  def censusByM(census: DataFrame): Array[(Long, Long)] =
    census.filter(col("m") >= 2)
      .groupBy(col("m")).agg(count(lit(1)).as("buckets"))
      .orderBy(col("m")).collect()
      .map(r => (r.getLong(0), r.getLong(1)))

  /** [[recommendCap]] over a pre-collected [[censusByM]] reduction. */
  def recommendCap(byM: Array[(Long, Long)], targetPairFrac: Double): Int = {
    require(targetPairFrac > 0.0 && targetPairFrac <= 1.0,
      s"targetPairFrac must be in (0, 1], got $targetPairFrac")
    if (byM.isEmpty) return 64
    val mass = byM.map { case (m, c) => m.toDouble * (m - 1) / 2.0 * c }
    val total = mass.sum
    var cum = 0.0
    var i = 0
    while (i < byM.length) {
      cum += mass(i)
      if (cum / total >= targetPairFrac - 1e-12)
        return math.min(byM(i)._1, Int.MaxValue.toLong).toInt
      i += 1
    }
    math.min(byM.last._1, Int.MaxValue.toLong).toInt
  }

  /** The EXACT kept-pair fraction of `candidates`' maxBucket dial at
    * `cap` — Σ min(m,cap)·(min(m,cap)−1)/2 over the census's buckets, as
    * a fraction of the uncapped Σ m·(m−1)/2: buckets at or under the cap
    * keep all their pairs, hotter buckets keep the first-cap-members'
    * pairs (what the dial actually emits, ADVICE r18). This is what
    * [[recommendCap]]'s conservative quantile under-reports; emit it
    * beside a recommendation when the artifact should show the true dial
    * value. Same distinct-population aggregation before the collect;
    * 1.0 on a census with no colliding buckets (nothing to drop). */
  def keptPairFrac(census: DataFrame, cap: Int): Double =
    keptPairFrac(censusByM(census), cap)

  /** [[keptPairFrac]] over a pre-collected [[censusByM]] reduction. */
  def keptPairFrac(byM: Array[(Long, Long)], cap: Int): Double = {
    require(cap >= 1, s"cap must be >= 1, got $cap")
    if (byM.isEmpty) return 1.0
    def c2(m: Long): Double = m.toDouble * (m - 1) / 2.0
    val total = byM.map { case (m, c) => c2(m) * c }.sum
    val kept = byM.map { case (m, c) => c2(math.min(m, cap.toLong)) * c }.sum
    kept / total
  }

  /** Candidate pairs (da < db by doc id) as they become knowable; the
    * distinct output set over the whole stream equals batch q52. */
  def candidates(docs: Dataset[Doc],
      maxBucket: Int = 64): Dataset[CandPair] = {
    val s = docs.sparkSession
    import s.implicits._
    docs
      .flatMap(d => bandKeys(d.text).map { case (b, k) => Band(b, k, d.docId) })
      .groupByKey(b => (b.band, b.bandKey))
      .flatMapGroupsWithState[BucketState, CandPair](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (_: (Int, String), rows: Iterator[Band], state: GroupState[BucketState]) =>
          var members = state.getOption.map(_.members).getOrElse(Seq.empty)
          val out = Seq.newBuilder[CandPair]
          rows.toArray.sortBy(_.docId).foreach { r =>
            if (members.size < maxBucket) {
              members.foreach { m =>
                if (m != r.docId)
                  out += CandPair(math.min(m, r.docId), math.max(m, r.docId))
              }
              members = members :+ r.docId
            }
          }
          state.update(BucketState(members))
          out.result().iterator
      }
  }
}
