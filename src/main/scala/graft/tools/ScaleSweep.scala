package graft.tools

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Empirical scale soak: measure how the heaviest operators scale from
  * sf0.1 to a 10×-sf0.1 dataset, and emit a committed `SCALING_r{N}.json`
  * artifact so superlinear drift is caught mechanically, round over
  * round (the CORRECTNESS_LOCAL pattern).
  *
  * The 10× dataset is generated ONCE into a scratch dir, in the same
  * generative family as the driver's testdata (measured from sf0.1, not
  * assumed): documents = bags of the SAME ~31-token vocabulary at the
  * same 10–100 length range with comparable exact-dup (~1/625) and
  * near-dup (~1/100, prefix-overlap) rates; embeddings = 10 clusters ×
  * 64 dims at the same value range; events = the same 30-day span and
  * 5 event types with users scaled 10× (the testdata's own scaling
  * axis — SchemaGuardSpec pins that shape). Deterministic via hash
  * arithmetic, no RNG state.
  *
  * Usage: runMain graft.tools.ScaleSweep [baseDir] [outJson] [scale]
  * Env: SPARK_GRAFT_SCALE_DIR (scratch; default /tmp/graft_scale10),
  *      SPARK_GRAFT_CPUS (default nproc), SPARK_GRAFT_REPS (2).
  *
  * The exact all-pairs baselines q51/q86 are EXCLUDED by design: they
  * are quadratic on purpose (the honesty arms for the LSH/blocked scale
  * paths q90/q85/q133) and the sweep exists to check everything else
  * is not.
  */
object ScaleSweep {

  /** The heavy tail — the operators whose 100 TB behavior matters most
    * (VERDICT r13 "Next round" #1), in SparkEntry.queries key form. */
  val heavy: Seq[String] = Seq(
    "q90_neardup_lsh_verify", "q95_dedup_clusters",
    "q112_dedup_clusters_stars", "q127_corpus_filter",
    "q135_incremental_dedup", "q138_kmeans", "q139_semdedup",
    "q147_incremental_cc", "q156_cvar_rolling", "q185_dup_spans",
    "q186_span_strip", "q190_bpe_vocab", "q191_bpe_tokens",
    "q202_textrank",
    // the strip->recensus remedy gate (r17): composition of two
    // on-ladder stages; added so its own exponent is measured rather
    // than argued from its parts (first full-rung entries land in r18's
    // artifacts; r17 NOTES carries one-off probe exponents)
    "q216_strip_recensus",
    // the DESIGNATED corpus-scale semantic routes (every SemDeDup horn
    // discussion points here) — on the ladder since r15 so the claim
    // carries measured exponents, not an argument
    "q85_ann_ivf", "q133_lsh_embed_neardup")

  /** Structural rung ceilings — an arm whose complexity CLASS is pinned
    * at a lower rung stops there in the declaration, not via a per-run
    * env var, and the artifact's `skipped` map records the reason and
    * where the evidence lives (the project's no-silent-caps rule applied
    * to the sweep itself; VERDICT r15 What's-wrong #1). */
  val maxScaleOf: Map[String, Int] = Map("q133_lsh_embed_neardup" -> 30)

  val rungReason: Map[String, String] = Map(
    "q133_lsh_embed_neardup" ->
      ("fixed-8-bit sign-LSH candidate volume is n^2/2^bits (labeled " +
        "quadratic class, CorpusQueries q133): the 30x rung pins the " +
        "exponent (~1.49, ~105 s); the next decade is ~11x that work " +
        "for no new information"))

  val excluded: Map[String, String] = Map(
    "q51_ngram_jaccard" -> ("exact all-pairs Jaccard baseline - " +
      "quadratic by design; q90 LSH is the scale arm"),
    "q86_cosine_neardup" -> ("exact block-pair cosine baseline - " +
      "quadratic by design; q85 (top-k) is the bounded-output scale " +
      "arm, q133 the 2^bits-discounted scorer (on the ladder, labeled)"))

  // ---- generators (same family as the driver testdata, measured) ----

  def genDocuments(spark: SparkSession, n: Long, vocab: Seq[String]): DataFrame = {
    val v = typedlit(vocab)
    val nv = vocab.length
    val langs = typedlit(Seq.fill(8)("en") ++ Seq.fill(3)("zh") ++
      Seq.fill(3)("es") ++ Seq.fill(3)("fr") ++ Seq.fill(3)("de"))
    spark.range(n).toDF("id")
      .select(col("id").as("doc_id"),
        // exact dups ~1/625 copy the previous doc; near-dups ~1/100
        // regenerate doc-2's text truncated by 3 tokens (high-overlap
        // shingles -> real LSH candidate load)
        when(pmod(col("id"), lit(625)) === 3 && col("id") >= 1, col("id") - 1)
          .when(pmod(col("id"), lit(100)) === 7 && col("id") >= 2, col("id") - 2)
          .otherwise(col("id")).as("seed"),
        when(pmod(col("id"), lit(100)) === 7, lit(3)).otherwise(lit(0)).as("trunc"))
      .select(col("doc_id"), col("seed"), col("trunc"),
        (pmod(hash(col("seed"), lit(1)), lit(91)) + lit(10)).as("len"))
      .select(col("doc_id"),
        array_join(transform(
          sequence(lit(0), col("len") - 1 - col("trunc")),
          i => element_at(v, pmod(hash(col("seed"), i), lit(nv)) + 1)), " ")
          .as("text"))
      .select(col("doc_id"), col("text"),
        element_at(langs, pmod(hash(col("doc_id"), lit(77)), lit(20)) + 1)
          .as("lang"),
        concat(lit("src"), pmod(hash(col("doc_id"), lit(99)), lit(20)))
          .as("source"),
        length(col("text")).cast("long").as("n_chars"))
  }

  /** Faithful to the MEASURED driver family (r15; SchemaGuardSpec pins
    * it): UNIT-NORM near-isotropic vectors with a FAINT label signal —
    * center norm ≈ 0.07 against per-dim noise std ≈ 0.125, so in-cluster
    * mean cosine ≈ 0.001 and the 0.45 cosine gate passes ~5e-4 of
    * in-cluster pairs. The v2 generator had the ratio INVERTED (center
    * ±0.3 vs noise ±0.1): on that family ~95% of ALL pairs passed 0.45
    * and q133's 10× output was 190M rows — a property of the family,
    * not of scale. Cosine-gated operators' output volume is a function
    * of the corpus's cosine GEOMETRY, not just its row count, so the
    * sweep is only evidence if the geometry matches. */
  def genEmbeddings(spark: SparkSession, n: Long): DataFrame = {
    val centers: Seq[Seq[Double]] = (0 until 10).map(c => (0 until 64).map { d =>
      (Math.floorMod((c * 64 + d) * 2654435761L, 601L) - 300L) / 20000.0
    })
    val cLit = typedlit(centers)
    spark.range(n).toDF("id")
      .select(col("id").as("vec_id"),
        pmod(hash(col("id"), lit(3)), lit(10)).as("label"))
      .select(col("vec_id"), col("label"),
        transform(sequence(lit(0), lit(63)), d =>
          element_at(element_at(cLit, col("label") + 1), d + 1) +
            (pmod(hash(col("vec_id"), d), lit(433)) - lit(216)) / lit(1000.0))
          .as("raw"))
      .select(col("vec_id"),
        expr("transform(raw, x -> cast(x / sqrt(aggregate(raw, 0.0D, " +
          "(a, v) -> a + v * v)) as float))").as("embedding"),
        col("label").cast("int").as("label"))
  }

  /** The recall dial's adversarial family (see the boundary arm in
    * main): G docs per group = one shared B-token boilerplate block +
    * T hash-unique tail tokens. Token "b{g}x{i}" is group-g boilerplate
    * position i; tail tokens draw from a 2^31 hash space, so two docs
    * sharing a 3-gram shingle outside the block is birthday-improbable.
    * Within-group jaccard (B-2)/(B+2T-2); all-boilerplate band
    * probability f⁴ with f = (B-2)/(B+T-2). Deterministic — hash
    * arithmetic, no RNG state — same documents schema as the testdata.
    *
    * `sharedTailFrac` (ρ) generates the MIXED-ROUTING variant between
    * the all-or-nothing boundary (ρ=0, every collision through the one
    * hot bucket) and a benign corpus: each group splits into subgroups
    * of size max(2, round(ρ·G)), and each doc's tail leads with
    * round(ρ·T) subgroup-shared tokens ("s{g}q{sub}x{i}") before its
    * unique remainder. Same-subgroup pairs then share the B+ρT-token
    * prefix, so a band whose 4 minhash rows land in that prefix but not
    * all in the boilerplate routes through a bucket only the subgroup
    * (≤ round(ρ·G) docs) can populate — a LOW-population route for a
    * ρ-controlled slice (≈ (M−1)/(G−1)) of the true pairs, while
    * cross-subgroup pairs keep jaccard (B-2)/(B+2T-2) and still route
    * only through the hot all-boilerplate bucket. ρ=0 reproduces the
    * base family byte-identically. */
  def genAdversarialDocs(spark: SparkSession, groups: Int, groupSize: Int,
      boilTokens: Int, tailTokens: Int,
      sharedTailFrac: Double = 0.0): DataFrame = {
    val sharedT = math.round(sharedTailFrac * tailTokens).toInt
    val subSize = math.max(2, math.round(sharedTailFrac * groupSize).toInt)
    val boil = array_join(transform(sequence(lit(0), lit(boilTokens - 1)),
      i => concat(lit("b"), col("g"), lit("x"), i)), " ")
    val uniq = array_join(transform(
      sequence(lit(0), lit(tailTokens - sharedT - 1)),
      i => concat(lit("u"), abs(hash(col("doc_id"), i)))), " ")
    val text =
      if (sharedT == 0) concat(boil, lit(" "), uniq)
      else concat(boil, lit(" "),
        array_join(transform(sequence(lit(0), lit(sharedT - 1)),
          i => concat(lit("s"), col("g"), lit("q"), col("sub"), lit("x"), i)),
          " "),
        lit(" "), uniq)
    spark.range(groups.toLong * groupSize).toDF("id")
      .select(col("id").as("doc_id"), pmod(col("id"), lit(groups)).as("g"),
        (expr(s"id DIV $groups") / subSize).cast("long").as("sub"))
      .select(col("doc_id"), text.as("text"))
      .select(col("doc_id"), col("text"), lit("en").as("lang"),
        concat(lit("src"), pmod(col("doc_id"), lit(20))).as("source"),
        length(col("text")).cast("long").as("n_chars"))
  }

  def genEvents(spark: SparkSession, n: Long, nUsers: Long): DataFrame = {
    val spanUs = 2592000000000L // 30 days
    val baseUs = 1704067200000000L // 2024-01-01
    val types = typedlit(Seq("click", "view", "purchase", "signup", "error"))
    spark.range(n).toDF("id")
      .select(col("id").as("event_id"),
        timestamp_micros(lit(baseUs) +
          pmod(hash(col("id"), lit(11)).cast("long") * 1000003L, lit(spanUs)))
          .as("ts"),
        pmod(hash(col("id"), lit(5)), lit(nUsers)).cast("long").as("user_id"),
        element_at(types, pmod(hash(col("id"), lit(7)), lit(5)) + 1)
          .as("event_type"),
        (pmod(hash(col("id"), lit(13)), lit(56022)) / lit(100.0)).as("value"),
        concat(lit("{\"k\": "), pmod(hash(col("id"), lit(17)), lit(100)),
          lit("}")).as("props"))
  }

  /** Bump when any generator above changes shape — part of the dataset
    * fingerprint, so a stale scratch dir regenerates instead of silently
    * mislabeling the committed scaling artifact. */
  private val genVersion = 3

  def ensureScaled(spark: SparkSession, base: String, scratch: String,
      scale: Int): Unit = {
    val vocab = graft.Tables.load(spark, base, "documents")
      .select(explode(split(col("text"), " ")).as("t"))
      .where(col("t") =!= "").distinct()
      .orderBy("t").collect().map(_.getString(0)).toSeq
    val nDocs = graft.Tables.load(spark, base, "documents").count() * scale
    val nEmb = graft.Tables.load(spark, base, "embeddings").count() * scale
    val ev = graft.Tables.load(spark, base, "events")
    val nEvents = ev.count() * scale
    val nUsers = ev.select(countDistinct(col("user_id"))).head().getLong(0) * scale
    // fingerprint = everything the generated bytes depend on: generator
    // version, scale, the measured base counts, and the vocab itself —
    // a generator edit OR a driver testdata regeneration both miss it
    val fp = s"v$genVersion scale=$scale docs=$nDocs emb=$nEmb " +
      s"events=$nEvents users=$nUsers vocab=${vocab.mkString(",").hashCode}"
    val fpPath = Paths.get(s"$scratch/_FINGERPRINT")
    if (Files.exists(fpPath) &&
      new String(Files.readAllBytes(fpPath), "UTF-8") == fp &&
      Files.exists(Paths.get(s"$scratch/events.parquet/_SUCCESS"))) return
    System.err.println(s"[scale] generating $scratch: docs=$nDocs " +
      s"emb=$nEmb events=$nEvents users=$nUsers vocab=${vocab.length}")
    genDocuments(spark, nDocs, vocab).coalesce(8)
      .write.mode("overwrite").parquet(s"$scratch/documents.parquet")
    genEmbeddings(spark, nEmb).coalesce(4)
      .write.mode("overwrite").parquet(s"$scratch/embeddings.parquet")
    genEvents(spark, nEvents, nUsers).coalesce(8)
      .write.mode("overwrite").parquet(s"$scratch/events.parquet")
    Files.write(fpPath, fp.getBytes("UTF-8")): Unit
  }

  // ---- sweep ----

  def main(args: Array[String]): Unit = {
    val base = args.lift(0).getOrElse("/root/testdata/sf0.1")
    val outJson = args.lift(1).getOrElse("SCALING_r14.json")
    val scale = args.lift(2).map(_.toInt).getOrElse(10)
    val scratch = sys.env.getOrElse("SPARK_GRAFT_SCALE_DIR", "/tmp/graft_scale10")
    val reps = graft.GraftSession.positiveInt("SPARK_GRAFT_REPS", 2)
    val spark = graft.GraftSession.local()

    ensureScaled(spark, base, scratch, scale)

    def fmt(v: Double): String = "%.3f".formatLocal(java.util.Locale.ROOT, v)
    def rmTree(d: String): Unit = {
      val p = Paths.get(d)
      if (Files.exists(p))
        Files.walk(p).sorted(java.util.Comparator.reverseOrder())
          .forEach(f => Files.deleteIfExists(f): Unit)
    }
    def execOn(name: String, dir: String): Unit =
      graft.SparkEntry.queries(name)(spark, dir)
        .write.format("noop").mode("overwrite").save()
    import graft.GraftSession.clock
    def calib(): Double = clock(graft.GraftSession.calibJob(spark))

    // Two skip channels, BOTH self-recorded in the artifact's `skipped`
    // map (name -> reason + evidence) so a reader of the JSON alone can
    // tell "skipped, evidence at a lower rung" from "never measured":
    //  - structural: maxScaleOf rung ceilings (the normal path);
    //  - SPARK_GRAFT_SKIP: a manual per-run override, for emergencies.
    val envSkip: Set[String] =
      sys.env.getOrElse("SPARK_GRAFT_SKIP", "")
        .split(",").map(_.trim).filter(_.nonEmpty).toSet
    val structSkip: Seq[String] =
      heavy.filter(q => maxScaleOf.getOrElse(q, Int.MaxValue) < scale)
    val skip: Set[String] = envSkip ++ structSkip
    val heavyRun = heavy.filterNot(skip)
    if (skip.nonEmpty)
      System.err.println(s"[scale] skipping: ${skip.mkString(", ")} " +
        s"(structural: ${structSkip.mkString(",")}; env: ${envSkip.mkString(",")})")
    val skippedJson: String = (
      structSkip.map { q =>
        s""""$q": {"reason": "${rungReason.getOrElse(q,
            s"rung ceiling ${maxScaleOf(q)}x")}", """ +
          s""""evidence": "this round's scale=${maxScaleOf(q)} artifact """ +
          s"""(the arm runs at every rung up to its ceiling)"}"""
      } ++ envSkip.diff(structSkip.toSet).toSeq.sorted.map { q =>
        // an arm both under its structural ceiling AND env-skipped must
        // not emit two JSON entries under the same key (last-wins in most
        // parsers would shadow the structural reason) — the structural
        // channel owns the key, the env channel covers the rest
        s""""$q": {"reason": "manual SPARK_GRAFT_SKIP override for this run", """ +
          """"evidence": "the invoking round's NOTES must state why"}"""
      }).mkString(",\n  ")

    // JIT/codegen warm-up at sf0.001, then footer warm-up on both dirs
    heavyRun.foreach { q =>
      try execOn(q, "/root/testdata/sf0.001")
      catch { case t: Throwable => System.err.println(s"[scale] warm $q: $t") }
    }
    Seq(base, scratch).foreach { d =>
      Seq("documents", "embeddings", "events").foreach { t =>
        try graft.Tables.load(spark, d, t).count(): Unit
        catch { case _: Throwable => () }
      }
    }

    val calib0 = calib()
    val tBase = scala.collection.mutable.Map.empty[String, Double]
    val tBig = scala.collection.mutable.Map.empty[String, Double]
    def record(m: scala.collection.mutable.Map[String, Double],
        name: String, v: Double): Unit =
      m(name) = math.min(m.getOrElse(name, Double.MaxValue), v)
    // Shot policy (VERDICT r15 What's-wrong #2): BASE shots are always
    // min-of-2 even on reps=1 rungs — they cost sf0.1-seconds each, and
    // a single contended base shot deflates the exponent enough to fire
    // a false drift flag (r15's q147: one 26.6 s base against a 7.5 s
    // operator read Δ −0.228 with no code change). Scaled shots keep
    // the configured reps: at 30×/100× their absolute times make one-off
    // scheduler contention proportionally small.
    val repsBase = math.max(2, reps)
    (1 to math.max(repsBase, reps)).foreach { rep =>
      heavyRun.foreach { q =>
        // the BPE memo must not amortize across timed arms (Bench rule)
        if (rep <= repsBase) {
          graft.ml.BpeTrainer.clearSegMemo()
          try record(tBase, q, clock(execOn(q, base)))
          catch { case t: Throwable =>
            System.err.println(s"[scale] $q@base FAILED: $t") }
        }
        if (rep <= reps) {
          graft.ml.BpeTrainer.clearSegMemo()
          try record(tBig, q, clock(execOn(q, scratch)))
          catch { case t: Throwable =>
            System.err.println(s"[scale] $q@10x FAILED: $t") }
        }
        System.err.println(f"[scale] rep $rep $q: " +
          f"base ${tBase.getOrElse(q, -1.0)}%.2f s, " +
          f"${scale}x ${tBig.getOrElse(q, -1.0)}%.2f s")
      }
    }
    // Big-shot stabilizer: single-shot scaled measurements carry
    // warm-up/IO noise — r16's q90@100× read 42.5 / 81.4 / 26.8 / 26.3 s
    // across four shots in ONE JVM on an identical static plan, so a
    // reps=1 first shot is a lottery that the drift columns then
    // compare round over round. On reps=1 rungs, arms whose first
    // scaled shot lands under `stabilizeBelow` take ONE more shot (min
    // recorded): ~+5 min at 100×. Arms above the bar (q139's ~500 s
    // horn) stay single-shot — their relative warm-up noise is small,
    // and doubling them would double the rung's wall clock.
    val stabilizeBelow = 60.0
    if (reps == 1) heavyRun.foreach { q =>
      if (tBig.get(q).exists(_ < stabilizeBelow)) {
        graft.ml.BpeTrainer.clearSegMemo()
        try {
          record(tBig, q, clock(execOn(q, scratch)))
          System.err.println(f"[scale] stabilize $q: ${scale}x now ${tBig(q)}%.2f s")
        } catch { case t: Throwable =>
          System.err.println(s"[scale] $q@stabilize FAILED: $t") }
      }
    }

    // streaming corpus operators at both scales: md5-shuffled docs in 20
    // micro-batches (the Bench ss_* drain, parameterized by dir)
    def drain(dir: String, nd: Boolean): Double = {
      import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
      import graft.streaming.{CorpusStream, NearDupStream}
      import spark.implicits._
      implicit val sqlCtx = spark.sqlContext
      val rows = graft.Tables.load(spark, dir, "documents")
        .select(col("doc_id"), col("text"), col("lang"), col("source"))
        .orderBy(md5(col("doc_id").cast("string")))
        .as[(Long, String, String, String)].collect()
      val batches = rows.grouped(math.max(1, rows.length / 20)).toSeq
      if (nd) {
        val in = MemoryStream[NearDupStream.Doc]
        val q = NearDupStream.candidates(in.toDS())
          .writeStream.outputMode("append").format("noop").start()
        try clock(batches.foreach { b =>
          in.addData(b.map(r => NearDupStream.Doc(r._1, r._2)))
          q.processAllAvailable()
        }) finally q.stop()
      } else {
        val in = MemoryStream[CorpusStream.Doc]
        val q = CorpusStream.ingest(in.toDS())
          .writeStream.outputMode("append").format("noop").start()
        try clock(batches.foreach { b =>
          in.addData(b.map(r => CorpusStream.Doc(r._1, r._2, r._3, r._4)))
          q.processAllAvailable()
        }) finally q.stop()
      }
    }
    Seq(("ss_corpus", false), ("ss_neardup", true)).foreach { case (n, nd) =>
      try {
        record(tBase, n, drain(base, nd))
        record(tBig, n, drain(scratch, nd))
        System.err.println(f"[scale] $n: base ${tBase(n)}%.2f s, " +
          f"${scale}x ${tBig(n)}%.2f s")
      } catch { case t: Throwable =>
        System.err.println(s"[scale] $n FAILED: $t") }
    }

    // SemDeDup's scale knob, measured: q139's fixed k=8 makes the
    // within-cluster pair term grow quadratically with data (its
    // exponent is the sweep's steepest); the production answer is
    // k ∝ n (bounded cluster size). This arm runs the SAME operator
    // with k scaled by the data factor — its exponent should fall back
    // toward the linear pack.
    try {
      def semK(dir: String, k: Int): Unit =
        graft.ml.SemDeDup.prune(
          graft.Tables.load(spark, dir, "embeddings"), k = k, updates = 2)
          .write.format("noop").mode("overwrite").save()
      // warm BOTH assignment paths: k=8 exercises the expression form,
      // k=17 (just past the threshold) the broadcast kernel — otherwise
      // the timed k=80 arm pays the kernel's first-ever JIT/codegen
      semK(base, 8)
      semK(base, 17)
      // base shots min-of-2 here too (same false-drift-flag rationale)
      record(tBase, "semdedup_k_scaled", clock(semK(base, 8)))
      record(tBase, "semdedup_k_scaled", clock(semK(base, 8)))
      record(tBig, "semdedup_k_scaled", clock(semK(scratch, 8 * scale)))
      if (reps == 1 && tBig("semdedup_k_scaled") < stabilizeBelow)
        record(tBig, "semdedup_k_scaled", clock(semK(scratch, 8 * scale)))
      System.err.println(
        f"[scale] semdedup_k_scaled: base(k=8) ${tBase("semdedup_k_scaled")}%.2f s, " +
          f"${scale}x(k=${8 * scale}) ${tBig("semdedup_k_scaled")}%.2f s")
      // the BALANCED posture (the q214 gate's k = balancedK(n) ≈ √n):
      // measured third arm between the two horns — fixed-k (pair term
      // superlinear) and k ∝ n (assignment term superlinear). Its
      // cumulative exponent at 30×/100× is CHECKED ≤ 1.30 below
      // (`checks.balanced_exponent`): the √n claim is now a measured
      // obligation, not a comment.
      def nEmb(dir: String): Long =
        graft.Tables.load(spark, dir, "embeddings").count()
      // NOTE (ladder-vs-bench comparability): this arm clocks prune()
      // with k PRE-derived from an untimed count(), while the q214 gate
      // times balancedK(emb.count()) inside the query — the gate's bench
      // second includes one count action this exponent does not. The
      // ladder measures the prune's scaling; don't read the two as
      // like-for-like absolute times.
      val kBase = graft.ml.SemDeDup.balancedK(nEmb(base))
      val kBig = graft.ml.SemDeDup.balancedK(nEmb(scratch))
      record(tBase, "semdedup_k_balanced", clock(semK(base, kBase)))
      record(tBase, "semdedup_k_balanced", clock(semK(base, kBase)))
      record(tBig, "semdedup_k_balanced", clock(semK(scratch, kBig)))
      if (reps == 1 && tBig("semdedup_k_balanced") < stabilizeBelow)
        record(tBig, "semdedup_k_balanced", clock(semK(scratch, kBig)))
      System.err.println(
        f"[scale] semdedup_k_balanced: base(k=$kBase) " +
          f"${tBase("semdedup_k_balanced")}%.2f s, " +
          f"${scale}x(k=$kBig) ${tBig("semdedup_k_balanced")}%.2f s")
    } catch { case t: Throwable =>
      System.err.println(s"[scale] semdedup balanced/scaled FAILED: $t") }

    // ---- streaming near-dup RECALL vs maxBucket (the one scale claim
    // that rested on design argument): drain the SAME corpus through
    // NearDupStream at each cap, then measure its distinct pair set
    // against the batch ground truth — candidates = q52's band-collision
    // set (what an uncapped stream provably equals), verified = q90's
    // jaccard ≥ 0.5 set (the operator contract: a candidate dropped by
    // the cap only matters if it would have VERIFIED). Bucket census
    // (state rows, saturated buckets, membership drops per cap) comes
    // from the same bandKeys in batch — deterministic, order-free.
    // Disable with SPARK_GRAFT_RECALL=0; caps via SPARK_GRAFT_RECALL_CAPS.
    val recallCaps: Seq[Int] =
      sys.env.getOrElse("SPARK_GRAFT_RECALL_CAPS", "16,64,256")
        .split(",").map(_.trim).filter(_.nonEmpty).map(_.toInt).toSeq
    val recallOn = !sys.env.get("SPARK_GRAFT_RECALL").contains("0")
    // emitRec (family arms only — they exist only at the 10x rung):
    // record what recommendCap prescribes from this corpus's census
    // beside the measured recall-vs-cap curve — AND (since r19) RUN the
    // prescribed caps as tested caps, so the helper's central claim
    // ("cap here and you keep the target pair mass") is measured in the
    // same artifact, not predicted beside it (VERDICT r18 Next #1: the
    // r18 ρ=0 prescription 395 sat above the largest tested cap 256 and
    // its recall was only inferable). kept_pair_frac_* records the TRUE
    // dial value at each prescription (recommendCap's quantile is
    // conservative — hot buckets still emit their first cap members'
    // pairs; ADVICE r18).
    def recallArm(dir: String, label: String,
        emitRec: Boolean = false): String = try {
          import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
          import graft.streaming.NearDupStream
          import spark.implicits._
          implicit val sqlCtx = spark.sqlContext
          val cand = graft.SparkEntry
            .queries("q52_minhash_lsh")(spark, dir).persist()
          val nCand = cand.count()
          val verified = graft.SparkEntry
            .queries("q90_neardup_lsh_verify")(spark, dir)
            .select(col("da"), col("db")).persist()
          val nVer = verified.count()
          val docs = graft.Tables.load(spark, dir, "documents")
          val buckets = NearDupStream.bucketCensus(
            docs.select(col("doc_id"), col("text")).as[(Long, String)]
              .map { case (id, t) => NearDupStream.Doc(id, t) }).persist()
          val nBuckets = buckets.count()
          // one driver-side census reduction feeds all four questions
          // (two prescriptions + two exact dial values) — not four
          // collect jobs over the same persisted census
          val byM: Option[Array[(Long, Long)]] =
            if (!emitRec) None else Some(NearDupStream.censusByM(buckets))
          val recCaps: Option[(Int, Int)] = byM.map(b =>
            (NearDupStream.recommendCap(b, 1.0),
              NearDupStream.recommendCap(b, 0.5)))
          val testedCaps = (recallCaps ++
            recCaps.toSeq.flatMap { case (f, h) => Seq(f, h) })
            .distinct.sorted
          val rows = docs.select(col("doc_id"), col("text"))
            .orderBy(md5(col("doc_id").cast("string")))
            .as[(Long, String)].collect()
          val batches = rows.grouped(math.max(1, rows.length / 20)).toSeq
          val capEntries = testedCaps.map { cap =>
            val censusRow = buckets.agg(
              sum(greatest(col("m") - cap, lit(0L))).as("drops"),
              sum(when(col("m") > cap, 1L).otherwise(0L)).as("sat")).head()
            val (drops, sat) = (censusRow.getLong(0), censusRow.getLong(1))
            val outPath = s"$scratch/_recall_${label}_$cap"
            val ckpt = s"$outPath.ckpt"
            val in = MemoryStream[NearDupStream.Doc]
            val q = NearDupStream.candidates(in.toDS(), maxBucket = cap)
              .writeStream.outputMode("append").format("parquet")
              .option("path", outPath)
              .option("checkpointLocation", ckpt).start()
            val tDrain =
              try clock(batches.foreach { b =>
                in.addData(b.map(r => NearDupStream.Doc(r._1, r._2)))
                q.processAllAvailable()
              }) finally q.stop()
            val streamed = spark.read.parquet(outPath)
              .select(col("da"), col("db")).distinct().persist()
            val nS = streamed.count()
            val hitCand = streamed.join(cand, Seq("da", "db")).count()
            val hitVer = streamed.join(verified, Seq("da", "db")).count()
            streamed.unpersist()
            Seq(outPath, ckpt).foreach(d =>
              try rmTree(d) catch { case _: Throwable => () })
            System.err.println(f"[scale] recall $label cap=$cap: " +
              f"drain $tDrain%.1f s, pairs $nS, cand $hitCand/$nCand, " +
              f"verified $hitVer/$nVer, sat $sat, drops $drops")
            s""""$cap": {"t_drain": ${fmt(tDrain)}, "pairs": $nS, """ +
              s""""recall_cand": ${fmt(hitCand.toDouble / math.max(1, nCand))}, """ +
              s""""recall_verified": ${fmt(hitVer.toDouble / math.max(1, nVer))}, """ +
              s""""buckets_saturated": $sat, "dropped_memberships": $drops}"""
          }
          val recJson = recCaps.map { case (f, h) =>
            val b = byM.get
            s""""recommended_cap_full": $f, "recommended_cap_half": $h, """ +
              s""""kept_pair_frac_full": ${
                fmt(NearDupStream.keptPairFrac(b, f))}, """ +
              s""""kept_pair_frac_half": ${
                fmt(NearDupStream.keptPairFrac(b, h))}, """
          }.getOrElse("")
          cand.unpersist(); verified.unpersist(); buckets.unpersist()
          s""""$label": {"n_docs": ${rows.length}, "n_cand": $nCand, """ +
            s""""n_verified": $nVer, "state_buckets": $nBuckets, $recJson"caps": {""" +
            capEntries.mkString(", ") + "}}"
        } catch { case t: Throwable =>
          System.err.println(s"[scale] recall $label FAILED: $t")
          s""""$label": {"failed": "${t.getClass.getSimpleName}"}"""
        }
    val recallJson: String =
      if (!recallOn) ""
      else {
        val parts = Seq(recallArm(base, "base"),
          recallArm(scratch, s"${scale}x"))
        s""","neardup_recall": {${parts.mkString(", ")}}"""
      }

    // ---- the recall dial's FAILURE boundary (VERDICT r15 Next #1):
    // the happy-path measurement above shows recall_verified = 1.000 on
    // the driver-faithful family because its saturated buckets hold only
    // pairs that fail verification. This arm constructs the family the
    // NearDupStream scaladoc names as the boundary — every TRUE near-dup
    // pair routes ONLY through saturated buckets — and measures the
    // recall-vs-cap degradation curve on it. Family: G docs per group
    // share a B-token boilerplate block; tails are T hash-unique tokens
    // (disjoint across docs), so within-group jaccard = (B-2)/(B+2T-2)
    // ≥ 0.5 (every within-group pair is a true near-dup) while two docs'
    // band keys can only match when all 4 of the band's minhash rows
    // land in the SHARED block in both docs — every collision routes
    // through the one all-boilerplate bucket per (band, group), whose
    // population ≈ f⁴·G (f = (B-2)/(B+T-2)). The curve is measured once
    // per round (the 10× invocation — it does not depend on the rung);
    // override with SPARK_GRAFT_ADV=1/0.
    val advOn = recallOn && sys.env.getOrElse("SPARK_GRAFT_ADV",
      if (scale == 10) "1" else "0") == "1"
    val (advGroups, advGroupSize, advBoilT, advTailT) = (3, 500, 200, 50)
    def advArm(rho: Double, label: String): String = {
      val advDir =
        if (rho == 0.0) s"$scratch/_adv"
        else s"$scratch/_advm${math.round(rho * 100)}"
      genAdversarialDocs(spark, advGroups, advGroupSize, advBoilT, advTailT,
        rho).coalesce(1).write.mode("overwrite")
        .parquet(s"$advDir/documents.parquet")
      val a = recallArm(advDir, label, emitRec = true)
      // scratch hygiene: the adversarial data is regenerated per run
      // (cheap, 1.5k docs) — leaving it would accumulate stale datasets
      // in the persistent scale dir, unlike the fingerprinted main cache
      try rmTree(advDir) catch { case _: Throwable => () }
      a
    }
    val advJson: String =
      if (!advOn) ""
      else {
        val a = advArm(0.0, "adversarial")
        s""","neardup_recall_adversarial": {"family": {"groups": $advGroups, """ +
          s""""group_size": $advGroupSize, "boil_tokens": $advBoilT, """ +
          s""""tail_tokens": $advTailT, "within_group_jaccard": """ +
          s"""${fmt((advBoilT - 2).toDouble / (advBoilT + 2 * advTailT - 2))}, """ +
          """"note": "every within-group pair is a true near-dup (jaccard >= 0.5 via the shared boilerplate block) whose band collisions route ONLY through the one all-boilerplate bucket per (band, group) - the family NearDupStream's scaladoc names as the dial's failure boundary; recall recovers when the cap exceeds the hot-bucket population, which bucketCensus measures per-corpus"}, """ +
          a + "}"
      }
    // The MIXED-ROUTING points on the boundary (VERDICT r16 Next #4):
    // real corpora sit between the all-or-nothing family (every true-dup
    // collision through the hot bucket) and the benign driver family
    // (none). ρ splits each group into subgroups of round(ρ·G) docs
    // sharing round(ρ·T) leading tail tokens: same-subgroup pairs gain a
    // LOW-population collision route (bucket ≤ subgroup size) while
    // cross-subgroup pairs still route only through the hot bucket — so
    // verified recall at intermediate caps measures the ONSET of
    // degradation, not just its endpoints.
    val advMixedJson: String =
      if (!advOn) ""
      else {
        val parts = Seq(0.1, 0.3).map { rho =>
          val sharedT = math.round(rho * advTailT).toInt
          val subSize = math.max(2, math.round(rho * advGroupSize).toInt)
          val jWithin = (advBoilT + sharedT - 2).toDouble /
            (advBoilT + 2 * advTailT - sharedT - 2)
          val jCross = (advBoilT - 2).toDouble / (advBoilT + 2 * advTailT - 2)
          // exact low-route fraction over the ACTUAL subgroup partition:
          // the generator floors doc index / subSize, so when subSize
          // does not divide G the last subgroup is ragged (G mod
          // subSize) and (subSize-1)/(G-1) overstates the fraction —
          // e.g. ρ=0.3, G=500 splits 150/150/150/50, fraction 0.279
          // not 0.299 (ADVICE r17)
          def c2(m: Long): Long = m * (m - 1) / 2
          val fullSubs = advGroupSize / subSize
          val ragged = advGroupSize % subSize
          val lowFrac = (fullSubs * c2(subSize.toLong) + c2(ragged.toLong))
            .toDouble / c2(advGroupSize.toLong)
          val a = advArm(rho, s"adv_mixed_${math.round(rho * 100)}")
          s""""rho_${fmt(rho)}": {"family": {"rho": ${fmt(rho)}, """ +
            s""""subgroup_size": $subSize, """ +
            s""""last_subgroup_size": ${if (ragged == 0) subSize else ragged}, """ +
            s""""shared_tail_tokens": $sharedT, """ +
            s""""within_subgroup_jaccard": ${fmt(jWithin)}, """ +
            s""""cross_subgroup_jaccard": ${fmt(jCross)}, """ +
            s""""true_pair_frac_with_low_route": ${fmt(lowFrac)}}, """ +
            a + "}"
        }
        s""","neardup_recall_adversarial_mixed": {${parts.mkString(", ")}}"""
      }
    val calib1 = calib()

    // Optional 4th arg: the PREVIOUS round's artifact at the same scale;
    // each entry then carries exponent_prev/delta and |Δ| > 0.15 on a
    // non-streaming-soak entry is flagged in `drift` — superlinear creep
    // becomes mechanically visible round over round instead of depending
    // on a judge re-deriving exponents by hand.
    val (prevExp, driftStatus): (Map[String, Double], String) =
      args.lift(3) match {
        case Some(p) if Files.exists(Paths.get(p)) =>
          // exponent may be followed by exponent_prev/delta fields in
          // artifacts this very feature writes — don't anchor on `}`
          val parsed =
            """"([A-Za-z0-9_]+)": \{"t_base[^}]*?"exponent": (-?[0-9.]+)[,}]""".r
              .findAllMatchIn(new String(Files.readAllBytes(Paths.get(p)), "UTF-8"))
              .map(m => m.group(1) -> m.group(2).toDouble).toMap
          // fail LOUD on a format drift, on stderr AND in the artifact:
          // a prev artifact that yields zero exponents silently disables
          // drift flagging, and an empty drift_vs_prev_flagged map alone
          // is indistinguishable from "no drift" to a JSON-only reader
          if (parsed.isEmpty) {
            System.err.println(s"[scale] WARNING: prev artifact $p parsed " +
              "ZERO exponents — format drift? drift flagging is OFF this run")
            (parsed, "prev_artifact_parsed_zero_exponents_FLAGGING_OFF")
          } else (parsed, "ok")
        case Some(p) =>
          System.err.println(s"[scale] prev artifact $p not found; no deltas")
          (Map.empty, "prev_artifact_not_found_FLAGGING_OFF")
        case None => (Map.empty, "no_prev_artifact_given")
      }
    def expOf(n: String): Double =
      math.log(tBig(n) / tBase(n)) / math.log(scale.toDouble)
    val names = (heavy ++ Seq("ss_corpus", "ss_neardup",
      "semdedup_k_scaled", "semdedup_k_balanced"))
      .filter(n => tBase.contains(n) && tBig.contains(n))
    // An exponent whose base shot is a few seconds at a low rung is
    // scheduling-noise, not signal (r16's q90, r18's q216: same-code 10×
    // reads spread 2× at ~4 s absolute while the 30×/100× rungs agreed
    // within 0.03) — mark those rungs IN the artifact so a JSON-only
    // reader knows which exponents are load-bearing, and exclude them
    // from drift flagging by stated policy (VERDICT r18 Next #4).
    def overheadDominated(n: String): Boolean = tBase(n) < 5.0 && scale < 30
    val entries = names.map { n =>
      val r = tBig(n) / tBase(n)
      val e = expOf(n)
      val delta = prevExp.get(n)
        .map(pe => s""", "exponent_prev": ${fmt(pe)}, "delta": ${fmt(e - pe)}""")
        .getOrElse("")
      val od = if (overheadDominated(n)) """, "overhead_dominated": true""" else ""
      s""""$n": {"t_base": ${fmt(tBase(n))}, "t_${scale}x": ${fmt(tBig(n))}, "ratio": ${fmt(r)}, "exponent": ${fmt(e)}$delta$od}"""
    }.mkString(",\n  ")
    val drift = names.filter(n => !n.startsWith("ss_") && !overheadDominated(n))
      .flatMap(n => prevExp.get(n).map(pe => n -> (expOf(n) - pe)))
      .filter { case (_, d) => math.abs(d) > 0.15 }
      .map { case (n, d) => s""""$n": ${fmt(d)}""" }.mkString(", ")
    // the balanced-√n obligation: at 30×/100× the balanced arm's
    // cumulative exponent must sit under ~1.3 (between the measured
    // horns — fixed-k 1.71 marginal, k∝n 1.24 marginal in r14)
    val balancedCheck: String =
      if (!tBig.contains("semdedup_k_balanced")) "\"NOT_RUN\""
      else if (scale < 30) "\"N/A (checked at 30x/100x)\""
      else if (expOf("semdedup_k_balanced") <= 1.30) "\"PASS\""
      else s""""FAIL (${fmt(expOf("semdedup_k_balanced"))} > 1.30)""""
    val excl = excluded.map { case (k, v) => s""""$k": "$v"""" }
      .mkString(",\n  ")
    val json =
      s"""{
         |"metric": "scaling", "base": "$base", "scale": $scale,
         |"reps": $reps, "calib_start": ${fmt(calib0)}, "calib_end": ${fmt(calib1)},
         |"note": "exponent = log(t_${scale}x/t_base)/log($scale); 1.0 = linear in data volume; fixed per-query overhead (scheduling, dim builds, MERGE commit contracts) deflates exponents at these absolute times, so sublinear values mean overhead-dominated, not magic. Entries marked overhead_dominated (t_base < 5 s at scale < 30) carry exponents dominated by that fixed overhead (same-code spread ~2x at ~4 s absolute, r18's q216) and are EXCLUDED from drift_vs_prev_flagged by policy - read their 30x/100x rungs instead",
         |"entries": {
         |  $entries
         |},
         |"drift_status": "$driftStatus",
         |"drift_vs_prev_flagged": {$drift},
         |"skipped": {$skippedJson},
         |"checks": {"balanced_exponent_le_1.30": $balancedCheck}$recallJson$advJson$advMixedJson,
         |"excluded_quadratic_baselines": {
         |  $excl
         |}
         |}""".stripMargin
    Files.writeString(Paths.get(outJson), json)
    println(json)
    spark.stop()
  }
}
