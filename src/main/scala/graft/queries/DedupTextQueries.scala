package graft.queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Training-data-pipeline operators over the `documents` and `embeddings`
  * tables: deduplication end to end (exact q50 · near-dup pairs q51/q90 ·
  * MinHash/LSH q52 · SimHash q53 · embedding pairs q86 · connected-
  * component dedup CLUSTERS q95/q96), text analysis (language-ID q55,
  * quality q56, tokens q57, TF-IDF q97, fingerprint q58), and similarity
  * search (brute-force cosine top-k q54; IVF ANN q85).
  *
  * Scale design notes:
  *  - q90 is the PRIMARY near-dup operator: MinHash/LSH band candidates
  *    (q52's generator) verified with exact Jaccard on the candidate set
  *    only — no shingle×shingle self-join anywhere in its plan. q51
  *    keeps the exact all-pairs semantics as the oracle baseline but is
  *    skew-prone at 100 TB (a hot shingle fans out quadratically); a
  *    large-scale run uses q90.
  *  - q54 broadcasts the query set so the big side is never shuffled.
  *  - Cosine sums are order-fixed (array fold) and rounded to 6 decimals
  *    before compare/rank so engine-side summation order cannot flip the
  *    driver's value hash.
  */
object DedupTextQueries extends QueryModule {

  private val stop = Seq("the", "a", "of", "and", "to", "in", "is")
  private val stopSql = stop.map(s => s"'$s'").mkString(", ")

  /** Distinct 3-gram shingles per document: (doc_id, sh).
    *
    * Perf note (r19, measured): consumers that only need the MinHash
    * signature (q52/q203) pay NO set-dedup shuffle despite the
    * distinct() here — Catalyst's RemoveRedundantAggregates collapses a
    * distinct under a duplicate-insensitive aggregation (the 32 per-doc
    * MINs), so their committed plans carry a single map-side-combined
    * signature exchange already. q90-family consumers genuinely need
    * the set semantics (size/shared-count joins) and share the one
    * distinct exchange. */
  private def shingleSet(s: org.apache.spark.sql.SparkSession,
      dir: String): org.apache.spark.sql.DataFrame = {
    import s.implicits._
    graft.Tables.load(s, dir, "documents")
      .select($"doc_id", split($"text", " ").as("t"))
      .select($"doc_id", explode(expr(
        graft.functions.TextGrams.gramsSql(3)))
        .as("sh")).distinct()
  }

  /** MinHash (32 perms) + LSH banding (8 bands × 4 rows) candidate pairs
    * (da < db) from a (doc_id, sh) shingle set — the 100 TB-safe
    * candidate generator shared by q52 (candidates as the product) and
    * q90 (candidates verified with exact Jaccard). Base hash = low 60
    * bits of md5 (engine-portable → DuckDB-oracled hash-exact). */
  private def lshCandidates(sh: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    val s = sh.sparkSession
    import s.implicits._
    val hashed = sh.withColumn("x", expr(
      "pmod(cast(conv(substring(md5(sh), 18, 15), 16, 10) as bigint), 2147483647L)"))
    // 32 universal-hash permutations h_i = (a_i*x + b_i) mod (2^31-1);
    // x < 2^31 and a_i < 2^21 keep every product < 2^52 (ANSI-safe).
    // The signature is 32 MIN aggregates over ONE shuffle — no 32× row
    // explosion (that costs ~5× wall time at sf0.1).
    val minAggs = (0 until 32).map { i =>
      min(expr(
        s"pmod((40503L * $i + 12345L) * x + 2971215073L * $i + 1L, 2147483647L)"))
        .as(s"mh_$i")
    }
    val sig = hashed.groupBy($"doc_id").agg(minAggs.head, minAggs.tail: _*)
    // 8 bands × 4 rows: the band key is the ':'-joined signature slice
    // (a portable string — avoids engine-specific band hashing)
    val banded = sig.select(($"doc_id" +: (0 until 8).map { b =>
      concat_ws(":",
        (0 until 4).map(r => col(s"mh_${b * 4 + r}")): _*).as(s"band_$b")
    }): _*)
    val bandSig = banded.select($"doc_id", explode(array(
      (0 until 8).map(b => struct(lit(b).as("band"), col(s"band_$b").as("band_key"))): _*))
      .as("bk"))
      .select($"doc_id", $"bk.band".as("band"), $"bk.band_key".as("band_key"))
    bandSig.as("x").join(bandSig.as("y"),
        $"x.band" === $"y.band" && $"x.band_key" === $"y.band_key" &&
          $"x.doc_id" < $"y.doc_id")
      .select($"x.doc_id".as("da"), $"y.doc_id".as("db")).distinct()
  }

  override def queries: Map[String, QFn] = Map(
    // Exact dedup census via content hash (hash-groupBy; one agg pass).
    "q50_dedup_exact" -> ((s, dir) => {
      import s.implicits._
      graft.Tables.load(s, dir, "documents").agg(
        count(lit(1)).as("n_docs"),
        countDistinct(sha2($"text", 256)).as("n_distinct"),
        (count(lit(1)) - countDistinct(sha2($"text", 256))).as("n_exact_dups"))
    }),

    // Near-dup pairs by exact 3-gram-shingle Jaccard ≥ 0.5 — the exact
    // all-pairs BASELINE (q90's LSH+verify is the operative scale path).
    // The shingle self-join's quadratic output on a hot shingle is
    // inherent to exact all-pairs, but the BALANCE isn't: the ADAPTIVE
    // two-sided salted join samples the shingle-frequency histogram
    // first and salts only shingles hot enough to straggle (spread over
    // groups²=64 tasks); unskewed data takes the plain equi-join and
    // skips the blanket 8× replication tax entirely.
    "q51_ngram_jaccard" -> ((s, dir) => {
      import s.implicits._
      val toks = graft.Tables.load(s, dir, "documents")
        .select($"doc_id", split($"text", " ").as("t"))
      val sh = toks.select($"doc_id", explode(expr(
        graft.functions.TextGrams.gramsSql(3)))
        .as("sh")).distinct()
      val sizes = sh.groupBy($"doc_id").agg(count(lit(1)).as("n"))
      // size filter: J(A,B) >= 0.5 requires min(|A|,|B|) >= 0.5*max —
      // prune impossible pairs BEFORE the shared-shingle aggregation
      // (the dropped pairs could never pass the final WHERE)
      val shN = sh.join(broadcast(sizes), "doc_id")
      val a = shN.select($"doc_id".as("da"), $"sh", $"n".as("na"))
      val b = shN.select($"doc_id".as("db"), $"sh", $"n".as("nb"))
      graft.operators.SkewSalt.adaptiveSaltedFactFactJoin(a, b, Seq("sh"),
          selfJoin = true)
        .where($"da" < $"db" && $"na" * 2 >= $"nb" && $"nb" * 2 >= $"na")
        // na/nb are functions of da/db, so adding them to the group key
        // changes nothing — and saves the two size rejoins q51 used to do
        .groupBy($"da", $"db", $"na", $"nb")
        .agg(count(lit(1)).as("shared"))
        .withColumn("jaccard", $"shared".cast("double") / ($"na" + $"nb" - $"shared"))
        .where($"jaccard" >= 0.5)
        .select($"da", $"db", $"jaccard")
    }),

    // MinHash (32 perms) + LSH banding (8 bands × 4 rows): candidate
    // near-dup pairs via band-bucket join — the 100 TB-safe dedup path.
    // Base hash = low 60 bits of md5 (engine-portable, so the full
    // pipeline is DuckDB-oracled hash-exact; xxhash64 was not).
    "q52_minhash_lsh" -> ((s, dir) => lshCandidates(shingleSet(s, dir))),

    // PRIMARY near-dup operator: LSH band candidates (q52's generator)
    // verified with EXACT shingle Jaccard on the candidate set only —
    // same output contract as q51 (da, db, jaccard ≥ 0.5) with a plan
    // that has NO shingle×shingle self-join anywhere. The verification
    // join is keyed on (doc_id, shingle); the right side is unique per
    // key, so per-key fan-out is 1 — a boilerplate shingle shared by
    // thousands of docs costs q51 a quadratic hot key but costs this
    // plan nothing (the pair set was already bounded by LSH banding).
    // Work: |candidates| × shingles-per-doc rows through one join, vs
    // q51's Σ_sh freq(sh)² pair explosions. This is the operator a
    // 100 TB dedup run would use; q51 stays as the exact all-pairs
    // baseline its oracle anchors. Plan shape asserted in DedupSpec.
    "q90_neardup_lsh_verify" -> ((s, dir) => {
      import s.implicits._
      val sh = shingleSet(s, dir)
      val sizes = sh.groupBy($"doc_id").agg(count(lit(1)).as("n"))
      val cand = lshCandidates(sh)
      // candidate set is tiny relative to the corpus → broadcast it onto
      // the shingle table; then count shared shingles via a (db, sh)
      // equi-join whose right side is key-unique (no skew possible).
      val shared = sh.join(broadcast(cand), $"doc_id" === $"da")
        .select($"da", $"db", $"sh")
        .join(sh.select($"doc_id".as("db"), $"sh"), Seq("db", "sh"))
        .groupBy($"da", $"db").agg(count(lit(1)).as("shared"))
      shared
        .join(sizes.withColumnRenamed("doc_id", "da").withColumnRenamed("n", "na"), "da")
        .join(sizes.withColumnRenamed("doc_id", "db").withColumnRenamed("n", "nb"), "db")
        .withColumn("jaccard", $"shared".cast("double") / ($"na" + $"nb" - $"shared"))
        .where($"jaccard" >= 0.5)
        .select($"da", $"db", $"jaccard")
    }),

    // Band-index CENSUS (streaming/NearDupStream.bucketCensus): one row
    // per (band, band_key) bucket with its member count — the recall
    // dial's OPERATIONAL pre-check (the measured adversarial boundary
    // showed verified recall collapsing when true dups route through
    // buckets hotter than maxBucket; this is the query that tells an
    // operator whether a corpus is such a family BEFORE fixing the
    // cap). One map-side-combined groupBy over the banded signatures —
    // the same shuffle volume as q52's band stage without the
    // self-join. Oracled against the q52 oracle's own bk CTE.
    "q215_band_census" -> ((s, dir) => {
      import s.implicits._
      // the census reads only the text: a null doc_id must not fail the
      // decode into Doc's primitive id
      graft.streaming.NearDupStream.bucketCensus(
        graft.Tables.load(s, dir, "documents")
          .select($"text").as[String]
          .map(graft.streaming.NearDupStream.Doc(0L, _)))
    }),

    // The adversarial REMEDY loop as one gated operator (VERDICT r16
    // Next #3 — the spec miniature NearDupStreamSpec "adversarial
    // remedy" promoted to the oracle gate): SpanDedup.stripSpans
    // dissolves repeated boilerplate upstream (first copy retained,
    // q186's action), then bucketCensus RE-MEASURES the band index the
    // stream would build over the CLEANED corpus — the post-remedy
    // census an operator compares against the cap before re-enabling
    // it. Output is the re-census; hashing it pins BOTH stages (any
    // deviation in the strip changes the cleaned text and with it the
    // band keys), and the DuckDB oracle replays strip + re-band end to
    // end. Plan: q186's two shuffles (window inventory + join-back)
    // feeding q215's one map-side-combined groupBy — no self-join, no
    // new scale class.
    "q216_strip_recensus" -> ((s, dir) => {
      import s.implicits._
      graft.streaming.NearDupStream.bucketCensus(
        graft.operators.SpanDedup.stripSpans(
          graft.Tables.load(s, dir, "documents"), 6)
          .select($"clean_text").as[String]
          .map(graft.streaming.NearDupStream.Doc(0L, _)))
    }),

    // Dedup CLUSTERS from the verified near-dup pairs: connected
    // components (operators/ConnectedComponents: a bounded driver
    // union-find, or the large-star/small-star contraction past the
    // bound) — the step a production dedup pipeline runs after pair
    // generation, so each group keeps one canonical doc
    // (doc_id == cluster_id) and drops the rest. Oracled against a
    // DuckDB recursive reachability walk over the same pair set.
    "q95_dedup_clusters" -> ((s, dir) => {
      val pairs = queries("q90_neardup_lsh_verify")(s, dir)
      graft.operators.ConnectedComponents.run(pairs, "da", "db")
        .select(col("node").as("doc_id"), col("component").as("cluster_id"))
    }),

    // q95's clusters under the name of the large-star/small-star
    // contraction, which ConnectedComponents.run runs for every graph
    // past its local-finish bound (O(log² n) rounds on adversarial long
    // chains, not O(diameter)). A declared query with its own artifacts
    // and oracle: same call and same recursive oracle as q95.
    "q112_dedup_clusters_stars" -> ((s, dir) => {
      val pairs = queries("q90_neardup_lsh_verify")(s, dir)
      graft.operators.ConnectedComponents.run(pairs, "da", "db")
        .select(col("node").as("doc_id"), col("component").as("cluster_id"))
    }),

    // SimHash-60 signatures from token hashes (bitwise majority vote).
    // 60 SUM aggregates over ONE shuffle — no 60× row explosion (the
    // exploded form cost 11s at sf0.1; this runs in ~1s). Base hash =
    // low 60 bits of md5, portable → DuckDB-oracled hash-exact.
    "q53_simhash" -> ((s, dir) => {
      import s.implicits._
      val tok = graft.Tables.load(s, dir, "documents")
        .select($"doc_id", explode(split($"text", " ")).as("tok"))
        .withColumn("h", expr(
          "cast(conv(substring(md5(tok), 18, 15), 16, 10) as bigint)"))
      val voteAggs = (0 until 60).map { j =>
        sum(expr(s"CASE WHEN (shiftright(h, $j) & 1) = 1 THEN 1 ELSE -1 END"))
          .as(s"v_$j")
      }
      tok.groupBy($"doc_id").agg(voteAggs.head, voteAggs.tail: _*)
        .select($"doc_id",
          (0 until 60).map(j =>
            when(col(s"v_$j") > 0, expr(s"shiftleft(1L, $j)")).otherwise(0L))
            .reduce(_ + _).as("simhash"))
    }),

    // Brute-force cosine top-5 neighbors for query vectors (vec_id < 50).
    // Query side broadcast; big side scanned once, never shuffled.
    "q54_cosine_topk" -> ((s, dir) => {
      import s.implicits._
      // norms hoisted BEFORE the 50×N join: qn/en depend on one side
      // only, so computing them per pair would redo each embedding's
      // norm 50 times. Dot/norm run as native codegen expressions
      // (functions/VectorExprs) with the same left-to-right double fold
      // as the aggregate/zip_with SQL they replace — oracle unchanged.
      import graft.functions.VectorExprs.{dotF64, l2normF64}
      val emb = graft.Tables.load(s, dir, "embeddings")
        .withColumn("ed", $"embedding".cast("array<double>"))
        .withColumn("en", l2normF64($"ed"))
      val q = broadcast(emb.where($"vec_id" < 50)
        .select($"vec_id".as("qid"), $"ed".as("qe"), $"en".as("qn")))
      val sims = q.join(emb, $"qid" =!= $"vec_id")
        .select($"qid", $"vec_id",
          round(dotF64($"qe", $"ed") / ($"qn" * $"en"), 6).as("cosine"))
      val w = Window.partitionBy($"qid").orderBy($"cosine".desc, $"vec_id")
      sims.withColumn("rn", row_number().over(w)).where($"rn" <= 5)
        .select($"qid", $"vec_id", $"cosine", $"rn")
    }),

    // IVF ANN over the same query set, probing ALL lists (nProbe =
    // nLists): the index machinery — KMeans coarse quantizer, probe
    // join, per-list exact rescoring — must reproduce the brute-force
    // top-k bit-for-bit, so the ANN path gets a hash-exact oracle (the
    // q54 SQL). Recall of PARTIAL probing is property-tested in
    // AnnAndLoopSpec; here the plumbing itself is the thing under test.
    "q85_ann_ivf" -> ((s, dir) => {
      import s.implicits._
      val emb = graft.Tables.load(s, dir, "embeddings")
      // few KMeans iters: with full probing the result is exact for ANY
      // clustering, so quantizer quality only affects partial-probe recall
      val idx = graft.ml.AnnIndex.build(emb, nLists = 8, maxIter = 3)
      graft.ml.AnnIndex.query(idx, emb.where($"vec_id" < 50), k = 5, nProbe = 8)
    }),

    // Embedding-cosine near-dup PAIRS (the dedup-mode sibling of q54's
    // top-k): every unordered pair with cosine >= 0.45 (the synthetic
    // embeddings are near-orthogonal, so the threshold is calibrated to
    // the data — the operator is threshold-parameterized regardless).
    //
    // EXACT and fully distributed: a block-nested-loop pair join. The
    // corpus is hashed into C blocks (pmod(vec_id, C)); the C*(C+1)/2
    // block pairs form the join keys, each row is replicated to the ~C
    // block pairs it participates in, and each task scores one block
    // pair with the codegen dot product. No driver collect, no
    // broadcast of the corpus — per-task memory is two blocks (n/C
    // rows each), shuffle volume is C·n rows, and the block-pair keys
    // are uniform by construction (no skew). C scales with cluster
    // parallelism (~sqrt(tasks)); at 100 TB you'd also pre-project to
    // (id, normalized vector) so the shuffled payload is minimal.
    //
    // Why candidates-from-IVF can't replace this as the ORACLED exact
    // operator on this data: the qualifying pairs sit at cosine
    // 0.45–0.60 (angles 53–63°) with thousands of pairs just below the
    // threshold — measured on the testdata, same-list IVF assignment
    // (k=8) misses 88/144 true pairs at sf0.1 and still misses 4 with
    // 3-of-8 multi-probe; 100% recall needs probing half the corpus.
    // The IVF candidate route (AnnIndex.candidatePairs) is therefore
    // the explicitly-APPROXIMATE scale dial (recall measured in
    // AnnAndLoopSpec), while this exact join is the baseline.
    "q86_cosine_neardup" -> ((s, dir) => {
      import graft.functions.VectorExprs.{dotF64, l2normF64}
      import s.implicits._
      // C ~ sqrt(available tasks) so the C(C+1)/2 block pairs keep every
      // core busy at any cluster size (1000 tasks → C=32 → 528 pairs);
      // floor 8 keeps the test-scale plan shape stable. C only changes
      // the block decomposition, never the pair set — the oracle is
      // C-invariant.
      val C = math.max(8,
        math.ceil(math.sqrt(s.sparkContext.defaultParallelism.toDouble)).toInt)
      // norms hoisted BEFORE replication: each row's norm is computed
      // once, not once per block pair. Dot/norm are native codegen
      // expressions folding left-to-right like the zip/sum SQL they
      // replace, so the doubles — and the oracle hash — are unchanged.
      val e = graft.Tables.load(s, dir, "embeddings")
        .select($"vec_id".cast("long").as("vid"),
          $"embedding".cast("array<double>").as("ed"))
        .withColumn("nrm", l2normF64($"ed"))
        .withColumn("blk", pmod($"vid", lit(C)).cast("int"))
      val grid = broadcast(
        (for { i <- 0 until C; j <- i until C } yield (i, j)).toDF("bi", "bj"))
      val lhs = e.join(grid, $"blk" === $"bi")
        .select($"bi", $"bj", $"vid".as("ia"), $"ed".as("ea"), $"nrm".as("na"))
      val rhs = e.join(grid, $"blk" === $"bj")
        .select($"bi", $"bj", $"vid".as("ib"), $"ed".as("eb"), $"nrm".as("nb"))
      lhs.join(rhs, Seq("bi", "bj"))
        // distinct-block pairs appear exactly once; same-block pairs
        // need the id ordering to drop the mirror duplicate
        .where($"bi" =!= $"bj" || $"ia" < $"ib")
        .select(least($"ia", $"ib").as("va"), greatest($"ia", $"ib").as("vb"),
          // dot and norm product are bitwise symmetric (IEEE a*b = b*a,
          // index-ascending sum), so emitting the (min,max) orientation
          // matches the a.vec_id < b.vec_id oracle exactly
          round(dotF64($"ea", $"eb") / ($"na" * $"nb"), 6).as("cosine"))
        .where($"cosine" >= 0.45)
    }),

    // Embedding-dedup clusters: the q95 pattern over q86's exact cosine
    // pairs — both dedup families (text shingles, embeddings) end in
    // canonical groups through the same ConnectedComponents operator.
    "q96_embed_clusters" -> ((s, dir) => {
      val pairs = queries("q86_cosine_neardup")(s, dir)
      graft.operators.ConnectedComponents.run(pairs, "va", "vb")
        .select(col("node").as("vec_id"), col("component").as("cluster_id"))
    }),

    // Language-ID heuristic: stopword share of tokens.
    "q55_langid" -> ((s, dir) => {
      import s.implicits._
      graft.Tables.load(s, dir, "documents")
        .select($"doc_id", split($"text", " ").as("t"))
        .select($"doc_id",
          (expr(s"size(filter(t, x -> x IN ($stopSql)))").cast("double") /
            expr("size(t)")).as("stop_ratio"))
        .withColumn("pred_lang", when($"stop_ratio" >= 0.05, "en").otherwise("und"))
    }),

    // Quality scoring: length / punctuation / stopword / token-length mix.
    "q56_quality_score" -> ((s, dir) => {
      import s.implicits._
      graft.Tables.load(s, dir, "documents")
        .select($"doc_id", $"text", split($"text", " ").as("t"))
        .select($"doc_id",
          length($"text").as("n_chars"),
          expr("size(t)").as("n_tokens"),
          (regexp_count($"text", lit("[^a-z0-9 ]")).cast("double") / length($"text"))
            .as("punct_ratio"),
          (expr(s"size(filter(t, x -> x IN ($stopSql)))").cast("double") /
            expr("size(t)")).as("stop_ratio"),
          (length($"text").cast("double") / expr("size(t)")).as("mean_tok_len"))
        .withColumn("quality",
          lit(0.4) * least($"n_tokens".cast("double") / 100.0, lit(1.0)) +
            lit(0.3) * (lit(1.0) - $"punct_ratio") +
            lit(0.3) * least($"stop_ratio" * 10.0, lit(1.0)))
    }),

    // TF-IDF (SURVEY §7.2 step 8): smooth-idf scoring, top-5 terms per
    // document. Two hash aggregations (term frequencies, document
    // frequencies) + a term-keyed dim join — df is one row per vocab
    // term (key-unique right side, no skew even for stopwords) and the
    // corpus size rides in as a broadcast one-row cross join.
    "q97_tfidf" -> ((s, dir) => {
      import s.implicits._
      val tok = graft.Tables.load(s, dir, "documents")
        .select($"doc_id", explode(split($"text", " ")).as("term"))
      val tf = tok.groupBy($"doc_id", $"term").agg(count(lit(1)).as("tf"))
      val len = tok.groupBy($"doc_id").agg(count(lit(1)).as("len"))
      val dfreq = tf.groupBy($"term").agg(count(lit(1)).as("df"))
      val n = graft.Tables.load(s, dir, "documents")
        .agg(countDistinct($"doc_id").as("n"))
      val scored = tf.join(len, "doc_id").join(dfreq, "term")
        .crossJoin(broadcast(n))
        .withColumn("tfidf", round(($"tf".cast("double") / $"len") *
          (log(($"n" + 1.0) / ($"df" + 1.0)) + 1.0), 6))
      val w = Window.partitionBy($"doc_id").orderBy($"tfidf".desc, $"term")
      scored.withColumn("rn", row_number().over(w)).where($"rn" <= 5)
        .select($"doc_id", $"term", $"tfidf", $"rn")
    }),

    // Token counting: whitespace vs BPE-ish regex segmentation.
    "q57_token_count" -> ((s, dir) => {
      import s.implicits._
      graft.Tables.load(s, dir, "documents")
        .select($"doc_id",
          size(split($"text", " ")).as("ws_tokens"),
          regexp_count($"text", lit("[a-z]+|[0-9]+|[^a-z0-9 ]")).as("bpe_tokens"))
    }),

    // Document fingerprint: normalize → sha256 prefix (dataset-id style).
    "q58_fingerprint" -> ((s, dir) => {
      import s.implicits._
      val norm = trim(regexp_replace(
        regexp_replace(lower($"text"), "[^a-z0-9 ]", ""), " +", " "))
      graft.Tables.load(s, dir, "documents")
        .select($"doc_id", substring(sha2(norm, 256), 1, 16).as("fingerprint"))
    }),

    // Multimodal binary-column plumbing: opaque bytes + derived metadata.
    // (Real decode is stubbed — see graft.multimodal.MultimodalPipeline.)
    "q59_multimodal_bytes" -> ((s, dir) => {
      import s.implicits._
      graft.Tables.load(s, dir, "documents")
        .select($"doc_id", encode($"text", "UTF-8").as("bin"))
        .select($"doc_id",
          length($"bin").as("n_bytes"),
          upper(substring(hex($"bin"), 1, 8)).as("magic"),
          sha2($"bin", 256).as("content_sha"))
    }),

    // Aspect-preserving resize planning over binary media (the
    // MultimodalPipeline.resizePlan arithmetic, oracled end-to-end; the
    // decode step is content-hash-derived dimensions — the same stub
    // contract, expressed as SQL so DuckDB can replay it bit-for-bit).
    // Never upscales; scale = min(1, 224/w, 224/h).
    "q64_resize_plan" -> ((s, dir) => {
      import s.implicits._
      graft.Tables.load(s, dir, "documents")
        .select($"doc_id", md5(encode($"text", "UTF-8")).as("hx"))
        .withColumn("w", (lit(64) +
          expr("pmod(cast(conv(substring(hx, 1, 7), 16, 10) as bigint), 512)")).cast("int"))
        .withColumn("h", (lit(64) +
          expr("pmod(cast(conv(substring(hx, 8, 7), 16, 10) as bigint), 512)")).cast("int"))
        .withColumn("scale_f",
          least(lit(1.0), least(lit(224.0) / $"w", lit(224.0) / $"h")))
        .select($"doc_id", $"w", $"h",
          greatest(lit(1), round($"w" * $"scale_f").cast("int")).as("out_w"),
          greatest(lit(1), round($"h" * $"scale_f").cast("int")).as("out_h"),
          $"scale_f")
    }),

    // Benchmark CONTAMINATION detection — the decontamination pass a
    // training-data pipeline runs before emitting a corpus: a training
    // document sharing ≥3 distinct 5-gram shingles with the EVAL set
    // (the deterministic doc_id % 11 == 0 slice here) is flagged so the
    // eval benchmark never leaks into training. Scale design: the
    // benchmark is tiny relative to the corpus, so its DISTINCT
    // shingles BROADCAST; the 100 TB corpus side left-semi-joins on the
    // broadcast hash (never shuffling on the shingle key — no hot
    // boilerplate-shingle task) and the per-doc hit count is a
    // map-side-combined groupBy on doc_id.
    "q125_contamination" -> ((s, dir) => {
      import s.implicits._
      val sh5 = graft.Tables.load(s, dir, "documents")
        .select($"doc_id", split($"text", " ").as("t"))
        .select($"doc_id", explode(expr(
          graft.functions.TextGrams.gramsSql(5)))
          .as("sh")).distinct()
      val bench = sh5.where($"doc_id" % 11 === 0).select($"sh").distinct()
      val corpus = sh5.where($"doc_id" % 11 =!= 0)
      val docs = corpus.select($"doc_id").distinct()
      val hits = corpus.join(broadcast(bench), Seq("sh"), "left_semi")
        .groupBy($"doc_id").agg(count(lit(1)).as("h"))
      docs.join(hits, Seq("doc_id"), "left")
        .select($"doc_id",
          coalesce($"h", lit(0L)).as("n_hits"),
          (coalesce($"h", lit(0L)) >= 3).as("contaminated"))
    }),

    // Corpus-level n-gram frequency, top 50 — the boilerplate-detection
    // table a filtering pipeline thresholds against. Frequencies count
    // every occurrence (NOT the per-doc-distinct shingle set q51 uses),
    // and the aggregation runs through SkewSalt.saltedAgg: the classic
    // hot key here IS the answer (the most frequent n-gram), so the
    // two-stage salted aggregation caps the reducer-side hot partition
    // while map-side combine does the volume. TakeOrderedAndProject for
    // the top-50, never a global sort.
    "q126_ngram_freq" -> ((s, dir) => {
      import s.implicits._
      val sh = graft.Tables.load(s, dir, "documents")
        .select(split($"text", " ").as("t"))
        .select(explode(expr(
          graft.functions.TextGrams.gramsSql(3))).as("sh"))
      graft.operators.SkewSalt.saltedAgg(sh, Seq("sh"), Seq.empty)
        .orderBy($"n".desc, $"sh").limit(50)
    }),

    // The CAPSTONE corpus filter — the decision a training-data pipeline
    // actually emits, composing the whole family: benchmark exclusion
    // (q125's eval slice), exact dedup (canonical = min doc id per
    // content), near-dup dedup (q95's cluster canonicals), contamination
    // (q125), language (q55), and quality (q56) gates, with a FIRST-
    // MATCH drop-reason taxonomy. Every input operator is independently
    // oracled; this row pins their composition.
    "q127_corpus_filter" -> ((s, dir) => {
      import s.implicits._
      val docs = graft.Tables.load(s, dir, "documents")
      // exact-dup canonical: min doc_id per exact content (hash-groupBy
      // shape; grouping on the text value is the same exchange with the
      // hash computed by the shuffle writer)
      val canon = docs.groupBy($"text").agg(min($"doc_id").as("canon_id"))
      val exact = docs.join(canon, "text")
        .select($"doc_id", ($"doc_id" =!= $"canon_id").as("is_exact_dup"))
      val clusters = queries("q95_dedup_clusters")(s, dir)
        .withColumnRenamed("cluster_id", "cid")
      val lq = docs.select($"doc_id", $"text", split($"text", " ").as("t"))
        .select($"doc_id",
          (expr(s"size(filter(t, x -> x IN ($stopSql)))").cast("double") /
            expr("size(t)")).as("stop_ratio"),
          (regexp_count($"text", lit("[^a-z0-9 ]")).cast("double") /
            length($"text")).as("punct_ratio"),
          expr("size(t)").as("n_tokens"))
        .withColumn("quality",
          lit(0.4) * least($"n_tokens".cast("double") / 100.0, lit(1.0)) +
            lit(0.3) * (lit(1.0) - $"punct_ratio") +
            lit(0.3) * least($"stop_ratio" * 10.0, lit(1.0)))
      val contam = queries("q125_contamination")(s, dir)
        .select($"doc_id", $"contaminated")
      docs.select($"doc_id")
        .join(exact, Seq("doc_id"))
        .join(clusters, Seq("doc_id"), "left")
        .join(lq.select($"doc_id", $"stop_ratio", $"quality"), Seq("doc_id"))
        .join(contam, Seq("doc_id"), "left")
        .withColumn("reason",
          when($"doc_id" % 11 === 0, "benchmark")
            .when($"is_exact_dup", "exact_dup")
            .when($"cid".isNotNull && $"cid" =!= $"doc_id", "near_dup")
            .when(coalesce($"contaminated", lit(false)), "contaminated")
            .when($"stop_ratio" < 0.05, "lang")
            .when($"quality" < 0.5, "low_quality")
            .otherwise("keep"))
        .select($"doc_id", ($"reason" === "keep").as("keep"), $"reason")
    }),

    // Repetition signals (the Gopher-rule family): share of the most
    // frequent token, share of the most frequent bigram, and the
    // duplicate-bigram fraction — the quality gates that catch
    // degenerate/boilerplate text that length and stopword ratios miss.
    // All three are per-doc aggregations keyed on doc_id (map-side
    // combined, one shuffle family); integer counts divide in double at
    // the end, so the oracle compare is exact.
    "q128_repetition" -> ((s, dir) => {
      import s.implicits._
      val docs = graft.Tables.load(s, dir, "documents")
      val tok = docs.select($"doc_id", explode(split($"text", " ")).as("tok"))
      val n = tok.groupBy($"doc_id").agg(count(lit(1)).as("n_tokens"))
      val top1 = tok.groupBy($"doc_id", $"tok").agg(count(lit(1)).as("c"))
        .groupBy($"doc_id").agg(max($"c").as("top_tok"))
      val big = docs.select($"doc_id", split($"text", " ").as("t"))
        .select($"doc_id", explode(expr(
          graft.functions.TextGrams.gramsSql(2))).as("bg"))
      val top2 = big.groupBy($"doc_id", $"bg").agg(count(lit(1)).as("c"))
        .groupBy($"doc_id").agg(max($"c").as("top_big"),
          count(lit(1)).as("n_distinct_bg"), sum($"c").as("n_bg"))
      n.join(top1, "doc_id").join(top2, "doc_id")
        .select($"doc_id",
          ($"top_tok".cast("double") / $"n_tokens").as("top_token_share"),
          ($"top_big".cast("double") / $"n_bg").as("top_bigram_share"),
          (lit(1.0) - $"n_distinct_bg".cast("double") / $"n_bg")
            .as("dup_bigram_frac"))
        .withColumn("repetitive",
          $"top_token_share" > 0.2 || $"dup_bigram_frac" > 0.5)
    }),

    // INCREMENTAL dedup — the shape a continuously-crawling pipeline
    // runs: a new shard (doc_id % 10 == 7 here) deduped AGAINST the
    // existing corpus, emitting (new_doc, old_doc, jaccard) for every
    // verified near-dup whose sides straddle the boundary. At 100 TB
    // the old corpus's band table is a PERSISTED index and only the new
    // shard is shingled/banded/joined against it (cost ∝ shard, not
    // corpus); here the pair graph re-derives from base tables because
    // the oracle must be self-contained (q127's artifact class). The
    // same-side pairs are excluded — new-vs-new dups are next cycle's
    // intra-shard dedup, and old-vs-old were already resolved.
    "q135_incremental_dedup" -> ((s, dir) => {
      import s.implicits._
      queries("q90_neardup_lsh_verify")(s, dir)
        .where(($"da" % 10 === 7) =!= ($"db" % 10 === 7))
        .select(
          when($"da" % 10 === 7, $"da").otherwise($"db").as("new_doc"),
          when($"da" % 10 === 7, $"db").otherwise($"da").as("old_doc"),
          $"jaccard")
    }),

    // Curation MONITORING roll-up — the report a pipeline operator
    // actually watches: per (source × drop-reason) counts over the q127
    // taxonomy. A source whose exact_dup or contaminated share spikes is
    // a crawler bug or a benchmark leak; the roll-up is a dims-sized
    // aggregate over the per-doc decisions (same artifact-class cost as
    // q127 — in deployment both read the materialized decision table).
    "q137_source_report" -> ((s, dir) => {
      import s.implicits._
      val decisions = queries("q127_corpus_filter")(s, dir)
      val src = graft.Tables.load(s, dir, "documents")
        .select($"doc_id", $"source")
      decisions.join(src, "doc_id")
        .groupBy($"source", $"reason").agg(count(lit(1)).as("n"))
    }),

    // INCREMENTAL component maintenance (operators/IncrementalCC) — the
    // continuous-crawl closure of q95: the verified pair set arrives in
    // three deterministic shards, each folded into a PERSISTED
    // VersionedTable component table by MERGEing only the delta (new
    // nodes + rows of merged components). The final table must equal
    // the batch q95 clusters on the full pair set — same recursive
    // reachability oracle, hash-exact. The pair re-derivation is the
    // oracle self-containment cost (q127's artifact class); a deployed
    // crawl folds pairs as they stream (IncrementalCCSpec's
    // NearDupStream case) and pays only the per-batch delta.
    "q147_incremental_cc" -> ((s, dir) => {
      import s.implicits._
      // pid-scoped store (graft.queries.Scratch): concurrent JVMs must
      // not MERGE into the same component table; exit-cleaned
      val root = new java.io.File(Scratch.dir("inccc_q147"))
      if (root.exists) Scratch.rmTree(root.toString)
      val pairs = queries("q90_neardup_lsh_verify")(s, dir)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val vt = graft.operators.IncrementalCC.table(s, root.toString)
      (0 until 3).foreach { k =>
        graft.operators.IncrementalCC.updateTable(s, vt,
          pairs.where(pmod($"da" + $"db", lit(3)) === k), "da", "db")
      }
      pairs.unpersist()
      graft.operators.IncrementalCC.readComps(s, vt)
        .select(col("node").as("doc_id"), col("component").as("cluster_id"))
    }),

    // Span-level EXACT-SUBSTRING dedup (operators/SpanDedup) — the third
    // dedup mode: maximal token spans whose 6-token windows repeat
    // corpus-wide, with first-occurrence retention. q185 is the per-doc
    // census every doc row carries (clean docs report zeros); K=6 sits
    // past this corpus's random-collision knee (5→6 drops touched docs
    // 71→47 while dup windows stay ~flat — the planted repeats).
    "q185_dup_spans" -> ((s, dir) =>
      graft.operators.SpanDedup.spanCensus(
        graft.Tables.load(s, dir, "documents"), 6)),

    // The dedup ACTION for q185's spans: later occurrences stripped,
    // first copies kept verbatim. Cleaned text compared by md5 (the
    // driver hashes rendered values; a 32-hex column keeps the row
    // narrow while still pinning every kept byte).
    "q186_span_strip" -> ((s, dir) => {
      import s.implicits._
      graft.operators.SpanDedup.stripSpans(
        graft.Tables.load(s, dir, "documents"), 6)
        .select($"doc_id", $"kept_tokens", md5($"clean_text").as("clean_md5"))
    }),

    // Bigram-LM cross-entropy quality scoring — the CCNet/KenLM-style
    // fluency filter: each doc scored by its average negative log
    // likelihood under an add-one-smoothed corpus bigram LM,
    // p(w2|w1) = (c(w1,w2)+1)/(ctx(w1)+V). Here the LM trains on the
    // corpus itself (the boilerplate/fluency proxy); a deployment
    // swaps the cnt/ctx tables for ones persisted from a reference
    // corpus — the scoring plan is identical. Plan: the bigram stream
    // is aggregated twice into SMALL model tables (map-side combined)
    // and joined back — cnt/ctx are ≤ V² rows, broadcastable at this
    // scale, and the occurrence side never shuffles twice on the same
    // key; at 100 TB a hot-context key salts via SkewSalt as q51 does.
    // Per-term -ln(p) takes ln on an EXACT integer-ratio double, so the
    // value is libm-LN-dependent (the documented q170/q174 class — LN
    // has agreed bit-for-bit across both engines for 12 rounds);
    // per-doc sums ride Det.qsum (order-free), division by counts is
    // exact-operand IEEE. Threshold 3.45 splits this corpus's observed
    // 3.26–3.61 range.
    "q187_lm_quality" -> ((s, dir) => {
      import s.implicits._
      val docs = graft.Tables.load(s, dir, "documents")
      val toksDf = docs.select($"doc_id", split($"text", " ").as("t"))
      val bg = toksDf
        .select($"doc_id", $"t", explode(expr(
          "CASE WHEN size(t) >= 2 THEN sequence(1, size(t) - 1) " +
            "ELSE CAST(array() AS array<int>) END")).as("i"))
        .select($"doc_id", expr("t[i-1]").as("w1"), expr("t[i]").as("w2"))
      val cnt = bg.groupBy($"w1", $"w2").agg(count(lit(1)).as("c"))
      val ctx = bg.groupBy($"w1").agg(count(lit(1)).as("cw"))
      val vocab = docs.select(explode(split($"text", " ")).as("tok"))
        .agg(countDistinct($"tok").as("v"))
      val nll = bg
        .join(cnt, Seq("w1", "w2")).join(ctx, Seq("w1"))
        .crossJoin(broadcast(vocab))
        .select($"doc_id",
          (-log(($"c" + 1).cast("double") / ($"cw" + $"v"))).as("nll"))
      val pd = nll.groupBy($"doc_id")
        .agg(count(lit(1)).as("nb"),
          graft.queries.Det.qsum($"nll", 1e9).as("sx"))
        .select($"doc_id", $"nb", ($"sx" / $"nb").as("x"))
      docs.select($"doc_id")
        .join(pd, Seq("doc_id"), "left")
        .select($"doc_id",
          coalesce($"nb", lit(0L)).as("n_bigrams"),
          $"x".as("xent"),
          coalesce($"x" > 3.45, lit(false)).as("low_quality"))
    }),

    // Fuzzy-dedup refinement: edit-distance verification of the LSH
    // candidate pairs — the OTHER verifier beside q90's exact Jaccard,
    // catching near-dups that token-set similarity misses (in-place
    // edits keep the Jaccard low but the edit distance low too).
    // Candidates come from the same banding (tiny → broadcast), each
    // pair pays one levenshtein on the two texts — never a corpus ×
    // corpus string comparison. Both engines implement the classic
    // unit-cost Levenshtein; the corpus is ASCII so code-unit vs
    // codepoint length semantics cannot diverge. edit_sim is an exact
    // IEEE ratio of ints.
    "q203_fuzzy_refine" -> ((s, dir) => {
      import s.implicits._
      val docs = graft.Tables.load(s, dir, "documents")
      val cand = lshCandidates(shingleSet(s, dir))
      val ta = docs.select($"doc_id".as("da"), $"text".as("ta"))
      val tb = docs.select($"doc_id".as("db"), $"text".as("tb"))
      ta.join(broadcast(cand), "da").join(tb, "db")
        .select($"da", $"db",
          levenshtein($"ta", $"tb").cast("long").as("dist"),
          (lit(1.0) - levenshtein($"ta", $"tb").cast("double") /
            greatest(length($"ta"), length($"tb")).cast("double"))
            .as("edit_sim"))
        .withColumn("is_fuzzy_dup", $"edit_sim" >= 0.4)
    }),

    // TextRank (Mihalcea & Tarau 2004) — weighted PageRank over the
    // word co-occurrence graph: the iterative message-passing operator
    // class beyond CC's star contraction (q95/q112), producing the
    // corpus-level keyword salience every extractive summarizer /
    // keyword tagger consumes. (PR over the near-dup PAIR graph is
    // uninformative here — dup clusters are cliques, and PR on a
    // regular component is uniform; the co-occurrence graph has real
    // degree spread.) 8 damped iterations in ALL-INTEGER arithmetic so
    // both engines replay bit-for-bit: pr lives on the 1e-12 grid as a
    // BIGINT numerator, the weighted contribution is (pr·w) div wdeg
    // (truncating integer division — Spark `div` ≡ DuckDB `//` on the
    // all-positive values here), and the damping update is
    // (15·unit + 85·Σmsg) div 100. Each iteration is one join + one
    // agg on the edge list — the standard distributed PR shape; at
    // 100 TB (vocab in the millions) the per-iteration frames would be
    // checkpointed, the plan algebra is unchanged.
    "q202_textrank" -> ((s, dir) => {
      import s.implicits._
      val toks = graft.Tables.load(s, dir, "documents")
        .select(split($"text", " ").as("t"))
      val adj = toks.select(explode(expr(
        "CASE WHEN size(t) >= 2 THEN transform(sequence(1, size(t) - 1), " +
          "i -> struct(least(t[i-1], t[i]) AS a, greatest(t[i-1], t[i]) AS b)) " +
          "ELSE CAST(array() AS array<struct<a:string,b:string>>) END")).as("p"))
        .select($"p.a".as("a"), $"p.b".as("b"))
        .where($"a" =!= $"b" && $"a" =!= "" && $"b" =!= "")
        .groupBy($"a", $"b").agg(count(lit(1)).as("w"))
      graft.operators.TextRank.run(adj, iters = 8)
        .withColumnRenamed("node", "token")
    }),

    // Bloom-filter shard-dedup prefilter (functions/BloomDedup): the
    // q135 incremental-dedup story at its cheapest rung. History =
    // doc_id % 4 != 0, shard = the rest; the filter is the history's
    // distinct md5-position table (k=4, B=65536 — FIXED size however
    // big the history grows, broadcastable by definition), the shard
    // probes it locally, and only Bloom-positive docs pay the exact
    // key join. True dups are injected deterministically on both
    // engines (shard docs with doc_id % 3 == 0 take the text of
    // history doc doc_id+1), so the gate pins all three outcomes:
    // exact dup (⇒ bloom_hit, the no-false-negative contract), Bloom
    // false positive, and clean miss. All-integer md5 arithmetic —
    // zero float surface.
    "q196_bloom_prefilter" -> ((s, dir) => {
      import s.implicits._
      import graft.functions.BloomDedup
      val docs = graft.Tables.load(s, dir, "documents")
      val hist = docs.where(pmod($"doc_id", lit(4L)) =!= 0L)
        .select($"doc_id", $"text")
      val shard = docs.where(pmod($"doc_id", lit(4L)) === 0L)
        .join(broadcast(hist.select(($"doc_id" - 1).as("sid"), $"text".as("htext"))),
          $"doc_id" === $"sid" && pmod($"doc_id", lit(3L)) === 0L, "left")
        .select($"doc_id", coalesce($"htext", $"text").as("text"))
      val histKeys = hist.select(md5($"text").as("k")).distinct()
      val shardK = shard.select($"doc_id", md5($"text").as("k"))
      val hit = BloomDedup.probe(shardK, BloomDedup.build(histKeys), "doc_id")
      // gate-sized second arm (B=2048): saturated enough that the
      // false-positive branch actually fires on this corpus
      val hitSmall = BloomDedup
        .probe(shardK, BloomDedup.build(histKeys, b = 2048), "doc_id", b = 2048)
        .withColumnRenamed("bloom_hit", "bloom_hit_small")
      val exact = shardK.join(histKeys.withColumnRenamed("k", "hk"),
          $"k" === $"hk", "left")
        .select($"doc_id", $"hk".isNotNull.as("exact_dup"))
      hit.join(hitSmall, "doc_id").join(exact, "doc_id")
        .select($"doc_id", $"bloom_hit", $"bloom_hit_small", $"exact_dup")
    })
  )

  private val shingleSql =
    """toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
      |idx AS (
      |  SELECT doc_id, t, unnest(generate_series(1, greatest(len(t) - 2, 0))) AS i
      |  FROM toks),
      |sh AS (
      |  SELECT DISTINCT doc_id, t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS sh
      |  FROM idx)""".stripMargin

  /** DuckDB CTE chain (pre-stripped margins) ending in
    * `${p}bk (doc_id, band, band_key)` — the shingle → minhash → band
    * pipeline of [[lshCandidates]], reading (doc_id, text) from `src`.
    * Prefix `p` keeps CTE names disjoint when two chains share one WITH
    * (the q216 oracle re-bands CLEANED text after the span-strip chain
    * has already claimed the bare names over `documents`). */
  private def bandChainSql(p: String, src: String): String = {
    val hexParse =
      """list_reduce(list_transform(string_split_regex(substr(md5(sh), 18, 15), ''),
        |    c -> CAST(strpos('0123456789abcdef', c) - 1 AS BIGINT)), (a, b) -> a * 16 + b)""".stripMargin
    val minAggs = (0 until 32).map(i =>
      s"MIN((${40503L * i + 12345L} * x + ${2971215073L * i + 1L}) % 2147483647) AS mh_$i")
      .mkString(",\n  ")
    val bands = (0 until 8).map { b =>
      (0 until 4).map(r => s"CAST(mh_${b * 4 + r} AS VARCHAR)")
        .mkString(" || ':' || ") + s" AS band_$b"
    }.mkString(",\n  ")
    val arms = (0 until 8).map(b =>
      s"SELECT doc_id, $b AS band, band_$b AS band_key FROM ${p}banded")
      .mkString("\n  UNION ALL ")
    s"""${p}toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM $src),
       |${p}idx AS (
       |  SELECT doc_id, t, unnest(generate_series(1, greatest(len(t) - 2, 0))) AS i
       |  FROM ${p}toks),
       |${p}sh AS (
       |  SELECT DISTINCT doc_id, t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS sh
       |  FROM ${p}idx),
       |${p}hh AS (SELECT doc_id, $hexParse % 2147483647 AS x FROM ${p}sh),
       |${p}sig AS (SELECT doc_id, $minAggs FROM ${p}hh GROUP BY doc_id),
       |${p}banded AS (SELECT doc_id, $bands FROM ${p}sig),
       |${p}bk AS ($arms)""".stripMargin
  }

  /** DuckDB CTE chain ending in `cand AS (... da, db ...)` — the LSH
    * band candidate pairs, mirroring [[lshCandidates]]. Shared by the
    * q52 (candidates) and q90 (verified near-dups) oracles. Built on
    * [[bandChainSql]] with the bare prefix (its unprefixed toks/idx/sh
    * CTEs are byte-compatible with the [[shingleSql]] names other
    * oracles use). */
  private val lshCandSql =
    s"""${bandChainSql("", "documents")},
       |cand AS (
       |  SELECT DISTINCT x.doc_id AS da, y.doc_id AS db
       |  FROM bk x JOIN bk y
       |    ON x.band = y.band AND x.band_key = y.band_key AND x.doc_id < y.doc_id)""".stripMargin

  /** [[lshCandSql]] extended with the exact-Jaccard verification,
    * ending in `vp AS (... da, db, jaccard ...)` — the q90 pair set,
    * shared by the q90 and q95 oracles. */
  private val verifiedPairsSql =
    s"""$lshCandSql,
       |sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY 1),
       |shared AS (
       |  SELECT c.da, c.db, COUNT(*) AS shared
       |  FROM cand c
       |  JOIN sh a ON a.doc_id = c.da
       |  JOIN sh b ON b.doc_id = c.db AND b.sh = a.sh
       |  GROUP BY 1, 2),
       |vp AS (
       |  SELECT s.da, s.db,
       |    CAST(s.shared AS DOUBLE) / (sa.n + sb.n - s.shared) AS jaccard
       |  FROM shared s
       |  JOIN sizes sa ON s.da = sa.doc_id
       |  JOIN sizes sb ON s.db = sb.doc_id
       |  WHERE CAST(s.shared AS DOUBLE) / (sa.n + sb.n - s.shared) >= 0.5)""".stripMargin

  /** DuckDB CTE chain ending in `sp AS (doc_id, island, s, e,
    * has_canon)` — the maximal duplicate spans of operators/SpanDedup
    * at K=6, replayed step for step: rolling 6-gram md5 inventory,
    * corpus-wide count + earliest packed occurrence, duplicate windows,
    * gaps-and-islands coverage merge. Shared by the q185 (census) and
    * q186 (strip) oracles. */
  private val spanCteSql =
    """toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
      |sidx AS (
      |  SELECT doc_id, t,
      |    unnest(generate_series(1, greatest(len(t) - 5, 0))) AS i
      |  FROM toks),
      |sgrams AS (
      |  SELECT doc_id, i,
      |    md5(t[i] || ' ' || t[i+1] || ' ' || t[i+2] || ' ' ||
      |        t[i+3] || ' ' || t[i+4] || ' ' || t[i+5]) AS f
      |  FROM sidx),
      |fstats AS (
      |  SELECT f, MIN(doc_id * 1048576 + i) AS mk
      |  FROM sgrams GROUP BY 1 HAVING COUNT(*) >= 2),
      |dw AS (
      |  SELECT g.doc_id, g.i,
      |    CASE WHEN g.doc_id * 1048576 + g.i = fs.mk THEN 1 ELSE 0 END AS canon
      |  FROM sgrams g JOIN fstats fs ON g.f = fs.f),
      |cov AS (
      |  SELECT doc_id, i, canon,
      |    MAX(i + 5) OVER (PARTITION BY doc_id ORDER BY i
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_end
      |  FROM dw),
      |isl AS (
      |  SELECT doc_id, i, canon,
      |    SUM(CASE WHEN prev_end IS NULL OR i > prev_end + 1
      |        THEN 1 ELSE 0 END)
      |      OVER (PARTITION BY doc_id ORDER BY i) AS island
      |  FROM cov),
      |sp AS (
      |  SELECT doc_id, island, MIN(i) AS s, MAX(i) + 5 AS e,
      |    MAX(canon) AS has_canon
      |  FROM isl GROUP BY 1, 2)""".stripMargin

  /** DuckDB CTE chain ending in `cp AS (... va, vb, cosine ...)` — the
    * exact embedding near-dup pairs at cosine ≥ 0.45, mirroring the q86
    * Spark plan's arithmetic. Shared by the q86 and q96 oracles. */
  private val cosinePairsSql =
    """e AS (
      |  SELECT vec_id, embedding,
      |    sqrt(list_sum(list_transform(embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS nrm
      |  FROM embeddings),
      |allpairs AS (
      |  SELECT a.vec_id AS va, b.vec_id AS vb,
      |    round(
      |      list_sum(list_transform(list_zip(a.embedding, b.embedding),
      |        x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE))) / (a.nrm * b.nrm),
      |      6) AS cosine
      |  FROM e a JOIN e b ON a.vec_id < b.vec_id),
      |cp AS (SELECT va, vb, cosine FROM allpairs WHERE cosine >= 0.45)""".stripMargin

  private val exactTopkSql =
    """WITH q AS (SELECT vec_id AS qid, embedding AS qe FROM embeddings WHERE vec_id < 50),
        |sims AS (
        |  SELECT qid, vec_id,
        |    round(
        |      list_sum(list_transform(list_zip(qe, embedding),
        |        x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE)))
        |      / (sqrt(list_sum(list_transform(qe, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
        |         * sqrt(list_sum(list_transform(embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))),
        |      6) AS cosine
        |  FROM q JOIN embeddings ON qid <> vec_id),
        |ranked AS (
        |  SELECT qid, vec_id, cosine,
        |    row_number() OVER (PARTITION BY qid ORDER BY cosine DESC, vec_id) AS rn
        |  FROM sims)
        |SELECT qid, vec_id, cosine, rn FROM ranked WHERE rn <= 5""".stripMargin

  /** DuckDB CTE chain ending in `labeled AS (... doc_id, reason ...)` — the
    * q127 corpus-filter taxonomy, shared by the q127 (per-doc decisions)
    * and q137 (per-source report) oracles. */
  private lazy val corpusFilterSql =
      s"""WITH RECURSIVE $verifiedPairsSql,
         |edges AS (
         |  SELECT da AS src, db AS dst FROM vp
         |  UNION ALL
         |  SELECT db AS src, da AS dst FROM vp),
         |walk(node, label) AS (
         |  SELECT src, src FROM edges
         |  UNION
         |  SELECT e.dst, w.label FROM walk w JOIN edges e ON e.src = w.node),
         |clusters AS (SELECT node AS doc_id, MIN(label) AS cid FROM walk GROUP BY node),
         |exact AS (
         |  SELECT doc_id,
         |    doc_id <> MIN(doc_id) OVER (PARTITION BY text) AS is_exact_dup
         |  FROM documents),
         |lq AS (
         |  SELECT doc_id,
         |    CAST(len(list_filter(string_split(text, ' '), x -> x IN ($stopSql))) AS DOUBLE)
         |      / len(string_split(text, ' ')) AS stop_ratio,
         |    CAST(len(regexp_extract_all(text, '[^a-z0-9 ]')) AS DOUBLE)
         |      / length(text) AS punct_ratio,
         |    len(string_split(text, ' ')) AS n_tokens
         |  FROM documents),
         |lq2 AS (
         |  SELECT doc_id, stop_ratio,
         |    0.4 * least(CAST(n_tokens AS DOUBLE) / 100.0, 1.0)
         |    + 0.3 * (1.0 - punct_ratio)
         |    + 0.3 * least(stop_ratio * 10.0, 1.0) AS quality
         |  FROM lq),
         |ctoks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
         |cidx AS (
         |  SELECT doc_id, t,
         |    unnest(generate_series(1, greatest(len(t) - 4, 0))) AS i
         |  FROM ctoks),
         |csh5 AS (
         |  SELECT DISTINCT doc_id,
         |    t[i] || ' ' || t[i+1] || ' ' || t[i+2] || ' ' || t[i+3]
         |      || ' ' || t[i+4] AS sh
         |  FROM cidx),
         |cbench AS (SELECT DISTINCT sh FROM csh5 WHERE doc_id % 11 = 0),
         |chits AS (
         |  SELECT c.doc_id, COUNT(*) AS h
         |  FROM csh5 c JOIN cbench b ON c.sh = b.sh
         |  WHERE c.doc_id % 11 <> 0
         |  GROUP BY 1),
         |labeled AS (
         |  SELECT d.doc_id,
         |    CASE WHEN d.doc_id % 11 = 0 THEN 'benchmark'
         |         WHEN e.is_exact_dup THEN 'exact_dup'
         |         WHEN c.cid IS NOT NULL AND c.cid <> d.doc_id THEN 'near_dup'
         |         WHEN COALESCE(h.h, 0) >= 3 THEN 'contaminated'
         |         WHEN l.stop_ratio < 0.05 THEN 'lang'
         |         WHEN l.quality < 0.5 THEN 'low_quality'
         |         ELSE 'keep' END AS reason
         |  FROM documents d
         |  JOIN exact e ON e.doc_id = d.doc_id
         |  LEFT JOIN clusters c ON c.doc_id = d.doc_id
         |  JOIN lq2 l ON l.doc_id = d.doc_id
         |  LEFT JOIN chits h ON h.doc_id = d.doc_id)""".stripMargin

  override def oracles: Map[String, String] = Map(
    "q50_dedup_exact" ->
      """SELECT COUNT(*) AS n_docs,
        |  COUNT(DISTINCT sha256(text)) AS n_distinct,
        |  COUNT(*) - COUNT(DISTINCT sha256(text)) AS n_exact_dups
        |FROM documents""".stripMargin,
    "q51_ngram_jaccard" ->
      s"""WITH $shingleSql,
         |sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY 1),
         |pairs AS (
         |  SELECT a.doc_id AS da, b.doc_id AS db, COUNT(*) AS shared
         |  FROM sh a JOIN sh b ON a.sh = b.sh AND a.doc_id < b.doc_id
         |  GROUP BY 1, 2)
         |SELECT da, db,
         |  CAST(shared AS DOUBLE) / (sa.n + sb.n - shared) AS jaccard
         |FROM pairs
         |JOIN sizes sa ON da = sa.doc_id
         |JOIN sizes sb ON db = sb.doc_id
         |WHERE CAST(shared AS DOUBLE) / (sa.n + sb.n - shared) >= 0.5""".stripMargin,
    "q52_minhash_lsh" -> s"""WITH $lshCandSql
         |SELECT da, db FROM cand""".stripMargin,
    "q90_neardup_lsh_verify" ->
      s"""WITH $verifiedPairsSql
         |SELECT da, db, jaccard FROM vp""".stripMargin,
    // the census replays the q52 oracle's band pipeline and aggregates
    // the bk CTE instead of self-joining it (cand is present but unused)
    "q215_band_census" -> s"""WITH $lshCandSql
         |SELECT band, band_key, COUNT(*) AS m FROM bk GROUP BY 1, 2""".stripMargin,
    // strip (q186's exact chain) -> cleaned text -> re-band (the q215
    // pipeline under prefix c over the `clean` CTE) -> census
    "q216_strip_recensus" ->
      s"""WITH $spanCteSql,
         |rem AS (SELECT doc_id, s, e FROM sp WHERE has_canon = 0),
         |pos AS (
         |  SELECT doc_id, t, unnest(generate_series(1, len(t))) AS p
         |  FROM toks),
         |kept AS (
         |  SELECT p.doc_id, p.p, p.t[p.p] AS tok
         |  FROM pos p
         |  WHERE NOT EXISTS (
         |    SELECT 1 FROM rem r
         |    WHERE r.doc_id = p.doc_id AND p.p >= r.s AND p.p <= r.e)),
         |ka AS (
         |  SELECT doc_id, COUNT(*) AS kt,
         |    string_agg(tok, ' ' ORDER BY p) AS ct
         |  FROM kept GROUP BY 1),
         |clean AS (
         |  SELECT k.doc_id, COALESCE(ka.ct, '') AS text
         |  FROM toks k LEFT JOIN ka ON ka.doc_id = k.doc_id),
         |${bandChainSql("c", "clean")}
         |SELECT band, band_key, COUNT(*) AS m FROM cbk GROUP BY 1, 2""".stripMargin,
    // connected components over the verified near-dup pairs via a
    // recursive reachability walk: every node's cluster id is the MIN
    // doc id it can reach in the (symmetrized) pair graph.
    "q95_dedup_clusters" ->
      s"""WITH RECURSIVE $verifiedPairsSql,
         |edges AS (
         |  SELECT da AS src, db AS dst FROM vp
         |  UNION ALL
         |  SELECT db AS src, da AS dst FROM vp),
         |walk(node, label) AS (
         |  SELECT src, src FROM edges
         |  UNION
         |  SELECT e.dst, w.label FROM walk w JOIN edges e ON e.src = w.node)
         |SELECT node AS doc_id, MIN(label) AS cluster_id
         |FROM walk GROUP BY node""".stripMargin,
    // identical oracle to q95 on purpose: both run the same engine and
    // must produce the same canonical clusters
    "q112_dedup_clusters_stars" ->
      s"""WITH RECURSIVE $verifiedPairsSql,
         |edges AS (
         |  SELECT da AS src, db AS dst FROM vp
         |  UNION ALL
         |  SELECT db AS src, da AS dst FROM vp),
         |walk(node, label) AS (
         |  SELECT src, src FROM edges
         |  UNION
         |  SELECT e.dst, w.label FROM walk w JOIN edges e ON e.src = w.node)
         |SELECT node AS doc_id, MIN(label) AS cluster_id
         |FROM walk GROUP BY node""".stripMargin,
    // identical oracle to q95 again: incremental maintenance must land
    // on exactly the batch clusters over the unioned pair set
    "q147_incremental_cc" ->
      s"""WITH RECURSIVE $verifiedPairsSql,
         |edges AS (
         |  SELECT da AS src, db AS dst FROM vp
         |  UNION ALL
         |  SELECT db AS src, da AS dst FROM vp),
         |walk(node, label) AS (
         |  SELECT src, src FROM edges
         |  UNION
         |  SELECT e.dst, w.label FROM walk w JOIN edges e ON e.src = w.node)
         |SELECT node AS doc_id, MIN(label) AS cluster_id
         |FROM walk GROUP BY node""".stripMargin,
    "q53_simhash" -> {
      val hexParse =
        """list_reduce(list_transform(string_split_regex(substr(md5(tok), 18, 15), ''),
          |    c -> CAST(strpos('0123456789abcdef', c) - 1 AS BIGINT)), (a, b) -> a * 16 + b)""".stripMargin
      val votes = (0 until 60).map(j =>
        s"SUM(CASE WHEN ((h >> $j) & 1) = 1 THEN 1 ELSE -1 END) AS v_$j")
        .mkString(",\n  ")
      val bits = (0 until 60).map(j =>
        s"CASE WHEN v_$j > 0 THEN (CAST(1 AS BIGINT) << $j) ELSE CAST(0 AS BIGINT) END")
        .mkString("\n  + ")
      s"""WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents),
         |hh AS (SELECT doc_id, $hexParse AS h FROM tok),
         |votes AS (SELECT doc_id, $votes FROM hh GROUP BY doc_id)
         |SELECT doc_id, $bits AS simhash FROM votes""".stripMargin
    },
    "q54_cosine_topk" -> exactTopkSql,
    "q86_cosine_neardup" ->
      s"""WITH $cosinePairsSql
         |SELECT va, vb, cosine FROM cp""".stripMargin,
    // connected components over the embedding near-dup pairs — the
    // embedding-side sibling of q95 (same recursive reachability walk).
    "q96_embed_clusters" ->
      s"""WITH RECURSIVE $cosinePairsSql,
         |edges AS (
         |  SELECT va AS src, vb AS dst FROM cp
         |  UNION ALL
         |  SELECT vb AS src, va AS dst FROM cp),
         |walk(node, label) AS (
         |  SELECT src, src FROM edges
         |  UNION
         |  SELECT e.dst, w.label FROM walk w JOIN edges e ON e.src = w.node)
         |SELECT node AS vec_id, MIN(label) AS cluster_id
         |FROM walk GROUP BY node""".stripMargin,
    // full probing (nProbe = nLists) makes IVF scan every list, so its
    // result is EXACTLY the brute-force top-k — a hash-exact oracle for
    // the ANN plumbing (coarse quantizer, probe join, per-list ranking)
    // regardless of the clustering.
    "q85_ann_ivf" -> exactTopkSql,
    "q55_langid" ->
      s"""SELECT doc_id,
         |  CAST(len(list_filter(string_split(text, ' '), x -> x IN ($stopSql))) AS DOUBLE)
         |    / len(string_split(text, ' ')) AS stop_ratio,
         |  CASE WHEN CAST(len(list_filter(string_split(text, ' '), x -> x IN ($stopSql))) AS DOUBLE)
         |    / len(string_split(text, ' ')) >= 0.05 THEN 'en' ELSE 'und' END AS pred_lang
         |FROM documents""".stripMargin,
    "q56_quality_score" ->
      s"""WITH base AS (
         |  SELECT doc_id,
         |    length(text) AS n_chars,
         |    len(string_split(text, ' ')) AS n_tokens,
         |    CAST(len(regexp_extract_all(text, '[^a-z0-9 ]')) AS DOUBLE) / length(text) AS punct_ratio,
         |    CAST(len(list_filter(string_split(text, ' '), x -> x IN ($stopSql))) AS DOUBLE)
         |      / len(string_split(text, ' ')) AS stop_ratio,
         |    CAST(length(text) AS DOUBLE) / len(string_split(text, ' ')) AS mean_tok_len
         |  FROM documents)
         |SELECT doc_id, n_chars, n_tokens, punct_ratio, stop_ratio, mean_tok_len,
         |  0.4 * least(CAST(n_tokens AS DOUBLE) / 100.0, 1.0)
         |  + 0.3 * (1.0 - punct_ratio)
         |  + 0.3 * least(stop_ratio * 10.0, 1.0) AS quality
         |FROM base""".stripMargin,
    "q57_token_count" ->
      """SELECT doc_id,
        |  len(string_split(text, ' ')) AS ws_tokens,
        |  len(regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9 ]')) AS bpe_tokens
        |FROM documents""".stripMargin,
    "q97_tfidf" ->
      """WITH tok AS (
        |  SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents),
        |tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM tok GROUP BY 1, 2),
        |len AS (SELECT doc_id, COUNT(*) AS len FROM tok GROUP BY 1),
        |dfreq AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY 1),
        |nn AS (SELECT COUNT(DISTINCT doc_id) AS n FROM documents),
        |scored AS (
        |  SELECT t.doc_id, t.term,
        |    round((CAST(t.tf AS DOUBLE) / l.len)
        |      * (ln((nn.n + 1.0) / (d.df + 1.0)) + 1.0), 6) AS tfidf
        |  FROM tf t
        |  JOIN len l USING (doc_id)
        |  JOIN dfreq d USING (term)
        |  CROSS JOIN nn),
        |ranked AS (
        |  SELECT doc_id, term, tfidf,
        |    row_number() OVER (PARTITION BY doc_id ORDER BY tfidf DESC, term) AS rn
        |  FROM scored)
        |SELECT doc_id, term, tfidf, rn FROM ranked WHERE rn <= 5""".stripMargin,
    "q58_fingerprint" ->
      """SELECT doc_id,
        |  substr(sha256(trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', '', 'g'), ' +', ' ', 'g'))), 1, 16) AS fingerprint
        |FROM documents""".stripMargin,
    "q59_multimodal_bytes" ->
      """SELECT doc_id,
        |  octet_length(encode(text)) AS n_bytes,
        |  upper(substr(hex(encode(text)), 1, 8)) AS magic,
        |  sha256(text) AS content_sha
        |FROM documents""".stripMargin,
    "q64_resize_plan" -> {
      def hexParse(expr: String) =
        s"""list_reduce(list_transform(string_split_regex($expr, ''),
           |    c -> CAST(strpos('0123456789abcdef', c) - 1 AS BIGINT)), (a, b) -> a * 16 + b)""".stripMargin
      s"""WITH hx AS (SELECT doc_id, md5(text) AS hx FROM documents),
         |dims AS (
         |  SELECT doc_id,
         |    CAST(64 + (${hexParse("substr(hx, 1, 7)")} % 512) AS INT) AS w,
         |    CAST(64 + (${hexParse("substr(hx, 8, 7)")} % 512) AS INT) AS h
         |  FROM hx),
         |sc AS (
         |  SELECT doc_id, w, h,
         |    least(1.0, least(224.0 / w, 224.0 / h)) AS scale_f
         |  FROM dims)
         |SELECT doc_id, w, h,
         |  greatest(1, CAST(round(w * scale_f) AS INT)) AS out_w,
         |  greatest(1, CAST(round(h * scale_f) AS INT)) AS out_h,
         |  scale_f
         |FROM sc""".stripMargin
    },

    "q125_contamination" ->
      """WITH toks AS (
        |  SELECT doc_id, string_split(text, ' ') AS t FROM documents),
        |idx AS (
        |  SELECT doc_id, t,
        |    unnest(generate_series(1, greatest(len(t) - 4, 0))) AS i
        |  FROM toks),
        |sh5 AS (
        |  SELECT DISTINCT doc_id,
        |    t[i] || ' ' || t[i+1] || ' ' || t[i+2] || ' ' || t[i+3]
        |      || ' ' || t[i+4] AS sh
        |  FROM idx),
        |bench AS (SELECT DISTINCT sh FROM sh5 WHERE doc_id % 11 = 0),
        |corpus AS (SELECT doc_id, sh FROM sh5 WHERE doc_id % 11 <> 0),
        |docs AS (SELECT DISTINCT doc_id FROM corpus),
        |hits AS (
        |  SELECT c.doc_id, COUNT(*) AS h
        |  FROM corpus c JOIN bench b ON c.sh = b.sh
        |  GROUP BY 1)
        |SELECT d.doc_id,
        |  CAST(COALESCE(h.h, 0) AS BIGINT) AS n_hits,
        |  COALESCE(h.h, 0) >= 3 AS contaminated
        |FROM docs d LEFT JOIN hits h ON d.doc_id = h.doc_id""".stripMargin,

    "q126_ngram_freq" ->
      """WITH toks AS (
        |  SELECT doc_id, string_split(text, ' ') AS t FROM documents),
        |idx AS (
        |  SELECT doc_id, t,
        |    unnest(generate_series(1, greatest(len(t) - 2, 0))) AS i
        |  FROM toks),
        |grams AS (
        |  SELECT t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS sh FROM idx)
        |SELECT sh, COUNT(*) AS n FROM grams
        |GROUP BY 1 ORDER BY n DESC, sh LIMIT 50""".stripMargin,

    // NOTE: plain concatenation — corpusFilterSql is already margin-
    // stripped, and a second stripMargin would eat the `||` string-
    // concat continuations inside it.
    "q127_corpus_filter" ->
      (corpusFilterSql +
        "\nSELECT doc_id, reason = 'keep' AS keep, reason FROM labeled"),

    "q137_source_report" ->
      (corpusFilterSql +
        "\nSELECT d2.source, l.reason, COUNT(*) AS n" +
        "\nFROM labeled l JOIN documents d2 ON d2.doc_id = l.doc_id" +
        "\nGROUP BY 1, 2"),


    "q128_repetition" ->
      """WITH tok AS (
        |  SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents),
        |n AS (SELECT doc_id, COUNT(*) AS n_tokens FROM tok GROUP BY 1),
        |t1 AS (
        |  SELECT doc_id, MAX(c) AS top_tok FROM (
        |    SELECT doc_id, tok, COUNT(*) AS c FROM tok GROUP BY 1, 2) x
        |  GROUP BY 1),
        |toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
        |idx AS (
        |  SELECT doc_id, t,
        |    unnest(generate_series(1, greatest(len(t) - 1, 0))) AS i
        |  FROM toks),
        |bg AS (SELECT doc_id, t[i] || ' ' || t[i+1] AS bg FROM idx),
        |t2 AS (
        |  SELECT doc_id, MAX(c) AS top_big, COUNT(*) AS n_distinct_bg,
        |    SUM(c) AS n_bg
        |  FROM (SELECT doc_id, bg, COUNT(*) AS c FROM bg GROUP BY 1, 2) x
        |  GROUP BY 1)
        |SELECT n.doc_id,
        |  CAST(t1.top_tok AS DOUBLE) / n.n_tokens AS top_token_share,
        |  CAST(t2.top_big AS DOUBLE) / t2.n_bg AS top_bigram_share,
        |  1.0 - CAST(t2.n_distinct_bg AS DOUBLE) / t2.n_bg AS dup_bigram_frac,
        |  CAST(t1.top_tok AS DOUBLE) / n.n_tokens > 0.2
        |    OR 1.0 - CAST(t2.n_distinct_bg AS DOUBLE) / t2.n_bg > 0.5
        |    AS repetitive
        |FROM n JOIN t1 ON t1.doc_id = n.doc_id JOIN t2 ON t2.doc_id = n.doc_id""".stripMargin,

    "q135_incremental_dedup" ->
      s"""WITH $verifiedPairsSql
         |SELECT
         |  CASE WHEN da % 10 = 7 THEN da ELSE db END AS new_doc,
         |  CASE WHEN da % 10 = 7 THEN db ELSE da END AS old_doc,
         |  jaccard
         |FROM vp
         |WHERE (da % 10 = 7) <> (db % 10 = 7)""".stripMargin,

    "q185_dup_spans" ->
      s"""WITH $spanCteSql,
         |pd AS (
         |  SELECT doc_id, COUNT(*) AS ns, SUM(e - s + 1) AS dt,
         |    SUM(CASE WHEN has_canon = 0 THEN e - s + 1 ELSE 0 END) AS rt,
         |    MAX(e - s + 1) AS ms
         |  FROM sp GROUP BY 1)
         |SELECT k.doc_id, CAST(len(k.t) AS BIGINT) AS n_tokens,
         |  CAST(COALESCE(pd.ns, 0) AS BIGINT) AS n_spans,
         |  CAST(COALESCE(pd.dt, 0) AS BIGINT) AS dup_tokens,
         |  CAST(COALESCE(pd.rt, 0) AS BIGINT) AS removed_tokens,
         |  CAST(COALESCE(pd.ms, 0) AS BIGINT) AS max_span_tokens,
         |  CAST(COALESCE(pd.dt, 0) AS DOUBLE) / len(k.t) AS dup_frac,
         |  CAST(COALESCE(pd.dt, 0) AS DOUBLE) / len(k.t) > 0.3 AS heavy_dup
         |FROM toks k LEFT JOIN pd ON pd.doc_id = k.doc_id""".stripMargin,

    "q186_span_strip" ->
      s"""WITH $spanCteSql,
         |rem AS (SELECT doc_id, s, e FROM sp WHERE has_canon = 0),
         |pos AS (
         |  SELECT doc_id, t, unnest(generate_series(1, len(t))) AS p
         |  FROM toks),
         |kept AS (
         |  SELECT p.doc_id, p.p, p.t[p.p] AS tok
         |  FROM pos p
         |  WHERE NOT EXISTS (
         |    SELECT 1 FROM rem r
         |    WHERE r.doc_id = p.doc_id AND p.p >= r.s AND p.p <= r.e)),
         |ka AS (
         |  SELECT doc_id, COUNT(*) AS kt,
         |    string_agg(tok, ' ' ORDER BY p) AS ct
         |  FROM kept GROUP BY 1)
         |SELECT k.doc_id,
         |  CAST(COALESCE(ka.kt, 0) AS BIGINT) AS kept_tokens,
         |  md5(COALESCE(ka.ct, '')) AS clean_md5
         |FROM toks k LEFT JOIN ka ON ka.doc_id = k.doc_id""".stripMargin,

    "q187_lm_quality" ->
      s"""WITH toks AS (
         |  SELECT doc_id, string_split(text, ' ') AS t FROM documents),
         |bidx AS (
         |  SELECT doc_id, t,
         |    unnest(generate_series(1, greatest(len(t) - 1, 0))) AS i
         |  FROM toks),
         |bg AS (SELECT doc_id, t[i] AS w1, t[i+1] AS w2 FROM bidx),
         |v AS (
         |  SELECT COUNT(DISTINCT tok) AS v FROM (
         |    SELECT unnest(string_split(text, ' ')) AS tok FROM documents)),
         |cnt AS (SELECT w1, w2, COUNT(*) AS c FROM bg GROUP BY 1, 2),
         |ctx AS (SELECT w1, COUNT(*) AS cw FROM bg GROUP BY 1),
         |nll AS (
         |  SELECT b.doc_id,
         |    -ln(CAST(c.c + 1 AS DOUBLE) / (x.cw + v.v)) AS nll
         |  FROM bg b
         |  JOIN cnt c ON b.w1 = c.w1 AND b.w2 = c.w2
         |  JOIN ctx x ON b.w1 = x.w1
         |  CROSS JOIN v),
         |pd AS (
         |  SELECT doc_id, COUNT(*) AS nb,
         |    ${graft.queries.Det.sqlQsum("nll", "1e9")} AS sx
         |  FROM nll GROUP BY 1),
         |px AS (SELECT doc_id, nb, sx / nb AS x FROM pd)
         |SELECT d.doc_id,
         |  CAST(COALESCE(px.nb, 0) AS BIGINT) AS n_bigrams,
         |  px.x AS xent,
         |  COALESCE(px.x > 3.45, FALSE) AS low_quality
         |FROM documents d LEFT JOIN px ON px.doc_id = d.doc_id""".stripMargin,
    "q203_fuzzy_refine" ->
      s"""WITH $lshCandSql
         |SELECT c.da, c.db,
         |  CAST(levenshtein(a.text, b.text) AS BIGINT) AS dist,
         |  1.0 - CAST(levenshtein(a.text, b.text) AS DOUBLE) /
         |    greatest(length(a.text), length(b.text)) AS edit_sim,
         |  1.0 - CAST(levenshtein(a.text, b.text) AS DOUBLE) /
         |    greatest(length(a.text), length(b.text)) >= 0.4 AS is_fuzzy_dup
         |FROM cand c
         |JOIN documents a ON a.doc_id = c.da
         |JOIN documents b ON b.doc_id = c.db""".stripMargin,
    "q202_textrank" -> {
      def iter(i: Int): String = {
        val p = s"pr${i - 1}"
        s"""m$i AS (
           |  SELECT e.dst,
           |    SUM((CAST(p.pr AS HUGEINT) * CAST(e.w AS HUGEINT)) // p.wdeg)
           |      AS msg
           |  FROM edges e JOIN $p p ON p.node = e.src GROUP BY 1),
           |pr$i AS MATERIALIZED (
           |  SELECT p.node, p.wdeg, p.unit,
           |    (15 * p.unit + 85 * COALESCE(m.msg, 0)) // 100 AS pr
           |  FROM $p p LEFT JOIN m$i m ON m.dst = p.node)""".stripMargin
      }
      s"""WITH toks AS (
         |  SELECT string_split(text, ' ') AS t FROM documents),
         |bidx AS (
         |  SELECT t, unnest(generate_series(1, greatest(len(t) - 1, 0))) AS i
         |  FROM toks),
         |adj AS (
         |  SELECT least(t[i], t[i+1]) AS a, greatest(t[i], t[i+1]) AS b,
         |    COUNT(*) AS w
         |  FROM bidx
         |  WHERE t[i] <> t[i+1] AND t[i] <> '' AND t[i+1] <> ''
         |  GROUP BY 1, 2),
         |edges AS (
         |  SELECT a AS src, b AS dst, w FROM adj
         |  UNION ALL
         |  SELECT b AS src, a AS dst, w FROM adj),
         |deg AS (SELECT src, SUM(w) AS wdeg FROM edges GROUP BY 1),
         |u AS (SELECT 1000000000000 // COUNT(*) AS unit FROM deg),
         |pr0 AS MATERIALIZED (
         |  SELECT d.src AS node, d.wdeg, u.unit, u.unit AS pr
         |  FROM deg d CROSS JOIN u),
         |${(1 to 8).map(iter).mkString(",\n")}
         |SELECT node AS token, CAST(pr AS BIGINT) AS pr_q,
         |  CAST(pr AS DOUBLE) / 1e12 AS score
         |FROM pr8""".stripMargin
    },
    "q196_bloom_prefilter" -> {
      // 60 bits of md5 → BIGINT (the shared hexParse idiom)
      def hexParse(x: String) =
        s"""list_reduce(list_transform(string_split_regex(substr(md5($x), 18, 15), ''),
           |      c -> CAST(strpos('0123456789abcdef', c) - 1 AS BIGINT)), (a, b) -> a * 16 + b)""".stripMargin
      s"""WITH hist AS (
         |  SELECT doc_id, text FROM documents WHERE doc_id % 4 <> 0),
         |shard AS (
         |  SELECT s.doc_id, COALESCE(h.text, s.text) AS text
         |  FROM (SELECT doc_id, text FROM documents WHERE doc_id % 4 = 0) s
         |  LEFT JOIN hist h ON h.doc_id = s.doc_id + 1 AND s.doc_id % 3 = 0),
         |hk AS (SELECT DISTINCT md5(text) AS k FROM hist),
         |ks AS (SELECT unnest(['0', '1', '2', '3']) AS i),
         |hp AS (
         |  SELECT DISTINCT ${hexParse("i || ':' || k")} % 65536 AS p
         |  FROM hk CROSS JOIN ks),
         |sk AS (SELECT doc_id, md5(text) AS k FROM shard),
         |sp AS (
         |  SELECT doc_id, ${hexParse("i || ':' || k")} % 65536 AS p
         |  FROM sk CROSS JOIN ks),
         |hits AS (
         |  SELECT doc_id, COUNT(*) AS nhit FROM sp JOIN hp USING (p) GROUP BY 1),
         |hp2 AS (
         |  SELECT DISTINCT ${hexParse("i || ':' || k")} % 2048 AS p
         |  FROM hk CROSS JOIN ks),
         |sp2 AS (
         |  SELECT doc_id, ${hexParse("i || ':' || k")} % 2048 AS p
         |  FROM sk CROSS JOIN ks),
         |hits2 AS (
         |  SELECT doc_id, COUNT(*) AS nhit FROM sp2 JOIN hp2 USING (p) GROUP BY 1)
         |SELECT s.doc_id,
         |  COALESCE(h.nhit, 0) = 4 AS bloom_hit,
         |  COALESCE(h2.nhit, 0) = 4 AS bloom_hit_small,
         |  (e.k IS NOT NULL) AS exact_dup
         |FROM sk s
         |LEFT JOIN hits h USING (doc_id)
         |LEFT JOIN hits2 h2 USING (doc_id)
         |LEFT JOIN hk e ON e.k = s.k""".stripMargin
    }
  )
}
