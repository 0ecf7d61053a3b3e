package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** Connected components by iterative min-label propagation — the
  * operator that turns near-dup PAIRS (q90/q52/q86) into dedup GROUPS:
  * every document in a component gets the component's minimum doc id as
  * its cluster id, so `doc_id == cluster_id` selects one canonical
  * representative per group and the rest are the removable duplicates.
  *
  * Scale design: each round is one shuffle (edge join + min aggregate);
  * rounds needed = graph diameter. Near-dup graphs are unions of small
  * dense clusters (duplicates of one source document), so the diameter
  * is tiny in practice — for adversarial long-chain graphs use
  * [[runStars]], the alternating large-star/small-star contraction
  * (Kiveris, Lattanzi, Mirrokni, Rastogi, Vassilvitskii 2014), which
  * converges in O(log² n) rounds worst-case (observed ≈log n) instead
  * of O(diameter). Both variants localCheckpoint each round, so lineage
  * (and the logical plan) stays O(1) across iterations and nothing is
  * left pinned when they return.
  */
object ConnectedComponents {

  /** The input as (src, dst) longs; an edge with a null endpoint is not
    * an edge, so it is dropped here for both entry points. */
  private def edgeSet(edges: DataFrame, srcCol: String, dstCol: String): DataFrame =
    edges.select(col(srcCol).cast("long").as("src"), col(dstCol).cast("long").as("dst"))
      .where(col("src").isNotNull && col("dst").isNotNull)

  /** `edges`: two numeric columns (src, dst), undirected (one direction
    * suffices); an edge with a null endpoint is not an edge, so it is
    * dropped on input. Returns (node, component) for every endpoint node,
    * component = min node id in the connected component. The result is
    * eagerly `localCheckpoint`ed (one cheap read of the final round's
    * already-pinned cache) and every round cache is released before
    * returning: repeated calls in one session (bench reps, a dedup
    * pipeline clustering many pair sets) pin nothing across calls, and
    * the checkpoint blocks are reclaimed by the ContextCleaner once the
    * caller drops the frame.
    *
    * Hybrid local finish (r19, mirroring [[runStars]]): the symmetrized
    * edge persist's own count is one cheap aggregate; when the edge set
    * is ≤ `localFinishEdges` the whole component labeling is a bounded
    * driver union-find (min-root, identical contract) instead of
    * O(diameter) distributed rounds — at bench scale a few-hundred-pair
    * near-dup graph paid ~7 scheduling-bound jobs for 2-3 propagation
    * rounds over kilobytes. At 100 TB the pair set exceeds the bound and
    * the distributed path below is unchanged. `localFinishEdges = 0`
    * forces the pure distributed path for any non-empty edge set (the
    * round-count/convergence specs use it). */
  def run(edges: DataFrame, srcCol: String = "src", dstCol: String = "dst",
      maxIter: Int = 50, localFinishEdges: Long = 100000L): DataFrame = {
    val e = edgeSet(edges, srcCol, dstCol)
    // symmetrize once so propagation flows both ways. ONE pass via
    // explode: the old self-union evaluated the (possibly expensive —
    // q95's LSH pair generation) input pipeline twice at persist
    // materialization and doubled the cached partition count, so every
    // propagation round downstream paid 2× the tasks for the same rows.
    val symBase = e.select(explode(array(
        struct(col("src").as("s"), col("dst").as("d")),
        struct(col("dst").as("s"), col("src").as("d")))).as("p"))
      .select(col("p.s").as("src"), col("p.d").as("dst"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    // one bounded count on the persisted frame — the materialization the
    // loop (or the labels init) would pay anyway, surfaced as the
    // local-finish gate
    val nSym = symBase.count()
    if (nSym <= 2L * localFinishEdges) {
      // ≤ 2·bound symmetrized rows — the same explicit driver bound as
      // runStars' local finish (~1.6 MB of longs per 100k edges)
      val rows = symBase.collect().map(r => (r.getLong(0), r.getLong(1)))
      symBase.unpersist()
      val s = edges.sparkSession
      import s.implicits._
      return minRootLabels(rows).toSeq.toDF("node", "component")
    }
    // Distributed path only (r20, guide §2.4 "two operations keyed the
    // same way can share one exchange"): every propagation round joins
    // the edge set on src, and each round is a separate job, so the
    // un-partitioned cache paid a full-width Exchange (plus the
    // sort-merge sort) of the ENTIRE edge set per round — O(rounds)
    // re-shuffles of the largest frame in the loop. Re-cache the frame
    // hash-partitioned on src (the same partitioning the per-round
    // Exchange produced) and sorted, so every round's join consumes the
    // cache directly and the per-round Exchange + sort disappear for
    // the edge side. The one-off shuffle here replaces round 1's own
    // exchange; the local-finish path above never pays it.
    val sym = symBase
      .repartition(col("src"))
      .sortWithinPartitions(col("src"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    // Each round's labels are EAGERLY localCheckpoint'ed rather than
    // persisted: a round references its input twice (propagation join +
    // union), so the LOGICAL plan doubles per round even under persist
    // (caching truncates recomputation, not the plan tree) and the plan
    // string alone OOMs past ~15 rounds. Checkpointing resets lineage to
    // a scan each round; the previous round's blocks are reclaimed by
    // the ContextCleaner when the reassignment drops their reference —
    // nothing stays pinned after run() returns.
    var labels = sym.select(col("src").as("node")).distinct()
      .withColumn("label", col("node"))
      .localCheckpoint(true)
    // the labels init just materialized the partitioned cache; the
    // un-partitioned base cache has no further reader — release it now
    // rather than carrying both through the rounds
    symBase.unpersist()
    var converged = false
    var i = 0
    // convergence witness: per-node labels are monotone non-increasing,
    // so the label SUM strictly decreases every non-converged round —
    // one cheap aggregate on the checkpointed frame instead of a probe
    // join. DECIMAL(38,0) accumulation keeps the witness exact (a double
    // sum over ~1e9 64-bit ids could hide a small decrease below ulp)
    var prevSum: java.math.BigDecimal = null
    while (!converged && i < maxIter) {
      // each node takes the min of its own label and its neighbors'.
      // The convergence sum rides the round's OWN materialization: an
      // `observe` ahead of the eager localCheckpoint collects during the
      // checkpoint job (withAction fires the observation listener), so
      // no separate per-round aggregate job is paid.
      val obs = org.apache.spark.sql.Observation(s"cc_sig_$i")
      val next = sym.join(labels, sym("src") === labels("node"))
        .select(col("dst").as("node"), col("label"))
        .union(labels)
        .groupBy(col("node")).agg(min(col("label")).as("new_label"))
        .observe(obs, sum(col("new_label").cast("decimal(38,0)")).as("s"))
        .localCheckpoint(true)
      val s = obs.get("s").asInstanceOf[java.math.BigDecimal]
      // SUM over an empty frame is NULL: an empty edge set has no labels
      // to propagate and is converged by definition (empty result)
      converged = s == null || (prevSum != null && s.compareTo(prevSum) == 0)
      prevSum = s
      labels = next.select(col("node"), col("new_label").as("label"))
      i += 1
    }
    sym.unpersist()
    require(converged, s"connected components did not converge in $maxIter rounds")
    labels.select(col("node"), col("label").as("component"))
  }

  /** Alternating large-star/small-star contraction (Kiveris et al. 2014,
    * "Connected Components in MapReduce and Beyond", Algorithm 2) — same
    * (node, component=min id) contract as [[run]], but rounds scale as
    * O(log² n) worst-case (≈log n observed) instead of O(diameter):
    * the variant for adversarial long-chain graphs, where min-label
    * propagation would need diameter rounds. Null-endpoint edges are
    * dropped on input, as in [[run]].
    *
    *  - large-star(u): every neighbor v > u re-attaches to
    *    m(u) = min(N(u) ∪ u) — hooks high nodes straight onto minima.
    *  - small-star(u): every neighbor v < u, and u itself, re-attach to
    *    m(u) — flattens the low end into stars.
    *
    * Both preserve connectivity exactly (paper, Lemmas 1-2); the fixpoint
    * is a forest of stars rooted at component minima. Each half-round is
    * one aggregate + one join on the edge set. Convergence: a cheap
    * per-round signature (count + exact DECIMAL sums of both endpoints);
    * when the signature repeats, an EXACT set-equality check (two
    * anti-joins) confirms the fixpoint — the signature alone cannot prove
    * set equality, and a false stall here would return wrong labels.
    *
    * Hybrid local finish: the contraction shrinks the edge set
    * geometrically, so the tail rounds run full distributed-shuffle
    * machinery over a few thousand edges — on a busy cluster scheduler
    * those fixed-cost rounds dominate. Once the edge count (known
    * EXACTLY from the round's own observed signature — never a blind
    * collect) is ≤ `localFinishEdges`, the remaining edges are drained
    * to the driver and finished with a union-find whose roots are
    * component minima — semantically the same star fixpoint, zero
    * further rounds. 100k edges = ~1.6 MB of longs, driver-safe by
    * construction; pass `localFinishEdges = 0` to force the pure
    * distributed path (the round-count specs do). */
  def runStars(edges: DataFrame, srcCol: String = "src", dstCol: String = "dst",
      maxIter: Int = 60, localFinishEdges: Long = 100000L): DataFrame =
    runStarsCounted(edges, srcCol, dstCol, maxIter, localFinishEdges)._1

  /** [[runStars]] plus the number of DISTRIBUTED (large-star +
    * small-star) rounds taken — exposed so the O(log n) round-count
    * claim is spec-testable; a local finish adds no rounds. */
  def runStarsCounted(edges: DataFrame, srcCol: String = "src",
      dstCol: String = "dst", maxIter: Int = 60,
      localFinishEdges: Long = 100000L): (DataFrame, Int) = {
    // persisted for the whole call: BOTH the canonical edge set below and
    // the labeling tail's `allNodes` read e0 — unpersisted, the input
    // pipeline (q112's LSH pair generation: a multi-join) would run twice
    val e0 = edgeSet(edges, srcCol, dstCol).persist(StorageLevel.MEMORY_AND_DISK)
    // original endpoint set: the output contract is one label per
    // endpoint node, including self-loop-only singletons that the
    // star transforms drop with their self-loops. explode, not
    // self-union: one pass over the cached edges, half the partitions.
    val allNodes = e0
      .select(explode(array(col("src"), col("dst"))).as("node")).distinct()

    def largeStar(es: DataFrame): DataFrame = {
      val sym = es.select(explode(array(
          struct(col("src").as("s"), col("dst").as("d")),
          struct(col("dst").as("s"), col("src").as("d")))).as("p"))
        .select(col("p.s").as("src"), col("p.d").as("dst"))
      val m = sym.groupBy(col("src")).agg(min(col("dst")).as("mn"))
        .select(col("src"), least(col("src"), col("mn")).as("m"))
      // (v, m(u)) for v ∈ N(u), v > u; v > u ≥ m(u) keeps the src > dst
      // orientation and makes self-loops impossible
      sym.join(m, "src").where(col("dst") > col("src"))
        .select(col("dst").as("src"), col("m").as("dst")).distinct()
    }
    // input oriented src > dst, so m(u) over smaller neighbors = min(dst)
    def smallStar(es: DataFrame): DataFrame = {
      val m = es.groupBy(col("src")).agg(min(col("dst")).as("m"))
      es.join(m, "src")
        .select(col("dst").as("src"), col("m").as("dst"))
        .where(col("src") =!= col("dst"))
        .union(m.select(col("src"), col("m").as("dst")))
        .distinct()
    }

    // canonical orientation (max, min), self-loops dropped. Each round's
    // edge set is EAGERLY localCheckpoint'ed, not persisted: a round
    // references its input several times (symmetrize union + min-agg
    // join), so the logical plan would grow ~4× per round and the plan
    // STRING alone OOMs by round ~15 — checkpointing truncates lineage
    // to a fresh scan every round (cache-only truncates recomputation).
    val obs0 = org.apache.spark.sql.Observation("stars_sig_init")
    var e = e0.where(col("src") =!= col("dst"))
      .select(greatest(col("src"), col("dst")).as("src"),
        least(col("src"), col("dst")).as("dst")).distinct()
      .observe(obs0, count(lit(1)).as("n"))
      .localCheckpoint(true)
    var eCount = obs0.get("n").asInstanceOf[Long]
    var converged = eCount == 0L // no edges: already a (possibly empty) star forest
    var i = 0
    var prevSig: (Long, java.math.BigDecimal, java.math.BigDecimal) = null
    while (!converged && i < maxIter) {
      if (eCount <= localFinishEdges) {
        // drain the contracted tail to the driver: row count is the
        // observed signature count, ≤ localFinishEdges by the branch
        // guard, so this collect is explicitly bounded
        e = localStarFinish(e)
        converged = true
      } else {
        // largeStar's output feeds smallStar twice (min-agg + join back):
        // persist for the round, release once `next` is materialized.
        // The signature rides the round's own checkpoint job via observe
        // (see run()) — previously a separate .head() job per round.
        val ls = largeStar(e).persist(StorageLevel.MEMORY_AND_DISK)
        val obs = org.apache.spark.sql.Observation(s"stars_sig_$i")
        val next = smallStar(ls)
          .observe(obs,
            count(lit(1)).as("n"),
            sum(col("src").cast("decimal(38,0)")).as("ssrc"),
            sum(col("dst").cast("decimal(38,0)")).as("sdst"))
          .localCheckpoint(true)
        val m = obs.get
        val sig = (m("n").asInstanceOf[Long],
          m("ssrc").asInstanceOf[java.math.BigDecimal],
          m("sdst").asInstanceOf[java.math.BigDecimal])
        if (sig == prevSig) {
          // signature stalled — prove the fixpoint exactly before stopping
          converged = next.exceptAll(e).isEmpty && e.exceptAll(next).isEmpty
        }
        prevSig = sig
        eCount = sig._1
        ls.unpersist()
        // previous round's checkpoint blocks are reclaimed by the
        // ContextCleaner once this reassignment drops the last reference
        e = next
        i += 1
      }
    }
    require(converged, s"star contraction did not converge in $maxIter rounds")
    // fixpoint edges are (member, root) stars; roots label themselves,
    // and self-loop-only singletons (no star edge) label themselves too
    val labeled = e.select(col("src").as("node"), col("dst").as("component"))
      .union(e.select(col("dst").as("node"), col("dst").as("component")).distinct())
    val singletons = allNodes.join(labeled.select("node"), Seq("node"), "left_anti")
      .select(col("node"), col("node").as("component"))
    val out = labeled.union(singletons).distinct().localCheckpoint(true)
    e0.unpersist() // out is materialized; nothing pinned across calls
    (out, i)
  }

  /** Deterministic soak graph for the bench: `clusters` dense 6-node
    * star clusters (the real near-dup shape — shallow) plus `chains`
    * chains of `chainLen` nodes (the adversarial-diameter shape), node
    * id ranges disjoint. ~1M edges at the defaults: min-propagation
    * pays O(chainLen) rounds on the chains while the star contraction
    * stays O(log n) + a bounded local finish — the crossover the class
    * header claims, measured instead of asserted. */
  def soakEdges(spark: org.apache.spark.sql.SparkSession,
      clusters: Long = 100000L, chains: Long = 16000L,
      chainLen: Long = 32L): DataFrame = {
    val cl = spark.range(clusters * 6)
      .where(col("id") % 6 =!= 0)
      .select(col("id").as("src"), (col("id") - col("id") % 6).as("dst"))
    // NB: `/` on longs is TRUE division in Spark SQL (returns double);
    // chain arithmetic needs integer `div` or node ids go fractional
    val perChain = chainLen - 1
    val pos = expr(s"10000000L + (id div $perChain) * $chainLen + (id % $perChain)")
    val ch = spark.range(chains * perChain)
      .select(pos.as("src"), (pos + 1).as("dst"))
    cl.union(ch)
  }

  /** Drain a ≤`localFinishEdges`-row contracted edge set to the driver
    * and finish with a min-root union-find: union always attaches the
    * larger root under the smaller, so every root is its component's
    * minimum — exactly the star fixpoint the distributed rounds converge
    * to. Returns the (member → root) star edges; the caller's labeling
    * tail treats them identically to a distributed fixpoint. */
  private def localStarFinish(e: DataFrame): DataFrame = {
    val s = e.sparkSession
    import s.implicits._
    val rows = e.select(col("src"), col("dst")).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    minRootStars(rows).toSeq.toDF("src", "dst")
  }

  /** Driver min-root union-find labeling EVERY endpoint node (roots and
    * singleton self-loops label themselves) — the complete (node,
    * component) contract of [[run]], for its bounded local-finish branch.
    * Same arithmetic as [[minRootStars]] minus the non-root filter. */
  private[operators] def minRootLabels(
      rows: Array[(Long, Long)]): Iterator[(Long, Long)] =
    unionFind(rows) { (nodes, find) => nodes.iterator.map(n => (n, find(n))) }

  /** Driver min-root union-find over edge tuples: returns (node → root)
    * for every NON-root node — the star edges of the fixpoint. Shared by
    * the hybrid local finish above and [[IncrementalCC]]'s micro-batch
    * fast path; callers must have bounded the edge count before
    * collecting. */
  private[operators] def minRootStars(
      rows: Array[(Long, Long)]): Iterator[(Long, Long)] =
    unionFind(rows) { (nodes, find) =>
      nodes.iterator.map(n => (n, find(n))).filter(p => p._1 != p._2)
    }

  /** Shared min-root union-find: union attaches the larger root under
    * the smaller, so every root is its component's minimum. `k` receives
    * the insertion-ordered endpoint set and the find function. */
  private def unionFind[A](rows: Array[(Long, Long)])(
      k: (scala.collection.mutable.LinkedHashSet[Long], Long => Long) => A): A = {
    val parent = scala.collection.mutable.LongMap.empty[Long]
    def find(x0: Long): Long = {
      var r = x0
      while (parent.getOrElse(r, r) != r) r = parent(r)
      var c = x0
      while (c != r) { val n = parent(c); parent(c) = r; c = n }
      r
    }
    rows.foreach { case (a, b) =>
      val ra = find(a); val rb = find(b)
      if (ra != rb) { if (ra < rb) parent(rb) = ra else parent(ra) = rb }
    }
    val nodes = scala.collection.mutable.LinkedHashSet.empty[Long]
    rows.foreach { case (a, b) => nodes += a; nodes += b }
    k(nodes, find)
  }
}
