package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** Connected components — the operator that turns near-dup PAIRS
  * (q90/q52/q86) into dedup GROUPS: every document in a component gets
  * the component's minimum doc id as its cluster id, so
  * `doc_id == cluster_id` selects one canonical representative per group
  * and the rest are the removable duplicates.
  *
  * One engine, [[run]], with two regimes:
  *  - a graph whose symmetrized edge set fits a bounded driver collect
  *    (every bench- and verify-scale pair graph) is labeled by one
  *    min-root union-find on the driver, after one count;
  *  - past that bound, the alternating large-star/small-star contraction
  *    (Kiveris, Lattanzi, Mirrokni, Rastogi, Vassilvitskii 2014,
  *    "Connected Components in MapReduce and Beyond", Algorithm 2) runs
  *    distributed rounds until the contracted edge set fits the same
  *    driver finish.
  *
  * Why the contraction and not min-label propagation: propagation needs
  * one round per unit of graph diameter, so a long chain of near-dups
  * (one document revised many times) costs as many rounds as the chain
  * is long. The contraction converges in O(log² n) rounds worst-case
  * (≈log n observed), and on the 1M-edge soak graph (`soakEdges`) it ran
  * fewer jobs and shuffled half the bytes of the propagation loop.
  * Every round is eagerly localCheckpoint'ed, so lineage (and the
  * logical plan) stays O(1) across rounds and nothing is left pinned
  * when [[run]] returns.
  */
object ConnectedComponents {

  /** The input as (src, dst) longs; an edge with a null endpoint is not
    * an edge, so it is dropped here ([[run]] and [[IncrementalCC]]). */
  private[operators] def edgeSet(edges: DataFrame, srcCol: String,
      dstCol: String): DataFrame =
    edges.select(col(srcCol).cast("long").as("src"), col(dstCol).cast("long").as("dst"))
      .where(col("src").isNotNull && col("dst").isNotNull)

  /** Both orientations of every (src, dst) edge, in one pass. */
  private def symmetrize(g: DataFrame): DataFrame =
    g.select(explode(array(
        struct(col("src").as("s"), col("dst").as("d")),
        struct(col("dst").as("s"), col("src").as("d")))).as("p"))
      .select(col("p.s").as("src"), col("p.d").as("dst"))

  /** `edges`: two numeric columns (src, dst), undirected (one direction
    * suffices); an edge with a null endpoint is not an edge, so it is
    * dropped on input. Returns (node, component) for every endpoint node,
    * component = min node id in the connected component. The result of
    * the distributed path is eagerly `localCheckpoint`ed and every round
    * cache is released before returning: repeated calls in one session
    * (bench reps, a dedup pipeline clustering many pair sets) pin nothing
    * across calls, and the checkpoint blocks are reclaimed by the
    * ContextCleaner once the caller drops the frame.
    *
    * Local finish: the symmetrized edge persist's own count is one cheap
    * aggregate; when it is ≤ 2·`localFinishEdges` the whole labeling is a
    * bounded driver union-find (~1.6 MB of longs per 100k edges) instead
    * of distributed rounds — at bench scale a few-hundred-pair near-dup
    * graph would otherwise pay several scheduling-bound jobs per round
    * over kilobytes.
    *
    * Star contraction (past the bound), round 1 on the persist itself,
    * later rounds on the previous round's canonical (max, min) edges:
    *  - large-star(u): every neighbor v > u re-attaches to
    *    m(u) = min(N(u) ∪ u) — hooks high nodes straight onto minima;
    *  - small-star(u): every neighbor v < u, and u itself, re-attach to
    *    m(u) — flattens the low end into stars.
    * Both preserve connectivity exactly (paper, Lemmas 1-2); the fixpoint
    * is a forest of stars rooted at component minima. Each half-round is
    * one aggregate + one join on the edge set. Convergence: a per-round
    * signature (count + exact DECIMAL sums of both endpoints) rides the
    * round's own checkpoint job; when it repeats, an EXACT set-equality
    * check (two `exceptAll`s) confirms the fixpoint — the signature alone
    * cannot prove set equality, and a false stall would return wrong
    * labels. The contraction shrinks the edge set geometrically, so once
    * the observed edge count is ≤ `localFinishEdges` the tail is drained
    * to the same driver union-find: zero further rounds.
    *
    * `maxIter` bounds the distributed rounds; `localFinishEdges = 0`
    * forces distributed rounds for any non-empty edge set (the
    * round-count specs use it). */
  def run(edges: DataFrame, srcCol: String = "src", dstCol: String = "dst",
      maxIter: Int = 50, localFinishEdges: Long = 100000L): DataFrame = {
    // symmetrize once, in ONE pass via explode: a self-union would
    // evaluate the (possibly expensive — q95's LSH pair generation)
    // input pipeline twice at persist materialization and double the
    // cached partition count. Both regimes read this persist: the local
    // finish collects it; the contraction's round 1 and its labeling
    // tail (the node set) read it.
    val sym = symmetrize(edgeSet(edges, srcCol, dstCol))
      .persist(StorageLevel.MEMORY_AND_DISK)
    // one bounded count on the persisted frame — the materialization the
    // rounds would pay anyway, surfaced as the local-finish gate
    val nSym = sym.count()
    val s = edges.sparkSession
    import s.implicits._
    if (nSym <= 2L * localFinishEdges) {
      // ≤ 2·bound symmetrized rows — the same explicit driver bound as
      // the contraction's in-loop local finish below
      val rows = sym.collect().map(r => (r.getLong(0), r.getLong(1)))
      sym.unpersist()
      return minRootLabels(rows).toSeq.toDF("node", "component")
    }

    // input: every edge in both orientations
    def largeStar(gs: DataFrame): DataFrame = {
      val m = gs.groupBy(col("src")).agg(min(col("dst")).as("mn"))
        .select(col("src"), least(col("src"), col("mn")).as("m"))
      // (v, m(u)) for v ∈ N(u), v > u; v > u ≥ m(u) keeps the src > dst
      // orientation and makes self-loops impossible
      gs.join(m, "src").where(col("dst") > col("src"))
        .select(col("dst").as("src"), col("m").as("dst")).distinct()
    }
    // input oriented src > dst, so m(u) over smaller neighbors = min(dst)
    def smallStar(g: DataFrame): DataFrame = {
      val m = g.groupBy(col("src")).agg(min(col("dst")).as("m"))
      g.join(m, "src")
        .select(col("dst").as("src"), col("m").as("dst"))
        .where(col("src") =!= col("dst"))
        .union(m.select(col("src"), col("m").as("dst")))
        .distinct()
    }

    // Round 1's large-star reads the persist itself: it needs every edge
    // in both orientations, which is what the persist holds, and its
    // self-loops and duplicate rows change no neighbor minimum (the
    // large-star output is oriented src > dst and distinct). So no
    // canonical-edge job precedes the rounds; later rounds symmetrize
    // the previous round's (src > dst) edge set. Each round's edge set
    // is EAGERLY localCheckpoint'ed, not persisted: a round references
    // its input several times (symmetrize + min-agg join), so the
    // logical plan would grow ~4× per round and the plan STRING alone
    // OOMs by round ~15 — checkpointing truncates lineage to a fresh
    // scan every round (cache-only truncates recomputation).
    var es: DataFrame = null
    // nSym > 2·localFinishEdges here, so round 1 always runs distributed
    var eCount = nSym
    var converged = false
    var i = 0
    var prevSig: (Long, java.math.BigDecimal, java.math.BigDecimal) = null
    while (!converged && i < maxIter) {
      if (eCount <= localFinishEdges) {
        // drain the contracted tail to the driver: its row count is the
        // observed signature count, ≤ localFinishEdges by the branch
        // guard, so this collect is explicitly bounded. The union-find's
        // non-root labels are the (member → root) star edges of the
        // fixpoint the rounds converge to.
        val rows = es.collect().map(r => (r.getLong(0), r.getLong(1)))
        es = minRootLabels(rows).filter(p => p._1 != p._2).toSeq.toDF("src", "dst")
        converged = true
      } else {
        // largeStar's output feeds smallStar twice (min-agg + join back):
        // persist for the round, release once `next` is materialized.
        // The signature rides the round's own checkpoint job via observe
        // (withAction fires the observation listener) — no separate
        // per-round aggregate job.
        val ls = largeStar(if (es == null) sym else symmetrize(es))
          .persist(StorageLevel.MEMORY_AND_DISK)
        val obs = org.apache.spark.sql.Observation(s"cc_sig_$i")
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
          converged = next.exceptAll(es).isEmpty && es.exceptAll(next).isEmpty
        }
        prevSig = sig
        eCount = sig._1
        ls.unpersist()
        // previous round's checkpoint blocks are reclaimed by the
        // ContextCleaner once this reassignment drops the last reference
        es = next
        i += 1
      }
    }
    require(converged, s"connected components did not converge in $maxIter rounds")
    // fixpoint edges are (member, root) stars; roots label themselves,
    // and self-loop-only singletons (no star edge) label themselves too:
    // the output holds one label per endpoint of the persist
    val labeled = es.select(col("src").as("node"), col("dst").as("component"))
      .union(es.select(col("dst").as("node"), col("dst").as("component")).distinct())
    val allNodes = sym.select(col("src").as("node")).distinct()
    val singletons = allNodes.join(labeled.select("node"), Seq("node"), "left_anti")
      .select(col("node"), col("node").as("component"))
    val out = labeled.union(singletons).distinct().localCheckpoint(true)
    sym.unpersist() // out is materialized; nothing pinned across calls
    out
  }

  /** Deterministic soak graph for the bench: `clusters` dense 6-node
    * star clusters (the real near-dup shape — shallow) plus `chains`
    * chains of `chainLen` nodes (the adversarial-diameter shape), node
    * id ranges disjoint. ~1M edges at the defaults — past [[run]]'s
    * local-finish bound, so the contraction's distributed rounds run;
    * min-propagation would pay O(chainLen) rounds on the chains. The
    * components are known in closed form: `clusters + chains` of them,
    * each labeled by its first id. */
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

  /** Driver min-root union-find labeling EVERY endpoint node: union
    * attaches the larger root under the smaller, so every root is its
    * component's minimum and labels itself. Serves [[run]]'s bounded
    * local finish (the whole graph, or the contracted tail) and
    * [[IncrementalCC]]'s micro-batch fast path; callers bound the edge
    * count before collecting. */
  private[operators] def minRootLabels(
      rows: Array[(Long, Long)]): Iterator[(Long, Long)] = {
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
    nodes.iterator.map(n => (n, find(n)))
  }
}
