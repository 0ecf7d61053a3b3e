package graft.queries

import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark
import graft.operators.ConnectedComponents

class ConnectedComponentsSpec extends AnyFunSuite with TestSpark {

  test("min-label propagation: chain, triangle, and singleton-free components") {
    val spark2 = spark
    import spark2.implicits._
    // component A: chain 1-2-3-4 (diameter 3); component B: triangle
    // 10-11-12; component C: pair 20-21 — every node labeled by its
    // component's minimum, on the local finish and the distributed rounds
    val edges = Seq((2L, 1L), (2L, 3L), (3L, 4L),
      (10L, 11L), (11L, 12L), (12L, 10L), (21L, 20L)).toDF("src", "dst")
    Seq(100000L, 0L).foreach { bound =>
      val got = ConnectedComponents.run(edges, localFinishEdges = bound).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(got === Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L,
        10L -> 10L, 11L -> 10L, 12L -> 10L, 20L -> 20L, 21L -> 20L),
        s"localFinishEdges = $bound")
    }
  }

  test("run(): hybrid local finish equals pure distributed propagation") {
    val spark2 = spark
    import spark2.implicits._
    // the local-finish seam: a sub-threshold graph takes the driver
    // union-find; localFinishEdges = 50 runs distributed star rounds
    // until the contracted edge set fits the driver; 0 forces every
    // round distributed. All three must label identically — including a
    // self-loop-only singleton and a diameter-4 chain.
    val rng = new scala.util.Random(23)
    val rand = ((1 to 400).map(_ =>
      (rng.nextInt(300).toLong, rng.nextInt(300).toLong))
      ++ Seq((900L, 900L), (910L, 911L), (911L, 912L), (912L, 913L),
        (913L, 914L))).toDF("src", "dst")
    def labels(bound: Long) = ConnectedComponents.run(rand, localFinishEdges = bound)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val viaLocal = labels(100000L)
    assert(labels(50L) === viaLocal, "localFinishEdges = 50")
    assert(labels(0L) === viaLocal, "localFinishEdges = 0")
    assert(viaLocal(914L) === 910L && viaLocal(900L) === 900L)
    // self-loops only: the distributed rounds find no star edge at all
    val loops = Seq((5L, 5L), (6L, 6L)).toDF("src", "dst")
    assert(ConnectedComponents.run(loops, localFinishEdges = 0L).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap === Map(5L -> 5L, 6L -> 6L))
  }

  test("null endpoints: run drops them on both paths") {
    val spark2 = spark
    import spark2.implicits._
    // an edge with a null endpoint is not an edge: node 7 appears only
    // beside a null, so it must not be labeled at all
    val edges = Seq[(Option[Long], Option[Long])](
      (Some(2L), Some(1L)), (Some(3L), Some(2L)), (Some(7L), None),
      (None, Some(3L)), (None, None), (Some(10L), Some(11L)))
      .toDF("src", "dst")
    def opt(r: org.apache.spark.sql.Row, i: Int) =
      if (r.isNullAt(i)) None else Some(r.getLong(i))
    def labels(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (opt(r, 0), opt(r, 1))).toSet
    val expected = Set(1L -> 1L, 2L -> 1L, 3L -> 1L, 10L -> 10L, 11L -> 10L)
      .map { case (n, c) => (Some(n), Some(c)) }
    Seq(100000L, 0L).foreach { bound =>
      assert(labels(ConnectedComponents.run(edges, localFinishEdges = bound))
        === expected, s"localFinishEdges = $bound")
    }
  }

  test("large-star/small-star: one component within 3*ceil(log2 n) rounds on a 10k path, ids in order and shuffled") {
    val spark2 = spark
    import spark2.implicits._
    // adversarial diameter: a 10,000-node path. Min-label propagation
    // needs ~10,000 rounds (diameter); the star contraction must finish
    // within maxIter = 3·⌈log2 n⌉ = 42 rounds (paper bound O(log² n),
    // observed ≈log n; the margin covers the stall-detection round),
    // or run's require fails. localFinishEdges = 0 forces every round
    // distributed: the bound is about the ALGORITHM, not the driver
    // shortcut. Shuffled ids take away the in-order path's head start
    // (every node's min neighbor is already its predecessor).
    val n = 10000
    val maxIter = (3 * math.ceil(math.log(n) / math.log(2))).toInt
    val perm = new scala.util.Random(41).shuffle((1 to n).map(_.toLong).toVector)
    Seq("in order" -> ((i: Int) => i.toLong), "shuffled" -> ((i: Int) => perm(i - 1)))
      .foreach { case (what, id) =>
        val path = (1 until n).map(i => (id(i), id(i + 1))).toDF("src", "dst")
        val lab = ConnectedComponents.run(path, maxIter = maxIter, localFinishEdges = 0L)
          .collect().map(r => r.getLong(0) -> r.getLong(1))
        assert(lab.length === n && lab.map(_._1).toSet.size === n, s"$what: one label per node")
        assert(lab.forall(_._2 === 1L), s"$what: one component rooted at 1")
      }
  }

  test("soak graph: clusters + chains match the closed form on both paths") {
    // the bench's 1M-edge soak shape at 1/50 scale: 2k dense clusters +
    // 300 chains of 32 nodes. Every node's component is known in closed
    // form (cluster k labeled 6k, chain c labeled 10,000,000 + 32c), so
    // this checks the GENERATOR as well as both regimes of run.
    val (clusters, chains, chainLen) = (2000L, 300L, 32L)
    val edges = ConnectedComponents.soakEdges(spark, clusters, chains, chainLen)
    assert(edges.count() === clusters * 5 + chains * (chainLen - 1))
    val chainBase = 10000000L
    def expected(node: Long): Long =
      if (node < chainBase) node - node % 6
      else chainBase + (node - chainBase) / chainLen * chainLen
    Seq(100000L, 0L).foreach { bound =>
      val lab = ConnectedComponents.run(edges, localFinishEdges = bound)
        .collect().map(r => r.getLong(0) -> r.getLong(1))
      assert(lab.length === clusters * 6 + chains * chainLen, s"localFinishEdges = $bound")
      assert(lab.map(_._1).toSet.size === lab.length, s"localFinishEdges = $bound")
      lab.foreach { case (node, c) =>
        assert(c === expected(node), s"node $node, localFinishEdges = $bound")
      }
      assert(lab.map(_._2).toSet.size === clusters + chains)
    }
  }

  test("q95 clusters: pair endpoints share a cluster, the canonical doc is the min id") {
    val dir = "/root/testdata/sf0.001"
    val pairs = DedupTextQueries.queries("q90_neardup_lsh_verify")(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val clusters = DedupTextQueries.queries("q95_dedup_clusters")(spark, dir)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(pairs.nonEmpty && clusters.nonEmpty)
    // every pair's endpoints landed in the same cluster
    pairs.foreach { case (a, b) =>
      assert(clusters(a) === clusters(b), s"pair ($a,$b) split across clusters")
    }
    // cluster id is a member of its own cluster and the minimum of it
    clusters.groupBy(_._2).foreach { case (cid, members) =>
      assert(members.keySet.min === cid)
    }
    // exactly the pair-graph nodes are clustered (singletons excluded)
    assert(clusters.keySet === pairs.flatMap(p => Seq(p._1, p._2)).toSet)
  }
}
