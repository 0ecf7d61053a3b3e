package graft.queries

import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark
import graft.operators.ConnectedComponents

class ConnectedComponentsSpec extends AnyFunSuite with TestSpark {

  test("min-label propagation: chain, triangle, and singleton-free components") {
    val spark2 = spark
    import spark2.implicits._
    // component A: chain 1-2-3-4 (diameter 3 — exercises multi-round
    // propagation); component B: triangle 10-11-12; component C: pair 20-21
    val edges = Seq((2L, 1L), (2L, 3L), (3L, 4L),
      (10L, 11L), (11L, 12L), (12L, 10L), (21L, 20L)).toDF("src", "dst")
    val got = ConnectedComponents.run(edges).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got === Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L,
      10L -> 10L, 11L -> 10L, 12L -> 10L, 20L -> 20L, 21L -> 20L))
  }

  test("run(): hybrid local finish equals pure distributed propagation") {
    val spark2 = spark
    import spark2.implicits._
    // the r19 local-finish seam: a sub-threshold graph takes the driver
    // union-find; localFinishEdges = 0 forces the old distributed rounds.
    // Both paths must label identically — including a self-loop-only
    // singleton and a diameter-4 chain (multi-round propagation).
    val rng = new scala.util.Random(23)
    val rand = ((1 to 400).map(_ =>
      (rng.nextInt(300).toLong, rng.nextInt(300).toLong))
      ++ Seq((900L, 900L), (910L, 911L), (911L, 912L), (912L, 913L),
        (913L, 914L))).toDF("src", "dst")
    val viaLocal = ConnectedComponents.run(rand).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val viaDistributed = ConnectedComponents.run(rand, localFinishEdges = 0L)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(viaLocal === viaDistributed)
    assert(viaLocal(914L) === 910L && viaLocal(900L) === 900L)
  }

  test("null endpoints: run and runStars agree on both paths and never throw") {
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
        === expected, s"run, localFinishEdges = $bound")
      assert(labels(ConnectedComponents.runStars(edges, localFinishEdges = bound))
        === expected, s"runStars, localFinishEdges = $bound")
    }
  }

  test("large-star/small-star: same labels as min-propagation, O(log n) rounds on a 10k path") {
    val spark2 = spark
    import spark2.implicits._
    // same fixture as the min-propagation test (incl. a self-loop
    // singleton, which the star transforms must not drop)
    val edges = Seq((2L, 1L), (2L, 3L), (3L, 4L),
      (10L, 11L), (11L, 12L), (12L, 10L), (21L, 20L), (30L, 30L)).toDF("src", "dst")
    val got = ConnectedComponents.runStars(edges).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got === Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L,
      10L -> 10L, 11L -> 10L, 12L -> 10L, 20L -> 20L, 21L -> 20L, 30L -> 30L))

    // random graph: labels agree with run() exactly, on BOTH the pure
    // distributed path (localFinishEdges = 0) and the hybrid that runs
    // distributed rounds until the contracted edge set fits the driver
    // threshold (here forced low so real rounds precede the local finish)
    val rng = new scala.util.Random(17)
    val rand = (1 to 400).map(_ => (rng.nextInt(300).toLong, rng.nextInt(300).toLong))
      .filter(p => p._1 != p._2).toDF("src", "dst")
    val viaStars = ConnectedComponents.runStars(rand, localFinishEdges = 0L)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val viaProp = ConnectedComponents.run(rand).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(viaStars === viaProp)
    val (hybridLabels, hybridRounds) =
      ConnectedComponents.runStarsCounted(rand, localFinishEdges = 50L)
    val viaHybrid = hybridLabels.collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(viaHybrid === viaProp)
    assert(hybridRounds >= 1, "threshold below |E| must run distributed rounds first")

    // adversarial diameter: a 10,000-node path. Min-propagation would
    // need ~10,000 rounds (diameter); the star contraction must finish
    // in O(log n) — allow 3·log2(n) ≈ 40 (paper bound is O(log² n),
    // observed ≈log n; the margin covers the +1 stall-detection round).
    // localFinishEdges = 0 forces every round distributed: the bound is
    // about the ALGORITHM, not the driver shortcut.
    val n = 10000
    val path = (1 until n).map(i => (i.toLong, (i + 1).toLong)).toDF("src", "dst")
    val (labels, rounds) =
      ConnectedComponents.runStarsCounted(path, localFinishEdges = 0L)
    val bound = (3 * math.ceil(math.log(n) / math.log(2))).toInt
    assert(rounds <= bound, s"$rounds rounds > $bound on a $n-node path")
    val lab = labels.collect().map(r => r.getLong(0) -> r.getLong(1))
    assert(lab.length === n && lab.forall(_._2 === 1L), "one component rooted at 1")
  }

  test("soak graph: clusters + chains, parity between propagation and stars, O(log n) rounds") {
    // the bench's 1M-edge soak shape at 1/50 scale: 2k dense clusters +
    // 300 chains of 32 nodes. Expected components are known in closed
    // form, so this checks the GENERATOR as well as both algorithms.
    val edges = ConnectedComponents.soakEdges(spark,
      clusters = 2000L, chains = 300L, chainLen = 32L)
    assert(edges.count() === 2000L * 5 + 300L * 31)
    val prop = ConnectedComponents.run(edges)
    val (stars, rounds) = ConnectedComponents.runStarsCounted(edges)
    assert(stars.exceptAll(prop).isEmpty && prop.exceptAll(stars).isEmpty,
      "label parity violated on the soak shape")
    // 2000 cluster components + 300 chain components
    assert(prop.select("component").distinct().count() === 2300L)
    // chain diameter is 31; stars must stay logarithmic (+ local finish)
    val n = 2000L * 6 + 300L * 32
    assert(rounds <= 3 * math.ceil(math.log(n.toDouble) / math.log(2)).toInt,
      s"$rounds rounds on the soak shape")
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
