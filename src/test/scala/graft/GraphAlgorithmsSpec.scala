package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.graph.{GraphAlgorithms, PropertyGraph}

class GraphAlgorithmsSpec extends SparkSpec {
  import spark.implicits._

  private def g(edges: Seq[(Long, Long)], nodes: Seq[(Long, String)]): PropertyGraph =
    PropertyGraph(
      nodes.map { case (id, lbl) => (id, lbl, s"n$id") }
        .toDF("nodeId", "label", "name"),
      edges.map { case (s, d) => ("E", s, d) }.toDF("relType", "src", "dst"))

  test("k-core keeps the triangle and peels the tail") {
    // triangle 1-2-3 with tail 3-4: node 4 has degree 1 → peeled at k=2;
    // 3 keeps degree 2 from the triangle and survives
    val graph = g(Seq((1L, 2L), (2L, 3L), (1L, 3L), (3L, 4L)),
      Seq(1L -> "A", 2L -> "A", 3L -> "B", 4L -> "B"))
    val out = GraphAlgorithms.kCoreSizes(graph, k = 2, iters = 3)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(out === Map("A" -> 2L, "B" -> 1L))
  }

  test("k-core peeling cascades: a chain dissolves completely") {
    // path 1-2-3-4: ends die first, then the middle — needs 2 rounds
    val graph = g(Seq((1L, 2L), (2L, 3L), (3L, 4L)),
      Seq(1L -> "A", 2L -> "A", 3L -> "A", 4L -> "A"))
    val out = GraphAlgorithms.kCoreSizes(graph, k = 2, iters = 3).collect()
    assert(out.isEmpty)
    // one round is NOT enough — the fixed iteration count is load-bearing
    val partial = GraphAlgorithms.kCoreSizes(graph, k = 2, iters = 1)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(partial === Map("A" -> 2L))
  }

  test("k-core truncated mid-peel uses the edge-between-survivors convention") {
    // path 1-2-3-4-5 at k=2: round 1 kills the ends {1,5}, round 2 kills
    // {2,4}, leaving 3 in the deg table with NO surviving neighbor. The
    // oracle counts nodes still carrying an edge between survivors, so a
    // run capped at iters=2 must report nothing — not the orphaned 3.
    val graph = g(Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L)),
      (1L to 5L).map(_ -> "A"))
    assert(GraphAlgorithms.kCoreSizes(graph, k = 2, iters = 2).collect().isEmpty)
    // and the converged run agrees (everything peels)
    assert(GraphAlgorithms.kCoreSizes(graph, k = 2, iters = 4).collect().isEmpty)
  }

  test("k-core where the first round kills the majority (star + triangle)") {
    // 60 leaves on hub 100 all die in round 1 (the power-law shape that
    // makes an unconditional dead-set broadcast dangerous at scale); the
    // triangle 1-2-3 survives and the orphaned hub cascades in round 2.
    val leaves = (200L to 259L).map(l => (100L, l))
    val graph = g(leaves ++ Seq((1L, 2L), (2L, 3L), (1L, 3L)),
      ((200L to 259L) :+ 100L).map(_ -> "Leaf") ++ Seq(1L -> "Tri", 2L -> "Tri", 3L -> "Tri"))
    val out = GraphAlgorithms.kCoreSizes(graph, k = 2, iters = 4)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(out === Map("Tri" -> 3L))
  }

  test("label propagation: two bridged triangles settle into two communities") {
    // triangles {1,2,3} and {4,5,6} bridged by 3-4; hand-derived sync
    // rounds (count desc, label asc tie-break, seed = id):
    //   r1: 1→2 2→1 3→1 4→3 5→4 6→4
    //   r2: 1→1 2→1 3→1 4→4 5→3 6→3
    //   r3: 1→1 2→1 3→1 4→3 5→3 6→3  → sizes {3,3} → histogram {3→2}
    val graph = g(
      Seq((1L, 2L), (2L, 3L), (1L, 3L), (4L, 5L), (5L, 6L), (4L, 6L), (3L, 4L)),
      (1L to 6L).map(_ -> "A"))
    val out = GraphAlgorithms.labelPropagationSizes(graph, iters = 3)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out === Map(3L -> 2L))
  }

  test("label propagation: isolated node keeps its seed label") {
    val graph = g(Seq((1L, 2L)), Seq(1L -> "A", 2L -> "A", 9L -> "A"))
    // 1↔2 swap labels every round (sync LPA 2-cycle); 9 stays 9. After 3
    // rounds: sizes {1,1,1} → histogram {1→3}.
    val out = GraphAlgorithms.labelPropagationSizes(graph, iters = 3)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out === Map(1L -> 3L))
  }

  test("walk corpus: valid transitions, isolated walks end, deterministic") {
    val graph = g(Seq((1L, 2L), (2L, 3L), (1L, 3L), (3L, 4L)),
      Seq(1L -> "A", 2L -> "A", 3L -> "A", 4L -> "A", 9L -> "A")) // 9 isolated
    val und = Set((1L, 2L), (2L, 3L), (1L, 3L), (3L, 4L))
      .flatMap { case (a, b) => Set(a -> b, b -> a) }
    val walks = GraphAlgorithms.walkCorpus(graph, steps = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
    val byWalk = walks.groupBy(_._1).map { case (s, xs) =>
      s -> xs.sortBy(_._3).map(_._2).toSeq }
    // isolated node: step-0 row only
    assert(byWalk(9L) === Seq(9L))
    // connected nodes: full 4-node paths whose every hop is a real edge
    for (s <- Seq(1L, 2L, 3L, 4L)) {
      val path = byWalk(s)
      assert(path.length === 4, s"walk $s")
      path.sliding(2).foreach { p =>
        assert(und.contains(p(0) -> p(1)), s"walk $s hop $p not an edge")
      }
    }
    // deterministic: a second run yields the identical corpus
    val again = GraphAlgorithms.walkCorpus(graph, steps = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
    assert(walks.sorted.toSeq === again.sorted.toSeq)
  }

  test("skip-gram pairs: 5 banded pairs per full-length walk, none isolated") {
    val graph = g(Seq((1L, 2L), (2L, 3L), (1L, 3L), (3L, 4L)),
      Seq(1L -> "A", 2L -> "A", 3L -> "A", 4L -> "A", 9L -> "A"))
    val pairs = GraphAlgorithms.skipGramPairs(graph, steps = 3, window = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    // 4 connected walks × C(steps, window)-banded pairs
    // ((0,1),(0,2),(1,2),(1,3),(2,3)) = 5 each; isolated node 9 contributes
    // nothing and never appears
    assert(pairs.map(_._3).sum === 20L)
    assert(!pairs.exists(p => p._1 == 9L || p._2 == 9L))
    // distance-1 pairs are a subset of real edges — check via the corpus
    val walks = GraphAlgorithms.walkCorpus(graph, steps = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
      .groupBy(_._1).map { case (s, xs) => s -> xs.sortBy(_._3).map(_._2) }
    val adjacentPairs = walks.values.filter(_.length == 4)
      .flatMap(p => p.sliding(2).map(w => (w(0), w(1)))).toSet
    val und = Set((1L, 2L), (2L, 3L), (1L, 3L), (3L, 4L))
      .flatMap { case (a, b) => Set(a -> b, b -> a) }
    assert(adjacentPairs.subsetOf(und))
  }

  test("triangle histogram: two triangles sharing an edge") {
    // triangles {1,2,3} and {2,3,4} share edge 2-3: nodes 2,3 are in two
    // triangles each, nodes 1,4 in one each -> histogram {1 -> 2, 2 -> 2}
    val edges = Seq((1L, 2L), (2L, 3L), (1L, 3L), (2L, 4L), (3L, 4L))
      .toDF("a", "b")
    val out = GraphAlgorithms.triangleHistogram(edges)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out === Map(1L -> 2L, 2L -> 2L))
  }

  test("triangle histogram tolerates duplicates, reversals, self-loops") {
    val edges = Seq((1L, 2L), (2L, 1L), (2L, 3L), (3L, 1L), (1L, 1L), (2L, 3L))
      .toDF("a", "b")
    val out = GraphAlgorithms.triangleHistogram(edges)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out === Map(1L -> 3L))
  }

  test("triangle histogram matches brute force on a random graph") {
    val rnd = new scala.util.Random(7)
    val n = 40
    val edges = (for {
      a <- 1L to n; b <- (a + 1) to n if rnd.nextDouble() < 0.15
    } yield (a, b)).toSeq
    val es = edges.toSet
    // brute-force triangles-per-node
    val perNode = collection.mutable.Map[Long, Long]().withDefaultValue(0L)
    for (x <- 1L to n; y <- (x + 1) to n; z <- (y + 1) to n
         if es((x, y)) && es((y, z)) && es((x, z))) {
      perNode(x) += 1; perNode(y) += 1; perNode(z) += 1
    }
    val expected = perNode.values.groupBy(identity).map { case (k, v) => k -> v.size.toLong }
    val out = GraphAlgorithms.triangleHistogram(edges.toDF("a", "b"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out === expected)
  }

  test("BFS layers: chain distances with min over converging paths") {
    // 1-2-3-4 chain plus shortcut 1-4: dist(4) = 1, dist(3) = 2 via 4
    val graph = g(Seq((1L, 2L), (2L, 3L), (3L, 4L), (1L, 4L)),
      Seq(1L -> "A", 2L -> "A", 3L -> "B", 4L -> "B"))
    val out = GraphAlgorithms.bfsLayers(graph, "A", Seq("n1"), iters = 4)
      .collect().map(r => (r.getInt(0), r.getString(1)) -> r.getLong(2)).toMap
    assert(out === Map((0, "A") -> 1L, (1, "A") -> 1L, (1, "B") -> 1L,
      (2, "B") -> 1L))
  }

  test("assortativity: a star is maximally disassortative (r = -1)") {
    val star = g(Seq((10L, 1L), (10L, 2L), (10L, 3L)),
      Seq(1L -> "A", 2L -> "A", 3L -> "A", 10L -> "H"))
    val out = GraphAlgorithms.degreeAssortativity(star).collect().head
    // symmetrized: m=6 ordered edge-ends; every edge joins deg-3 with deg-1
    assert(out.getLong(0) === 6L)
    assert(out.getDouble(4) === -1.0)
  }

  test("assortativity: a clique has zero-variance degrees (NaN by formula)") {
    val k3 = g(Seq((1L, 2L), (2L, 3L), (1L, 3L)),
      Seq(1L -> "A", 2L -> "A", 3L -> "A"))
    val out = GraphAlgorithms.degreeAssortativity(k3).collect().head
    // all degrees equal → denominator 0; moments still exact
    assert(out.getLong(0) === 6L && out.getLong(2) === 12L)
    assert(out.isNullAt(4) || out.getDouble(4).isNaN)
  }

  test("harmonic centrality: 1e6/1 + 1e6/2 over the chain, anchor excluded") {
    // 1-2-3-4 chain + shortcut 1-4: dists from 1 are (2:1, 4:1, 3:2)
    val graph = g(Seq((1L, 2L), (2L, 3L), (3L, 4L), (1L, 4L)),
      Seq(1L -> "A", 2L -> "A", 3L -> "B", 4L -> "B"))
    val out = GraphAlgorithms.harmonicCentrality(graph, "A", Seq("n1"), 4)
      .collect().head
    assert(out.getLong(0) === 2L * 1000000L + 500000L)
    assert(out.getLong(1) === 3L)
  }

  test("Jones-Plassmann coloring: proper on every fixture, K4 takes 4") {
    def assign(edges: Seq[(Long, Long)]) =
      GraphAlgorithms.jonesPlassmannAssign(edges.toDF("a", "b"), iters = 8)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    def proper(edges: Seq[(Long, Long)]): Unit = {
      val c = assign(edges)
      assert(c.values.forall(_ >= 0L), s"all colored within 8 rounds: $c")
      edges.foreach { case (a, b) =>
        assert(c(a) != c(b), s"edge ($a,$b) monochrome in $c") }
      // mex assignment never skips colors globally
      val used = c.values.toSet
      assert(used === (0L until used.size).toSet, s"non-compact: $used")
    }
    val k4 = Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L), (3L, 4L))
    proper(k4)
    assert(assign(k4).values.toSet.size === 4)
    proper(Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L)))           // path
    proper(Seq((10L, 1L), (10L, 2L), (10L, 3L)))                  // star
    proper(Seq((1L, 2L), (2L, 3L), (3L, 1L), (3L, 4L), (4L, 5L))) // tri+tail
  }

  test("butterflies: hand-derived bipartite 4-cycles and the hub cap") {
    def run(edges: Seq[(Long, Long)], cap: Int) = {
      val r = GraphAlgorithms.butterflyStats(edges.toDF("l", "r"), cap)
        .collect().head
      (r.getLong(0), r.getLong(1))
    }
    // K(2,2): one butterfly
    assert(run(Seq((1L, 10L), (1L, 11L), (2L, 10L), (2L, 11L)), 20)
      === ((1L, 1L)))
    // K(2,3): 3 right pairs, each shared by both lefts → 3 butterflies
    assert(run(Seq((1L, 10L), (1L, 11L), (1L, 12L),
      (2L, 10L), (2L, 11L), (2L, 12L)), 20) === ((3L, 3L)))
    // cap 2 drops the degree-3 lefts entirely → nothing remains
    val capped = GraphAlgorithms.butterflyStats(
      Seq((1L, 10L), (1L, 11L), (1L, 12L),
        (2L, 10L), (2L, 11L), (2L, 12L)).toDF("l", "r"), 2).collect().head
    assert(capped.getLong(0) === 0L && capped.isNullAt(1))
  }

  test("Luby MIS: independent and maximal on every fixture") {
    def check(edges: Seq[(Long, Long)]): Map[Long, Long] = {
      val s = GraphAlgorithms.lubyMisAssign(edges.toDF("a", "b"), iters = 8)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(s.values.forall(_ >= 0L), s"all decided within 8 rounds: $s")
      // independence: no edge has both ends in the set
      edges.foreach { case (a, b) =>
        assert(!(s(a) == 1L && s(b) == 1L), s"adjacent pair in MIS: $s") }
      // maximality: every excluded node has a neighbor in the set
      val nbrs = (edges ++ edges.map(_.swap)).groupBy(_._1)
        .map { case (v, es) => v -> es.map(_._2).toSet }
      s.foreach { case (v, st) =>
        if (st == 0L)
          assert(nbrs(v).exists(n => s(n) == 1L), s"$v excluded for naught") }
      s
    }
    // star: either the hub alone or all leaves (priorities decide)
    val star = check(Seq((10L, 1L), (10L, 2L), (10L, 3L)))
    assert(star.count(_._2 == 1L) == 1 || star.count(_._2 == 1L) == 3)
    check(Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L)))            // path
    check(Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L),
      (3L, 4L)))                                                  // K4: 1 node
    check(Seq((1L, 2L), (2L, 3L), (3L, 1L), (3L, 4L), (4L, 5L))) // tri+tail
    // disjoint edges: exactly one end of each joins → summary checks out
    val sum = GraphAlgorithms.lubyMis(
      Seq((1L, 2L), (3L, 4L)).toDF("a", "b"), iters = 8).collect().head
    assert(sum.getLong(0) === 2L && sum.getLong(2) === 0L)
  }

  test("greedy matching: maximal on path, star, and disjoint edges") {
    def run(edges: Seq[(Long, Long)]) = {
      val r = GraphAlgorithms.greedyMatching(edges.toDF("a", "b"), iters = 8)
        .collect().head
      (r.getLong(0), r.getLong(1), r.getLong(2))
    }
    // path 1-2-3: node 2 can serve only one edge → exactly 1 matched
    assert(run(Seq((1L, 2L), (2L, 3L))) === ((1L, 2L, 0L)))
    // star: one edge matches, the rest die with the hub
    assert(run(Seq((1L, 2L), (1L, 3L), (1L, 4L))) === ((1L, 2L, 0L)))
    // disjoint edges: perfect matching in one round
    assert(run(Seq((1L, 2L), (3L, 4L))) === ((2L, 4L, 0L)))
    // 4-cycle: 1 or 2 edges depending on hash priorities, always maximal
    val (me, mn, live) = run(Seq((1L, 2L), (2L, 3L), (3L, 4L), (1L, 4L)))
    assert(live === 0L && mn === 2 * me && (me == 1L || me == 2L))
  }

  test("reciprocity: mutual edges counted both ways, loops and dups dropped") {
    val r = GraphAlgorithms.reciprocityStats(
      Seq((1L, 2L), (2L, 1L), (2L, 3L), (4L, 4L), (1L, 2L))
        .toDF("a", "b")).collect().head
    // e = {(1,2),(2,1),(2,3)}: both mutual directions count → 2/3
    assert(r.getLong(0) === 3L)
    assert(r.getLong(1) === 2L)
    assert(r.getLong(2) === 666666L)
    // fully one-way graph scores zero
    val z = GraphAlgorithms.reciprocityStats(
      Seq((1L, 2L), (2L, 3L)).toDF("a", "b")).collect().head
    assert(z.getLong(2) === 0L)
  }

  test("bounded SCC: cycles classify, DAG nodes stay honest") {
    def run(edges: Seq[(Long, Long)]) = {
      val r = GraphAlgorithms.sccBoundedStats(edges.toDF("a", "b"), iters = 6)
        .collect().head
      (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))
    }
    // two disjoint 3-cycles: both classify in one pass (the multi-pivot
    // win over fwBwPartition)
    assert(run(Seq((1L, 2L), (2L, 3L), (3L, 1L),
      (7L, 8L), (8L, 9L), (9L, 7L))) === ((2L, 6L, 3L, 0L)))
    // cycle + outgoing DAG tail: tail node reaches nothing that returns,
    // so its certificate fails (fmin=1 ≠ bmin=4) and it reports unclassified
    assert(run(Seq((1L, 2L), (2L, 3L), (3L, 1L), (3L, 4L)))
      === ((1L, 3L, 3L, 1L)))
    // pure DAG: only the global min can certify itself
    val (s, c, l, u) = run(Seq((1L, 2L), (2L, 3L)))
    assert(s === 1L && c === 1L && l === 1L && u === 2L)
  }

  test("FW-BW partition: cycle is the SCC, tails split by direction") {
    // directed: cycle 1→2→3→1 with tail-out 3→4 and tail-in 5→1;
    // pivot = min id = 1: F = {1,2,3,4}, B = {1,2,3,5}
    // → SCC {1,2,3}, fwd-only {4}, bwd-only {5}
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 1L), (3L, 4L), (5L, 1L))
      .toDF("a", "b")
    val r = GraphAlgorithms.fwBwPartition(edges, iters = 6).collect().head
    assert((r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))
      === ((3L, 1L, 1L, 0L)))
  }

  test("FW-BW partition: disconnected nodes land in the rest set") {
    // pivot 1: edge 1→2 plus an unrelated component 8→9
    val edges = Seq((1L, 2L), (8L, 9L)).toDF("a", "b")
    val r = GraphAlgorithms.fwBwPartition(edges, iters = 4).collect().head
    // SCC {1} (pivot alone), fwd-only {2}, bwd-only {}, rest {8, 9}
    assert((r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))
      === ((1L, 1L, 0L, 2L)))
  }

  test("clustering coefficients: triangle with tail, hand-derived deciles") {
    // triangle 1-2-3 + tail 3-4: cc(1)=cc(2)=1e6 (deg 2, 1 tri),
    // cc(3)=⌊2e6/6⌋=333333 (deg 3), node 4 deg 1 excluded
    val edges = Seq((1L, 2L), (2L, 3L), (1L, 3L), (3L, 4L)).toDF("a", "b")
    val out = GraphAlgorithms.clusteringCoefficients(edges)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2))))
      .toMap
    assert(out === Map(10L -> ((2L, 2000000L)), 3L -> ((1L, 333333L))))
  }

  test("clustering coefficients: triangle-free deg>=2 nodes score zero") {
    // path 1-2-3: node 2 has deg 2, no triangles → decile 0, cc 0
    val edges = Seq((1L, 2L), (2L, 3L)).toDF("a", "b")
    val out = GraphAlgorithms.clusteringCoefficients(edges)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2))))
      .toMap
    assert(out === Map(0L -> ((1L, 0L))))
  }

  test("eccentricity: per-anchor max distance and reach in one pass") {
    // path 1-2-3-4-5: ecc(n1)=4, ecc(n3)=2; both searches share the pass
    val graph = g(Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L)),
      Seq(1L -> "A", 2L -> "B", 3L -> "A", 4L -> "B", 5L -> "B"))
    val out = GraphAlgorithms.eccentricityEst(graph, "A", Seq("n1", "n3"), 6)
      .collect().map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2))))
      .toMap
    assert(out === Map("n1" -> ((4L, 5L)), "n3" -> ((2L, 5L))))
  }

  test("eccentricity is hop-bounded and counts only the reached set") {
    // path 1-2-3-4-5 cut at 2 hops from n1: ecc capped at 2, reach 3
    val graph = g(Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L)),
      Seq(1L -> "A", 2L -> "B", 3L -> "A", 4L -> "B", 5L -> "B"))
    val out = GraphAlgorithms.eccentricityEst(graph, "A", Seq("n1"), 2)
      .collect().map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2))))
      .toMap
    assert(out === Map("n1" -> ((2L, 3L))))
  }

  test("BFS layers exclude unreached nodes") {
    val graph = g(Seq((1L, 2L), (3L, 4L)),
      Seq(1L -> "A", 2L -> "A", 3L -> "B", 4L -> "B"))
    val out = GraphAlgorithms.bfsLayers(graph, "A", Seq("n1"), iters = 3)
      .collect().map(r => (r.getInt(0), r.getString(1)) -> r.getLong(2)).toMap
    assert(out === Map((0, "A") -> 1L, (1, "A") -> 1L))
  }

  test("driver-data BFS reaches a fixed point within the unrolled rounds") {
    val graph = graft.graph.TpchGraph(spark, "/root/testdata/sf0.001")
    def run(iters: Int) =
      GraphAlgorithms.bfsLayers(graph, "Region", Seq("ASIA"), iters)
        .collect().map(r => (r.getInt(0), r.getString(1)) -> r.getLong(2)).toMap
    val at6 = run(6)
    assert(at6 === run(8), "6 BFS rounds must already be the fixed point")
    assert(at6.nonEmpty)
  }

  test("SSSP relaxes multi-hop paths cheaper than direct edges") {
    import org.apache.spark.sql.functions.col
    // 1-3 direct costs 10; 1-2-3 costs 2+3=5; node 4 hangs off 3 (+1)
    val edges = Seq((1L, 3L, 10L), (1L, 2L, 2L), (2L, 3L, 3L), (3L, 4L, 1L))
      .toDF("a", "b", "w")
    val out = GraphAlgorithms.ssspBounded(edges, iters = 4, k = 10)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out === Map(1L -> 0L, 2L -> 2L, 3L -> 5L, 4L -> 6L))
    // one round only relaxes direct edges: 3 still costs 10
    val r1 = GraphAlgorithms.ssspBounded(edges, iters = 1, k = 10)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(r1(3L) === 10L)
  }

  test("SSSP matches Floyd-Warshall on random weighted graphs") {
    val rnd = new scala.util.Random(23)
    val n = 12
    val edges = (for {
      a <- 1 to n; b <- (a + 1) to n if rnd.nextDouble() < 0.3
    } yield (a.toLong, b.toLong, (rnd.nextInt(9) + 1).toLong)).toSeq
    // Floyd-Warshall over the undirected weighted graph
    val INF = Long.MaxValue / 4
    val d = Array.fill(n + 1, n + 1)(INF)
    (1 to n).foreach(i => d(i)(i) = 0)
    edges.foreach { case (a, b, w) =>
      d(a.toInt)(b.toInt) = math.min(d(a.toInt)(b.toInt), w)
      d(b.toInt)(a.toInt) = math.min(d(b.toInt)(a.toInt), w)
    }
    for (k <- 1 to n; i <- 1 to n; j <- 1 to n)
      if (d(i)(k) + d(k)(j) < d(i)(j)) d(i)(j) = d(i)(k) + d(k)(j)
    val src = edges.map(_._1).min min edges.map(_._2).min
    val expected = (1 to n)
      .filter(v => d(src.toInt)(v) < INF)
      .map(v => v.toLong -> d(src.toInt)(v)).toMap
    // iters = n is always enough hops for any shortest path
    val out = GraphAlgorithms.ssspBounded(edges.toDF("a", "b", "w"),
        iters = n, k = 100)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out === expected)
  }

  test("SSSP multi-source: distance is the min over the anchor set") {
    import org.apache.spark.sql.functions.col
    // anchors {1,4}: node 3 is 20 away via 1-2-3 but only 1 via 4-3
    val edges = Seq((1L, 2L, 10L), (2L, 3L, 10L), (4L, 3L, 1L), (4L, 5L, 100L))
      .toDF("a", "b", "w")
    val anchors = Seq(1L, 4L).toDF("v")
    val out = GraphAlgorithms.ssspBounded(edges, iters = 4, k = 10,
        sources = Some(anchors))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out === Map(1L -> 0L, 4L -> 0L, 3L -> 1L, 2L -> 10L, 5L -> 100L))
    // and the default (no sources) still anchors at the minimum node id
    val dflt = GraphAlgorithms.ssspBounded(edges, iters = 4, k = 10)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(dflt(1L) === 0L && dflt(3L) === 20L)
  }

  test("personalized PageRank: hand-computed two-round walk on a path") {
    // path 1-2-3, anchor 1, 2 rounds. Contributions per round (deg 1=1,
    // 2=2, 3=1): p1 = {2: .85, 1: .15}; p2 = {1: (.85/2)*.85 + .15,
    // 3: (.85/2)*.85, 2: .15*.85} — two-term sums are order-exact.
    val graph = g(Seq((1L, 2L), (2L, 3L)),
      Seq(1L -> "A", 2L -> "A", 3L -> "A"))
    def r4(v: Double) =
      BigDecimal(v).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    val out = GraphAlgorithms.personalizedPageRank(graph, "A", Seq("n1"),
        iters = 2, k = 10)
      .collect().map(r => r.getLong(0) -> r.getDouble(1))
    assert(out.map(_._1).toSeq === Seq(1L, 3L, 2L)) // rank-desc order
    val m = out.toMap
    assert(m(1L) === r4((0.85 / 2) * 0.85 + 0.15))
    assert(m(3L) === r4((0.85 / 2) * 0.85))
    assert(m(2L) === r4(0.15 * 0.85))
  }

  test("personalized PageRank stays sparse: unreached nodes have no row") {
    val graph = g(Seq((1L, 2L), (3L, 4L)),
      Seq(1L -> "A", 2L -> "A", 3L -> "B", 4L -> "B"))
    val ids = GraphAlgorithms.personalizedPageRank(graph, "A", Seq("n1"),
        iters = 3, k = 10)
      .collect().map(_.getLong(0)).toSet
    assert(ids === Set(1L, 2L))
  }

  test("driver-data k-core reaches a fixed point within the unrolled rounds") {
    val graph = graft.graph.TpchGraph(spark, "/root/testdata/sf0.001")
    val at6 = GraphAlgorithms.kCoreSizes(graph, k = 3, iters = 6)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val at8 = GraphAlgorithms.kCoreSizes(graph, k = 3, iters = 8)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(at6 === at8, "6 peeling rounds must already be the fixed point")
    assert(at6.nonEmpty)
  }

  test("link prediction scores a path's endpoints, hand-derived") {
    // path 1-2-3: the only non-edge pair with a shared neighbor is (1,3)
    // through z=2 (deg 2): cn=1, jac_micro = floor(1e6·1/(1+1-1)) = 1e6,
    // ra = floor(1e6/2)
    val graph = g(Seq((1L, 2L), (2L, 3L)),
      Seq(1L -> "A", 2L -> "A", 3L -> "A"))
    val out = GraphAlgorithms.linkPredictionTopK(graph, maxHubDeg = 64, k = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4)))
    assert(out.toSeq === Seq((1L, 3L, 1L, 1000000L, 500000L)))
  }

  test("link prediction hub cap suppresses wedges; existing edges excluded") {
    // star: hub 10 (deg 5) joined to 1..5, plus a real edge 1-2
    val graph = g(Seq((10L, 1L), (10L, 2L), (10L, 3L), (10L, 4L), (10L, 5L),
        (1L, 2L)),
      (1L to 5L).map(_ -> "A") :+ (10L -> "H"))
    // cap below the hub's degree → no candidate pairs at all
    assert(GraphAlgorithms.linkPredictionTopK(graph, maxHubDeg = 4, k = 100)
      .collect().isEmpty)
    // cap admits the hub → C(5,2)=10 wedge pairs minus the real edge (1,2)
    val out = GraphAlgorithms.linkPredictionTopK(graph, maxHubDeg = 5, k = 100)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(out.length === 9)
    assert(!out.contains((1L, 2L)))
  }

  test("modularity: two disjoint triangles score Q = 0.5 exactly") {
    // LPA converges to one label per triangle; 2m = 12, e_in = 12,
    // d_c = 6 each → t = 500000, pen = 2·250000 → q = 1e6 − 500000
    val graph = g(Seq((1L, 2L), (2L, 3L), (1L, 3L),
        (4L, 5L), (5L, 6L), (4L, 6L)),
      (1L to 6L).map(_ -> "A"))
    val r = GraphAlgorithms.modularityStats(graph, iters = 3).collect().head
    assert((r.getLong(0), r.getLong(1), r.getLong(2)) ===
      ((12L, 12L, 500000L)))
  }

  test("betweenness: path chain accumulates Brandes deltas, hand-derived") {
    // path 1-2-3-4 from source 1: σ=1 everywhere; δ(4)=0,
    // δ(3)=⌊1·(1e6+0)/1⌋=1e6, δ(2)=⌊1·(1e6+1e6)/1⌋=2e6; source excluded
    val graph = g(Seq((1L, 2L), (2L, 3L), (3L, 4L)),
      Seq(1L -> "A", 2L -> "B", 3L -> "B", 4L -> "B"))
    val out = GraphAlgorithms.betweennessTopK(graph, "A", Seq("n1"),
        iters = 3, k = 10)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out === Map(2L -> 2000000L, 3L -> 1000000L, 4L -> 0L))
  }

  test("betweenness: diamond splits sigma between equal shortest paths") {
    // 1-2, 1-3, 2-4, 3-4 from source 1: σ(2)=σ(3)=1, σ(4)=2;
    // δ(2)=δ(3)=⌊1·1e6/2⌋=500000, δ(4)=0
    val graph = g(Seq((1L, 2L), (1L, 3L), (2L, 4L), (3L, 4L)),
      Seq(1L -> "A", 2L -> "B", 3L -> "B", 4L -> "B"))
    val out = GraphAlgorithms.betweennessTopK(graph, "A", Seq("n1"),
        iters = 2, k = 10)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out === Map(2L -> 500000L, 3L -> 500000L, 4L -> 0L))
  }

  test("k-truss keeps K4, peels lone triangles and cascades") {
    // K4 on {1,2,3,4}: every edge in 2 triangles → survives k=4.
    // Triangle {5,6,7}: each edge in 1 triangle → peeled at k=4, kept at 3.
    // Triangle {1,2,9} sharing edge (1,2) with K4: (1,9),(2,9) have
    // support 1 → peeled at k=4; (1,2) keeps support 2 from K4 alone.
    val k4 = Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L), (3L, 4L))
    val tri = Seq((5L, 6L), (6L, 7L), (5L, 7L))
    val hang = Seq((1L, 9L), (2L, 9L))
    val edges = (k4 ++ tri ++ hang).toDF("a", "b")
    val t4 = GraphAlgorithms.kTrussStats(edges, k = 4, iters = 4)
      .collect().head
    assert((t4.getLong(0), t4.getLong(1)) === ((6L, 4L)))
    val t3 = GraphAlgorithms.kTrussStats(edges, k = 3, iters = 4)
      .collect().head
    // k=3 keeps every triangle-supported edge: K4 + lone triangle + {1,2,9}
    assert((t3.getLong(0), t3.getLong(1)) === ((11L, 8L)))
  }

  test("HITS: hand-computed integer scores on a two-hub two-authority graph") {
    // hubs 1 (→3,→4) and 2 (→3); authorities 3 (in-deg 2) and 4 (in-deg 1)
    val graph = g(Seq((1L, 3L), (1L, 4L), (2L, 3L)),
      Seq(1L -> "H", 2L -> "H", 3L -> "A", 4L -> "A"))
    val out = GraphAlgorithms.hits(graph, iters = 2, k = 10)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    // round 1: a(3)=1e6, a(4)=5e5 → h(1)=1e6, h(2)=666666
    // round 2: a raw 3=1666666, 4=1000000 → a(3)=1e6, a(4)=600000
    //          h raw 1=1600000, 2=1000000 → h(1)=1e6, h(2)=625000
    assert(out(3L) === ((0L, 1000000L)))
    assert(out(4L) === ((0L, 600000L)))
    assert(out(1L) === ((1000000L, 0L)))
    assert(out(2L) === ((625000L, 0L)))
  }

  test("forced shuffle fallback (guard off) produces results identical " +
    "to the broadcast path for walks/betweenness/k-core/LPA/PPR/HITS/BFS") {
    // every iterative loop broadcasts O(V) state behind
    // stateBroadcastLimit; the 100×-scale shuffle fallback must be a
    // purely PHYSICAL choice. Force it (limit 0 + auto-broadcast off so
    // Catalyst cannot silently re-broadcast the tiny frames) and assert
    // bit-identical results against the default broadcast path.
    val edges = (0L until 30L).flatMap(i =>
      Seq((i, (i + 1) % 30), (i, (i + 7) % 30)))
    val nodes = (0L until 30L).map(i => i -> (if (i % 2 == 0) "A" else "B"))
    val graph = g(edges, nodes)
    def runAll(): Seq[Seq[Seq[Any]]] = Seq(
      GraphAlgorithms.deterministicWalks(graph, steps = 3),
      GraphAlgorithms.betweennessTopK(graph, "A", Seq("n0", "n2"),
        iters = 3, k = 10),
      GraphAlgorithms.kCoreSizes(graph, k = 3, iters = 4),
      GraphAlgorithms.labelPropagationSizes(graph, iters = 3),
      GraphAlgorithms.personalizedPageRank(graph, "A", Seq("n0"),
        iters = 3, k = 10),
      GraphAlgorithms.hits(graph, iters = 2, k = 10),
      // srcKeyedMinDist (eccentricity + Cypher shortestPath BFS core)
      GraphAlgorithms.eccentricityEst(graph, "A", Seq("n0", "n2"), iters = 3),
      GraphAlgorithms.bfsLayers(graph, "A", Seq("n0"), iters = 3),
      GraphAlgorithms.fwBwPartition(edges.toDF("a", "b"), iters = 3),
      GraphAlgorithms.sccBoundedStats(edges.toDF("a", "b"), iters = 3),
      GraphAlgorithms.ssspBounded(
        edges.map { case (a, b) => (a, b, (a * 3 + b) % 5 + 1) }
          .toDF("a", "b", "w"), iters = 3, k = 10)
    ).map(_.collect().map(_.toSeq).sortBy(_.mkString("|")).toSeq)
    val viaBroadcast = runAll()
    val prevAuto = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    System.setProperty("graft.graph.stateBroadcastLimit", "0")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val viaShuffle = runAll()
      assert(viaShuffle === viaBroadcast,
        "shuffle fallback diverged from the broadcast path")
    } finally {
      System.clearProperty("graft.graph.stateBroadcastLimit")
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevAuto)
    }
  }

  test("the frontier and min-relaxation loops start no probe job: no " +
    "job's call site is isEmpty/count/collect in GraphAlgorithms") {
    // the k-truss, coloring, MIS, matching and k-core peels, personalized
    // PageRank's anchor count and the bootstrap CI's empty-set check are
    // covered too
    import org.apache.spark.scheduler._
    import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
    val graph = g(Seq((1L, 2L), (2L, 3L), (3L, 4L), (1L, 4L), (4L, 5L)),
      Seq(1L -> "A", 2L -> "B", 3L -> "A", 4L -> "B", 5L -> "B"))
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 1L), (3L, 4L), (5L, 1L))
    // a job's short call site is its SQL execution's (the thread that
    // runs an AQE stage is not the caller's, so the stage name is not)
    val execSites = new java.util.concurrent.ConcurrentHashMap[Long, String]()
    val jobExecs = new java.util.concurrent.ConcurrentLinkedQueue[Long]()
    val listener = new SparkListener {
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case s: SparkListenerSQLExecutionStart =>
          execSites.put(s.executionId, s.description)
        case _ =>
      }
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).flatMap(p =>
          Option(p.getProperty("spark.sql.execution.id")))
          .foreach(id => jobExecs.add(id.toLong))
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      Seq(
        GraphAlgorithms.betweennessTopK(graph, "A", Seq("n1"), iters = 3, k = 10),
        GraphAlgorithms.bfsLayers(graph, "A", Seq("n1"), iters = 4),
        GraphAlgorithms.eccentricityEst(graph, "A", Seq("n1", "n3"), 4),
        GraphAlgorithms.fwBwPartition(edges.toDF("a", "b"), iters = 4),
        GraphAlgorithms.sccBoundedStats(edges.toDF("a", "b"), iters = 4),
        GraphAlgorithms.ssspBounded(
          edges.map { case (a, b) => (a, b, a + b) }.toDF("a", "b", "w"),
          iters = 4, k = 10),
        GraphAlgorithms.kTrussStats(edges.toDF("a", "b"), k = 3, iters = 4),
        GraphAlgorithms.jonesPlassmannAssign(edges.toDF("a", "b"), iters = 4),
        GraphAlgorithms.lubyMisAssign(edges.toDF("a", "b"), iters = 4),
        GraphAlgorithms.greedyMatching(edges.toDF("a", "b"), iters = 4),
        GraphAlgorithms.kCoreSizes(graph, k = 2, iters = 4),
        GraphAlgorithms.personalizedPageRank(graph, "A", Seq("n1"), iters = 3, k = 10),
        graft.operators.Metrics.bootstrapCi(
          Seq((1L, Seq(1L, 2L), Seq(2L))).toDF("qid", "p", "l"),
          col("qid"), col("p"), col("l"), b = 8)
      ).foreach(_.collect())
      org.apache.spark.sql.graftbridge.ListenerBus.drain(spark.sparkContext)
    } finally spark.sparkContext.removeSparkListener(listener)
    import scala.jdk.CollectionConverters._
    val sites = jobExecs.asScala.toSeq.map(id => execSites.getOrDefault(id, ""))
    assert(sites.exists(_.startsWith("localCheckpoint at Checkpoint.scala")),
      s"the listener saw none of the loops' checkpoints: $sites")
    val probes = sites.filter(_.matches(
      "(isEmpty|count|collect) at (GraphAlgorithms|Metrics)\\.scala:\\d+"))
    assert(probes.isEmpty, s"probe jobs: ${probes.distinct}")
  }

  test("min-relaxation releases replaced rounds: sccBoundedStats leaves " +
    "as many persisted RDDs after 10 rounds as after 2") {
    // every loop below frees each round it replaces once the successor is
    // materialized. Each input keeps its loop replacing state past round
    // 2: a directed 12-cycle is still relaxing at round 10; the 4-truss
    // of a triangulated open tube (6 rings of 5) peels one band per round
    // from both ends for 6 rounds; the coloring, MIS, matching and 2-core
    // peels on a 21-node path take several rounds; the rest run a fixed
    // round count.
    import graft.operators.{Curation, TextOps, Vectors}
    val cycle = (1L to 12L).map(i => (i, i % 12 + 1)).toDF("a", "b")
    def ring(r: Int, j: Int): Long = r * 5L + (j % 5) + 1
    val tube = (for (r <- 0 until 6; j <- 0 until 5;
                     (dr, dj) <- Seq((0, 1), (1, 0), (1, 1)) if r + dr < 6)
      yield (ring(r, j), ring(r + dr, j + dj))).toDF("a", "b")
    val pathEdges = (1L to 20L).map(i => (i, i + 1))
    val path = pathEdges.toDF("a", "b")
    val pathGraph = g(pathEdges, (1L to 21L).map(_ -> "A"))
    // the walk reconstruction runs every hop round; its BFS stops at hop 2
    val triangle = g(Seq((1L, 2L), (2L, 3L), (1L, 3L)), (1L to 3L).map(_ -> "A"))
    val docs = Seq((1L, "abcdefghijkl mnopqrstuvwx abcdefmnopqr")).toDF("doc_id", "text")
    val vecs = (0 until 20).map(k => (k.toLong,
      Array(8.0f * (k % 2 * 2 - 1), 0.1f * (k % 3), 0.05f * (k % 5))))
      .toDF("vec_id", "embedding")
    val labeled = ((0L until 6L).map(i => (i, "alpha beta gamma delta")) ++
      (10L until 16L).map(i => (i, "omega"))).toDF("doc_id", "text")
    // the graphs' session caches are built once, outside the counts
    Seq(pathGraph, triangle).foreach { gr => gr.adjPairs.count(); gr.bidirTriples.count() }
    val loops: Seq[(String, Int => DataFrame)] = Seq(
      "sccBoundedStats" -> (n => GraphAlgorithms.sccBoundedStats(cycle, n)),
      "kTrussStats" -> (n => GraphAlgorithms.kTrussStats(tube, k = 4, n)),
      "jonesPlassmannAssign" -> (n => GraphAlgorithms.jonesPlassmannAssign(path, n)),
      "lubyMisAssign" -> (n => GraphAlgorithms.lubyMisAssign(path, n)),
      "greedyMatching" -> (n => GraphAlgorithms.greedyMatching(path, n)),
      "kCoreSizes" -> (n => GraphAlgorithms.kCoreSizes(pathGraph, k = 2, n)),
      "personalizedPageRank" ->
        (n => GraphAlgorithms.personalizedPageRank(pathGraph, "A", Seq("n1"), n, k = 5)),
      "labelPropagationSizes" -> (n => GraphAlgorithms.labelPropagationSizes(pathGraph, n)),
      "hits" -> (n => GraphAlgorithms.hits(pathGraph, n, k = 5)),
      "bpeLearnMerges" -> (n => TextOps.bpeLearnMerges(docs, n)),
      "powerIterationTopDir" ->
        (n => Vectors.powerIterationTopDir(vecs, "vec_id", "embedding", n)),
      "classifierTrainStats" -> (n =>
        Curation.classifierTrainStats(labeled, dim = 16, iters = n, lenThreshold = 3)),
      // the parser caps shortestPath at 8 hops
      "shortestPath walks" -> (n => graft.cypher.Planner.run(triangle,
        s"""MATCH p = shortestPath((a:A {name: "n1"})-[*1..${math.min(n, 8)}]-(x))
          |RETURN nodes(p) AS ns""".stripMargin)))
    def leftBehind(run: Int => DataFrame, iters: Int): Int = {
      val sc = spark.sparkContext
      val before = sc.getPersistentRDDs.keySet
      val result = run(iters)
      result.collect()
      val added = sc.getPersistentRDDs.filter { case (id, _) => !before(id) }
      // the result's own checkpoint must not be garbage-collected (and so
      // unpersisted by Spark's cleaner) before it is counted
      java.lang.ref.Reference.reachabilityFence(result)
      added.values.foreach(_.unpersist(blocking = true))
      added.size
    }
    val leaks = loops.collect { case (name, run)
      if leftBehind(run, 10) != leftBehind(run, 2) => name }
    assert(leaks.isEmpty, s"loops keeping replaced rounds: $leaks")
  }

  test("temporalGrowth: cumulative counts from first occurrences only") {
    // month 1: edges (a1,b1), (a1,b2); month 2: (a2,b1) new + (a1,b1)
    // REPEAT (must not recount); month 3: only a repeat — the profile is
    // a step function, so a month with no first occurrence emits no row
    val edges = Seq(
      (1L, 10L, 1L), (1L, 20L, 1L),
      (2L, 10L, 2L), (1L, 10L, 2L),
      (1L, 20L, 3L))
      .toDF("a", "b", "m")
    val out = graft.graph.GraphAlgorithms.temporalGrowth(edges)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
    assert(out(1L) === ((2L, 1L, 2L, 1000000L))) // 2 edges / (1 a · 2 b)
    assert(out(2L) === ((3L, 2L, 2L, 750000L)))  // 3 / 4
    assert(out.size === 2, "repeat-only months emit no step")
  }
}
