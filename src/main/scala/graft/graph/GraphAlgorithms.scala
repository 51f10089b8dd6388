package graft.graph

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.Checkpoint

/** Iterative graph algorithms expressed as plain DataFrame plans (no GraphX
  * conversion): the right choice when the per-iteration work is a
  * join/aggregate Catalyst can optimize and the iteration count is small
  * and known — unlike PageRank/CC, which run to convergence and are faster
  * on GraphX's specialized Pregel runtime (measured; see GraphXBridge).
  *
  * The traversals share two loops. [[srcKeyedMinDist]] is the frontier
  * kernel behind BFS layers, harmonic centrality, eccentricity, FW-BW
  * reachability, betweenness' forward sweep and the Cypher
  * `shortestPath` planner; [[minRelax]] is the min-relaxation loop behind
  * bounded SCC and SSSP. Both, and the k-truss, coloring, MIS, matching and
  * k-core peels, read their stop signal from the round's own checkpoint
  * ([[graft.Checkpoint.observed]]), never from a second probe job, and
  * every loop that replaces its state releases the replaced round once
  * its successor is materialized.
  */
object GraphAlgorithms {

  /** O(V)-state broadcast guard: the iterative loops below broadcast their
    * per-round state (frontiers, walk positions, label maps) only while its
    * row count stays under this limit, so the O(E) adjacency is never
    * re-shuffled per round; past it they fall back to plain shuffled
    * equi-joins — the 100×-scale path, where V itself is not
    * broadcast-sized. Overridable via the `graft.graph.stateBroadcastLimit`
    * System property so a spec can FORCE the shuffle fallback on the micro
    * graph and prove both paths produce identical results (the guard is a
    * physical choice; results must be invariant to it). */
  private[graft] def stateBroadcastLimit: Long =
    java.lang.Long.getLong("graft.graph.stateBroadcastLimit", 5000000L)

  /** `df` — per-round state of at most `stateRows` rows — broadcast while
    * `stateRows` stays under [[stateBroadcastLimit]], else left to a
    * shuffle join. */
  private def stateSide(df: DataFrame, stateRows: Long): DataFrame =
    if (stateRows <= stateBroadcastLimit) broadcast(df) else df

  /** The canonical undirected edge set of an (a, b) edge list: each edge
    * once as a < b, self-loops dropped. */
  private def canonicalEdges(edges: DataFrame): DataFrame =
    edges.select(least(col("a"), col("b")).as("a"),
        greatest(col("a"), col("b")).as("b"))
      .where(col("a") < col("b")).distinct()

  /** Both orientations of an (a, b) edge list. */
  private def symmetric(und: DataFrame): DataFrame =
    und.unionByName(und.select(col("b").as("a"), col("a").as("b")))

  /** [[srcKeyedMinDist]]'s result: `layers(t)` holds the checkpointed
    * `(src, v, dist = t, carried…)` rows first reached at hop t (seeds at
    * 0) and `rows(t)` its row count, read off that checkpoint. */
  final case class Layers(layers: IndexedSeq[DataFrame], rows: IndexedSeq[Long]) {
    def dist: DataFrame = layers.reduce(_ unionByName _)
  }

  /** Triangle counting by degree orientation — the 100 TB shape: every
    * undirected edge is oriented from its lower-(degree, id) endpoint to the
    * higher one, so wedge enumeration fans out from the SMALLER side of each
    * edge. Per-node out-degree is then bounded by O(sqrt(m)) on any graph,
    * which is what keeps hub nodes from enumerating all their neighbor
    * pairs (the naive wedge count is sum(deg²), unbounded under skew; the
    * oriented count is sum(outdeg²) ≤ m^1.5). Each triangle is produced
    * exactly once, at its minimum vertex in the orientation order, as a
    * wedge (u→x, u→y) closed by the oriented edge (x→y).
    *
    * Input: edge list with columns (a, b); direction, duplicates and
    * self-loops are tolerated (canonicalized away). Returns the
    * triangles-per-node histogram: (n_tri, n_nodes).
    */
  def triangleHistogram(edges: DataFrame): DataFrame =
    perNodeTriangles(edges)._2
      .groupBy("n_tri").agg(count(lit(1)).as("n_nodes"))

  /** Shared degree-oriented triangle enumeration: returns the full degree
    * table (v, deg) and the per-node triangle-corner counts (v, n_tri;
    * triangle-free nodes absent). Wedges pivot at the LOWER-degree
    * endpoint (id tiebreak), so per-node wedge fan-out is bounded by the
    * oriented out-degree — the standard skew guard that keeps hub nodes
    * from enumerating deg² pairs. */
  private def perNodeTriangles(edges: DataFrame): (DataFrame, DataFrame) = {
    val und = canonicalEdges(edges)
    val deg = symmetric(und).groupBy(col("a").as("v")).agg(count(lit(1)).as("deg"))
    val fwd = col("da") < col("db") ||
      (col("da") === col("db") && col("a") < col("b"))
    val oriented = und
      .join(deg.select(col("v").as("a"), col("deg").as("da")), "a")
      .join(deg.select(col("v").as("b"), col("deg").as("db")), "b")
      .select(when(fwd, col("a")).otherwise(col("b")).as("u"),
        when(fwd, col("b")).otherwise(col("a")).as("w"))
    // wedges at u, deduped by id order of the far endpoints; the closing
    // edge is checked against the canonical (a < b by id) undirected set
    val wedges = oriented.select(col("u"), col("w").as("x"))
      .join(oriented.select(col("u"), col("w").as("y")), Seq("u"))
      .where(col("x") < col("y"))
    val tri = wedges.join(
      und.select(col("a").as("x"), col("b").as("y")), Seq("x", "y"), "left_semi")
    val corners = tri.select(col("u").as("v"))
      .unionByName(tri.select(col("x").as("v")))
      .unionByName(tri.select(col("y").as("v")))
    (deg, corners.groupBy("v").agg(count(lit(1)).as("n_tri")))
  }

  /** Local clustering coefficient distribution: per node with deg ≥ 2,
    * cc = 2·tri(v) / (deg(v)·(deg(v)−1)) in integer micro-units
    * (triangle-free nodes score 0), bucketed into deciles. The per-node
    * table reuses [[perNodeTriangles]]'s oriented wedge enumeration — no
    * second pass over the edge set, and the histogram keeps the result
    * O(10) at any graph size. */
  def clusteringCoefficients(edges: DataFrame): DataFrame = {
    val (deg, perNode) = perNodeTriangles(edges)
    deg.where(col("deg") >= 2)
      .join(perNode, Seq("v"), "left")
      .na.fill(0L, Seq("n_tri"))
      .select(expr("(2 * n_tri * 1000000) div (deg * (deg - 1))")
        .as("cc_micro"))
      .groupBy(expr("cc_micro div 100000").as("decile"))
      .agg(count(lit(1)).as("n_nodes"), sum("cc_micro").as("sum_cc"))
  }

  /** Sampled, distance-bounded betweenness centrality (Brandes from a
    * pivot anchor set): forward BFS accumulates per-(source, node)
    * shortest-path counts σ layer by layer (σ(v) = Σ σ(u) over
    * predecessors — frontier expansion, so per-round work tracks the
    * frontier, and ALL sources run in ONE pass keyed by src); the backward
    * sweep propagates dependencies layer by layer in integer micro-units:
    * δ(v) = Σ over successors w of ⌊σ(v)·(1e6 + δ(w)) / σ(w)⌋ — exact
    * integer arithmetic, order-independent sums, oracle-expressible as
    * unrolled CTEs (the pageRank/walks pattern). Distance bounding at
    * `iters` hops is part of the semantics (k-bounded betweenness — the
    * standard scale approximation next to source sampling) and the oracle
    * mirrors it. σ saturates at 1e6 and δ at 1e12 (both mirrored), keeping
    * every product within Long range on ANY graph instead of silently
    * wrapping on adversarial hub structures. Returns top-`k` non-anchor
    * nodes by (bc_micro desc, id). */
  def betweennessTopK(g: PropertyGraph, label: String, names: Seq[String],
                      iters: Int, k: Int): DataFrame = {
    val sigmaCap = 1000000L
    val deltaCap = 1000000000000L
    val adj = g.adjPairs
    // per-layer state is O(sources·V): the same guard bound sizes the
    // kernel's forward joins and the backward sweep's below
    val stateRows = g.nodeCount * names.length
    val anchors = g.nodes
      .where(col("label") === label && col("name").isin(names: _*))
      .select(col("nodeId").as("src"), col("nodeId").as("v"),
        lit(1L).as("sigma"))
    val fwd = srcKeyedMinDist(adj, anchors, iters, stateRows,
      carry = Some(least(sum(col("sigma")), lit(sigmaCap)).as("sigma")))
    // the kernel stops at the first empty layer, so the backward sweep
    // starts at the deepest REACHED one — identical to iterating the
    // empty tail (empty layers contribute nothing to delta)
    val deepest = math.max(0, fwd.rows.lastIndexWhere(_ > 0))
    // backward: deepest layer has delta 0; each shallower layer sums the
    // floored per-successor terms (left join keeps leaf deltas at 0)
    val leaf = fwd.layers(deepest)
      .select(col("src"), col("v"), col("sigma"), lit(0L).as("delta"))
    val deltas = fwd.layers.take(deepest).scanRight(leaf) { (layer, dw) =>
      val terms = adj
        .join(stateSide(layer.as("l"), stateRows), col("l.v") === col("a"))
        .join(stateSide(dw.as("dw"), stateRows),
          col("dw.src") === col("l.src") && col("dw.v") === col("b"))
        .groupBy(col("l.src").as("src"), col("l.v").as("v"))
        .agg(least(sum(expr(
          "(l.sigma * (1000000 + delta)) div dw.sigma")),
          lit(deltaCap)).as("delta"))
      Checkpoint(layer
        .join(terms, Seq("src", "v"), "left")
        .select(col("src"), col("v"), col("sigma"),
          coalesce(col("delta"), lit(0L)).as("delta")))
    }
    deltas.reduce(_ unionByName _).where(col("v") =!= col("src"))
      .groupBy(col("v").as("node_id"))
      .agg(sum(col("delta")).as("bc_micro"))
      .orderBy(col("bc_micro").desc, col("node_id"))
      .limit(k)
  }

  /** k-truss by support peeling: keep exactly the edges participating in
    * ≥ k−2 triangles WITHIN the surviving subgraph, iterating `iters`
    * unrolled rounds (fixed rounds + identity-round early exit — the same
    * oracle-expressible loop contract as [[kCoreSizes]]: once a round
    * removes nothing, every further round is the identity, so engine early
    * exit and the oracle's full unroll agree). The truss is the classic
    * community-core signal one notch stronger than k-core (every edge, not
    * just every node, must be triangle-supported).
    *
    * Per-round support: symmetric adjacency self-joined into wedges
    * (u, x<y), closed against the canonical edge set — each triangle
    * {p,q,r} closes exactly once per corner, and each closure credits ONLY
    * its closing edge, so support(e) = exact triangle count per edge with
    * no double counting. Wedge volume is Σdeg² of the CURRENT subgraph
    * (shrinks every round); the peel itself is one left join + filter.
    * Returns one row: (n_edges, n_nodes) of the truss. */
  def kTrussStats(edges: DataFrame, k: Int, iters: Int): DataFrame = {
    require(k >= 3, "truss semantics need k >= 3 (support threshold k-2 >= 1)")
    var (und, edgeCount) = Checkpoint.counted(canonicalEdges(edges))
    var round = 0
    var converged = edgeCount == 0
    while (round < iters && !converged) {
      val sym = symmetric(und)
      val wedges = sym.select(col("a").as("u"), col("b").as("x"))
        .join(sym.select(col("a").as("u"), col("b").as("y")), Seq("u"))
        .where(col("x") < col("y"))
      val support = wedges
        .join(und.select(col("a").as("x"), col("b").as("y")),
          Seq("x", "y"), "left_semi")
        .groupBy(col("x").as("a"), col("y").as("b"))
        .agg(count(lit(1)).as("supp"))
      val (next, n) = Checkpoint.counted(und.join(support, Seq("a", "b"), "left")
        .where(coalesce(col("supp"), lit(0L)) >= k - 2)
        .select(col("a"), col("b")))
      Checkpoint.release(und)
      und = next
      converged = n == edgeCount
      edgeCount = n
      round += 1
    }
    val nodes = und.select(col("a").as("v"))
      .unionByName(und.select(col("b").as("v"))).distinct()
    und.agg(count(lit(1)).as("n_edges"))
      .crossJoin(nodes.agg(count(lit(1)).as("n_nodes")))
  }

  /** BFS distance layers from an anchor node set, bounded at `iters` hops:
    * every anchor seeds the [[srcKeyedMinDist]] kernel under one constant
    * source, so dist(v) is the minimum hop count from the set — the same
    * rows as `iters` unrolled rounds of min-distance propagation (the
    * oracle's form). Unreached nodes are absent from the output. Returns
    * (dist, label, n_nodes).
    */
  def bfsLayers(g: PropertyGraph, label: String, names: Seq[String],
                iters: Int): DataFrame =
    bfsLayers(g, label, names, iters, g.adjPairs)

  /** [[bfsLayers]] over an EXPLICIT adjacency — the documented one-line
    * swap from the session-cached `adjPairs` to a disk-materialized
    * bucketed table ([[GraphStore.writeBucketedAdj]]): pass
    * `GraphStore.readBucketedAdj(spark, prefix)` and each round's
    * frontier ⋈ adjacency join plans with no exchange and no sort on the
    * adjacency side. Results are identical by construction (same rows,
    * same algorithm). */
  def bfsLayers(g: PropertyGraph, label: String, names: Seq[String],
                iters: Int, adj: DataFrame): DataFrame = {
    val seeds = g.nodes
      .where(col("label") === label && col("name").isin(names: _*))
      .select(lit(0L).as("src"), col("nodeId").as("v"))
    srcKeyedMinDist(adj, seeds, iters, g.nodeCount).dist
      .join(g.nodes, col("v") === col("nodeId"))
      .groupBy(col("dist"), col("label"))
      .agg(count(lit(1)).as("n_nodes"))
  }

  /** Per-anchor eccentricity (bounded): the max BFS distance each anchor
    * reaches within `iters` hops, every anchor its own source in ONE
    * [[srcKeyedMinDist]] pass ([[bfsLayers]] semantics per source).
    * `max(ecc)` over a pivot set is the standard diameter lower bound at
    * scale — pivots sample the graph instead of the O(V) all-pairs sweep,
    * and the bound only tightens as pivots are added. */
  def eccentricityEst(g: PropertyGraph, label: String, names: Seq[String],
                      iters: Int): DataFrame = {
    val seeds = g.nodes
      .where(col("label") === label && col("name").isin(names: _*))
      .select(col("nodeId").as("src"), col("nodeId").as("v"))
    srcKeyedMinDist(g.adjPairs, seeds, iters, g.nodeCount * names.length).dist
      .groupBy("src")
      .agg(max("dist").cast("long").as("ecc"),
        count(lit(1)).as("n_reached"))
      .join(g.nodes, col("src") === col("nodeId"))
      .select(col("name").as("anchor"), col("ecc"), col("n_reached"))
  }

  /** The frontier kernel — source-keyed BFS: the minimum hop distance
    * `(src, v, dist)` from every seed key `src` to each node it reaches
    * within `maxHops` over `adj` (`(a, b)` pairs, read a → b), all sources
    * in ONE keyed frontier pass. `seeds` holds `(src, v)` start rows at
    * dist 0 — `v = src` for one search per node, a constant `src` for one
    * search from a node set. Each round expands only the newest layer
    * and anti-joins everything reached, so first discovery = min distance
    * and each `(src, v)` appears once.
    *
    * `carry` is an optional named aggregate over the incoming rows of a
    * `(src, v)` (seeds carry its column too): betweenness' capped σ sum.
    * State is O(seeds·V), so callers pass their own `stateRows` bound:
    * under [[stateBroadcastLimit]] the state broadcasts and the O(E)
    * adjacency never re-shuffles per round; past it the rounds fall back
    * to shuffle joins — the distributed-BFS shape when seeds·V is huge.
    * The loop stops at the first empty layer, read off its checkpoint:
    * every later round would be a no-op, so the result equals the
    * unrolled oracle's round for round. */
  def srcKeyedMinDist(adj: DataFrame, seeds: DataFrame, maxHops: Int,
                      stateRows: Long, carry: Option[Column] = None): Layers = {
    val carried = seeds.columns.filterNot(Set("src", "v")).map(col).toSeq
    def layer(df: DataFrame, t: Int): (DataFrame, Long) =
      Checkpoint.counted(df.select(Seq(col("src"), col("v"), lit(t).as("dist")) ++ carried: _*))
    val (seed, n0) = layer(seeds.distinct(), 0)
    var layers = Vector(seed)
    var rows = Vector(n0)
    while (layers.length <= maxHops && rows.last > 0) {
      val reached = adj.join(stateSide(layers.last, stateRows), col("v") === col("a"))
      val next = carry match {
        case Some(agg) => reached.groupBy(col("src"), col("b").as("v")).agg(agg)
        case None => reached.select(col("src"), col("b").as("v")).distinct()
      }
      val visited = layers.map(_.select(col("src"), col("v"))).reduce(_ unionByName _)
      val (cp, n) = layer(
        next.join(stateSide(visited, stateRows), Seq("src", "v"), "left_anti"),
        layers.length)
      layers :+= cp
      rows :+= n
    }
    Layers(layers, rows)
  }

  /** Jones–Plassmann greedy coloring, derandomized: each round, every
    * uncolored node whose hash priority strictly exceeds ALL uncolored
    * neighbors' takes the smallest color absent among its already-colored
    * neighbors (the mex — `array_min(array_except(sequence(0, |used|),
    * used))`). Hash priorities make rounds deterministic and
    * oracle-replayable; adjacent nodes can never win together, so the
    * coloring is always proper. Bounded `iters` rounds (the k-bounded
    * loop contract); nodes still uncolored report as color −1. Per-round
    * work: one neighbor max + one colored-neighbor set per winner — keyed
    * aggregates only. Returns the color histogram. */
  def jonesPlassmannColors(edges: DataFrame, iters: Int): DataFrame = {
    val colored = jonesPlassmannAssign(edges, iters)
    colored.where(col("color") >= 0)
      .groupBy("color").agg(count(lit(1)).as("n_nodes"))
      .unionByName(colored.where(col("color") === -1)
        .groupBy("color").agg(count(lit(1)).as("n_nodes")))
  }

  /** Per-node color assignment behind [[jonesPlassmannColors]] (uncolored
    * after `iters` rounds → −1); exposed so properness is testable. */
  def jonesPlassmannAssign(edges: DataFrame, iters: Int): DataFrame = {
    val adj = Checkpoint(symmetric(canonicalEdges(edges)))
    var unc = Checkpoint(adj.select(col("a").as("v")).distinct()
      .withColumn("p", graft.operators.Dedup.md5Long(col("v").cast("string"))))
    var colored = unc.select(col("v"), lit(0L).as("color")).where(lit(false))
    var round = 0
    var progress = true
    while (round < iters && progress) {
      round += 1
      val nbrMax = adj.join(unc.select(col("v").as("a"), col("p")), Seq("a"))
        .join(unc.select(col("v").as("b"), col("p").as("np")), Seq("b"))
        .groupBy(col("a").as("v")).agg(max("np").as("mp"))
      val winners = Checkpoint(unc.join(nbrMax, Seq("v"), "left")
        .where(col("mp").isNull || col("p") > col("mp"))
        .select("v"))
      val used = winners.join(adj, col("v") === col("a"))
        .join(colored.select(col("v").as("cb"), col("color")),
          col("b") === col("cb"))
        .groupBy("v").agg(collect_set("color").as("cs"))
      val (assigned, nAssigned) = Checkpoint.counted(
        winners.join(used, Seq("v"), "left")
          .select(col("v"), coalesce(
            expr("array_min(array_except(sequence(0L, cast(size(cs) as long)), cs))"),
            lit(0L)).as("color")))
      progress = nAssigned > 0
      val nextColored = Checkpoint(colored.unionByName(assigned))
      val nextUnc = Checkpoint(unc.join(winners, Seq("v"), "left_anti"))
      Checkpoint.release(winners, assigned, colored, unc)
      colored = nextColored
      unc = nextUnc
    }
    Checkpoint.release(adj)
    colored.unionByName(unc.select(col("v"), lit(-1L).as("color")))
  }

  /** Per-node maximal-independent-set state behind [[lubyMis]]:
    * state 1 = in the MIS, 0 = excluded (a neighbor entered), −1 =
    * undecided after `iters` rounds. Luby's algorithm with the repo's
    * derandomized-priority convention (md5 of the node id — the same
    * stand-in for Luby's per-round randomness as [[greedyMatching]] /
    * [[jonesPlassmannAssign]]): each round, every live node holding the
    * STRICT minimum priority in its closed live neighborhood joins the
    * set; it and its live neighbors leave. Strictness keeps independence
    * safe even under a (cosmically unlikely) md5 collision — neither
    * side wins. Identity rounds are no-ops, so the early exit is
    * invisible to the fixed-round oracle (the k-core loop contract).
    *
    * Scale: per round one keyed min over the live adjacency, one
    * left-anti prune, two semi-join edge prunes — all shuffles on the
    * node key; the frontier-free state is one (v, p) row per live node
    * and the live edge set only ever shrinks. */
  def lubyMisAssign(edges: DataFrame, iters: Int): DataFrame = {
    var adj = Checkpoint(symmetric(canonicalEdges(edges)))
    var live = Checkpoint(adj.select(col("a").as("v")).distinct()
      .withColumn("p", graft.operators.Dedup.md5Long(col("v").cast("string"))))
    var decided = live.select(col("v"), lit(0L).as("state")).where(lit(false))
    var round = 0
    var progress = true
    while (round < iters && progress) {
      round += 1
      val nbrMin = adj
        .join(live.select(col("v").as("b"), col("p").as("np")), Seq("b"))
        .groupBy(col("a").as("v")).agg(min("np").as("mp"))
      val (winners, nWinners) = Checkpoint.counted(
        live.join(nbrMin, Seq("v"), "left")
          .where(col("mp").isNull || col("p") < col("mp"))
          .select("v"))
      progress = nWinners > 0
      val excluded = Checkpoint(adj
        .join(winners.select(col("v").as("a")), Seq("a"), "left_semi")
        .select(col("b").as("v")).distinct()
        .join(winners, Seq("v"), "left_anti"))
      val nextDecided = Checkpoint(decided
        .unionByName(winners.select(col("v"), lit(1L).as("state")))
        .unionByName(excluded.select(col("v"), lit(0L).as("state"))))
      val nextLive = Checkpoint(
        live.join(nextDecided.select("v"), Seq("v"), "left_anti"))
      val nextAdj = Checkpoint(adj
        .join(nextLive.select(col("v").as("a")), Seq("a"), "left_semi")
        .join(nextLive.select(col("v").as("b")), Seq("b"), "left_semi"))
      Checkpoint.release(winners, excluded, decided, live, adj)
      decided = nextDecided
      live = nextLive
      adj = nextAdj
    }
    Checkpoint.release(adj)
    decided.unionByName(live.select(col("v"), lit(-1L).as("state")))
  }

  /** Maximal-independent-set summary: set size, an id checksum, and the
    * undecided remainder (0 once the rounds reach maximality). */
  def lubyMis(edges: DataFrame, iters: Int): DataFrame =
    lubyMisAssign(edges, iters).agg(
      sum(when(col("state") === 1L, 1L).otherwise(0L)).as("n_mis_nodes"),
      sum(when(col("state") === 1L, col("v")).otherwise(0L))
        .as("sum_mis_ids"),
      sum(when(col("state") === -1L, 1L).otherwise(0L)).as("n_undecided"))

  /** Butterfly (bipartite 4-cycle) counting — the bipartite analog of
    * triangle counting, THE cohesion metric for two-mode graphs like
    * order×part: a butterfly is two left nodes sharing two right nodes.
    * Count = Σ over right-node pairs C(co-occurrence, 2), computed from
    * the per-left-node pair fan-out with the same hub valve as the wedge
    * enumerators (`maxLeftDeg` caps a left node's pair explosion — a
    * 10^5-item order would otherwise emit 10^10 pairs; the cap is part of
    * the semantics and the oracle mirrors it). One explode + two keyed
    * aggregates. */
  def butterflyStats(edges: DataFrame, maxLeftDeg: Int): DataFrame = {
    val e = edges.select(col("l"), col("r")).distinct()
    val ldeg = e.groupBy("l").agg(count(lit(1)).as("d"))
      .where(col("d") <= maxLeftDeg).select("l")
    val kept = e.join(ldeg, Seq("l"), "left_semi")
    val pairs = kept.select(col("l"), col("r").as("r1"))
      .join(kept.select(col("l"), col("r").as("r2")), Seq("l"))
      .where(col("r1") < col("r2"))
    val co = pairs.groupBy("r1", "r2").agg(count(lit(1)).as("c"))
    co.agg(
      count(lit(1)).as("n_wedge_pairs"),
      sum(expr("c * (c - 1) div 2")).cast("long").as("n_butterflies"),
      max("c").cast("long").as("max_cooccurrence"))
  }

  /** Distributed greedy maximal matching (the classic handshake rounds —
    * Israeli–Itai shape, derandomized): every round, each live node points
    * at its minimum-priority live incident edge (priority = the portable
    * md5 hash of the canonical endpoint pair, so rounds are deterministic
    * and oracle-replayable); an edge joins the matching when BOTH
    * endpoints point at it, and matched nodes leave. Per-round work is two
    * keyed min-aggregates + one semi-join — no sequential edge scan, the
    * reason this is THE matching primitive at cluster scale. Bounded
    * `iters` rounds; reports matched edges/nodes and the live remainder
    * (0 live edges ⇒ the matching is maximal). */
  def greedyMatching(edges: DataFrame, iters: Int): DataFrame = {
    var live = Checkpoint(canonicalEdges(edges)
      .withColumn("p", graft.operators.Dedup.md5Long(
        concat_ws("-", col("a"), col("b")))))
    var matchedEdges = 0L
    var matchedNodes = 0L
    var round = 0
    var progress = true
    // identity rounds change nothing, so the early exit is invisible to
    // the fixed-round oracle (the k-core/k-truss loop contract)
    while (round < iters && progress) {
      round += 1
      val ends = live.select(col("a").as("v"), col("p"))
        .unionByName(live.select(col("b").as("v"), col("p")))
      val best = ends.groupBy("v").agg(min("p").as("bp"))
      val (matched, nMatched) = Checkpoint.counted(live
        .join(best.select(col("v").as("a"), col("bp").as("pa")), Seq("a"))
        .join(best.select(col("v").as("b"), col("bp").as("pb")), Seq("b"))
        .where(col("p") === col("pa") && col("p") === col("pb"))
        .select("a", "b"))
      matchedEdges += nMatched
      matchedNodes += 2 * nMatched
      progress = nMatched > 0
      val deadNodes = matched.select(col("a").as("v"))
        .unionByName(matched.select(col("b").as("v")))
      val next = Checkpoint(live
        .join(deadNodes.select(col("v").as("a")), Seq("a"), "left_anti")
        .join(deadNodes.select(col("v").as("b")), Seq("b"), "left_anti")
        .select("a", "b", "p"))
      Checkpoint.release(matched, live)
      live = next
    }
    val spark = edges.sparkSession
    import spark.implicits._
    Seq((matchedEdges, matchedNodes)).toDF("n_matched_edges", "n_matched_nodes")
      .crossJoin(live.agg(count(lit(1)).as("n_live_edges")))
  }

  /** FW-BW reachability partition from a pivot over the DIRECTED edge
    * list — the first step of the distributed SCC algorithm (Fleischer/
    * Hendrickson/Pinar): forward-reach F and backward-reach B from the
    * pivot split the graph into SCC(pivot) = F∩B and three recursion sets
    * (F∖B, B∖F, the remainder), whose sizes this reports. Both searches
    * run the [[srcKeyedMinDist]] kernel from the pivot, over the edges and
    * over their reversal; everything else in the catalog is undirected,
    * so this is the directed-traversal coverage point. Pivot defaults to
    * the minimum node id in the edge set (deterministic,
    * oracle-expressible). The reach state is O(V) ≤ 2·|edges|, the guard
    * bound, counted off the edge set's own checkpoint. */
  def fwBwPartition(edges: DataFrame, iters: Int): DataFrame = {
    val (dir, nEdges) = Checkpoint.counted(edges.select(col("a"), col("b")).distinct())
    val pivot = dir.agg(least(min(col("a")), min(col("b"))).as("v"))
      .select(lit(0L).as("src"), col("v"))
    def reach(adj: DataFrame): DataFrame =
      srcKeyedMinDist(adj, pivot, iters, 2 * nEdges)
        .dist.select(col("v"))
    val fwd = reach(dir)
    val bwd = reach(dir.select(col("b").as("a"), col("a").as("b")))
    val nodes = dir.select(col("a").as("v"))
      .unionByName(dir.select(col("b").as("v"))).distinct()
    val f = fwd.withColumn("in_f", lit(1))
    val b = bwd.withColumn("in_b", lit(1))
    nodes.join(f, Seq("v"), "left").join(b, Seq("v"), "left")
      .select(coalesce(col("in_f"), lit(0)).as("in_f"),
        coalesce(col("in_b"), lit(0)).as("in_b"))
      .agg(sum(expr("in_f * in_b")).cast("long").as("n_scc"),
        sum(expr("in_f * (1 - in_b)")).cast("long").as("n_fwd_only"),
        sum(expr("(1 - in_f) * in_b")).cast("long").as("n_bwd_only"),
        sum(expr("(1 - in_f) * (1 - in_b)")).cast("long").as("n_rest"))
  }

  /** k-bounded SCC classification over the WHOLE directed graph — the
    * full-graph generalization of [[fwBwPartition]]'s single pivot: one
    * forward and one backward min-label propagation (`iters` rounds
    * each), and every node whose forward-min equals its backward-min m
    * carries an SCC certificate (it reaches m within k hops AND m
    * reaches it, so all nodes sharing the certificate are mutually
    * reachable through m). One pass classifies every SCC whose min-id
    * member sits within `iters` hops of its members — the Orzan-style
    * coloring step — instead of one pivot component per run; nodes with
    * differing labels stay honestly unclassified (they would seed the
    * next recursion level at scale, exactly like FW-BW's rest set).
    *
    * Scale: per round, one keyed join + one map-side-combinable min per
    * direction ([[minRelax]] with zero weights); label state is one
    * (v, m) row per node, monotonically non-increasing, and the whole
    * pass is 2·iters shuffles on the node key regardless of SCC count. */
  def sccBoundedStats(edges: DataFrame, iters: Int): DataFrame = {
    val dadj = Checkpoint(edges.select(col("a"), col("b")).distinct())
    val nodes = Checkpoint(dadj.select(col("a").as("v"))
      .unionByName(dadj.select(col("b").as("v"))).distinct())
    val labels = nodes.select(col("v"), col("v").as("m"))
    // forward-min: a takes b's label along a → b (the min node a reaches);
    // backward-min: b takes a's (the min node reaching b)
    val fwd = minRelax(dadj.select(col("b").as("a"), col("a").as("b"),
      lit(0L).as("w")), labels, iters)
    val bwd = minRelax(dadj.select(col("a"), col("b"), lit(0L).as("w")),
      labels, iters)
    val joined = Checkpoint(fwd.select(col("v"), col("m").as("fm"))
      .join(bwd.select(col("v"), col("m").as("bm")), Seq("v")))
    Checkpoint.release(dadj, nodes, fwd, bwd) // nothing reads them past joined
    val sccs = joined.where(col("fm") === col("bm"))
      .groupBy(col("fm").as("scc")).agg(count(lit(1)).as("sz"))
    sccs.agg(count(lit(1)).as("n_sccs"),
        coalesce(sum("sz"), lit(0L)).as("n_classified"),
        coalesce(max("sz"), lit(0L)).as("largest_scc"))
      .crossJoin(broadcast(joined.where(col("fm") =!= col("bm"))
        .agg(count(lit(1)).as("n_unclassified"))))
  }

  /** Directed-graph reciprocity: the fraction of (non-loop, distinct)
    * edges whose reverse edge also exists, in integer micro-units — the
    * first-order asymmetry diagnostic for behavior/interaction graphs
    * (mutual follows, call-backs, A↔B transitions). One self-semi-join
    * on the reversed key; no aggregation ever sees more than the edge
    * list. */
  def reciprocityStats(edges: DataFrame): DataFrame = {
    val e = Checkpoint(edges.select(col("a"), col("b"))
      .where(col("a") =!= col("b")).distinct())
    val rec = e.join(e.select(col("b").as("a"), col("a").as("b")),
      Seq("a", "b"), "left_semi")
    e.agg(count(lit(1)).as("m"))
      .crossJoin(broadcast(rec.agg(count(lit(1)).as("n_reciprocal"))))
      .select(col("m"), col("n_reciprocal"),
        expr("(n_reciprocal * 1000000) div greatest(m, 1)")
          .as("reciprocity_micro"))
  }

  /** Degree assortativity (Newman's r): Pearson correlation of endpoint
    * degrees over the symmetrized edge list. All moments are EXACT integer
    * sums (m, Σdd', Σd, Σd²) — emitted alongside r so the hash gate pins
    * the arithmetic, with the single float division rounded at the end.
    * By symmetry Sy = Sx and Syy = Sxx, so
    * r = (m·Sxy − Sx²) / (m·Sxx − Sx²). One scan + two degree joins. */
  def degreeAssortativity(g: PropertyGraph): DataFrame = {
    val adj = g.adjPairs
    val deg = adj.groupBy("a").agg(count(lit(1)).as("deg"))
    adj
      .join(deg.select(col("a"), col("deg").as("da")), Seq("a"))
      .join(deg.select(col("a").as("b"), col("deg").as("db")), Seq("b"))
      .agg(count(lit(1)).as("m"), sum(expr("da * db")).as("sxy"),
        sum("da").as("sx"), sum(expr("da * da")).as("sxx"))
      .select(col("m"), col("sxy"), col("sx"), col("sxx"),
        round((col("m") * col("sxy") - col("sx") * col("sx")).cast("double") /
          nullif((col("m") * col("sxx") - col("sx") * col("sx"))
            .cast("double"), lit(0.0)), 6)
          .as("assortativity"))
  }

  /** Harmonic centrality of an anchor set: Σ over reached nodes of
    * 1e6 div dist (integer micro-units; unreached nodes contribute 0 by
    * omission, the harmonic convention). Rides on [[bfsLayers]] (the
    * [[srcKeyedMinDist]] kernel) — one extra two-column aggregate over the
    * layer histogram. */
  def harmonicCentrality(g: PropertyGraph, label: String,
                         names: Seq[String], iters: Int): DataFrame =
    bfsLayers(g, label, names, iters)
      .where(col("dist") > 0)
      .agg(sum(expr("n_nodes * (1000000 div dist)")).as("harmonic_micro"),
        sum(col("n_nodes")).as("n_reached"))

  /** Bounded Bellman-Ford single-source shortest paths over a WEIGHTED
    * undirected edge list (a, b, w — integer weights, so distances stay in
    * exact Long arithmetic): `iters` relaxation rounds give the exact
    * shortest distance for every path of ≤ iters hops. Unlike BFS, settled
    * distances can improve in later rounds, so the whole reached set
    * re-propagates each round (that IS Bellman-Ford); the per-round plan is
    * one join + one min-aggregate. Sources: an optional anchor set (one
    * node-id column; every anchor starts at distance 0, so dist = min over
    * anchors — the graph-RAG "distance from the query's entities" shape,
    * like [[bfsLayers]]/[[personalizedPageRank]]); default is the minimum
    * node id in the edge set (deterministic, oracle-expressible). Returns
    * the k nearest (node_id, dist). */
  def ssspBounded(edges: DataFrame, iters: Int, k: Int,
                  sources: Option[DataFrame] = None): DataFrame = {
    val sym = Checkpoint(edges.select(col("a"), col("b"), col("w"))
      .unionByName(edges.select(col("b").as("a"), col("a").as("b"), col("w"))))
    val src = sources
      .map(_.toDF("v").select(col("v")).distinct())
      .getOrElse(sym.agg(min(col("a")).as("v")))
    minRelax(sym, src.select(col("v"), lit(0L).as("m")), iters)
      .orderBy(col("m").asc, col("v")).limit(k)
      .select(col("v").as("node_id"), col("m").as("dist"))
  }

  /** The min-relaxation loop behind [[sccBoundedStats]] and
    * [[ssspBounded]]: up to `iters` rounds of
    * m(v) ← min(m(v), min over edges (a → v) of m(a) + w) over the state
    * `init` (v, m). Rows are only ADDED and values only DECREASE, so an
    * unchanged (row count, exact decimal sum of m) pair — read off the
    * round's own checkpoint — certifies the fixed point: the remaining
    * rounds are no-ops and the result is identical to the full unroll.
    * Each replaced round's state is unpersisted once its successor is
    * checkpointed (no lineage reads it after that). */
  private def minRelax(edges: DataFrame, init: DataFrame, iters: Int): DataFrame = {
    var state = init
    var prev: Option[(Any, Any)] = None
    var t = 0
    while (t < iters) {
      val relaxed = edges.join(state.select(col("v").as("a"), col("m")), Seq("a"))
        .select(col("b").as("v"), (col("m") + col("w")).as("m"))
      val (next, obs) = Checkpoint.observed(
        state.unionByName(relaxed).groupBy("v").agg(min("m").as("m")),
        count(lit(1)).as("c"), sum(col("m").cast("decimal(38,0)")).as("s"))
      if (t > 0) Checkpoint.release(state)
      state = next
      val sig = Some((obs("c"), obs("s")))
      if (sig == prev) t = iters else { prev = sig; t += 1 }
    }
    state
  }

  /** Personalized PageRank from an anchor node set — the graph-RAG
    * retrieval ranker (bias random walks toward the query's entities)
    * computed SPARSELY: rank rows exist only for nodes the walk has
    * reached, so early iterations touch a frontier-sized table, not the
    * full vertex set (global PageRank's shape). Fixed `iters` unrolled
    * rounds; teleport mass 0.15 returns to the anchors each round.
    * Returns top-k (node_id, rank) with rank rounded to 4 decimals
    * (engine-portable — the gx_pagerank_topk precedent).
    */
  def personalizedPageRank(g: PropertyGraph, label: String,
                           names: Seq[String], iters: Int, k: Int): DataFrame = {
    val adj = g.adjPairs
    // pre-weight each edge with its damped transition probability ONCE
    // (w = 0.85/outdeg(a)); every round is then a single join + sum
    // instead of re-joining the degree table per round
    val deg = adj.groupBy("a").agg(count(lit(1)).cast("double").as("deg"))
    val adjw = Checkpoint(adj.join(deg, Seq("a"))
      .select(col("a"), col("b"), (lit(0.85) / col("deg")).as("w")))
    val (anchors, nA) = Checkpoint.counted(g.nodes
      .where(col("label") === label && col("name").isin(names: _*))
      .select(col("nodeId").as("v")))
    var pr = anchors.select(col("v"), lit(1.0 / nA).as("rank"))
    for (_ <- 1 to iters) {
      // rank table is O(reached) ≤ O(V): broadcast behind the node-count
      // guard so the pre-weighted O(E) adjacency never re-shuffles per round
      val contrib = adjw.join(stateSide(pr, g.nodeCount), col("v") === col("a"))
        .select(col("b").as("v"), (col("rank") * col("w")).as("c"))
      val teleport = anchors.select(col("v"), lit(0.15 / nA).as("c"))
      val next = Checkpoint(contrib.unionByName(teleport)
        .groupBy("v").agg(sum("c").as("rank")))
      Checkpoint.release(pr)
      pr = next
    }
    Checkpoint.release(adjw)
    // past round 0 the rank table no longer reads the anchors
    if (iters > 0) Checkpoint.release(anchors)
    // order by the ROUNDED rank: walk symmetry makes exact rank ties
    // common (all suppliers of a nation), and raw-double ordering would
    // let ulp-level engine differences pick different top-k members
    // inside a tie group — (rounded rank, id) is engine-portable
    pr.select(col("v").as("node_id"), round(col("rank"), 4).as("rank"))
      .orderBy(col("rank").desc, col("node_id")).limit(k)
  }

  /** Synchronous label propagation (LPA community detection): `iters`
    * fixed rounds of "adopt the most frequent neighbor label; ties break
    * to the smallest label", seeded with nodeId; isolated nodes keep their
    * seed. The fixed round count plus the total-order tie-break make every
    * round oracle-expressible as unrolled SQL (like [[kCoreSizes]] / BFS) —
    * GraphX's LPA breaks count ties by hashmap iteration order, which no
    * other engine can reproduce. Returns the community-size histogram
    * (n_nodes, n_communities); label values themselves are seed-order
    * artifacts, the histogram is the stable signal.
    *
    * Scale shape: per round, one shuffle counts (node, neighbor-label)
    * pairs — fan-in bounded by degree, partial aggregation map-side — and
    * the argmax folds over the already-reduced counts; the new label table
    * left-joins back to the previous one. Both sides are O(V); each
    * round's label table is checkpointed and the one it replaces released,
    * like the other iterative algorithms here. */
  def labelPropagationSizes(g: PropertyGraph, iters: Int): DataFrame =
    lpaLabels(g, iters)
      .groupBy("lbl").agg(count(lit(1)).as("n_nodes"))
      .groupBy("n_nodes").agg(count(lit(1)).as("n_communities"))

  /** Synchronous LPA label table (v, lbl) after `iters` rounds — the
    * shared core of [[labelPropagationSizes]] and [[modularityStats]]. */
  private def lpaLabels(g: PropertyGraph, iters: Int): DataFrame = {
    val adj = g.adjPairs
    // Every node with >= 1 neighbor adopts a fresh argmax label each round,
    // so only the isolated remainder ever carries its seed forward —
    // computed ONCE here, which saves a third per-round shuffle (the
    // label-carry left join the naive formulation pays).
    val isolated = Checkpoint(g.nodes.select(col("nodeId").as("v"))
      .join(adj.select(col("a").as("v")).distinct(), Seq("v"), "left_anti")
      .select(col("v"), col("v").as("lbl")))
    var labels = Checkpoint(
      g.nodes.select(col("nodeId").as("v"), col("nodeId").as("lbl")))
    for (_ <- 1 to iters) {
      // label table is O(V): broadcast it behind the node-count guard so
      // the O(E) adjacency is never re-shuffled per round
      val counts = adj
        .join(stateSide(labels.select(col("v").as("b"), col("lbl")), g.nodeCount),
          Seq("b"))
        .groupBy(col("a"), col("lbl"))
        .agg(count(lit(1)).as("cnt"))
      // argmax by (count desc, label asc): max over (cnt, -lbl) pairs
      val best = counts.groupBy(col("a"))
        .agg(max(struct(col("cnt"), (-col("lbl")).as("neg"))).as("m"))
        .select(col("a").as("v"), (-col("m.neg")).as("lbl"))
      val next = Checkpoint(best.unionByName(isolated))
      Checkpoint.release(labels)
      labels = next
    }
    Checkpoint.release(isolated) // the seed table and every round's are materialized
    labels
  }

  /** Newman modularity of the LPA partition, in integer micro-units:
    * Q = e_in/2m − Σ_c (d_c/2m)², quantized as
    * `⌊1e6·e_in/2m⌋ − Σ_c ⌊⌊1e6·d_c/2m⌋²/1e6⌋` — each community's degree
    * share is floored to micro BEFORE squaring, which keeps every product
    * within Long on any graph (d_c² · 1e6 would overflow past d_c ≈ 3M)
    * and makes the sum order-independent; the oracle mirrors the same
    * quantization, so the number is the semantics. e_in counts symmetric
    * same-community edge slots (each undirected in-community edge twice),
    * matching the 2m denominator. One edge-table join against the label
    * table plus a per-community degree rollup — no new shuffle shapes. */
  def modularityStats(g: PropertyGraph, iters: Int): DataFrame = {
    val adj = g.adjPairs
    val labels = lpaLabels(g, iters)
    val e = adj
      .join(stateSide(labels.select(col("v").as("a"), col("lbl").as("la")),
        g.nodeCount), Seq("a"))
      .join(stateSide(labels.select(col("v").as("b"), col("lbl").as("lb")),
        g.nodeCount), Seq("b"))
    val totals = e.agg(count(lit(1)).as("twom"),
      sum(when(col("la") === col("lb"), 1L).otherwise(0L)).as("e_in"))
    val degByC = adj.groupBy("a").agg(count(lit(1)).as("deg"))
      .join(labels.select(col("v").as("a"), col("lbl")), Seq("a"))
      .groupBy("lbl").agg(sum(col("deg")).as("d_c"))
    val penalty = degByC.crossJoin(broadcast(totals))
      .select(expr("(1000000 * d_c) div twom").as("t"))
      .agg(coalesce(sum(expr("(t * t) div 1000000")), lit(0L)).as("pen"))
    totals.crossJoin(broadcast(penalty))
      .select(col("twom").cast("long").as("twom"),
        col("e_in").cast("long").as("e_in"),
        (expr("(1000000 * e_in) div twom") - col("pen"))
          .cast("long").as("q_micro"))
  }

  /** DeepWalk-style walk corpus, derandomized: one walk starts at every
    * node and at step `t` moves from node `c` to the neighbor whose rank
    * (neighbors ordered by id) equals `md5("<start>_<c>_<t>") % degree` —
    * a hash-seeded choice that is uniform-ish like the sampled walk the
    * embedding literature uses, but reproducible across engines, runs, and
    * cluster sizes (the property a TRAINING corpus needs: regenerating it
    * must yield the same sequences). Walks from isolated nodes end at step
    * 0. Returns per-step corpus stats (n_walks, n_nodes, sum_node) — the
    * transition-exactness signal an oracle can replay.
    *
    * Scale shape: the ranked adjacency is built once (one window over the
    * edge list) and each step is ONE equi-join keyed on (node, chosen
    * rank): the destination's degree is attached to the adjacency up
    * front, so the walk state carries deg(c) forward and the pick is
    * computed BEFORE the join — hub nodes never fan out candidate rows,
    * and no per-step degree lookup is needed. Walk state is O(V) per
    * step, shuffled on the current node exactly like distributed DeepWalk.
    */
  def walkCorpus(g: PropertyGraph, steps: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val adj = g.adjPairs
    // both window columns share partition AND order spec (the count takes
    // an explicit whole-partition frame), so Catalyst fuses them into ONE
    // Window operator — one sort pass over the edge list, not two
    val byA = Window.partitionBy(col("a")).orderBy(col("b"))
    // one sort pass, reused below
    val ranked0 = Checkpoint(adj.select(col("a"), col("b"),
        (row_number().over(byA) - 1).cast("long").as("rnk"),
        count(lit(1)).over(byA.rowsBetween(
          Window.unboundedPreceding, Window.unboundedFollowing)).as("deg")))
    val degT = ranked0.where(col("rnk") === 0).select(col("a").as("n"),
      col("deg").as("ndeg")) // one row per node carrying an edge
    // O(V)-sized sides (degT, the walk state) are broadcast while V is
    // genuinely broadcast-sized, so the O(E) ranked adjacency is never
    // shuffled; past the guard (the 1000-executor / 100 TB regime) fall
    // back to the shuffle join — the correct distributed-DeepWalk shape
    // when V itself is huge. Same guard pattern as kCoreSizes.
    val nNodes = g.nodeCount
    // deg(b) rides along with each edge so a step's output IS the next
    // step's complete input — this join happens once, not once per step;
    // the result is reused every step
    val ranked = Checkpoint(ranked0.as("r")
      .join(stateSide(degT.as("d"), nNodes), col("r.b") === col("d.n"))
      .select(col("r.a").as("a"), col("r.b").as("b"), col("r.rnk").as("rnk"),
        col("d.ndeg").as("deg_b")))
    val nodes = g.nodes.select(col("nodeId").as("start"), col("nodeId").as("c"))
    // a checkpoint erases outputPartitioning, so a plain equi-join here
    // re-shuffles AND re-sorts the full O(E) ranked adjacency at EVERY
    // step (3 steps × 2.7M-row SMJ at sf0.1 was the whole query's cost).
    var cur = nodes.join(degT, col("c") === col("n"))
      .select(col("start"), col("c"), col("ndeg").as("deg"))
    var acc = nodes.select(col("start"), col("c"), lit(0).as("step"))
    for (t <- 1 to steps) {
      val h = graft.operators.Dedup.md5Long(concat(
        col("start").cast("string"), lit("_"),
        col("c").cast("string"), lit("_"), lit(t.toString)))
      val picked = cur.select(col("start"), col("c"),
        pmod(h, col("deg")).as("pick"))
      cur = Checkpoint(ranked.as("r").join(stateSide(picked.as("p"), nNodes),
          col("p.c") === col("r.a") && col("p.pick") === col("r.rnk"))
        .select(col("p.start").as("start"), col("r.b").as("c"),
          col("r.deg_b").as("deg")))
      acc = acc.unionByName(cur.select(col("start"), col("c"), lit(t).as("step")))
    }
    acc
  }

  /** Skip-gram training pairs from the walk corpus — the second half of
    * the DeepWalk recipe: within each walk, every ordered (center,
    * context) node pair at step distance 1..`window` becomes a training
    * example; pairs aggregate to (center, context, n_pairs) counts (the
    * co-occurrence table an embedding trainer consumes, or a GNN uses as
    * positive edges). One self-join keyed on the walk id with a bounded
    * step-band predicate — walk length is a constant, so per-walk fan-out
    * is O(steps·window), never data-dependent. */
  def skipGramPairs(g: PropertyGraph, steps: Int, window: Int): DataFrame = {
    val walks = Checkpoint(walkCorpus(g, steps))
    walks.as("x").join(walks.as("y"),
        col("x.start") === col("y.start") &&
        col("y.step") > col("x.step") &&
        col("y.step") <= col("x.step") + window)
      .select(col("x.c").as("center"), col("y.c").as("context"))
      .groupBy("center", "context")
      .agg(count(lit(1)).as("n_pairs"))
  }

  /** [[walkCorpus]] rolled up per step — the transition-exactness signal
    * the oracle replays. */
  def deterministicWalks(g: PropertyGraph, steps: Int): DataFrame =
    walkCorpus(g, steps)
      .groupBy("step")
      .agg(count(lit(1)).as("n_walks"),
        count_distinct(col("c")).as("n_nodes"),
        sum(col("c")).as("sum_node"))
      .orderBy("step")

  /** k-core decomposition by unrolled peeling: each round recomputes
    * distinct-neighbor degrees over the surviving edge set and removes
    * nodes with degree < k (two semi-joins — the edge payload never
    * widens). A FIXED `iters` rounds keeps the computation deterministic
    * and oracle-expressible; result parity with the oracle holds whether or
    * not peeling has converged — the membership report below uses the
    * oracle's own "still carries an edge between survivors" convention,
    * valid at ANY iteration count, not just at the fixed point.
    *
    * Returns per-label counts of nodes still carrying an edge after the
    * final round — the k-core membership report (the web-corpus
    * quality/spam-filter use of k-core).
    */
  def kCoreSizes(g: PropertyGraph, k: Int, iters: Int): DataFrame = {
    // DELTA peeling: degrees are counted over the full edge set ONCE;
    // each later round only subtracts the edges lost to the nodes that
    // died in the previous round — instead of re-counting and re-filtering
    // the whole 2.8M-row adjacency three times per round. Round semantics
    // match the oracle's simultaneous-removal unrolling exactly; early exit
    // when a round kills nobody is the identity-rounds argument
    // ([[bfsLayers]]).
    require(k >= 1, "peeling round semantics assume k >= 1")
    val adj = g.adjPairs
    val deg0 = adj.groupBy("a").agg(count(lit(1)).as("deg"))
    var (newDead, deadCount) =
      Checkpoint.counted(deg0.where(col("deg") < k).select(col("a").as("id")))
    var deg = Checkpoint(deg0.where(col("deg") >= k))
    var rounds = 1
    while (rounds < iters && deadCount > 0) {
      // The first round's dead set is "every node with degree < k" — on a
      // power-law graph that can be the MAJORITY of all nodes, so a forced
      // broadcast is an executor OOM at scale. The loop condition reads an
      // exact count off the dead set's checkpoint; use it: broadcast only
      // when the dead set is genuinely small (1M ids ≈ 8 MB, the
      // autoBroadcastJoinThreshold ballpark), else let it shuffle as a
      // plain equi-join.
      val deadKeys = newDead.select(col("id").as("a"))
      val deadSide =
        if (deadCount <= math.min(1000000L, stateBroadcastLimit))
          broadcast(deadKeys)
        else deadKeys
      val loss = adj
        .join(deadSide, Seq("a"))
        .groupBy(col("b").as("a")).agg(count(lit(1)).as("lost"))
      val updated = deg.join(loss, Seq("a"), "left")
        .select(col("a"),
          (col("deg") - coalesce(col("lost"), lit(0L))).as("deg"))
      val (dead, n) =
        Checkpoint.counted(updated.where(col("deg") < k).select(col("a").as("id")))
      val nextDeg = Checkpoint(updated.where(col("deg") >= k))
      Checkpoint.release(newDead, deg)
      newDead = dead
      deadCount = n
      deg = nextDeg
      rounds += 1
    }
    Checkpoint.release(newDead)
    // Membership = the oracle's convention: a survivor counts only if it
    // still carries an edge TO ANOTHER SURVIVOR. At the fixed point this
    // equals the deg table (every survivor keeps >= k >= 1 alive
    // neighbors), but when the iters cap lands mid-peel, a survivor whose
    // last alive neighbors all died in the final round must NOT be counted.
    // Two semi-joins reproduce the oracle's final adjacency at any
    // iteration count; survivor sets can be most of the graph, so they stay
    // shuffled joins, not broadcasts.
    val members = adj
      .join(deg.select(col("a")), Seq("a"), "left_semi")
      .join(deg.select(col("a").as("b")), Seq("b"), "left_semi")
      .select(col("a")).distinct()
    members.join(g.nodes, col("a") === col("nodeId"))
      .groupBy("label").agg(count(lit(1)).as("n_core"))
  }

  /** Link prediction over the undirected graph: for every NON-edge pair
    * sharing at least one common neighbor, the three classic
    * neighborhood scores — common-neighbor count `cn`, Jaccard
    * `floor(1e6 · cn / (deg(a) + deg(b) - cn))` in integer micro-units
    * (`jac_micro`), and the resource-allocation index `sum over common z
    * of 1/deg(z)` (Zhou et al.'s RA — Adamic-Adar's log-free sibling,
    * chosen because 1/deg is an exact rational where 1/ln(deg) is not
    * engine-portable). BOTH scores are integer micro-units: RA as
    * `sum(floor(1e6/deg))` (order-independent), Jaccard as a single
    * floored division — this was the catalog's only float-division hash
    * surface and the one cross-engine hash failure in round 6 (a
    * 6th-digit `round()` tie broke differently in the two engines).
    *
    * Scale shape: candidate pairs come from wedge enumeration — the
    * adjacency self-joined on the shared neighbor z — which is sum(deg²)
    * and unbounded under skew, so z is HUB-CAPPED at `maxHubDeg` (part of
    * the semantics, mirrored by the oracle, like Dedup's `maxPostings`):
    * a neighbor shared with half the graph carries no signal and would
    * dominate the join. Degrees in the Jaccard denominator stay UNcapped.
    * Returns the top `k` pairs by (cn, ra_micro, a, b) — deterministic
    * because (a, b) is unique per pair.
    */
  def linkPredictionTopK(g: PropertyGraph, maxHubDeg: Int, k: Int): DataFrame = {
    val adj = g.adjPairs // wedge sides + anti-join probe + degrees
    val deg = Checkpoint(adj.groupBy("a").agg(count(lit(1)).as("deg")))
    val zAdj = adj.as("e").join(deg.as("d"), col("e.a") === col("d.a"))
      .where(col("d.deg") <= maxHubDeg)
      .select(col("e.a").as("z"), col("e.b").as("n"), col("d.deg").as("deg_z"))
    val scored = zAdj.as("l").join(zAdj.as("r"),
        col("l.z") === col("r.z") && col("l.n") < col("r.n"))
      .select(col("l.n").as("a"), col("r.n").as("b"), col("l.deg_z").as("deg_z"))
      .groupBy("a", "b")
      .agg(count(lit(1)).as("cn"),
        sum(floor(lit(1000000L) / col("deg_z")).cast("long")).as("ra_micro"))
    val degN = deg.select(col("a").as("n"), col("deg"))
    scored
      .join(adj.select(col("a").as("ea"), col("b").as("eb")),
        col("a") === col("ea") && col("b") === col("eb"), "left_anti")
      .join(degN.as("da"), col("a") === col("da.n"))
      .join(degN.as("db"), col("b") === col("db.n"))
      .select(col("a"), col("b"), col("cn"),
        floor(col("cn") * lit(1000000L) /
          (col("da.deg") + col("db.deg") - col("cn")))
          .cast("long").as("jac_micro"),
        col("ra_micro"))
      .orderBy(col("cn").desc, col("ra_micro").desc, col("a"), col("b"))
      .limit(k)
  }

  /** HITS hubs & authorities, `iters` unrolled rounds in exact integer
    * micro-units: auth(v) = Σ over in-edges of hub(u), hub(u) = Σ over
    * out-edges of auth(v), each round renormalized to max = 1e6 by ONE
    * integer division `(raw · 1e6) div max(raw)` — per-round
    * normalization is a scalar factor, so the fixed-point direction is
    * the classic HITS one, and the integer arithmetic is summation-order
    * independent (hash-exact cross-engine, unlike float L2 norms).
    *
    * Scale shape: each round is two keyed aggregations over the edge
    * list plus a map-side-combinable max broadcast back with crossJoin —
    * no driver loop state, no growing lineage (each round's score table
    * is eagerly truncated at node-count rows). Multi-edges weight twice
    * by design (the rels table is the multigraph). Requires a non-empty
    * edge set (max(raw) = 0 would null the division). */
  def hits(g: PropertyGraph, iters: Int, k: Int): DataFrame = {
    val edges = Checkpoint(g.rels.select("src", "dst"))
    val nodes = Checkpoint(g.nodes.select(col("nodeId").as("id")))
    // scores stay SPARSE through the loop: an absent id means s = 0, which
    // contributes nothing to any sum and never wins the max (raws are
    // non-negative), so the per-step dense left-join against the node set
    // — a whole extra shuffle per round — is deferred to the final output.
    // Only `raw` (referenced by both the max and the division) is eagerly
    // truncated; one materialization per step instead of a join + one.
    // Score tables are O(V): broadcast behind the node-count guard so the
    // O(E) edge list never re-shuffles per half-round.
    def rawScores(scores: DataFrame, toHub: Boolean): DataFrame = {
      val (joinKey, grpKey) = if (toHub) ("dst", "src") else ("src", "dst")
      Checkpoint(edges
        .join(stateSide(scores.withColumnRenamed("id", joinKey), g.nodeCount),
          Seq(joinKey))
        .groupBy(col(grpKey).as("id")).agg(sum("s").as("raw")))
    }
    def normalized(raw: DataFrame): DataFrame =
      raw.crossJoin(broadcast(raw.agg(max("raw").as("m"))))
        .select(col("id"), expr("(raw * 1000000) div m").as("s"))
    var hub = nodes.select(col("id"), lit(1000000L).as("s"))
    var auth = hub
    var raws = Seq.empty[DataFrame] // the checkpoints behind hub and auth
    for (_ <- 1 to iters) {
      val authRaw = rawScores(hub, toHub = false)
      auth = normalized(authRaw)
      val hubRaw = rawScores(auth, toHub = true)
      hub = normalized(hubRaw)
      Checkpoint.release(raws: _*)
      raws = Seq(authRaw, hubRaw)
    }
    Checkpoint.release(edges)
    nodes
      .join(hub.withColumnRenamed("s", "hub_score"), Seq("id"), "left")
      .join(auth.withColumnRenamed("s", "auth_score"), Seq("id"), "left")
      .select(col("id").as("node_id"),
        coalesce(col("hub_score"), lit(0L)).as("hub_score"),
        coalesce(col("auth_score"), lit(0L)).as("auth_score"))
      .orderBy(col("auth_score").desc, col("node_id"))
      .limit(k)
  }

  /** Temporal growth profile of a bipartite behavior graph: per month,
    * the CUMULATIVE node/edge counts and integer-micro density — the
    * graph-evolution audit (densification, when did the graph stop
    * growing) run as pure aggregation. `edges` carries (a, b, m) with m
    * an integer month of OCCURRENCE; the load-bearing move is reducing
    * every entity to its FIRST-occurrence month up front (three keyed
    * mins — the only corpus-sized shuffles), after which cumulative
    * counting is a running sum over the ~tens-of-months rollup. A naive
    * per-snapshot distinct count would rescan the corpus once per month;
    * this scans it once, total, and stays exact.
    *
    * Output: (m, cum_edges, cum_a, cum_b, density_micro) with
    * density = edges/(|A|·|B|) in truncating micro units. The profile is
    * a step function: a month in which nothing first-occurred emits no
    * row (read the previous step). */
  def temporalGrowth(edges: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val fe = edges.groupBy("a", "b").agg(min("m").as("m"))
      .groupBy("m").agg(count(lit(1)).as("ne"))
    val fa = edges.groupBy("a").agg(min("m").as("m"))
      .groupBy("m").agg(count(lit(1)).as("na"))
    val fb = edges.groupBy("b").agg(min("m").as("m"))
      .groupBy("m").agg(count(lit(1)).as("nb"))
    val months = fe.select("m").unionByName(fa.select("m"))
      .unionByName(fb.select("m")).distinct()
    val w = Window.orderBy("m")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    months
      .join(fe, Seq("m"), "left").join(fa, Seq("m"), "left")
      .join(fb, Seq("m"), "left")
      .select(col("m"),
        coalesce(col("ne"), lit(0L)).as("ne"),
        coalesce(col("na"), lit(0L)).as("na"),
        coalesce(col("nb"), lit(0L)).as("nb"))
      .select(col("m"),
        sum("ne").over(w).as("cum_edges"),
        sum("na").over(w).as("cum_a"),
        sum("nb").over(w).as("cum_b"))
      .withColumn("density_micro",
        expr("(cum_edges * 1000000) div (cum_a * cum_b)"))
  }
}
