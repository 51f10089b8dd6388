package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.graph.PropertyGraph

/** Graph pattern matching — the reference's core Cypher query family
  * (SURVEY §2.4 J2-J5, §2.5 A1-A3; reference retrieval/path_retriever.py:4-40).
  *
  * All traversal is undirected (`-[r]-`), with Cypher *trail semantics*:
  * within one MATCH the same relationship may be bound at most once, so a
  * 2-hop pattern implies r1 ≠ r2 even without a WHERE clause. Relationship
  * identity here is the (relType, src, dst) triple from the stored
  * (directed) edge — orientation-invariant because [[PropertyGraph.bidir]]
  * carries the stored triple through both orientations.
  *
  * Plan shape / scale notes: anchors are tiny (a handful of names) and
  * explicitly `broadcast`; each hop is one equi join against the bidirected
  * edge view keyed on the hop endpoint, which Spark executes as a broadcast
  * hash join while the frontier is small and a shuffled join once it isn't —
  * exactly what you want on a 1000-executor cluster. The final join to
  * `nodes` (to fetch target labels/props) shuffles on `nodeId`; with
  * nodeId-bucketed tables it co-locates. Hub-node skew in 2-hop expansion is
  * handled by AQE skew-join splitting (enabled in session conf).
  */
object Patterns {

  /** r1 ≠ r2 as stored edges: the trail condition of a 2-edge pattern. */
  private[graft] def trailNeq(r1: String, r2: String): Column =
    !(col(s"$r1.relType") === col(s"$r2.relType") &&
      col(s"$r1.src") === col(s"$r2.src") &&
      col(s"$r1.dst") === col(s"$r2.dst"))

  /** Anchor node set: label + name equality (P2/P3; U1 multi-name unwind).
    * `MATCH (src:Label {name: ...})` with names from an UNWIND list. */
  def anchors(g: PropertyGraph, label: String, names: Seq[String]): DataFrame =
    g.nodes.where(col("label") === label && col("name").isin(names: _*))

  /** J2 — 1-hop expand: `(src:Label {name IN names})-[r]-(tgt)`.
    * Returns src_name, rel_type, tgt_label, tgt_id, tgt_name. */
  def oneHop(g: PropertyGraph, label: String, names: Seq[String]): DataFrame =
    broadcast(anchors(g, label, names).as("s"))
      .join(g.bidir.as("e"), col("s.nodeId") === col("e.a"))
      .join(g.nodes.as("t"), col("e.b") === col("t.nodeId"))
      .select(
        col("s.name").as("src_name"), col("e.relType").as("rel_type"),
        col("t.label").as("tgt_label"), col("t.nodeId").as("tgt_id"),
        col("t.name").as("tgt_name"))

  /** J3 — 2-hop expand with trail semantics:
    * `(src {name})-[r1]-(mid)-[r2]-(tgt) WHERE tgt <> src` (+ implicit r1≠r2,
    * reference retrieval/path_retriever.py:7-9). */
  def twoHop(g: PropertyGraph, label: String, names: Seq[String]): DataFrame =
    broadcast(anchors(g, label, names).as("s"))
      .join(g.bidir.as("e1"), col("s.nodeId") === col("e1.a"))
      .join(g.bidir.as("e2"), col("e1.b") === col("e2.a"))
      .join(g.nodes.as("t"), col("e2.b") === col("t.nodeId"))
      .where(col("t.nodeId") =!= col("s.nodeId") && trailNeq("e1", "e2"))
      .select(
        col("s.name").as("src_name"),
        col("e1.relType").as("rel1_type"), col("e2.relType").as("rel2_type"),
        col("t.label").as("tgt_label"), col("t.nodeId").as("tgt_id"),
        col("t.name").as("tgt_name"))

  /** J4 — 2-path between two anchor sets:
    * `(src1 {n1})-[r1]-(mid)-[r2]-(src2 {n2}) WHERE src1 <> src2` + r1≠r2
    * (reference retrieval/path_retriever.py:10-13; anchors crossed like the
    * double UNWIND U2). Returns the discovered middle nodes.
    *
    * Meet-in-the-middle join order: both endpoints are anchored (tiny), so
    * EACH edge leg is filtered by its anchor before the two 1-hop frontiers
    * meet on the middle node. The result is bounded by deg(s1)×deg(s2); the
    * naive left-to-right order (frontier ⋈ full bidir, filter by s2 last)
    * shuffles the whole edge table at 100× scale for the same answer. */
  def twoPath(g: PropertyGraph, label1: String, names1: Seq[String],
              label2: String, names2: Seq[String]): DataFrame =
    broadcast(anchors(g, label1, names1).as("s1"))
      .join(g.bidir.as("e1"), col("s1.nodeId") === col("e1.a"))
      .join(
        // far leg filtered by its anchor BEFORE meeting on the mid node
        g.bidir.as("e2")
          .join(broadcast(anchors(g, label2, names2).as("s2")),
            col("e2.b") === col("s2.nodeId")),
        col("e1.b") === col("e2.a"))
      .where(col("s1.nodeId") =!= col("s2.nodeId") && trailNeq("e1", "e2"))
      .join(g.nodes.as("m"), col("e1.b") === col("m.nodeId"))
      .select(
        col("s1.name").as("src1_name"), col("s2.name").as("src2_name"),
        col("e1.relType").as("rel1_type"), col("e2.relType").as("rel2_type"),
        col("m.label").as("mid_label"), col("m.nodeId").as("mid_id"),
        col("m.name").as("mid_name"))

  /** J5 — concrete typed/labeled pattern, the template family LLM1 ranks
    * (reference retrieval/path_retriever.py:30-40):
    * `MATCH (x1:L1 {name})-[:T1]-(x2:L2)-[:T2]-(x3:L3) RETURN DISTINCT x3...`.
    */
  def concreteTwoHop(g: PropertyGraph,
                     l1: String, name1: String, t1: String,
                     l2: String, t2: String, l3: String): DataFrame =
    broadcast(anchors(g, l1, Seq(name1)).as("s"))
      .join(g.bidir.where(col("relType") === t1).as("e1"), col("s.nodeId") === col("e1.a"))
      .join(g.nodes.where(col("label") === l2).as("m"), col("e1.b") === col("m.nodeId"))
      .join(g.bidir.where(col("relType") === t2).as("e2"), col("m.nodeId") === col("e2.a"))
      .join(g.nodes.where(col("label") === l3).as("t"), col("e2.b") === col("t.nodeId"))
      .where(col("t.nodeId") =!= col("s.nodeId") && trailNeq("e1", "e2"))
      .select(col("t.nodeId").as("tgt_id"), col("t.name").as("tgt_name"))
      .distinct()

  /** A1 — path-schema summarization: group the 1-hop expansion by
    * (anchor, rel type, target label) with a distinct-target count
    * (reference retrieval/path_retriever.py:4-6 → `count(DISTINCT tgt) AS
    * totalCnt`). Implicit Cypher grouping = every non-aggregated RETURN item
    * is a key. Map-side partial aggregation makes this cheap even on hubs. */
  def schemaSummary1Hop(g: PropertyGraph, label: String, names: Seq[String]): DataFrame =
    oneHop(g, label, names)
      .groupBy("src_name", "rel_type", "tgt_label")
      .agg(count_distinct(col("tgt_id")).as("total_cnt"))

  /** A2 — supervised variant: additionally count distinct targets that fall
    * in the gold id set (`size([t IN collect(DISTINCT tgt) WHERE t.nodeId
    * IN $tgt_ids | t])` — reference retrieval/path_retriever.py:16,56). */
  def schemaSummary1HopSupervised(g: PropertyGraph, label: String,
                                  names: Seq[String], goldIds: Seq[Long]): DataFrame =
    oneHop(g, label, names)
      .groupBy("src_name", "rel_type", "tgt_label")
      .agg(
        count_distinct(col("tgt_id")).as("total_cnt"),
        count_distinct(when(col("tgt_id").isin(goldIds: _*), col("tgt_id")))
          .as("correct_cnt"))

  /** A1 at extreme hub scale: `approx_count_distinct` (HLL++) variant of
    * the schema summary — constant memory per group regardless of hub
    * degree, ~2% default error; the exact form is the oracle-checked one. */
  def schemaSummary1HopApprox(g: PropertyGraph, label: String,
                              names: Seq[String], rsd: Double = 0.02): DataFrame =
    oneHop(g, label, names)
      .groupBy("src_name", "rel_type", "tgt_label")
      .agg(approx_count_distinct(col("tgt_id"), rsd).as("approx_cnt"))

  /** J7 — id-list lookup: `UNWIND $ids AS id MATCH (x {nodeId: id}) RETURN
    * x.name` (reference retrieval/retriever.py:19-21). isin stays a
    * broadcast-able filter for small lists; for large id sets join a DF. */
  def lookupByIds(g: PropertyGraph, ids: Seq[Long]): DataFrame =
    g.nodes.where(col("nodeId").isin(ids: _*))
      .select(col("nodeId").as("node_id"), col("label"), col("name"))
}
