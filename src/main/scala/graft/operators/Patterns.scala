package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.cypher.Planner
import graft.graph.PropertyGraph

/** Graph pattern matching — the reference's core Cypher query family
  * (SURVEY §2.4 J2-J5, §2.5 A1-A3; reference retrieval/path_retriever.py:4-40,
  * retrieval/retriever.py:19-21). Each function is that family's query text
  * run through [[graft.cypher.Planner]]: names and ids go in as parameters,
  * only labels and relationship types are spliced into the text. Traversal
  * is undirected (`-[r]-`) with Cypher trail semantics; join order,
  * broadcasts and the trail filter are the planner's.
  */
object Patterns {

  /** r1 ≠ r2 as stored edges: the trail condition of a 2-edge pattern. */
  private[graft] def trailNeq(r1: String, r2: String): Column =
    !(col(s"$r1.relType") === col(s"$r2.relType") &&
      col(s"$r1.src") === col(s"$r2.src") &&
      col(s"$r1.dst") === col(s"$r2.dst"))

  /** Labels and relationship types are spliced into the query text, so
    * each must be a single Cypher identifier. */
  private def ident(s: String): String = {
    require(s.nonEmpty && s.forall(c => c.isLetterOrDigit || c == '_'),
      s"label or relationship type must be an identifier, got '$s'")
    s
  }

  /** J2 — 1-hop expand: `(src:Label {name IN names})-[r]-(tgt)`.
    * Returns src_name, rel_type, tgt_label, tgt_id, tgt_name. */
  def oneHop(g: PropertyGraph, label: String, names: Seq[String]): DataFrame =
    Planner.run(g,
      s"""UNWIND $$names AS n
         |MATCH (s:${ident(label)} {name: n})-[e]-(t)
         |RETURN s.name AS src_name, type(e) AS rel_type, t.label AS tgt_label,
         |       t.nodeId AS tgt_id, t.name AS tgt_name""".stripMargin,
      Map("names" -> names))

  /** J3 — 2-hop expand with trail semantics:
    * `(src {name})-[r1]-(mid)-[r2]-(tgt) WHERE tgt <> src` (+ implicit r1≠r2,
    * reference retrieval/path_retriever.py:7-9). */
  def twoHop(g: PropertyGraph, label: String, names: Seq[String]): DataFrame =
    Planner.run(g,
      s"""UNWIND $$names AS n
         |MATCH (s:${ident(label)} {name: n})-[e1]-(m)-[e2]-(t)
         |WHERE t <> s
         |RETURN s.name AS src_name, type(e1) AS rel1_type, type(e2) AS rel2_type,
         |       t.label AS tgt_label, t.nodeId AS tgt_id, t.name AS tgt_name""".stripMargin,
      Map("names" -> names))

  /** J4 — 2-path between two anchor sets:
    * `(src1 {n1})-[r1]-(mid)-[r2]-(src2 {n2}) WHERE src1 <> src2` + r1≠r2
    * (reference retrieval/path_retriever.py:10-13; anchors crossed like the
    * double UNWIND U2). Returns the discovered middle nodes. */
  def twoPath(g: PropertyGraph, label1: String, names1: Seq[String],
              label2: String, names2: Seq[String]): DataFrame =
    Planner.run(g,
      s"""UNWIND $$names1 AS n1 UNWIND $$names2 AS n2
         |MATCH (s1:${ident(label1)} {name: n1})-[e1]-(m)-[e2]-(s2:${ident(label2)} {name: n2})
         |WHERE s1 <> s2
         |RETURN s1.name AS src1_name, s2.name AS src2_name,
         |       type(e1) AS rel1_type, type(e2) AS rel2_type,
         |       m.label AS mid_label, m.nodeId AS mid_id, m.name AS mid_name""".stripMargin,
      Map("names1" -> names1, "names2" -> names2))

  /** J5 — concrete typed/labeled pattern, the template family LLM1 ranks
    * (reference retrieval/path_retriever.py:30-40), with the far end kept
    * apart from the anchor: `MATCH (x1:L1 {name})-[:T1]-(x2:L2)-[:T2]-(x3:L3)
    * WHERE x3 <> x1 RETURN DISTINCT x3...`. */
  def concreteTwoHop(g: PropertyGraph,
                     l1: String, name1: String, t1: String,
                     l2: String, t2: String, l3: String): DataFrame =
    Planner.run(g,
      s"""MATCH (x1:${ident(l1)} {name: $$name})-[r1:${ident(t1)}]-(x2:${ident(l2)})-[r2:${ident(t2)}]-(x3:${ident(l3)})
         |WHERE x3 <> x1
         |RETURN DISTINCT x3.nodeId AS tgt_id, x3.name AS tgt_name""".stripMargin,
      Map("name" -> name1))

  /** A1 — path-schema summarization: the 1-hop expansion grouped by
    * (anchor, rel type, target label) with a distinct-target count
    * (reference retrieval/path_retriever.py:4-6 → `count(DISTINCT tgt) AS
    * totalCnt`); Cypher's implicit grouping makes every non-aggregated
    * RETURN item a key. */
  def schemaSummary1Hop(g: PropertyGraph, label: String, names: Seq[String]): DataFrame =
    Planner.run(g,
      s"""UNWIND $$names AS n
         |MATCH (s:${ident(label)} {name: n})-[e]-(t)
         |RETURN s.name AS src_name, type(e) AS rel_type, t.label AS tgt_label,
         |       count(DISTINCT t) AS total_cnt""".stripMargin,
      Map("names" -> names))

  /** A2 — supervised variant: additionally count distinct targets that fall
    * in the gold id set (`size([t IN collect(DISTINCT tgt) WHERE t.nodeId
    * IN $tgt_ids | t])` — reference retrieval/path_retriever.py:16,56). */
  def schemaSummary1HopSupervised(g: PropertyGraph, label: String,
                                  names: Seq[String], goldIds: Seq[Long]): DataFrame =
    Planner.run(g,
      s"""UNWIND $$names AS n
         |MATCH (s:${ident(label)} {name: n})-[e]-(t)
         |RETURN s.name AS src_name, type(e) AS rel_type, t.label AS tgt_label,
         |       count(DISTINCT t) AS total_cnt,
         |       size([x IN collect(DISTINCT t) WHERE x.nodeId IN $$gold | x]) AS correct_cnt"""
        .stripMargin,
      Map("names" -> names, "gold" -> goldIds))

  /** A1 at extreme hub scale: `approx_count_distinct` (HLL++) variant of
    * the schema summary — constant memory per group regardless of hub
    * degree, ~2% default error; the exact form is the oracle-checked one.
    * HLL has no Cypher form, so this one groups [[oneHop]] directly. */
  def schemaSummary1HopApprox(g: PropertyGraph, label: String,
                              names: Seq[String], rsd: Double = 0.02): DataFrame =
    oneHop(g, label, names)
      .groupBy("src_name", "rel_type", "tgt_label")
      .agg(approx_count_distinct(col("tgt_id"), rsd).as("approx_cnt"))

  /** J7 — id-list lookup: `UNWIND $ids AS nodeId MATCH (x:_Entity_ {nodeId:
    * nodeId}) RETURN x.name` (reference retrieval/retriever.py:19-21). */
  def lookupByIds(g: PropertyGraph, ids: Seq[Long]): DataFrame =
    Planner.run(g,
      """UNWIND $ids AS nodeId
        |MATCH (x:_Entity_ {nodeId: nodeId})
        |RETURN x.nodeId AS node_id, x.label AS label, x.name AS name""".stripMargin,
      Map("ids" -> ids))
}
