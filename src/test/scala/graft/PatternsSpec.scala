package graft

import org.apache.spark.sql.functions._
import graft.operators.Patterns

/** J1-J7 / A1-A3 against the hand-verified micro graph (FIXTURES.md §1).
  * Expected rows derived by hand from [[MicroGraph]]'s edge list; the trail
  * (relationship-uniqueness) cases are the ones a naive 2-hop self-join gets
  * wrong (SURVEY §7.4 item 1).
  */
class PatternsSpec extends SparkSpec {
  private lazy val g = MicroGraph(spark)

  test("J1 bidir emits each edge once per orientation, self-loops once") {
    // 13 stored edges, one self-loop (22-22) → 2*13 - 1 = 25 rows
    assert(g.bidir.count() === 25L)
    // orientation pairs preserve the stored identity triple
    val back = g.bidir.where(col("a") === 1L && col("b") === 10L).collect()
    assert(back.length === 1)
    assert(back.head.getAs[Long]("src") === 10L) // stored direction kept
  }

  test("S2 nodeId uniqueness holds on the fixture") {
    assert(g.duplicateNodeIdCount() === 0L)
  }

  test("J6 withExistingEndpoints drops dangling edges") {
    val broken = g.copy(rels = g.rels.unionByName(
      spark.createDataFrame(Seq(("GHOST", 10L, 999L))).toDF("relType", "src", "dst")))
    assert(broken.rels.count() === 14L)
    assert(broken.withExistingEndpoints.rels.count() === 13L)
  }

  test("J2 one-hop expansion from Alice") {
    val rows = Patterns.oneHop(g, "Author", Seq("Alice"))
      .select("rel_type", "tgt_id").collect()
      .map(r => (r.getString(0), r.getLong(1))).toSet
    // e1→MIT, e4→P-alpha, e5→P-beta, e12(REVIEWS)→P-alpha
    assert(rows === Set(
      ("AFFILIATED_WITH", 1L), ("WRITES", 20L), ("WRITES", 21L), ("REVIEWS", 20L)))
  }

  test("J3 two-hop from Alice: trail semantics + tgt<>src (8 paths)") {
    val rows = Patterns.twoHop(g, "Author", Seq("Alice"))
      .select("rel1_type", "rel2_type", "tgt_id").collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2)))
    // hand-derived: via e1: (AW,AW,11); via e4: (W,W,11),(W,HT,30),(W,C,22);
    // via e5: (W,HT,30); via e12: (R,W,11),(R,HT,30),(R,C,22).
    // NOT present: walking the same edge back (trail), returning to Alice
    // (tgt<>src), e4→e12 walk-back to Alice (parallel edges, tgt=src).
    assert(rows.length === 8)
    assert(rows.toSet === Set(
      ("AFFILIATED_WITH", "AFFILIATED_WITH", 11L),
      ("WRITES", "WRITES", 11L),
      ("WRITES", "HAS_TOPIC", 30L),
      ("WRITES", "CITES", 22L),
      ("REVIEWS", "WRITES", 11L),
      ("REVIEWS", "HAS_TOPIC", 30L),
      ("REVIEWS", "CITES", 22L)))
    // multiset check: (W,HT,30) appears twice? No — via e4→e8 and via e5→e9
    // both give (WRITES, HAS_TOPIC, 30): 8 rows, 7 distinct triples.
    assert(rows.count(_ == ("WRITES", "HAS_TOPIC", 30L)) === 2)
  }

  test("J3 self-loop cannot be traversed twice in one match") {
    val viaLoop = Patterns.twoHop(g, "Paper", Seq("P-gamma"))
      .where(col("rel1_type") === "CITES" && col("rel2_type") === "CITES")
      .select("tgt_id").collect().map(_.getLong(0)).toSet
    // 22-e13-22-e11-20 is legal (distinct rels); 22-e13-22-e13-22 is not
    // (trail), and also lands on src. 22-e11-20 then nothing CITES from 20
    // except e11 back (trail-excluded).
    assert(viaLoop === Set(20L))
  }

  test("J4 two-path discovers middle nodes between two anchors") {
    val rows = Patterns.twoPath(g, "Author", Seq("Alice"), "Author", Seq("Bob"))
      .select("mid_id", "rel1_type", "rel2_type").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2))).toSet
    // Alice-e1-MIT-e2-Bob; Alice-e4-P-alpha-e6-Bob; Alice-e12-P-alpha-e6-Bob
    assert(rows === Set(
      (1L, "AFFILIATED_WITH", "AFFILIATED_WITH"),
      (20L, "WRITES", "WRITES"),
      (20L, "REVIEWS", "WRITES")))

    // overlapping anchor sets: both orders of the pair meet, but never an
    // anchor with itself — without src1 <> src2 the parallel pair e4/e12
    // would add Alice-P-alpha-Alice twice (WRITES/REVIEWS, REVIEWS/WRITES)
    val both = Seq("Alice", "Bob")
    val crossed = Patterns.twoPath(g, "Author", both, "Author", both)
      .select("src1_name", "src2_name", "mid_id", "rel1_type", "rel2_type").collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getString(3), r.getString(4)))
    assert(crossed.length === 6)
    assert(crossed.toSet === Set(
      ("Alice", "Bob", 1L, "AFFILIATED_WITH", "AFFILIATED_WITH"),
      ("Alice", "Bob", 20L, "WRITES", "WRITES"),
      ("Alice", "Bob", 20L, "REVIEWS", "WRITES"),
      ("Bob", "Alice", 1L, "AFFILIATED_WITH", "AFFILIATED_WITH"),
      ("Bob", "Alice", 20L, "WRITES", "WRITES"),
      ("Bob", "Alice", 20L, "WRITES", "REVIEWS")))
  }

  test("J4 plan: each edge leg is anchor-filtered before the legs meet") {
    import org.apache.spark.sql.catalyst.plans.logical.{Filter, Join, LogicalPlan, Union}
    // RDD-backed frames so ConvertToLocalRelation can't fold the anchor
    // Filter into the relation — the plan shape under test is the real one
    def viaRdd(df: org.apache.spark.sql.DataFrame) =
      spark.createDataFrame(df.rdd, df.schema)
    val gr = g.copy(nodes = viaRdd(g.nodes), rels = viaRdd(g.rels))
    val plan = Patterns.twoPath(gr, "Author", Seq("Alice"), "Author", Seq("Bob"))
      .queryExecution.optimizedPlan
    def hasEdgeLeg(p: LogicalPlan): Boolean =
      p.collect { case u: Union => u }.nonEmpty // bidir = Union of orientations
    def hasNameAnchor(p: LogicalPlan): Boolean =
      p.collect { case f: Filter if f.condition.references.exists(_.name == "name") => f }.nonEmpty
    // the join that combines the two edge legs must see both legs already
    // anchor-filtered — the old left-deep order joined the frontier to the
    // FULL edge table and only then filtered by the far anchor
    val meets = plan.collect {
      case j: Join if hasEdgeLeg(j.left) && hasEdgeLeg(j.right) => j
    }
    assert(meets.nonEmpty, "expected a join combining the two edge legs")
    meets.foreach { j =>
      assert(hasNameAnchor(j.left), "left leg missing its anchor filter below the meet join")
      assert(hasNameAnchor(j.right), "right leg missing its anchor filter below the meet join")
    }
  }

  test("J5 concrete typed two-hop template") {
    val rows = Patterns.concreteTwoHop(g,
      "Institution", "MIT", "AFFILIATED_WITH", "Author", "WRITES", "Paper")
      .collect().map(_.getLong(0)).toSet
    // MIT-(AW)-Alice-(W)-{20,21}; MIT-(AW)-Bob-(W)-{20} → distinct {20,21}
    assert(rows === Set(20L, 21L))
  }

  test("A1 schema summary counts distinct targets per (anchor, type, label)") {
    val m = Patterns.schemaSummary1Hop(g, "Paper", Seq("P-gamma"))
      .collect().map(r => (r.getString(0), r.getString(1), r.getString(2)) -> r.getLong(3))
      .toMap
    assert(m === Map(
      ("P-gamma", "WRITES", "Author") -> 1L,
      ("P-gamma", "HAS_TOPIC", "FieldOfStudy") -> 1L,
      ("P-gamma", "CITES", "Paper") -> 2L)) // 20 and the self-loop 22
  }

  test("A2 supervised schema summary adds gold-intersection count") {
    val m = Patterns.schemaSummary1HopSupervised(g, "Institution", Seq("MIT"),
        goldIds = Seq(10L, 99L))
      .collect().map(r => (r.getString(1), r.getLong(3), r.getLong(4))).toSet
    // MIT ← {Alice, Bob} via AFFILIATED_WITH; gold hits = {Alice}
    assert(m === Set(("AFFILIATED_WITH", 2L, 1L)))
  }

  test("A1 approx schema summary tracks the exact counts on small data") {
    val exact = Patterns.schemaSummary1Hop(g, "Paper", Seq("P-gamma"))
      .collect().map(r => (r.getString(1), r.getString(2)) -> r.getLong(3)).toMap
    val approx = Patterns.schemaSummary1HopApprox(g, "Paper", Seq("P-gamma"))
      .collect().map(r => (r.getString(1), r.getString(2)) -> r.getLong(3)).toMap
    // HLL++ is exact at these cardinalities
    assert(approx === exact)
  }

  test("J7 id-list lookup") {
    val names = Patterns.lookupByIds(g, Seq(1L, 30L, 777L))
      .collect().map(_.getString(2)).toSet
    assert(names === Set("MIT", "Databases"))
  }

  test("spliced labels and relationship types must be identifiers") {
    // a label that closes the node pattern would otherwise rewrite the query
    intercept[IllegalArgumentException](
      Patterns.oneHop(g, "Author)-[x]-(y", Seq("Alice")))
    intercept[IllegalArgumentException](Patterns.concreteTwoHop(g,
      "Institution", "MIT", "AFFILIATED_WITH|WRITES", "Author", "WRITES", "Paper"))
  }

  test("P6 NFC-normalized lookup matches both Unicode forms") {
    import graft.functions.normName
    val hits = g.nodes
      .where(normName(col("name")) === normName(lit("CAFÉ")))
      .collect().map(_.getAs[Long]("nodeId")).toSet
    assert(hits === Set(40L, 41L))
  }
}
