package graft

import org.apache.spark.sql.functions._
import graft.operators.Retrieval

/** T3 budgeted assembly — the reference's most intricate operator
  * (retrieval/retriever.py:63-109). Edge cases: first-query-wins dedup,
  * provenance accumulation order, node budget, token budget as maximal
  * prefix ("evict last added on overflow"), determinism. Plus A6/P7 gating
  * and T4 sampling.
  */
class RetrievalSpec extends SparkSpec {
  import spark.implicits._

  private def q(rows: (Long, String, Double, String)*) =
    rows.toSeq.toDF("nodeId", "name", "similarity", "pattern")

  private lazy val q0 = q(
    (1L, "n1", 0.9, "p0"), (2L, "n2", 0.8, "p0"), (3L, "n3", 0.7, "p0"))
  private lazy val q1 = q(
    (2L, "n2x", 0.95, "p1"), (4L, "n4", 0.6, "p1"), (5L, "n5", 0.5, "p1"))

  test("T3 first-query-wins dedup keeps the first query's properties") {
    val out = Retrieval.budgetedAssemble(Seq(q0, q1), 100, 10000L)
      .orderBy("rank").collect()
    assert(out.map(_.getAs[Long]("nodeId")).toSeq === Seq(1L, 2L, 3L, 4L, 5L))
    val node2 = out.find(_.getAs[Long]("nodeId") == 2L).get
    assert(node2.getAs[String]("name") === "n2")          // q0's value wins
    assert(node2.getAs[Double]("similarity") === 0.8)
    // provenance accumulates across both queries, execution order
    assert(node2.getAs[Seq[String]]("patterns") === Seq("p0", "p1"))
  }

  test("T3 node budget keeps the top-maxNodes prefix") {
    val out = Retrieval.budgetedAssemble(Seq(q0, q1), 4, 10000L)
      .orderBy("rank").collect()
    // reference stop check (retriever.py:63-69): len >= max_nodes evicts
    // the row that reached the budget, so a binding budget of 4 keeps 3 —
    // node 2's pattern-append event in q1 does not count toward len
    assert(out.map(_.getAs[Long]("nodeId")).toSeq === Seq(1L, 2L, 3L))
    assert(out(1).getAs[Seq[String]]("patterns") === Seq("p0", "p1"))
  }

  test("T3 token budget: pattern appends consume budget, evict-last-added") {
    // flat 10 tokens per EVENT. Event stream: add1, add2, add3, append2
    // (q1's n2x sorts first there), add4, add5 → cum 10,20,30,40,50,60.
    // Budget 35 binds at the APPEND (cum 40): the reference deletes the
    // LAST-ADDED node (3), keeps the append on the surviving node 2
    // (retriever.py:82-90).
    val out = Retrieval.budgetedAssemble(Seq(q0, q1), 100, 35L,
        tokenCount = _ => lit(10L))
      .orderBy("rank").collect()
    assert(out.map(_.getAs[Long]("nodeId")).toSeq === Seq(1L, 2L))
    val node2 = out.find(_.getAs[Long]("nodeId") == 2L).get
    assert(node2.getAs[Seq[String]]("patterns") === Seq("p0", "p1"))
    assert(node2.getAs[Long]("tokens") === 20L)      // add + its append
    assert(node2.getAs[Long]("cum_tokens") === 20L)  // context at its add
    // exactly hitting the budget also evicts: cum 30 == 30 at add3 → keep 2
    val exact = Retrieval.budgetedAssemble(Seq(q0, q1), 100, 30L,
        tokenCount = _ => lit(10L))
      .orderBy("rank").collect()
    assert(exact.map(_.getAs[Long]("nodeId")).toSeq === Seq(1L, 2L))
  }

  test("T3 formatted-context cost: prop labels and pattern line are counted") {
    // one node, default estimator: text = "name: n1\npattern: ['p0']" →
    // words (name:, n1, pattern:, ['p0']) → (1+1) + 1 + (1+2) + (1+1) = 8
    val out = Retrieval.budgetedAssemble(Seq(q((1L, "n1", 0.9, "p0"))), 10, 1000L)
      .collect()
    assert(out.head.getAs[Long]("tokens") === 8L)
  }

  test("T3 patternRate scales the query-phase stop threshold") {
    // rate 0.5 × maxNodes 4 = 2: stop at the 2nd add, evict it → 1 node
    val out = Retrieval.budgetedAssemble(Seq(q0, q1), 4, 10000L,
        patternRate = 0.5)
      .orderBy("rank").collect()
    assert(out.map(_.getAs[Long]("nodeId")).toSeq === Seq(1L))
    // rate 2 × maxNodes 2 = 4: the scaled threshold admits 3 nodes
    val over = Retrieval.budgetedAssemble(Seq(q0, q1), 2, 10000L,
        patternRate = 2.0)
      .orderBy("rank").collect()
    assert(over.map(_.getAs[Long]("nodeId")).toSeq === Seq(1L, 2L, 3L))
  }

  test("T3 output is invariant to input row/partition order") {
    val rows = (1L to 40L).map(i => (i, s"n$i", (i * 37 % 100) / 100.0, "p"))
    val inOrder = rows.toDF("nodeId", "name", "similarity", "pattern")
    val shuffled = scala.util.Random.shuffle(rows)
      .toDF("nodeId", "name", "similarity", "pattern").repartition(7)
    def run(df: org.apache.spark.sql.DataFrame) =
      Retrieval.budgetedAssemble(Seq(df), 10, 25L, tokenCount = _ => lit(3L))
        .orderBy("rank")
        .collect().map(r => (r.getAs[Long]("nodeId"), r.getAs[Long]("rank"),
          r.getAs[Long]("cum_tokens"))).toSeq
    assert(run(inOrder) === run(shuffled))
  }

  test("T3 within-query order is similarity desc") {
    val shuffled = q((7L, "a", 0.1, "p"), (8L, "b", 0.99, "p"), (9L, "c", 0.5, "p"))
    val out = Retrieval.budgetedAssemble(Seq(shuffled), 3, 100000L)
      .orderBy("rank").collect()
    assert(out.map(_.getAs[Long]("nodeId")).toSeq === Seq(8L, 9L))
    // a null similarity sorts last (Spark's desc); a tie falls to nodeId
    val nullAndTie = Seq((7L, "a", Some(0.1)), (10L, "d", None), (8L, "b", Some(0.99)),
        (9L, "c", Some(0.5)), (6L, "e", Some(0.5)))
      .toDF("nodeId", "name", "similarity").withColumn("pattern", lit("p"))
    val all = Retrieval.budgetedAssemble(Seq(nullAndTie), 100, 100000L)
      .orderBy("rank").collect()
    assert(all.map(_.getAs[Long]("nodeId")).toSeq === Seq(8L, 6L, 9L, 7L, 10L))
    assert(all.map(_.getAs[Int]("row_order")).toSeq === (1 to 5))
  }

  test("A6 array form: parallel arrays sorted by (-hits, num_results)") {
    val df = Seq((Seq("a", "b", "c"), Seq(1L, 2L, 2L), Seq(10L, 50L, 5L)))
      .toDF("qs", "hs", "ns")
    val sorted = df.select(Retrieval.sortCandidateArrays(
        col("qs"), col("hs"), col("ns")).as("s"))
      .select(transform(col("s"), x => x.getField("q")).as("order"))
      .collect().head.getSeq[String](0)
    assert(sorted === Seq("c", "b", "a"))
  }

  test("LLM2 context formatting: null props skipped, order preserved") {
    val df = Seq(
      (2L, "Bob", null.asInstanceOf[String], 0.5),
      (1L, "Alice", "likes graphs", 0.9))
      .toDF("rank", "name", "details", "similarity")
    val ctx = Retrieval.formatContext(df, Seq("name", "details"))
      .collect().head.getString(0)
    assert(ctx === "name: Alice\ndetails: likes graphs\n\nname: Bob")
    // answer list round-trip
    val back = Seq(("x")).toDF("d")
      .select(Retrieval.splitAnswers(Retrieval.joinAnswers(
        lit(Array("P-alpha", "P-beta")))))
      .collect().head.getSeq[String](0)
    assert(back === Seq("P-alpha", "P-beta"))
  }

  test("A6/P7 best candidate with recall/precision gate") {
    val df = Seq(
      // group 1: best candidate (by -hits, num_results) is id 11:
      // hits 3 of gold 3 (recall 1.0), precision 3/4 → passes 0.5/0.5
      (1L, 10L, 2L, 2L, 3L), (1L, 11L, 3L, 4L, 3L), (1L, 12L, 3L, 9L, 3L),
      // group 2: best is id 20 but precision 1/10 < 0.5 → gated out
      (2L, 20L, 2L, 20L, 2L), (2L, 21L, 1L, 1L, 2L))
      .toDF("grp", "cand", "hits", "num_results", "gold_total")
    val out = Retrieval.bestCandidates(df, "grp", "cand", 0.5, 0.5).collect()
    assert(out.length === 1)
    assert(out.head.getAs[Long]("cand") === 11L)
  }

  test("T4 power-law index is deterministic and in range") {
    val df = spark.range(0, 50).select(col("id").as("key"))
      .withColumn("sample_no", explode(array(lit(0), lit(1), lit(2))))
      .withColumn("idx", Retrieval.powerLawIndex(col("key"), col("sample_no"), 10, lit(7)))
    val idx = df.collect().map(_.getAs[Int]("idx"))
    assert(idx.forall(i => i >= 0 && i < 7))
    val again = df.collect().map(_.getAs[Int]("idx"))
    assert(idx.toSeq === again.toSeq)
    // α=0.1 biases hard toward rank 0
    assert(idx.count(_ == 0) > idx.length / 2)
  }

  test("T4 without replacement: distinct indices, consecutive sample_no, prefix-stable") {
    val keyed = spark.range(0, 30).select(col("id").as("key")).withColumn("n", lit(7L))
    val out = Retrieval.powerLawSampleIdx(keyed, "key", "n", nSamples = 4, invAlpha = 10)
      .collect()
    val byKey = out.groupBy(_.getAs[Long]("key"))
    assert(byKey.nonEmpty)
    byKey.values.foreach { rows =>
      val idx = rows.sortBy(_.getAs[Int]("sample_no")).map(_.getAs[Int]("idx")).toSeq
      assert(idx.distinct.length === idx.length) // no replacement
      assert(idx.forall(i => i >= 0 && i < 7))
      assert(rows.map(_.getAs[Int]("sample_no")).sorted.toSeq === (0 until rows.length))
    }
    // smaller nSamples is a strict prefix of larger (deterministic unrolled
    // rejection: same attempt sequence, same first-occurrence order)
    val one = Retrieval.powerLawSampleIdx(keyed, "key", "n", 1, 10).collect()
      .map(r => (r.getAs[Long]("key"), r.getAs[Int]("idx"))).toSet
    val firsts = out.filter(_.getAs[Int]("sample_no") == 0)
      .map(r => (r.getAs[Long]("key"), r.getAs[Int]("idx"))).toSet
    assert(one === firsts)
  }
}
