package graft

import org.apache.spark.sql.functions._
import graft.pipeline.GraphRaft
import graft.cypher.Parser

/** End-to-end GraphRAFT pipeline replay on the micro graph with the
  * deterministic stubs (SURVEY §5 "end-to-end replay"): NER → entity match →
  * candidate enumeration (with supervision counts) → heuristic rank →
  * budgeted retrieval + KNN backfill → answer names → metrics.
  */
class PipelineSpec extends SparkSpec {
  import spark.implicits._
  private lazy val g = MicroGraph(spark)
  private val allNames = MicroGraph.nodeRows.map(_._3)

  test("render/parse round-trip on candidate templates") {
    val s = """MATCH (x1:Institution {name: "MIT"})-[r1:AFFILIATED_WITH]-(x2:Author)-[r2:WRITES]-(x3:Paper) RETURN DISTINCT x3.name AS name"""
    val q = Parser.parse(s)
    assert(q.render === s)
    assert(Parser.parse(q.render) === q)
  }

  test("NER response parsing: labeled and unlabeled modes (ner.py:68-92)") {
    // unlabeled (prime): 'A:' prefix stripped, '|'-separated, _Entity_ label
    assert(GraphRaft.parseNerResponse("A:aspirin|heart disease", None) ===
      Seq(("_Entity_", "aspirin"), ("_Entity_", "heart disease")))
    // labeled (mag): "Label:" markers delimit values, in appearance order
    val labels = Some(Seq("Institution", "Author", "Paper", "FieldOfStudy"))
    assert(GraphRaft.parseNerResponse(
      "Institution: MIT Author: Alice Smith", labels) ===
      Seq(("Institution", "MIT"), ("Author", "Alice Smith")))
    // absent labels are skipped; single label takes the rest of the string
    assert(GraphRaft.parseNerResponse("Paper:GraphRAFT paper", labels) ===
      Seq(("Paper", "GraphRAFT paper")))
  }

  test("entity matching: exact normalized hit plus KNN fallback") {
    val names = GraphRaft.matchEntities(g,
      Seq("_Entity_" -> "alice", "_Entity_" -> "no such entity"),
      GraphRaft.HashEncoder)
    assert(names.contains("Alice"))
    assert(names.length === 2) // fallback produced exactly one best name
  }

  test("entity matching is label-scoped (mag per-label index, ner.py:99-106)") {
    // same mention, different labels: Institution finds the exact node…
    assert(GraphRaft.matchEntities(g, Seq("Institution" -> "mit"),
      GraphRaft.HashEncoder) === Seq("MIT"))
    // …while Paper must NOT exact-match MIT; the KNN fallback is scoped to
    // Paper nodes, so the single best name is a paper
    val asPaper = GraphRaft.matchEntities(g, Seq("Paper" -> "mit"),
      GraphRaft.HashEncoder)
    assert(asPaper.length === 1)
    assert(Set("P-alpha", "P-beta", "P-gamma").contains(asPaper.head))
    // mixed batch resolves in two jobs total and keeps mention order
    val mixed = GraphRaft.matchEntities(g,
      Seq("Author" -> "ALICE", "Paper" -> "mit", "_Entity_" -> "café"),
      GraphRaft.HashEncoder)
    assert(mixed.head === "Alice")
    // NFC: both the composed and decomposed Café nodes match the last mention
    assert(mixed.count(n => java.text.Normalizer.normalize(n,
      java.text.Normalizer.Form.NFC) == "Café") === 2)
  }

  test("candidate enumeration matches the reference templates, with supervision") {
    val cands = GraphRaft.enumerateCandidates(g, Seq("MIT"),
      goldIds = Some(Seq(20L, 21L)), patterns = Seq("1hop", "2hop"))
    val onehop = cands.find(_.cypher.contains("-[r1:AFFILIATED_WITH]-(x2:Author) RETURN")).get
    assert(onehop.cypher ===
      """MATCH (x1:Institution {name: "MIT"})-[r1:AFFILIATED_WITH]-(x2:Author) RETURN DISTINCT x2.name AS name""")
    assert(onehop.numResults === 2L) // Alice, Bob
    assert(onehop.hits === Some(0L))
    // the 2-hop through WRITES reaches papers 20,21 (gold) — hits = 2
    val twohop = cands.find(c => c.cypher.contains("(x2:Author)-[r2:WRITES]-(x3:Paper)")).get
    assert(twohop.numResults === 2L)
    assert(twohop.hits === Some(2L))
    // every candidate parses under the grammar
    cands.foreach(c => Parser.parse(c.cypher))

    // inference mode: the same candidates, none supervised
    val unsupervised = GraphRaft.enumerateCandidates(g, Seq("MIT"),
      patterns = Seq("1hop", "2hop"))
    assert(unsupervised.forall(_.hits.isEmpty))
    assert(unsupervised.map(c => (c.cypher, c.numResults)).toSet ===
      cands.map(c => (c.cypher, c.numResults)).toSet)

    // a 2-path's targetLabel is its middle node's label, not an anchor's
    val viaInstitution = GraphRaft.enumerateCandidates(g, Seq("Alice", "Bob"),
      patterns = Seq("2path"), targetLabel = Some("Institution"))
    assert(viaInstitution.map(_.cypher).toSet === Set(
      """MATCH (x1:Author {name: "Alice"})-[r1:AFFILIATED_WITH]-(x2:Institution)-[r2:AFFILIATED_WITH]-(x3:Author {name: "Bob"}) RETURN DISTINCT x2.name AS name""",
      """MATCH (x1:Author {name: "Bob"})-[r1:AFFILIATED_WITH]-(x2:Institution)-[r2:AFFILIATED_WITH]-(x3:Author {name: "Alice"}) RETURN DISTINCT x2.name AS name"""))
    assert(viaInstitution.forall(_.numResults == 1L))
    assert(GraphRaft.enumerateCandidates(g, Seq("Alice", "Bob"),
      patterns = Seq("2path"), targetLabel = Some("Author")).isEmpty)

    intercept[IllegalArgumentException] {
      GraphRaft.enumerateCandidates(g, Seq("MIT"), patterns = Seq("3hop"))
    }
  }

  test("candidate enumeration over all three patterns starts one SQL execution") {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent}
    import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
    val starts = new java.util.concurrent.atomic.AtomicInteger()
    val listener = new SparkListener {
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case _: SparkListenerSQLExecutionStart => starts.incrementAndGet()
        case _ =>
      }
    }
    spark.sparkContext.addSparkListener(listener)
    val cands = try {
      val cs = GraphRaft.enumerateCandidates(g, Seq("Alice", "Bob"),
        goldIds = Some(Seq(20L)))
      org.apache.spark.sql.graftbridge.ListenerBus.drain(spark.sparkContext)
      cs
    } finally spark.sparkContext.removeSparkListener(listener)
    // every pattern contributed a candidate, all from the one collect
    Seq("]-(x2:Institution) RETURN", "]-(x3:Paper) RETURN", "(x3:Author {name: ")
      .foreach(p => assert(cands.exists(_.cypher.contains(p)), p))
    assert(starts.get === 1)
  }

  test("heuristic ranker: (-hits, num_results) like llm1.py:53-58") {
    val ranked = GraphRaft.HeuristicRanker.rank(Seq(
      GraphRaft.Candidate("a", Some(1L), 10L),
      GraphRaft.Candidate("b", Some(2L), 50L),
      GraphRaft.Candidate("c", Some(2L), 5L)), 2)
    assert(ranked.map(_.cypher) === Seq("c", "b"))
    // equal (hits, num_results): the Cypher text decides, not input order
    val tied = GraphRaft.HeuristicRanker.rank(Seq(
      GraphRaft.Candidate("z", Some(1L), 3L),
      GraphRaft.Candidate("y", Some(1L), 3L),
      GraphRaft.Candidate("x", Some(0L), 1L)), 2)
    assert(tied.map(_.cypher) === Seq("y", "z"))
  }

  test("retrieveData: budgeted assembly + KNN backfill with exclusion") {
    // one candidate: papers of Alice → {20, 21}; budget 4 → 3 nodes total
    // (the row reaching the budget is evicted, like the reference) → 1
    // backfill row
    val df = GraphRaft.retrieveData(g,
      Seq("""MATCH (x1:Author {name: "Alice"})-[r1:WRITES]-(x2:Paper) RETURN DISTINCT x2.name AS name"""),
      qEmb = Seq(1.0, 0.0, 0.0, 0.0), maxNodes = 4, ef = 100)
    val rows = df.collect()
    assert(rows.length === 3)
    val ids = rows.map(_.getAs[Long]("nodeId"))
    assert(ids.take(2).toSet === Set(20L, 21L))
    // 20 ≡ 0 mod 4 → sim 1.0 ranks before 21 (sim 0.0)
    assert(ids.head === 20L)
    // query-found rows carry the anchored pattern text; backfill "No pattern"
    val r20 = rows.find(_.getAs[Long]("nodeId") == 20L).get
    val pat20 = r20.getSeq[String](r20.fieldIndex("patterns")).toSeq
    assert(pat20 === Seq("""(x1:Author {name: "Alice"})-[r1:WRITES]-(x2:Paper {name: "P-alpha"})"""))
    rows.drop(2).foreach(r =>
      assert(r.getSeq[String](r.fieldIndex("patterns")).toSeq === Seq("No pattern")))
    // backfill excluded the found ids
    assert(ids.distinct.length === 3)
    // backfill is KNN-ordered: the best remaining similarity first
    val backSims = rows.drop(2).map(_.getAs[Double]("similarity"))
    assert(backSims.sortBy(-_).toSeq === backSims.toSeq)

    // token mode (estimate: Σ 1 + ⌊chars/4⌋ per word). Alice's papers cost
    // 27 each: "name:" 2, "P-alpha" 2, "pattern:" 3, "['(x1:Author" 4,
    // "{name:" 2, "\"Alice\"})-[r1:WRITES]-(x2:Paper" 8, "{name:" 2,
    // "\"P-alpha\"})']" 4. A backfill node costs 10 + its name: Carol (12)
    // and Café (40) 12, P-alpha 12, MIT (1) 11, Stanford (2) 13. With
    // qEmb = e0 the KNN order is 12, 20, 40 (sim 1), then 1, 2, … (sim 0).
    val alice = Seq("""MATCH (x1:Author {name: "Alice"})-[r1:WRITES]-(x2:Paper) RETURN DISTINCT x2.name AS name""")
    def idsRanksPatterns(df: org.apache.spark.sql.DataFrame) = df.collect().toSeq.map(r =>
      (r.getAs[Long]("nodeId"), r.getAs[Long]("rank"),
        r.getSeq[String](r.fieldIndex("patterns")).toSeq == Seq("No pattern")))
    // 20 (27 < 54) kept, 21 reaches 54 and is evicted; the backfill has
    // 54 - 27 = 27 left: 12 (12), 40 (24), MIT reaches 35 and is evicted
    assert(idsRanksPatterns(GraphRaft.retrieveData(g, alice, Seq(1.0, 0.0, 0.0, 0.0),
      maxNodes = Int.MaxValue, maxTokens = 54L, ef = 100)) ===
      Seq((20L, 1L, false), (12L, 2L, true), (40L, 3L, true)))
    // patternRate 0.5: 20 reaches 27 = 0.5·54 and is evicted, so nothing is
    // found; the backfill at rate 1 fills 54: 12, 20, 40, MIT (47), and
    // Stanford reaches 60 and is evicted
    assert(idsRanksPatterns(GraphRaft.retrieveData(g, alice, Seq(1.0, 0.0, 0.0, 0.0),
      maxNodes = Int.MaxValue, maxTokens = 54L, ef = 100, patternRate = 0.5)) ===
      Seq((12L, 1L, true), (20L, 2L, true), (40L, 3L, true), (1L, 4L, true)))
    // no candidate queries: backfill only, node budget 4 → 3 nodes
    assert(idsRanksPatterns(GraphRaft.retrieveData(g, Nil, Seq(1.0, 0.0, 0.0, 0.0),
      maxNodes = 4, ef = 100)) ===
      Seq((12L, 1L, true), (20L, 2L, true), (40L, 3L, true)))
  }

  test("full run: question → answers → IR metrics") {
    val result = GraphRaft.run(g,
      question = "Which papers is MIT connected to?",
      qEmb = Seq(1.0, 0.0, 0.0, 0.0),
      config = GraphRaft.Config(patterns = Seq("1hop", "2hop"),
        targetLabel = Some("Paper"), maxNodes = 3, beamWidth = 2),
      extractor = new GraphRaft.DictionaryExtractor(allNames),
      goldIds = Some(Seq(20L, 21L)))
    assert(result.sourceNames === Seq("MIT"))
    // targetLabel=Paper keeps only paper-targeting candidates (mag mode,
    // path_retriever.py:58-60)
    assert(result.candidates.nonEmpty)
    assert(result.candidates.forall(_.cypher.contains(":Paper)")))
    // best candidate by (-hits, num_results): the 2-hop to papers, hits=2
    assert(result.topQueries.head.contains("-[r2:WRITES]-(x3:Paper)"))
    // retrieval: papers 20,21 found; budget 3 binds on the first backfill
    // row (evicted, reference semantics) → exactly the two gold papers
    val retrievedIds = result.retrieved.map(_.nodeId)
    assert(retrievedIds.toSet === Set(20L, 21L))
    assert(result.answers.toSet === Set("P-alpha", "P-beta"))
    // the COMPLETE evaluation row the reference computes (llm2.py:228 +
    // compute_metrics.py:3-29): macro-averaged precision, recall, F1, MRR,
    // hit@1, hit@5, recall@20, num_preds — exact values vs hand-computed
    // gold, on the e2e question alone (perfect retrieval ⇒ all 1.0)…
    val perfect = graft.operators.Metrics.macroAvg(
      Seq((retrievedIds, Seq(20L, 21L))).toDF("p", "l"), col("p"), col("l"))
      .collect().head
    assert(perfect.getAs[Long]("n_questions") === 1L)
    Seq("avg_precision", "avg_recall", "avg_f1", "avg_mrr",
        "avg_hit_1", "avg_hit_5", "avg_recall_20")
      .foreach(c => assert(perfect.getAs[Double](c) === 1.0, c))
    assert(perfect.getAs[Double]("avg_num_preds") === 2.0)

    // …and with a second, imperfect question so the macro averaging itself
    // is exercised: preds [20, 99, 21] vs gold [20, 21] —
    // precision 2/3, recall 1, F1 4/5, MRR 1 (gold at position 1),
    // hit@1/5 1, recall@20 1, num_preds 3. Hand-computed macro averages:
    val macroRow = graft.operators.Metrics.macroAvg(
      Seq((retrievedIds, Seq(20L, 21L)),
          (Seq(20L, 99L, 21L), Seq(20L, 21L))).toDF("p", "l"), col("p"), col("l"))
      .collect().head
    assert(macroRow.getAs[Long]("n_questions") === 2L)
    assert(macroRow.getAs[Double]("avg_precision") === 0.833333) // (1 + 2/3)/2
    assert(macroRow.getAs[Double]("avg_recall") === 1.0)
    assert(macroRow.getAs[Double]("avg_f1") === 0.9)             // (1 + 0.8)/2
    assert(macroRow.getAs[Double]("avg_mrr") === 1.0)
    assert(macroRow.getAs[Double]("avg_hit_1") === 1.0)
    assert(macroRow.getAs[Double]("avg_hit_5") === 1.0)
    assert(macroRow.getAs[Double]("avg_recall_20") === 1.0)
    assert(macroRow.getAs[Double]("avg_num_preds") === 2.5)
  }
}
