package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.graph.PropertyGraph
import graft.operators.{Patterns, Retrieval}

/** LLM1 training-data generation (SURVEY §3.2; reference
  * training/generate_training_data_llm1.ipynb cells 3-4 + llm1.py:166-180)
  * re-expressed as distributed DataFrame pipelines, each one SQL execution
  * over every question at once.
  *
  * The reference maps over QA rows with `num_proc=8`, issuing per-row Neo4j
  * round-trips for the path-schema queries. Spark-first, the same
  * computation is a join pipeline over *all* questions at once:
  * explode entities → anchor join → hop joins → per-(question, path-schema)
  * aggregation with supervision counts — no driver-side loop, cluster-wide
  * parallelism, one shuffle per aggregation. This is the shape that holds
  * at 100 TB (per-row loops do not).
  *
  * Output schema mirrors `qa_with_cypher_queries`: one row per candidate
  * with `cypher_query`, `hits`, `num_results` (plus the schema fields the
  * template was built from), and [[bestLabelGate]] reproduces the llm1
  * training filter (recall ≥ 1 ∧ precision ≥ 0.1, llm1.py:61-66).
  */
object TrainingData {

  /** qa: (id, question, entities: array<string>, answer_ids: array<long>).
    * Returns one row per (question, 1-hop path schema): the templated
    * candidate + num_results + hits. */
  def oneHopCandidates(g: PropertyGraph, qa: DataFrame): DataFrame = summarize(oneHop(g, qa))

  /** 2-hop variant of [[oneHopCandidates]] — the same shape, one SQL
    * execution, with one more edge join and full trail semantics (r1 ≠ r2
    * on the stored-edge identity triple); only targets other than the
    * anchor are counted. */
  def twoHopCandidates(g: PropertyGraph, qa: DataFrame): DataFrame = summarize(twoHop(g, qa))

  /** 2-path variant: both endpoints anchored in the question's entity set
    * (the double-UNWIND cross product U2), middle node counted — one SQL
    * execution for every question, trail semantics included; only paths
    * between two distinct anchor nodes are counted. */
  def twoPathCandidates(g: PropertyGraph, qa: DataFrame): DataFrame = summarize(twoPath(g, qa))

  /** One pattern's hop rows for every question and the path schema its
    * candidates are templated from. `nodes` are (label column, anchor-name
    * column) in path order, `rels` the relationship-type columns between
    * them, `returned` the 1-based position of the node the query returns
    * and `target` that node's id column. The rows are exactly the bindings
    * the candidate's Cypher matches under trail semantics; `counted` marks
    * those whose target counts toward `num_results` (a 2-hop target other
    * than its anchor, a 2-path between two distinct anchor nodes). */
  private[pipeline] final case class Hops(rows: DataFrame, target: String,
                                          nodes: Seq[(String, Option[String])],
                                          rels: Seq[String], returned: Int,
                                          counted: Column) {
    def targetLabel: String = nodes(returned - 1)._1

    /** The `create_query` template (path_retriever.py:30-40) over the
      * schema columns — of a hop row or of a summarized group alike. */
    def cypher: Column = {
      val template = nodes.zipWithIndex.flatMap { case ((label, name), i) =>
        Seq(lit(s"(x${i + 1}:"), col(label)) ++
          name.toSeq.flatMap(n => Seq(lit(" {name: \""), col(n), lit("\"}"))) ++
          Seq(lit(")")) ++
          rels.lift(i).toSeq.flatMap(r => Seq(lit(s"-[r${i + 1}:"), col(r), lit("]-")))
      }
      concat((lit("MATCH ") +: template :+
        lit(s" RETURN DISTINCT x$returned.name AS name")): _*)
    }
  }

  private[pipeline] def oneHop(g: PropertyGraph, qa: DataFrame): Hops = {
    val rows = anchors(g, qa)
      .join(g.bidir.as("e"), col("src_id") === col("e.a"))
      .join(labeled(g, "tgt"), col("e.b") === col("tgt_id"))
      .withColumn("rel_type", col("e.relType"))
    Hops(rows, "tgt_id", Seq("src_label" -> Some("src_name"), "tgt_label" -> None),
      Seq("rel_type"), returned = 2, counted = lit(true))
  }

  private[pipeline] def twoHop(g: PropertyGraph, qa: DataFrame): Hops = {
    val rows = anchors(g, qa)
      .join(g.bidir.as("e1"), col("src_id") === col("e1.a"))
      .join(labeled(g, "mid"), col("e1.b") === col("mid_id"))
      .join(g.bidir.as("e2"), col("mid_id") === col("e2.a"))
      .join(labeled(g, "tgt"), col("e2.b") === col("tgt_id"))
      .where(Patterns.trailNeq("e1", "e2"))
      .withColumn("rel1_type", col("e1.relType"))
      .withColumn("rel2_type", col("e2.relType"))
    Hops(rows, "tgt_id",
      Seq("src_label" -> Some("src_name"), "mid_label" -> None, "tgt_label" -> None),
      Seq("rel1_type", "rel2_type"), returned = 3, counted = col("tgt_id") =!= col("src_id"))
  }

  /** The far anchor joins last, on (node, question id): keyed by question,
    * this order ran faster on the training-set batch than the
    * meet-in-the-middle order the Cypher planner gives an anchored far
    * node. */
  private[pipeline] def twoPath(g: PropertyGraph, qa: DataFrame): Hops = {
    val near = anchors(g, qa)
    val left = near.select(col("id"), col("answer_ids"),
      col("src_id").as("src1_id"), col("src_label").as("src1_label"),
      col("src_name").as("src1_name"))
    val right = near.select(col("id").as("id2"),
      col("src_id").as("src2_id"), col("src_label").as("src2_label"),
      col("src_name").as("src2_name"))
    val rows = left
      .join(g.bidir.as("e1"), col("src1_id") === col("e1.a"))
      .join(labeled(g, "mid"), col("e1.b") === col("mid_id"))
      .join(g.bidir.as("e2"), col("mid_id") === col("e2.a"))
      .join(right, col("e2.b") === col("src2_id") && col("id") === col("id2"))
      .where(Patterns.trailNeq("e1", "e2"))
      .withColumn("rel1_type", col("e1.relType"))
      .withColumn("rel2_type", col("e2.relType"))
    Hops(rows, "mid_id",
      Seq("src1_label" -> Some("src1_name"), "mid_label" -> None,
        "src2_label" -> Some("src2_name")),
      Seq("rel1_type", "rel2_type"), returned = 2,
      counted = col("src1_id") =!= col("src2_id"))
  }

  /** The anchor prelude every enumerator shares: one row per (question,
    * entity, node named by it) — (id, answer_ids, src_id, src_label,
    * src_name). Path enumeration anchors by name only (`MATCH (src {name:
    * srcName})`, path_retriever.py:5). */
  private def anchors(g: PropertyGraph, qa: DataFrame): DataFrame =
    qa.select(col("id"), explode(col("entities")).as("name"), col("answer_ids"))
      .join(g.nodes.select(col("nodeId").as("src_id"), col("label").as("src_label"),
        col("name")), Seq("name"))
      .withColumnRenamed("name", "src_name")

  /** (`p`_id, `p`_label) of every node, for a hop's far end. */
  private def labeled(g: PropertyGraph, p: String): DataFrame =
    g.nodes.select(col("nodeId").as(s"${p}_id"), col("label").as(s"${p}_label"))

  /** The shared summarize step (path_retriever.py:49-64): keep the counted
    * hop rows, group them by question and path schema, count distinct
    * targets as `num_results` and the gold ones among them as `hits`, and
    * fill in the template. */
  private def summarize(h: Hops): DataFrame = {
    val keys = h.nodes.zipWithIndex.flatMap { case ((label, name), i) =>
      (label +: name.toSeq) ++ h.rels.lift(i)
    }
    h.rows.where(h.counted)
      .groupBy((col("id") +: keys.map(col)): _*)
      .agg(
        count_distinct(col(h.target)).as("num_results"),
        count_distinct(when(array_contains(col("answer_ids"), col(h.target)),
          col(h.target))).as("hits"))
      .withColumn("cypher_query", h.cypher)
  }

  /** T4 rank-biased candidate sampling, distributed (SURVEY §2.7;
    * training/generate_training_data_llm2.ipynb cell 5): per question, rank
    * candidates by (-hits, num_results) and draw `nSamples` DISTINCT indices
    * from the power-law inv_cdf = u^(1/α) — without replacement, like the
    * reference's `if rank not in samples` rejection loop, deterministically
    * unrolled in [[Retrieval.powerLawSampleIdx]]. */
  def sampleCandidates(candidates: DataFrame, nSamples: Int,
                       invAlpha: Int = 10, attempts: Int = 128): DataFrame = {
    val w = Window.partitionBy(col("id"))
      .orderBy(col("hits").desc, col("num_results"), col("cypher_query"))
    val ranked = candidates.withColumn("rk", row_number().over(w))
    val counts = candidates.groupBy("id").agg(count(lit(1)).as("n"))
    val draws = Retrieval.powerLawSampleIdx(
      counts, "id", "n", nSamples, invAlpha, attempts)
    draws.join(ranked, draws("id") === ranked("id") &&
        ranked("rk") === draws("idx") + 1)
      .select(draws("id"), col("sample_no"), col("cypher_query"),
        col("hits"), col("num_results"))
  }

  /** Batched per-question retrieval (SURVEY §3.3; reference retriever.py
    * runs one Neo4j session per QA row): given ONE picked 1-hop query per
    * question and the per-question embeddings (`q_emb` joined by id — the
    * S6 broadcast lookup), execute EVERY question's retrieval in one SQL
    * execution: anchor joins carry the question id, cosine scores against the
    * per-question embedding, and the node budget is a window partitioned by
    * question — per-question top-k with zero driver-side iteration. */
  def batchRetrieve1Hop(g: PropertyGraph, picked: DataFrame, qEmb: DataFrame,
                        embCol: String = "nameEmbedding",
                        maxNodes: Int = 20): DataFrame = {
    val anchors = picked
      .join(g.nodes.select(col("nodeId").as("src_id"),
        col("name").as("src_name")), Seq("src_name"))
    val hops = anchors
      .join(g.bidir.as("e"),
        col("src_id") === col("e.a") && col("e.relType") === col("rel_type"))
      .join(g.nodes.as("t"),
        col("e.b") === col("t.nodeId") && col("t.label") === col("tgt_label"))
      .select(col("id"), col("t.nodeId").as("node_id"),
        col("t.name").as("node_name"), col(s"t.$embCol").as("emb"))
      .dropDuplicates("id", "node_id")
    val scored = hops
      .join(broadcast(qEmb), Seq("id"))
      .withColumn("similarity",
        round(graft.functions.cosineSim(col("emb"), col("q_emb")), 6))
    val w = Window.partitionBy(col("id"))
      .orderBy(col("similarity").desc, col("node_id"))
    scored
      .withColumn("rn", row_number().over(w))
      .where(col("rn") <= maxNodes)
      .select(col("id"), col("node_id"), col("node_name"),
        col("similarity"), col("rn").as("rank"))
  }

  /** The llm1 training-label pipeline (llm1.py:53-66,169-177): per question
    * keep the best candidate by (-hits, num_results, cypher_query) and gate
    * it on recall ≥ minRecall against the gold set and precision ≥
    * minPrecision — [[Retrieval.bestCandidates]] grouped by question. */
  def bestLabelGate(candidates: DataFrame, qa: DataFrame,
                    minRecall: Double = 1.0, minPrecision: Double = 0.1): DataFrame =
    Retrieval.bestCandidates(
      candidates.join(qa.select(col("id"),
        size(col("answer_ids")).cast("long").as("gold_total")), "id"),
      "id", "cypher_query", minRecall, minPrecision)
}
