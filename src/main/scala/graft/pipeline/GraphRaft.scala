package graft.pipeline

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.graph.PropertyGraph
import graft.operators.{Patterns, Retrieval, Vectors}
import graft.cypher.{Ast, Parser, Planner}
import graft.functions.normName

/** The GraphRAFT pipeline re-expressed Spark-first (SURVEY §3.1;
  * reference graphraft.py:41-66): NER entity matching → path/candidate
  * enumeration → candidate ranking → budgeted retrieval with KNN backfill →
  * answer generation → IR metrics.
  *
  * The three LLM calls at the pipeline boundary (OpenAI NER gpt-4o-mini,
  * text2cypher Gemma ranking, Llama answering) become pluggable traits with
  * deterministic defaults (SURVEY §2.10): everything else — the actual data
  * processing — is DataFrame jobs over the cluster.
  */
object GraphRaft {

  // ---- LLM boundary traits (deterministic defaults below) ----

  /** NER: question → entity mentions (reference retrieval/ner.py:38-65).
    * `extractLabeled` is the full contract — (label, mention) pairs like
    * `parseNerResponse` produces; the default wraps the unlabeled `extract`
    * with the catch-all `_Entity_` label (prime-style, labels=None). */
  trait EntityExtractor {
    def extract(question: String): Seq[String]
    def extractLabeled(question: String): Seq[(String, String)] =
      extract(question).map(("_Entity_", _))
  }

  /** Candidate ranking: the constrained-decoding LLM1
    * (constrained_decoding/sequence_ranker.py) — picks top-k candidate
    * queries. */
  trait QueryRanker { def rank(candidates: Seq[Candidate], k: Int): Seq[Candidate] }

  /** Answering: LLM2 (llm2.py:150-164) — context rows → answer names. */
  trait AnswerGenerator { def answer(question: String, context: Seq[Retrieved]): Seq[String] }

  /** Mention → embedding for the KNN fallback (reference embeds via
    * genai.vector.encode, ner.py:117-120; external-model boundary). */
  trait MentionEncoder { def encode(s: String): Seq[Double] }

  /** A candidate Cypher query with optional supervision counts
    * (qa_with_cypher_queries schema: cypher_queries/hits/num_results). */
  final case class Candidate(cypher: String, hits: Option[Long], numResults: Long)

  final case class Retrieved(nodeId: Long, name: String, similarity: Double,
                             patterns: Seq[String])

  /** Parse an LLM NER response into (label, mention) pairs — the
    * deterministic half of the reference's NER step, replicated exactly:
    *
    *  - unlabeled mode (prime: labels = None): strip a leading "A:"/":",
    *    split on '|', label everything `_Entity_` (ner.py:68-73).
    *  - labeled mode (mag): find each "Label:" marker, take the text up to
    *    the next marker as the value, trimmed (ner.py:76-92).
    */
  def parseNerResponse(response: String, labels: Option[Seq[String]]): Seq[(String, String)] =
    labels match {
      case None =>
        response.dropWhile(_ == 'A').dropWhile(_ == ':').split('|').toSeq
          .map(e => ("_Entity_", e))
      case Some(ls) =>
        val markers = ls.flatMap { label =>
          val m = label + ":"
          val i = response.indexOf(m)
          if (i < 0) None else Some((i, i + m.length))
        }
        val idx0s = markers.map(_._1).sorted
        val idx1s = markers.map(_._2).sorted
        idx0s.indices.map { i =>
          val label = response.substring(idx0s(i), idx1s(i) - 1)
          val value = if (i < idx0s.length - 1) response.substring(idx1s(i), idx0s(i + 1))
                      else response.substring(idx1s(i))
          (label, value.trim)
        }
    }

  /** Dictionary NER: emit the node names that literally occur in the
    * question (normalized) — deterministic stand-in for gpt-4o-mini. */
  final class DictionaryExtractor(names: Seq[String]) extends EntityExtractor {
    private def norm(s: String) =
      java.text.Normalizer.normalize(s, java.text.Normalizer.Form.NFC).toLowerCase
    def extract(question: String): Seq[String] = {
      val q = norm(question)
      names.filter(n => q.contains(norm(n)))
    }
  }

  /** The reference's own deterministic ranking heuristic: sort by
    * (-hits, num_results) — prefer recall, then selectivity (llm1.py:53-58)
    * — then by the Cypher text. The reference breaks ties by Neo4j's record
    * order; here enumeration order is the hash order of whatever Spark plan
    * produced the candidates, so without the text tie-break the top k would
    * move whenever that plan does. It is the order `bestLabelGate`,
    * `sampleCandidates` and `Retrieval.bestCandidates` use as well. */
  object HeuristicRanker extends QueryRanker {
    def rank(candidates: Seq[Candidate], k: Int): Seq[Candidate] =
      candidates.sortBy(c => (-c.hits.getOrElse(0L), c.numResults, c.cypher)).take(k)
  }

  /** Identity answerer: the retrieved names, best-first (the retrieval-only
    * evaluation mode, generate_training_data_llm2.ipynb cell 9). */
  object RetrievalAnswerer extends AnswerGenerator {
    def answer(question: String, context: Seq[Retrieved]): Seq[String] =
      context.map(_.name)
  }

  /** Deterministic fake encoder (hash → unit vector) so the KNN fallback is
    * exercised without a model. */
  object HashEncoder extends MentionEncoder {
    def encode(s: String): Seq[Double] = {
      val h = s.##
      val raw = (0 until 4).map(i => (((h >> (8 * i)) & 0xff) - 128) / 128.0)
      val n = math.sqrt(raw.map(x => x * x).sum)
      if (n == 0) Seq(1.0, 0, 0, 0) else raw.map(_ / n)
    }
  }

  // ---- entity matching (ner.py:95-120: fulltext-exact + KNN fallback) ----

  /** V5 label-scoped exact lookup as ONE job: the (label, mention) pairs
    * become a broadcast frame equi-joined on the NFC-normalized name and
    * scoped to the mention's label — the reference looks each mention up in
    * the PER-LABEL index `{label}FullTextIndex` (ner.py:99,111-114), so a
    * mag Institution mention never matches a Paper of the same name;
    * `_Entity_` (prime-style unlabeled NER) scopes to every label.
    * Returns (m_id, m_label, mention, node_id, label, name). */
  def labelScopedLookup(g: PropertyGraph, mentions: Seq[(String, String)]): DataFrame = {
    val spark = g.nodes.sparkSession
    import spark.implicits._
    val mdf = mentions.zipWithIndex
      .map { case ((l, m), i) => (i, l, m) }
      .toDF("m_id", "m_label", "mention")
    broadcast(mdf)
      .join(g.nodes,
        normName(col("name")) === normName(col("mention")) &&
          (col("m_label") === lit("_Entity_") || col("label") === col("m_label")))
      .select(col("m_id"), col("m_label"), col("mention"),
        col("nodeId").as("node_id"), col("label"), col("name"))
  }

  /** V3 batched label-scoped KNN: best node name per mention embedding as
    * ONE job — the broadcast query frame joins the label-scoped candidate
    * nodes (one scan), a per-mention window keeps the top hit. Mirrors the
    * per-label vector index `{label}NameEmbedding` + `LIMIT 1`
    * (ner.py:104-107,117-120). `queries` columns: m_id, m_label, q_emb. */
  def labelScopedKnnBest(g: PropertyGraph, queries: DataFrame,
                         embCol: String = "nameEmbedding"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val cands = g.nodes.where(col(embCol).isNotNull)
      .select(col("nodeId"), col("label"), col("name"),
        col(embCol).cast("array<double>").as("__emb"))
    val scored = broadcast(queries)
      .join(cands, col("m_label") === lit("_Entity_") || col("label") === col("m_label"))
      .withColumn("similarity", graft.functions.cosineSim(col("__emb"), col("q_emb")))
      // a zero-norm or dimension-mismatched embedding scores null; without
      // this filter desc-nulls-last still leaves a null row as the top-1
      // when EVERY candidate is null — the reference's vector index would
      // return a real neighbor or nothing, so: nothing
      .where(col("similarity").isNotNull)
    val w = Window.partitionBy(col("m_id")).orderBy(col("similarity").desc, col("nodeId"))
    scored.withColumn("rn", row_number().over(w)).where(col("rn") === 1)
      .select(col("m_id"), col("name"))
  }

  /** Entity matching (ner.py:95-120): label-scoped exact match with
    * label-scoped KNN fallback, in exactly TWO Spark jobs regardless of the
    * number of mentions — one exact-lookup join for all mentions, one
    * batched KNN for the misses (the reference's k=100 + LIMIT 1 reduces to
    * the exact best hit; our KNN is exact so only the top-1 matters). */
  def matchEntities(g: PropertyGraph, mentions: Seq[(String, String)],
                    encoder: MentionEncoder, embCol: String = "nameEmbedding"): Seq[String] = {
    if (mentions.isEmpty) return Nil
    val spark = g.nodes.sparkSession
    import spark.implicits._
    val exact = labelScopedLookup(g, mentions)
      .select(col("m_id"), col("name")).collect()
      .groupBy(_.getInt(0)).view.mapValues(_.map(_.getString(1)).toSeq).toMap
    val missing = mentions.zipWithIndex.collect {
      case ((l, m), i) if !exact.contains(i) => (i, l, encoder.encode(m))
    }
    val fallback: Map[Int, Seq[String]] =
      if (missing.isEmpty) Map.empty
      else labelScopedKnnBest(g, missing.toDF("m_id", "m_label", "q_emb"), embCol)
        .collect().groupBy(_.getInt(0)).view.mapValues(_.map(_.getString(1)).toSeq).toMap
    mentions.indices.flatMap(i => exact.getOrElse(i, fallback.getOrElse(i, Nil))).distinct
  }

  // ---- candidate enumeration (path_retriever.py:49-64) ----

  /** Enumerate candidate queries around the source names: 1-hop, 2-hop and
    * 2-path schema summaries with result counts, templated into concrete
    * Cypher like `create_query` (path_retriever.py:30-40). This is the
    * one-question view of [[TrainingData]]'s batched enumerators: the names
    * become a one-row question frame, the requested patterns' candidates
    * are unioned and filtered by `targetLabel` (the returned node's label:
    * the target of a 1-hop or 2-hop, the middle of a 2-path), and ONE
    * action collects them — O(schema) rows, like the reference collects
    * records. With `goldIds` the supervision count (A2) becomes `hits`. */
  def enumerateCandidates(g: PropertyGraph, srcNames: Seq[String],
                          goldIds: Option[Seq[Long]] = None,
                          patterns: Seq[String] = Seq("1hop", "2hop", "2path"),
                          targetLabel: Option[String] = None): Seq[Candidate] = {
    if (srcNames.isEmpty || patterns.isEmpty) return Nil
    val spark = g.nodes.sparkSession
    import spark.implicits._
    val qa = Seq((0L, srcNames, goldIds.getOrElse(Seq.empty[Long])))
      .toDF("id", "entities", "answer_ids")
    val all = patterns.map {
      case "1hop" => TrainingData.oneHopCandidates(g, qa) -> "tgt_label"
      case "2hop" => TrainingData.twoHopCandidates(g, qa) -> "tgt_label"
      case "2path" => TrainingData.twoPathCandidates(g, qa) -> "mid_label"
      case other => throw new IllegalArgumentException(s"unknown pattern $other")
    }.map { case (df, label) =>
      df.select(col("cypher_query"), col("hits"), col("num_results"),
        col(label).as("target_label"))
    }.reduce(_.unionByName(_))
    targetLabel.fold(all)(l => all.where(col("target_label") === l)).collect().toSeq
      .map(r => Candidate(r.getString(0), goldIds.map(_ => r.getLong(1)), r.getLong(2)))
  }

  // ---- budgeted retrieval (retriever.py:63-109) ----

  /** Execute the ranked candidate queries: widen each for retrieval
    * (structural modify_query), execute in rank order, assemble under the
    * budget with first-wins dedup + provenance, then backfill with global
    * vector KNN excluding found ids (`pattern` = "No pattern",
    * retriever.py:96-107). The query phase checks the budget at
    * `patternRate` (retriever.py:87), the backfill at rate 1 over the TOTAL
    * context — query-found nodes included (retriever.py:105). */
  def retrieveData(g: PropertyGraph, topQueries: Seq[String], qEmb: Seq[Double],
                   nodeProps: Seq[String] = Seq("name"),
                   sortingIndex: String = "nameEmbedding",
                   maxNodes: Int = 20, maxTokens: Long = Long.MaxValue,
                   ef: Int = 10000, patternRate: Double = 1.0): DataFrame = {
    val params = Map("questionEmbedding" -> qEmb)
    val planner = new Planner(g, params)
    val perQuery = topQueries.map { q =>
      val ast = Parser.parse(q)
      val tgtVar = ast.items.head.expr match {
        case Ast.PropRef(v, _) => v
        case other => throw new IllegalArgumentException(s"candidate must return a property, got $other")
      }
      val widened = ast.widenForRetrieval(tgtVar, nodeProps.filter(_ != "nodeId"),
        sortingIndex, "questionEmbedding")
      // pattern text ≙ query_to_text_pattern (retriever.py:9-12): the MATCH
      // pattern with the target re-anchored by the matched row's name —
      // done structurally (render the path, splice the per-row anchor).
      val pathText = Ast.CypherQuery(Nil, ast.paths, Nil, distinct = false,
        Seq(Ast.RetItem(Ast.PropRef(tgtVar, "name"), None)), Nil, None)
        .render.stripPrefix("MATCH ").split(" RETURN ").head
      val tgtLabel = ast.paths.flatMap(_.nodes).find(_.varName == tgtVar)
        .flatMap(_.label)
      val tgtText = s"($tgtVar${tgtLabel.fold("")(l => s":$l")})"
      val pattern = pathText.indexOf(tgtText) match {
        case -1 => lit(pathText) // target already anchored in the template
        case i =>
          val (before, after) = (pathText.substring(0, i),
            pathText.substring(i + tgtText.length))
          concat(lit(before), lit(tgtText.dropRight(1) + " {name: \""),
            col("name"), lit("\"})"), lit(after))
      }
      planner.plan(widened).withColumn("pattern", pattern)
    }
    val extraProps = nodeProps.filterNot(Set("name", "nodeId"))

    // Materialize the budget result ONCE at the per-question boundary (the
    // reference also collects records here): it is referenced three ways
    // below (found-id exclusion, base union branch, found count/tokens) and
    // is budget-bounded tiny — without this the whole union+windows subtree
    // recomputes per reference. With no candidate queries the query phase is
    // empty and only the KNN backfill runs (retriever.py:96 runs regardless).
    val spark = g.nodes.sparkSession
    import scala.jdk.CollectionConverters._
    import org.apache.spark.sql.types._
    val baseSchema = StructType(Seq(
      StructField("nodeId", LongType), StructField("name", StringType),
      StructField("similarity", DoubleType),
      StructField("patterns", ArrayType(StringType)),
      StructField("rank", LongType)))
    val (base, nFound, foundTokens, foundIds) =
      if (perQuery.isEmpty)
        (spark.createDataFrame(java.util.Collections.emptyList[org.apache.spark.sql.Row](),
          baseSchema), 0L, 0L, Array.empty[Long])
      else {
        val budget = Retrieval.budgetedAssemble(perQuery, maxNodes, maxTokens,
          extraCols = extraProps, patternRate = patternRate)
        val rows = budget.collect()
        val b = spark.createDataFrame(rows.toSeq.asJava, budget.schema)
          .select(col("nodeId"), col("name"), col("similarity"),
            col("patterns"), col("rank"))
        (b, rows.length.toLong, rows.map(_.getAs[Long]("tokens")).sum,
          rows.map(_.getAs[Long]("nodeId")))
      }

    // KNN backfill: global top-ef excluding found, at rate 1 over the TOTAL
    // context (retriever.py:96-107) — the budget rule itself over the
    // budget the query phase left. Every backfill row adds a new node, so
    // stopping at the first row that reaches either reduced budget and
    // evicting it keeps exactly the rows under both; the "\n\n" separator
    // is whitespace, which the token estimate does not count.
    val knn = Vectors.scored(
        g.nodes.where(col(sortingIndex).isNotNull && !col("nodeId").isin(foundIds.toSeq: _*))
          .select(Seq(col("nodeId"), col("name"), col(sortingIndex)) ++
            extraProps.map(col): _*),
        sortingIndex, qEmb)
      .withColumn("similarity", round(col("similarity"), 6))
      .orderBy(col("similarity").desc, col("nodeId"))
      .limit(ef)
      .withColumn("pattern", lit("No pattern"))
    val backfill = Retrieval.budgetedAssemble(Seq(knn), maxNodes - nFound.toInt,
        maxTokens - foundTokens, extraCols = extraProps)
      .select(col("nodeId"), col("name"), col("similarity"), col("patterns"),
        (col("rank") + nFound).as("rank"))
    base.unionByName(backfill).orderBy("rank")
  }

  // ---- answer-name lookup (retriever.py:111-115) ----

  def answerNames(g: PropertyGraph, answerIds: Seq[Long]): Seq[String] =
    Patterns.lookupByIds(g, answerIds).collect().map(_.getAs[String]("name")).toSeq

  // ---- end-to-end run (graphraft.py:41-66) ----

  final case class Config(
      nodeProps: Seq[String] = Seq("name"),
      sortingIndex: String = "nameEmbedding",
      patterns: Seq[String] = Seq("1hop", "2hop", "2path"),
      targetLabel: Option[String] = None,
      beamWidth: Int = 5,           // graphraft.py:79
      maxNodes: Int = 20,           // graphraft.py:37
      ef: Int = 10000)              // retriever.py:25

  final case class Result(sourceNames: Seq[String], candidates: Seq[Candidate],
                          topQueries: Seq[String], retrieved: Seq[Retrieved],
                          answers: Seq[String])

  def run(g: PropertyGraph, question: String, qEmb: Seq[Double],
          config: Config = Config(),
          extractor: EntityExtractor,
          ranker: QueryRanker = HeuristicRanker,
          answerer: AnswerGenerator = RetrievalAnswerer,
          encoder: MentionEncoder = HashEncoder,
          goldIds: Option[Seq[Long]] = None): Result = {
    val mentions = extractor.extractLabeled(question)
    val srcNames = matchEntities(g, mentions, encoder, config.sortingIndex)
    val candidates = enumerateCandidates(g, srcNames, goldIds,
      config.patterns, config.targetLabel)
    val top = ranker.rank(candidates, config.beamWidth)
    val retrievedDf = retrieveData(g, top.map(_.cypher), qEmb,
      config.nodeProps, config.sortingIndex, config.maxNodes, ef = config.ef)
    val retrieved = retrievedDf.collect().toSeq.map(r => Retrieved(
      r.getAs[Long]("nodeId"), r.getAs[String]("name"),
      r.getAs[Double]("similarity"),
      r.getSeq[String](r.fieldIndex("patterns")).toSeq))
    Result(srcNames, candidates, top.map(_.cypher), retrieved,
      answerer.answer(question, retrieved))
  }
}
