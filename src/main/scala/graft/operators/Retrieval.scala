package graft.operators

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Budgeted ranked retrieval assembly (SURVEY §2.7 T3; reference
  * retrieval/retriever.py:63-109 — the reference's most intricate operator)
  * plus the candidate-ranking ops around it (A6/P7, T4).
  *
  * The reference's loop: execute queries in rank order; per row, dedup on
  * nodeId (first query wins, later queries only append provenance
  * patterns); stop when the budget (node count or token count) is reached,
  * evicting the last-added node. Each step reads the state the rows before
  * it left — which nodes are in, how many tokens the context holds — so the
  * loop is sequential, and [[Assembly]] runs it on the driver. Spark does
  * the data work in one action per phase: it ranks every query's rows,
  * prunes each query to what the budget can consume, and counts the tokens
  * each row would add. The prune bounds what is collected: within a query
  * the rows are distinct nodes, each costing ≥ 1 node and ≥ 1 token, so no
  * row past `rate × min(maxNodes, maxTokens) + 1` can be reached.
  */
object Retrieval {

  /** Assemble retrieval results under a budget — exact event-level replica
    * of the reference loop (retriever.py:63-93):
    *
    *  - the event stream is every result row in execution order (query rank,
    *    then similarity-desc row order); a row is an ADD if its node is new,
    *    else a pattern APPEND to the existing node;
    *  - after EVERY event the stop check runs against the whole formatted
    *    context: per node `"prop: value"` lines (nulls skipped) plus the
    *    `pattern: ['…']` list line (nodeId/similarity excluded), nodes
    *    joined by a blank line (retriever.py:39-40) — so pattern appends
    *    grow the token count too;
    *  - on stop, the LAST-ADDED node is evicted (with its patterns) and
    *    retrieval breaks out of all queries (retriever.py:87-93);
    *  - `patternRate` scales both thresholds during this (query) phase —
    *    `stop_retrieval(…, rate=self.pattern_rate)` (retriever.py:24,87);
    *    the KNN backfill phase checks at rate 1 (retriever.py:105).
    *
    * @param queryResults ranked per-query results, best query first; columns
    *   (nodeId: Long, name: String, similarity: Double, pattern: String)
    *   plus `extraCols`; rows within a query are distinct by nodeId.
    * @param maxNodes  node budget (graphraft.py:37 max_nodes=20)
    * @param maxTokens token budget (nb llm2 cell 3 max_tokens=10k)
    * @param tokenCount text column → token count; pluggable like the
    *   reference's HF tokenizer (retriever.py:67-69), deterministic
    *   default; must be ≥ 1 for non-empty text and additive over
    *   whitespace-separated concatenation (the default is both).
    *
    * Output: one local row per kept node, in rank order, with first-wins
    * props (`query_rank`, `row_order`, `name`, `extraCols`, `similarity`),
    * the ordered `patterns` list, `tokens` (the node's total contribution
    * incl. its appends), `cum_tokens` (context size at its add event) and
    * `rank`.
    */
  def budgetedAssemble(queryResults: Seq[DataFrame],
                       maxNodes: Int,
                       maxTokens: Long,
                       extraCols: Seq[String] = Nil,
                       patternRate: Double = 1.0,
                       tokenCount: Column => Column =
                         graft.functions.tokenCountEstimate): DataFrame = {
    val assembly = new Assembly(queryResults.head.sparkSession, maxNodes, maxTokens,
      "name" +: extraCols, tokenCount)
    assembly.run(queryResults, patternRate)
    assembly.result
  }

  /** The reference's retrieval loop and its state: the kept nodes in
    * insertion order and the formatted context's token count. Each [[run]]
    * is one phase over the same state — [[budgetedAssemble]] runs one,
    * `GraphRaft.retrieveData` runs the query phase and then the KNN
    * backfill (retriever.py:96-109). `carried` are the node properties the
    * context formats ("name" first); see [[budgetedAssemble]] for the rest. */
  private[graft] final class Assembly(spark: SparkSession, maxNodes: Int, maxTokens: Long,
                                      carried: Seq[String],
                                      tokenCount: Column => Column =
                                        graft.functions.tokenCountEstimate) {
    private final class Node(val first: Row, val rowOrder: Int, val cumTokens: Long) {
      val patterns = mutable.ArrayBuffer.empty[String]
      var tokens = 0L
    }
    private val nodes = mutable.LinkedHashMap.empty[Any, Node]
    private var context = 0L
    private var eventSchema: StructType = _
    // event row layout: query_rank, nodeId, carried…, similarity, pattern,
    // then the add, separated-add and append token counts
    private val simIdx = 2 + carried.length

    def nodeIds: Seq[Any] = nodes.keys.toSeq

    /** One phase: collect the events of `frames` (best first), pruned to
      * what the budget can consume at `rate` and to `limit` rows per frame,
      * then run the loop over them at `rate`. */
    def run(frames: Seq[DataFrame], rate: Double, limit: Int = Int.MaxValue): Unit = {
      val prune = math.min(limit,
        (math.max(rate, 1.0) * math.min(maxNodes.toDouble, maxTokens.toDouble) + 1).toInt)
      // formatted-context marginals (additive tokenizer): an ADD contributes
      // the node's prop lines + its first pattern-list line (+ the "\n\n"
      // separator when not first — whitespace, free under the default
      // estimator but kept for formatter fidelity); an APPEND contributes
      // ", '<pattern>'". DELIBERATE DEVIATION: the reference appends the
      // one-element list itself (pattern.append(rec['pattern']),
      // retriever.py:83), so its Python repr grows by ", ['p']" — a nested
      // list that is almost certainly unintended there. We keep provenance a
      // flat string list (the shape every consumer wants) and charge the flat
      // repr; under the length/4 estimator the two dropped bracket chars can
      // shift one append's cost by at most one token.
      val nodeText = concat_ws("\n", carried.map(p =>
        when(col(p).isNotNull, concat(lit(s"$p: "), col(p).cast("string")))): _*)
      val addText = concat(nodeText, lit("\npattern: ['"), col("pattern"), lit("']"))
      val appendText = concat(lit(", '"), col("pattern"), lit("'"))
      def tokens(text: Column) = coalesce(tokenCount(text).cast("long"), lit(0L))
      val ranked = frames.zipWithIndex.map { case (df, i) =>
        // deterministic within-query order: similarity desc, nodeId tiebreak
        // (the rewritten queries ORDER BY similarity DESC, retriever.py:59)
        df.orderBy(col("similarity").desc, col("nodeId")).limit(prune)
          .select(Seq(lit(i).as("query_rank"), col("nodeId")) ++ carried.map(col) ++
            Seq(col("similarity"), col("pattern")): _*)
      }
      ranked.reduceOption(_ unionByName _).foreach { events =>
        val withTokens = events
          .orderBy(col("query_rank"), col("similarity").desc, col("nodeId"))
          .select(col("*"), tokens(addText), tokens(concat(lit("\n\n"), addText)),
            tokens(appendText))
        eventSchema = withTokens.schema
        loop(withTokens.collect(), rate)
      }
    }

    /** The loop: the first row for a node is an ADD, later ones APPENDs;
      * the stop check runs after every event; on stop the last-added node
      * is evicted and the phase ends. */
    private def loop(events: Array[Row], rate: Double): Unit = {
      var stop = false
      var (query, rowOrder) = (-1, 0)
      val it = events.iterator
      while (!stop && it.hasNext) {
        val e = it.next()
        rowOrder = if (e.getInt(0) == query) rowOrder + 1 else 1
        query = e.getInt(0)
        val isAdd = !nodes.contains(e.get(1))
        val cost = e.getLong(simIdx + (if (!isAdd) 4 else if (nodes.isEmpty) 2 else 3))
        context += cost
        val node = nodes.getOrElseUpdate(e.get(1), new Node(e, rowOrder, context))
        node.patterns += e.getString(simIdx + 1)
        node.tokens += cost
        // stop check after every event: len >= rate*max_nodes (only an add
        // can newly satisfy it) or formatted tokens >= rate*max_tokens.
        // DELIBERATE GENERALIZATION: the reference's stop_retrieval is modal —
        // count_tokens selects exactly ONE of the two checks (retriever.py:
        // 63-69) — so with both budgets finite we check a hybrid it never
        // exhibits. Callers wanting strict parity pass one budget and leave
        // the other at its infinite default (maxTokens=Long.MaxValue ⇒ node
        // mode; maxNodes=Int.MaxValue ⇒ token mode), which is what every
        // driver entry and the pipeline do.
        stop = context >= rate * maxTokens || (isAdd && nodes.size >= rate * maxNodes)
      }
      if (stop) {
        val (id, evicted) = nodes.last
        nodes -= id
        context -= evicted.tokens
      }
    }

    /** The kept nodes as one local DataFrame in rank order. */
    def result: DataFrame = {
      val f = eventSchema.fields
      val schema = StructType(Seq(f(1), StructField("query_rank", IntegerType),
          StructField("row_order", IntegerType)) ++ f.slice(2, simIdx + 1) ++ Seq(
        StructField("patterns", ArrayType(StringType)), StructField("tokens", LongType),
        StructField("cum_tokens", LongType), StructField("rank", LongType)))
      val rows = nodes.values.zipWithIndex.map { case (n, i) =>
        Row.fromSeq(Seq(n.first.get(1), n.first.getInt(0), n.rowOrder) ++
          (2 to simIdx).map(n.first.get) ++
          Seq(n.patterns.toList, n.tokens, n.cumTokens, i + 1L))
      }
      spark.createDataFrame(rows.toList.asJava, schema)
    }
  }

  /** A6 in its native array form (reference llm1.py:53-58 `sort_cyphers`):
    * sort the parallel arrays (cypher_queries, hits, num_results) of a
    * qa_with_cypher_queries row by (-hits, num_results) — zip to structs,
    * `array_sort` with a comparator lambda, all codegen-able built-ins.
    * Returns the sorted struct array with fields (q, h, n). */
  def sortCandidateArrays(queries: Column, hits: Column, numResults: Column): Column = {
    val zipped = zip_with(
      zip_with(queries, hits, (q, h) => struct(q.as("q"), h.as("h"))),
      numResults,
      (qh, n) => struct(qh.getField("q").as("q"), qh.getField("h").as("h"), n.as("n")))
    array_sort(zipped, (l, r) => {
      val (hl, hr) = (l.getField("h"), r.getField("h"))
      val (nl, nr) = (l.getField("n"), r.getField("n"))
      when(hl > hr, -1).when(hl < hr, 1)
        .when(nl < nr, -1).when(nl > nr, 1).otherwise(0)
    })
  }

  /** LLM2 context formatting (SURVEY §2.8; reference retriever.py:39-40 +
    * llm2.py:67-71): per node, "prop: value" lines joined by newline with
    * null values skipped; nodes joined by a blank line in retrieval order.
    * Returns a single-row DataFrame with the formatted context. */
  def formatContext(retrieved: DataFrame, props: Seq[String],
                    orderCol: String = "rank"): DataFrame = {
    val nodeText = concat_ws("\n",
      props.map(p => when(col(p).isNotNull,
        concat(lit(s"$p: "), col(p).cast("string")))): _*)
    retrieved
      .withColumn("__text", nodeText)
      .agg(concat_ws("\n\n",
        transform(array_sort(collect_list(struct(col(orderCol).as("o"),
          col("__text").as("t")))), s => s.getField("t"))).as("context"))
  }

  /** Answer-list round-trip: `'|'.join(names)` / `.split('|')`
    * (llm2.py:34,159). */
  def joinAnswers(names: Column): Column = concat_ws("|", names)
  def splitAnswers(s: Column): Column = split(s, "\\|")

  /** A6 + P7 — candidate ranking and the training-label quality gate
    * (reference llm1.py:53-66): per group, sort candidates by
    * (-hits, num_results, id) and keep the best; gate on
    * recall ≥ minRecall (hits covers all gold) and precision =
    * hits/num_results ≥ minPrecision.
    *
    * Input columns: groupCol, idCol, hits, num_results, gold_total.
    */
  def bestCandidates(df: DataFrame, groupCol: String, idCol: String,
                     minRecall: Double, minPrecision: Double): DataFrame = {
    val w = Window.partitionBy(col(groupCol))
      .orderBy(col("hits").desc, col("num_results"), col(idCol))
    df.withColumn("rn", row_number().over(w))
      .where(col("rn") === 1)
      .where(
        col("hits").cast("double") / nullif(col("gold_total").cast("double"), lit(0.0)) >= minRecall &&
        col("hits").cast("double") / nullif(col("num_results").cast("double"), lit(0.0)) >= minPrecision)
      .drop("rn")
  }

  /** T4 — deterministic rank-biased (power-law) sampling
    * (reference training/generate_training_data_llm2.ipynb cell 5:
    * inv_cdf = u**(1/alpha), alpha=0.1, n samples).
    * The uniform draw is derived from md5 so it is engine-portable and
    * seeded: u = int(md5(key:i)[0:6], 16) / 16^6. The power is computed by
    * repeated multiplication (`invAlpha` must be integral, e.g. 10 for
    * α=0.1) so both engines produce bit-identical doubles — libm `pow`
    * is not guaranteed identically rounded across implementations.
    */
  def powerLawIndex(key: Column, sampleNo: Column, invAlpha: Int, n: Column): Column = {
    val u = conv(substring(md5(concat(key.cast("string"), lit(":"), sampleNo.cast("string"))),
      1, 6), 16, 10).cast("double") / lit(16777216.0)
    val uPow = (1 until invAlpha).foldLeft(u)((acc, _) => acc * u)
    floor(uPow * n.cast("double")).cast("int")
  }

  /** T4 sampling WITHOUT replacement — the reference rejects ranks it has
    * already drawn (`if rank not in samples`,
    * training/generate_training_data_llm2.ipynb cell 5). The rejection loop
    * is unrolled deterministically: a fixed sequence of `attempts` draws per
    * key (md5 counter), keep the FIRST occurrence of each distinct index in
    * attempt order, take the first `nSamples` of those. Fully distributed:
    * per-key windows over ≤ `attempts` rows each.
    *
    * @param keyed one row per key with the candidate count.
    * @return (keyCol, nCol, sample_no: Int, idx: Int) — idx ∈ [0, n),
    *   distinct per key; fewer than nSamples rows when the attempt budget
    *   (or n itself) can't produce enough distinct indices. The reference
    *   loops until min(num_samples, max_idx) draws succeed; with α=0.1 the
    *   draw is heavily biased toward idx 0, so the default budget is sized
    *   at 128 — the per-attempt hit probability of a fresh index is ≥ the
    *   probability of leaving idx 0 (u^10 ≥ 1/n ⇔ u ≥ n^-0.1, e.g. ≈ 0.63
    *   for n=100), making 128 attempts overwhelmingly sufficient for small
    *   nSamples; keys that still under-fill surface as < nSamples rows.
    */
  def powerLawSampleIdx(keyed: DataFrame, keyCol: String, nCol: String,
                        nSamples: Int, invAlpha: Int,
                        attempts: Int = 128): DataFrame = {
    val att = keyed
      .select(col(keyCol), col(nCol),
        explode(array((0 until attempts).map(lit): _*)).as("attempt"))
      .withColumn("idx", powerLawIndex(col(keyCol), col("attempt"), invAlpha, col(nCol)))
    val firstPerIdx = Window.partitionBy(col(keyCol), col("idx")).orderBy(col("attempt"))
    val firstsOrder = Window.partitionBy(col(keyCol)).orderBy(col("attempt"))
    att
      .withColumn("occ", row_number().over(firstPerIdx))
      .where(col("occ") === 1)
      .withColumn("sample_no", row_number().over(firstsOrder) - 1)
      .where(col("sample_no") < nSamples)
      .select(col(keyCol), col(nCol), col("sample_no"), col("idx"))
  }
}
