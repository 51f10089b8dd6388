package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.graph.TpchGraph
import graft.operators._

/** The driver-facing query catalog: one entry per implemented operator from
  * SURVEY.md §2 (plus the training-data-pipeline operators). Each function
  * takes (spark, sfDir) and must produce EXACTLY the schema of its oracle in
  * [[OracleSqls.all]] — same column names, deterministic values.
  */
object Queries {

  private def T(spark: SparkSession, dir: String, name: String): DataFrame =
    spark.read.parquet(s"$dir/$name.parquet")

  private def graph(spark: SparkSession, dir: String) = {
    graft.functions.registerAll(spark)
    TpchGraph(spark, dir)
  }

  /** Driver hash surface for entity-shaped results: serialize every
    * STRUCT/MAP output column to its canonical compact JSON text (null
    * fields KEPT — the struct is already name-sorted at the planner, so
    * the bytes are deterministic). The driver's checker sorts rows
    * across ALL columns with pandas before hashing, and a dict-valued
    * cell is unhashable there (CORRECTNESS_r14: cy_return_node /
    * cy_return_star err) — JSON text sorts fine and the DuckDB oracle
    * replays the SAME bytes via to_json(struct_pack(...)). A NULL
    * entity (unmatched OPTIONAL) serializes to SQL NULL on both
    * engines. Struct semantics stay in the planner and its specs; only
    * the catalog hash surface is text. */
  private def jsonSurface(df: DataFrame): DataFrame = {
    import org.apache.spark.sql.types._
    // the same recursive definition as PlanAuditSpec's unhashable():
    // an array-of-entity column (collect(n)/collect(r)) is just as
    // dict-bearing to pandas as a bare struct — serialize it too
    def unhashable(dt: DataType): Boolean = dt match {
      case _: StructType | _: MapType => true
      case ArrayType(et, _)           => unhashable(et)
      case _                          => false
    }
    df.select(df.schema.fields.map { f =>
      if (unhashable(f.dataType))
        to_json(col(f.name), Map("ignoreNullFields" -> "false")).as(f.name)
      else col(f.name)
    }.toIndexedSeq: _*)
  }

  // ---- TPC-H-style relational baselines (S5, P1, A-family, T1/T2) ----

  /** Pricing-summary scan+agg: map-side partial aggregation, no join. */
  def q1PricingSummary(spark: SparkSession, dir: String): DataFrame =
    T(spark, dir, "lineitem")
      .groupBy("l_returnflag", "l_linestatus")
      .agg(
        round(sum("l_quantity"), 2).as("sum_qty"),
        round(sum("l_extendedprice"), 2).as("sum_base_price"),
        round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2).as("sum_disc_price"),
        round(avg("l_quantity"), 4).as("avg_qty"),
        count(lit(1)).as("count_order"))

  /** Join + grouped agg + deterministic top-k (TakeOrderedAndProject). */
  def q2TopCustomers(spark: SparkSession, dir: String): DataFrame =
    T(spark, dir, "orders")
      .join(T(spark, dir, "customer"), col("o_custkey") === col("c_custkey"))
      .groupBy("c_custkey", "c_name")
      .agg(round(sum("o_totalprice"), 2).as("revenue"), count(lit(1)).as("n_orders"))
      .orderBy(col("revenue").desc, col("c_custkey"))
      .limit(10)

  /** Fact-to-dims join; dims are broadcast (supplier 100 rows, nation 25). */
  def q3RevenueByNation(spark: SparkSession, dir: String): DataFrame =
    T(spark, dir, "lineitem")
      .join(broadcast(T(spark, dir, "supplier")), col("l_suppkey") === col("s_suppkey"))
      .join(broadcast(T(spark, dir, "nation")), col("s_nationkey") === col("n_nationkey"))
      .groupBy(col("n_name").as("nation"))
      .agg(
        round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2).as("revenue"),
        count(lit(1)).as("n_items"))

  /** Set-operator coverage (INTERSECT/EXCEPT plan as joins): automobile-
    * segment customers vs big spenders — sizes of both sets, their
    * intersection, and the segment-only remainder. */
  def q4SetOps(spark: SparkSession, dir: String): DataFrame = {
    val auto = T(spark, dir, "customer")
      .where(col("c_mktsegment") === "AUTOMOBILE").select("c_custkey")
    val big = T(spark, dir, "orders")
      .where(col("o_totalprice") > 450000)
      .select(col("o_custkey").as("c_custkey")).distinct()
    auto.agg(count(lit(1)).as("n_auto"))
      .crossJoin(big.agg(count(lit(1)).as("n_big")))
      .crossJoin(auto.intersect(big).agg(count(lit(1)).as("n_both")))
      .crossJoin(auto.except(big).agg(count(lit(1)).as("n_auto_only")))
  }

  // ---- graph pattern matching (J2-J5, A1-A3, J7, P5, P6) ----

  def j2OneHop(spark: SparkSession, dir: String): DataFrame =
    Patterns.oneHop(graph(spark, dir), "Region", Seq("ASIA", "EUROPE"))

  private val bucketedPrefix = scala.collection.concurrent.TrieMap[String, String]()

  /** The bucketed-storage co-location path exercised on driver data
    * (SURVEY §4 physical notes; GraphStore): the graph is persisted ONCE per
    * JVM per sf dir as managed tables bucketed by nodeId/src — at 100 TB
    * this is the write-once layout that makes every later hop join
    * shuffle-free (asserted in GraphStoreSpec) — then read back for the
    * query. Bench warms this in LOAD so queries are timed against the
    * bucketed layout, not its one-time write. */
  private def bucketedGraph(spark: SparkSession, dir: String) = {
    graft.functions.registerAll(spark)
    val prefix = bucketedPrefix.getOrElseUpdate(dir, {
      val p = "graft_" + dir.replaceAll("[^A-Za-z0-9]+", "_").stripPrefix("_")
      graft.graph.GraphStore.writeBucketed(TpchGraph(spark, dir), p, buckets = 32)
      p
    })
    graft.graph.GraphStore.readBucketed(spark, prefix)
  }

  /** J2 over the bucketed tables — must hash-match the unbucketed oracle. */
  def j2OneHopBucketed(spark: SparkSession, dir: String): DataFrame =
    Patterns.oneHop(bucketedGraph(spark, dir), "Region", Seq("ASIA", "EUROPE"))

  /** Bench LOAD-stage hook: force the one-time bucketed writes (graph
    * tables + adjacency) — only the writes, never a discarded BFS run. */
  def warmBucketed(spark: SparkSession, dir: String): Unit = {
    bucketedGraph(spark, dir)
    ensureBucketedAdj(spark, dir)
  }

  def j3TwoHopSchema(spark: SparkSession, dir: String): DataFrame =
    Patterns.twoHop(graph(spark, dir), "Region", Seq("AMERICA"))
      .groupBy("rel1_type", "rel2_type", "tgt_label")
      .agg(count_distinct(col("tgt_id")).as("total_cnt"))

  def j4TwoPath(spark: SparkSession, dir: String): DataFrame =
    Patterns.twoPath(graph(spark, dir), "Part", Seq("red widget"), "Part", Seq("blue bolt"))
      .distinct()

  def j5Concrete2Hop(spark: SparkSession, dir: String): DataFrame =
    Patterns.concreteTwoHop(graph(spark, dir),
      "Nation", "NATION_5", "FROM_NATION", "Customer", "PLACED", "Order")

  def a1SchemaSummary(spark: SparkSession, dir: String): DataFrame =
    Patterns.schemaSummary1Hop(graph(spark, dir), "Nation",
      (0 to 4).map(i => s"NATION_$i"))

  def a2SchemaSupervised(spark: SparkSession, dir: String): DataFrame =
    Patterns.schemaSummary1HopSupervised(graph(spark, dir), "Nation",
      (0 to 4).map(i => s"NATION_$i"),
      (1L to 200L).map(_ + TpchGraph.CustomerBase))

  def j7IdLookup(spark: SparkSession, dir: String): DataFrame =
    Patterns.lookupByIds(graph(spark, dir),
      Seq(1000000000L, 2000000003L, 3000000010L, 5000000007L))

  /** P5 — anti-membership as a left_anti join against the found-ids set
    * (`WHERE NOT node.nodeId IN $foundNodeIds`, retrieval/retriever.py:16). */
  def p5AntiMembership(spark: SparkSession, dir: String): DataFrame = {
    val g = graph(spark, dir)
    val exclude = spark.range(TpchGraph.CustomerBase, TpchGraph.CustomerBase + 100)
      .select(col("id").as("tgt_id"))
    Patterns.oneHop(g, "Nation", Seq("NATION_3"))
      .join(broadcast(exclude), Seq("tgt_id"), "left_anti")
      .select(col("tgt_id").as("node_id"), col("tgt_label").as("label"),
        col("tgt_name").as("name"))
      .distinct()
  }

  /** P6 — normalized fulltext-exact lookup (lower + Unicode NFC,
    * retrieval/ner.py:111-114). */
  def p6NormLookup(spark: SparkSession, dir: String): DataFrame = {
    val g = graph(spark, dir)
    g.nodes
      .where(graft.functions.normName(col("name")) ===
        graft.functions.normName(lit("NaTiOn_7")))
      .select(col("nodeId").as("node_id"), col("name"))
  }

  /** V5 — label-scoped exact entity lookup as one job (the per-label
    * fulltext index semantics of retrieval/ner.py:99,111-114): the same
    * mention resolves only within its NER label; `_Entity_` scopes to all. */
  def v5LabelLookup(spark: SparkSession, dir: String): DataFrame =
    graft.pipeline.GraphRaft.labelScopedLookup(graph(spark, dir), Seq(
      "Nation" -> "NaTiOn_7",             // exact within label (NFC + lower)
      "Customer" -> "NaTiOn_7",           // same mention, wrong label → no row
      "_Entity_" -> "nation_7",           // catch-all label matches any label
      "Part" -> "RED WIDGET",
      "_Entity_" -> "customer#000000042"))

  /** V3 — the batched label-scoped KNN fallback of entity matching
    * (ner.py:104-107,117-120): best node name per mention embedding, the
    * mention's label scoping the candidate set (`_Entity_` = all). Mention
    * embeddings are driver-side parameters like the reference's encoded
    * strings. Output carries no floats (m_id, name), so the raw-similarity
    * ordering inside is safely oracle-checkable. */
  def v3KnnFallback(spark: SparkSession, dir: String): DataFrame = {
    val g = graph(spark, dir)
    import spark.implicits._
    def vec(id: Long): Seq[Double] =
      T(spark, dir, "embeddings").where(col("vec_id") === id)
        .select(col("embedding").cast("array<double>")).head().getSeq[Double](0)
    val mentions = Seq(
      (0, "Part", vec(1)),        // scoped to Part nodes
      (1, "_Entity_", vec(2)),    // catch-all label
      (2, "Customer", vec(3)))    // no Customer has an embedding → no row
      .toDF("m_id", "m_label", "q_emb")
    graft.pipeline.GraphRaft.labelScopedKnnBest(g, mentions)
  }

  // ---- vector similarity / KNN (V1-V2, ANN) ----

  private val qvecCache = scala.collection.concurrent.TrieMap[String, List[Double]]()

  /** Query vector = embedding of vec_id 0, fetched once per sf dir (a tiny
    * driver-side parameter lookup, like the reference's question embedding
    * arriving from outside — graphraft.py:43). */
  private def queryVec(spark: SparkSession, dir: String): List[Double] =
    qvecCache.getOrElseUpdate(dir,
      T(spark, dir, "embeddings").where(col("vec_id") === 0)
        .select(col("embedding").cast("array<double>"))
        .head().getSeq[Double](0).toList)

  /** V1/T1/T2 — exact cosine top-k, excluding the query row. */
  def v1CosineTopK(spark: SparkSession, dir: String): DataFrame =
    Vectors.bruteForceTopK(T(spark, dir, "embeddings"), "vec_id", "embedding",
      queryVec(spark, dir), 20, exclude = Seq(0L))

  /** V2 — KNN with exclusion of already-found ids
    * (retrieval/retriever.py:14-17). */
  def v2KnnExclude(spark: SparkSession, dir: String): DataFrame =
    Vectors.bruteForceTopK(T(spark, dir, "embeddings"), "vec_id", "embedding",
      queryVec(spark, dir), 20, exclude = 0L to 49L)

  /** Filtered vector search — the metadata-predicate + top-k compose
    * every vector store ships (pre-filter, then exact rank): the filter
    * pushes into the scan BEFORE any similarity work, so selective
    * predicates cut the distance computations proportionally — the
    * 100 TB reason pre-filtering beats post-filtering a larger page. */
  def vFilteredTopK(spark: SparkSession, dir: String): DataFrame =
    Vectors.bruteForceTopK(
      T(spark, dir, "embeddings").where(col("label") % 2 === 0),
      "vec_id", "embedding", queryVec(spark, dir), 20, exclude = Seq(0L))

  /** Hard negatives: top-3 most-similar different-label rows per anchor,
    * candidates pruned by shared 4-bit LSH bucket. */
  def embHardNegatives(spark: SparkSession, dir: String): DataFrame =
    Vectors.hardNegatives(T(spark, dir, "embeddings"), "vec_id", "embedding",
      "label", anchorIds = 0L until 20L, bits = 4, k = 3)

  /** Sparse random projection 64 → 8 dims, integer micro-units — the
    * dimension-reduction pass a 100 TB embedding store runs before ANN. */
  def embRandomProjection(spark: SparkSession, dir: String): DataFrame =
    Vectors.randomProjection(T(spark, dir, "embeddings"), "vec_id",
      "embedding", dIn = 64, dOut = 8)

  /** MMR diversity re-rank: greedy λ=0.7 selection of 5 from the exact
    * top-20 relevance page — the RAG second stage over a bounded pool. */
  def mmrRerankQ(spark: SparkSession, dir: String): DataFrame =
    Vectors.mmrRerank(T(spark, dir, "embeddings"), "vec_id", "embedding",
      queryVec(spark, dir), poolSize = 20, k = 5, lambdaTenths = 7,
      exclude = Seq(0L))

  /** ANN — sign-bit LSH bucket search with Hamming-2 multi-probe (the
    * 100 TB path: bucket id becomes a partition key for pruning; the probe
    * set is a static 11-bucket IN list). Radius 2 is what holds the 0.9
    * recall floor at bits=4 (radius 1 measured 0.7 on the driver
    * embeddings); at scale you raise `bits` WITH the radius — e.g. bits=16,
    * radius 2 probes 137 of 65536 buckets (0.2% of the data) — so the
    * recall/pruning trade is a parameter, not a rewrite. */
  def annLshTopK(spark: SparkSession, dir: String): DataFrame =
    lshOn(T(spark, dir, "embeddings"), queryVec(spark, dir))

  // The ANN method parameterizations, shared verbatim between the
  // standalone catalog entries and ann_recall_report (r17): the report
  // passes ONE lazily-checkpointed embeddings frame through these, so its
  // plan carries a single embeddings scan instead of one per method, and
  // parameters cannot drift between the report and the entries it audits.
  private def lshOn(emb: DataFrame, qv: List[Double]): DataFrame =
    Vectors.lshTopK(emb, "vec_id", "embedding", qv, 10,
      bits = 4, probeRadius = 2)
  private def ivfOn(emb: DataFrame, qv: List[Double]): DataFrame =
    Vectors.ivfTopK(emb, "vec_id", "embedding", qv, 10,
      nCentroids = 8, nProbe = 2)
  private def ivfKmeansOn(emb: DataFrame, qv: List[Double]): DataFrame =
    Vectors.ivfKmeansTopK(emb, "vec_id", "embedding", qv, 10,
      nCentroids = 8, nProbe = 2, lloydIters = 2)
  private def pqOn(emb: DataFrame, qv: List[Double]): DataFrame =
    Vectors.pqTopK(emb, "vec_id", "embedding", qv, k = 10, m = 8,
      kCodes = 16, lloydIters = 1, ef = 200)
  private def ivfPqOn(emb: DataFrame, qv: List[Double]): DataFrame =
    Vectors.ivfPqTopK(emb, "vec_id", "embedding", qv, k = 10, nCells = 8,
      nProbe = 3, m = 8, kCodes = 16, lloydIters = 1, ef = 100)
  private def sq8On(emb: DataFrame, qv: List[Double]): DataFrame =
    Vectors.sq8TopK(emb, "vec_id", "embedding", qv, k = 10, ef = 50)

  /** Recall@10 of every ANN path against the exact brute-force top-10 —
    * the report that catches silent recall collapse, which per-method
    * hash-exactness cannot (each method can be oracle-exact AND useless).
    * Both engines compute the same deterministic sets, so the recall
    * fractions are hash-comparable. */
  def annRecallReport(spark: SparkSession, dir: String): DataFrame = {
    // ONE embeddings scan feeds the brute-force reference and all six ANN
    // pipelines (r17, guide §2.4): the local checkpoint leafs the scan
    // into a single shared RDD, where each method used to re-plan its own
    // parquet read (and the kmeans/codebook trainers re-planned it again
    // inside). The checkpoint is released by the caller (in the harnesses,
    // `Bench.release`). Methods go through the shared *On
    // parameterizations, so the report stays row-identical to the
    // standalone entries.
    val emb = T(spark, dir, "embeddings").localCheckpoint(false)
    val qv = queryVec(spark, dir)
    val bf = Vectors.bruteForceTopK(emb, "vec_id",
      "embedding", qv, 10).select(col("vec_id"))
    val methods: Seq[(String, DataFrame)] = Seq(
      "ivf" -> ivfOn(emb, qv),
      "ivf_kmeans" -> ivfKmeansOn(emb, qv),
      "ivfpq" -> ivfPqOn(emb, qv),
      "lsh" -> lshOn(emb, qv),
      "pq" -> pqOn(emb, qv),
      "sq8" -> sq8On(emb, qv))
    methods.map { case (name, df) =>
      df.select(col("vec_id")).join(bf, "vec_id")
        .agg(round(count(lit(1)).cast("double") / 10.0, 6).as("recall"))
        .select(lit(name).as("method"), col("recall"))
    }.reduce(_ unionByName _).orderBy("method")
  }

  /** Matryoshka truncation: recall@10 at prefix widths 8/16/32/64. */
  def embMatryoshkaRecall(spark: SparkSession, dir: String): DataFrame =
    Vectors.matryoshkaRecall(T(spark, dir, "embeddings"), "vec_id",
      "embedding", queryVec(spark, dir), 10, dims = Seq(8, 16, 32, 64))

  /** Embedding-cosine near-duplicate pairs via LSH bucket join. */
  def annNearDupPairs(spark: SparkSession, dir: String): DataFrame =
    Vectors.nearDupPairs(T(spark, dir, "embeddings"), "vec_id", "embedding",
      bits = 4, threshold = 0.35)

  /** Bitext-shaped mining: each vector's best partner with a DIFFERENT
    * label (cross-language/cross-source positive candidates). */
  def embCrossGroupPairs(spark: SparkSession, dir: String): DataFrame =
    Vectors.crossGroupPairs(T(spark, dir, "embeddings"), "vec_id",
      "embedding", "label", bits = 4, threshold = 0.3)

  /** Cross-document duplicated-substring coverage (8-token spans). */
  def dedupSubstringSpans(spark: SparkSession, dir: String): DataFrame =
    Dedup.dupSpanStats(T(spark, dir, "documents"), "doc_id", "text", n = 8)

  /** IVF coarse-quantization ANN: 8 centroids, probe the 2 nearest. */
  def annIvfTopK(spark: SparkSession, dir: String): DataFrame =
    ivfOn(T(spark, dir, "embeddings"), queryVec(spark, dir))

  private val ivfStorePath = scala.collection.concurrent.TrieMap[String, String]()

  /** IVF through the PARTITION-PRUNED store: same cells/params as
    * `ann_ivf_topk` (and the same oracle), but the probe reads only the
    * nProbe hive partitions — written once per JVM per sf dir, warmed in
    * Bench LOAD like the bucketed graph. */
  def annIvfPruned(spark: SparkSession, dir: String): DataFrame = {
    val path = ivfStorePath.getOrElseUpdate(dir, {
      val p = s"/tmp/graft_ivf_${dir.replaceAll("[^A-Za-z0-9]+", "_")}"
      graft.sources.VectorStore.writeIvf(T(spark, dir, "embeddings"),
        "vec_id", "embedding", nCentroids = 8, path = p)
      p
    })
    graft.sources.VectorStore.probeIvf(spark, path, "vec_id",
      queryVec(spark, dir), k = 10, nProbe = 2)
  }

  /** IVF through the store with KMEANS-trained cells: the on-disk hive
    * partitioning is laid out by the same 2-round Lloyd centroids as
    * `ann_ivf_kmeans` (balanced cell occupancy vs the seed layout), and
    * the probe reads only the nProbe directories — same oracle as the
    * unpartitioned kmeans path, so layout-vs-compute parity is hash-checked. */
  def annIvfStoreKmeans(spark: SparkSession, dir: String): DataFrame = {
    val path = ivfStorePath.getOrElseUpdate(dir + "#kmeans", {
      val p = s"/tmp/graft_ivfk_${dir.replaceAll("[^A-Za-z0-9]+", "_")}"
      graft.sources.VectorStore.writeIvf(T(spark, dir, "embeddings"),
        "vec_id", "embedding", nCentroids = 8, path = p, lloydIters = 2)
      p
    })
    graft.sources.VectorStore.probeIvf(spark, path, "vec_id",
      queryVec(spark, dir), k = 10, nProbe = 2)
  }

  /** IVF store REBALANCE: a seed-layout store (skewed occupancy by
    * construction — first-n-by-id seeds ignore cluster structure) is
    * split-rebalanced (hot cells > 1.1× mean occupancy recenter into two
    * via in-cell 2-means, only affected partitions rewritten), then
    * FULL-probed. Full probe = exact brute-force top-k, so the oracle is
    * the plain cosine ranking — the hash gate proves the rebalance moved
    * files without losing, duplicating, or corrupting a single vector. */
  def annIvfRebalance(spark: SparkSession, dir: String): DataFrame = {
    val path = ivfStorePath.getOrElseUpdate(dir + "#rebal", {
      val p = s"/tmp/graft_ivfr_${dir.replaceAll("[^A-Za-z0-9]+", "_")}"
      graft.sources.VectorStore.writeIvf(T(spark, dir, "embeddings"),
        "vec_id", "embedding", nCentroids = 4, path = p)
      graft.sources.VectorStore.rebalanceIvf(spark, p, maxRatio = 1.1,
        lloydIters = 2)
      p
    })
    graft.sources.VectorStore.probeIvf(spark, path, "vec_id",
      queryVec(spark, dir), k = 10, nProbe = 64)
  }

  /** Full IVF retrain lifecycle: a frozen-seed v0 layout reclusters from
    * scratch into a versioned store (`<path>.v1` + pointer flip — the
    * FAISS periodic-retrain step for globally-drifted data;
    * `Profile.driftReport` is the trigger signal). The probe reads
    * through the version pointer; full-probe results are exact, so the
    * oracle is brute force — proving retrain preserved the vector set. */
  def annIvfRetrain(spark: SparkSession, dir: String): DataFrame = {
    val path = ivfStorePath.getOrElseUpdate(dir + "#retrain", {
      val p = s"/tmp/graft_ivft_${dir.replaceAll("[^A-Za-z0-9]+", "_")}"
      graft.sources.VectorStore.writeIvf(T(spark, dir, "embeddings"),
        "vec_id", "embedding", nCentroids = 4, path = p)
      graft.sources.VectorStore.retrainIvf(spark, p, nCentroids = 8,
        lloydIters = 2)
      p
    })
    graft.sources.VectorStore.probeIvf(spark, path, "vec_id",
      queryVec(spark, dir), k = 10, nProbe = 64)
  }

  /** IVF with k-means-trained centroids (2 unrolled Lloyd iterations). */
  /** Mean-centered cosine top-10 from the vec-0 query (anisotropy-
    * corrected retrieval). */
  def embCenteredTopK(spark: SparkSession, dir: String): DataFrame =
    Vectors.centeredTopK(T(spark, dir, "embeddings"), "vec_id", "embedding",
      queryId = 0L, k = 10)

  /** All-but-the-top de-biased retrieval: centering PLUS top-principal-
    * direction removal before cosine top-10. */
  def embAbttTopK(spark: SparkSession, dir: String): DataFrame =
    Vectors.abttTopK(T(spark, dir, "embeddings"), "vec_id", "embedding",
      queryId = 0L, k = 10, iters = 3)

  /** Per-centroid balance + angular inertia of the trained IVF layout
    * (same trainer settings as ann_ivf_kmeans). */
  def annKmeansQuality(spark: SparkSession, dir: String): DataFrame =
    Vectors.kmeansQualityReport(T(spark, dir, "embeddings"), "vec_id",
      "embedding", nCentroids = 8, lloydIters = 2)

  def annIvfKmeans(spark: SparkSession, dir: String): DataFrame =
    ivfKmeansOn(T(spark, dir, "embeddings"), queryVec(spark, dir))

  /** Product-quantization ANN: 8×8-dim subspaces, 16-entry codebooks
    * (1 Lloyd step), ADC candidate scoring, exact cosine re-rank over an
    * ef=200 candidate pool. m/kCodes/ef are sized for recall ≥ 0.9 on the
    * driver embeddings (see ann_recall_report; synthetic near-uniform
    * vectors are PQ's worst case — finer subspaces buy far more recall
    * than a larger re-rank pool). */
  def annPqTopK(spark: SparkSession, dir: String): DataFrame =
    pqOn(T(spark, dir, "embeddings"), queryVec(spark, dir))

  /** IVF-PQ residual encoding (FAISS `IndexIVFPQ` composition) — coarse
    * pruning AND code compression in one index. */
  def annIvfPqTopK(spark: SparkSession, dir: String): DataFrame =
    ivfPqOn(T(spark, dir, "embeddings"), queryVec(spark, dir))

  // ---- graph analytics ----

  /** Undirected degree histogram — pure DataFrame plan (one groupBy over
    * the bidirected view; map-side combine). The GraphX `degrees` parity is
    * asserted in GraphXSpec; materializing a GraphX graph for a single
    * aggregate would be the wrong plan at any scale. */
  def degreeHistogram(spark: SparkSession, dir: String): DataFrame =
    graph(spark, dir).bidir
      .groupBy(col("a"))
      .agg(count(lit(1)).as("degree"))
      .groupBy(col("degree"))
      .agg(count(lit(1)).as("n_nodes"))

  /** PageRank — iterative (GraphX); oracle = unrolled power-iteration CTEs
    * ([[OracleSqls]] `pageRankSql`), value-exact after 4-decimal rounding. */
  def gxPageRankTopK(spark: SparkSession, dir: String): DataFrame =
    graft.graph.GraphXBridge.pageRankTopK(spark, graph(spark, dir), 20)

  /** Connected components summarized as a component-size histogram
    * (GraphX CC — iterative, the data-quality probe at ingest). Oracle =
    * unrolled min-label propagation ([[OracleSqls]] `componentsSql`). */
  def gxComponents(spark: SparkSession, dir: String): DataFrame =
    graft.graph.GraphXBridge.componentSizes(spark, graph(spark, dir))

  /** k-core decomposition (k=3, 6 peeling rounds — fixed point on driver
    * data is asserted in PatternsSpec): per-label core membership. */
  def graphKcore(spark: SparkSession, dir: String): DataFrame =
    graft.graph.GraphAlgorithms.kCoreSizes(graph(spark, dir), k = 3, iters = 6)

  /** Top-20 predicted links by neighborhood scores (hub-capped wedges). */
  def graphLinkPred(spark: SparkSession, dir: String): DataFrame =
    graft.graph.GraphAlgorithms.linkPredictionTopK(graph(spark, dir),
      maxHubDeg = 32, k = 20)

  /** Derandomized DeepWalk corpus (3 steps): per-step transition stats. */
  def graphWalks(spark: SparkSession, dir: String): DataFrame =
    graft.graph.GraphAlgorithms.deterministicWalks(graph(spark, dir), steps = 3)

  /** Skip-gram (center, context) pairs from the derandomized walks,
    * rolled up as a multiplicity histogram with id checksums. */
  def graphSkipgrams(spark: SparkSession, dir: String): DataFrame =
    graft.graph.GraphAlgorithms.skipGramPairs(graph(spark, dir),
        steps = 3, window = 2)
      .groupBy("n_pairs")
      .agg(count(lit(1)).as("n_distinct_pairs"),
        sum(col("center")).as("sum_center"),
        sum(col("context")).as("sum_context"))
      .orderBy("n_pairs")

  /** Deterministic synchronous label propagation (3 rounds): community-size
    * histogram over the TPC-H graph. */
  def graphLpa(spark: SparkSession, dir: String): DataFrame =
    graft.graph.GraphAlgorithms.labelPropagationSizes(graph(spark, dir), iters = 3)

  /** Degree assortativity of the TPC-H graph (exact moments + rounded r). */
  def graphAssortativity(spark: SparkSession, dir: String): DataFrame =
    graft.graph.GraphAlgorithms.degreeAssortativity(graph(spark, dir))

  /** Harmonic centrality of the ASIA anchor (6 BFS rounds, micro-units). */
  def graphHarmonic(spark: SparkSession, dir: String): DataFrame =
    graft.graph.GraphAlgorithms.harmonicCentrality(graph(spark, dir),
      "Region", Seq("ASIA"), iters = 6)

  /** HITS hubs/authorities (3 rounds, integer micro-units): top-20 by
    * authority over the TPC-H graph. */
  def graphHits(spark: SparkSession, dir: String): DataFrame =
    graft.graph.GraphAlgorithms.hits(graph(spark, dir), iters = 3, k = 20)

  /** Sparse personalized PageRank seeded at the ASIA region (the graph-RAG
    * walk-based retrieval ranker). */
  def graphPpr(spark: SparkSession, dir: String): DataFrame =
    graft.graph.GraphAlgorithms.personalizedPageRank(graph(spark, dir),
      "Region", Seq("ASIA"), iters = 5, k = 20)

  /** Degree-oriented triangle counting over a derived co-occurrence graph:
    * small parts (p_size <= 5) are connected when some order contains both —
    * the market-basket projection — then the triangles-per-node histogram.
    * Co-occurrence fanout is bounded by per-order line count (~7), and wedge
    * fanout by the degree orientation (GraphAlgorithms.triangleHistogram). */
  def graphTriangles(spark: SparkSession, dir: String): DataFrame =
    graft.graph.GraphAlgorithms.triangleHistogram(coocPairs(spark, dir))

  /** Shared small-part co-occurrence pair multiset — one row per
    * (order, unordered part pair a < b), duplicates across orders kept
    * (exactly the old `distinct (k,p)` self-join's output). r16 opt: the
    * pairs now come from ONE groupBy(order) + an in-array i<j expansion
    * over the per-order sorted part set (collect_set dedupes (k,p) for
    * free) instead of a distinct + self-join — two posting-scale
    * exchanges and the SMJ sort replaced by one exchange and a codegen'd
    * flatten/transform. Per-order fan-out is bounded by line count, so
    * the arrays stay tiny at any scale. */
  private def coocPairs(spark: SparkSession, dir: String): DataFrame = {
    val small = T(spark, dir, "part").where(col("p_size") <= 5)
      .select(col("p_partkey").as("p"))
    T(spark, dir, "lineitem")
      .select(col("l_orderkey").as("k"), col("l_partkey").as("p"))
      .join(small, Seq("p"), "left_semi")
      .groupBy("k").agg(sort_array(collect_set(col("p"))).as("ps"))
      .where(size(col("ps")) > 1)
      .select(explode(flatten(transform(col("ps"), (x, i) =>
        transform(slice(col("ps"), i + lit(2), size(col("ps"))),
          y => struct(x.as("a"), y.as("b")))))).as("e"))
      .select(col("e.a").as("a"), col("e.b").as("b"))
  }

  /** Jones–Plassmann coloring of the co-occurrence graph (8 rounds;
    * uncolored remainder reports as color −1). */
  def graphColoring(spark: SparkSession, dir: String): DataFrame =
    graft.graph.GraphAlgorithms.jonesPlassmannColors(coocPairs(spark, dir),
      iters = 8)

  /** Butterfly count over the order×part bipartite graph (small parts,
    * left-degree cap 20 mirrored in the oracle). */
  def graphButterflies(spark: SparkSession, dir: String): DataFrame = {
    val small = T(spark, dir, "part").where(col("p_size") <= 5)
      .select(col("p_partkey").as("p"))
    val li = T(spark, dir, "lineitem")
      .select(col("l_orderkey").as("l"), col("l_partkey").as("r"))
      .join(small, col("r") === col("p"), "left_semi")
    graft.graph.GraphAlgorithms.butterflyStats(li, maxLeftDeg = 20)
  }

  /** Greedy maximal matching over the co-occurrence graph (8 handshake
    * rounds — reaches maximality on this data, n_live_edges = 0). */
  def graphMatching(spark: SparkSession, dir: String): DataFrame =
    graft.graph.GraphAlgorithms.greedyMatching(coocPairs(spark, dir),
      iters = 8)

  /** Luby-style maximal independent set over the co-occurrence graph
    * (8 derandomized priority rounds — reaches maximality on this data,
    * n_undecided = 0). */
  def graphMis(spark: SparkSession, dir: String): DataFrame =
    graft.graph.GraphAlgorithms.lubyMis(coocPairs(spark, dir), iters = 8)

  /** Local clustering-coefficient deciles over the same co-occurrence
    * graph (integer micro-unit cc per deg≥2 node). */
  def graphClustering(spark: SparkSession, dir: String): DataFrame =
    graft.graph.GraphAlgorithms.clusteringCoefficients(coocPairs(spark, dir))

  /** 4-truss of the small-part co-occurrence graph: every surviving edge
    * sits in >= 2 triangles among survivors (3 peel rounds + early exit,
    * mirrored by the oracle's full unroll via the identity-round law). */
  def graphKtruss(spark: SparkSession, dir: String): DataFrame =
    graft.graph.GraphAlgorithms.kTrussStats(coocPairs(spark, dir),
      k = 4, iters = 3)

  /** Modularity of the 3-round LPA partition (integer micro-units). */
  def graphModularity(spark: SparkSession, dir: String): DataFrame =
    graft.graph.GraphAlgorithms.modularityStats(graph(spark, dir), iters = 3)

  /** Sampled distance-bounded betweenness from the ASIA/EUROPE pivots:
    * 4-hop Brandes forward/backward in integer micro-units, top-20. */
  def graphBetweenness(spark: SparkSession, dir: String): DataFrame =
    graft.graph.GraphAlgorithms.betweennessTopK(graph(spark, dir), "Region",
      Seq("ASIA", "EUROPE"), iters = 4, k = 20)

  /** BFS distance layers from the ASIA region anchor over the undirected
    * property graph (6 unrolled rounds reach the fixed point — spec-checked;
    * the TPC-H graph has diameter <= 5 from any region). */
  def graphBfsDist(spark: SparkSession, dir: String): DataFrame =
    graft.graph.GraphAlgorithms.bfsLayers(graph(spark, dir), "Region",
      Seq("ASIA"), iters = 6)

  /** The adjPairs disk swap, demonstrated: the SAME BFS over the
    * disk-materialized bucketed adjacency ([[graft.graph.GraphStore
    * .writeBucketedAdj]]) instead of the session cache — one changed
    * argument, hash-identical output (this entry shares graph_bfs_dist's
    * oracle). Each round's frontier ⋈ adjacency join reads the bucketed
    * table with no exchange/sort on the adjacency side (plan-asserted in
    * GraphStoreSpec); the write is LOAD-stage, like the bucketed graph. */
  def graphBfsBucketed(spark: SparkSession, dir: String): DataFrame =
    graft.graph.GraphAlgorithms.bfsLayers(graph(spark, dir), "Region",
      Seq("ASIA"), iters = 6,
      adj = graft.graph.GraphStore.readBucketedAdj(spark,
        ensureBucketedAdj(spark, dir)))

  /** One-time adjacency materialization per sf dir — the LOAD-stage hook
    * ([[warmBucketed]]) forces ONLY this write, never the BFS itself. */
  private def ensureBucketedAdj(spark: SparkSession, dir: String): String =
    bucketedAdjPrefix.getOrElseUpdate(dir, {
      val p = "adj_" + dir.replaceAll("[^A-Za-z0-9]+", "_")
      graft.graph.GraphStore.writeBucketedAdj(TpchGraph(spark, dir), p,
        buckets = 32)
      p
    })

  private val bucketedAdjPrefix =
    scala.collection.concurrent.TrieMap[String, String]()

  /** FW-BW reachability partition from the min-id pivot over the DIRECTED
    * relationship edges — the distributed-SCC first step and the
    * catalog's directed-traversal coverage point. */
  def graphFwBw(spark: SparkSession, dir: String): DataFrame =
    graft.graph.GraphAlgorithms.fwBwPartition(
      graph(spark, dir).rels.select(col("src").as("a"), col("dst").as("b")),
      iters = 6)

  /** k-bounded SCC classification of the whole directed graph in one
    * pass (forward/backward min-label certificates; the multi-pivot
    * generalization of graph_fwbw). */
  def graphSccBounded(spark: SparkSession, dir: String): DataFrame =
    graft.graph.GraphAlgorithms.sccBoundedStats(
      graph(spark, dir).rels.select(col("src").as("a"), col("dst").as("b")),
      iters = 6)

  /** Per-pivot bounded eccentricity from three region anchors in one
    * src-keyed BFS pass; max(ecc) is the standard sampled diameter lower
    * bound. */
  def graphEccentricity(spark: SparkSession, dir: String): DataFrame =
    graft.graph.GraphAlgorithms.eccentricityEst(graph(spark, dir), "Region",
      Seq("ASIA", "EUROPE", "AFRICA"), iters = 6)

  /** Small-part co-occurrence edges weighted by affinity distance
    * (1e6 div co-order count — frequently co-bought parts are "close";
    * exact Long arithmetic). Shared by graph_sssp. */
  private def coocWeighted(spark: SparkSession, dir: String): DataFrame =
    coocPairs(spark, dir)
      .groupBy("a", "b").agg(count(lit(1)).as("cnt"))
      .select(col("a"), col("b"), expr("1000000 div cnt").as("w"))

  /** Bounded Bellman-Ford nearest parts by co-purchase affinity, from a
    * 3-anchor source set (the graph-RAG "distance from the query's
    * entities" shape — dist = min over anchors, each starting at 0). */
  def graphSssp(spark: SparkSession, dir: String): DataFrame = {
    val ew = coocWeighted(spark, dir)
    val anchors = ew.select(col("a"))
      .unionByName(ew.select(col("b").as("a")))
      .distinct().orderBy(col("a")).limit(3)
    graft.graph.GraphAlgorithms.ssspBounded(ew, iters = 4, k = 20,
      sources = Some(anchors))
  }

  /** S2 — the unique-nodeId constraint as a validation query. */
  def s2ConstraintCheck(spark: SparkSession, dir: String): DataFrame = {
    val g = graph(spark, dir)
    g.nodes.groupBy("nodeId").count().where(col("count") > 1)
      .agg(count(lit(1)).as("n_violations"))
  }

  /** A7 — corpus containment count (sum over per-row token filters, the
    * `sum('RETURN D' in x for …)` shape from nb llm2 cell 6). */
  def a7CorpusCount(spark: SparkSession, dir: String): DataFrame =
    T(spark, dir, "documents")
      .groupBy("lang")
      .agg(sum(size(filter(graft.functions.words(col("text")),
        w => w === "the"))).as("n_the"))

  // ---- budgeted retrieval (T3), ranking (A6/P7), sampling (T4), metrics (A5) ----

  /** The two ranked candidate queries shared by the T3 entries: one
    * customer's orders, then the parts in those orders. */
  private def t3Queries(spark: SparkSession, dir: String): Seq[DataFrame] = {
    val g = graph(spark, dir)
    val cust = "Customer#000000042"
    def sim(id: org.apache.spark.sql.Column) = (id % 1000).cast("double") / lit(1000.0)
    val qr1 = Patterns.oneHop(g, "Customer", Seq(cust))
      .where(col("rel_type") === "PLACED")
      .select(col("tgt_id").as("nodeId"), col("tgt_name").as("name"))
      .withColumn("similarity", sim(col("nodeId")))
      .withColumn("pattern", lit("q0:PLACED"))
    val qr2 = Patterns.concreteTwoHop(g, "Customer", cust, "PLACED", "Order", "CONTAINS", "Part")
      .select(col("tgt_id").as("nodeId"), col("tgt_name").as("name"))
      .withColumn("similarity", sim(col("nodeId")))
      .withColumn("pattern", lit("q1:PLACED,CONTAINS"))
    Seq(qr1, qr2)
  }

  private def t3Select(df: DataFrame): DataFrame =
    // provenance joined to a scalar: the driver compare treats array cells
    // poorly, and the reference formats patterns to text anyway
    df.select(col("nodeId").as("node_id"), col("name"), col("similarity"),
      concat_ws("|", col("patterns")).as("patterns"),
      col("rank"), col("tokens"), col("cum_tokens"))

  /** T3 — the reference's budgeted ranked retrieval
    * (retrieval/retriever.py:63-109): the exact event-level semantics —
    * token cost over the FORMATTED context (prop lines + the growing
    * pattern-list line, retriever.py:39-40,67-69), stop check after every
    * add/append, evict-last-added on overflow. max_nodes=20 is the
    * reference's inference budget (graphraft.py:37); the token budget is
    * set so it binds at sf0.01+ (exercises eviction). */
  def t3BudgetRetrieval(spark: SparkSession, dir: String): DataFrame =
    t3Select(Retrieval.budgetedAssemble(t3Queries(spark, dir),
      maxNodes = 20, maxTokens = 200L))

  /** T3 with the TOKENIZER-EXACT budget: the token column is counted by a
    * real BPE tokenizer (the fixed [[bpeMerges]] table through
    * [[TextOps.bpeTokenCount]]) instead of the heuristic estimate —
    * reproducing the reference's HF-tokenizer budget semantics
    * (retriever.py:67-69) in-engine. Same event-level assembly; only the
    * counting hook changes. Budget sized so eviction binds at sf0.01+. */
  def t3BudgetBpe(spark: SparkSession, dir: String): DataFrame =
    t3Select(Retrieval.budgetedAssemble(t3Queries(spark, dir),
      maxNodes = 20, maxTokens = 400L,
      tokenCount = TextOps.bpeTokenCount(bpeMerges)))

  /** T3 with pattern_rate (retriever.py:24,87): the query phase checks the
    * budget at rate 0.5, so it stops at half the node budget — leaving the
    * rest for the KNN backfill phase (which checks at rate 1). */
  def t3PatternRate(spark: SparkSession, dir: String): DataFrame =
    t3Select(Retrieval.budgetedAssemble(t3Queries(spark, dir),
      maxNodes = 20, maxTokens = 100000L, patternRate = 0.5))

  /** A5 — IR metric suite, macro-averaged (compute_metrics.py:3-64). Preds =
    * per-order top-10 parts by quantity; gold = discounted parts. */
  def a5IrMetrics(spark: SparkSession, dir: String): DataFrame = {
    val per = T(spark, dir, "lineitem")
      .groupBy("l_orderkey", "l_partkey")
      .agg(sum("l_quantity").as("q"), max("l_discount").as("d"))
    val arrays = per.groupBy("l_orderkey").agg(
      slice(transform(
        array_sort(collect_list(struct((-col("q")).as("nq"), col("l_partkey").as("pk")))),
        s => s.getField("pk")), 1, 10).as("preds"),
      sort_array(collect_list(when(col("d") > 0.05, col("l_partkey")))).as("labels"))
    Metrics.macroAvg(arrays, col("preds"), col("labels"))
  }

  /** Bootstrap CIs over the a5 question set — same preds/labels arrays,
    * 64 derandomized resamples, order-statistic interval. */
  def a5IrBootstrap(spark: SparkSession, dir: String): DataFrame = {
    val per = T(spark, dir, "lineitem")
      .groupBy("l_orderkey", "l_partkey")
      .agg(sum("l_quantity").as("q"), max("l_discount").as("d"))
    val arrays = per.groupBy("l_orderkey").agg(
      slice(transform(
        array_sort(collect_list(struct((-col("q")).as("nq"), col("l_partkey").as("pk")))),
        s => s.getField("pk")), 1, 10).as("preds"),
      sort_array(collect_list(when(col("d") > 0.05, col("l_partkey")))).as("labels"))
    Metrics.bootstrapCi(arrays, col("l_orderkey"), col("preds"),
      col("labels"), b = 64)
  }

  /** A6 + P7 — candidate ranking by (-hits, num_results) with the
    * recall/precision training gate (llm1.py:53-66). */
  def a6BestCandidate(spark: SparkSession, dir: String): DataFrame = {
    val lo = T(spark, dir, "lineitem")
      .join(T(spark, dir, "orders"), col("l_orderkey") === col("o_orderkey"))
    val per = lo.groupBy(col("o_custkey").as("custkey"), col("l_orderkey").as("orderkey"))
      .agg(
        count_distinct(when(col("l_discount") > 0.05, col("l_partkey"))).as("hits"),
        count_distinct(col("l_partkey")).as("num_results"))
    val gold = lo.where(col("l_discount") > 0.05)
      .groupBy(col("o_custkey").as("custkey"))
      .agg(count_distinct(col("l_partkey")).as("gold_total"))
    Retrieval.bestCandidates(per.join(gold, "custkey"), "custkey", "orderkey",
        minRecall = 0.5, minPrecision = 0.5)
      .select(col("custkey"), col("orderkey"), col("hits"),
        col("num_results"), col("gold_total"))
  }

  /** T4 — deterministic power-law rank sampling WITHOUT replacement
    * (nb llm2 cell 5, α=0.1: `if rank not in samples`): 3 distinct sampled
    * ranks per customer over their price-ranked orders. */
  def t4RankSampling(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val orders = T(spark, dir, "orders")
    val ranked = orders.select(
        col("o_custkey").as("custkey"), col("o_orderkey").as("orderkey"),
        row_number().over(Window.partitionBy("o_custkey")
          .orderBy(col("o_totalprice").desc, col("o_orderkey"))).as("rk"))
    val counts = orders.groupBy(col("o_custkey").as("custkey"))
      .agg(count(lit(1)).as("n"))
    val samples = Retrieval.powerLawSampleIdx(counts, "custkey", "n",
      nSamples = 3, invAlpha = 10)
    samples.join(ranked, samples("custkey") === ranked("custkey") &&
        ranked("rk") === samples("idx") + 1)
      .select(samples("custkey"), col("sample_no"), col("orderkey"))
  }

  /** Distributed LLM1 training-data generation end-to-end (SURVEY §3.2;
    * TrainingData): a synthetic QA frame built from driver data (one
    * question per nation, entities = the nation name, gold = its
    * customers), 1-hop candidate enumeration with supervision counts as
    * ONE job, then the best-label training gate (recall ≥ 1 ∧
    * precision ≥ 0.1, llm1.py:61-66). */
  def tdOnehopGate(spark: SparkSession, dir: String): DataFrame = {
    val g = graph(spark, dir)
    val qa = T(spark, dir, "customer").where(col("c_nationkey") <= 4)
      .groupBy(col("c_nationkey").cast("long").as("id"))
      .agg(collect_set(lit(TpchGraph.CustomerBase) + col("c_custkey")).as("answer_ids"))
      .withColumn("entities", array(concat(lit("NATION_"), col("id"))))
    val cands = graft.pipeline.TrainingData.oneHopCandidates(g, qa)
    graft.pipeline.TrainingData.bestLabelGate(cands, qa,
        minRecall = 1.0, minPrecision = 0.1)
      .select(col("id"), col("cypher_query"), col("hits"),
        col("num_results"), col("gold_total"))
  }

  /** 2-hop variant of [[tdOnehopGate]] with full trail semantics: gold =
    * each nation's ORDER node ids (reached via customer, the middle hop),
    * so the supervision count exercises the 2-hop target side. */
  def tdTwohop(spark: SparkSession, dir: String): DataFrame = {
    val g = graph(spark, dir)
    val qa = T(spark, dir, "orders")
      .join(T(spark, dir, "customer"), col("o_custkey") === col("c_custkey"))
      .where(col("c_nationkey") <= 2)
      .groupBy(col("c_nationkey").cast("long").as("id"))
      .agg(collect_set(lit(TpchGraph.OrderBase) + col("o_orderkey")).as("answer_ids"))
      .withColumn("entities", array(concat(lit("NATION_"), col("id"))))
    graft.pipeline.TrainingData.twoHopCandidates(g, qa)
      .select(col("id"), col("src_label"), col("src_name"), col("rel1_type"),
        col("mid_label"), col("rel2_type"), col("tgt_label"),
        col("num_results"), col("hits"), col("cypher_query"))
  }

  // ---- mini-Cypher parser + planner (M4: graft.cypher) ----

  /** The J5 template, but parsed from the literal Cypher string the
    * reference would emit (path_retriever.py:30-40) and planned through
    * graft.cypher — no string surgery, same result as [[j5Concrete2Hop]]. */
  def cyConcrete2Hop(spark: SparkSession, dir: String): DataFrame =
    graft.cypher.Planner.run(graph(spark, dir),
      """MATCH (x1:Nation {name: "NATION_5"})-[r1:FROM_NATION]-(x2:Customer)-[r2:PLACED]-(x3:Order)
        |RETURN DISTINCT x3.nodeId AS tgt_id, x3.name AS tgt_name""".stripMargin)

  /** The path-schema enumeration query (path_retriever.py:4-6) with UNWIND,
    * labels(), type() and count(DISTINCT), via parser+planner. */
  def cySchema1Hop(spark: SparkSession, dir: String): DataFrame =
    graft.cypher.Planner.run(graph(spark, dir),
      """UNWIND $src_names AS srcName
        |MATCH (src:Nation {name: srcName})-[r]-(tgt)
        |RETURN src.name AS src_name, type(r) AS rel_type,
        |       tgt.label AS tgt_label, count(DISTINCT tgt) AS total_cnt""".stripMargin,
      Map("src_names" -> (0 to 4).map(i => s"NATION_$i")))

  /** Id-list lookup + anti-membership (retriever.py:14-21), via parser. */
  def cyAntiLookup(spark: SparkSession, dir: String): DataFrame =
    graft.cypher.Planner.run(graph(spark, dir),
      """UNWIND $answerIds AS nodeId
        |MATCH (x:_Entity_ {nodeId: nodeId})-[r]-(y)
        |WHERE NOT y.nodeId IN $found
        |RETURN DISTINCT y.nodeId AS node_id, y.name AS name""".stripMargin,
      Map(
        "answerIds" -> Seq(TpchGraph.NationBase + 3),
        "found" -> (TpchGraph.CustomerBase to TpchGraph.CustomerBase + 99L)))

  /** T1/T2 through the Cypher surface: parsed ORDER BY + LIMIT planned as
    * TakeOrderedAndProject (no global sort). */
  def cyOrderedTopk(spark: SparkSession, dir: String): DataFrame =
    graft.cypher.Planner.run(graph(spark, dir),
      """MATCH (x:Nation {name: "NATION_3"})-[r:FROM_NATION]-(y:Customer)
        |RETURN DISTINCT y.nodeId AS node_id, y.name AS name
        |ORDER BY node_id DESC LIMIT 5""".stripMargin)

  /** WITH chaining (`MATCH … WITH … MATCH … RETURN`): nations of ASIA
    * carried across the projection barrier, re-bound by nodeId into a
    * second expansion, then Cypher's implicit grouping. Closes the
    * multi-clause grammar family of the reference's procedure-call
    * queries (retrieval/ner.py:112,117). */
  def cyWithChain(spark: SparkSession, dir: String): DataFrame =
    graft.cypher.Planner.run(graph(spark, dir),
      """MATCH (r0:Region {name: "ASIA"})-[e0:IN_REGION]-(n:Nation)
        |WITH n MATCH (n)-[e1:FROM_NATION]-(c:Customer)
        |RETURN n.name AS nation, count(DISTINCT c) AS n_customers""".stripMargin)

  /** The FULL_TEXT_QUERY shape (retrieval/ner.py:111-114): scalar WITH
    * projection, post-projection normalize(lower(…)) filter against a
    * parameter, bare-column RETURN. */
  def cyWithNormFilter(spark: SparkSession, dir: String): DataFrame =
    graft.cypher.Planner.run(graph(spark, dir),
      """MATCH (c:Customer)-[e:FROM_NATION]-(n:Nation)
        |WITH c.name AS cname, n.name AS nname
        |WHERE normalize(lower(nname)) = normalize(lower($country))
        |RETURN cname ORDER BY cname LIMIT 10""".stripMargin,
      Map("country" -> "NaTiOn_7"))

  /** WITH aggregation + HAVING-shaped WHERE: per-nation distinct-customer
    * counts computed AT the barrier, threshold-filtered, then the nation
    * binding (and the aggregate alias) carried into a second hop. */
  def cyWithAgg(spark: SparkSession, dir: String): DataFrame =
    graft.cypher.Planner.run(graph(spark, dir),
      """MATCH (n:Nation)-[e:FROM_NATION]-(c:Customer)
        |WITH n, count(DISTINCT c) AS n_cust WHERE n_cust >= 5
        |MATCH (n)-[e2:IN_REGION]-(r0:Region)
        |RETURN r0.name AS region, n.name AS nation, n_cust
        |ORDER BY nation""".stripMargin)

  /** WITH … ORDER BY / SKIP / LIMIT — the per-stage trim (top-k-per-group
    * family): nations ranked by distinct-customer count AT the barrier,
    * the top slice (after SKIP) carried into the region hop. Tie order is
    * the planner's documented convention: remaining atomic barrier columns,
    * name-sorted ascending (here label, name, nodeId) — mirrored by the
    * oracle. */
  def cyWithTopk(spark: SparkSession, dir: String): DataFrame =
    graft.cypher.Planner.run(graph(spark, dir),
      """MATCH (n:Nation)-[e:FROM_NATION]-(c:Customer)
        |WITH n, count(DISTINCT c) AS n_cust ORDER BY n_cust DESC SKIP 2 LIMIT 5
        |MATCH (n)-[e2:IN_REGION]-(r0:Region)
        |RETURN r0.name AS region, n.name AS nation, n_cust
        |ORDER BY nation""".stripMargin)

  /** OPTIONAL MATCH with Cypher's implicit grouping: per customer of one
    * nation, the distinct-order count — customers with NO orders are
    * preserved by the left-join semantics and count 0 (the aggregate
    * skips the null-extended rows), exactly Neo4j's behavior. */
  def cyOptionalMatch(spark: SparkSession, dir: String): DataFrame =
    graft.cypher.Planner.run(graph(spark, dir),
      """MATCH (n:Nation {name: "NATION_7"})-[e:FROM_NATION]-(c:Customer)
        |OPTIONAL MATCH (c)-[e2:PLACED]-(o:Order)
        |RETURN c.name AS name, count(DISTINCT o) AS n_orders
        |ORDER BY name""".stripMargin)

  /** OPTIONAL MATCH surfacing the null itself: every (customer, order)
    * pair of one nation with orderless customers present as (cust, NULL)
    * rows — the raw left-outer shape before any aggregate. */
  def cyOptionalNull(spark: SparkSession, dir: String): DataFrame =
    graft.cypher.Planner.run(graph(spark, dir),
      """MATCH (n:Nation {name: "NATION_7"})-[e:FROM_NATION]-(c:Customer)
        |OPTIONAL MATCH (c)-[e2:PLACED]-(o:Order)
        |RETURN DISTINCT c.nodeId AS cust_id, o.nodeId AS order_id""".stripMargin)

  /** Whole-entity projection of an OPTIONAL relationship (round 16 —
    * VERDICT r15 What's-missing #1): the full {dst, relType, src}
    * identity triple is carried through the null-extending join, so a
    * matched row projects the struct (JSON surface, like every entity
    * entry) and an orderless customer projects SQL NULL — and
    * `endNode(r)` resolves off the same carried ids via a LEFT endpoint
    * join, NULL on unmatched. */
  def cyOptionalRel(spark: SparkSession, dir: String): DataFrame =
    jsonSurface(graft.cypher.Planner.run(graph(spark, dir),
      """MATCH (n:Nation {name: "NATION_7"})-[e:FROM_NATION]-(c:Customer)
        |OPTIONAL MATCH (c)-[r:PLACED]-(o:Order)
        |RETURN c.nodeId AS cust_id, r AS rel, endNode(r).nodeId AS order_id"""
        .stripMargin))

  /** EXISTS pattern predicate, negated: parts NEVER ordered by one
    * customer — `NOT EXISTS { (p)-[:CONTAINS]-(:Order)-[:PLACED]-(c) }`
    * plans as a LEFT ANTI join against the pattern's DISTINCT part keys
    * (never a count, never a correlated subquery); the anchored customer
    * broadcasts into the pattern side, so the build side is the handful
    * of parts they DID order. */
  def cyExistsFilter(spark: SparkSession, dir: String): DataFrame =
    graft.cypher.Planner.run(graph(spark, dir),
      """MATCH (p:Part)
        |WHERE NOT EXISTS { (p)-[e1:CONTAINS]-(o:Order)-[e2:PLACED]-(c:Customer {name: "Customer#000000001"}) }
        |RETURN count(DISTINCT p) AS n_parts""".stripMargin)

  /** Cypher collect(DISTINCT x.prop) — the A4 provenance shape through
    * the dialect, mixed with count under one implicit grouping. The
    * unordered Cypher bag is canonicalized to a sorted distinct list on
    * both engines. */
  def cyCollect(spark: SparkSession, dir: String): DataFrame =
    graft.cypher.Planner.run(graph(spark, dir),
      """MATCH (r:Region)-[e:IN_REGION]-(n:Nation)
        |RETURN r.name AS region, collect(DISTINCT n.name) AS nations,
        |       count(DISTINCT n) AS n_nations""".stripMargin)
      // catalog convention: list columns flatten to a joined string for
      // the driver's hash surface (the list itself is spec-tested)
      .select(col("region"), array_join(col("nations"), "|").as("nations"),
        col("n_nations"))

  /** Cypher min/max property aggregates mixed with count under one
    * implicit grouping — Neo4j's extremum aggregates through the
    * dialect. */
  def cyMinMax(spark: SparkSession, dir: String): DataFrame =
    graft.cypher.Planner.run(graph(spark, dir),
      """MATCH (n:Nation)-[e:FROM_NATION]-(c:Customer)
        |RETURN n.name AS nation, min(c.name) AS first_customer,
        |       max(c.name) AS last_customer,
        |       count(DISTINCT c) AS n_customers""".stripMargin)

  /** RETURN-level pagination: ordered page 2 (SKIP 5 LIMIT 5) of one
    * nation's customers. */
  def cyPage(spark: SparkSession, dir: String): DataFrame =
    graft.cypher.Planner.run(graph(spark, dir),
      """MATCH (x:Nation {name: "NATION_3"})-[r:FROM_NATION]-(y:Customer)
        |RETURN y.name AS name ORDER BY name SKIP 5 LIMIT 5""".stripMargin)

  /** Parameterized paging (round 15): [[cyPage]]'s shape with `SKIP
    * $off LIMIT $k` — Neo4j's paging idiom; the counts resolve at plan
    * time so the trim is still ONE TakeOrderedAndProject, identical to
    * the literal spelling. */
  def cyPageParam(spark: SparkSession, dir: String): DataFrame =
    graft.cypher.Planner.run(graph(spark, dir),
      """MATCH (x:Nation {name: "NATION_3"})-[r:FROM_NATION]-(y:Customer)
        |RETURN y.name AS name ORDER BY name SKIP $off LIMIT $k""".stripMargin,
      Map("off" -> 5L, "k" -> 5L))

  /** Multi-key ORDER BY: count descending, ties broken by nation then
    * kind — fully deterministic top-10 with no hash-order dependence. */
  def cyMultiOrder(spark: SparkSession, dir: String): DataFrame =
    graft.cypher.Planner.run(graph(spark, dir),
      """MATCH (n:Nation)-[e:FROM_NATION]-(x)
        |RETURN n.name AS nation, x.label AS kind, count(DISTINCT x) AS n
        |ORDER BY n DESC, nation, kind LIMIT 10""".stripMargin)

  /** Cypher count(*) vs count(x): the row count keeps OPTIONAL MATCH's
    * null-extended rows while count(x) skips them — Neo4j's exact split
    * (25 nations, 5 in ASIA). */
  def cyCountRows(spark: SparkSession, dir: String): DataFrame =
    graft.cypher.Planner.run(graph(spark, dir),
      """MATCH (n:Nation)
        |OPTIONAL MATCH (n)-[e:IN_REGION]-(r:Region {name: "ASIA"})
        |RETURN count(*) AS n_nations, count(r) AS n_in_asia""".stripMargin)

  /** Cypher UNION: customers of NATION_7 ∪ customers of any ASIA nation
    * (the first part is a subset of the second — the cross-part DISTINCT
    * is what the entry verifies). Each part plans independently; Catalyst
    * sees one Union + HashAggregate(distinct). */
  def cyUnion(spark: SparkSession, dir: String): DataFrame =
    graft.cypher.Planner.run(graph(spark, dir),
      """MATCH (n:Nation {name: "NATION_7"})-[e:FROM_NATION]-(c:Customer) RETURN c.name AS name
        |UNION
        |MATCH (r:Region {name: "ASIA"})-[e1:IN_REGION]-(n:Nation)-[e2:FROM_NATION]-(c:Customer) RETURN c.name AS name""".stripMargin)

  /** Cypher UNION ALL of two per-part aggregates: one row per entity kind
    * linked FROM_NATION to NATION_7 — concatenation, never dedup. */
  def cyUnionAll(spark: SparkSession, dir: String): DataFrame =
    graft.cypher.Planner.run(graph(spark, dir),
      """MATCH (n:Nation {name: "NATION_7"})-[e:FROM_NATION]-(c:Customer) RETURN c.label AS kind, count(DISTINCT c) AS n
        |UNION ALL
        |MATCH (n:Nation {name: "NATION_7"})-[e:FROM_NATION]-(s:Supplier) RETURN s.label AS kind, count(DISTINCT s) AS n""".stripMargin)

  /** Relationship-type alternation: one hop over `:FROM_NATION|IN_REGION`
    * — the edge leg filters to EITHER type before the join (one isin
    * predicate pushed to the scan), Neo4j's `-[:A|B]-` semantics. */
  def cyRelTypes(spark: SparkSession, dir: String): DataFrame =
    graft.cypher.Planner.run(graph(spark, dir),
      """MATCH (n:Nation {name: "NATION_7"})-[e:FROM_NATION|IN_REGION]-(x)
        |RETURN x.label AS tgt_label, type(e) AS rel_type,
        |       count(DISTINCT x) AS n_nodes""".stripMargin)

  /** Cypher shortestPath: per-label histogram of MINIMUM hop distances
    * from the ASIA region within 3 hops. Planned on the frontier kernel
    * (first discovery = min distance,
    * [[graft.graph.GraphAlgorithms.srcKeyedMinDist]]) — never a path
    * enumeration, so the cost is O(rounds · frontier) where the
    * union-of-expansions form would be O(degree³). */
  def cyShortestPath(spark: SparkSession, dir: String): DataFrame =
    graft.cypher.Planner.run(graph(spark, dir),
      """MATCH p = shortestPath((s:Region {name: "ASIA"})-[*1..3]-(x))
        |RETURN x.label AS tgt_label, length(p) AS hops,
        |       count(DISTINCT x) AS n_nodes""".stripMargin)

  /** `relationships(p)` on a shortestPath (round 16 — VERDICT r15
    * What's-missing #2): the per-hop relType list derives from the SAME
    * min-predecessor walk that reconstructs `nodes(p)`, each hop taking
    * the MINIMUM relType among the pair's type-eligible edges — a
    * deterministic witness an oracle can replay. Over the typed org
    * hierarchy the structure forces the answer: NATION_3's own
    * suppliers sit one FROM_NATION hop away; same-region siblings'
    * suppliers route region-hub-and-back (IN_REGION|IN_REGION|
    * FROM_NATION). Flattened to the "|" string surface
    * ([[cyPathNodes]] convention). */
  def cyShortestRels(spark: SparkSession, dir: String): DataFrame =
    graft.cypher.Planner.run(graph(spark, dir),
      """MATCH p = shortestPath((n:Nation {name: "NATION_3"})-[:FROM_NATION|IN_REGION*1..3]-(s:Supplier))
        |RETURN s.nodeId AS sid, length(p) AS len, relationships(p) AS path_rels"""
        .stripMargin)
      .withColumn("path_rels", array_join(col("path_rels"), "|"))

  /** Variable-length Cypher path: everything within 1..2 undirected hops
    * of the ASIA region — planned as a union of fixed-length expansions
    * with per-expansion trail semantics. */
  def cyVarlength(spark: SparkSession, dir: String): DataFrame =
    graft.cypher.Planner.run(graph(spark, dir),
      """MATCH (r:Region {name: "ASIA"})-[*1..2]-(x)
        |RETURN DISTINCT x.nodeId AS node_id, x.label AS label""".stripMargin)

  /** Directed patterns: `->` traverses ONE stored orientation (strictly
    * cheaper than the undirected bidir union — no reverse leg joins at
    * all). The anchored customer's directed 2-hop: orders they placed,
    * parts those orders contain. */
  def cyDirected(spark: SparkSession, dir: String): DataFrame =
    graft.cypher.Planner.run(graph(spark, dir),
      """MATCH (c:Customer {name: "Customer#000000042"})-[e1:PLACED]->(o:Order)-[e2:CONTAINS]->(p:Part)
        |RETURN count(DISTINCT p) AS n_parts, count(*) AS n_paths""".stripMargin)

  /** The same pattern written with reverse arrows (the pattern read right
    * to left) — must hash-match [[cyDirected]] exactly, proving `<-` maps
    * to the dst→src orientation. */
  def cyDirectedRev(spark: SparkSession, dir: String): DataFrame =
    graft.cypher.Planner.run(graph(spark, dir),
      """MATCH (p:Part)<-[e2:CONTAINS]-(o:Order)<-[e1:PLACED]-(c:Customer {name: "Customer#000000042"})
        |RETURN count(DISTINCT p) AS n_parts, count(*) AS n_paths""".stripMargin)

  /** Property-graph slice with a NUMERIC node property for the arithmetic /
    * sum / avg dialect entries: regions + nations + customers, customers
    * carrying `acctbal` in integer cents (`round(c_acctbal*100)` — the
    * repo's micro-unit convention; round-half-away matches DuckDB).
    * Separate from [[graph]] so the main graph's WITH-barrier tie-break
    * convention (which enumerates every node column) stays untouched. */
  private def finGraph(spark: SparkSession, dir: String): graft.graph.PropertyGraph = {
    def id(base: Long, key: org.apache.spark.sql.Column) =
      (lit(base) + key.cast("long")).as("nodeId")
    val nodes = T(spark, dir, "region").select(
        id(TpchGraph.RegionBase, col("r_regionkey")), lit("Region").as("label"),
        col("r_name").cast("string").as("name"),
        lit(null).cast("long").as("acctbal"))
      .unionByName(T(spark, dir, "nation").select(
        id(TpchGraph.NationBase, col("n_nationkey")), lit("Nation").as("label"),
        col("n_name").cast("string").as("name"),
        lit(null).cast("long").as("acctbal")))
      .unionByName(T(spark, dir, "customer").select(
        id(TpchGraph.CustomerBase, col("c_custkey")), lit("Customer").as("label"),
        col("c_name").cast("string").as("name"),
        round(col("c_acctbal") * 100).cast("long").as("acctbal")))
    val rels = T(spark, dir, "customer").select(
        lit("FROM_NATION").as("relType"),
        id(TpchGraph.CustomerBase, col("c_custkey")).as("src"),
        id(TpchGraph.NationBase, col("c_nationkey")).as("dst"))
      .unionByName(T(spark, dir, "nation").select(
        lit("IN_REGION").as("relType"),
        id(TpchGraph.NationBase, col("n_nationkey")).as("src"),
        id(TpchGraph.RegionBase, col("n_regionkey")).as("dst")))
    graft.graph.PropertyGraph(nodes, rels)
  }

  /** Cypher sum()/avg(): per-nation account-balance totals under implicit
    * grouping — the first aggregates any analytics user reaches for.
    * `sum` keeps the integral type; `avg` is double (exact here: integer
    * sums ≪ 2^53, one IEEE division on both engines). */
  def cySumAvg(spark: SparkSession, dir: String): DataFrame =
    graft.cypher.Planner.run(finGraph(spark, dir),
      """MATCH (n:Nation)-[e:FROM_NATION]-(c:Customer)
        |RETURN n.name AS nation, sum(c.acctbal) AS total_bal,
        |       avg(c.acctbal) AS avg_bal, count(c) AS n_cust
        |ORDER BY nation""".stripMargin)

  /** sum(DISTINCT)/avg(DISTINCT): balances bucketed to thousands of
    * dollars (integer division manufactures real duplicates), aggregated
    * over the DISTINCT bucket set per nation. */
  def cySumDistinct(spark: SparkSession, dir: String): DataFrame =
    graft.cypher.Planner.run(finGraph(spark, dir),
      """MATCH (n:Nation)-[e:FROM_NATION]-(c:Customer)
        |RETURN n.name AS nation, sum(DISTINCT c.acctbal / 100000) AS s,
        |       avg(DISTINCT c.acctbal / 100000) AS a, count(c) AS n_cust
        |ORDER BY nation""".stripMargin)

  /** Arithmetic expressions in RETURN: precedence, `%`, and Cypher's
    * truncating integer division (negative balances exercise
    * toward-zero semantics — DuckDB `//` oracle-verified). */
  def cyReturnArith(spark: SparkSession, dir: String): DataFrame =
    graft.cypher.Planner.run(finGraph(spark, dir),
      """MATCH (n:Nation {name: "NATION_3"})-[e:FROM_NATION]-(c:Customer)
        |RETURN c.name AS name, c.acctbal * 2 + 50 AS doubled,
        |       c.acctbal % 97 AS rem, c.acctbal / 100 AS dollars
        |ORDER BY name""".stripMargin)

  /** WITH-barrier sum + arithmetic over the carried aliases: totals
    * aggregate AT the barrier, survive a second hop, and divide in the
    * final RETURN (`total / n_cust` — integer division over two carried
    * longs). */
  def cyWithArith(spark: SparkSession, dir: String): DataFrame =
    graft.cypher.Planner.run(finGraph(spark, dir),
      """MATCH (n:Nation)-[e:FROM_NATION]-(c:Customer)
        |WITH n, sum(c.acctbal) AS total, count(c) AS n_cust
        |MATCH (n)-[e2:IN_REGION]-(r:Region)
        |RETURN r.name AS region, n.name AS nation, total, n_cust,
        |       total / n_cust AS avg_floor
        |ORDER BY nation""".stripMargin)

  /** IN list-literal membership: per-nation customer counts over a named
    * nation subset — one `isin` predicate pushed into the scan, the
    * parameterless companion of the `NOT v.nodeId IN $param` form. */
  def cyInList(spark: SparkSession, dir: String): DataFrame =
    graft.cypher.Planner.run(graph(spark, dir),
      """MATCH (n:Nation)-[e:FROM_NATION]-(c:Customer)
        |WHERE n.name IN ["NATION_1", "NATION_3", "NATION_7"]
        |RETURN n.name AS nation, count(c) AS n_cust
        |ORDER BY nation""".stripMargin)

  /** Cypher string predicates CONTAINS / STARTS WITH / ENDS WITH composed
    * in one boolean WHERE — the first exploratory filters a property-graph
    * user types (the parameterized neighbor is the reference's normalized
    * lookup, retrieval/ner.py:111-114). All three fold into ONE pushable
    * scan predicate on the anchor leg, like `cy_in_list`. */
  def cyContains(spark: SparkSession, dir: String): DataFrame =
    graft.cypher.Planner.run(graph(spark, dir),
      """MATCH (n:Nation)-[e:FROM_NATION]-(c:Customer)
        |WHERE (n.name ENDS WITH "_3" OR n.name CONTAINS "_1")
        |  AND NOT (n.name STARTS WITH "NATION_2")
        |RETURN n.name AS nation, count(c) AS n_cust
        |ORDER BY nation""".stripMargin)

  /** Whole-string `=~` regex predicate (Neo4j anchors both ends; a bare
    * substring engine would also admit every longer id). */
  def cyRegex(spark: SparkSession, dir: String): DataFrame =
    graft.cypher.Planner.run(graph(spark, dir),
      """MATCH (c:Customer)
        |WHERE c.name =~ "Customer#0*1[0-9]2"
        |RETURN c.name AS name
        |ORDER BY name""".stripMargin)

  /** Scalar string functions through the dialect: toLower / toUpper /
    * substring (0-indexed, like Neo4j) / size / replace, composed with a
    * CONTAINS predicate over a function-wrapped ref (`WHERE toLower(…)
    * CONTAINS` — the poor man's fulltext). All plan to codegen'd
    * built-ins in one scan. */
  def cyStrFuncs(spark: SparkSession, dir: String): DataFrame =
    graft.cypher.Planner.run(graph(spark, dir),
      """MATCH (n:Nation)-[e:FROM_NATION]-(c:Customer)
        |WHERE toLower(n.name) CONTAINS "_1"
        |RETURN toLower(n.name) AS lo, toUpper(substring(n.name, 7)) AS tag,
        |       size(n.name) AS len, replace(n.name, "NATION", "N") AS short,
        |       count(c) AS n_cust
        |ORDER BY lo""".stripMargin)

  /** Plain non-DISTINCT collect: the bag keeps one copy of the nation
    * name PER CUSTOMER ROW (multiplicity = the 2-hop row count — where
    * DISTINCT would keep 5 per region), mirroring the reference's
    * non-distinct provenance append (retrieval/retriever.py:83).
    * Canonicalized to a sorted list; flattened to a joined string for
    * the driver's hash surface like `cy_collect`. */
  def cyCollectAll(spark: SparkSession, dir: String): DataFrame =
    graft.cypher.Planner.run(graph(spark, dir),
      """MATCH (r:Region)-[e:IN_REGION]-(n:Nation)-[e2:FROM_NATION]-(c:Customer)
        |RETURN r.name AS region, collect(n.name) AS nations,
        |       count(c) AS n_cust""".stripMargin)
      .select(col("region"), array_join(col("nations"), "|").as("nations"),
        col("n_cust"))

  /** UNWIND of a literal list: the self-contained anchor form that needs
    * no parameter map — same plan shape as the `$param` unwind (one
    * broadcast isin anchor). */
  def cyUnwindLit(spark: SparkSession, dir: String): DataFrame =
    graft.cypher.Planner.run(graph(spark, dir),
      """UNWIND ["NATION_1", "NATION_3", "NATION_7"] AS nm
        |MATCH (n:Nation {name: nm})-[e:FROM_NATION]-(c:Customer)
        |RETURN n.name AS nation, count(c) AS n_cust
        |ORDER BY nation""".stripMargin)

  /** List expressions over a collected alias: head / last / size /
    * 0-based index / slice / reverse — Cypher's list-value surface,
    * all lowered to codegen'd array built-ins (`get`/`slice`/`reverse`),
    * never a UDF. `collect(DISTINCT …)` canonicalizes to a sorted list on
    * both engines, so every positional access is deterministic. */
  def cyListOps(spark: SparkSession, dir: String): DataFrame =
    graft.cypher.Planner.run(graph(spark, dir),
      """MATCH (r:Region)-[e:IN_REGION]-(n:Nation)
        |WITH r.name AS region, collect(DISTINCT n.name) AS ns
        |RETURN region, head(ns) AS first_n, last(ns) AS last_n,
        |       size(ns) AS n_cnt, ns[1] AS second_n,
        |       ns[1..3] AS mid, reverse(ns)[0] AS rev0
        |ORDER BY region""".stripMargin)
      .select(col("region"), col("first_n"), col("last_n"), col("n_cnt"),
        col("second_n"), array_join(col("mid"), "|").as("mid"), col("rev0"))

  /** `reduce` fold and general list comprehensions (filter + transform)
    * over a collected alias — Spark's `aggregate`/`filter`/`transform`
    * higher-order functions, whole-stage-codegen'd, with lambda variables
    * shadowing outer columns only inside the body. */
  def cyReduceComp(spark: SparkSession, dir: String): DataFrame =
    graft.cypher.Planner.run(graph(spark, dir),
      """MATCH (r:Region)-[e:IN_REGION]-(n:Nation)
        |WITH r.name AS region, collect(DISTINCT n.name) AS ns
        |RETURN region,
        |       reduce(acc = "", x IN ns | acc + "|" + x) AS joined,
        |       reduce(acc = 0, x IN ns | acc + size(x)) AS total_len,
        |       [x IN ns WHERE x ENDS WITH "1" | toLower(x)] AS picked
        |ORDER BY region""".stripMargin)
      .select(col("region"), col("joined"), col("total_len"),
        array_join(col("picked"), "|").as("picked"))

  /** `UNWIND range(…)` (parse-time literal expansion → the same broadcast
    * isin anchor as the param form) + split / left / right scalars and a
    * string-predicate CASE branch (StrCond). */
  def cyRangeSplit(spark: SparkSession, dir: String): DataFrame =
    graft.cypher.Planner.run(graph(spark, dir),
      """UNWIND range(2000000000, 2000000004) AS nid
        |MATCH (n:Nation {nodeId: nid})-[e:FROM_NATION]-(c:Customer)
        |RETURN n.name AS nation, split(n.name, "_")[1] AS tag,
        |       left(n.name, 6) AS pre, right(n.name, 1) AS suf,
        |       CASE WHEN n.name ENDS WITH "_1" THEN "one"
        |            ELSE "other" END AS cls,
        |       count(c) AS n_cust
        |ORDER BY nation""".stripMargin)

  /** Numeric-statistics aggregates through the dialect: interpolated
    * percentileCont (Spark `percentile` ≡ DuckDB quantile_cont — exact
    * double arithmetic, compared unrounded), SQL-standard percentileDisc
    * (first value whose cumulative fraction reaches p; an actual group
    * value, exact), and sample stDev (engines' moment accumulation
    * orders differ → rounded to 4 decimals on both sides). */
  def cyPercentile(spark: SparkSession, dir: String): DataFrame =
    graft.cypher.Planner.run(finGraph(spark, dir),
      """MATCH (n:Nation)-[e:FROM_NATION]-(c:Customer)
        |RETURN n.name AS nation, percentileCont(c.acctbal, 0.5) AS med,
        |       percentileDisc(c.acctbal, 0.9) AS p90,
        |       stDev(c.acctbal) AS sd
        |ORDER BY nation""".stripMargin)
      .withColumn("sd", round(col("sd"), 4))

  /** `count([DISTINCT] v.prop)` — Neo4j's null-skipping property counts
    * through the shared AggFn machinery (value count vs distinct value
    * set under one implicit grouping). */
  def cyCountProp(spark: SparkSession, dir: String): DataFrame =
    graft.cypher.Planner.run(finGraph(spark, dir),
      """MATCH (n:Nation)-[e:FROM_NATION]-(c:Customer)
        |RETURN n.name AS nation, count(c.acctbal) AS n_bal,
        |       count(DISTINCT c.acctbal) AS n_distinct
        |ORDER BY nation""".stripMargin)

  /** Consecutive MATCH clauses sharing a variable: the reused `c`
    * re-binds by nodeId (one equi-join, not a cartesian), each clause
    * keeping its own WHERE — the most common way users grow a query. */
  def cyMultiMatch(spark: SparkSession, dir: String): DataFrame =
    graft.cypher.Planner.run(graph(spark, dir),
      """MATCH (n:Nation)-[e:FROM_NATION]-(c:Customer)
        |WHERE n.name STARTS WITH "NATION_1"
        |MATCH (c)-[e2:PLACED]-(o:Order)
        |RETURN n.name AS nation, count(o) AS n_orders
        |ORDER BY nation""".stripMargin)

  /** Cypher `+` string concatenation (either operand string → concat,
    * numeric co-operand stringifies — Spark's numeric `+` would null the
    * row out) mixed with plain numeric `+` in the same RETURN. */
  def cyStrConcat(spark: SparkSession, dir: String): DataFrame =
    graft.cypher.Planner.run(graph(spark, dir),
      """MATCH (n:Nation)-[e:IN_REGION]-(r:Region)
        |RETURN n.name + "@" + r.name AS tag,
        |       n.name + "#" + n.nodeId AS keyed,
        |       n.nodeId + 1 AS next_id
        |ORDER BY tag""".stripMargin)

  /** Label test in WHERE (`x:Supplier`) over an UNTYPED binding: the
    * FROM_NATION view binds customers AND suppliers, so the predicate
    * genuinely selects — the post-bind twin of the inline label anchor,
    * one pushable equality on the label column. */
  def cyLabelPred(spark: SparkSession, dir: String): DataFrame =
    graft.cypher.Planner.run(graph(spark, dir),
      """MATCH (x)-[e:FROM_NATION]-(n:Nation)
        |WHERE x:Supplier
        |RETURN n.name AS nation, count(x) AS n_supp
        |ORDER BY nation""".stripMargin)

  /** Scalar numeric functions through the dialect: sign() as an implicit
    * group key (Cypher integer −1/0/1), sum over an abs() argument,
    * avg over a toFloat() cast — all codegen'd built-ins in one scan+agg. */
  def cyNumFuncs(spark: SparkSession, dir: String): DataFrame =
    graft.cypher.Planner.run(finGraph(spark, dir),
      """MATCH (n:Nation)-[e:FROM_NATION]-(c:Customer)
        |RETURN n.name AS nation, sign(c.acctbal) AS s,
        |       sum(abs(c.acctbal)) AS total_abs,
        |       avg(toFloat(c.acctbal)) AS avg_bal, count(*) AS n_cust
        |ORDER BY nation, s""".stripMargin)

  /** Neo4j's pattern-as-predicate sugar — `WHERE [NOT] (c)-[…]-(x)`
    * ≡ `[NOT] EXISTS { … }`: per-nation count of customers that placed
    * orders but never one containing the anchored part. Both sugars in
    * one WHERE; each plans as ONE semi/anti join on nodeId (never a
    * correlated subquery or a count). */
  def cyPatternPred(spark: SparkSession, dir: String): DataFrame =
    graft.cypher.Planner.run(graph(spark, dir),
      """MATCH (n:Nation)-[e:FROM_NATION]-(c:Customer)
        |WHERE (c)-[:PLACED]-(o:Order)
        |  AND NOT (c)-[:PLACED]-(o2:Order)-[e2:CONTAINS]-(p:Part {name: "red widget"})
        |RETURN n.name AS nation, count(c) AS n_without
        |ORDER BY nation""".stripMargin)

  /** Boolean WHERE with Cypher precedence (NOT > AND > OR, parens group):
    * customers kept when rich OR (overdrawn AND outside one nation) —
    * the disjunctive filter surface plus a NOT group, all folding into
    * one scan predicate (never a union of scans). */
  def cyBoolWhere(spark: SparkSession, dir: String): DataFrame =
    graft.cypher.Planner.run(finGraph(spark, dir),
      """MATCH (n:Nation)-[e:FROM_NATION]-(c:Customer)
        |WHERE c.acctbal >= 900000 OR c.acctbal < 0 AND NOT (n.name = "NATION_3")
        |RETURN n.name AS nation, count(c) AS n_cust
        |ORDER BY nation""".stripMargin)

  /** CASE / coalesce / IS NULL over an OPTIONAL MATCH: nations tagged by
    * ASIA membership — the null-branching surface a user hits the moment
    * OPTIONAL MATCH returns an unmatched side. */
  def cyCaseNull(spark: SparkSession, dir: String): DataFrame =
    graft.cypher.Planner.run(finGraph(spark, dir),
      """MATCH (n:Nation)
        |OPTIONAL MATCH (n)-[e:IN_REGION]-(r:Region {name: "ASIA"})
        |RETURN n.name AS nation, coalesce(r.name, "OTHER") AS region_tag,
        |       CASE WHEN r.name IS NULL THEN 0 ELSE 1 END AS in_asia
        |ORDER BY nation""".stripMargin)

  /** `EXISTS { pattern WHERE … }` with inner filters, composed BOTH ways
    * (VERDICT r12 #1): the top-level conjunct plans as a LEFT SEMI join;
    * the one under OR plans as a MARKER left join whose boolean folds
    * into the disjunction with the scalar predicate — the shape a
    * semi-join cannot express. NATION_3 customers that placed an order
    * numbered under 2000, or whose own name ends in "0". */
  def cyExistsWhere(spark: SparkSession, dir: String): DataFrame =
    graft.cypher.Planner.run(graph(spark, dir),
      """MATCH (c:Customer)
        |WHERE EXISTS { (c)-[e:FROM_NATION]-(n:Nation) WHERE n.name = "NATION_3" }
        |  AND (EXISTS { (c)-[e2:PLACED]-(o:Order) WHERE o.name STARTS WITH "1" } OR c.name ENDS WITH "0")
        |RETURN c.name AS name
        |ORDER BY name""".stripMargin)

  /** EXISTS inside an OPTIONAL MATCH's pattern-scoped WHERE (round 13):
    * the predicate decides whether the optional side MATCHES — orders
    * survive only when some contained part is "green"-named — while
    * every preserved customer still counts (0 when nothing qualifies),
    * exactly Cypher's scoping. The EXISTS itself carries an inner WHERE
    * (a CONTAINS filter on the pattern's part). */
  def cyExistsOptional(spark: SparkSession, dir: String): DataFrame =
    graft.cypher.Planner.run(graph(spark, dir),
      """MATCH (n:Nation {name: "NATION_3"})-[e:FROM_NATION]-(c:Customer)
        |OPTIONAL MATCH (c)-[e2:PLACED]-(o:Order)
        |WHERE EXISTS { (o)-[e3:CONTAINS]-(p:Part) WHERE p.name CONTAINS "green" }
        |RETURN c.name AS name, count(DISTINCT o) AS n_green_orders
        |ORDER BY name""".stripMargin)

  /** Restricted graph mutation (VERDICT r12 #2): two MERGE clauses
    * lowered onto the lakehouse merge — the first updates an existing
    * customer (ON MATCH SET path), the second creates a missing one
    * (ON CREATE SET path) against the first merge's snapshot; the
    * post-merge nodes table is the result (scalar columns — the driver's
    * hash surface). Idempotence (MERGE twice ≡ once) is spec-tested. */
  def cyMergeUpsert(spark: SparkSession, dir: String): DataFrame = {
    val g0 = graph(spark, dir)
    val merged1 = graft.cypher.Planner.run(g0,
      """MERGE (n:Customer {nodeId: 3000000042})
        |ON CREATE SET n.name = "Customer#created"
        |ON MATCH SET n.name = "Customer#updated"""".stripMargin)
    val g1 = graft.graph.PropertyGraph(merged1, g0.rels)
    graft.cypher.Planner.run(g1,
      """MERGE (n:Customer {nodeId: 3999999999})
        |ON CREATE SET n.name = "Customer#new"
        |ON MATCH SET n.name = "Customer#wrong"""".stripMargin)
      .select(col("nodeId"), col("label"), col("name"))
  }

  /** Restricted `DETACH DELETE` (round 13 — the mutation verb MERGE's
    * upsert left open): NATION_3's suppliers leave the graph along with
    * every incident relationship; the summary hashes BOTH post-delete
    * tables (node count + per-type relationship counts), so a dangling
    * edge on either endpoint would break the hash. */
  def cyDetachDelete(spark: SparkSession, dir: String): DataFrame = {
    val pg = graft.cypher.Planner.runDelete(graph(spark, dir),
      """MATCH (s:Supplier)
        |WHERE EXISTS { (s)-[e:FROM_NATION]-(n:Nation {name: "NATION_3"}) }
        |DETACH DELETE s""".stripMargin)
    pg.nodes.groupBy(lit("nodes").as("kind")).agg(count(lit(1)).as("n"))
      .unionByName(
        pg.rels.groupBy(col("relType").as("kind")).agg(count(lit(1)).as("n")))
  }

  /** General `COUNT { … }` subqueries (round 13): multi-hop counts and a
    * filtered 1-hop count around each region — each distinct shape ONE
    * grouped map-side-combinable count LEFT-joined back (miss → 0),
    * the multi-hop generalization of the degree sugar. */
  def cyCountSub(spark: SparkSession, dir: String): DataFrame =
    graft.cypher.Planner.run(graph(spark, dir),
      """MATCH (r:Region)
        |RETURN r.name AS region,
        |       COUNT { (r)-[:IN_REGION]-(n:Nation)-[:FROM_NATION]-(c:Customer) } AS n_cust2,
        |       COUNT { (r)-[:IN_REGION]-(n:Nation) WHERE n.name CONTAINS "_1" } AS n1
        |ORDER BY region""".stripMargin)

  /** `$param` in expression position, arithmetic-headed WHERE, the
    * right-associative `^` (always double), and a function-headed IN —
    * four round-13 scalar-surface completions in one grouped census. */
  def cyParamExpr(spark: SparkSession, dir: String): DataFrame =
    graft.cypher.Planner.run(graph(spark, dir),
      """MATCH (n:Nation)-[e:FROM_NATION]-(c:Customer)
        |WHERE n.name CONTAINS $frag AND c.nodeId % 2 = 0
        |  AND toUpper(right(n.name, 1)) IN ["0", "2", "4", "6", "8", "1", "3", "5", "7", "9"]
        |RETURN n.name + $suffix AS nation, count(c) AS n_even,
        |       2 ^ 3 ^ 2 AS p9
        |ORDER BY nation""".stripMargin,
      Map("frag" -> "_1", "suffix" -> "!"))

  /** `CALL { … }` per-row top-k (round 13): each nation's two richest
    * customers — ONE window row_number partitioned by the imported key
    * (openCypher's correlated subquery without per-row re-execution). */
  def cyCallTopk(spark: SparkSession, dir: String): DataFrame =
    graft.cypher.Planner.run(finGraph(spark, dir),
      """MATCH (n:Nation)
        |CALL { WITH n MATCH (n)-[e:FROM_NATION]-(c:Customer)
        |       RETURN c.name AS cust, c.acctbal AS bal
        |       ORDER BY c.acctbal DESC, c.name LIMIT 2 }
        |RETURN n.name AS nation, cust, bal
        |ORDER BY nation, bal DESC, cust""".stripMargin)

  /** `CALL { … }` per-row aggregates (round 13): one grouped aggregation
    * LEFT-joined back — an aggregating subquery yields a row even on
    * empty input (count→0, collect→[]). */
  def cyCallAgg(spark: SparkSession, dir: String): DataFrame =
    graft.cypher.Planner.run(graph(spark, dir),
      """MATCH (r:Region)
        |CALL { WITH r MATCH (r)-[e:IN_REGION]-(n:Nation)
        |       RETURN count(n) AS n_nat, collect(n.name) AS ns }
        |RETURN r.name AS region, n_nat, ns
        |ORDER BY region""".stripMargin)
      .select(col("region"), col("n_nat"), array_join(col("ns"), "|").as("ns"))

  /** `WITH *` (round 13): carry every bound variable plus an extra
    * aliased expression through the barrier — the grow-a-query idiom. */
  def cyWithStar(spark: SparkSession, dir: String): DataFrame =
    graft.cypher.Planner.run(graph(spark, dir),
      """MATCH (r:Region {name: "ASIA"})-[e:IN_REGION]-(n:Nation)
        |WITH *, size(n.name) AS nlen
        |MATCH (n)-[e2:FROM_NATION]-(c:Customer)
        |RETURN r.name AS region, n.name AS nation, nlen, count(c) AS n_cust
        |ORDER BY nation""".stripMargin)

  /** `IN` over a carried list alias (round 13): collect → membership —
    * one codegen'd array_contains against the carried column, the
    * predicate twin of the carried-list UNWIND. */
  def cyInCarried(spark: SparkSession, dir: String): DataFrame =
    graft.cypher.Planner.run(graph(spark, dir),
      """MATCH (r:Region {name: "ASIA"})-[e:IN_REGION]-(n:Nation)
        |WITH collect(DISTINCT n.name) AS asian
        |MATCH (m:Nation)-[e2:FROM_NATION]-(c:Customer)
        |WHERE NOT m.name IN asian
        |RETURN count(DISTINCT m) AS n_other""".stripMargin)

  /** Pattern comprehensions (round 13): per-row lists of pattern
    * projections — the provenance shape (retrieval/retriever.py:80-86)
    * as ONE grouped collect per pattern shape LEFT-joined back, plus the
    * `size([pattern])` degree-style companion; a no-match row gets []. */
  def cyPatternComp(spark: SparkSession, dir: String): DataFrame =
    graft.cypher.Planner.run(graph(spark, dir),
      """MATCH (n:Nation)
        |WHERE n.name IN ["NATION_1", "NATION_2"]
        |RETURN n.name AS nation,
        |       [(n)-[:FROM_NATION]-(c:Customer) WHERE c.name ENDS WITH "1" | c.name] AS picked,
        |       size([(n)-[:IN_REGION]-(r:Region) | r.name]) AS n_regions
        |ORDER BY nation""".stripMargin)
      .select(col("nation"), array_join(col("picked"), "|").as("picked"),
        col("n_regions"))

  /** `keys(n)` + a WITH-stage ORDER BY expression (round 13): the sorted
    * non-null property names per part (embedding present or not — the
    * union-of-keys schema read back as data) under a hidden barrier sort
    * key, flattened for the driver's hash surface. */
  def cyKeysCollect(spark: SparkSession, dir: String): DataFrame =
    graft.cypher.Planner.run(graph(spark, dir),
      """MATCH (s:Supplier)-[e:SUPPLIES]-(p:Part)
        |WITH p.name AS part, p.nodeId AS pid, keys(p) AS ks,
        |     count(s) AS n_sup
        |ORDER BY n_sup * 10 DESC, part, pid LIMIT 5
        |RETURN part, pid, ks, n_sup""".stripMargin)
      .select(col("part"), col("pid"), array_join(col("ks"), "|").as("ks"),
        col("n_sup"))

  /** ORDER BY a general expression (round 13): nearest-to-target ranking
    * `ORDER BY abs(c.acctbal - 500000)` — the key is computed as a
    * hidden pre-projection column and dropped after the trim, so the
    * plan stays TakeOrderedAndProject (no global sort materializes). */
  def cyOrderExpr(spark: SparkSession, dir: String): DataFrame =
    graft.cypher.Planner.run(finGraph(spark, dir),
      """MATCH (c:Customer)-[e:FROM_NATION]-(n:Nation {name: "NATION_1"})
        |RETURN c.name AS name, c.acctbal AS bal
        |ORDER BY abs(c.acctbal - 500000), name
        |LIMIT 10""".stripMargin)

  /** Property-to-property comparison (round 13): `s1.nodeId < s2.nodeId`
    * — THE pair-dedup idiom (each unordered co-supplier pair once). The
    * inequality folds into the self-join's condition; never a post-hoc
    * driver dedup. */
  def cyPairDedup(spark: SparkSession, dir: String): DataFrame =
    graft.cypher.Planner.run(graph(spark, dir),
      """MATCH (s1:Supplier)-[e1:SUPPLIES]-(p:Part), (s2:Supplier)-[e2:SUPPLIES]-(p)
        |WHERE s1.nodeId < s2.nodeId
        |RETURN count(*) AS n_pairs""".stripMargin)

  /** Conditional count over a CASE (null-skipping count of an
    * expression), the simple `CASE subj WHEN v THEN …` form as a group
    * key, and the legacy `exists(prop)` sugar — three round-13 dialect
    * idioms in one grouped census. */
  def cyCondCount(spark: SparkSession, dir: String): DataFrame =
    graft.cypher.Planner.run(finGraph(spark, dir),
      """MATCH (n:Nation)-[e:FROM_NATION]-(c:Customer)
        |WHERE exists(c.acctbal)
        |RETURN n.name AS nation,
        |       count(CASE WHEN c.acctbal >= 500000 THEN 1 END) AS n_rich,
        |       CASE n.name WHEN "NATION_1" THEN "one" ELSE "rest" END AS cls,
        |       count(*) AS n_all
        |ORDER BY nation""".stripMargin)

  /** `allShortestPaths` (round 13; rel-sequence multiplicity round 16):
    * one row PER distinct shortest RELATIONSHIP sequence — the BFS
    * levels form a DAG and each level-respecting (predecessor, relType)
    * forks one walk, so parallel edge types multiply paths exactly as
    * Neo4j counts them; here reduced to the per-target (hop count, path
    * multiplicity) census around one part. The singular `shortestPath`
    * keeps its one deterministic witness. */
  def cyAllShortest(spark: SparkSession, dir: String): DataFrame =
    graft.cypher.Planner.run(graph(spark, dir),
      """MATCH p = allShortestPaths((x:Part {nodeId: 5000000001})-[*1..2]-(y))
        |RETURN y.nodeId AS nodeId, length(p) AS len, count(*) AS n_paths
        |ORDER BY nodeId""".stripMargin)

  /** The collect→UNWIND round trip (round 13): aggregate at a WITH
    * barrier, explode the list back to rows, and RE-ANCHOR each element
    * in a fresh MATCH — the carried-scalar anchor plans as one equi-join
    * against the exploded frame (Catalyst folds the post-join equality
    * into the join), never a per-element loop. */
  def cyCollectUnwind(spark: SparkSession, dir: String): DataFrame =
    graft.cypher.Planner.run(graph(spark, dir),
      """MATCH (r:Region)-[e:IN_REGION]-(n:Nation)
        |WITH r.name AS region, collect(DISTINCT n.name) AS ns
        |UNWIND ns AS nation
        |MATCH (m:Nation {name: nation})-[e2:FROM_NATION]-(c:Customer)
        |RETURN region, nation, count(c) AS n_cust
        |ORDER BY region, nation""".stripMargin)

  /** Standalone bulk `SET` with an expression value (round 13): every
    * negative-balance customer flips to its absolute value — ONE
    * lakehouse merge keyed on (label, nodeId), the changelog being just
    * the matched slice. The oracle replays the update as a CASE. */
  def cySetUpdate(spark: SparkSession, dir: String): DataFrame =
    graft.cypher.Planner.runMutation(finGraph(spark, dir),
      """MATCH (c:Customer) WHERE c.acctbal < 0
        |SET c.acctbal = abs(c.acctbal)""".stripMargin).nodes
      .select(col("nodeId"), col("label"), col("name"), col("acctbal"))

  /** Standalone `REMOVE` (round 13): nulls the property under the
    * union-of-keys schema — exactly how an absent property is stored.
    * Output is the per-label (rows, non-null balances) census. */
  def cyRemoveProp(spark: SparkSession, dir: String): DataFrame =
    graft.cypher.Planner.runMutation(finGraph(spark, dir),
      """MATCH (c:Customer) WHERE c.acctbal >= 900000 REMOVE c.acctbal""")
      .nodes.groupBy(col("label"))
      .agg(count(lit(1)).as("n"), count(col("acctbal")).as("n_bal"))

  /** Restricted `CREATE` nodes (round 13): appends under the S2
    * unique-key constraint (an existing (label, nodeId) key FAILS — the
    * loader's constraint semantics, stark_neo4j_loading.py:15-18). */
  def cyCreateNodes(spark: SparkSession, dir: String): DataFrame =
    graft.cypher.Planner.run(graph(spark, dir),
      """CREATE (n:Region {nodeId: 1000000099, name: "ATLANTIS"}),
        |       (m:Region {nodeId: 1000000098, name: "LEMURIA"})"""
        .stripMargin)
      .where(col("label") === "Region")
      .select(col("nodeId"), col("label"), col("name"))

  /** Relationship MERGE / CREATE (round 13): the loader's idempotent
    * edge upsert (stark_neo4j_loading.py:43-61) — the same MERGE run
    * twice inserts once (one anti-join against the existing edges of
    * that type), then a directed CREATE appends unconditionally. */
  def cyRelMerge(spark: SparkSession, dir: String): DataFrame = {
    val g0 = graph(spark, dir)
    val m =
      """MATCH (n:Nation {name: "NATION_1"}), (r:Region {name: "ASIA"})
        |MERGE (n)-[:LOCATED_IN]->(r)""".stripMargin
    val g1 = graft.cypher.Planner.runMutation(g0, m)
    val g2 = graft.cypher.Planner.runMutation(g1, m) // idempotent replay
    val g3 = graft.cypher.Planner.runMutation(g2,
      """MATCH (n:Nation {name: "NATION_2"}), (r:Region {name: "ASIA"})
        |CREATE (n)-[:LOCATED_IN]->(r)""".stripMargin)
    g3.rels.groupBy(col("relType")).agg(count(lit(1)).as("n"))
  }

  /** Named-path projections `nodes(p)` / `relationships(p)` (VERDICT r12
    * #3): the provenance shape of retrieval/retriever.py:80-86 — every
    * 1..2-hop walk out of ASIA with its traversal-ordered nodeId list
    * and relationship-type list (flattened to strings for the driver's
    * hash surface; the arrays themselves are spec-tested). */
  def cyPathNodes(spark: SparkSession, dir: String): DataFrame =
    graft.cypher.Planner.run(graph(spark, dir),
      """MATCH p = (r:Region {name: "ASIA"})-[*1..2]-(x)
        |RETURN DISTINCT nodes(p) AS path_nodes, relationships(p) AS path_rels"""
        .stripMargin)
      .select(
        array_join(col("path_nodes").cast("array<string>"), "|").as("path_nodes"),
        array_join(col("path_rels"), "|").as("path_rels"))
      .distinct()

  /** Parameter-keyed, expression-valued MERGE (round 14 — VERDICT r13
    * #2): the driver-API upsert the loader's per-row parameters bind
    * (stark_neo4j_loading.py:29-37) — key from `$id`, values from
    * `$params` and the node's own pre-merge properties, both paths
    * exercised (ON MATCH bumps the balance by a parameter; ON CREATE
    * builds a fresh row from parameters). Each MERGE is still ONE
    * lakehouse changelog merge. */
  def cyMergeParam(spark: SparkSession, dir: String): DataFrame = {
    val g0 = finGraph(spark, dir)
    val merged1 = graft.cypher.Planner.run(g0,
      """MERGE (n:Customer {nodeId: $id})
        |ON CREATE SET n.name = $nm
        |ON MATCH SET n.name = $nm + "#updated", n.acctbal = n.acctbal + $bonus"""
        .stripMargin,
      Map("id" -> 3000000042L, "nm" -> "Customer#param", "bonus" -> 100L))
    val g1 = graft.graph.PropertyGraph(merged1, g0.rels)
    graft.cypher.Planner.run(g1,
      """MERGE (n:Customer {nodeId: $id})
        |ON CREATE SET n.name = $nm, n.acctbal = $bal
        |ON MATCH SET n.name = "wrong"""".stripMargin,
      Map("id" -> 3999999998L, "nm" -> "Customer#fresh", "bal" -> 777L))
      .select(col("nodeId"), col("label"), col("name"), col("acctbal"))
  }

  /** Bulk record-driven upsert (round 14 — VERDICT r13 #3): `UNWIND
    * $rows AS r MERGE (n {nodeId: r.id}) SET …`, the loader's entire
    * idiom (stark_neo4j_loading.py:20-61) in-dialect — two updates and
    * two inserts in ONE statement, lowered as ONE changelog frame onto
    * the lakehouse merge (never a per-row loop; a thousand-row batch
    * costs the same plan). */
  def cyUnwindCreate(spark: SparkSession, dir: String): DataFrame =
    graft.cypher.Planner.run(finGraph(spark, dir),
      """UNWIND $rows AS r MERGE (n:Customer {nodeId: r.id})
        |ON CREATE SET n.name = r.nm, n.acctbal = r.bal
        |ON MATCH SET n.name = r.nm + "#upd", n.acctbal = n.acctbal + r.bal"""
        .stripMargin,
      Map("rows" -> Seq(
        Map[String, Any]("id" -> 3000000007L, "nm" -> "Customer#b7", "bal" -> 10L),
        Map[String, Any]("id" -> 3000000013L, "nm" -> "Customer#b13", "bal" -> 20L),
        Map[String, Any]("id" -> 3999999901L, "nm" -> "Customer#new1", "bal" -> 111L),
        Map[String, Any]("id" -> 3999999902L, "nm" -> "Customer#new2", "bal" -> 222L))))
      .select(col("nodeId"), col("label"), col("name"), col("acctbal"))

  /** `FOREACH (r IN $rows | CREATE … SET …)` (round 14 — VERDICT r13
    * #6): parse-level sugar onto the same bulk lowering as
    * [[cyUnwindCreate]]; the CREATE path enforces the S2 unique-key
    * constraint with one broadcast semi-probe. */
  def cyForeach(spark: SparkSession, dir: String): DataFrame =
    graft.cypher.Planner.run(graph(spark, dir),
      """FOREACH (r IN $rows | CREATE (n:Region {nodeId: r.id}) SET n.name = r.nm)""",
      Map("rows" -> Seq(
        Map[String, Any]("id" -> 1000000090L, "nm" -> "HYPERBOREA"),
        Map[String, Any]("id" -> 1000000091L, "nm" -> "MU"))))
      .where(col("label") === "Region")
      .select(col("nodeId"), col("label"), col("name"))

  /** shortestPath composed with pipeline stages (round 14 — VERDICT r13
    * #4): a WITH aggregate picks the top-3 nations by customer count,
    * their carried nodeIds SEED the BFS (3 sources, not V — the whole
    * point of composing), and the per-(nation, distance) supplier census
    * comes back through the carried columns. The traversal is TYPE
    * restricted (FROM_NATION|IN_REGION — the org hierarchy, not the
    * order flow): own-nation suppliers sit at 1 hop, same-region
    * siblings' suppliers at 3 via the region hub, everything else is
    * unreachable within the cap. */
  def cyShortestPipeline(spark: SparkSession, dir: String): DataFrame =
    graft.cypher.Planner.run(graph(spark, dir),
      """MATCH (n:Nation)-[e:FROM_NATION]-(c:Customer)
        |WITH n, count(c) AS n_cust ORDER BY n_cust DESC, n.name LIMIT 3
        |MATCH p = shortestPath((n)-[:FROM_NATION|IN_REGION*1..3]-(s:Supplier))
        |RETURN n.name AS nation, n_cust, length(p) AS len, count(s) AS n_supp
        |ORDER BY nation, len""".stripMargin)

  /** Dynamic property access `n[key]` (round 14 — VERDICT r13 #8): the
    * keys(n)→lookup round trip — every customer of NATION_3 unwinds its
    * non-null property names and reads each back through the runtime
    * key, ONE codegen'd CASE over the scalar fields (string-canonical
    * values; missing keys count 0 via null-skipping count). */
  def cyDynProp(spark: SparkSession, dir: String): DataFrame =
    graft.cypher.Planner.run(graph(spark, dir),
      """MATCH (n:Nation {name: "NATION_3"})-[e:FROM_NATION]-(c:Customer)
        |WITH c, keys(c) AS ks
        |UNWIND ks AS k
        |RETURN k, count(c[k]) AS n_nonnull, count(c["nope"]) AS n_missing,
        |       count(*) AS n_rows
        |ORDER BY k""".stripMargin)

  /** Bulk relationship upsert (round 14 continuation): the reference
    * loader's EDGE statement verbatim (stark_neo4j_loading.py:52-56) —
    * `UNWIND $pairs … MATCH src MATCH tgt MERGE (src)-[:T]->(tgt)`.
    * One batch: an already-existing pair no-ops after replay, a
    * duplicate batch pair collapses, a missing endpoint drops silently
    * (MATCH-then-MERGE), and the two genuinely new pairs append — all
    * as ONE frame (two semi-joins + one anti-join + one union). */
  def cyUnwindRel(spark: SparkSession, dir: String): DataFrame = {
    val g0 = graph(spark, dir)
    val stmt =
      """UNWIND $pairs AS pr
        |MATCH (src:Nation {nodeId: pr[0]})
        |MATCH (tgt:Region {nodeId: pr[1]})
        |MERGE (src)-[:LOCATED_IN]->(tgt)""".stripMargin
    val pairs = Seq(
      Seq(2000000001L, 1000000002L),
      Seq(2000000001L, 1000000002L), // duplicate batch pair
      Seq(2000000003L, 1000000004L),
      Seq(2999999999L, 1000000001L)) // missing endpoint → dropped
    val r1 = graft.cypher.Planner.run(g0, stmt, Map("pairs" -> pairs))
    // idempotent replay against the merged snapshot
    val g1 = graft.graph.PropertyGraph(g0.nodes, r1)
    graft.cypher.Planner.run(g1, stmt, Map("pairs" -> pairs))
      .groupBy(col("relType")).agg(count(lit(1)).as("n"))
  }

  /** List quantifiers (round 14 continuation): `any`/`all`/`none`/
    * `single(x IN xs WHERE …)` over collected lists — each ONE codegen'd
    * higher-order function (exists/forall/filter), never a UDF or an
    * explode. */
  def cyListQuant(spark: SparkSession, dir: String): DataFrame =
    graft.cypher.Planner.run(graph(spark, dir),
      """MATCH (r:Region)-[e:IN_REGION]-(n:Nation)
        |WITH r.name AS region, collect(n.name) AS ns
        |WHERE all(x IN ns WHERE x STARTS WITH "NATION_")
        |  AND (any(x IN ns WHERE x ENDS WITH "1")
        |       OR NOT none(x IN ns WHERE x ENDS WITH "3"))
        |RETURN region, size(ns) AS n
        |ORDER BY region""".stripMargin)

  /** `RETURN *` (round 14 continuation): every binding comes back —
    * bound node variables as whole-entity structs (name-sorted ahead of
    * the carried scalars), exactly the WITH * rule at the RETURN
    * position. The entry's struct column ships as canonical JSON text
    * ([[jsonSurface]] — VERDICT r14 #1: the raw struct crashed the
    * driver's pandas row sort). */
  def cyReturnStar(spark: SparkSession, dir: String): DataFrame =
    jsonSurface(graft.cypher.Planner.run(graph(spark, dir),
      """MATCH (n:Nation {name: "NATION_3"})-[e:FROM_NATION]-(c:Customer)
        |WITH c, c.name AS nm
        |RETURN * ORDER BY nm LIMIT 5""".stripMargin))

  /** floor/ceil/sqrt/round (rounds 14-15): the IEEE-exactly-rounded
    * math scalars (engine-portable; ln/exp/log10 join in round 16 as
    * the separate TOLERANCE-CHECKED class — see [[cyLnExp]]). round()
    * carries an
    * EXPLICIT tie rule — half toward +∞, Neo4j's Math.round — spelled
    * floor(x + 0.5) on both engines so native round() tie divergence
    * (DuckDB: half away from zero) never enters. The `rh` column halves
    * an integer balance, so odd balances exercise the .5 tie. All four
    * lower to codegen'd Spark built-ins. */
  def cyMathFns(spark: SparkSession, dir: String): DataFrame =
    graft.cypher.Planner.run(finGraph(spark, dir),
      """MATCH (n:Nation {name: "NATION_3"})-[e:FROM_NATION]-(c:Customer)
        |WHERE c.acctbal >= 0
        |RETURN c.name AS name, floor(sqrt(toFloat(c.acctbal))) AS fs,
        |       ceil(sqrt(toFloat(c.acctbal))) AS cs,
        |       round(sqrt(toFloat(c.acctbal))) AS rs,
        |       round(toFloat(c.acctbal) / 2.0) AS rh
        |ORDER BY name""".stripMargin)

  /** `ln`/`exp`/`log10` (round 16 — the last excluded function family,
    * VERDICT r15 What's-missing #3): the TOLERANCE-CHECKED transcendental
    * class. The dialect guarantees 9 significant decimal digits
    * cross-engine (the raw doubles are bit-identical on the reference
    * libm pair — DuckDB/glibc vs this JVM — verified over representative
    * values; exotic libms may differ a ULP), so the entry's hash surface
    * QUANTIZES to integer micro-units through the documented
    * floor(x+0.5) tie rule — the same integer-micro-unit convention as
    * the emb_* family. ln∘exp composition and log10 consistency ride in
    * the same rows. */
  def cyLnExp(spark: SparkSession, dir: String): DataFrame =
    graft.cypher.Planner.run(finGraph(spark, dir),
      """MATCH (c:Customer) WHERE c.acctbal > 0
        |RETURN c.nodeId AS id,
        |       toInteger(round(ln(toFloat(c.acctbal)) * 1000000.0)) AS ln_micro,
        |       toInteger(round(log10(toFloat(c.acctbal)) * 1000000.0)) AS log10_micro,
        |       toInteger(round(exp(ln(toFloat(c.acctbal)) / 100.0) * 1000000.0)) AS exp_micro"""
        .stripMargin)

  /** The trig family (round 16): sin/cos/tan/cot/asin/acos/atan/atan2,
    * degrees/radians, haversin, and the pi()/e() constants join the
    * TOLERANCE-CHECKED transcendental class ([[cyLnExp]]) — same
    * 9-significant-digit cross-engine contract, same integer-micro-unit
    * hash surface through the documented floor(x+0.5) tie rule. atan2
    * keeps Neo4j's (y, x) argument order; haversin(x) = sin²(x/2) on
    * both engines. */
  def cyTrig(spark: SparkSession, dir: String): DataFrame =
    graft.cypher.Planner.run(finGraph(spark, dir),
      """MATCH (c:Customer) WHERE c.acctbal > 0
        |RETURN c.nodeId AS id,
        |       toInteger(round(sin(toFloat(c.acctbal) / 100000.0) * 1000000.0)) AS sin_micro,
        |       toInteger(round(cos(toFloat(c.acctbal) / 100000.0) * 1000000.0)) AS cos_micro,
        |       toInteger(round(atan2(toFloat(c.acctbal) / 100000.0, 2.0) * 1000000.0)) AS atan2_micro,
        |       toInteger(round(degrees(atan(toFloat(c.acctbal) / 100000.0)) * 1000000.0)) AS deg_micro,
        |       toInteger(round(haversin(toFloat(c.acctbal) / 100000.0) * 1000000.0)) AS hav_micro,
        |       toInteger(round(pi() * 1000000.0)) AS pi_micro,
        |       toInteger(round(e() * 1000000.0)) AS e_micro"""
        .stripMargin)

  /** Neo4j null ordering (round 14 continuation): ORDER BY treats null
    * as the LARGEST value (ASC → nulls last, DESC → nulls first) — made
    * observable through the hash by a DESC + LIMIT page whose selected
    * ROW SET depends on where the OPTIONAL-MATCH nulls sort (DuckDB
    * spells it NULLS FIRST explicitly; its default is nulls-last both
    * ways). */
  def cyNullOrder(spark: SparkSession, dir: String): DataFrame =
    graft.cypher.Planner.run(graph(spark, dir),
      """MATCH (r:Region)
        |OPTIONAL MATCH (r)-[e:IN_REGION]-(n:Nation)
        |WHERE n.name CONTAINS "_2"
        |RETURN r.name AS region, n.name AS nation
        |ORDER BY nation DESC, region
        |LIMIT 4""".stripMargin)

  /** Map-merge `SET n += $props` (round 14 continuation): Neo4j's
    * record-shaped update — the map parameter's entries overwrite their
    * properties on EVERY matched node, unlisted properties keep their
    * values, and an explicit item after the map wins on its key. Still
    * ONE lakehouse merge with the matched slice as changelog. */
  def cySetPlus(spark: SparkSession, dir: String): DataFrame =
    graft.cypher.Planner.runMutation(finGraph(spark, dir),
      """MATCH (c:Customer {nodeId: 3000000042})
        |SET c += $props, c.name = c.name + "!"""".stripMargin,
      Map("props" -> Map[String, Any](
        "name" -> "Customer#plus", "acctbal" -> 4242L))).nodes
      .select(col("nodeId"), col("label"), col("name"), col("acctbal"))

  /** Whole-entity projection (round 14 — VERDICT r13 #1): `RETURN n`,
    * `properties(n)`, and the map projection `n {.p1, .p2}` — each ONE
    * canonical struct column over the already-joined node frame (no
    * extra plan nodes, no shuffle): the reference's retrieved-record
    * shape (retrieval/retriever.py:79-86). Whole-node structs are
    * name-sorted with label metadata excluded; an absent property is a
    * null field (the union-of-keys representation of absence). The
    * entry ships each struct as canonical JSON text ([[jsonSurface]] —
    * VERDICT r14 #1); the oracle replays all three as DuckDB
    * to_json(struct_pack(...)). */
  def cyReturnNode(spark: SparkSession, dir: String): DataFrame =
    jsonSurface(graft.cypher.Planner.run(graph(spark, dir),
      """MATCH (n:Nation {name: "NATION_3"})-[e:FROM_NATION]-(c:Customer)
        |RETURN c.name AS name, c AS cust, properties(c) AS props,
        |       c {.name, .nodeId} AS slim
        |ORDER BY name""".stripMargin))

  /** Relationship whole-entity projection (round 15 — VERDICT r14 #4):
    * `RETURN r` and `properties(r)` as the identity triple
    * {dst, relType, src} (name-sorted struct — the data model stores no
    * relationship properties, stark_neo4j_loading.py:50-53, so the
    * identity IS the observable record; stored orientation, not
    * traversal order, like Neo4j's fixed start/end under an undirected
    * match). Ships as canonical JSON text like every entity entry
    * ([[jsonSurface]]). */
  def cyReturnRel(spark: SparkSession, dir: String): DataFrame =
    jsonSurface(graft.cypher.Planner.run(graph(spark, dir),
      """MATCH (n:Nation {name: "NATION_3"})-[r:FROM_NATION]-(c:Customer)
        |RETURN c.name AS name, r AS rel, properties(r) AS props
        |ORDER BY name""".stripMargin))

  /** Label mutation (round 15 — VERDICT r14 #5): `SET n:L1:L2` /
    * `REMOVE n:L` rewrite the `labels` ARRAY (the queryable label set —
    * reads consult it, so the added label anchors a MATCH) through the
    * SAME lakehouse changelog merge as every property mutation; the
    * primary `label` column is the storage/merge key and stays fixed at
    * MERGE time (stark_neo4j_loading.py:35). The entry flags three
    * nations, un-reviews one, then anchors ON the added label — the
    * post-mutation labels arrays are the hash surface (flattened to a
    * "|"-joined string — the [[cyPathNodes]] convention — because the
    * driver's checker sorts raw cells and cannot hash arrays). */
  def cySetLabel(spark: SparkSession, dir: String): DataFrame = {
    val g0 = graph(spark, dir)
    val g1 = graft.cypher.Planner.runMutation(g0,
      """MATCH (n:Nation) WHERE n.name ENDS WITH "1" SET n:Flagged:Reviewed""")
    val g2 = graft.cypher.Planner.runMutation(g1,
      """MATCH (n:Nation {name: "NATION_11"}) REMOVE n:Reviewed""")
    graft.cypher.Planner.run(g2,
      """MATCH (n:Flagged)
        |RETURN n.name AS name, labels(n) AS labels
        |ORDER BY name""".stripMargin)
      .withColumn("labels", array_join(col("labels"), "|"))
  }

  /** Map literal (round 15): `RETURN {k: expr, …}` — Cypher's
    * record-shaping idiom (the reference's retriever returns dict
    * records, retrieval/retriever.py:56-59) as ONE listed-order struct
    * column, nested one level here; ships as canonical JSON text like
    * every entity-shaped entry ([[jsonSurface]]). */
  def cyMapLiteral(spark: SparkSession, dir: String): DataFrame =
    jsonSurface(graft.cypher.Planner.run(graph(spark, dir),
      """MATCH (n:Nation {name: "NATION_3"})-[e:FROM_NATION]-(c:Customer)
        |RETURN {id: c.nodeId, nm: c.name,
        |        tag: {upper: toUpper(c.name), len: size(c.name)}} AS rec
        |ORDER BY c.name LIMIT 5""".stripMargin))

  /** startNode(r)/endNode(r) (round 15): the STORED-orientation
    * endpoints — the spelling that recovers direction after an
    * undirected match. ONE node-table equi-join per distinct (fn, rel);
    * the bare form's whole-entity struct ships as JSON like every
    * entity entry. FROM_NATION stores Customer→Nation, so startNode is
    * the customer and endNode the nation on every row. */
  def cyEndpoints(spark: SparkSession, dir: String): DataFrame =
    jsonSurface(graft.cypher.Planner.run(graph(spark, dir),
      """MATCH (n:Nation {name: "NATION_3"})-[r:FROM_NATION]-(c:Customer)
        |RETURN c.name AS name, startNode(r).nodeId AS src_id,
        |       endNode(r).name AS dst_name, endNode(r) AS dst
        |ORDER BY name LIMIT 5""".stripMargin))

  /** count(r) over an OPTIONAL relationship (round 15): Neo4j's
    * null-skipping relationship count — the count source is the
    * null-extended relType, so an unmatched nation contributes 0. The
    * DISTINCT form (identity-triple dedup) is spec-covered. */
  def cyCountRel(spark: SparkSession, dir: String): DataFrame =
    graft.cypher.Planner.run(graph(spark, dir),
      """MATCH (n:Nation)
        |OPTIONAL MATCH (n)-[r:FROM_NATION]-(c:Customer)
        |RETURN n.name AS nation, count(r) AS n_rels
        |ORDER BY nation""".stripMargin)

  /** Carried relationship variables (round 15): `WITH r` flattens the
    * identity triple across the barrier like a node's fields — after
    * it, `type(r)` and the whole-entity `RETURN r` read the carried
    * columns (JSON-serialized hash surface like every entity entry).
    * A carried rel never re-binds; it only projects. */
  def cyWithRel(spark: SparkSession, dir: String): DataFrame =
    jsonSurface(graft.cypher.Planner.run(graph(spark, dir),
      """MATCH (n:Nation {name: "NATION_3"})-[r]-(c:Customer)
        |WITH r, c.name AS nm
        |RETURN nm, type(r) AS t, r AS rel
        |ORDER BY nm LIMIT 5""".stripMargin))

  /** Degree sugar (VERDICT r12 #5): `count { (n)-[:T]-(:L) }` in RETURN
    * and WHERE plus the legacy `size((n)-[]-())` spelling — four distinct
    * degree shapes, each ONE grouped count over the edge view left-joined
    * back on nodeId (never a per-row subquery). */
  def cyDegreeCount(spark: SparkSession, dir: String): DataFrame =
    graft.cypher.Planner.run(graph(spark, dir),
      """MATCH (n:Nation)
        |WHERE count { (n)-[:FROM_NATION]-() } >= 1
        |RETURN n.name AS nation,
        |       count { (n)-[:FROM_NATION]-(:Customer) } AS n_cust,
        |       count { (n)-[:FROM_NATION]-(:Supplier) } AS n_supp,
        |       size((n)-[]-()) AS deg_total
        |ORDER BY nation""".stripMargin)

  /** Map-parameter anchor (VERDICT r12 #6): [[cyPage]]'s shape re-spelled
    * with `{name: $nation}` — the parameterized twin of the literal
    * anchor (same pushable equality, same broadcast; SKIP 2 so the page
    * is non-empty at sf0.001 too). */
  def cyParamAnchor(spark: SparkSession, dir: String): DataFrame =
    graft.cypher.Planner.run(graph(spark, dir),
      """MATCH (x:Nation {name: $nation})-[r:FROM_NATION]-(y:Customer)
        |RETURN y.name AS name ORDER BY name SKIP 2 LIMIT 5""".stripMargin,
      Map("nation" -> "NATION_3"))

  /** `IN $param` list-membership on an arbitrary property (round 13 —
    * previously only `NOT v.nodeId IN $param`): the same pushable `isin`
    * as the literal-list form, against the parameter's values. Mirrors
    * [[cyInList]]'s oracle with the list supplied as a parameter. */
  def cyInParam(spark: SparkSession, dir: String): DataFrame =
    graft.cypher.Planner.run(graph(spark, dir),
      """MATCH (n:Nation)-[e:FROM_NATION]-(c:Customer)
        |WHERE n.name IN $nations
        |RETURN n.name AS nation, count(c) AS n_cust
        |ORDER BY nation""".stripMargin,
      Map("nations" -> Seq("NATION_1", "NATION_3", "NATION_7")))

  /** Multi-property map anchor (round 13): both pairs are equalities on
    * one broadcastable anchor frame — here (name, nodeId), the id pair a
    * parameter. */
  def cyMultiAnchor(spark: SparkSession, dir: String): DataFrame =
    graft.cypher.Planner.run(graph(spark, dir),
      """MATCH (c:Customer {name: "Customer#000000042", nodeId: $id})-[e:PLACED]-(o:Order)
        |RETURN count(o) AS n_orders""".stripMargin,
      Map("id" -> 3000000042L))

  /** ORDER BY an UNPROJECTED property (round 13): the richest customers'
    * names without returning the balance — a hidden sort column that
    * drops after the trim (TakeOrderedAndProject under LIMIT). */
  def cyOrderProp(spark: SparkSession, dir: String): DataFrame =
    graft.cypher.Planner.run(finGraph(spark, dir),
      """MATCH (n:Nation {name: "NATION_3"})-[e:FROM_NATION]-(c:Customer)
        |RETURN c.name AS name
        |ORDER BY c.acctbal DESC, name LIMIT 5""".stripMargin)

  /** min/max over general expression arguments (round 13): extremum of a
    * derived value per group — truncating integer division and abs()
    * inside the aggregate, both cross-engine-exact. */
  def cyMinmaxExpr(spark: SparkSession, dir: String): DataFrame =
    graft.cypher.Planner.run(finGraph(spark, dir),
      """MATCH (n:Nation)-[e:FROM_NATION]-(c:Customer)
        |RETURN n.name AS nation, min(c.acctbal / 100) AS min_dollars,
        |       max(abs(c.acctbal)) AS max_abs
        |ORDER BY nation""".stripMargin)

  /** Scalar-parameter comparisons in WHERE (`n.name = $nation`,
    * `c.acctbal >= $minBal`) — the WHERE twin of the map-parameter
    * anchor; both resolve to literals at plan time, so the filter stays
    * one pushable scan predicate. */
  def cyParamWhere(spark: SparkSession, dir: String): DataFrame =
    graft.cypher.Planner.run(finGraph(spark, dir),
      """MATCH (n:Nation)-[e:FROM_NATION]-(c:Customer)
        |WHERE n.name = $nation AND c.acctbal >= $minBal
        |RETURN c.name AS name, c.acctbal AS bal
        |ORDER BY name""".stripMargin,
      Map("nation" -> "NATION_3", "minBal" -> 500000L))

  /** Skew-resistant exact count-distinct on driver data: the salted
    * two-phase aggregate must produce exactly the plain GROUP BY result
    * (the salting is a physical strategy, invisible in the output). */
  def skewSaltedAgg(spark: SparkSession, dir: String): DataFrame =
    Skew.saltedCountDistinct(T(spark, dir, "lineitem"), "l_suppkey", "l_partkey")

  /** Skew-safe salted equi-join, then the revenue rollup: the salt is
    * internal, so the oracle is the PLAIN join — the hash gate proves
    * result-invariance of the salting on real data. */
  def joinSalted(spark: SparkSession, dir: String): DataFrame =
    Skew.saltedJoin(
      T(spark, dir, "lineitem")
        .select(col("l_orderkey"), col("l_extendedprice"), col("l_discount")),
      T(spark, dir, "orders")
        .select(col("o_orderkey").as("l_orderkey"), col("o_orderpriority")),
      "l_orderkey", salts = 8)
      .groupBy("o_orderpriority")
      .agg(count(lit(1)).as("n_items"),
        round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2)
          .as("revenue"))
      .orderBy("o_orderpriority")

  /** End-to-end budgeted retrieval over the TPC-H graph: a parsed candidate
    * query widened for retrieval, executed under the node budget,
    * KNN-backfilled over the Part embeddings. The multi-job orchestration is
    * still CTE-expressible for this fixed single-candidate case (the token
    * budget is +inf, so only the node-budget events matter) — see
    * [[OracleSqls]] `pipelineRetrieveSql`. Similarity is rounded to 6 at
    * this driver surface for engine-portable hashing (the query-phase
    * cosine is unrounded inside the operator). */
  def pipelineRetrieve(spark: SparkSession, dir: String): DataFrame = {
    val g = graph(spark, dir)
    graft.pipeline.GraphRaft.retrieveData(g,
      Seq("""MATCH (x1:Order {name: "1"})-[r1:CONTAINS]-(x2:Part) RETURN DISTINCT x2.name AS name"""),
      qEmb = queryVec(spark, dir), maxNodes = 30, ef = 1000)
      .select(col("nodeId").as("node_id"), col("name"),
        round(col("similarity"), 6).as("similarity"),
        concat_ws("|", col("patterns")).as("patterns"),
        col("rank"))
  }

  /** §2.8 LLM2 context + answer formatting over the retrieval result
    * (retriever.py:39-40 + llm2.py:34,67-71): per-node "prop: value" lines
    * joined by a blank line in retrieval order, and the '|'-joined answer
    * names. One tiny aggregate row — the exact string LLM2 would consume. */
  def fmtContext(spark: SparkSession, dir: String): DataFrame = {
    val retrieved = pipelineRetrieve(spark, dir)
    val ctx = Retrieval.formatContext(retrieved, Seq("name"), orderCol = "rank")
    val ans = retrieved.agg(Retrieval.joinAnswers(
      transform(array_sort(collect_list(struct(col("rank").as("o"), col("name").as("n")))),
        s => s.getField("n"))).as("answers"))
    ctx.crossJoin(ans)
  }

  // ---- training-data pipeline: dedup, text analysis, multimodal ----

  def dedupExact(spark: SparkSession, dir: String): DataFrame =
    Dedup.exactGroups(T(spark, dir, "documents"), "doc_id", "text")

  def dedupMinhashLsh(spark: SparkSession, dir: String): DataFrame =
    Dedup.minhashLsh(T(spark, dir, "documents"), "doc_id", "text",
      shingleN = 3, numHashes = 16, numBands = 4, threshold = 0.5)

  /** Exact n-gram Jaccard with the hot-shingle cap engaged (the 100 TB
    * safety valve — shingles in > 64 docs are non-discriminative and are
    * dropped from the index; the oracle mirrors the drop). */
  def dedupNgramJaccard(spark: SparkSession, dir: String): DataFrame =
    Dedup.ngramJaccardPairs(T(spark, dir, "documents"), "doc_id", "text",
      shingleN = 3, threshold = 0.5, maxPostings = 64)

  /** Near-dup recall audit: MinHash-LSH's verified pairs against the
    * exact posting-join Jaccard pairs at the same threshold — the dedup
    * counterpart of ann_recall_report (each path can be oracle-exact AND
    * silently lossy; this is the report that catches it). The exact side
    * is complete for τ > 0 by construction (any overlapping pair shares
    * a posting), so it is a true recall denominator. */
  def dedupRecallReport(spark: SparkSession, dir: String): DataFrame = {
    val docs = T(spark, dir, "documents")
    val exact = Dedup.ngramJaccardPairs(docs, "doc_id", "text",
      shingleN = 3, threshold = 0.5, maxPostings = 64)
      .select(col("id1"), col("id2"))
    val lsh = Dedup.minhashLsh(docs, "doc_id", "text",
      shingleN = 3, numHashes = 16, numBands = 4, threshold = 0.5)
      .select(col("id1"), col("id2"))
    val found = exact.join(lsh, Seq("id1", "id2"), "left_semi")
    exact.agg(count(lit(1)).as("n_exact"))
      .crossJoin(broadcast(lsh.agg(count(lit(1)).as("n_lsh"))))
      .crossJoin(broadcast(found.agg(count(lit(1)).as("n_found"))))
      .select(col("n_exact"), col("n_lsh"), col("n_found"),
        expr("(n_found * 1000000) div greatest(n_exact, 1)")
          .as("recall_micro"))
  }

  /** Asymmetric containment pairs (threshold 0.8 on either direction):
    * the quote/excerpt detector Jaccard under-scores. */
  def dedupContainment(spark: SparkSession, dir: String): DataFrame =
    Dedup.containmentPairs(T(spark, dir, "documents"), "doc_id", "text",
      shingleN = 3, threshold = 0.8, maxPostings = 64)

  def dedupSimhash(spark: SparkSession, dir: String): DataFrame =
    Dedup.simhashGroups(T(spark, dir, "documents"), "doc_id", "text", bits = 16)

  def dedupSimhashNear(spark: SparkSession, dir: String): DataFrame =
    Dedup.simhashNearDupPairs(T(spark, dir, "documents"), "doc_id", "text",
      bits = 32, bands = 4, maxDist = 2, maxBucket = 64)

  /** Bucket-skew stress for the banded dedup family: a fixture that PLANTS
    * a pathological hot band — every doc_id not divisible by 29 gets the
    * all-zero signature (one bucket per band holding nearly the whole
    * corpus), the rest a near-identical planted pattern. The `maxBucket`
    * valve must drop the hot buckets (which would otherwise explode
    * ~n²/2 pairs in one task) while the planted group, under the cap,
    * pairs exactly — the dedup counterpart of `skew_salted_agg`. */
  def dedupBandSkew(spark: SparkSession, dir: String): DataFrame = {
    val sigs = T(spark, dir, "documents").select(col("doc_id"),
      when(col("doc_id") % 29 === 0,
        lit(0x5555AAAAL).bitwiseXOR(
          when(col("doc_id") % 2 === 0, lit(1L)).otherwise(lit(0L))))
        .otherwise(lit(0L)).as("simhash"))
    Dedup.simhashBandPairs(sigs, bits = 32, bands = 4,
      maxDist = 4, maxBucket = 24)
  }

  /** SemDeDup-style semantic dedup over the embeddings table: k-means
    * clusters bound the candidate pairs; cosine ≥ 0.35 drops the higher id
    * (the synthetic embeddings have no true near-dups, so the threshold is
    * set where the pair stage does real work). */
  def dedupSemantic(spark: SparkSession, dir: String): DataFrame =
    Dedup.semanticDedup(T(spark, dir, "embeddings"), "vec_id", "embedding",
      nClusters = 8, lloydIters = 1, threshold = 0.35)

  /** Transitive near-dup clusters over the MinHash+LSH pair graph. */
  def dedupClusters(spark: SparkSession, dir: String): DataFrame =
    Dedup.dupClusters(
      Dedup.minhashLsh(T(spark, dir, "documents"), "doc_id", "text",
        shingleN = 3, numHashes = 16, numBands = 4, threshold = 0.5))

  /** The composed corpus-cleaning pipeline (language gate → quality gate →
    * exact dedup → LSH near-dup removal → survivor stats) — the end-to-end
    * training-data shape, oracle-checked as one recursive CTE chain. */
  def corpusClean(spark: SparkSession, dir: String): DataFrame =
    Corpus.cleanStats(T(spark, dir, "documents"), lang = "en", minScore = 0.5,
      shingleN = 3, numHashes = 16, numBands = 4, threshold = 0.5)

  def textLangId(spark: SparkSession, dir: String): DataFrame =
    TextOps.langIdConfusion(T(spark, dir, "documents"))

  def textQuality(spark: SparkSession, dir: String): DataFrame =
    TextOps.qualityBySource(T(spark, dir, "documents"))

  /** Integer Flesch reading-ease rollup per source. */
  def textReadability(spark: SparkSession, dir: String): DataFrame =
    TextOps.readabilityBySource(T(spark, dir, "documents"))

  def textTokens(spark: SparkSession, dir: String): DataFrame =
    TextOps.tokenStatsByLang(T(spark, dir, "documents"))

  def textFingerprint(spark: SparkSession, dir: String): DataFrame =
    TextOps.fingerprintDupGroups(T(spark, dir, "documents"))

  def textScrub(spark: SparkSession, dir: String): DataFrame =
    TextOps.scrubStats(T(spark, dir, "documents"))

  /** Benchmark decontamination: docs with id ≡ 0 (mod 13) stand in for the
    * eval benchmark; every other doc is training corpus. Output = per-train-
    * doc count of distinct 3-gram shingles shared with ANY eval doc. */
  def curateDecontam(spark: SparkSession, dir: String): DataFrame = {
    val docs = T(spark, dir, "documents")
    Curation.contaminationHits(
      docs.where(col("doc_id") % 13 =!= 0),
      docs.where(col("doc_id") % 13 === 0),
      "doc_id", "text")
  }

  def curateHashSplit(spark: SparkSession, dir: String): DataFrame =
    Curation.hashSplitStats(T(spark, dir, "documents"), "doc_id")

  def curateStratified(spark: SparkSession, dir: String): DataFrame =
    Curation.stratifiedCapStats(T(spark, dir, "documents"), quota = 10)

  def textRepetition(spark: SparkSession, dir: String): DataFrame =
    Curation.repetitionByLang(T(spark, dir, "documents"), flagAt = 0.2)

  def textQuantiles(spark: SparkSession, dir: String): DataFrame =
    TextOps.lengthQuantiles(T(spark, dir, "documents"))

  /** Inverted-index TF-IDF fulltext search (exact integer micro-unit
    * scoring; Search.tfidfTopK) for a fixed query-term bag. */
  def searchTfidf(spark: SparkSession, dir: String): DataFrame =
    Search.tfidfTopK(T(spark, dir, "documents"),
      Seq("vector", "hash", "join", "window"), k = 20)

  /** BM25-ranked search over the same probe terms (length-normalized,
    * saturating tf — the industry default the TF-IDF entry approximates). */
  def searchBm25(spark: SparkSession, dir: String): DataFrame =
    Search.bm25TopK(T(spark, dir, "documents"),
      Seq("vector", "hash", "join", "window"), k = 20)

  /** S-stemmed TF-IDF search: plural query terms hit singular corpus
    * occurrences through the shared stem key. */
  def searchStemmed(spark: SparkSession, dir: String): DataFrame =
    Search.stemmedTfidfTopK(T(spark, dir, "documents"),
      Seq("vectors", "queries", "joins", "windows"), k = 20)

  private val searchStoreDir = scala.collection.concurrent.TrieMap[String, String]()

  /** The persisted bucket-partitioned inverted index, written once per JVM
    * per sf dir (the write-once 100 TB search layout; Bench warms it in
    * LOAD). */
  private def searchStorePath(spark: SparkSession, dir: String): String =
    searchStoreDir.getOrElseUpdate(dir, {
      val p = java.nio.file.Files.createTempDirectory("graft-searchstore")
        .toString + "/index"
      graft.sources.SearchStore.write(
        T(spark, dir, "documents"), p, nBuckets = 32)
      p
    })

  /** Bench LOAD hook: force the one-time inverted-index layout write. */
  def warmSearchStore(spark: SparkSession, dir: String): Unit =
    searchStorePath(spark, dir)

  private val searchStoreAppendDir =
    scala.collection.concurrent.TrieMap[String, String]()

  /** A store built INCREMENTALLY: docs below 300 at write time, the rest
    * appended — probes must be indistinguishable from a one-shot build. */
  private def searchStoreAppendPath(spark: SparkSession, dir: String): String =
    searchStoreAppendDir.getOrElseUpdate(dir, {
      val p = java.nio.file.Files.createTempDirectory("graft-searchappend")
        .toString + "/index"
      val docs = T(spark, dir, "documents")
      graft.sources.SearchStore.write(
        docs.where(col("doc_id") < 300), p, nBuckets = 32)
      graft.sources.SearchStore.append(
        docs.where(col("doc_id") >= 300), p, nBuckets = 32)
      p
    })

  /** Incremental-index parity: the append-built store's probe must equal
    * the one-shot store's (and the corpus-scan TF-IDF oracle) exactly —
    * postings appended per bucket, sidecars merged, nothing rescanned. */
  def searchStoreAppend(spark: SparkSession, dir: String): DataFrame =
    graft.sources.SearchStore.probeTfidf(spark,
      searchStoreAppendPath(spark, dir),
      Seq("vector", "hash", "join", "window"), nBuckets = 32, k = 20)

  /** TF-IDF probe against the PERSISTED index layout — same result as
    * search_tfidf (same oracle), but the I/O is a partition-pruned scan of
    * the query terms' buckets plus two sidecar reads; the corpus is never
    * rescanned. */
  def searchStoreTfidf(spark: SparkSession, dir: String): DataFrame =
    graft.sources.SearchStore.probeTfidf(spark,
      searchStorePath(spark, dir),
      Seq("vector", "hash", "join", "window"), nBuckets = 32, k = 20)

  /** The fixed BPE merge table shared by query and oracle: 10 learned-
    * table-shaped rules (producers before consumers). */
  val bpeMerges: Seq[(String, String)] = Seq(
    ("t", "h"), ("th", "e"), ("i", "n"), ("a", "n"), ("an", "d"),
    ("e", "r"), ("o", "n"), ("r", "e"), ("a", "t"), ("in", "g"))

  /** Real BPE tokenizer application: corpus vocabulary histogram of the
    * top-20 tokens under the fixed merge table. */
  def textBpeVocab(spark: SparkSession, dir: String): DataFrame =
    TextOps.bpeVocabHist(T(spark, dir, "documents"), bpeMerges, k = 20)

  /** BPE merge-table LEARNING from the corpus: the first 8 merges by
    * weighted pair count (Sennrich rounds, deterministic ties). */
  def textBpeLearn(spark: SparkSession, dir: String): DataFrame =
    TextOps.bpeLearnMerges(T(spark, dir, "documents"), k = 8)

  /** Tokenizer fertility per source under the fixed merge table (tokens
    * per word, micro) — the per-source context-window cost metric. */
  def textBpeFertility(spark: SparkSession, dir: String): DataFrame =
    TextOps.bpeFertility(T(spark, dir, "documents"), bpeMerges)
      .orderBy("source")

  /** Hybrid retrieval: RRF fusion of the TF-IDF and BM25 top-20 pages. */
  def searchHybridRrf(spark: SparkSession, dir: String): DataFrame = {
    val docs = T(spark, dir, "documents")
    val terms = Seq("vector", "hash", "join", "window")
    Search.rrfFuse(Seq(
      (Search.tfidfTopK(docs, terms, 20), "score_micro"),
      (Search.bm25TopK(docs, terms, 20), "score_micro")),
      "doc_id", c = 60, k = 10)
  }

  /** TRUE hybrid retrieval (the RAG-stack default): lexical BM25 over the
    * document text fused with the exact cosine top-k over the ALIGNED
    * embeddings table (doc_id = vec_id) by reciprocal-rank fusion —
    * rank-based, so the incomparable lexical/vector score scales need no
    * normalization. Both inputs are already bounded top-k pages, so the
    * fusion runs on 40 rows, never the corpus. */
  def searchHybridVec(spark: SparkSession, dir: String): DataFrame = {
    val docs = T(spark, dir, "documents")
    val terms = Seq("vector", "hash", "join", "window")
    val vec = Vectors.bruteForceTopK(T(spark, dir, "embeddings"), "vec_id",
      "embedding", queryVec(spark, dir), 20, exclude = Seq(0L))
      .withColumnRenamed("vec_id", "doc_id")
    Search.rrfFuse(Seq(
      (Search.bm25TopK(docs, terms, 20), "score_micro"),
      (vec, "similarity")), "doc_id", c = 60, k = 10)
  }

  /** Exact-phrase fulltext search over the positional index: a 3-word
    * phrase scored with phrase-unit integer TF-IDF. */
  def searchPhrase(spark: SparkSession, dir: String): DataFrame =
    Search.phraseTopK(T(spark, dir, "documents"),
      Seq("stream", "table", "hash"), k = 20)

  /** Proximity (sloppy-phrase) retrieval: same phrase as search_phrase
    * but each term may sit within ±2 of its exact slot, anchors weighted
    * by tightness — the Lucene `"..."~slop` rung. */
  def searchPhraseSloppy(spark: SparkSession, dir: String): DataFrame =
    Search.sloppyPhraseTopK(T(spark, dir, "documents"),
      Seq("stream", "table", "hash"), slop = 2, k = 20)

  /** Lexical diversity (type-token ratio) per source. */
  def textTtr(spark: SparkSession, dir: String): DataFrame =
    TextOps.typeTokenBySource(T(spark, dir, "documents"))

  /** Character-diversity quality signal (rational Simpson index in
    * micro-units) — catches degenerate text the token stats miss. */
  def textCharDiversity(spark: SparkSession, dir: String): DataFrame =
    TextOps.charDiversity(T(spark, dir, "documents"), "doc_id", "text")

  /** Heaps-law vocabulary growth at doc_id-prefix checkpoints (one corpus
    * scan, no global sort — term first-occurrences bucketed then cumsum'd
    * over the 4-row checkpoint table). */
  def textHeaps(spark: SparkSession, dir: String): DataFrame =
    TextOps.heapsGrowth(T(spark, dir, "documents"))

  /** Zipf rank-frequency head: top-20 terms with the integer Zipf ratio
    * (10⁶ under a perfect power law). */
  def textZipf(spark: SparkSession, dir: String): DataFrame =
    TextOps.zipfTable(T(spark, dir, "documents"), k = 20)

  /** Word burstiness (Church–Gale dispersion) for the top-20 terms:
    * ≈ 10⁶ Poisson glue vs ≫ 10⁶ clumpy content words. */
  def textBurstiness(spark: SparkSession, dir: String): DataFrame =
    TextOps.burstiness(T(spark, dir, "documents"), k = 20)

  /** Shared RAKE stopword list — a literal, mirrored in the oracle. */
  private val rakeStops = Seq("the", "a", "an", "of", "to", "and", "in",
    "is", "are", "for", "on", "with", "as", "by", "at", "or")

  /** RAKE keyphrases: top-20 stopword-free runs by the classic deg/freq
    * word-score sum (integer micro-units). */
  def textKeyphrases(spark: SparkSession, dir: String): DataFrame =
    TextOps.rakeKeyphrases(T(spark, dir, "documents"), rakeStops, k = 20)

  /** Corpus heavy-hitter bigrams (boilerplate detection). */
  def textTopNgrams(spark: SparkSession, dir: String): DataFrame =
    TextOps.topNgrams(T(spark, dir, "documents"), n = 2, k = 20)

  /** RAG chunker: 40-word windows stepping by 30 (10-word overlap). */
  def textChunks(spark: SparkSession, dir: String): DataFrame =
    TextOps.chunkDocs(T(spark, dir, "documents"), chunkSize = 40, step = 30)

  /** Exact-dup keeper selection preferring trusted sources. */
  def dedupPriority(spark: SparkSession, dir: String): DataFrame =
    Dedup.priorityKeepers(T(spark, dir, "documents"), "doc_id", "text",
      "source", Seq("src2", "src0"))

  /** Count-min sketch build + probe, with exact truth alongside (the
    * portable digit-only MD5 hash makes even the sketch counters
    * oracle-reproducible). */
  def sketchCountmin(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val words = T(spark, dir, "documents")
      .select(explode(graft.functions.words(col("text"))).as("term"))
    val sketch = Sketch.countMin(words, "term", depth = 4, width = 64)
    val probeTerms = Seq("join", "hash", "vector", "window", "data")
    val est = Sketch.estimate(sketch, probeTerms.toDF("term"), "term",
      depth = 4, width = 64)
    val truth = words.where(col("term").isin(probeTerms: _*))
      .groupBy("term").agg(count(lit(1)).as("true_cnt"))
    est.join(truth, Seq("term"))
  }

  /** Integer EWMA (α=1/2) of each user's time-ordered event values. The
    * sequence orders on microsecond ts (the precision DuckDB reads this
    * parquet at) with the unique event_id as tiebreak, so both engines
    * fold in the same total order. */
  def eventsEwma(spark: SparkSession, dir: String): DataFrame =
    Events.ewmaByUser(eventsUs(spark, dir).drop("ts").
      withColumnRenamed("ts_us", "ts"))

  /** Rolling-median/MAD local outlier flags per user (integer-exact
    * centered-window robust statistics). */
  def eventsAnomalyMad(spark: SparkSession, dir: String): DataFrame =
    Events.rollingMadAnomalies(eventsUs(spark, dir).drop("ts").
      withColumnRenamed("ts_us", "ts"))

  /** CUSUM changepoint alarms per user: the closed-form prefix-sum
    * statistic (no recurrence), self-calibrated integer
    * target/slack/threshold. */
  def eventsCusum(spark: SparkSession, dir: String): DataFrame =
    Events.cusumAlarms(eventsUs(spark, dir).drop("ts").
      withColumnRenamed("ts_us", "ts"))

  /** Lag-1/lag-2 raw autocorrelation per user in integer micro-units
    * (centi-unit values keep the ×10⁶ ratio inside Long). */
  def eventsAcf(spark: SparkSession, dir: String): DataFrame =
    Events.autocorrByUser(eventsUs(spark, dir).drop("ts").
      withColumnRenamed("ts_us", "ts"))

  /** Season-7 naive forecast error vs the random-walk baseline (integer
    * MASE: < 10⁶ ⟺ the weekly pattern beats a random walk). */
  def eventsMase(spark: SparkSession, dir: String): DataFrame =
    Events.seasonalNaiveError(eventsUs(spark, dir).drop("ts").
      withColumnRenamed("ts_us", "ts"), season = 7)

  /** Holt level+trend smoothing per user (packed two-accumulator fold;
    * the drift-aware step up from events_ewma). */
  def eventsHolt(spark: SparkSession, dir: String): DataFrame =
    Events.holtByUser(eventsUs(spark, dir).drop("ts").
      withColumnRenamed("ts_us", "ts"))

  /** Global event-type Markov transition matrix pooled from per-user
    * sequences (row-conditional probabilities in micro-units). */
  def eventsMarkov(spark: SparkSession, dir: String): DataFrame =
    Events.markovTransitions(eventsUs(spark, dir).drop("ts").
      withColumnRenamed("ts_us", "ts"))
      .orderBy("prev_type", "next_type")

  /** Hour-of-day seasonality strength (one-way η²) per event type. */
  def eventsEta2(spark: SparkSession, dir: String): DataFrame =
    Events.seasonalityEta2(eventsUs(spark, dir), "ts_us")
      .orderBy("event_type")

  /** Activity coverage per user: 30-minute windows per event, merged by
    * the relational sweep (total covered time, merged-run stats). */
  def eventsCoverage(spark: SparkSession, dir: String): DataFrame =
    Events.coverageIntervals(eventsUs(spark, dir).drop("ts").
      withColumnRenamed("ts_us", "ts"), lengthUs = 1800000000L)

  /** Temporal growth of the customer–part purchase graph: cumulative
    * node/edge counts and density per order month, first-occurrence
    * reduction so the corpus is scanned once for all snapshots. */
  def graphGrowth(spark: SparkSession, dir: String): DataFrame = {
    val edges = T(spark, dir, "lineitem")
      .join(T(spark, dir, "orders"), col("l_orderkey") === col("o_orderkey"))
      .select(col("o_custkey").as("a"), col("l_partkey").as("b"),
        (year(col("o_orderdate")) * 100 + month(col("o_orderdate")))
          .cast("long").as("m"))
    graft.graph.GraphAlgorithms.temporalGrowth(edges)
  }

  /** Reciprocity of the behavior graph: event-type transitions kept at
    * ≥ ~uniform propensity (195000 micro under 5 types) form a directed
    * graph; the metric is the mutual-edge fraction. */
  def graphReciprocity(spark: SparkSession, dir: String): DataFrame = {
    val t = Events.markovTransitions(eventsUs(spark, dir).drop("ts").
      withColumnRenamed("ts_us", "ts"))
    graft.graph.GraphAlgorithms.reciprocityStats(
      t.where(col("p_micro") >= 195000L)
        .select(col("prev_type").as("a"), col("next_type").as("b")))
  }

  /** Exact-budget mixture quotas: 1M tokens apportioned across sources by
    * temperature-0.5 mass with largest-remainder rounding (Σ = budget). */
  def curateMixtureQuota(spark: SparkSession, dir: String): DataFrame =
    Curation.mixtureQuota(T(spark, dir, "documents"), "text",
      budget = 1000000L)

  /** Incremental aggregate maintenance: per-day partial states merged to
    * per-type totals — the oracle aggregates DIRECTLY, so the hash gate
    * proves the merge law (state of union = merge of states) on real data. */
  def incrAggRollup(spark: SparkSession, dir: String): DataFrame = {
    // the partial-state key only partitions rows (it is dropped before
    // output — the merge law makes ANY partition equivalent), so the day
    // boundary needs no timestamp semantics: floor-divided epoch nanos
    val ev = eventsT(spark, dir)
      .select(col("event_type"), expr("ts div 86400000000000").as("day"),
        col("value"))
    val daily = Incremental.aggState(ev, Seq("event_type", "day"), "value")
    Incremental.finalize(
      Incremental.mergeStates(daily.drop("day"), Seq("event_type")),
      roundTo = 4)
  }

  /** Mergeable QUANTILE state: per-day histogram partials merged to
    * per-type p50/p95 — the oracle bins directly over all events, so the
    * hash gate proves the histogram merge law on real data. */
  def incrQuantileRollup(spark: SparkSession, dir: String): DataFrame = {
    val ev = eventsT(spark, dir)
      .select(col("event_type"), expr("ts div 86400000000000").as("day"),
        col("value"))
    val daily = Incremental.histState(ev, Seq("event_type", "day"), "value",
      width = 16, bins = 32)
    Incremental.finalizeHist(
      Incremental.mergeHistStates(daily.drop("day"), Seq("event_type"),
        bins = 32),
      width = 16, bins = 32, percents = Seq(50, 95))
  }

  /** KMV distinct sketch (k=256) over lineitem part keys, with the exact
    * distinct count alongside — the estimate AND its accuracy are both
    * hash-checked. */
  /** Portable integer HLL estimate of distinct parts beside the exact
    * count (the mergeable 64-Long-register industry-standard sketch,
    * every step SQL-reproducible). */
  def sketchHll(spark: SparkSession, dir: String): DataFrame = {
    val li = T(spark, dir, "lineitem")
    Sketch.hllEstimate(Sketch.hllSketch(li, "l_partkey", m = 64), m = 64)
      .crossJoin(li.agg(countDistinct("l_partkey").as("n_exact")))
  }

  def sketchKmv(spark: SparkSession, dir: String): DataFrame = {
    val li = T(spark, dir, "lineitem")
    Sketch.kmvEstimate(Sketch.kmvSketch(li, "l_partkey", k = 256), k = 256)
      .crossJoin(li.agg(countDistinct("l_partkey").as("n_exact")))
  }

  /** Heavy-hitter word summaries built per doc_id-parity half, then
    * MERGED — the gate replays build AND merge, proving the rollup law
    * the way `incr_agg_rollup` does for the scalar states. */
  def sketchHeavyHitters(spark: SparkSession, dir: String): DataFrame = {
    val items = T(spark, dir, "documents")
      .select(col("doc_id"),
        explode(graft.functions.words(col("text"))).as("word"))
    val halves = Seq(0, 1).map { p =>
      Sketch.heavyHitters(items.where(pmod(col("doc_id"), lit(2)) === p),
          "word", nShards = 4, capacity = 8)
        .withColumn("part", lit(p))
    }
    Sketch.heavyHittersMerge(halves.reduce(_ unionByName _), capacity = 8)
  }

  /** KMV sketch set algebra: vocabulary union/intersection/Jaccard
    * estimates for every source pair, all from one corpus scan — the
    * "which sources share vocabulary" curation signal computed entirely on
    * the tiny per-group sketch table. */
  def sketchKmvSetops(spark: SparkSession, dir: String): DataFrame = {
    val items = T(spark, dir, "documents")
      .select(col("source"),
        explode(graft.functions.words(col("text"))).as("tok"))
    Sketch.kmvSetOps(
      Sketch.kmvGroupSketch(items, "source", "tok", k = 128), k = 128)
      .orderBy("ga", "gb")
  }

  /** HLL set algebra over the per-source 3-gram shingle sets: union by
    * the register-max merge law, intersection by clamped
    * inclusion–exclusion, Jaccard micro — the constant-memory
    * (64 Longs/group) counterpart of sketch_kmv_setops. Shingles, not
    * words: the synthetic per-source vocabulary (~31 types) sits below
    * the raw HLL estimator's small-range floor, while the ~1.3k distinct
    * shingles per source are squarely in its operating regime (n/m ≈ 20). */
  def sketchHllSetops(spark: SparkSession, dir: String): DataFrame = {
    val items = T(spark, dir, "documents")
      .select(col("source"),
        explode(graft.functions.wordShingles(col("text"), 3)).as("tok"))
    Sketch.hllSetOps(
      Sketch.hllGroupSketch(items, "source", "tok", m = 64), m = 64)
      .orderBy("ga", "gb")
  }

  /** Mergeable MRL quantile sketch end-to-end: per-event_type sketches
    * built shuffle-free per input partition (only O(k·log n) state rows
    * move), rolled up into `__all__` FROM THE STATES, every estimate then
    * verified against its exact corpus rank. Output (grp, q, n, ok): `ok`
    * certifies trueRank(est) ∈ [r−err, r−1+err] — provably true by the
    * compaction lemma, so the oracle pins it as a constant while exact n
    * pins the groups; a ledger bug flips ok and fails the hash gate.
    * Values in integer milli-units (the engine-internal convention). */
  def sketchMrlQuantiles(spark: SparkSession, dir: String): DataFrame = {
    val items = eventsT(spark, dir).select(col("event_type"),
      (col("value") * 1000).cast("long").as("v_milli"))
    QuantileSketch.mrlQuantileReport(items, "event_type", "v_milli",
      k = 256, qs = Seq("p50" -> 50, "p90" -> 90, "p99" -> 99))
      .select(col("grp"), col("q"), col("n"),
        col("ok").cast("long").as("ok"))
      .orderBy("grp", "q")
  }

  /** Model-based quality scoring: corpus-trained smoothed bigram likelihood
    * per document (CCNet-style filter next to the rule-based gates). */
  def textLmBigram(spark: SparkSession, dir: String): DataFrame =
    LangModel.bigramScore(T(spark, dir, "documents"), "doc_id", "text")

  /** Fixed demo blocklist (shared with the oracle generator): single
    * words, multi-word phrases, an overlapping word/phrase pair, and a
    * never-matching entry. */
  val blocklistPatterns: Seq[String] =
    Seq("vector", "data", "the data", "hash join", "zzqq")

  /** Aho–Corasick blocklist scan: per-source hit report under leftmost-
    * non-overlapping per-pattern counting. */
  def curateBlocklist(spark: SparkSession, dir: String): DataFrame =
    operators.Blocklist.scanStats(spark, T(spark, dir, "documents"),
      "doc_id", "text", "source", blocklistPatterns)

  /** Content-defined chunking over word-3-gram hashes (mask 16):
    * per-source chunk counts, mean length, duplicate-chunk mass. */
  def dedupCdcChunks(spark: SparkSession, dir: String): DataFrame =
    Dedup.cdcChunkStats(T(spark, dir, "documents"), "doc_id", "text",
      "source", n = 3, mask = 16)

  /** Winnowing (MOSS) fingerprint selection over word-3-gram hashes,
    * window 4: per-source positions / selected / cross-doc-shared
    * fingerprints. */
  def dedupWinnowing(spark: SparkSession, dir: String): DataFrame =
    Dedup.winnowingStats(T(spark, dir, "documents"), "doc_id", "text",
      "source", n = 3, winSize = 4)

  /** Held-out stupid-backoff trigram scoring: model on even doc_ids,
    * scores on odd — per-source rollup with observable backoff counts. */
  def textLmTrigram(spark: SparkSession, dir: String): DataFrame = {
    val docs = T(spark, dir, "documents")
    val scored = LangModel.trigramBackoffScore(
      docs.where(col("doc_id") % 2 === 0),
      docs.where(col("doc_id") % 2 === 1), "doc_id", "text")
    scored.join(docs.select("doc_id", "source"), "doc_id")
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        sum("n_trigrams").as("sum_trigrams"),
        sum("score_micro").as("sum_score_micro"),
        sum("n_backoff").as("sum_backoff"))
  }

  /** Model-scored curriculum tiers: per SOURCE, ntile-4 routing by the
    * corpus-trained bigram likelihood (tie-broken by doc_id) — the
    * "quality tiers feed different training phases" assignment. The
    * window is keyed by source, so tiering shuffles once on the routing
    * key; a corpus-wide global sort never happens. */
  def corpusTiers(spark: SparkSession, dir: String): DataFrame = {
    val docs = T(spark, dir, "documents")
    val scored = LangModel.bigramScore(docs, "doc_id", "text")
      .join(docs.select("doc_id", "source"), "doc_id")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("source").orderBy(col("score"), col("doc_id"))
    scored.withColumn("tier", ntile(4).over(w))
      .groupBy("source", "tier")
      .agg(count(lit(1)).as("n_docs"),
        sum("n_bigrams").as("sum_bigrams"),
        round(min("score"), 6).as("min_score"),
        round(max("score"), 6).as("max_score"))
  }

  private val zorderDir = scala.collection.concurrent.TrieMap[String, String]()

  /** The z-order clustered-layout path on driver data: lineitem is rewritten
    * ONCE per JVM per sf dir Morton-ordered on (l_orderkey, l_partkey) —
    * the write-once layout that makes selective multi-dimensional scans
    * file-prunable at 100 TB (LayoutSpec proves the file-count win) — then
    * the query runs a 2-D selective filter over the clustered copy and must
    * hash-match the oracle over the original table. Bench warms the rewrite
    * in LOAD so the query is timed against the layout, not its creation. */
  private def zorderedLineitem(spark: SparkSession, dir: String): DataFrame = {
    val path = zorderDir.getOrElseUpdate(dir, {
      val p = java.nio.file.Files.createTempDirectory("graft-zorder").toString
      graft.sources.Layout.zorderWrite(T(spark, dir, "lineitem"),
        Seq("l_orderkey", "l_partkey"), p, numFiles = 32)
      p
    })
    spark.read.parquet(path)
  }

  /** Bench LOAD-stage hook: force the one-time z-order rewrite. */
  def warmZorder(spark: SparkSession, dir: String): Unit =
    zorderedLineitem(spark, dir)

  def layoutZorder(spark: SparkSession, dir: String): DataFrame =
    zorderedLineitem(spark, dir)
      .where(col("l_orderkey") < 1000 && col("l_partkey") < 200)
      .groupBy("l_returnflag")
      .agg(count(lit(1)).as("n_items"),
        round(sum("l_quantity"), 2).as("sum_qty"))

  /** The Hilbert-curve index arithmetic itself, oracle-checked: bucket
    * rollup of the codegen'd xy2d over integer-scaled (orderkey, partkey)
    * cells — the DuckDB oracle replays all 15 reflect-and-swap levels as
    * unrolled CTEs, so a single off-by-one in either engine's curve walk
    * breaks the hash. (The clustered WRITE is a physical property, proven
    * by LayoutSpec's file-pruning comparison like z-order.) */
  def layoutHilbert(spark: SparkSession, dir: String): DataFrame =
    T(spark, dir, "lineitem")
      .select(graft.functions.hilbertIndex(
        col("l_orderkey") % 32768, col("l_partkey") % 32768, 15).as("h"))
      .groupBy(shiftright(col("h"), 20).as("bucket"))
      .agg(count(lit(1)).as("n_rows"), min("h").as("min_h"),
        max("h").as("max_h"), sum("h").as("sum_h"))

  private val partDir = scala.collection.concurrent.TrieMap[String, String]()

  /** Hive-partitioned events copy (by event_type), written once per JVM
    * per sf dir; queries against it plan with PartitionFilters so pruned
    * types cost zero I/O (LayoutSpec asserts the plan + file counts).
    * Bench warms the write in LOAD. */
  private def partitionedEvents(spark: SparkSession, dir: String): DataFrame = {
    val path = partDir.getOrElseUpdate(dir, {
      val p = java.nio.file.Files.createTempDirectory("graft-part").toString
      graft.sources.Layout.partitionedWrite(eventsT(spark, dir), "event_type", p)
      p
    })
    spark.read.parquet(path)
  }

  /** Bench LOAD-stage hook: force the one-time partitioned write. */
  def warmPartitioned(spark: SparkSession, dir: String): Unit =
    partitionedEvents(spark, dir)

  /** Hourly rollup of one event type over the partitioned layout — must
    * hash-match the same query over the raw table (the layout is invisible
    * in the result; only the pruning changes). */
  def layoutPartitioned(spark: SparkSession, dir: String): DataFrame =
    Events.hourlyAgg(
      partitionedEvents(spark, dir).where(col("event_type") === "purchase"))

  private val tarDir = scala.collection.concurrent.TrieMap[String, String]()
  private val jsonlDir = scala.collection.concurrent.TrieMap[String, String]()

  /** JSONL round trip: documents written once as JSON Lines shards (the
    * interchange format most corpus pipelines exchange), read back with an
    * explicit schema (no inference scan), and audited per source. The
    * oracle computes the same audit from the parquet directly — equality
    * IS the fidelity proof (ids, unicode text, per-source counts all
    * survive the JSON encode/decode). */
  def jsonlRoundtrip(spark: SparkSession, dir: String): DataFrame = {
    val path = jsonlDir.getOrElseUpdate(dir, {
      val p = java.nio.file.Files.createTempDirectory("graft-jsonl").toString
      T(spark, dir, "documents")
        .select("doc_id", "source", "lang", "text")
        .repartition(8)
        .write.mode("overwrite").json(p)
      p
    })
    spark.read
      .schema("doc_id LONG, source STRING, lang STRING, text STRING")
      .json(path)
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        count_distinct(col("lang")).as("n_langs"),
        sum(col("doc_id")).as("sum_ids"),
        sum(length(col("text")).cast("long")).as("sum_chars"))
  }

  private val jsonlGzDir = scala.collection.concurrent.TrieMap[String, String]()

  /** Gzip-compressed JSONL round trip — the Common-Crawl-shaped ingest
    * format (every WET/WARC-derived dump ships as .jsonl.gz): written once
    * with the gzip codec, read back with an explicit schema. Gzip shards
    * are NOT splittable — one task per shard, so shard size = the write
    * partitioning is the parallelism knob at 100 TB (exactly why the
    * writer repartitions first). Audit equality against the parquet-direct
    * oracle is the fidelity proof, as with the plain JSONL entry. */
  def jsonlGzipRoundtrip(spark: SparkSession, dir: String): DataFrame = {
    val path = jsonlGzDir.getOrElseUpdate(dir, {
      val p = java.nio.file.Files.createTempDirectory("graft-jsonlgz").toString
      T(spark, dir, "documents")
        .select("doc_id", "source", "lang", "text")
        .repartition(8)
        .write.mode("overwrite").option("compression", "gzip").json(p)
      p
    })
    spark.read
      .schema("doc_id LONG, source STRING, lang STRING, text STRING")
      .json(path)
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        count_distinct(col("lang")).as("n_langs"),
        sum(col("doc_id")).as("sum_ids"),
        sum(length(col("text")).cast("long")).as("sum_chars"))
  }

  private val evoDir = scala.collection.concurrent.TrieMap[String, String]()

  /** Schema evolution read: two parquet batches of the same table written
    * with DIFFERENT schemas (the second adds a `quality` column), read
    * back as one dataset with `mergeSchema` — old rows surface the new
    * column as null. The additive-column migration every long-lived
    * lakehouse table goes through; the audit pins both the union row set
    * and the null accounting. */
  def lakeSchemaEvolution(spark: SparkSession, dir: String): DataFrame = {
    val path = evoDir.getOrElseUpdate(dir, {
      val p = java.nio.file.Files.createTempDirectory("graft-evo").toString
      val d = T(spark, dir, "documents")
      d.where(col("doc_id") % 2 === 0)
        .select("doc_id", "source", "lang")
        .write.mode("overwrite").parquet(p + "/batch=v1")
      d.where(col("doc_id") % 2 === 1)
        .select(col("doc_id"), col("source"), col("lang"),
          (length(col("text")) % 100).cast("long").as("quality"))
        .write.mode("overwrite").parquet(p + "/batch=v2")
      p
    })
    spark.read.option("mergeSchema", "true").parquet(path)
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        sum(col("doc_id")).as("sum_ids"),
        sum(when(col("quality").isNull, 1L).otherwise(0L)).as("n_pre_schema"),
        sum(coalesce(col("quality"), lit(0L))).as("sum_quality"))
  }

  private val orcDir = scala.collection.concurrent.TrieMap[String, String]()

  /** ORC round trip — the other mainstream columnar format next to
    * parquet: documents written once as ORC (native Spark source, its own
    * encodings/compression), read back and audited per source. Equality
    * against the parquet-direct oracle proves the full fidelity of the
    * encode/decode, including unicode text and nulls; predicate pushdown
    * and column pruning work identically to parquet (native columnar
    * source), so the layout family's pruning story carries over. */
  def orcRoundtrip(spark: SparkSession, dir: String): DataFrame = {
    val path = orcDir.getOrElseUpdate(dir, {
      val p = java.nio.file.Files.createTempDirectory("graft-orc").toString
      T(spark, dir, "documents")
        .select("doc_id", "source", "lang", "text")
        .repartition(8)
        .write.mode("overwrite").orc(p)
      p
    })
    spark.read.orc(path)
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        count_distinct(col("lang")).as("n_langs"),
        sum(col("doc_id")).as("sum_ids"),
        sum(length(col("text")).cast("long")).as("sum_chars"))
  }

  private val avroDir = scala.collection.concurrent.TrieMap[String, String]()

  /** Avro round trip — the row-major Hadoop interchange format next to
    * the columnar parquet/ORC pair, driven through the Avro container
    * format directly ([[graft.sources.AvroFiles]]; Spark ships avro-core
    * but not the spark-avro DataSource). Documents written once as
    * deflate-compressed schema-stamped shards, read back under the
    * explicit schema and audited per source; equality against the
    * parquet-direct oracle proves encode/decode fidelity (ids, unicode
    * text, nulls). */
  def avroRoundtrip(spark: SparkSession, dir: String): DataFrame = {
    val schema = org.apache.spark.sql.types.StructType.fromDDL(
      "doc_id LONG, source STRING, lang STRING, text STRING")
    val path = avroDir.getOrElseUpdate(dir, {
      val p = java.nio.file.Files.createTempDirectory("graft-avro").toString
      graft.sources.AvroFiles.write(
        T(spark, dir, "documents")
          .select("doc_id", "source", "lang", "text")
          .repartition(8), p)
      p
    })
    graft.sources.AvroFiles.read(spark, path, schema)
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        count_distinct(col("lang")).as("n_langs"),
        sum(col("doc_id")).as("sum_ids"),
        sum(length(col("text")).cast("long")).as("sum_chars"))
  }

  private val csvDir = scala.collection.concurrent.TrieMap[String, String]()

  /** CSV round trip — the remaining interchange format next to JSONL/
    * Arrow/tar: documents written once as RFC-4180 shards (double-quote
    * escaping; empty string written QUOTED so it survives as "" instead of
    * collapsing to null on read) and read back with an explicit schema +
    * `multiLine` (embedded newlines make CSV files non-splittable — at
    * 100 TB you forbid embedded newlines at ingest or use a container
    * format; here fidelity is the point). Audit equality against the
    * parquet-direct oracle IS the fidelity proof, as with JSONL. */
  def csvRoundtrip(spark: SparkSession, dir: String): DataFrame = {
    val path = csvDir.getOrElseUpdate(dir, {
      val p = java.nio.file.Files.createTempDirectory("graft-csv").toString
      T(spark, dir, "documents")
        .select("doc_id", "source", "lang", "text")
        .repartition(8)
        .write.mode("overwrite")
        .option("header", "true").option("escape", "\"")
        .option("emptyValue", "\"\"")
        .csv(p)
      p
    })
    spark.read
      .schema("doc_id LONG, source STRING, lang STRING, text STRING")
      .option("header", "true").option("escape", "\"")
      .option("multiLine", "true")
      // sentinel nullValue: only genuinely-missing (unquoted empty) fields
      // become null — a QUOTED empty string survives as "" instead of
      // being swallowed by the default nullValue="" match
      .option("nullValue", "\u0000")
      .csv(path)
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        count_distinct(col("lang")).as("n_langs"),
        sum(col("doc_id")).as("sum_ids"),
        sum(length(col("text")).cast("long")).as("sum_chars"))
  }

  /** Documents re-laid-out as WebDataset tar shards (two entries per
    * sample: `<key>.txt` text + `<key>.cls` language label), written once
    * per JVM per sf dir with samples key-partitioned so each shard holds
    * whole samples. Bench warms the write in LOAD. */
  private def tarDocuments(spark: SparkSession, dir: String): DataFrame = {
    val path = tarDir.getOrElseUpdate(dir, {
      val p = java.nio.file.Files.createTempDirectory("graft-tar").toString
      val parts = T(spark, dir, "documents")
        .select(format_string("doc%09d", col("doc_id")).as("key"),
          col("text"), col("lang"))
        .repartition(8, col("key"))
        .select(col("key"), explode(array(
          struct(lit("txt").as("ext"), encode(col("text"), "UTF-8").as("payload")),
          struct(lit("cls").as("ext"), encode(col("lang"), "UTF-8").as("payload"))))
          .as("e"))
        .select(col("key"), col("e.ext").as("ext"), col("e.payload").as("payload"))
      graft.sources.TarShards.write(parts, p)
      p
    })
    graft.sources.TarShards.read(spark, path)
  }

  /** Bench LOAD-stage hook: force the one-time tar-shard write. */
  def warmTar(spark: SparkSession, dir: String): Unit =
    tarDocuments(spark, dir)

  /** The same shards through the DataSource V2 connector
    * ([[graft.sources.v2.TarDataSource]]) with `payload` PRUNED: the scan
    * reads tar headers only (`size` is a header field), skipping every
    * data block — the metadata-audit access path over training shards.
    * Byte totals still reconcile against the documents table, proving the
    * header `size` agrees with the payload the writer framed. */
  def tarDsv2Pruned(spark: SparkSession, dir: String): DataFrame = {
    tarDocuments(spark, dir) // ensure the one-time shard write happened
    spark.read.format("graft.sources.v2.TarDataSource")
      .load(tarDir(dir))
      .groupBy("ext")
      .agg(
        count(lit(1)).as("n_entries"),
        count_distinct(col("key")).as("n_keys"),
        sum(col("size")).as("sum_bytes"))
      .orderBy("ext")
  }

  /** Bench LOAD hook: force the one-time IVF store writes (seed + kmeans). */
  def warmIvfStore(spark: SparkSession, dir: String): Unit = {
    annIvfPruned(spark, dir)
    annIvfStoreKmeans(spark, dir)
    annIvfRebalance(spark, dir) // write + rebalance is LOAD, probe is timed
    annIvfRetrain(spark, dir) // write + retrain is LOAD, probe is timed
  }

  /** Tar-shard round trip: documents → USTAR shards → distributed entry
    * decode → per-ext content invariants; the oracle recomputes them from
    * the table alone, so header layout, stride padding, and payload bytes
    * all have to survive the archive format. */
  def tarShardsRoundtrip(spark: SparkSession, dir: String): DataFrame =
    tarDocuments(spark, dir)
      .groupBy("ext")
      .agg(
        count(lit(1)).as("n_entries"),
        count_distinct(col("key")).as("n_keys"),
        sum(length(col("payload")).cast("long")).as("sum_bytes"),
        sum(ascii(substring(col("payload").cast("string"), 1, 1)).cast("long"))
          .as("sum_first"))
      .orderBy("ext")

  def curatePack(spark: SparkSession, dir: String): DataFrame =
    Curation.packStats(T(spark, dir, "documents"), budget = 200L)

  def curateRebalance(spark: SparkSession, dir: String): DataFrame =
    Curation.rebalanceWeights(T(spark, dir, "documents"))

  /** Deterministic 16-shard training shuffle with order-pinning checksums. */
  def curateShardShuffle(spark: SparkSession, dir: String): DataFrame =
    Curation.shardShuffleStats(T(spark, dir, "documents"), "doc_id",
      nShards = 16)

  /** fastText-shaped linear classifier apply over hashed unigram features. */
  def curateClassifierScore(spark: SparkSession, dir: String): DataFrame =
    Curation.classifierScoreStats(T(spark, dir, "documents"))

  /** TRAIN the quality classifier: 3 unrolled batch-perceptron rounds
    * over hashed unigram counts + bias, labels from the length gate. */
  def curateClassifierTrain(spark: SparkSession, dir: String): DataFrame =
    Curation.classifierTrainStats(T(spark, dir, "documents"), dim = 16,
      iters = 3, lenThreshold = 56)

  /** URL canonicalization collapse audit (lowercase host, strip
    * fragment, strip trailing slash) over injected links. */
  def curateUrlCanonical(spark: SparkSession, dir: String): DataFrame =
    Curation.urlCanonicalStats(T(spark, dir, "documents"))

  /** Incremental near-dup: every 10th doc arrives as the "new batch" and
    * probes the band index built over the other 90% — signature-agreement
    * verification, corpus text untouched. */
  def dedupIncrementalProbe(spark: SparkSession, dir: String): DataFrame = {
    val docs = T(spark, dir, "documents")
    val corpus = docs.where(pmod(col("doc_id"), lit(10L)) =!= 0)
    val batch = docs.where(pmod(col("doc_id"), lit(10L)) === 0)
    val index = Dedup.minhashBandIndex(corpus, "doc_id", "text",
      n = 3, numHashes = 16, numBands = 4)
    Dedup.probeNearDups(index, batch, "doc_id", "text",
      n = 3, numHashes = 16, numBands = 4, minAgree = 0.5)
  }

  /** Paragraph-level cross-doc dedup audit: 3-word windows recurring in
    * more than one document, bucketed by reach. */
  def dedupChunkDups(spark: SparkSession, dir: String): DataFrame =
    Dedup.chunkDupStats(T(spark, dir, "documents"), chunkSize = 3)

  /** ftfy-style encoding repair over deterministically injected mojibake;
    * the oracle derives the conservative-repair outcome analytically. */
  def curateFixEncoding(spark: SparkSession, dir: String): DataFrame =
    Curation.encodingFixInjectedStats(T(spark, dir, "documents"))

  /** 20 least-novel documents by first-occurrence 3-gram attribution. */
  def curateNovelty(spark: SparkSession, dir: String): DataFrame =
    Curation.ngramNoveltyBottomK(T(spark, dir, "documents"),
      "doc_id", "text", n = 3, k = 20)

  /** Per-source p05/p95 character-length outlier trim audit. */
  def curateLengthTrim(spark: SparkSession, dir: String): DataFrame =
    Curation.lengthOutlierStats(T(spark, dir, "documents"), "text",
      lo = 0.05, hi = 0.95)

  /** DSIR importance weighting: src0 as the target domain, every other
    * source scored by hashed-token target/raw ratio. */
  def curateDsir(spark: SparkSession, dir: String): DataFrame =
    Curation.importanceWeightStats(T(spark, dir, "documents"),
      targetSource = "src0", dim = 64)

  /** PII audit over text with deterministic doc_id-derived PII injected
    * (the synthetic corpus carries none); the oracle re-derives the same
    * strings and counts/redacts with its own regex engine. */
  def curatePii(spark: SparkSession, dir: String): DataFrame =
    Curation.piiInjectedStats(T(spark, dir, "documents"))

  /** HTML strip audit over deterministically injected markup. */
  def curateHtmlStrip(spark: SparkSession, dir: String): DataFrame =
    Curation.htmlInjectedStats(T(spark, dir, "documents"))

  /** URL/domain extraction audit over deterministically injected links. */
  def curateUrlDomains(spark: SparkSession, dir: String): DataFrame =
    Curation.urlInjectedStats(T(spark, dir, "documents"))
      .orderBy("source")

  /** Deterministic weighted sampling driven by the rebalance boosts. */
  def curateSampled(spark: SparkSession, dir: String): DataFrame =
    Curation.weightedSampleStats(T(spark, dir, "documents"))

  /** Split-leakage QA: dup groups spanning train/val/test. */
  def curateSplitLeakage(spark: SparkSession, dir: String): DataFrame =
    Curation.splitLeakage(T(spark, dir, "documents"))

  /** The composed curation pipeline (eval holdout → exact dedup →
    * decontamination → split → packing → per-split manifest). */
  def curateE2e(spark: SparkSession, dir: String): DataFrame =
    Curation.endToEndStats(T(spark, dir, "documents"), evalMod = 13,
      budget = 200L)

  /** Shared snapshot + deterministic changelog for the lakehouse pair:
    * keys ≡0 (mod 10) get a +1000 update (and ≡0 mod 100 a later +2000
    * one — last-writer-wins must pick it), ≡1 are deleted, ≡2 spawn
    * inserts under shifted keys. */
  private def ordersChangelog(o: DataFrame): DataFrame = {
    val upd1 = o.where(col("o_orderkey") % 10 === 0)
      .withColumn("o_totalprice", col("o_totalprice") + 1000)
      .withColumn("seq", lit(1L)).withColumn("op", lit("U"))
    val upd2 = o.where(col("o_orderkey") % 100 === 0)
      .withColumn("o_totalprice", col("o_totalprice") + 2000)
      .withColumn("seq", lit(2L)).withColumn("op", lit("U"))
    val dels = o.where(col("o_orderkey") % 10 === 1)
      .withColumn("seq", lit(1L)).withColumn("op", lit("D"))
    val ins = o.where(col("o_orderkey") % 10 === 2)
      .withColumn("o_orderkey", col("o_orderkey") + 100000000L)
      .withColumn("o_orderstatus", lit("N"))
      .withColumn("seq", lit(1L)).withColumn("op", lit("I"))
    upd1.unionByName(upd2).unionByName(dels).unionByName(ins)
  }

  private def ordersSnapshot(spark: SparkSession, dir: String): DataFrame =
    T(spark, dir, "orders")
      .select("o_orderkey", "o_orderstatus", "o_totalprice")

  /** MERGE INTO: apply the changelog, summarize the merged snapshot. */
  def lakeMergeUpsert(spark: SparkSession, dir: String): DataFrame = {
    val o = ordersSnapshot(spark, dir)
    operators.Lakehouse
      .mergeSnapshot(o, ordersChangelog(o), Seq("o_orderkey"), "seq", "op")
      .groupBy("o_orderstatus")
      .agg(count(lit(1)).as("n_rows"),
        round(sum("o_totalprice").cast("double"), 2).as("total"))
  }

  /** CDC derivation: diff the pre- and post-merge snapshots — must
    * recover exactly the applied changes (I/D/U with key checksums). */
  def lakeSnapshotDiff(spark: SparkSession, dir: String): DataFrame = {
    val o = ordersSnapshot(spark, dir)
    val merged = operators.Lakehouse
      .mergeSnapshot(o, ordersChangelog(o), Seq("o_orderkey"), "seq", "op")
    operators.Lakehouse.snapshotDiff(o, merged, Seq("o_orderkey"))
      .groupBy("op")
      .agg(count(lit(1)).as("n_keys"), sum("o_orderkey").as("key_sum"))
  }

  /** Second deterministic changelog batch (applies after
    * [[ordersChangelog]]): +500 updates on %10==3 keys (untouched by
    * batch 1) and deletes of %100==40 keys (updated in batch 1 — the
    * overwrite-then-delete lineage time travel must replay correctly). */
  private def ordersChangelog2(o: DataFrame): DataFrame = {
    val upd = o.where(col("o_orderkey") % 10 === 3)
      .withColumn("o_totalprice", col("o_totalprice") + 500)
      .withColumn("seq", lit(1L)).withColumn("op", lit("U"))
    val dels = o.where(col("o_orderkey") % 100 === 40)
      .withColumn("seq", lit(1L)).withColumn("op", lit("D"))
    upd.unionByName(dels)
  }

  /** Time travel: audit the orders snapshot AS OF versions 0, 1, 2 — the
    * base and each changelog fold ([[operators.Lakehouse.readVersion]]). */
  def lakeTimeTravel(spark: SparkSession, dir: String): DataFrame = {
    val o = ordersSnapshot(spark, dir)
    val logs = Seq(ordersChangelog(o), ordersChangelog2(o))
    (0 to 2).map { v =>
      operators.Lakehouse
        .readVersion(o, logs, v, Seq("o_orderkey"), "seq", "op")
        .agg(count(lit(1)).as("n_rows"),
          round(sum("o_totalprice").cast("double"), 2).as("total"))
        .select(lit(v).as("version"), col("n_rows"), col("total"))
    }.reduce(_ unionByName _)
  }

  /** Small-file compaction plan over the documents "manifest" (one file
    * per doc, source-partitioned, 4000-byte target): the post-compaction
    * file layout with zone-map min/max per bin — planned from metadata
    * only, no content reads. */
  def lakeCompact(spark: SparkSession, dir: String): DataFrame =
    operators.Lakehouse.compactionPlan(
      T(spark, dir, "documents"), "source", "doc_id", "n_chars",
      targetBytes = 4000L)
      .orderBy("source", "bin")

  /** The SQL extension surface end-to-end (§2.10): plain `spark.sql` text
    * calling the injected codegen expressions (`graft_token_estimate`,
    * `graft_nfc`) — what a SQL-only user of the library sees. Same
    * scan-bound plan as the DataFrame API path (the functions resolve to
    * the identical Catalyst expressions). */
  def sqlSurface(spark: SparkSession, dir: String): DataFrame = {
    graft.functions.registerAll(spark)
    T(spark, dir, "documents").createOrReplaceTempView("graft_documents")
    spark.sql(
      """SELECT lang,
        |  CAST(count(*) AS BIGINT) AS n_docs,
        |  sum(graft_token_estimate(
        |    filter(split(text, '\\s+'), w -> w != ''))) AS total_tokens,
        |  CAST(count(DISTINCT graft_nfc(source)) AS BIGINT) AS n_sources
        |FROM graft_documents GROUP BY lang""".stripMargin)
  }

  /** Per-column ANALYZE-style profile of the documents table, one pass. */
  def profileDocuments(spark: SparkSession, dir: String): DataFrame =
    Profile.tableProfile(T(spark, dir, "documents"),
      Seq("doc_id", "text", "lang", "source", "n_chars"))

  /** Declarative DQ gate over lineitem: uniqueness, non-null, domain
    * range, and referential integrity rules, each a violation count +
    * pass flag ([[operators.Profile.checkReport]]). */
  def dqChecks(spark: SparkSession, dir: String): DataFrame = {
    val li = T(spark, dir, "lineitem")
    val orders = T(spark, dir, "orders")
    Profile.checkReport(Seq(
      "pk_unique" -> li.groupBy("l_orderkey", "l_linenumber")
        .agg(count(lit(1)).as("n")).where(col("n") > 1),
      "suppkey_not_null" -> li.where(col("l_suppkey").isNull),
      "quantity_in_domain" ->
        li.where(col("l_quantity") < 1 || col("l_quantity") > 50),
      "discount_in_domain" ->
        li.where(col("l_discount") < 0 || col("l_discount") > 1),
      "orderkey_ri" -> li.join(orders,
        li("l_orderkey") === orders("o_orderkey"), "left_anti")))
  }

  def mmBinaryStats(spark: SparkSession, dir: String): DataFrame =
    TextOps.binaryStatsBySource(T(spark, dir, "documents"))

  /** Multimodal decode via mapPartitions (real container-header decoders;
    * text payloads exercise the no-false-positive path, n_media = 0). */
  def mmDecodeFeatures(spark: SparkSession, dir: String): DataFrame =
    Multimodal.featureStats(spark, T(spark, dir, "documents"))

  /** Encode→decode round trip through the REAL byte parsers: per-doc
    * container headers are synthesized from (doc_id, n_chars), parsed back
    * by [[Multimodal.decodeHeader]], and aggregated; the oracle recomputes
    * the expected dims arithmetically without seeing any bytes. */
  def mmDecodeRoundtrip(spark: SparkSession, dir: String): DataFrame =
    Multimodal.mediaDecodeRoundtrip(spark, T(spark, dir, "documents"))

  /** Real PCM decode end-to-end: formula → WAV bytes → windowed sample
    * decode → integer features; the oracle recomputes from the formula. */
  def mmAudioFrames(spark: SparkSession, dir: String): DataFrame =
    Multimodal.audioDecodeRoundtrip(spark, T(spark, dir, "documents"), nFrames = 4)

  /** Real pixel decode end-to-end: formula → BMP bytes → pixel decode →
    * nearest-neighbor 4×4 resize; the oracle recomputes from the formula. */
  def mmImageResize(spark: SparkSession, dir: String): DataFrame =
    Multimodal.imageDecodeRoundtrip(spark, T(spark, dir, "documents"))

  /** Real PNG decode end-to-end: formula → PNG bytes (all five row
    * filters) → inflate + unfilter → 4×4 resize; oracle from the formula. */
  def mmPngPixels(spark: SparkSession, dir: String): DataFrame =
    Multimodal.pngDecodeRoundtrip(spark, T(spark, dir, "documents"))

  /** Full-color PNG roundtrip (3-channel filters + inflate on the decode
    * path): per-channel formula planes survive the real RGB codec
    * bit-exactly; the oracle replays the formulas. */
  def mmPngColor(spark: SparkSession, dir: String): DataFrame =
    Multimodal.pngColorRoundtrip(spark, T(spark, dir, "documents"))

  /** Histogram equalization over real BMP-decoded pixels: the narrow
    * input band stretches to full range; oracle rebuilds the cdf remap
    * relationally from the formula. */
  def mmImageEqualize(spark: SparkSession, dir: String): DataFrame =
    Multimodal.imageEqualizeRoundtrip(spark, T(spark, dir, "documents"))

  /** Real GIF decode end-to-end: formula → GIF89a bytes (real LZW
    * compression) → LZW decompress + palette luma → 4×4 resize; oracle
    * from the formula. */
  def mmGifPixels(spark: SparkSession, dir: String): DataFrame =
    Multimodal.gifDecodeRoundtrip(spark, T(spark, dir, "documents"))

  /** REAL baseline JPEG codec roundtrip: formula → full encoder (DCT,
    * quantize, canonical Huffman) → full decoder (marker walk, entropy
    * decode, dequant, IDCT) → per-block-position aggregate. Bit-exact by
    * the DC-quant-8 constant-block construction; spec cross-validates
    * both directions against JDK ImageIO. */
  def mmJpegPixels(spark: SparkSession, dir: String): DataFrame =
    Jpeg.jpegDecodeRoundtrip(spark, T(spark, dir, "documents"))

  /** Full-color JPEG roundtrip (chroma dequant + IDCT + upsample on the
    * decode path): block-constant Y/Cb/Cr formula planes survive the real
    * 3-component codec bit-exactly; the oracle replays the formula. */
  def mmJpegColor(spark: SparkSession, dir: String): DataFrame =
    Jpeg.jpegColorRoundtrip(spark, T(spark, dir, "documents"))

  /** IMAGE near-dup dedup end to end: 7 planted grating patterns with
    * per-doc pixel noise, LOSSY JPEG encode+decode, 63-bit DCT pHash,
    * SimHash-style band pairing + exact Hamming verify. The oracle knows
    * the planting — every same-pattern pair must surface (recall through
    * JPEG loss), zero cross-pattern pairs may (precision). */
  def mmPhashPairs(spark: SparkSession, dir: String): DataFrame =
    ImageHash.phashDedupReport(spark, T(spark, dir, "documents"))

  /** COLOR image near-dup dedup — the recolor case a gray hash cannot
    * see: one shared luma layout (plus per-doc noise), 5 chroma patterns,
    * the real 4:4:4 JPEG codec both ways, per-channel block-mean hashes,
    * banding over the concatenated 192-bit signature. The luma word's
    * band buckets hold the whole corpus and are dropped by the occupancy
    * valve; the chroma bands alone carry the recall. */
  def mmPhashColor(spark: SparkSession, dir: String): DataFrame =
    ImageHash.colorDedupReport(spark, T(spark, dir, "documents"))

  /** Fixed-point Goertzel band energy over real decoded PCM: formula →
    * WAV bytes → container walk + sample decode → 4-bin spectral filter;
    * oracle replays the recurrence on the formula samples. */
  def mmAudioGoertzel(spark: SparkSession, dir: String): DataFrame =
    Multimodal.audioGoertzelRoundtrip(spark, T(spark, dir, "documents"))

  /** Incremental IMAGE near-dup: the recolor corpus is signed ONCE into
    * a band index (the persisted artifact — corpus images never
    * re-decoded), and a new batch probes it with one (band, key)
    * equi-join + stored-signature Hamming verify. Every new image must
    * match exactly its recolor group's corpus images at distance 0. */
  def mmPhashProbe(spark: SparkSession, dir: String): DataFrame =
    ImageHash.colorProbeReport(spark, T(spark, dir, "documents"))

  /** AUDIO near-dup dedup: 4 planted melodies at per-doc volumes with
    * sample noise, real WAV encode + container decode, dominant-bin
    * one-hot fingerprint (16 frames × 4 Goertzel bins), banded Hamming
    * pairing. Volume and noise must not move a dominant bin; distinct
    * melodies disagree in every frame. */
  def mmAudioFingerprint(spark: SparkSession, dir: String): DataFrame =
    graft.operators.AudioFingerprint.audioDedupReport(
      spark, T(spark, dir, "documents"))

  /** VIDEO near-dup dedup: 4 planted clips (6-frame animated GIFs, frames
    * differ within a clip) at per-doc brightness/contrast with pixel
    * noise, real multi-frame container decode, sampled-keyframe aHash
    * signature (3 × 64 bits, word order = temporal order), capped
    * multi-word banding. Jitter and the codec must not flip a bit;
    * distinct clips disagree in ≥ 96 of 192 bits. */
  def mmVideoFingerprint(spark: SparkSession, dir: String): DataFrame =
    graft.operators.VideoFingerprint.videoDedupReport(
      spark, T(spark, dir, "documents"))

  /** Incremental VIDEO near-dup: the clip corpus is signed ONCE into a
    * band index and a new batch probes it — stored videos are never
    * re-decoded. Per group n_matched = n_new · n_old at distance 0. */
  def mmVideoProbe(spark: SparkSession, dir: String): DataFrame =
    graft.operators.VideoFingerprint.videoProbeReport(
      spark, T(spark, dir, "documents"))

  /** Shot-boundary detection: doc_id % 3 + 1 planted segments per
    * 12-frame clip, consecutive-frame aHash Hamming threshold through
    * the real animated-GIF roundtrip — n_cuts = doc_id % 3 exactly. */
  def mmVideoScenes(spark: SparkSession, dir: String): DataFrame =
    graft.operators.VideoFingerprint.videoSceneReport(
      spark, T(spark, dir, "documents"))

  /** WAV decode → integer linear-interp 2/3-rate resample (formula
    * oracle: the interpolation recomputed at source coordinates,
    * bytes-blind). */
  def mmAudioResample(spark: SparkSession, dir: String): DataFrame =
    Multimodal.audioResampleRoundtrip(spark, T(spark, dir, "documents"))

  // ---- events (batch form; streaming variants in graft.operators.Events) ----

  /** Events load, normalized so `ts` is ALWAYS epoch-nanos LongType
    * downstream. The driver has shipped this table under two physical
    * schemas across rounds: TIMESTAMP(NANOS), which Spark only reads as
    * int64 nanos behind the legacy flag, and timestamp[us], which Spark
    * reads as TIMESTAMP_NTZ. DuckDB surfaces both as microsecond TIMESTAMP,
    * so the oracle SQL (epoch_us/date_trunc) is schema-independent; this is
    * the Spark-side equivalent. Session timezone is UTC (Sessions.builder),
    * making the NTZ→instant cast wall-clock-exact. */
  private def eventsT(spark: SparkSession, dir: String): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val raw = T(spark, dir, "events")
    raw.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType => raw
      case _ => // TimestampType or TimestampNTZType → epoch nanos
        raw.withColumn("ts", unix_micros(col("ts").cast("timestamp")) * lit(1000L))
    }
  }

  /** Events at microsecond precision: the driver parquet is TIMESTAMP(NANOS)
    * (int64 nanos to Spark under the legacy flag), but DuckDB reads the same
    * file floor-truncated to microsecond TIMESTAMP — so the temporal-join
    * surface compares at exact integer micros on both engines. Floor
    * division via decimal, not double: epoch nanos exceed 2^53. */
  private def eventsUs(spark: SparkSession, dir: String): DataFrame =
    eventsT(spark, dir).withColumn("ts_us",
      floor(col("ts").cast("decimal(38,0)") / lit(1000L)).cast("long"))

  /** As-of join over events: each click attaches the most recent
    * at-or-before view of the same user (inclusive). The right side is
    * pre-deduped to one row per (user, instant) so equal-ts tie resolution
    * cannot differ between engines. Oracle = DuckDB's native ASOF JOIN. */
  def joinAsof(spark: SparkSession, dir: String): DataFrame = {
    val e = eventsUs(spark, dir)
    val clicks = e.where(col("event_type") === "click")
      .select(col("user_id"), col("ts_us"), col("event_id").as("click_id"))
    val views = e.where(col("event_type") === "view")
      .groupBy("user_id", "ts_us").agg(max("event_id").as("view_id"))
    Joins.asofJoin(clicks, views, "user_id", "ts_us", Seq("view_id"))
      .select(col("click_id"), col("view_id"))
  }

  /** The same as-of query through the CUSTOM physical operator
    * (graft.plans.AsOfJoin → AsOfJoinExec): one streaming sort-merge
    * pass, O(1) per-partition state, no union/window in the plan. The
    * oracle is DuckDB's native ASOF JOIN — identical to join_asof's, so
    * the hash gate proves the custom exec equals both the compositional
    * form and the reference engine. */
  def joinAsofExec(spark: SparkSession, dir: String): DataFrame = {
    val e = eventsUs(spark, dir)
    val clicks = e.where(col("event_type") === "click")
      .select(col("user_id"), col("ts_us"), col("event_id").as("click_id"))
    val views = e.where(col("event_type") === "view")
      .groupBy("user_id", "ts_us").agg(max("event_id").as("view_id"))
    graft.plans.AsOfJoin.asof(clicks, views, "user_id", "ts_us",
      Seq("view_id"))
      .select(col("click_id"), col("view_id"))
  }

  /** Range join over events: clicks matched to the one-hour half-open
    * window after each error of the same user, binned at 15 minutes (≈ the
    * window length ⇒ ≤ 5 bins per interval). */
  def joinRange(spark: SparkSession, dir: String): DataFrame = {
    val e = eventsUs(spark, dir)
    val clicks = e.where(col("event_type") === "click")
      .select(col("user_id"), col("ts_us"), col("event_id").as("click_id"))
    val errors = e.where(col("event_type") === "error")
      .select(col("user_id"), col("ts_us").as("w_start"),
        (col("ts_us") + lit(3600L * 1000000L)).as("w_end"),
        col("event_id").as("error_id"))
    Joins.rangeJoinBinned(clicks, errors, "user_id", "ts_us",
        "w_start", "w_end", binWidth = 900L * 1000000L)
      .select(col("click_id"), col("error_id"))
  }

  /** Interval-overlap self-join: shipping windows derived from lineitem
    * (ship day, length 1 + quantity mod 30 days) overlapped within each
    * supplier, binned at 32 days, each unordered pair counted once;
    * per-supplier pair count and total overlap days. */
  def joinInterval(spark: SparkSession, dir: String): DataFrame = {
    // bulk shipments only (quantity > 45, ~10% of lines): the pair volume
    // of an interval self-overlap grows with density², so the catalog
    // entry overlaps the population whose concurrency is actually
    // interesting — the operator itself is unrestricted
    val li = T(spark, dir, "lineitem")
      .where(col("l_quantity") > 45)
      .select(
      col("l_suppkey"),
      unix_date(to_date(col("l_shipdate"))).cast("long").as("s"),
      (unix_date(to_date(col("l_shipdate"))) +
        lit(1) + col("l_quantity").cast("int") % 30).cast("long").as("e"),
      struct(col("l_orderkey"), col("l_linenumber")).as("id"))
    val a = li.toDF("l_suppkey", "sa", "ea", "ida")
    val b = li.toDF("l_suppkey", "sb", "eb", "idb")
    Joins.intervalJoinBinned(a, b, "l_suppkey",
        "sa", "ea", "sb", "eb", binWidth = 32L)
      .where(col("ida") < col("idb"))
      .groupBy("l_suppkey")
      .agg(count(lit(1)).as("n_pairs"),
        sum(least(col("ea"), col("eb")) - greatest(col("sa"), col("sb")))
          .as("sum_overlap_days"))
  }

  /** Semi-structured column handling: the events `props` column is JSON
    * text; extract the typed field with the codegen'd JSON path expression
    * (no UDF, stays in whole-stage codegen) and aggregate — the
    * schema-on-read shape every event pipeline needs. */
  def eventsJsonProps(spark: SparkSession, dir: String): DataFrame =
    eventsT(spark, dir)
      .withColumn("k", get_json_object(col("props"), "$.k").cast("long"))
      .groupBy("event_type")
      .agg(count(lit(1)).as("n_events"),
        sum("k").as("sum_k"),
        min("k").as("min_k"),
        max("k").as("max_k"),
        count_distinct(col("k")).as("n_distinct_k"))

  def eventsHourly(spark: SparkSession, dir: String): DataFrame =
    Events.hourlyAgg(eventsT(spark, dir))

  /** Classical additive seasonal decomposition of the global hourly count
    * series: the 24-hour daily-shape profile (seasonal index per
    * hour-of-day in micro-units, centered-MA trend removed). */
  def eventsSeasonal(spark: SparkSession, dir: String): DataFrame =
    Events.seasonalDecompose(eventsT(spark, dir))

  /** Trailing 1-hour per-user range window over every event. */
  def eventsRolling(spark: SparkSession, dir: String): DataFrame =
    Events.rollingWindowStats(eventsT(spark, dir), windowSeconds = 3600L)

  /** Per-type Tukey-fence outlier counts (exact quartiles + broadcast
    * fences). */
  def eventsOutliers(spark: SparkSession, dir: String): DataFrame =
    Events.iqrOutliers(eventsT(spark, dir))

  /** SCD2 validity intervals over each user's event history. */
  def eventsScd2(spark: SparkSession, dir: String): DataFrame =
    Events.scd2Intervals(eventsT(spark, dir))

  /** Point-in-time SCD2 lookup: every click reads the purchase-state row
    * that was valid at its instant — the dimension build
    * ([[operators.Events.scd2Intervals]] over purchases) composed with the
    * binned range join ([[operators.Joins.rangeJoinBinned]]); the open
    * current interval is capped at the dimension horizon so it bins
    * finitely. The classic "join facts to a slowly changing dimension as
    * of event time" shape. */
  def joinScd2Lookup(spark: SparkSession, dir: String): DataFrame = {
    val e = eventsT(spark, dir)
      .withColumn("tss", expr("ts div 1000000000"))
    val dims = Events.scd2Intervals(e.where(col("event_type") === "purchase"))
      .select(col("user_id"), col("event_id").as("dim_id"), col("value"),
        col("valid_from"), col("valid_to"))
    val horizon = dims.agg((max("valid_from") + 1).as("horizon"))
    val capped = dims.crossJoin(broadcast(horizon))
      .withColumn("v_end", coalesce(col("valid_to"), col("horizon")))
    val clicks = e.where(col("event_type") === "click")
      .select(col("user_id"), col("event_id").as("click_id"), col("tss"))
    Joins.rangeJoinBinned(clicks, capped, "user_id", "tss",
        "valid_from", "v_end", binWidth = 86400L)
      .agg(count(lit(1)).as("n_matched"),
        sum("click_id").as("sum_click_ids"),
        sum("dim_id").as("sum_dim_ids"),
        round(sum("value"), 2).as("sum_state"))
  }

  /** Top principal direction of the embedding corpus by 3 rounds of
    * integer power iteration (mean-centered, milli-quantized). */
  def embPowerIteration(spark: SparkSession, dir: String): DataFrame =
    Vectors.powerIterationTopDir(T(spark, dir, "embeddings"),
      "vec_id", "embedding", iters = 3)

  /** Typo-tolerant name pairs (SymSpell deletion blocking + exact
    * levenshtein verify) over the distinct part-name universe. */
  def erFuzzyPairs(spark: SparkSession, dir: String): DataFrame =
    Fuzzy.nearNamePairs(T(spark, dir, "part").select(col("p_name").as("name")))

  /** Soundex blocking histogram over the part-name first words (the
    * phonetic complement of the SymSpell deletion blocking). */
  def erSoundex(spark: SparkSession, dir: String): DataFrame =
    Fuzzy.soundexBlocks(
      T(spark, dir, "part")
        .select(regexp_extract(col("p_name"), "^[a-z]+", 0).as("name"))
        .where(length(col("name")) > 0))
      .orderBy("code")

  /** Pairwise Pearson correlation of lineitem measures (quantity in
    * units, price floored to whole units, discount in centi) — exact
    * Long moment sums plus the IEEE-mirrored rounded r. */
  def profileCorr(spark: SparkSession, dir: String): DataFrame =
    Profile.corrPairs(T(spark, dir, "lineitem"), Seq(
      "qty" -> col("l_quantity").cast("long"),
      "price" -> floor(col("l_extendedprice")).cast("long"),
      "disc" -> round(col("l_discount") * 100, 0).cast("long")))
      .orderBy("pair")

  /** Gaps-and-islands continuity audit: each customer's orderkey
    * sequence profiled for islands and gaps (Tabibitosan — one keyed
    * window, no self-join), rolled up across customers. */
  def dqIslands(spark: SparkSession, dir: String): DataFrame =
    Profile.gapIslands(T(spark, dir, "orders"), "o_custkey", "o_orderkey")

  /** Distribution drift between two corpus halves (even vs odd orders)
    * over 10 quantity bins: per-bin L1 and two-sample χ² contributions in
    * integer micro-units + a bin = -1 rollup. The ingest-gate check a
    * daily pipeline runs before admitting a new crawl. */
  def dqDrift(spark: SparkSession, dir: String): DataFrame = {
    val li = T(spark, dir, "lineitem")
    val bin = least(lit(9L),
      expr("(cast(l_quantity as bigint) - 1) div 5"))
    Profile.driftReport(
      li.where(col("l_orderkey") % 2 === 0),
      li.where(col("l_orderkey") % 2 === 1), bin)
  }

  /** One-pass ROLLUP profile of lineitem by returnflag / linestatus. */
  def profileRollup(spark: SparkSession, dir: String): DataFrame =
    Profile.rollupProfile(T(spark, dir, "lineitem"),
      "l_returnflag", "l_linestatus", "l_quantity")

  /** Equi-width value histogram per event type (10 buckets over [0, 100);
    * floor arithmetic on doubles is engine-identical). */
  def eventsHistogram(spark: SparkSession, dir: String): DataFrame =
    eventsT(spark, dir)
      .groupBy(col("event_type"),
        least(lit(9L), floor(col("value") / 10)).cast("long").as("bucket"))
      .agg(count(lit(1)).as("n_events"))

  /** Equi-DEPTH histogram per event type: NTILE(4) over a deterministic
    * total order (value, event_id) — each bin holds the same row count and
    * the bin edges come out as raw column doubles (bit-identical in both
    * engines, so no rounding is needed, unlike derived floats). The
    * data-profiling complement of the equi-width histogram above. */
  def eventsEquidepth(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("event_type"))
      .orderBy(col("value"), col("event_id"))
    eventsT(spark, dir)
      .select(col("event_type"), col("value"), col("event_id"))
      .withColumn("bin", ntile(4).over(w))
      .groupBy(col("event_type"), col("bin"))
      .agg(count(lit(1)).as("n_events"),
        min(col("value")).as("lo"), max(col("value")).as("hi"))
  }

  /** Hour x event-type PIVOT (wide counts per hour) — the reshaping
    * operator; the fixed value list keeps column names deterministic. */
  def eventsPivot(spark: SparkSession, dir: String): DataFrame =
    eventsT(spark, dir)
      .groupBy(date_format(
        timestamp_seconds(expr("((ts div 1000000000) div 3600) * 3600")),
        "yyyy-MM-dd HH").as("hour"))
      .pivot("event_type", Seq("view", "click", "purchase", "signup", "error"))
      .count()
      .na.fill(0L)

  /** Conversion funnel view -> click -> purchase (strictly ordered). */
  def eventsFunnel(spark: SparkSession, dir: String): DataFrame =
    Events.funnelCounts(eventsT(spark, dir), Seq("view", "click", "purchase"))

  /** Ranking-window function family over one keyed window: rank,
    * percent_rank, cume_dist, ntile — deterministic total order
    * (acctbal desc, custkey). */
  def windowRankFuncs(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("c_nationkey")
      .orderBy(col("c_acctbal").desc, col("c_custkey"))
    T(spark, dir, "customer")
      .select(col("c_nationkey"), col("c_custkey"),
        rank().over(w).as("rnk"),
        round(percent_rank().over(w), 6).as("pct_rank"),
        round(cume_dist().over(w), 6).as("cume"),
        ntile(4).over(w).as("quartile"))
      .where(col("rnk") <= 10)
  }

  /** Per-label embedding centroids over the embeddings table. */
  def embLabelCentroids(spark: SparkSession, dir: String): DataFrame =
    Vectors.labelCentroids(T(spark, dir, "embeddings"), "label", "embedding")

  /** HashingTF featurization: 16-slot hashed count vectors, unpivoted. */
  def textFeatureHash(spark: SparkSession, dir: String): DataFrame =
    TextOps.hashingTf(T(spark, dir, "documents"), dim = 16)

  /** Collocation bigrams by exact integer lift (log-free PMI). */
  def textCollocations(spark: SparkSession, dir: String): DataFrame =
    TextOps.collocations(T(spark, dir, "documents"), minCount = 5L, k = 20)

  /** Pairwise label-centroid cosine affinity. */
  def embLabelAffinity(spark: SparkSession, dir: String): DataFrame =
    Vectors.labelAffinity(T(spark, dir, "embeddings"), "label", "embedding")

  /** Scalar-quantized (int8) ANN: ADC over dequantized codes + exact
    * re-rank — completes the LSH/IVF/PQ/SQ quantization family. */
  def annSq8TopK(spark: SparkSession, dir: String): DataFrame =
    sq8On(T(spark, dir, "embeddings"), queryVec(spark, dir))

  def eventsSessions(spark: SparkSession, dir: String): DataFrame =
    Events.sessionStats(eventsT(spark, dir), gapSeconds = 21600L)

  /** Weekly cohort retention matrix over the events stream. */
  def eventsRetention(spark: SparkSession, dir: String): DataFrame =
    Events.cohortRetention(eventsT(spark, dir))

  /** Flagship entry for the driver smoke check (sf0.001, rows > 0). */
  def entry(spark: SparkSession): DataFrame =
    j2OneHop(spark, "/root/testdata/sf0.001")

  /** The `--quick` gate tier: a §2-critical subset (~70 entries — every
    * SURVEY §2 operator family plus one representative per pipeline
    * family) for the inner dev loop; the FULL catalog remains the
    * round-close gate. Verify takes `--quick` as its third argument,
    * Bench honors `SPARK_GRAFT_QUICK=1`; QuickSetSpec pins every name to
    * the catalog. */
  val quick: Set[String] = Set(
    // §2 core: storage/patterns/joins/aggregates/vectors/rank/templates
    "s2_constraint_check", "j2_onehop", "j2_onehop_bucketed",
    "j3_twohop_schema", "j4_twopath", "j5_concrete_2hop", "j7_id_lookup",
    "a1_schema_summary", "a2_schema_supervised", "a5_ir_metrics",
    "a6_best_candidate", "a7_corpus_count", "v1_cosine_topk",
    "v2_knn_exclude", "v3_knn_fallback", "v5_label_lookup",
    "t3_budget_retrieval", "t4_rank_sampling", "p5_anti_membership",
    "p6_norm_lookup", "td_onehop_gate", "td_twohop",
    // relational + skew + custom-exec surfaces
    "q1_pricing_summary", "q2_top_customers", "q3_revenue_by_nation",
    "q4_set_ops", "skew_salted_agg", "join_asof_exec", "sql_surface",
    "window_rank_funcs",
    // mini-Cypher (§7 M4)
    "cy_schema_1hop", "cy_concrete_2hop", "cy_anti_lookup",
    "cy_ordered_topk", "cy_with_chain", "cy_with_norm_filter",
    "cy_with_agg", "cy_with_topk", "cy_optional_match", "cy_shortest_path",
    "cy_rel_types", "cy_exists_filter", "cy_union", "cy_collect", "cy_minmax", "cy_count_rows", "cy_multi_order",
    "cy_varlength", "cy_sum_avg", "cy_return_arith", "cy_case_null",
    "cy_directed", "cy_contains", "cy_collect_all", "cy_pattern_pred",
    // round-13 flagships (the remaining r13 entries ride the full gate:
    // the quick tier is size-capped by QuickSetSpec)
    "cy_exists_where", "cy_merge_upsert", "cy_detach_delete",
    "cy_path_nodes",
    // round-14 flagship (the remaining r14 entries ride the full gate)
    "cy_return_node",
    // pipeline orchestration (§7 M5)
    "pipeline_retrieve", "fmt_context",
    // dedup family
    "dedup_exact", "dedup_minhash_lsh", "dedup_simhash",
    "dedup_simhash_near", "dedup_band_skew", "dedup_clusters",
    // ANN family
    "ann_lsh_topk", "ann_ivf_topk", "ann_ivf_store_kmeans",
    "ann_ivf_rebalance",
    // search family
    "search_tfidf", "search_bm25", "search_phrase", "search_hybrid_vec",
    // text/curation
    "text_quality", "text_langid", "text_tokens", "curate_e2e",
    "curate_decontam",
    // multimodal
    "mm_decode_roundtrip", "mm_jpeg_pixels", "mm_jpeg_color",
    "mm_phash_pairs", "mm_phash_color", "mm_video_fingerprint",
    // sketches / incremental
    "sketch_hll", "sketch_mrl_quantiles", "incr_agg_rollup",
    // events / graph analytics representatives
    "events_sessions", "events_rolling", "graph_bfs_dist",
    "graph_triangles", "gx_pagerank_topk",
    // sources / layout / lakehouse representatives
    "tar_dsv2_pruned", "jsonl_roundtrip", "lake_merge_upsert",
    "layout_zorder", "emb_label_centroids")

  val all: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q1_pricing_summary" -> (q1PricingSummary _),
    "q2_top_customers" -> (q2TopCustomers _),
    "q3_revenue_by_nation" -> (q3RevenueByNation _),
    "q4_set_ops" -> (q4SetOps _),
    "j2_onehop" -> (j2OneHop _),
    "j2_onehop_bucketed" -> (j2OneHopBucketed _),
    "j3_twohop_schema" -> (j3TwoHopSchema _),
    "j4_twopath" -> (j4TwoPath _),
    "j5_concrete_2hop" -> (j5Concrete2Hop _),
    "a1_schema_summary" -> (a1SchemaSummary _),
    "a2_schema_supervised" -> (a2SchemaSupervised _),
    "j7_id_lookup" -> (j7IdLookup _),
    "p5_anti_membership" -> (p5AntiMembership _),
    "p6_norm_lookup" -> (p6NormLookup _),
    "v5_label_lookup" -> (v5LabelLookup _),
    "v3_knn_fallback" -> (v3KnnFallback _),
    "cy_concrete_2hop" -> (cyConcrete2Hop _),
    "cy_schema_1hop" -> (cySchema1Hop _),
    "cy_anti_lookup" -> (cyAntiLookup _),
    "cy_ordered_topk" -> (cyOrderedTopk _),
    "cy_with_chain" -> (cyWithChain _),
    "cy_with_norm_filter" -> (cyWithNormFilter _),
    "cy_with_agg" -> (cyWithAgg _),
    "cy_with_topk" -> (cyWithTopk _),
    "cy_optional_match" -> (cyOptionalMatch _),
    "cy_optional_null" -> (cyOptionalNull _),
    "cy_optional_rel" -> (cyOptionalRel _),
    "cy_shortest_path" -> (cyShortestPath _),
    "cy_shortest_rels" -> (cyShortestRels _),
    "cy_rel_types" -> (cyRelTypes _),
    "cy_exists_filter" -> (cyExistsFilter _),
    "cy_union" -> (cyUnion _),
    "cy_union_all" -> (cyUnionAll _),
    "cy_collect" -> (cyCollect _),
    "cy_minmax" -> (cyMinMax _),
    "cy_count_rows" -> (cyCountRows _),
    "cy_multi_order" -> (cyMultiOrder _),
    "cy_page" -> (cyPage _),
    "cy_page_param" -> (cyPageParam _),
    "cy_varlength" -> (cyVarlength _),
    "cy_sum_avg" -> (cySumAvg _),
    "cy_return_arith" -> (cyReturnArith _),
    "cy_with_arith" -> (cyWithArith _),
    "cy_case_null" -> (cyCaseNull _),
    "cy_directed" -> (cyDirected _),
    "cy_directed_rev" -> (cyDirectedRev _),
    "cy_bool_where" -> (cyBoolWhere _),
    "cy_in_list" -> (cyInList _),
    "cy_sum_distinct" -> (cySumDistinct _),
    "cy_contains" -> (cyContains _),
    "cy_regex" -> (cyRegex _),
    "cy_str_funcs" -> (cyStrFuncs _),
    "cy_collect_all" -> (cyCollectAll _),
    "cy_unwind_lit" -> (cyUnwindLit _),
    "cy_percentile" -> (cyPercentile _),
    "cy_num_funcs" -> (cyNumFuncs _),
    "cy_pattern_pred" -> (cyPatternPred _),
    "cy_str_concat" -> (cyStrConcat _),
    "cy_label_pred" -> (cyLabelPred _),
    "cy_multi_match" -> (cyMultiMatch _),
    "cy_count_prop" -> (cyCountProp _),
    "cy_exists_where" -> (cyExistsWhere _),
    "cy_exists_optional" -> (cyExistsOptional _),
    "cy_merge_upsert" -> (cyMergeUpsert _),
    "cy_detach_delete" -> (cyDetachDelete _),
    "cy_path_nodes" -> (cyPathNodes _),
    "cy_degree_count" -> (cyDegreeCount _),
    "cy_param_anchor" -> (cyParamAnchor _),
    "cy_param_where" -> (cyParamWhere _),
    "cy_in_param" -> (cyInParam _),
    "cy_multi_anchor" -> (cyMultiAnchor _),
    "cy_order_prop" -> (cyOrderProp _),
    "cy_minmax_expr" -> (cyMinmaxExpr _),
    "cy_list_ops" -> (cyListOps _),
    "cy_reduce_comp" -> (cyReduceComp _),
    "cy_range_split" -> (cyRangeSplit _),
    "cy_all_shortest" -> (cyAllShortest _),
    "cy_pair_dedup" -> (cyPairDedup _),
    "cy_cond_count" -> (cyCondCount _),
    "cy_order_expr" -> (cyOrderExpr _),
    "cy_keys_collect" -> (cyKeysCollect _),
    "cy_pattern_comp" -> (cyPatternComp _),
    "cy_with_star" -> (cyWithStar _),
    "cy_in_carried" -> (cyInCarried _),
    "cy_call_topk" -> (cyCallTopk _),
    "cy_call_agg" -> (cyCallAgg _),
    "cy_param_expr" -> (cyParamExpr _),
    "cy_count_sub" -> (cyCountSub _),
    "cy_collect_unwind" -> (cyCollectUnwind _),
    "cy_set_update" -> (cySetUpdate _),
    "cy_remove_prop" -> (cyRemoveProp _),
    "cy_create_nodes" -> (cyCreateNodes _),
    "cy_rel_merge" -> (cyRelMerge _),
    "cy_return_node" -> (cyReturnNode _),
    "cy_return_rel" -> (cyReturnRel _),
    "cy_set_label" -> (cySetLabel _),
    "cy_map_literal" -> (cyMapLiteral _),
    "cy_with_rel" -> (cyWithRel _),
    "cy_count_rel" -> (cyCountRel _),
    "cy_endpoints" -> (cyEndpoints _),
    "cy_merge_param" -> (cyMergeParam _),
    "cy_unwind_create" -> (cyUnwindCreate _),
    "cy_foreach" -> (cyForeach _),
    "cy_shortest_pipeline" -> (cyShortestPipeline _),
    "cy_dyn_prop" -> (cyDynProp _),
    "cy_set_plus" -> (cySetPlus _),
    "cy_unwind_rel" -> (cyUnwindRel _),
    "cy_null_order" -> (cyNullOrder _),
    "cy_return_star" -> (cyReturnStar _),
    "cy_math_fns" -> (cyMathFns _),
    "cy_ln_exp" -> (cyLnExp _),
    "cy_trig" -> (cyTrig _),
    "cy_list_quant" -> (cyListQuant _),
    "skew_salted_agg" -> (skewSaltedAgg _),
    "join_salted" -> (joinSalted _),
    "join_asof_exec" -> (joinAsofExec _),
    "pipeline_retrieve" -> (pipelineRetrieve _),
    "fmt_context" -> (fmtContext _),
    "v1_cosine_topk" -> (v1CosineTopK _),
    "v2_knn_exclude" -> (v2KnnExclude _),
    "v_filtered_topk" -> (vFilteredTopK _),
    "mmr_rerank" -> (mmrRerankQ _),
    "emb_random_projection" -> (embRandomProjection _),
    "emb_power_iteration" -> (embPowerIteration _),
    "emb_matryoshka_recall" -> (embMatryoshkaRecall _),
    "emb_hard_negatives" -> (embHardNegatives _),
    "ann_lsh_topk" -> (annLshTopK _),
    "ann_neardup_pairs" -> (annNearDupPairs _),
    "emb_crossgroup_pairs" -> (embCrossGroupPairs _),
    "ann_ivf_topk" -> (annIvfTopK _),
    "ann_ivf_pruned" -> (annIvfPruned _),
    "ann_ivf_store_kmeans" -> (annIvfStoreKmeans _),
    "ann_ivf_rebalance" -> (annIvfRebalance _),
    "ann_ivf_retrain" -> (annIvfRetrain _),
    "ann_ivf_kmeans" -> (annIvfKmeans _),
    "ann_kmeans_quality" -> (annKmeansQuality _),
    "emb_centered_topk" -> (embCenteredTopK _),
    "emb_abtt_topk" -> (embAbttTopK _),
    "ann_pq_topk" -> (annPqTopK _),
    "ann_ivfpq_topk" -> (annIvfPqTopK _),
    "ann_sq8_topk" -> (annSq8TopK _),
    "ann_recall_report" -> (annRecallReport _),
    "degree_histogram" -> (degreeHistogram _),
    "gx_pagerank_topk" -> (gxPageRankTopK _),
    "gx_components" -> (gxComponents _),
    "graph_kcore" -> (graphKcore _),
    "graph_lpa" -> (graphLpa _),
    "graph_link_pred" -> (graphLinkPred _),
    "graph_walks" -> (graphWalks _),
    "graph_skipgrams" -> (graphSkipgrams _),
    "graph_triangles" -> (graphTriangles _),
    "graph_clustering" -> (graphClustering _),
    "graph_matching" -> (graphMatching _),
    "graph_mis" -> (graphMis _),
    "graph_scc_bounded" -> (graphSccBounded _),
    "graph_reciprocity" -> (graphReciprocity _),
    "graph_growth" -> (graphGrowth _),
    "graph_butterflies" -> (graphButterflies _),
    "graph_coloring" -> (graphColoring _),
    "graph_ktruss" -> (graphKtruss _),
    "graph_betweenness" -> (graphBetweenness _),
    "graph_modularity" -> (graphModularity _),
    "graph_bfs_dist" -> (graphBfsDist _),
    "graph_bfs_bucketed" -> (graphBfsBucketed _),
    "graph_eccentricity" -> (graphEccentricity _),
    "graph_fwbw" -> (graphFwBw _),
    "graph_ppr" -> (graphPpr _),
    "graph_hits" -> (graphHits _),
    "graph_harmonic" -> (graphHarmonic _),
    "graph_assortativity" -> (graphAssortativity _),
    "graph_sssp" -> (graphSssp _),
    "events_funnel" -> (eventsFunnel _),
    "events_histogram" -> (eventsHistogram _),
    "events_pivot" -> (eventsPivot _),
    "text_chunks" -> (textChunks _),
    "text_collocations" -> (textCollocations _),
    "text_feature_hash" -> (textFeatureHash _),
    "emb_label_affinity" -> (embLabelAffinity _),
    "dedup_priority" -> (dedupPriority _),
    "window_rank_funcs" -> (windowRankFuncs _),
    "emb_label_centroids" -> (embLabelCentroids _),
    "s2_constraint_check" -> (s2ConstraintCheck _),
    "a7_corpus_count" -> (a7CorpusCount _),
    "t3_budget_retrieval" -> (t3BudgetRetrieval _),
    "t3_budget_bpe" -> (t3BudgetBpe _),
    "t3_pattern_rate" -> (t3PatternRate _),
    "a5_ir_metrics" -> (a5IrMetrics _),
    "a5_ir_bootstrap" -> (a5IrBootstrap _),
    "a6_best_candidate" -> (a6BestCandidate _),
    "t4_rank_sampling" -> (t4RankSampling _),
    "td_onehop_gate" -> (tdOnehopGate _),
    "td_twohop" -> (tdTwohop _),
    "dedup_exact" -> (dedupExact _),
    "dedup_minhash_lsh" -> (dedupMinhashLsh _),
    "dedup_ngram_jaccard" -> (dedupNgramJaccard _),
    "dedup_recall_report" -> (dedupRecallReport _),
    "dedup_containment" -> (dedupContainment _),
    "dedup_simhash" -> (dedupSimhash _),
    "dedup_clusters" -> (dedupClusters _),
    "dedup_chunk_dups" -> (dedupChunkDups _),
    "dedup_substring_spans" -> (dedupSubstringSpans _),
    "dedup_incremental_probe" -> (dedupIncrementalProbe _),
    "dedup_simhash_near" -> (dedupSimhashNear _),
    "dedup_band_skew" -> (dedupBandSkew _),
    "dedup_semantic" -> (dedupSemantic _),
    "corpus_clean" -> (corpusClean _),
    "text_langid" -> (textLangId _),
    "text_quality" -> (textQuality _),
    "text_readability" -> (textReadability _),
    "text_tokens" -> (textTokens _),
    "text_fingerprint" -> (textFingerprint _),
    "text_scrub" -> (textScrub _),
    "text_repetition" -> (textRepetition _),
    "text_quantiles" -> (textQuantiles _),
    "text_lm_bigram" -> (textLmBigram _),
    "text_lm_trigram" -> (textLmTrigram _),
    "corpus_tiers" -> (corpusTiers _),
    "dedup_winnowing" -> (dedupWinnowing _),
    "dedup_cdc_chunks" -> (dedupCdcChunks _),
    "curate_blocklist" -> (curateBlocklist _),
    "curate_html_strip" -> (curateHtmlStrip _),
    "curate_url_domains" -> (curateUrlDomains _),
    "search_tfidf" -> (searchTfidf _),
    "search_stemmed" -> (searchStemmed _),
    "search_store_tfidf" -> (searchStoreTfidf _),
    "search_store_append" -> (searchStoreAppend _),
    "search_bm25" -> (searchBm25 _),
    "text_bpe_vocab" -> (textBpeVocab _),
    "text_bpe_learn" -> (textBpeLearn _),
    "text_bpe_fertility" -> (textBpeFertility _),
    "search_hybrid_rrf" -> (searchHybridRrf _),
    "search_hybrid_vec" -> (searchHybridVec _),
    "search_phrase" -> (searchPhrase _),
    "search_phrase_sloppy" -> (searchPhraseSloppy _),
    "text_ttr" -> (textTtr _),
    "text_char_diversity" -> (textCharDiversity _),
    "text_heaps" -> (textHeaps _),
    "text_zipf" -> (textZipf _),
    "text_keyphrases" -> (textKeyphrases _),
    "text_burstiness" -> (textBurstiness _),
    "text_top_ngrams" -> (textTopNgrams _),
    "sketch_countmin" -> (sketchCountmin _),
    "sketch_kmv" -> (sketchKmv _),
    "sketch_heavy_hitters" -> (sketchHeavyHitters _),
    "sketch_kmv_setops" -> (sketchKmvSetops _),
    "sketch_hll" -> (sketchHll _),
    "sketch_hll_setops" -> (sketchHllSetops _),
    "sketch_mrl_quantiles" -> (sketchMrlQuantiles _),
    "incr_agg_rollup" -> (incrAggRollup _),
    "incr_quantile_rollup" -> (incrQuantileRollup _),
    "curate_mixture_quota" -> (curateMixtureQuota _),
    "events_ewma" -> (eventsEwma _),
    "events_anomaly_mad" -> (eventsAnomalyMad _),
    "events_cusum" -> (eventsCusum _),
    "events_acf" -> (eventsAcf _),
    "events_mase" -> (eventsMase _),
    "events_holt" -> (eventsHolt _),
    "events_markov" -> (eventsMarkov _),
    "events_eta2" -> (eventsEta2 _),
    "events_coverage" -> (eventsCoverage _),
    "layout_zorder" -> (layoutZorder _),
    "layout_hilbert" -> (layoutHilbert _),
    "layout_partitioned" -> (layoutPartitioned _),
    "curate_decontam" -> (curateDecontam _),
    "curate_hash_split" -> (curateHashSplit _),
    "curate_stratified" -> (curateStratified _),
    "curate_pack" -> (curatePack _),
    "curate_rebalance" -> (curateRebalance _),
    "curate_shard_shuffle" -> (curateShardShuffle _),
    "events_equidepth" -> (eventsEquidepth _),
    "curate_classifier_score" -> (curateClassifierScore _),
    "curate_classifier_train" -> (curateClassifierTrain _),
    "curate_url_canonical" -> (curateUrlCanonical _),
    "curate_pii" -> (curatePii _),
    "curate_dsir" -> (curateDsir _),
    "curate_novelty" -> (curateNovelty _),
    "curate_length_trim" -> (curateLengthTrim _),
    "curate_fix_encoding" -> (curateFixEncoding _),
    "tar_shards_roundtrip" -> (tarShardsRoundtrip _),
    "tar_dsv2_pruned" -> (tarDsv2Pruned _),
    "jsonl_roundtrip" -> (jsonlRoundtrip _),
    "csv_roundtrip" -> (csvRoundtrip _),
    "orc_roundtrip" -> (orcRoundtrip _),
    "avro_roundtrip" -> (avroRoundtrip _),
    "jsonl_gzip_roundtrip" -> (jsonlGzipRoundtrip _),
    "lake_schema_evolution" -> (lakeSchemaEvolution _),
    "curate_sampled" -> (curateSampled _),
    "curate_split_leakage" -> (curateSplitLeakage _),
    "sql_surface" -> (sqlSurface _),
    "curate_e2e" -> (curateE2e _),
    "lake_merge_upsert" -> (lakeMergeUpsert _),
    "lake_time_travel" -> (lakeTimeTravel _),
    "lake_compact" -> (lakeCompact _),
    "lake_snapshot_diff" -> (lakeSnapshotDiff _),
    "profile_documents" -> (profileDocuments _),
    "dq_checks" -> (dqChecks _),
    "mm_binary_stats" -> (mmBinaryStats _),
    "mm_decode_features" -> (mmDecodeFeatures _),
    "mm_decode_roundtrip" -> (mmDecodeRoundtrip _),
    "mm_audio_frames" -> (mmAudioFrames _),
    "mm_image_resize" -> (mmImageResize _),
    "mm_png_pixels" -> (mmPngPixels _),
    "mm_png_color" -> (mmPngColor _),
    "mm_gif_pixels" -> (mmGifPixels _),
    "mm_jpeg_pixels" -> (mmJpegPixels _),
    "mm_jpeg_color" -> (mmJpegColor _),
    "mm_phash_pairs" -> (mmPhashPairs _),
    "mm_phash_color" -> (mmPhashColor _),
    "mm_phash_probe" -> (mmPhashProbe _),
    "mm_audio_fingerprint" -> (mmAudioFingerprint _),
    "mm_video_fingerprint" -> (mmVideoFingerprint _),
    "mm_video_probe" -> (mmVideoProbe _),
    "mm_video_scenes" -> (mmVideoScenes _),
    "mm_audio_goertzel" -> (mmAudioGoertzel _),
    "mm_audio_resample" -> (mmAudioResample _),
    "mm_image_equalize" -> (mmImageEqualize _),
    "join_asof" -> (joinAsof _),
    "join_range" -> (joinRange _),
    "join_interval" -> (joinInterval _),
    "join_scd2_lookup" -> (joinScd2Lookup _),
    "events_hourly" -> (eventsHourly _),
    "events_seasonal" -> (eventsSeasonal _),
    "events_rolling" -> (eventsRolling _),
    "events_outliers" -> (eventsOutliers _),
    "events_scd2" -> (eventsScd2 _),
    "er_fuzzy_pairs" -> (erFuzzyPairs _),
    "er_soundex" -> (erSoundex _),
    "profile_rollup" -> (profileRollup _),
    "profile_corr" -> (profileCorr _),
    "dq_islands" -> (dqIslands _),
    "dq_drift" -> (dqDrift _),
    "events_json_props" -> (eventsJsonProps _),
    "events_sessions" -> (eventsSessions _),
    "events_retention" -> (eventsRetention _)
  )
}
