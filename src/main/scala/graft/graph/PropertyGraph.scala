package graft.graph

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel
import scala.collection.concurrent.TrieMap

/** Labeled property graph over a pair of DataFrames.
  *
  * Data model mirrors the reference's Neo4j store
  * (reference: stark_neo4j_loading.py:20-61):
  *  - `nodes`: `nodeId: Long` (unique), `label: String` (primary type label),
  *    `labels: Array[String]` (primary + the catch-all `_Entity_`,
  *    stark_neo4j_loading.py:35), `name: String`, plus optional per-type
  *    property columns (union-of-keys dynamic schema, nulls where absent).
  *  - `rels`: `relType: String`, `src: Long`, `dst: Long` — directed at
  *    storage, matched UNDIRECTED by every query pattern
  *    (reference: retrieval/path_retriever.py:4-13 uses `-[r]-`).
  *
  * Scale notes (100 TB design): nodes and rels are plain DataFrames, so the
  * graph inherits Spark's partitioning. For repeated traversals the caller
  * should write both tables bucketed by `nodeId`/`src` so hop joins
  * co-locate without a shuffle; the per-hop joins below are ordinary equi
  * joins that Catalyst plans as broadcast (tiny anchor side) or shuffled
  * hash/sort-merge (edge×edge) with AQE skew splitting for hub nodes.
  */
final case class PropertyGraph(nodes: DataFrame, rels: DataFrame,
                               labelsMutated: Boolean = false) {
  // `labelsMutated`: set by the Cypher planner when `SET n:L` /
  // `REMOVE n:L` rewrote the labels array. Label READS consult the full
  // labels set only then — on an untouched graph labels =
  // [label, _Entity_], so the planner keeps the PUSHABLE primary-label
  // equality (dictionary/row-group prunable at a parquet scan, batch-
  // stat prunable in cache) as the anchor fast path.

  /** Undirected edge view (SURVEY §2.4 J1): each stored relationship appears
    * once per orientation — `a`/`b` are the traversal endpoints while
    * (`relType`,`src`,`dst`) is kept as the relationship *identity* so
    * Cypher trail semantics (a relationship may be bound at most once per
    * MATCH) can be enforced with an inequality on the identity triple.
    * Self-loops are emitted once, not twice (SURVEY §7.4 item 5).
    */
  def bidir: DataFrame = {
    val fwd = rels.select(col("relType"), col("src"), col("dst"),
      col("src").as("a"), col("dst").as("b"))
    val rev = rels.where(col("src") =!= col("dst"))
      .select(col("relType"), col("src"), col("dst"),
        col("dst").as("a"), col("src").as("b"))
    fwd.unionByName(rev)
  }

  /** Deduplicated symmetric adjacency (`a`,`b` — both orientations, self
    * loops once): the shared prelude of every iterative algorithm in
    * [[GraphAlgorithms]]. Cached per graph instance so a session running
    * many algorithms against one graph pays the dedup shuffle ONCE —
    * Verify/Bench warm it in their LOAD stage next to `nodes`/`rels`. At
    * 100 TB this is not a cache but the adjacency a graph store keeps
    * materialized (bucketed by `a`) on disk; every algorithm consuming
    * [[adjPairs]] instead of re-deriving it is exactly what makes that
    * swap a one-line storage change. Unlike a per-query
    * [[graft.Checkpoint]], the cached plan keeps its lineage, so an
    * eviction recomputes instead of failing. */
  lazy val adjPairs: DataFrame = bidir.select(col("a"), col("b")).distinct()
    .persist(StorageLevel.MEMORY_AND_DISK)

  /** Distinct `(a, b, relType)` triples of the undirected view — the
    * hop-fork / relType-witness artifact for shortestPath walk
    * reconstruction ([[graft.cypher.Planner]] `reconstructWalks`).
    * Cached like [[adjPairs]] and for the same reason: every BFS round
    * joins it, so the dedup shuffle is paid once per graph instance,
    * not once per round per query. At 100 TB this is the typed
    * adjacency the graph store keeps bucketed on disk beside the pair
    * view. */
  lazy val bidirTriples: DataFrame =
    bidir.select(col("a"), col("b"), col("relType")).distinct()
      .persist(StorageLevel.MEMORY_AND_DISK)

  /** True when some endpoint pair carries MORE than one distinct
    * relType — the only graphs where allShortestPaths' per-hop
    * relationship fork can differ from the node-walk multiplicity.
    * Both inputs are cached views, so after the LOAD warm the two
    * counts are O(1); the planner consults this to skip the per-round
    * hop join when the fork cannot change the answer. */
  lazy val hasParallelRelTypes: Boolean =
    bidirTriples.count() > adjPairs.count()

  /** Node count, computed once per graph instance — the O(V)-state
    * broadcast guards in [[GraphAlgorithms]] consult it per query. */
  lazy val nodeCount: Long = nodes.count()

  /** S2 unique-key constraint as a validation job
    * (reference: stark_neo4j_loading.py:22-23 CREATE CONSTRAINT unique_nodeId).
    * Returns the number of violated keys (0 = constraint holds).
    */
  def duplicateNodeIdCount(): Long =
    nodes.groupBy("nodeId").count().where(col("count") > 1).count()

  /** Edge endpoint-existence check (S3/J6): drop rels whose endpoints are
    * missing, exactly like the reference's MATCH-before-MERGE load
    * (stark_neo4j_loading.py:51-53). Implemented as two semi joins so the
    * node table is never widened into the edge rows.
    */
  def withExistingEndpoints: PropertyGraph = {
    val ids = nodes.select(col("nodeId"))
    val r = rels
      .join(ids.withColumnRenamed("nodeId", "src"), Seq("src"), "left_semi")
      .join(ids.withColumnRenamed("nodeId", "dst"), Seq("dst"), "left_semi")
    copy(rels = r)
  }
}

/** Graph view over the driver's TPC-H-ish parquet testdata (FIXTURES.md §3).
  *
  * NodeId spacing gives every entity a disjoint Long range so the graph can
  * union heterogeneous tables (≙ the reference's per-type node loads,
  * stark_neo4j_loading.py:29-37):
  *   Region 1e9+key, Nation 2e9+key, Customer 3e9+key, Supplier 4e9+key,
  *   Part 5e9+key, Order 6e9+key.
  * Rels: Nation-IN_REGION->Region, Customer/Supplier-FROM_NATION->Nation,
  *   Customer-PLACED->Order, Order-CONTAINS->Part (distinct lineitem pairs),
  *   Supplier-SUPPLIES->Part (distinct lineitem pairs).
  *
  * The same construction is expressed in ANSI SQL as [[graft.OracleSqls.graphCte]]
  * so every graph query has a DuckDB oracle.
  */
object TpchGraph {
  val RegionBase   = 1000000000L
  val NationBase   = 2000000000L
  val CustomerBase = 3000000000L
  val SupplierBase = 4000000000L
  val PartBase     = 5000000000L
  val OrderBase    = 6000000000L

  // One graph per sf directory per JVM; persisted because Verify/Bench run
  // many queries against the same graph. At 100 TB you would not cache —
  // you'd bucket the parquet tables by nodeId instead; the construction
  // below is pure narrow ops (scan+project+union) either way.
  private val cache = TrieMap[String, PropertyGraph]()

  def apply(spark: SparkSession, dir: String): PropertyGraph =
    cache.getOrElseUpdate(dir, {
      val g = load(spark, dir)
      PropertyGraph(
        g.nodes.persist(StorageLevel.MEMORY_AND_DISK),
        g.rels.persist(StorageLevel.MEMORY_AND_DISK))
    })

  def load(spark: SparkSession, dir: String): PropertyGraph = {
    def t(name: String): DataFrame = spark.read.parquet(s"$dir/$name.parquet")

    def nodeSlice(df: DataFrame, base: Long, key: String, label: String,
                  name: org.apache.spark.sql.Column): DataFrame =
      df.select(
        (lit(base) + col(key).cast("long")).as("nodeId"),
        lit(label).as("label"),
        name.cast("string").as("name"))

    val nodes = Seq(
      nodeSlice(t("region"), RegionBase, "r_regionkey", "Region", col("r_name")),
      nodeSlice(t("nation"), NationBase, "n_nationkey", "Nation", col("n_name")),
      nodeSlice(t("customer"), CustomerBase, "c_custkey", "Customer", col("c_name")),
      nodeSlice(t("supplier"), SupplierBase, "s_suppkey", "Supplier", col("s_name")),
      nodeSlice(t("part"), PartBase, "p_partkey", "Part", col("p_name")),
      nodeSlice(t("orders"), OrderBase, "o_orderkey", "Order", col("o_orderkey"))
    ).reduce(_.unionByName(_))
      // two labels per node, like MERGE(n:{label}:_Entity_) —
      // stark_neo4j_loading.py:35
      .withColumn("labels", array(col("label"), lit("_Entity_")))
      // S4 embedding property load (stark_neo4j_loading.py:63-72): the
      // embeddings table attaches to Part nodes by key — nulls elsewhere,
      // exactly the union-of-keys dynamic-property shape
      .join(
        t("embeddings").select(
          (lit(PartBase) + col("vec_id")).as("nodeId"),
          col("embedding").cast("array<double>").as("nameEmbedding")),
        Seq("nodeId"), "left")

    def rel(df: DataFrame, typ: String, srcBase: Long, srcKey: String,
            dstBase: Long, dstKey: String, distinctPairs: Boolean = false): DataFrame = {
      val r = df.select(
        lit(typ).as("relType"),
        (lit(srcBase) + col(srcKey).cast("long")).as("src"),
        (lit(dstBase) + col(dstKey).cast("long")).as("dst"))
      if (distinctPairs) r.distinct() else r
    }

    val rels = Seq(
      rel(t("nation"), "IN_REGION", NationBase, "n_nationkey", RegionBase, "n_regionkey"),
      rel(t("customer"), "FROM_NATION", CustomerBase, "c_custkey", NationBase, "c_nationkey"),
      rel(t("supplier"), "FROM_NATION", SupplierBase, "s_suppkey", NationBase, "s_nationkey"),
      rel(t("orders"), "PLACED", CustomerBase, "o_custkey", OrderBase, "o_orderkey"),
      rel(t("lineitem"), "CONTAINS", OrderBase, "l_orderkey", PartBase, "l_partkey", distinctPairs = true),
      rel(t("lineitem"), "SUPPLIES", SupplierBase, "l_suppkey", PartBase, "l_partkey", distinctPairs = true)
    ).reduce(_.unionByName(_))

    PropertyGraph(nodes, rels)
  }
}
