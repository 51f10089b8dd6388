package graft.cypher

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.Checkpoint
import graft.graph.PropertyGraph
import Ast._

/** Lowers a mini-Cypher AST to a DataFrame plan over a [[PropertyGraph]]
  * (SURVEY §7.1 `graft.planner`). The output is an ordinary Catalyst plan:
  * anchors broadcast into hop joins over the bidirected edge view, trail
  * (relationship-uniqueness) filters between every rel pair of a path,
  * Cypher's implicit grouping for aggregates, DISTINCT / ORDER BY / LIMIT —
  * Catalyst then does join selection, pushdown, and codegen as usual.
  *
  * Semantics mirrored from the reference's executed query family:
  *  - undirected traversal `-[r]-` (retrieval/path_retriever.py:4-13)
  *  - trail semantics: same relationship bound at most once per MATCH path
  *  - label anchor `(x:L {name: v})` = label + equality filter
  *  - `_Entity_` label matches every node (stark_neo4j_loading.py:35)
  *  - implicit grouping: non-aggregated RETURN items are group keys
  *
  * @param params query parameters: Seq[String] (UNWIND name lists /
  *   id exclusion), Seq[Long] (id lists), Seq[Double] (query embedding).
  */
final class Planner(g: PropertyGraph, params: Map[String, Any] = Map.empty) {

  import Planner._

  // Bindings flowing across WITH barriers: node variables carried whole
  // (flattened as __w_<var>_<field> columns) and scalar projections
  // (flat columns under their aliases). Rebuilt at every barrier — WITH
  // drops everything it does not list, exactly like Cypher.
  private var carriedVars: Set[String] = Set.empty
  private var carriedScalars: Set[String] = Set.empty
  // RELATIONSHIP variables carried whole across a barrier (round 15 —
  // `WITH r`): flattened like nodes as __w_<var>_<field> over the rel
  // schema (relType/src/dst — the identity triple). A carried rel never
  // RE-BINDS in a later MATCH (rel-var reuse is outside the dialect),
  // it only projects: type(r), r in RETURN, collect(r).
  private var carriedRelVars: Set[String] = Set.empty
  // variables bound by the stage currently being planned (they shadow a
  // carried var of the same name — same nodeId, fresher alias)
  private var stageVars: Set[String] = Set.empty
  // RELATIONSHIP variables of the stage being planned: property types must
  // resolve against the relationship schema, never the node schema (a rel
  // prop sharing a node-column name of a different type would otherwise
  // flip `/` between integer and double division)
  private var stageRelVars: Set[String] = Set.empty
  // variables bound ONLY by an OPTIONAL MATCH clause: flattened to
  // __o_<var>_<field> columns by the left join (null when unmatched)
  private var optNodeVars: Set[String] = Set.empty
  private var optRelVars: Set[String] = Set.empty
  // EXISTS patterns nested under OR/NOT resolve to marker columns a left
  // join attached (applyPreds); keyed by (path, inner preds) so a pattern
  // and its negation share one join
  private var existsMarkers: Map[(MatchPath, Seq[Pred]), String] = Map.empty
  // count { (n)--() } degree expressions resolve to pre-joined count
  // columns ([[attachDegree]]); keyed by the full DegreeOf shape
  private var degreeCols: Map[DegreeOf, String] = Map.empty
  // startNode(r)/endNode(r) resolve to pre-joined flattened node columns
  // ([[attachEndpoints]]); keyed by (fn, relVar) — the prop postfix
  // shares its bare form's single join
  private var endpointPrefixes: Map[(String, String), String] = Map.empty
  // pattern comprehensions resolve to pre-joined sorted-list columns
  // ([[attachPatternComps]]); keyed by the full PatternComp shape (the
  // type map backs the empty-list coalesce on a no-match row)
  private var patternCompCols: Map[PatternComp, String] = Map.empty
  private var patternCompTypes: Map[PatternComp, org.apache.spark.sql.types.DataType] =
    Map.empty
  // COUNT { … } subqueries resolve to pre-joined grouped-count columns
  // ([[attachPatternCounts]]); keyed by the full PatternCount shape
  private var patternCountCols: Map[PatternCount, String] = Map.empty
  // named enumerated paths of the CURRENT expansion: traversal-ordered
  // node variables and rel frame aliases ([[joinPaths]] records them)
  private var pathNodeVars: Map[String, Seq[String]] = Map.empty
  private var pathRelAliases: Map[String, Seq[String]] = Map.empty
  // lambda-bound variables of the higher-order expression currently being
  // lowered (reduce / list comprehension): name → column and static type.
  // A lambda name shadows any outer column for the body's duration only.
  private var lambdaCols: Map[String, Column] = Map.empty
  private var lambdaTypes: Map[String, Option[org.apache.spark.sql.types.DataType]] =
    Map.empty

  private def withLambda[T](
      bindings: Seq[(String, Column, Option[org.apache.spark.sql.types.DataType])])
      (f: => T): T = {
    val savedC = lambdaCols; val savedT = lambdaTypes
    lambdaCols ++= bindings.map(b => b._1 -> b._2)
    lambdaTypes ++= bindings.map(b => b._1 -> b._3)
    try f finally { lambdaCols = savedC; lambdaTypes = savedT }
  }

  // carried-scalar anchors `(n {prop: x})` of the clause being planned:
  // nodeFrame can't pre-filter the node frame by a column of the carried
  // frame, so it records the equality here and planStage / tupleFrame
  // apply it AFTER the carried frame attaches (Catalyst folds the
  // post-join equality into the join condition). Only legal in main
  // MATCH paths (allowCarriedAnchors) — OPTIONAL MATCH / EXISTS patterns
  // resolve in their own frames.
  private var pendingAnchorJoins: Seq[(String, String, String)] = Nil
  private var allowCarriedAnchors = false

  private def applyPendingAnchors(df: DataFrame): DataFrame =
    pendingAnchorJoins.foldLeft(df) { case (d, (v, p, u)) =>
      d.where(col(s"$v.$p") === col(u)) }

  /** Explode the carried-list UNWINDs (the collect→UNWIND round trip)
    * onto the carried frame: one `explode` per unwind (empty/null lists
    * drop the row, like Cypher), the unwound name becoming a carried
    * scalar for the rest of the clause chain. Param/literal unwinds
    * anchor node frames in [[joinPaths]] instead and are not passed
    * here. */
  private def explodeCarried(base: Option[DataFrame],
                             uws: Seq[Unwind]): Option[DataFrame] =
    uws.filter(_.carried).foldLeft(base) { (b, u) =>
      val acc = b.getOrElse(throw new IllegalArgumentException(
        s"UNWIND ${u.param} requires a previous WITH stage binding it"))
      require(carriedScalars.contains(u.param),
        s"UNWIND source ${u.param} is not a carried list alias")
      carriedScalars += u.varName
      Some(acc.withColumn(u.varName, explode(col(u.param))))
    }

  /** Static element type of a list-valued expression, if resolvable. */
  private def elemType(e: Expr,
      schema: org.apache.spark.sql.types.StructType)
      : Option[org.apache.spark.sql.types.DataType] =
    staticType(e, schema) match {
      case Some(org.apache.spark.sql.types.ArrayType(et, _)) => Some(et)
      case _ => None
    }

  def plan(q0: CypherQuery): DataFrame = {
    require(q0.paths.nonEmpty || q0.prefixes.nonEmpty || q0.shortest.nonEmpty,
      "at least one MATCH path")
    require(q0.calls.isEmpty || (q0.paths.nonEmpty && q0.shortest.isEmpty),
      "CALL { … } needs a MATCH clause of its own (not a shortestPath " +
        "or bare-RETURN tail)")
    rejectRelVarCounts(q0.items,
      q0.paths ++ q0.optionals.map(_.path) ++ q0.prefixes.flatMap(_.paths))
    // main MATCH group + OPTIONAL MATCH clauses share one resolution space
    // (stageRelVars / optRelVars); a WITH barrier resets it per stage
    rejectRelVarReuse(q0.paths ++ q0.optionals.map(_.path))
    val base = q0.prefixes.foldLeft(Option.empty[DataFrame]) {
      (acc, st) => Some(planStage(acc, st))
    }
    // the FINAL clause group re-checked now that the barriers populated
    // carriedRelVars — a carried rel (WITH r) never re-binds
    rejectRelVarReuse(q0.paths ++ q0.optionals.map(_.path))
    // RETURN * expands here — AFTER the prefixes set the carried-binding
    // space: every bound node var (whole-entity struct; OPTIONAL and
    // shortestPath endpoints included), carried scalar, and carried-list
    // UNWIND name, name-sorted ahead of explicit items (explicit wins)
    val q =
      if (!q0.star) q0
      else {
        val explicit = q0.items.map(_.name).toSet
        val optVars = q0.optionals.flatMap(_.path.nodes.map(_.varName))
        val optRels = q0.optionals.flatMap(_.path.rels.flatMap(_.varName))
        val spVars = q0.shortest.toSeq.flatMap(_.path.nodes.map(_.varName))
        // bound + carried REL vars included since round 15 (identity-
        // triple structs); OPTIONAL rels since round 16 (the full triple
        // is carried through the null-extending join)
        val vs = (varsOf(q0.paths) ++ carriedVars ++ optVars ++ optRels ++
            spVars ++ relVarsOf(q0.paths) ++ carriedRelVars)
          .toSeq.distinct.sorted
          .filterNot(explicit).map(v => RetItem(ColRef(v), None))
        val ss = (carriedScalars ++
            q0.unwinds.filter(_.carried).map(_.varName)).toSeq.distinct
          .sorted.filterNot(explicit).map(s => RetItem(ColRef(s), None))
        q0.copy(items = vs ++ ss ++ q0.items, star = false)
      }
    // variable-length rels expand to a UNION of fixed-length queries (one
    // per hop count — Cypher semantics: one row per distinct path, so a
    // pair reachable at both 1 and 2 hops yields two pre-DISTINCT rows);
    // every expansion is projected to the same canonical tuple schema, so
    // DISTINCT / aggregation happen once, over the union. A shortestPath
    // clause instead plans ONE keyed BFS (no enumeration).
    stageVars = varsOf(q.paths)
    stageRelVars = relVarsOf(q.paths)
    val tuple =
      if (q.shortest.isDefined) shortestTuple(q, base)
      else if (q.paths.isEmpty) { // WITH … [UNWIND xs AS x] RETURN tail
        // startNode/endNode over a CARRIED rel still need their node
        // join on the bare-RETURN path (round 15)
        val eps = (q.items.flatMap(i => walkExpr(i.expr)) ++
          q.preds.flatMap(walkPred)).collect { case e: EndpointOf => e }
          .distinct
        projectTuple(
          attachEndpoints(explodeCarried(base, q.unwinds).get, eps), q)
      }
      else expandVarLength(q)
        .map(fixed => tupleFrame(base, fixed)).reduce(_.unionByName(_))

    val projected =
      if (q.isAggregating) {
        val keyCols = q.items.collect {
          case i if !isAggItem(i) => col(i.name)
        }
        val aggCols = q.items.zipWithIndex.collect {
          case (i, idx) if isAggItem(i) => aggCol(i.expr, s"__agg$idx").as(i.name)
        }
        if (keyCols.isEmpty) tuple.agg(aggCols.head, aggCols.tail: _*)
        else tuple.groupBy(keyCols: _*).agg(aggCols.head, aggCols.tail: _*)
      } else {
        if (q.distinct) tuple.distinct() else tuple
      }

    // unprojected `v.prop` ORDER BY keys sort on their hidden columns
    // ([[hiddenOrderRefs]]), dropped after the trim
    val hidden = hiddenOrderRefs(q).toMap
    val ordered =
      if (q.orderBy.isEmpty) projected
      else projected.orderBy(q.orderBy.map { case (ref, desc) =>
        val name = hidden.getOrElse(ref, ref)
        if (!projected.columns.contains(name) && !bareIdentPat.matches(ref))
          throw new IllegalArgumentException(
            s"ORDER BY expression '$ref' needs the pre-projection frame — " +
              "on an aggregating or DISTINCT query, project it under an " +
              "alias and ORDER BY the alias instead")
        val c = col(name)
        // Neo4j sorts null as the LARGEST value (ASC → nulls last,
        // DESC → nulls first) — also DuckDB's default, so oracles agree;
        // Spark's bare asc/desc would put nulls first on ASC
        if (desc) c.desc_nulls_first else c.asc_nulls_last }: _*)
    val skipped = q.skip.fold(ordered)(cv => ordered.offset(countOf(cv, "SKIP")))
    val trimmed = q.limit.fold(skipped)(cv => skipped.limit(countOf(cv, "LIMIT")))
    if (hidden.isEmpty) trimmed else trimmed.drop(hidden.values.toSeq: _*)
  }

  /** Resolve a SKIP/LIMIT [[CountVal]]: a literal passes through; a
    * `$param` (round 15 — parameterized paging) must be a non-negative
    * INTEGRAL number — fractional or non-numeric parameters fail naming
    * the parameter, like every typed parameter site. */
  private def countOf(cv: CountVal, what: String): Int = cv match {
    case CountLit(n) => n
    case CountParam(nm) => params.get(nm) match {
      // Double/Float are rejected BY TYPE (like Neo4j — counts take
      // integer parameters), so a whole-valued 5.0 names the real
      // problem instead of claiming it is fractional (ADVICE r15)
      case Some(_: java.lang.Double | _: java.lang.Float) =>
        throw new IllegalArgumentException(
          s"$what parameter $$$nm must be a non-negative integer, " +
            "got a floating-point value")
      // whole-valued check (not a type check) so a fractional
      // BigDecimal is rejected like a Double, never truncated
      case Some(n: Number) if n.doubleValue() != n.longValue().toDouble =>
        throw new IllegalArgumentException(
          s"$what parameter $$$nm must be a non-negative integer, " +
            "got a fractional number")
      case Some(n: Number)
          if n.longValue() >= 0 && n.longValue() <= Int.MaxValue =>
        n.intValue()
      case Some(other) => throw new IllegalArgumentException(
        s"$what parameter $$$nm must be a non-negative integer, got $other")
      case None => throw new IllegalArgumentException(
        s"missing parameter $$$nm")
    }
  }

  /** Plan a [[DeleteQuery]]: the matched single-node frame (label +
    * anchor + full WHERE, EXISTS included) reduces to its DISTINCT
    * nodeId set; the post-delete graph is two LEFT ANTI joins — nodes by
    * nodeId, and (DETACH only) rels by either endpoint. The matched set
    * is usually tiny (anchored/filtered), so Catalyst broadcasts it and
    * the 100 TB tables are each touched by one anti-join; plain DELETE
    * validates Neo4j's no-dangling-relationships rule first (one
    * semi-join probe — a deliberate driver boundary, mirroring the error
    * Neo4j raises). Returns the post-delete [[PropertyGraph]]. */
  def planDelete(dq: DeleteQuery): PropertyGraph = {
    stageVars = Set(dq.node.varName)
    stageRelVars = Set.empty
    val matched = applyPreds(nodeFrame(Nil, dq.node), dq.preds)
    val v = dq.node.varName
    val ids = matched.select(col(s"$v.nodeId").as("nodeId")).distinct()
    val newNodes = g.nodes.join(ids, Seq("nodeId"), "left_anti")
    val newRels =
      if (dq.detach)
        g.rels
          .join(ids.select(col("nodeId").as("src")), Seq("src"), "left_anti")
          .join(ids.select(col("nodeId").as("dst")), Seq("dst"), "left_anti")
      else {
        val incident = g.rels
          .join(ids.select(col("nodeId").as("src")), Seq("src"), "left_semi")
          .unionByName(g.rels
            .join(ids.select(col("nodeId").as("dst")), Seq("dst"), "left_semi"))
        require(incident.isEmpty,
          "cannot DELETE a node that still has relationships — use " +
            "DETACH DELETE (Neo4j raises the same error)")
        g.rels
      }
    graft.graph.PropertyGraph(newNodes, newRels, g.labelsMutated)
  }

  /** Plan an [[UpdateQuery]] (standalone bulk SET / REMOVE): the matched
    * frame (label + anchors + full WHERE) is re-projected with the SET
    * expressions (evaluated over the node's OWN properties) / REMOVE
    * nulls applied, and becomes the changelog of ONE lakehouse merge on
    * the (label, nodeId) key — the snapshot is never rewritten per-node,
    * and at 100 TB an anchored update's changelog side broadcasts.
    * Returns the post-update graph; re-running an idempotent SET (one
    * whose values don't read the columns they write) is a no-op replay. */
  def planUpdate(uq: UpdateQuery): PropertyGraph = {
    stageVars = Set(uq.node.varName)
    stageRelVars = Set.empty
    val v = uq.node.varName
    val matched = applyPreds(nodeFrame(Nil, uq.node), uq.preds)
    val fields = g.nodes.schema.fields
    val identity = Set("nodeId", "label", "labels")
    // `n += $props`: the MAP parameter's entries become literal SET
    // items (Neo4j's map-merge — listed keys overwrite, others keep);
    // explicit `n.p = expr` items win on the same key (left-to-right)
    val plusSets: Seq[(String, Expr)] = uq.plusParam.toSeq.flatMap { pm =>
      params.get(pm) match {
        case Some(m: Map[_, _]) => m.toSeq.map {
          case (k: String, s: String) => k -> (StrLitE(s): Expr)
          // fractional values keep their doubles — the catch-all Number
          // arm would silently truncate them via longValue (advisor r14;
          // the whole-valued check also covers BigDecimal and friends,
          // the default numeric type of many JSON deserializers)
          case (k: String, d: java.lang.Double) =>
            k -> (DblLitE(d.doubleValue()): Expr)
          case (k: String, f: java.lang.Float) =>
            k -> (DblLitE(f.doubleValue()): Expr)
          case (k: String, n: Number)
              if n.doubleValue() != n.longValue().toDouble =>
            k -> (DblLitE(n.doubleValue()): Expr)
          case (k: String, n: Number) => k -> (LongLitE(n.longValue()): Expr)
          case (k, other) => throw new IllegalArgumentException(
            s"map parameter $$$pm entry $k must be a string or number, " +
              s"got $other")
        }.sortBy(_._1)
        case Some(other) => throw new IllegalArgumentException(
          s"parameter $$$pm must be a map of property values, got $other")
        case None => throw new IllegalArgumentException(
          s"missing parameter $$$pm")
      }
    }
    (plusSets.map(_._1) ++ uq.sets.map(_.prop) ++ uq.removes.map(_._2))
      .foreach { p =>
        require(!identity(p), s"cannot SET/REMOVE identity property $p")
        require(fields.exists(_.name == p),
          s"unknown node property $p (the schema is union-of-keys: add the " +
            "column to the nodes table first)")
      }
    // label mutation `SET n:L` / `REMOVE n:L` (round 15 — VERDICT r14
    // #5): rewrite the `labels` ARRAY — the queryable label set that
    // label tests/anchors consult. The primary `label` column is the
    // storage/merge key (fixed at MERGE time, stark_neo4j_loading.py:35)
    // and is NOT mutable: removing a matched node's primary label is
    // rejected (one cheap job over the anchored frame), as is the
    // catch-all `_Entity_`.
    val setLs = uq.setLabels.distinct
    val remLs = uq.removeLabels.distinct
    if (setLs.nonEmpty || remLs.nonEmpty) {
      require(fields.exists(f => f.name == "labels" &&
        f.dataType.isInstanceOf[org.apache.spark.sql.types.ArrayType]),
        "label mutation needs a `labels` array column on the nodes table")
      (setLs ++ remLs).foreach(l => require(l != "_Entity_",
        "cannot mutate the catch-all _Entity_ label (every node carries it)"))
      if (remLs.nonEmpty)
        require(matched.where(
            col(s"$v.label").isin(remLs.map(x => x: Any): _*)).isEmpty,
          s"cannot REMOVE a node's PRIMARY label (${remLs.mkString(", ")}) " +
            "— the primary type is the storage/merge key, fixed at MERGE " +
            "time in this data model")
    }
    val setByProp =
      (plusSets ++ uq.sets.map(s => s.prop -> s.value)).toMap
    val removed = uq.removes.map(_._2).toSet
    val cols = fields.map { f =>
      // REMOVE outranks SET on the same property: the chained statement
      // applies clauses in order (SET … REMOVE …), like the labels fold
      (if (removed(f.name)) lit(null).cast(f.dataType)
       else if (setByProp.contains(f.name)) {
         checkAssignable(f.name, setByProp(f.name), f.dataType, matched.schema)
         exprCol(setByProp(f.name), matched.schema).cast(f.dataType)
       }
       else if (f.name == "labels" && (setLs.nonEmpty || remLs.nonEmpty)) {
         // append absent labels in listed order (array_union dedups),
         // then drop the removed ones — both idempotent on replay
         val added =
           if (setLs.isEmpty) col(s"$v.labels")
           else array_union(col(s"$v.labels"), array(setLs.map(lit): _*))
         remLs.foldLeft(added)((acc, l) => array_remove(acc, lit(l)))
       }
       else col(s"$v.${f.name}")).as(f.name)
    }
    val changes = matched.select(cols.toIndexedSeq: _*)
      .withColumn("_seq", lit(1L)).withColumn("_op", lit("U"))
    val newNodes = graft.operators.Lakehouse.mergeSnapshot(
      g.nodes, changes, Seq("label", "nodeId"), "_seq", "_op")
    // label mutations flip the labels-aware-read flag (reads consult the
    // full labels set from here on); property-only updates preserve it
    graft.graph.PropertyGraph(newNodes, g.rels,
      g.labelsMutated || setLs.nonEmpty || remLs.nonEmpty)
  }

  /** Plan a [[CreateNodesQuery]]: the created rows are built driver-side
    * (literal property maps), validated against the S2 unique key with
    * one broadcast semi-join probe (a deliberate driver boundary — the
    * same error Neo4j raises under the loader's uniqueness constraint),
    * and appended with one union. Returns the post-create graph. */
  def planCreateNodes(cq: CreateNodesQuery): PropertyGraph = {
    import org.apache.spark.sql.types.ArrayType
    val nodes = g.nodes
    val keyed = cq.pats.map { n =>
      val pairs = ((n.anchorProp.get, n.anchorValue.get) +: n.extraAnchors)
      val byProp = pairs.toMap
      val key = byProp("nodeId") match {
        case LongLit(l) => l
        case other => throw new IllegalArgumentException(
          s"CREATE nodeId must be an integer literal, got $other")
      }
      pairs.map(_._1).foreach { p =>
        require(nodes.columns.contains(p),
          s"unknown node property $p (the schema is union-of-keys: add " +
            "the column to the nodes table first)")
      }
      (n.label.get, key, byProp)
    }
    require(keyed.map(k => (k._1, k._2)).distinct.size == keyed.size,
      "duplicate (label, nodeId) keys within one CREATE")
    // a type-mismatched literal must FAIL like the loader would, not
    // silently cast-to-null (Spark's lit(…).cast would): a string into a
    // numeric column (or an integer into a string column) is a caller
    // bug worth a clear message
    def litOf(v: AnchorValue,
              f: org.apache.spark.sql.types.StructField): Column = v match {
      case StrLit(s) =>
        require(f.dataType == org.apache.spark.sql.types.StringType,
          s"CREATE property ${f.name}: string literal " +
            s""""$s" cannot be stored in a ${f.dataType.simpleString} column""")
        lit(s)
      case LongLit(l) =>
        require(f.dataType.isInstanceOf[org.apache.spark.sql.types.NumericType],
          s"CREATE property ${f.name}: integer literal $l cannot be " +
            s"stored in a ${f.dataType.simpleString} column")
        lit(l).cast(f.dataType)
      case other => throw new IllegalArgumentException(
        s"unsupported CREATE value $other")
    }
    val created = keyed.map { case (label, key, byProp) =>
      val cols = nodes.schema.fields.map { f =>
        (f.name match {
          case "nodeId" => lit(key).cast(f.dataType)
          case "label"  => lit(label).cast(f.dataType)
          // two labels per node, like CREATE (n:{label}:_Entity_) —
          // stark_neo4j_loading.py:35
          case "labels" if f.dataType.isInstanceOf[ArrayType] =>
            array(lit(label), lit("_Entity_"))
          case nm if byProp.contains(nm) => litOf(byProp(nm), f)
          case _ => lit(null).cast(f.dataType)
        }).as(f.name)
      }
      nodes.sparkSession.range(1).select(cols.toIndexedSeq: _*)
    }.reduce(_.unionByName(_))
    val conflicts = nodes.join(
      broadcast(created.select(col("label"), col("nodeId"))),
      Seq("label", "nodeId"), "left_semi")
    require(conflicts.isEmpty,
      "CREATE would violate the (label, nodeId) unique-key constraint — " +
        "use MERGE to upsert an existing node")
    graft.graph.PropertyGraph(nodes.unionByName(created), g.rels,
      g.labelsMutated)
  }

  /** Plan a [[RelMutationQuery]]: the two anchored frames join (shared
    * WHERE predicates applied over the pair), reduce to endpoint nodeId
    * pairs, and append to the relationships table — CREATE keeps one row
    * per matched pair (parallel edges, like Neo4j), MERGE inserts only
    * pairs with NO existing edge of that type (one anti-join; the
    * undirected form probes both stored orientations AND collapses a
    * symmetric match to one canonical (least, greatest) insert per
    * unordered pair, like Neo4j's one-edge-per-pair MERGE). Endpoint
    * existence (S3/J6) holds by construction — both sides come from the
    * nodes table. Anchored frames broadcast; a full-table pairing stays
    * a fan-out-bounded equi/cross join the caller asked for. */
  def planRelMutation(rq: RelMutationQuery): PropertyGraph = {
    stageVars = Set(rq.a.varName, rq.b.varName)
    stageRelVars = Set.empty
    require(rq.a.varName != rq.b.varName,
      "relationship CREATE/MERGE anchors must bind distinct variables")
    val joined = nodeFrame(Nil, rq.a).crossJoin(nodeFrame(Nil, rq.b))
    val filtered = applyPreds(joined, rq.preds)
    val pairs = filtered.select(
      col(s"${rq.a.varName}.nodeId").as("src"),
      col(s"${rq.b.varName}.nodeId").as("dst"))
    graft.graph.PropertyGraph(g.nodes,
      insertRels(pairs, rq.relType, rq.dir, rq.merge), g.labelsMutated)
  }

  /** The insert tail shared by [[planRelMutation]] and [[planBulkRel]]:
    * `(src, dst)` endpoint pairs become `relType` edges appended to the
    * relationships table, extra rel columns null-padded. `<-` (`dir` −1)
    * stores the reversed orientation; undirected MERGE creates a→b. MERGE
    * inserts only pairs with no existing edge of that type: one
    * anti-join, probing both stored orientations when undirected. */
  private def insertRels(pairs: DataFrame, relType: String, dir: Int,
                         merge: Boolean): DataFrame = {
    val oriented =
      if (dir == -1) pairs.select(col("dst").as("src"), col("src").as("dst"))
      else pairs.select(col("src"), col("dst"))
    val newRels = oriented.select(
      lit(relType).as("relType"), col("src"), col("dst"))
    val added =
      if (!merge) newRels
      else {
        val existing = g.rels.where(col("relType") === relType)
          .select(col("src"), col("dst"))
        val probe =
          if (dir == 0)
            existing.unionByName(
              existing.select(col("dst").as("src"), col("src").as("dst")))
          else existing
        // undirected MERGE: a SYMMETRIC match (both (x,y) and (y,x) rows
        // in one statement) is ONE unordered pair — Neo4j creates one
        // edge per pair (later rows see the edge earlier rows created).
        // Canonicalize within-batch to the (least, greatest) orientation
        // before the anti-join so both orientations collapse to one
        // deterministic insert; the probe already covers both stored
        // orientations, so a pre-existing edge still suppresses it.
        val candidates =
          if (dir == 0)
            newRels.select(col("relType"),
              least(col("src"), col("dst")).as("src"),
              greatest(col("src"), col("dst")).as("dst")).distinct()
          else newRels.distinct()
        candidates.join(probe, Seq("src", "dst"), "left_anti")
      }
    val extraCols = g.rels.columns.filterNot(
      Set("relType", "src", "dst").contains)
    val padded = extraCols.foldLeft(added) { (df, c) =>
      df.withColumn(c,
        lit(null).cast(g.rels.schema.fields.find(_.name == c).get.dataType))
    }
    g.rels.unionByName(padded)
  }

  /** Lower a [[MergeQuery]] onto the lakehouse merge: the one-row
    * changelog is either the matched node with its ON MATCH SET + SET
    * expressions applied (all values read the PRE-merge row — snapshot
    * semantics, like [[planUpdate]]; last write per property wins), or
    * (when absent) a freshly built row with the anchor, ON CREATE SET +
    * SET values evaluated over the fresh row's own (null except key)
    * properties, and nulls elsewhere.
    * [[graft.operators.Lakehouse.mergeSnapshot]] then applies it with
    * ONE key-partitioned anti-join against the snapshot (the changelog
    * side broadcasts — at 100 TB the snapshot is never rewritten
    * per-key, and a batched loader unions many such rows into one
    * changelog before the same single merge; the dialect's bulk form is
    * [[planBulkUpsert]]). The key may be a scalar `$param` — the
    * driver-API upsert. Returns the post-merge nodes table; re-running a
    * MERGE whose values don't read the columns they write is a no-op
    * changelog replay (idempotent). */
  def planMerge(mq: MergeQuery): DataFrame = {
    import org.apache.spark.sql.types.ArrayType
    val nodes = g.nodes
    val label = mq.node.label.get
    val v = mq.node.varName
    stageVars = Set(v)
    stageRelVars = Set.empty
    val key: Long = mq.node.anchorValue match {
      case Some(LongLit(k)) => k
      case Some(ParamRef(nm)) => params.get(nm) match {
        case Some(x: Number) => x.longValue()
        case Some(other) => throw new IllegalArgumentException(
          s"MERGE key parameter $$$nm must be an integer, got $other")
        case None => throw new IllegalArgumentException(
          s"missing parameter $$$nm")
      }
      case other => throw new IllegalArgumentException(
        s"MERGE nodeId must be an integer literal or $$param, got $other")
    }
    val allSets = mq.onCreate ++ mq.onMatch ++ mq.set
    allSets.foreach { s =>
      require(nodes.columns.contains(s.prop),
        s"unknown node property ${s.prop} (the schema is union-of-keys: " +
          "add the column to the nodes table first)")
      walkExpr(s.value).foreach {
        case PropRef(pv, _) => require(pv == v,
          s"MERGE SET values may only read the merged node $v's own " +
            s"properties, not $pv's")
        case _ => ()
      }
    }
    val matched = nodes
      .where(col("label") === label && col("nodeId") === key).as(v)
    // last write wins within one MERGE: SET overwrites ON MATCH SET /
    // ON CREATE SET for the same property
    val matchSets = (mq.onMatch ++ mq.set).map(s => s.prop -> s.value).toMap
    def assigned(df: DataFrame,
                 sets: Map[String, Expr]): DataFrame = {
      val cols = nodes.schema.fields.map { f =>
        (sets.get(f.name) match {
          case Some(e) =>
            checkAssignable(f.name, e, f.dataType, df.schema)
            exprCol(e, df.schema).cast(f.dataType)
          case None => col(s"$v.${f.name}")
        }).as(f.name)
      }
      df.select(cols.toIndexedSeq: _*)
    }
    val updated = assigned(matched, matchSets)
    val createSets = (mq.onCreate ++ mq.set).map(s => s.prop -> s.value).toMap
    val blankCols = nodes.schema.fields.map { f =>
      (f.name match {
        case "nodeId" => lit(key).cast(f.dataType)
        case "label"  => lit(label).cast(f.dataType)
        // two labels per node, like MERGE(n:{label}:_Entity_) —
        // stark_neo4j_loading.py:35
        case "labels" if f.dataType.isInstanceOf[ArrayType] =>
          array(lit(label), lit("_Entity_"))
        case _ => lit(null).cast(f.dataType)
      }).as(f.name)
    }
    val blank = nodes.sparkSession.range(1)
      .select(blankCols.toIndexedSeq: _*).as(v)
    val created = assigned(blank, createSets)
      .join(matched.select(col(s"$v.nodeId").as("nodeId")),
        Seq("nodeId"), "left_anti")
    val changes = updated.unionByName(created)
      .withColumn("_seq", lit(1L)).withColumn("_op", lit("U"))
    graft.operators.Lakehouse.mergeSnapshot(
      nodes, changes, Seq("label", "nodeId"), "_seq", "_op")
  }

  /** Lower a [[BulkUpsertQuery]] — `UNWIND $rows AS r MERGE/CREATE
    * (n:L {nodeId: r.<key>}) [SET …]` / the FOREACH sugar — as ONE
    * changelog frame: the list-of-maps parameter becomes one driver-side
    * row frame (the parameter IS driver-resident, like Neo4j's `$rows`;
    * the unbounded path is the S1/S3 DataFrame loader), matched keys
    * re-project with the ON MATCH SET + SET expressions (which may read
    * `r.<field>` and the node's own pre-merge properties — snapshot
    * semantics), absent keys build fresh rows from ON CREATE SET + SET,
    * and [[graft.operators.Lakehouse.mergeSnapshot]] applies the whole
    * batch with one key-partitioned anti-join — never a per-row loop; a
    * thousand-row batch costs the same plan as one row. CREATE instead
    * validates the S2 unique key (broadcast semi-probe, like
    * [[planCreateNodes]]) and appends. Returns the post-mutation nodes
    * table. */
  def planBulkUpsert(bq: BulkUpsertQuery): DataFrame = {
    import org.apache.spark.sql.types._
    import scala.jdk.CollectionConverters._
    val nodes = g.nodes
    val label = bq.node.label.get
    val v = bq.node.varName
    val r = bq.rowVar
    require(v != r, "the node and row variables must differ")
    stageVars = Set(v)
    stageRelVars = Set.empty
    val rows: Seq[Map[String, Any]] =
      params.getOrElse(bq.param, throw new IllegalArgumentException(
        s"missing parameter $$${bq.param}")) match {
        case s: Seq[_] if s.forall(_.isInstanceOf[Map[_, _]]) =>
          s.map(_.asInstanceOf[Map[String, Any]])
        case other => throw new IllegalArgumentException(
          s"parameter $$${bq.param} must be a list of maps, got $other")
      }
    // UNWIND over an empty list is a zero-row no-op, like Neo4j — a
    // loader that slices batches and hits an empty final batch must not
    // crash (advisor r14)
    if (rows.isEmpty) return g.nodes
    val keys = rows.map(_.getOrElse(bq.keyField,
      throw new IllegalArgumentException(
        s"every row of $$${bq.param} needs the key field ${bq.keyField}")))
    val keyLongs = keys.map {
      case n: Number => n.longValue()
      case other => throw new IllegalArgumentException(
        s"key field ${bq.keyField} must be an integer, got $other")
    }
    require(keyLongs.distinct.size == keyLongs.size,
      s"duplicate ${bq.keyField} keys within one bulk " +
        s"${if (bq.create) "CREATE" else "MERGE"} batch")
    // one row frame: union-of-keys across the maps, types from the first
    // non-null occurrence (string / integer / double / boolean)
    val fieldNames = rows.flatMap(_.keys).distinct.sorted
    def sqlType(vals: Seq[Any]): DataType = vals.collectFirst {
      case _: String => StringType
      case _: java.lang.Double | _: java.lang.Float => DoubleType
      case _: java.lang.Boolean => BooleanType
      case _: Number => LongType
    }.getOrElse(StringType)
    val fieldTypes = fieldNames.map(f =>
      f -> sqlType(rows.flatMap(_.get(f)).filter(_ != null))).toMap
    val rowSchema = StructType(fieldNames.map(f =>
      StructField(f, fieldTypes(f), nullable = true)))
    def cell(x: Any): Any = x match {
      case null => null
      case s: String => s
      case d: java.lang.Double => d.doubleValue()
      case fl: java.lang.Float => fl.doubleValue()
      case b: java.lang.Boolean => b.booleanValue()
      case n: Number => n.longValue()
      case other => throw new IllegalArgumentException(
        s"unsupported row value $other in $$${bq.param}")
    }
    val data = rows.map(m => org.apache.spark.sql.Row(
      fieldNames.map(f => cell(m.getOrElse(f, null))): _*))
    val rowsDF = nodes.sparkSession
      .createDataFrame(data.asJava, rowSchema).as(r)
    extraVarSchemas += r -> rowSchema
    try {
      val allSets = bq.onCreate ++ bq.onMatch ++ bq.set
      allSets.foreach { s =>
        require(nodes.columns.contains(s.prop),
          s"unknown node property ${s.prop} (the schema is union-of-keys: " +
            "add the column to the nodes table first)")
        walkExpr(s.value).foreach {
          case PropRef(pv, pf) =>
            require(pv == v || pv == r,
              s"bulk SET values may only read $v's or $r's fields, not $pv's")
            if (pv == r) require(rowSchema.fieldNames.contains(pf),
              s"row field $r.$pf is absent from every row of $$${bq.param}")
          case _ => ()
        }
      }
      val keyCol = col(s"$r.${bq.keyField}").cast("long")
      def assigned(df: DataFrame, sets: Map[String, Expr],
                   forCreate: Boolean): DataFrame = {
        val cols = nodes.schema.fields.map { f =>
          (if (forCreate && f.name == "nodeId") keyCol.cast(f.dataType)
           else if (forCreate && f.name == "label") lit(label).cast(f.dataType)
           else if (forCreate && f.name == "labels" &&
                    f.dataType.isInstanceOf[ArrayType])
             array(lit(label), lit("_Entity_"))
           else sets.get(f.name) match {
             case Some(e) =>
               checkAssignable(f.name, e, f.dataType, df.schema)
               exprCol(e, df.schema).cast(f.dataType)
             case None =>
               if (forCreate) lit(null).cast(f.dataType)
               else col(s"$v.${f.name}")
           }).as(f.name)
        }
        df.select(cols.toIndexedSeq: _*)
      }
      val labeled = nodes.where(col("label") === label).as(v)
      if (bq.create) {
        // S2 unique-key constraint: an existing (label, key) FAILS — one
        // broadcast semi-probe, the loader's constraint error
        val conflicts = labeled.join(
          broadcast(rowsDF.select(keyCol.as("__bk"))),
          col(s"$v.nodeId") === col("__bk"), "left_semi")
        require(conflicts.isEmpty,
          "bulk CREATE would violate the (label, nodeId) unique-key " +
            "constraint — use MERGE to upsert existing nodes")
        // SET values may read n.prop — null on a fresh row, resolved
        // against a one-row all-null node frame (a free broadcast)
        val nullNode = nodes.sparkSession.range(1).select(
          nodes.schema.fields.map(f =>
            lit(null).cast(f.dataType).as(f.name)).toIndexedSeq: _*).as(v)
        val created = assigned(rowsDF.crossJoin(nullNode),
          bq.set.map(s => s.prop -> s.value).toMap, forCreate = true)
        nodes.unionByName(created)
      } else {
        val matched = labeled.join(rowsDF, col(s"$v.nodeId") === keyCol)
        // last write wins within one statement, like the scalar MERGE
        val updated = assigned(matched,
          (bq.onMatch ++ bq.set).map(s => s.prop -> s.value).toMap,
          forCreate = false)
        val freshRows = rowsDF.join(
          labeled.select(col(s"$v.nodeId").as("__bk")),
          keyCol === col("__bk"), "left_anti")
        val nullNode = nodes.sparkSession.range(1).select(
          nodes.schema.fields.map(f =>
            lit(null).cast(f.dataType).as(f.name)).toIndexedSeq: _*).as(v)
        val created = assigned(freshRows.crossJoin(nullNode),
          (bq.onCreate ++ bq.set).map(s => s.prop -> s.value).toMap,
          forCreate = true)
        val changes = updated.unionByName(created)
          .withColumn("_seq", lit(1L)).withColumn("_op", lit("U"))
        graft.operators.Lakehouse.mergeSnapshot(
          nodes, changes, Seq("label", "nodeId"), "_seq", "_op")
      }
    } finally extraVarSchemas -= r
  }

  /** Lower a [[BulkRelQuery]] — the reference loader's edge statement
    * (stark_neo4j_loading.py:52-56): the [srcId, dstId] pair list
    * becomes one driver-side frame; MATCH-then-MERGE semantics drop
    * pairs with a MISSING endpoint via two semi-joins against the
    * (optionally labeled) node frames — exactly what the per-row MATCH
    * does, and the S3/J6 endpoint-existence rule by construction; MERGE
    * then inserts only pairs with no existing edge of that type (one
    * anti-join, both orientations probed + symmetric batches
    * canonicalized when undirected — [[insertRels]]); CREATE
    * appends unconditionally. The whole batch is ONE frame and one
    * union — never a per-pair loop. */
  def planBulkRel(bq: BulkRelQuery): DataFrame = {
    import scala.jdk.CollectionConverters._
    val rawPairs = params.getOrElse(bq.param,
      throw new IllegalArgumentException(
        s"missing parameter $$${bq.param}")) match {
      case s: Seq[_] => s
      case other => throw new IllegalArgumentException(
        s"parameter $$${bq.param} must be a list of " +
          s"[srcId, dstId] pairs, got $other")
    }
    // empty batch → zero-row no-op, like Neo4j's UNWIND (advisor r14)
    if (rawPairs.isEmpty) return g.rels
    val pairRows = rawPairs.map {
      case p: Seq[_] if p.length == 2 &&
          p.forall(_.isInstanceOf[Number]) =>
        org.apache.spark.sql.Row(
          p.head.asInstanceOf[Number].longValue(),
          p(1).asInstanceOf[Number].longValue())
      case other => throw new IllegalArgumentException(
        s"each element of $$${bq.param} must be a 2-integer pair, " +
          s"got $other")
    }
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("src",
        org.apache.spark.sql.types.LongType, nullable = false),
      org.apache.spark.sql.types.StructField("dst",
        org.apache.spark.sql.types.LongType, nullable = false)))
    val pairs = g.nodes.sparkSession.createDataFrame(pairRows.asJava, schema)
    def labeledIds(n: NodePat): DataFrame = (n.label match {
      // endpoint MATCH is a READ — labels-aware like any anchor
      case Some(l) if l != "_Entity_" => g.nodes.where(labelTest(g.nodes, l))
      case _                          => g.nodes
    }).select(col("nodeId"))
    // MATCH semantics: a pair with a missing endpoint drops silently
    val existing = pairs
      .join(labeledIds(bq.src).withColumnRenamed("nodeId", "src"),
        Seq("src"), "left_semi")
      .join(labeledIds(bq.tgt).withColumnRenamed("nodeId", "dst"),
        Seq("dst"), "left_semi")
    insertRels(existing, bq.relType, bq.dir, bq.merge)
  }

  /** A statically STRING value cannot land in a numeric/boolean column —
    * Spark's cast would silently null it; fail like the loader would
    * instead. The numeric→string direction is a LOSSLESS stringification
    * (Neo4j's dynamically-typed property rendered into the union-of-keys
    * string column) and is allowed; types the static analysis cannot see
    * fall through to the cast. */
  private def checkAssignable(prop: String, e: Expr,
      target: org.apache.spark.sql.types.DataType,
      schema: org.apache.spark.sql.types.StructType): Unit =
    staticType(e, schema).foreach { dt =>
      import org.apache.spark.sql.types._
      val lossy = (dt == StringType &&
        (target.isInstanceOf[NumericType] || target == BooleanType)) ||
        // a fractional value must not silently truncate into an
        // integral column (advisor r14: += {acctbal: 99.9} became 99)
        (dt == DoubleType && isIntegralType(target))
      require(!lossy, s"SET $prop: a ${dt.simpleString} value cannot be " +
        s"stored in a ${target.simpleString} column")
    }

  /** One WITH-chained stage: plan its MATCH like a mini-query, attach the
    * carried frame (equi-join on carried nodeIds, Cypher's re-binding),
    * then project the barrier — only listed items survive. */
  private def planStage(base: Option[DataFrame], st0: Stage): DataFrame = {
    // WITH * expands (at plan entry, against the PRE-stage binding space
    // plus this stage's own MATCH vars) to every bound node variable and
    // carried scalar, ahead of any explicit items — explicit names win
    val st =
      if (!st0.star) st0
      else {
        val explicit = st0.withItems.map(_.name).toSet
        // bound + carried REL vars are included since round 15 (Neo4j's
        // WITH * carries every binding). OPTIONAL MATCH exists only in
        // the final clause group, so a Stage never binds optional vars
        val vs = (varsOf(st0.paths) ++ carriedVars ++
            relVarsOf(st0.paths) ++ carriedRelVars).toSeq.distinct.sorted
          .filterNot(explicit).map(v => RetItem(ColRef(v), None))
        val ss = (carriedScalars ++
            st0.unwinds.filter(_.carried).map(_.varName)).toSeq.distinct
          .sorted.filterNot(explicit).map(s => RetItem(ColRef(s), None))
        st0.copy(withItems = vs ++ ss ++ st0.withItems, star = false)
      }
    require(st.paths.nonEmpty, "stage without MATCH paths")
    rejectRelVarCounts(st.withItems, st.paths)
    rejectRelVarReuse(st.paths)
    stageVars = varsOf(st.paths)
    stageRelVars = relVarsOf(st.paths)
    val aggItems = st.withItems.filter(isAggItem)
    val walked = st.withItems.flatMap(i => walkExpr(i.expr)) ++
      st.preds.flatMap(walkPred)
    val degs = walked.collect { case d: DegreeOf => d }.distinct
    val pcomps = walked.collect { case pc: PatternComp => pc }.distinct
    val pcounts = walked.collect { case pc: PatternCount => pc }.distinct
    val base2 = explodeCarried(base, st.unwinds)
    val frames = expandPaths(st.paths).map { ps =>
      allowCarriedAnchors = true
      val joined0 =
        try joinPaths(st.unwinds.filterNot(_.carried), ps)
        finally allowCarriedAnchors = false
      val attached = applyPendingAnchors(attachBase(base2, joined0, ps))
      val eps = walked.collect { case e: EndpointOf => e }.distinct
      val withDegs = attachEndpoints(attachPatternCounts(
        attachPatternComps(attachDegrees(attached, degs), pcomps), pcounts),
        eps)
      val filtered = applyPreds(withDegs, st.preds)
      projectWith(filtered, st, ps)
    }
    val unioned = frames.reduce(_.unionByName(_))
    // Cypher's implicit grouping at the barrier: non-aggregate items are
    // the keys (a carried node groups by all its flattened fields —
    // nodeId-determined, so equivalent to grouping by identity); the
    // aggregation spans ALL var-length expansions, like the final stage's
    val out =
      if (aggItems.isEmpty) unioned
      else {
        val keyNames = unioned.columns.filterNot(c =>
          aggItems.exists(i => c == s"__aggsrc_${i.name}"))
        val aggCols = aggItems.map { i =>
          aggCol(i.expr, s"__aggsrc_${i.name}").as(i.name)
        }
        if (keyNames.isEmpty) unioned.agg(aggCols.head, aggCols.tail: _*)
        else unioned.groupBy(keyNames.map(col).toSeq: _*)
          .agg(aggCols.head, aggCols.tail: _*)
      }
    val dedup = if (st.withDistinct && aggItems.isEmpty) out.distinct() else out
    // the barrier: recompute what survives for the NEXT stage — BEFORE
    // the trim and the WITH…WHERE filter, so ORDER BY expressions and
    // WHERE predicates (including EXISTS, whose shared variables must
    // resolve against the flattened __w_ columns) see the
    // post-projection binding space, not the pre-barrier one
    val (vars, relVs, scalars) = st.withItems.foldLeft(
      (Set.empty[String], Set.empty[String], Set.empty[String])) {
      case ((vs, rs, ss), RetItem(ColRef(n), _)) =>
        if (stageVars.contains(n) || carriedVars.contains(n)) (vs + n, rs, ss)
        else if (stageRelVars.contains(n) || carriedRelVars.contains(n))
          (vs, rs + n, ss)
        else (vs, rs, ss + n)
      case ((vs, rs, ss), i) => (vs, rs, ss + i.name)
    }
    carriedVars = vars
    carriedRelVars = relVs
    carriedScalars = scalars
    stageVars = Set.empty
    stageRelVars = Set.empty
    // WITH … ORDER BY / SKIP / LIMIT — the per-stage trim (top-k-per-stage
    // idiom), applied BEFORE the WITH…WHERE filter per openCypher's
    // sub-clause order. Cypher leaves tie order undefined; for a
    // reproducible trim the stage appends every remaining atomic projected
    // column (name-sorted, ascending) as tie-breakers — node identity is
    // nodeId-determined, so ties break deterministically. ORDER BY + LIMIT
    // plans as TakeOrderedAndProject: no global sort materializes. A key
    // that is not a barrier column is a general EXPRESSION over the
    // projected items (canonical text): computed as a hidden column,
    // dropped after the trim.
    val trimmed =
      if (st.orderBy.isEmpty && st.skip.isEmpty && st.limit.isEmpty) dedup
      else {
        val hiddenKeys = Seq.newBuilder[String]
        val (withHidden, keyNames) =
          st.orderBy.zipWithIndex.foldLeft((dedup, Seq.empty[String])) {
            case ((df, names), ((ref, _), i)) =>
              val direct =
                try Some(barrierColName(ref, dedup.columns))
                catch { case _: IllegalArgumentException => None }
              direct match {
                case Some(n) => (df, names :+ n)
                case None =>
                  val n = s"__sord_$i"
                  hiddenKeys += n
                  (df.withColumn(n,
                    exprCol(Parser.parseExpression(ref), df.schema)), names :+ n)
              }
          }
        val sorted =
          if (st.orderBy.isEmpty) withHidden
          else {
            val keys = st.orderBy.zip(keyNames).map { case ((_, desc), kn) =>
              // Neo4j null ordering: largest (nulls last on ASC)
              if (desc) col(kn).desc_nulls_first
              else col(kn).asc_nulls_last }
            val ties = dedup.schema.fields
              .filter(f => !keyNames.contains(f.name) && isAtomicType(f.dataType))
              .map(_.name).sorted.map(col(_).asc_nulls_last)
            withHidden.orderBy((keys ++ ties.toSeq): _*)
          }
        val skipped = st.skip.fold(sorted)(cv =>
          sorted.offset(countOf(cv, "SKIP")))
        val limited = st.limit.fold(skipped)(cv =>
          skipped.limit(countOf(cv, "LIMIT")))
        val hk = hiddenKeys.result()
        if (hk.isEmpty) limited else limited.drop(hk: _*)
      }
    // startNode/endNode in WITH…WHERE resolve POST-barrier against the
    // carried rel columns — attach their node joins here and drop the
    // helper columns after the filter (the pre-barrier attach was
    // projected away with everything else WITH did not list)
    val wpEps = st.withPreds.flatMap(walkPred)
      .collect { case e: EndpointOf => e }.distinct
    if (wpEps.isEmpty) applyPreds(trimmed, st.withPreds)
    else {
      val attached = attachEndpoints(trimmed, wpEps)
      val helper = attached.columns
        .filter(c => c.startsWith("__ep") && !trimmed.columns.contains(c))
      applyPreds(attached, st.withPreds).drop(helper.toIndexedSeq: _*)
    }
  }

  /** Join the carried frame to a stage's path product: every carried node
    * variable re-matched in this stage binds by nodeId equality (unique
    * key — exactly Cypher's semantics for a re-used variable); no shared
    * variable means a Cypher cartesian product. */
  private def attachBase(base: Option[DataFrame], joined: DataFrame,
                         ps: Seq[MatchPath]): DataFrame = base match {
    case None => joined
    case Some(acc) =>
      val shared = ps.flatMap(_.nodes.map(_.varName)).toSet
        .intersect(carriedVars).toSeq.sorted
      if (shared.isEmpty) acc.crossJoin(joined)
      else acc.join(joined, shared.map(v =>
        col(s"__w_${v}_nodeId") === col(s"$v.nodeId")).reduce(_ && _))
  }

  /** Project the WITH barrier: bare node vars flatten to __w_ columns
    * (every node field survives for later prop access), scalar items
    * land under their aliases. */
  private def projectWith(df: DataFrame, st: Stage,
                          ps: Seq[MatchPath]): DataFrame = {
    val nodeFields = g.nodes.columns.toSeq
    val relFields = g.rels.columns.toSeq
    val vars = varsOf(ps)
    val relVars = relVarsOf(ps)
    val cols = st.withItems.flatMap { i =>
      i.expr match {
        case ColRef(n) if vars.contains(n) =>
          nodeFields.map(f => col(s"$n.$f").as(s"__w_${n}_$f"))
        case ColRef(n) if relVars.contains(n) =>
          // carry a relationship whole: its identity triple flattens
          // like a node's fields (round 15 — WITH r)
          relFields.map(f => col(s"$n.$f").as(s"__w_${n}_$f"))
        case ColRef(n) if carriedVars.contains(n) =>
          // pass an already-carried var through untouched
          nodeFields.map(f => col(s"__w_${n}_$f"))
        case ColRef(n) if carriedRelVars.contains(n) =>
          relFields.map(f => col(s"__w_${n}_$f"))
        case ColRef(n) if carriedScalars.contains(n) => Seq(col(n))
        case ColRef(n) =>
          throw new IllegalArgumentException(s"unbound WITH item: $n")
        // aggregates project their SOURCE column here; the groupBy at the
        // barrier (planStage) aggregates across all expansions
        case CountDistinct(v) =>
          Seq(distinctSrcCol(v).as(s"__aggsrc_${i.name}"))
        case CountDistinctInParam(v, _) =>
          Seq(propCol(v, "nodeId").as(s"__aggsrc_${i.name}"))
        case CollectDistinct(v, p) =>
          Seq(propCol(v, p).as(s"__aggsrc_${i.name}"))
        case CollectAll(v, p) =>
          Seq(propCol(v, p).as(s"__aggsrc_${i.name}"))
        case MinMaxProp(_, v, p) =>
          Seq(propCol(v, p).as(s"__aggsrc_${i.name}"))
        case CountStar =>
          Seq(lit(1L).as(s"__aggsrc_${i.name}"))
        case CountVar(v) =>
          Seq(countSrcCol(v).as(s"__aggsrc_${i.name}"))
        case AggFn(_, arg, _) =>
          Seq(exprCol(arg, df.schema).as(s"__aggsrc_${i.name}"))
        case PercentileFn(_, arg, _) =>
          Seq(exprCol(arg, df.schema).as(s"__aggsrc_${i.name}"))
        case e => Seq(exprCol(e, df.schema).as(i.name))
      }
    }
    df.select(cols: _*)
  }

  /** Resolve a stage ORDER BY ref against the barrier's output columns:
    * `v.prop` is the flattened carry column `__w_v_prop`, a bare name is a
    * projected scalar. */
  private def barrierColName(ref: String, columns: Array[String]): String = {
    val name =
      if (ref.contains('.')) {
        val Array(v, p) = ref.split("\\.", 2)
        s"__w_${v}_$p"
      } else ref
    if (!columns.contains(name))
      throw new IllegalArgumentException(
        s"WITH ORDER BY '$ref' is not among the projected items")
    name
  }

  private def isAtomicType(dt: org.apache.spark.sql.types.DataType): Boolean =
    dt match {
      case _: org.apache.spark.sql.types.ArrayType |
           _: org.apache.spark.sql.types.MapType |
           _: org.apache.spark.sql.types.StructType |
           org.apache.spark.sql.types.BinaryType => false
      case _ => true
    }

  private def varsOf(ps: Seq[MatchPath]): Set[String] =
    ps.flatMap(_.nodes.map(_.varName)).toSet

  private def relVarsOf(ps: Seq[MatchPath]): Set[String] =
    ps.flatMap(_.rels.flatMap(_.varName)).toSet

  private def isAggItem(i: RetItem): Boolean = i.expr match {
    case _: CountDistinct | _: CountDistinctInParam |
         _: CollectDistinct | _: CollectAll | _: MinMaxProp | CountStar |
         _: CountVar | _: AggFn | _: PercentileFn => true
    case _ => false
  }

  /** `count(r)` / `count(DISTINCT r)` on a RELATIONSHIP variable is outside
    * the dialect (node identity is nodeId; relationships have no single-id
    * column to count) — reject at plan entry with a grammar-level message
    * instead of an unresolved-column AnalysisException. */
  private def rejectRelVarCounts(items: Seq[RetItem],
                                 paths: Seq[MatchPath]): Unit = {
    // count(r) / count(DISTINCT r) joined the dialect in round 15
    // ([[countSrcCol]] / [[distinctSrcCol]] — the identity triple is the
    // distinct unit); only the id-parameter-filtered distinct stays a
    // node-only form (its parameter is a nodeId list)
    val relVars = paths.flatMap(_.rels.flatMap(_.varName)).toSet
    items.foreach(_.expr match {
      case CountDistinctInParam(v, _) if relVars(v) =>
        throw new IllegalArgumentException(
          s"count(DISTINCT $v IN $$ids) over a relationship variable is " +
            "outside the dialect — the parameter filters node ids")
      case _ => ()
    })
  }

  /** A RELATIONSHIP variable reused across the patterns of one clause
    * group (comma patterns, consecutive MATCH clauses, or an OPTIONAL
    * MATCH sharing the main group's resolution space) is legal Cypher —
    * it binds the SAME relationship — but this planner would give both
    * occurrences the same frame alias, yielding ambiguous-column errors
    * or silently independent bindings. Out of dialect: fail at plan
    * entry with a grammar-level message (re-binding by shared NODE
    * variables expresses the same joins). Also rejects a duplicate
    * within a single path (`(a)-[r]-(b)-[r]-(c)`), which aliases two
    * edge frames identically. */
  private def rejectRelVarReuse(paths: Seq[MatchPath]): Unit = {
    val names = paths.flatMap(_.rels.flatMap(_.varName))
    val dups = names.groupBy(identity).collect {
      case (n, g) if g.size > 1 => n
    }.toSeq.sorted
    if (dups.nonEmpty) throw new IllegalArgumentException(
      s"relationship variable reuse is not supported: ${dups.mkString(", ")} " +
        "— bind each relationship variable in one pattern only (shared " +
        "NODE variables express the join)")
    // a CARRIED relationship (WITH r, round 15) projects forward but
    // never re-binds — a later MATCH reusing its name is the same
    // ambiguity as reuse within one clause group
    val rebound = names.filter(carriedRelVars).distinct.sorted
    if (rebound.nonEmpty) throw new IllegalArgumentException(
      s"re-binding carried relationship variable " +
        s"${rebound.mkString(", ")} is not supported — a carried " +
        "relationship only projects (type(r), RETURN r, collect(r))")
  }

  /** Join one clause's paths (comma patterns / consecutive MATCH
    * clauses): a node variable REUSED across patterns re-binds by nodeId
    * equality — exactly Cypher's semantics for a shared variable —
    * while fully disjoint patterns cross-join (Cypher's cartesian
    * product). The repeat occurrence is planned under a fresh internal
    * alias and equated on nodeId (unique key), so every later property
    * reference resolves against the FIRST binding unambiguously.
    * Relationship uniqueness stays per path, like consecutive MATCH
    * clauses in Neo4j. */
  private def joinPaths(unwinds: Seq[Unwind], ps: Seq[MatchPath]): DataFrame = {
    var bound = Set.empty[String]
    var df: DataFrame = null
    pathNodeVars = Map.empty
    pathRelAliases = Map.empty
    pendingAnchorJoins = Nil
    ps.zipWithIndex.foreach { case (p, i) =>
      val shared = p.nodes.map(_.varName).distinct.filter(bound)
      val renames = shared.map(v => v -> s"__m${i}_$v").toMap
      val renamed = MatchPath(p.nodes.map(n =>
        renames.get(n.varName).fold(n)(nn => n.copy(varName = nn))), p.rels)
      // anonymous rel aliases must be unique ACROSS paths (path 0 keeps
      // the legacy __r<i> names); a named path registers its traversal
      // order for nodes(p) / relationships(p)
      val anonPrefix = if (i == 0) "__r" else s"__r${i}_"
      p.name.foreach { nm =>
        if (pathNodeVars.contains(nm)) throw new IllegalArgumentException(
          s"path variable $nm is bound more than once")
        pathNodeVars += nm -> renamed.nodes.map(_.varName)
        pathRelAliases += nm -> renamed.rels.zipWithIndex.map {
          case (r, j) => r.varName.getOrElse(s"$anonPrefix$j")
        }
      }
      val planned = planPath(unwinds, renamed, anonPrefix)
      df =
        if (df == null) planned
        else if (shared.isEmpty) df.crossJoin(planned)
        else df.join(planned, shared.map(v =>
          col(s"$v.nodeId") === col(s"${renames(v)}.nodeId")).reduce(_ && _))
      bound ++= p.nodes.map(_.varName)
    }
    df
  }

  /** One fixed-length expansion joined, carried-frame-attached,
    * predicate-filtered, and projected to the canonical tuple schema:
    * non-aggregate items under their output names, aggregate items as
    * their pre-aggregation source column (`__agg<i>`), so all expansions
    * union cleanly. */
  private def tupleFrame(base: Option[DataFrame], q: CypherQuery): DataFrame = {
    val base2 = explodeCarried(base, q.unwinds)
    allowCarriedAnchors = true
    val joined0 =
      try joinPaths(q.unwinds.filterNot(_.carried), q.paths)
      finally allowCarriedAnchors = false
    val joined = applyPendingAnchors(attachBase(base2, joined0, q.paths))
    val walked = q.items.flatMap(i => walkExpr(i.expr)) ++
      q.preds.flatMap(walkPred)
    val degs = walked.collect { case d: DegreeOf => d }.distinct
    val pcomps = walked.collect { case pc: PatternComp => pc }.distinct
    val pcounts = walked.collect { case pc: PatternCount => pc }.distinct
    val eps = walked.collect { case e: EndpointOf => e }.distinct
    // endpoint refs over OPTIONAL rels attach AFTER the null-extending
    // join (their __o_<rv>_{src,dst} id columns exist only then, and the
    // endpoint join must be a left join to preserve unmatched rows)
    val optionalRelNames =
      q.optionals.flatMap(_.path.rels.flatMap(_.varName)).toSet
    val (optEps, boundEps) =
      eps.partition(e => optionalRelNames.contains(e.relVar))
    val withDegs = attachEndpoints(attachPatternCounts(
      attachPatternComps(attachDegrees(joined, degs), pcomps), pcounts),
      boundEps)
    val filtered = applyPreds(withDegs, q.preds)
    // rebuilt per expansion: an optional var must not count as "already
    // bound" when the NEXT var-length expansion of the main paths plans
    // the same optional clauses again
    optNodeVars = Set.empty; optRelVars = Set.empty
    val withOpt = q.optionals.foldLeft(filtered)(attachOptional)
    val withOptEps = attachEndpoints(withOpt, optEps,
      boundEps.map(e => (e.fn, e.relVar)).distinct.size)
    val withCalls = q.calls.foldLeft(withOptEps)(attachCall)
    projectTuple(withCalls, q)
  }

  // the shortestPath clause's path variable (length(p) resolves against it)
  private var spVar: Option[String] = None

  /** `MATCH p = shortestPath((a…)-[:T*lo..hi]-(b…))` planned on the
    * frontier kernel ([[graft.graph.GraphAlgorithms.srcKeyedMinDist]]):
    * the anchored `a` frame seeds one BFS source per binding, `hi` rounds
    * of frontier∘adjacency joins find each reachable node's MINIMUM hop
    * count (first discovery = min distance), and the `(src, v, dist)`
    * result joins back to both endpoint frames. Never a path enumeration:
    * cost is O(rounds · frontier), so an unselective pattern that would
    * blow up the union-of-expansions planner stays linear — the shape
    * that survives 100× data. `lo = 1` (the default) drops the
    * zero-length (a, a) pair; `lo = 0` keeps it, like Neo4j.
    *
    * Since round 14 the clause COMPOSES with preceding WITH stages: a
    * CARRIED endpoint variable (spelled bare, `(c)`) re-binds by nodeId
    * — its distinct carried ids seed the BFS (a top-k WITH stage seeds
    * k sources, not V), and the result joins back to the carried frame
    * so every carried column stays referencable. An un-shared carried
    * frame attaches as Cypher's cartesian product. */
  private def shortestTuple(q: CypherQuery,
                            base: Option[DataFrame]): DataFrame = {
    val sp = q.shortest.get
    require(q.paths.isEmpty && q.optionals.isEmpty && q.unwinds.isEmpty,
      "shortestPath stands alone in its clause group (WITH stages may " +
        "precede it)")
    val Seq(aPat, bPat) = sp.path.nodes
    val rel = sp.path.rels.head
    val (lo, hi) = rel.range.getOrElse(
      throw new IllegalArgumentException("shortestPath requires *lo..hi"))
    require(lo == 0 || lo == 1,
      "shortestPath minimum hop bound must be 0 or 1 (like Neo4j)")
    val aCar = carriedVars.contains(aPat.varName)
    val bCar = carriedVars.contains(bPat.varName)
    Seq(aPat -> aCar, bPat -> bCar).foreach { case (p, car) =>
      require(!car || (p.label.isEmpty && p.anchorValue.isEmpty),
        s"carried shortestPath endpoint ${p.varName} re-binds by nodeId " +
          "— spell it bare: (" + p.varName + ")")
    }
    require(base.isDefined || (!aCar && !bCar),
      "carried endpoints need a preceding WITH stage")
    stageVars = Seq(aPat, bPat).filter(p => !carriedVars.contains(p.varName))
      .map(_.varName).toSet
    spVar = Some(sp.pathVar)
    // type-constrained traversal filters the edge view once; untyped uses
    // the graph's shared cached adjacency
    val adj =
      if (rel.relTypes.isEmpty) g.adjPairs
      else g.bidir.where(col("relType").isin(rel.relTypes: _*))
        .select(col("a"), col("b")).distinct()
    val seedId =
      if (aCar) base.get.select(col(s"__w_${aPat.varName}_nodeId").as("src"))
      else nodeFrame(Nil, aPat).select(col(s"${aPat.varName}.nodeId").as("src"))
    val seeds = seedId.select(col("src"), col("src").as("v"))
    // BFS state is O(seeds·V): a property-anchored endpoint seeds ~1
    // source, an unanchored one up to V — size the broadcast guard for
    // the worst case so unselective patterns take the shuffle path (a
    // carried seed set is unknown statically: guard for the worst case)
    val stateRows =
      if (!aCar && isAnchored(Nil, aPat)) g.nodeCount
      else try math.multiplyExact(g.nodeCount, g.nodeCount)
      catch { case _: ArithmeticException => Long.MaxValue }
    val raw = graft.graph.GraphAlgorithms
      .srcKeyedMinDist(adj, seeds, hi, stateRows).dist
    val dists = raw.where(col("dist") >= lo)
      .select(col("src"), col("v").as("__spv"),
        col("dist").cast("long").as("__splen"))
    // nodes(p) on a shortestPath: reconstruct the deterministic
    // minimum-predecessor walk from the BFS levels — only when asked for.
    // allShortestPaths instead enumerates EVERY level-respecting walk,
    // forked per hop relType (one output row per distinct shortest
    // RELATIONSHIP sequence — the multiplicity IS the semantics, so the
    // enumeration always runs there)
    val needNodes = q.items.exists(i => walkExpr(i.expr).exists {
      case PathNodes(pv) => spVar.contains(pv)
      case _             => false
    })
    val needRels = q.items.exists(i => walkExpr(i.expr).exists {
      case PathRels(pv) => spVar.contains(pv)
      case _            => false
    })
    // the per-hop relType view joins the same type-eligible edge view
    // the traversal used — built when relationships(p) is asked for,
    // and for allShortestPaths on graphs where a pair can carry
    // parallel edge types (the fork makes multiplicity per relationship
    // sequence, rels projected or not; on a graph with NO parallel
    // types — `hasParallelRelTypes`, two cached O(1) counts — the
    // node-walk multiplicity is already identical, so the per-round
    // hop join is skipped)
    val relView =
      if (!needRels && !(sp.all && g.hasParallelRelTypes)) None
      else if (rel.relTypes.isEmpty) Some(g.bidirTriples)
      else {
        // typed: filter the parquet-backed edge view directly — the
        // pushed-down relType predicate prunes at the scan, which beats
        // post-filtering the full cached distinct view (A/B'd at sf0.1,
        // ~1.5×). All-mode forking needs DISTINCT triples (a raw bidir
        // slice can repeat one — opposite-direction same-type edges);
        // the singular min-witness aggregation collapses duplicates
        // itself
        val t = g.bidir.where(col("relType").isin(rel.relTypes: _*))
          .select(col("a"), col("b"), col("relType"))
        Some(if (sp.all) t.distinct() else t)
      }
    val distsN =
      if (sp.all)
        dists.join(reconstructWalks(adj, raw, hi, all = true,
            relView = relView),
          col("src") === col("__ws") && col("__spv") === col("__wv"))
          .drop("__ws", "__wv")
      else if (!needNodes && !needRels) dists
      else dists.join(reconstructWalks(adj, raw, hi, relView = relView),
        col("src") === col("__ws") && col("__spv") === col("__wv"))
        .drop("__ws", "__wv")
    val joined =
      if (aCar && bCar)
        base.get.join(distsN,
          col(s"__w_${aPat.varName}_nodeId") === col("src") &&
            col(s"__w_${bPat.varName}_nodeId") === col("__spv"))
          .drop("src", "__spv")
      else if (aCar)
        base.get
          .join(distsN, col(s"__w_${aPat.varName}_nodeId") === col("src"))
          .join(nodeFrame(Nil, bPat),
            col("__spv") === col(s"${bPat.varName}.nodeId"))
          .drop("src", "__spv")
      else {
        val aFrame = nodeFrame(Nil, aPat)
        val aSide = if (isAnchored(Nil, aPat)) broadcast(aFrame) else aFrame
        val j0 = aSide
          .join(distsN, col(s"${aPat.varName}.nodeId") === col("src"))
        val j1 =
          if (bCar)
            j0.join(base.get,
              col("__spv") === col(s"__w_${bPat.varName}_nodeId"))
          else j0.join(nodeFrame(Nil, bPat),
            col("__spv") === col(s"${bPat.varName}.nodeId"))
        val j2 = j1.drop("src", "__spv")
        // neither endpoint shared with the carried frame → Cypher's
        // cartesian product (same rule as attachBase)
        if (!bCar) base.fold(j2)(acc => acc.crossJoin(j2)) else j2
      }
    val filtered = applyPreds(joined, q.preds)
    projectTuple(filtered, q)
  }

  /** Walk every BFS result pair `(src, v, dist)` back to its source,
    * choosing at each level the MINIMUM-nodeId predecessor (a neighbor of
    * the current node one level closer to the source) — a deterministic
    * witness among Neo4j's arbitrary ones, reproducible by an oracle.
    * `maxHops` bounded rounds; each round is one frontier-sized
    * adjacency join plus one keyed min — O(rounds · pairs), never a path
    * enumeration, so the 100 TB shape matches the BFS itself. Returns
    * `(__ws, __wv, __spnodes, __sprels)` with the traversal-ordered
    * nodeId array and (when `relView` is given) the per-hop relType
    * array. Singular mode carries the MINIMUM relType among the
    * type-eligible edges joining the chosen pair — the same
    * deterministic-witness rule as the node walk, so a parallel-edge
    * pair resolves reproducibly on both engines; `relView` is built only
    * when `relationships(p)` is referenced, since it adds one keyed join
    * per round. In `all` mode the hop join instead forks per distinct
    * (pair, relType) — the row multiplicity (one per relationship
    * sequence) IS the semantics, whether or not the hop lists are
    * projected — so `relView` is given there whenever the graph has any
    * parallel-typed pair (`hasParallelRelTypes`); without one the fork
    * is the identity and the join is skipped. */
  private def reconstructWalks(adj: DataFrame, dists: DataFrame,
                               maxHops: Int, all: Boolean = false,
                               relView: Option[DataFrame] = None): DataFrame = {
    // one hop-type frame reused every round (O(E) like the adjacency;
    // callers pass triple-DISTINCT input in all mode — the graph's
    // CACHED `bidirTriples` when untyped, a pre-distincted pushed-down
    // scan when typed). Single-witness mode pre-collapses each
    // pair to its MINIMUM relType; all mode keeps one row per distinct
    // (pair, relType) so the hop join FORKS per parallel edge type —
    // path identity is the relationship sequence, which is Neo4j's
    // allShortestPaths multiplicity
    val relMap =
      if (all) relView.map(_.select(col("a").as("__pa"),
        col("b").as("__pb"), col("relType").as("__hopt")))
      else relView.map(rv => rv
        .groupBy(col("a").as("__pa"), col("b").as("__pb"))
        .agg(min(col("relType")).as("__hopt")))
    val d = dists.select(col("src"), col("v"), col("dist"))
    var f = d.select(col("src"), col("v").as("__wv"),
      col("dist").as("__lvl"), col("v").as("__cur"),
      array(col("v")).as("__acc"),
      array().cast("array<string>").as("__racc"))
    for (_ <- 1 to maxHops) {
      val live = f.where(col("__lvl") > 0)
      val done = f.where(col("__lvl") === 0)
      val joined = live
        .join(adj.select(col("a").as("__wa"), col("b").as("__wb")),
          col("__cur") === col("__wb"))
        .join(d.select(col("src").as("__ds"), col("v").as("__dv"),
            col("dist").as("__dd")),
          col("src") === col("__ds") && col("__wa") === col("__dv") &&
            col("__dd") === col("__lvl") - 1)
      // the chosen hop is (pred → cur) in traversal order; the relType
      // witness joins on that pair (inner: every walked pair IS an edge)
      def hopRels(df: DataFrame, predCol: Column): (DataFrame, Column) =
        relMap match {
          case Some(rm) =>
            (df.join(rm, predCol === col("__pa") && col("__cur") === col("__pb"))
              .drop("__pa", "__pb"),
              concat(array(col("__hopt")), col("__racc")))
          case None => (df, col("__racc"))
        }
      // allShortestPaths: every level-respecting (predecessor, relType)
      // FORKS one walk (the BFS levels form a DAG, so each distinct
      // relationship sequence is produced exactly once — Neo4j's
      // allShortestPaths rows); shortestPath keeps ONE deterministic
      // witness (min-nodeId predecessor, then min relType per hop)
      val stepped =
        if (all) {
          val (withRt, racc) = hopRels(joined, col("__wa"))
          withRt.select(col("src"), col("__wv"),
            (col("__lvl") - 1).as("__lvl"), col("__wa").as("__cur"),
            concat(array(col("__wa")), col("__acc")).as("__acc"),
            racc.as("__racc"))
        } else {
          val grouped = joined
            .groupBy(col("src"), col("__wv"), col("__lvl"), col("__cur"),
              col("__acc"), col("__racc"))
            .agg(min(col("__wa")).as("__pred"))
          val (withRt, racc) = hopRels(grouped, col("__pred"))
          withRt.select(col("src"), col("__wv"),
            (col("__lvl") - 1).as("__lvl"), col("__pred").as("__cur"),
            concat(array(col("__pred")), col("__acc")).as("__acc"),
            racc.as("__racc"))
        }
      // materialize each round (r16 opt): `f` is referenced TWICE next
      // round (done + live), so the lazy union doubled the plan per round
      // — round t re-executed every earlier round's joins 2^(rounds−t)
      // times. Linearizing is the same per-round eager-checkpoint
      // convention as the BFS this walk decorates; state is
      // O(pairs·depth), the order the caller's join output materializes
      // anyway. The replaced round is released once its successor is.
      val next = Checkpoint(done.unionByName(stepped))
      Checkpoint.release(f)
      f = next
    }
    f.select(col("src").as("__ws"), col("__wv"),
      col("__acc").as("__spnodes"), col("__racc").as("__sprels"))
  }

  /** Apply a WHERE list: scalar predicates fold into `where` columns;
    * a TOP-LEVEL `[NOT] EXISTS { pattern }` conjunct becomes a LEFT
    * SEMI/ANTI join against the pattern's solutions ([[attachExists]]);
    * a predicate with EXISTS nested under OR/NOT gets one MARKER left
    * join per distinct pattern ([[attachExistsMarker]]) and folds into a
    * boolean column over the markers, which drop after the filter.
    * Scalars first — they prune the frame before any join. */
  private def applyPreds(df: DataFrame, preds: Seq[Pred]): DataFrame = {
    val (pattern, rest) = preds.partition(_.isInstanceOf[ExistsPat])
    val (nested, scalar) = rest.partition(containsExistsPred)
    val base = scalar.foldLeft(df)((d, p) => d.where(predCol(p, d.schema)))
    val semis = pattern.foldLeft(base)((d, p) =>
      attachExists(d, p.asInstanceOf[ExistsPat]))
    nested.foldLeft(semis) { (d, p) =>
      val pats = collectExistsPats(p).distinct
      val marked = pats.zipWithIndex.foldLeft(d) {
        case (dd, ((path, ipreds), i)) =>
          attachExistsMarker(dd, path, ipreds, s"__exm$i")
      }
      existsMarkers = pats.zipWithIndex.map {
        case (k, i) => k -> s"__exm$i"
      }.toMap
      try marked.where(predCol(p, marked.schema))
        .drop(existsMarkers.values.toSeq: _*)
      finally existsMarkers = Map.empty
    }
  }

  private def containsExistsPred(p: Pred): Boolean = p match {
    case _: ExistsPat  => true
    case OrPred(l, r)  => containsExistsPred(l) || containsExistsPred(r)
    case AndPred(l, r) => containsExistsPred(l) || containsExistsPred(r)
    case NotPred(x)    => containsExistsPred(x)
    case _             => false
  }

  /** Every EXISTS pattern inside a boolean tree, keyed WITHOUT the
    * negation flag — `EXISTS {p}` and `NOT EXISTS {p}` share one marker
    * join; the tree applies the negation. */
  private def collectExistsPats(p: Pred): Seq[(MatchPath, Seq[Pred])] =
    p match {
      case ExistsPat(path, _, ipreds) => Seq((path, ipreds))
      case OrPred(l, r)  => collectExistsPats(l) ++ collectExistsPats(r)
      case AndPred(l, r) => collectExistsPats(l) ++ collectExistsPats(r)
      case NotPred(x)    => collectExistsPats(x)
      case _             => Nil
    }

  /** The DISTINCT shared-variable key frame of an EXISTS pattern's
    * solutions: the pattern planned like any MATCH (var-length expansions
    * union first), its inner WHERE applied in the pattern's OWN alias
    * space (shared vars are local aliases there — the join equates them),
    * then projected to the shared nodeId keys. Returns (frame, shared
    * vars). The distinct keeps the build side at most |bindings| rows. */
  private def existsKeys(path: MatchPath, ipreds: Seq[Pred],
                         keyName: String => String): (DataFrame, Seq[String]) = {
    val boundBefore = stageVars ++ optNodeVars ++ carriedVars
    val sharedVars = path.nodes.map(_.varName).distinct.filter(boundBefore)
    require(sharedVars.nonEmpty,
      "EXISTS pattern must share at least one bound variable")
    val frames = expandPaths(Seq(path)).map(_.head).map { p =>
      val planned = planPath(Nil, p)
      val saved = stageVars
      val savedRels = stageRelVars
      stageVars = varsOf(Seq(p))
      stageRelVars = relVarsOf(Seq(p))
      try {
        val filtered = ipreds.foldLeft(planned)((df, pr) =>
          df.where(predCol(pr, df.schema)))
        filtered.select(sharedVars.map(v => col(s"$v.nodeId").as(keyName(v))): _*)
      } finally { stageVars = saved; stageRelVars = savedRels }
    }
    (frames.reduce(_.unionByName(_)).distinct(), sharedVars)
  }

  /** `[NOT] EXISTS { pattern [WHERE …] }` as a top-level conjunct = a
    * LEFT SEMI (resp. ANTI) join of the current frame against the
    * pattern's distinct shared keys — Cypher's pattern predicate without
    * a count or a correlated subquery. The semi join is an ordinary
    * nodeId equi-join, so AQE/broadcast selection applies. */
  private def attachExists(main: DataFrame, ep: ExistsPat): DataFrame = {
    val (sub, sharedVars) = existsKeys(ep.path, ep.preds, v => s"__ek_$v")
    val cond = sharedVars.map(v => propCol(v, "nodeId") === col(s"__ek_$v"))
      .reduce(_ && _)
    main.join(sub, cond, if (ep.negated) "left_anti" else "left_semi")
  }

  /** The disjunction-composable EXISTS plan: LEFT join the pattern's
    * distinct shared keys carrying a constant-true marker; a row's
    * `coalesce(marker, false)` is then an ordinary boolean the OR/NOT
    * tree folds over ([[predCol]]'s ExistsPat case). Same build side and
    * join key as the semi form — only the join type differs (the keys
    * are distinct, so the left join never duplicates rows). */
  private def attachExistsMarker(main: DataFrame, path: MatchPath,
                                 ipreds: Seq[Pred], marker: String): DataFrame = {
    val (sub, sharedVars) = existsKeys(path, ipreds, v => s"${marker}_k_$v")
    val cond = sharedVars.map(v =>
      propCol(v, "nodeId") === col(s"${marker}_k_$v")).reduce(_ && _)
    main.join(sub.withColumn(marker, lit(true)), cond, "left")
      .drop(sharedVars.map(v => s"${marker}_k_$v"): _*)
  }

  /** Attach one sorted-list column per DISTINCT pattern-comprehension
    * shape: the pattern is enumerated once ([[planPath]], trail semantics
    * included), inner-WHERE-filtered in its OWN alias space, grouped by
    * the shared bound variables' nodeIds into a canonical sorted
    * `collect_list` of the projection, and LEFT-joined back — never a
    * per-row subquery; [[exprCol]] coalesces the miss to the EMPTY list.
    * At 100 TB this is one grouped aggregation over the pattern's hop
    * joins plus one equi-join, the same shape as the degree sugar. */
  private def attachPatternComps(df: DataFrame,
                                 pcs: Seq[PatternComp]): DataFrame =
    pcs.zipWithIndex.foldLeft(df) { case (acc, (pc, i)) =>
      val outName = s"__pcomp$i"
      patternCompCols += pc -> outName
      val path = pc.path
      val boundBefore = stageVars ++ optNodeVars ++ carriedVars
      val sharedVars = path.nodes.map(_.varName).distinct.filter(boundBefore)
      require(sharedVars.nonEmpty,
        "a pattern comprehension must share at least one bound variable")
      val keyName = (v: String) => s"${outName}_k_$v"
      val frames = expandPaths(Seq(path)).map(_.head).map { p =>
        val planned = planPath(Nil, p, anonPrefix = s"${outName}_r")
        val saved = stageVars
        val savedRels = stageRelVars
        stageVars = varsOf(Seq(p))
        stageRelVars = relVarsOf(Seq(p))
        try {
          val filtered = pc.preds.foldLeft(planned)((d, pr) =>
            d.where(predCol(pr, d.schema)))
          filtered.select(
            (sharedVars.map(v => col(s"$v.nodeId").as(keyName(v))) :+
              exprCol(pc.proj, filtered.schema).as(s"${outName}_v")): _*)
        } finally { stageVars = saved; stageRelVars = savedRels }
      }
      val sub = frames.reduce(_.unionByName(_))
        .groupBy(sharedVars.map(v => col(keyName(v))): _*)
        .agg(sort_array(collect_list(col(s"${outName}_v"))).as(outName))
      patternCompTypes += pc -> sub.schema(outName).dataType
      val cond = sharedVars.map(v =>
        propCol(v, "nodeId") === col(keyName(v))).reduce(_ && _)
      acc.join(sub, cond, "left")
        .drop(sharedVars.map(keyName): _*)
    }

  /** Attach one grouped-count column per DISTINCT `COUNT { … }` shape:
    * the pattern enumerates once (trail semantics included), the inner
    * WHERE filters in its own alias space, and a map-side-combinable
    * COUNT grouped by the shared bound variables LEFT-joins back
    * (miss → 0 in [[exprCol]]) — the multi-hop generalization of the
    * [[attachDegree]] sugar, never a per-row subquery or a list. */
  private def attachPatternCounts(df: DataFrame,
                                  pcs: Seq[PatternCount]): DataFrame =
    pcs.zipWithIndex.foldLeft(df) { case (acc, (pc, i)) =>
      val outName = s"__pcount$i"
      patternCountCols += pc -> outName
      val path = pc.path
      val boundBefore = stageVars ++ optNodeVars ++ carriedVars
      val sharedVars = path.nodes.map(_.varName).distinct.filter(boundBefore)
      require(sharedVars.nonEmpty,
        "a COUNT subquery must share at least one bound variable")
      val keyName = (v: String) => s"${outName}_k_$v"
      val frames = expandPaths(Seq(path)).map(_.head).map { p =>
        val planned = planPath(Nil, p, anonPrefix = s"${outName}_r")
        val saved = stageVars
        val savedRels = stageRelVars
        stageVars = varsOf(Seq(p))
        stageRelVars = relVarsOf(Seq(p))
        try {
          val filtered = pc.preds.foldLeft(planned)((d, pr) =>
            d.where(predCol(pr, d.schema)))
          filtered.select(
            sharedVars.map(v => col(s"$v.nodeId").as(keyName(v))): _*)
        } finally { stageVars = saved; stageRelVars = savedRels }
      }
      val sub = frames.reduce(_.unionByName(_))
        .groupBy(sharedVars.map(v => col(keyName(v))): _*)
        .agg(count(lit(1)).as(outName))
      val cond = sharedVars.map(v =>
        propCol(v, "nodeId") === col(keyName(v))).reduce(_ && _)
      acc.join(sub, cond, "left")
        .drop(sharedVars.map(keyName): _*)
    }

  /** One `CALL { … }` subquery attached ([[Ast.CallSubquery]]): the
    * pattern is planned ONCE in its own alias space (per var-length
    * expansion, unioned), WHERE-filtered, and joined back on the
    * imported variables' nodeIds. Non-aggregating + LIMIT = per-key
    * top-k via ONE window `row_number` (no per-row re-execution; outer
    * rows with no subquery rows are eliminated — openCypher's inner
    * semantics). Aggregating = ONE grouped aggregation LEFT-joined back,
    * count→0 / collect→[] coalesced. Outputs register as carried
    * scalars for the RETURN. */
  private def attachCall(main: DataFrame, cs: CallSubquery): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val boundBefore = stageVars ++ optNodeVars ++ carriedVars
    cs.imports.foreach(v => require(boundBefore(v),
      s"CALL import $v is not a bound variable"))
    val subVars = varsOf(cs.paths)
    cs.imports.foreach(v => require(subVars.contains(v),
      s"CALL import $v must appear in the subquery pattern"))
    val aggItems = cs.items.filter(isAggItem)
    val keyNames = cs.imports.map(v => s"__call_k_$v")
    val saved = stageVars; val savedRels = stageRelVars
    // the subquery's joinPaths resets the named-path registries — the
    // OUTER query's nodes(p)/relationships(p) must survive the attach
    val savedPathNodes = pathNodeVars; val savedPathRels = pathRelAliases
    val frames = expandPaths(cs.paths).map { ps =>
      stageVars = varsOf(ps); stageRelVars = relVarsOf(ps)
      try {
        rejectRelVarReuse(ps)
        val joined = joinPaths(Nil, ps)
        val filtered = applyPreds(joined, cs.preds)
        val keyCols = cs.imports.map(v => col(s"$v.nodeId").as(s"__call_k_$v"))
        if (aggItems.isEmpty) {
          val itemCols = cs.items.map(i =>
            exprCol(i.expr, filtered.schema).as(i.name))
          // ORDER BY keys resolve INSIDE the subquery frame (only
          // needed under LIMIT) — hidden columns dropped after the trim
          val ordCols = cs.orderBy.zipWithIndex.map { case ((ref, _), i) =>
            val c =
              if (ref.contains('.')) {
                val Array(v, p) = ref.split("\\.", 2)
                propCol(v, p)
              } else cs.items.find(_.name == ref)
                .map(it => exprCol(it.expr, filtered.schema))
                .getOrElse(throw new IllegalArgumentException(
                  s"CALL ORDER BY '$ref' is neither v.prop nor an item alias"))
            c.as(s"__call_o_$i")
          }
          filtered.select((keyCols ++ itemCols ++ ordCols): _*)
        } else {
          val cols = keyCols ++ cs.items.map { i =>
            if (isAggItem(i)) i.expr match {
              case CountDistinct(v)           => distinctSrcCol(v).as(s"__aggsrc_${i.name}")
              case CountVar(v)                => countSrcCol(v).as(s"__aggsrc_${i.name}")
              case CollectDistinct(v, p)      => propCol(v, p).as(s"__aggsrc_${i.name}")
              case CollectAll(v, p)           => propCol(v, p).as(s"__aggsrc_${i.name}")
              case MinMaxProp(_, v, p)        => propCol(v, p).as(s"__aggsrc_${i.name}")
              case CountStar                  => lit(1L).as(s"__aggsrc_${i.name}")
              case AggFn(_, arg, _)           => exprCol(arg, filtered.schema).as(s"__aggsrc_${i.name}")
              case PercentileFn(_, arg, _)    => exprCol(arg, filtered.schema).as(s"__aggsrc_${i.name}")
              case other => throw new IllegalArgumentException(
                s"unsupported CALL aggregate $other")
            }
            else exprCol(i.expr, filtered.schema).as(i.name)
          }
          filtered.select(cols: _*)
        }
      } finally {
        stageVars = saved; stageRelVars = savedRels
        pathNodeVars = savedPathNodes; pathRelAliases = savedPathRels
      }
    }
    val sub0 = frames.reduce(_.unionByName(_))
    val sub =
      if (aggItems.isEmpty) {
        cs.limit match {
          case None => sub0.drop(cs.orderBy.indices.map(i => s"__call_o_$i"): _*)
          case Some(n) =>
            // per-import-key top-k: one window row_number; deterministic
            // tie-breaking over the remaining atomic item columns
            val ordKeys = cs.orderBy.zipWithIndex.map { case ((_, desc), i) =>
              val c = col(s"__call_o_$i")
              // Neo4j null ordering: largest (nulls last on ASC)
              if (desc) c.desc_nulls_first else c.asc_nulls_last }
            val ties = cs.items.map(_.name)
              .filter(nm => isAtomicType(sub0.schema(nm).dataType))
              .sorted.map(col(_).asc_nulls_last)
            val w = Window.partitionBy(keyNames.map(col): _*)
              .orderBy((ordKeys ++ ties): _*)
            sub0.withColumn("__call_rn", row_number().over(w))
              .where(col("__call_rn") <= countOf(n, "LIMIT"))
              .drop("__call_rn")
              .drop(cs.orderBy.indices.map(i => s"__call_o_$i"): _*)
        }
      } else {
        val groupCols = keyNames ++ cs.items.filterNot(isAggItem).map(_.name)
        val aggCols = aggItems.map(i => aggCol(i.expr, s"__aggsrc_${i.name}").as(i.name))
        if (groupCols.isEmpty) sub0.agg(aggCols.head, aggCols.tail: _*)
        else sub0.groupBy(groupCols.map(col): _*).agg(aggCols.head, aggCols.tail: _*)
      }
    // an aggregating subquery WITHOUT grouping keys (every item an
    // aggregate) returns one row even on empty input — LEFT join +
    // count→0 / collect→[] coalesce. WITH grouping keys (a non-aggregate
    // item), openCypher's grouped aggregation over empty input yields
    // ZERO rows, eliminating the outer row — join inner like the
    // non-aggregating path (no fabricated null-key row).
    val hasGroupKeys = cs.items.exists(i => !isAggItem(i))
    // an UNCORRELATED CALL multiplies every outer row by the subquery's
    // result — semantics-required, but only safe when that result is
    // BOUNDED (an aggregate or an explicit LIMIT caps it, so the
    // product side broadcasts); an unbounded uncorrelated subquery at
    // 100 TB is a cartesian blow-up the caller almost never means
    if (cs.imports.isEmpty)
      require(aggItems.nonEmpty || cs.limit.isDefined,
        "an uncorrelated CALL { … } must aggregate or carry a LIMIT " +
          "(the subquery result multiplies every outer row) — import a " +
          "variable with CALL { WITH v … } to correlate instead")
    val joined =
      if (cs.imports.isEmpty) main.crossJoin(sub)
      else {
        val cond = cs.imports.map(v =>
          propCol(v, "nodeId") === col(s"__call_k_$v")).reduce(_ && _)
        main.join(sub, cond,
          if (aggItems.isEmpty || hasGroupKeys) "inner" else "left")
      }
    val coalesced =
      if (aggItems.isEmpty || hasGroupKeys) joined
      else aggItems.foldLeft(joined) { (df, i) =>
        i.expr match {
          case CountStar | _: CountVar | _: CountDistinct |
               AggFn("count", _, _) =>
            df.withColumn(i.name, coalesce(col(i.name), lit(0L)))
          case _: CollectAll | _: CollectDistinct | AggFn("collect", _, _) =>
            df.withColumn(i.name, coalesce(col(i.name),
              array().cast(sub.schema(i.name).dataType)))
          case _ => df
        }
      }
    carriedScalars ++= cs.items.map(_.name)
    coalesced.drop(keyNames: _*)
  }

  /** One OPTIONAL MATCH clause = a LEFT OUTER join of the preserved frame
    * against the optional pattern's solutions, keyed on the shared (already
    * bound) variables' nodeIds. The optional side is planned like any MATCH
    * (its WHERE filters the pattern, not the preserved rows), then projected
    * to a stable flattened schema — __ok_<v> join keys for shared vars,
    * __o_<var>_<field> for its new node vars (null-extended on no match),
    * __o_<rel>_{src,dst,relType} for its named rels (the full identity
    * triple, so `RETURN r` / `properties(r)` project NULL-or-struct like
    * an optional node; round 16) — so var-length expansions union
    * cleanly before the single left join. Scale shape: the optional side is
    * one pattern enumeration (the same hop joins as a mandatory MATCH); the
    * left join is an ordinary equi-join on nodeIds, so AQE/broadcast
    * selection applies as usual. */
  private def attachOptional(main: DataFrame, om: OptionalMatch): DataFrame = {
    val boundBefore = stageVars ++ optNodeVars ++ carriedVars
    val pathVars = om.path.nodes.map(_.varName).distinct
    val sharedVars = pathVars.filter(boundBefore)
    val newNodeVars = pathVars.filterNot(boundBefore)
    require(sharedVars.nonEmpty,
      "OPTIONAL MATCH must share at least one bound variable")
    val relVars = om.path.rels.flatMap(_.varName)
    val nodeFields = g.nodes.columns.toSeq
    val frames = expandPaths(Seq(om.path)).map(_.head).map { p =>
      val planned = planPath(Nil, p)
      // predicates resolve in the optional pattern's own alias space
      // (shared vars included — they are local aliases here); rel vars
      // too, so property TYPING resolves against the rel schema
      val saved = stageVars
      val savedRels = stageRelVars
      stageVars = varsOf(Seq(p))
      stageRelVars = relVarsOf(Seq(p))
      // applyPreds (not a plain fold) so the optional pattern's WHERE may
      // itself carry EXISTS predicates — they semi/anti/marker-join
      // against THIS optional frame (deciding whether the optional side
      // MATCHES, exactly Cypher's scoping), sharing variables with the
      // optional pattern's own bindings
      val filteredOpt =
        try applyPreds(planned, om.preds)
        finally { stageVars = saved; stageRelVars = savedRels }
      val keyCols = sharedVars.map(v => col(s"$v.nodeId").as(s"__ok_$v"))
      val newCols = newNodeVars.flatMap(v =>
        nodeFields.map(f => col(s"$v.$f").as(s"__o_${v}_$f")))
      val relCols = relVars.flatMap(rv => g.rels.columns.toSeq.map(f =>
        col(s"$rv.$f").as(s"__o_${rv}_$f")))
      filteredOpt.select(keyCols ++ newCols ++ relCols: _*)
    }
    val optDf = frames.reduce(_.unionByName(_))
    val cond = sharedVars.map(v => propCol(v, "nodeId") === col(s"__ok_$v"))
      .reduce(_ && _)
    optNodeVars ++= newNodeVars
    optRelVars ++= relVars
    main.join(optDf, cond, "left").drop(sharedVars.map(v => s"__ok_$v"): _*)
  }

  // ---- expression-tree walkers (degree collection, path-fn detection) ----

  /** Every sub-expression of `e`, including `e` itself. */
  private def walkExpr(e: Expr): Seq[Expr] = e +: (e match {
    case BinOp(_, l, r)        => walkExpr(l) ++ walkExpr(r)
    case CoalesceE(args)       => args.flatMap(walkExpr)
    case CaseExpr(bs, d)       => bs.flatMap { case (c, x) =>
      walkCond(c) ++ walkExpr(x) } ++ d.toSeq.flatMap(walkExpr)
    case ScalarFn(_, args)     => args.flatMap(walkExpr)
    case AggFn(_, a, _)        => walkExpr(a)
    case PercentileFn(_, a, _) => walkExpr(a)
    case ListLit(items)        => items.flatMap(walkExpr)
    case ListIndex(l, _)       => walkExpr(l)
    case ListSlice(l, _, _)    => walkExpr(l)
    case ReduceExpr(_, init, _, l, body) =>
      walkExpr(init) ++ walkExpr(l) ++ walkExpr(body)
    case ListComp(_, l, c, pj) =>
      walkExpr(l) ++ c.toSeq.flatMap(walkCond) ++ pj.toSeq.flatMap(walkExpr)
    case DynProp(_, k)         => walkExpr(k)
    case MapLitE(es)           => es.flatMap { case (_, x) => walkExpr(x) }
    case _                     => Nil
  })

  private def walkCond(c: Cond): Seq[Expr] = c match {
    case CmpCond(l, _, r) => walkExpr(l) ++ walkExpr(r)
    case NullCond(x, _)   => walkExpr(x)
    case StrCond(l, _, r) => walkExpr(l) ++ walkExpr(r)
    case QuantCond(_, _, l, cc) => walkExpr(l) ++ walkCond(cc)
  }

  /** Scalar expressions inside a predicate tree. Does NOT descend into
    * EXISTS inner predicates — those resolve in the pattern's own frame,
    * not the main one. */
  private def walkPred(p: Pred): Seq[Expr] = p match {
    case StrPred(l, _, r)   => walkExpr(l) ++ walkExpr(r)
    case ExprCmp(l, _, r)   => walkExpr(l) ++ walkExpr(r)
    case IsNullPred(ref, _) => walkExpr(ref)
    case InList(ref, _, _)  => walkExpr(ref)
    case InCarried(ref, _, _) => walkExpr(ref)
    case ListQuantPred(_, _, l, c) => walkExpr(l) ++ walkCond(c)
    case OrPred(l, r)       => walkPred(l) ++ walkPred(r)
    case AndPred(l, r)      => walkPred(l) ++ walkPred(r)
    case NotPred(x)         => walkPred(x)
    case _                  => Nil
  }

  // ---- degree sugar: count { (n)-[:T]-() } / size((n)--()) ----

  /** Attach one grouped degree count per DISTINCT degree shape as a
    * `__deg<i>` column: the (typed, oriented, far-labeled) edge view is
    * aggregated ONCE by source nodeId — a map-side-combinable count over
    * the edge table, never a per-row subquery — and left-joins back on
    * the bound variable's nodeId (null → 0 in [[exprCol]]). At scale the
    * degree frame is one keyed shuffle of O(matching nodes) rows;
    * Catalyst broadcasts it when small. */
  /** Attach `startNode(r)` / `endNode(r)` endpoint nodes: ONE equi-join
    * of the node table per distinct (fn, rel) — the endpoint id column
    * (stored orientation: start = src, end = dst) joins nodes.nodeId,
    * node fields flattened under a fresh __ep prefix. Inner join for
    * bound rels (endpoints always exist, S3); LEFT join for OPTIONAL
    * rels (round 16 — their carried __o_ id columns are null on an
    * unmatched row, which must survive as NULL endpoint fields, Neo4j's
    * startNode(null) = null). `offset` keeps the __ep prefixes disjoint
    * when the bound and optional batches attach to the same frame. */
  private def attachEndpoints(df: DataFrame, eps: Seq[EndpointOf],
                              offset: Int = 0): DataFrame =
    eps.map(e => (e.fn, e.relVar)).distinct.zipWithIndex
      .foldLeft(df) { case (acc, ((fn, rv), i)) =>
        require(stageRelVars.contains(rv) || carriedRelVars.contains(rv) ||
            optRelVars.contains(rv),
          s"${fn}Node($rv) needs a bound relationship variable")
        val pre = s"__ep${i + offset}_"
        endpointPrefixes += (fn, rv) -> pre
        val nodesR = g.nodes.select(g.nodes.columns.toSeq.map(f =>
          col(f).as(s"$pre$f")): _*)
        val endCol = propCol(rv, if (fn == "start") "src" else "dst")
        val jt = if (optRelVars.contains(rv)) "left" else "inner"
        acc.join(nodesR, endCol === col(s"${pre}nodeId"), jt)
      }

  private def attachDegrees(df: DataFrame, degs: Seq[DegreeOf]): DataFrame = {
    degreeCols = Map.empty
    degs.zipWithIndex.foldLeft(df) { case (d, (deg, i)) =>
      val name = s"__deg$i"
      degreeCols += deg -> name
      attachDegree(d, deg, name)
    }
  }

  private def attachDegree(df: DataFrame, deg: DegreeOf,
                           name: String): DataFrame = {
    val bound = stageVars ++ carriedVars ++ optNodeVars
    require(bound.contains(deg.varName),
      s"count { … } pattern must anchor on a bound node variable: ${deg.varName}")
    // one stored orientation for arrows, the bidir view (self-loops once)
    // for the undirected form — same mapping as a MATCH hop
    val view = deg.dir match {
      case 1  => g.rels.select(col("relType"), col("src").as("a"), col("dst").as("b"))
      case -1 => g.rels.select(col("relType"), col("dst").as("a"), col("src").as("b"))
      case _  => g.bidir.select(col("relType"), col("a"), col("b"))
    }
    val typed =
      if (deg.relTypes.isEmpty) view
      else view.where(col("relType").isin(deg.relTypes: _*))
    val labeled = deg.farLabel match {
      case Some(l) if l != "_Entity_" =>
        typed.join(g.nodes.where(labelTest(g.nodes, l))
          .select(col("nodeId").as("__fb")), col("b") === col("__fb"))
      case _ => typed
    }
    val counts = labeled.groupBy(col("a").as(s"${name}_k"))
      .agg(count(lit(1)).as(name))
    df.join(counts, propCol(deg.varName, "nodeId") === col(s"${name}_k"), "left")
      .drop(s"${name}_k")
  }

  /** ORDER BY keys shaped `v.prop` that are NOT among the projected item
    * names: legal Cypher (ordering by an unprojected property) on a
    * non-aggregating, non-DISTINCT query — each gets a HIDDEN sort column
    * that [[plan]] drops after the sort. Aggregating queries must order
    * by outputs (grouping already consumed the rows), and DISTINCT's row
    * identity would change under extra columns — both keep the previous
    * behavior. The '.' is sanitized out of the hidden name (Spark parses
    * dots as struct access). */
  // a plain `v.prop` ORDER BY ref (vs a general expression's text)
  private val propRefPat = "^[A-Za-z_][A-Za-z0-9_]*\\.[A-Za-z0-9_]+$".r
  private val bareIdentPat = "^[A-Za-z_][A-Za-z0-9_]*$".r

  /** Final-ORDER-BY keys that need a hidden pre-projection column: an
    * unprojected `v.prop`, or a general EXPRESSION (stored as canonical
    * text, re-parsed at resolution) — both computed over the full
    * pre-projection frame and dropped after the trim. */
  private def hiddenOrderRefs(q: CypherQuery): Seq[(String, String)] =
    if (q.isAggregating || q.distinct) Nil
    else q.orderBy.map(_._1)
      .filter(r => !q.items.exists(_.name == r) &&
        !bareIdentPat.matches(r))
      .distinct
      .zipWithIndex
      .map { case (r, i) => r -> s"__ord_$i" }

  /** The count source for `count(v)`: a node's nodeId; a relationship's
    * relType — null exactly when an OPTIONAL rel is unmatched, so the
    * null-skipping count matches Neo4j's count(r) (round 15 — count
    * over relationship variables was previously rejected). */
  private def countSrcCol(v: String): Column =
    if (optRelVars.contains(v)) col(s"__o_${v}_relType")
    else if (stageRelVars.contains(v) || carriedRelVars.contains(v))
      propCol(v, "relType")
    else propCol(v, "nodeId")

  /** The distinct-count source for `count(DISTINCT v)`: a node's nodeId;
    * a relationship's full identity triple (two parallel edges of
    * different types stay distinct). An OPTIONAL rel's triple is
    * null-guarded on relType (round 16) so unmatched rows project SQL
    * NULL — which count(DISTINCT …) skips, matching Neo4j — instead of
    * a non-null all-null-fields struct that would count as one value. */
  private def distinctSrcCol(v: String): Column =
    if (optRelVars.contains(v))
      when(propCol(v, "relType").isNotNull,
        struct(Seq("dst", "relType", "src").map(f => propCol(v, f).as(f)): _*))
    else if (stageRelVars.contains(v) || carriedRelVars.contains(v))
      struct(Seq("dst", "relType", "src").map(f => propCol(v, f).as(f)): _*)
    else propCol(v, "nodeId")

  private def projectTuple(df: DataFrame, q: CypherQuery): DataFrame = {
    val hidden = hiddenOrderRefs(q).map { case (r, name) =>
      (if (propRefPat.matches(r)) {
        val Array(v, p) = r.split("\\.", 2)
        propCol(v, p)
      } else exprCol(Parser.parseExpression(r), df.schema)).as(name)
    }
    val cols = q.items.zipWithIndex.map { case (i, idx) =>
      i.expr match {
        case CountDistinct(v)            => distinctSrcCol(v).as(s"__agg$idx")
        case CountDistinctInParam(v, _)  => propCol(v, "nodeId").as(s"__agg$idx")
        case CollectDistinct(v, p)       => propCol(v, p).as(s"__agg$idx")
        case CollectAll(v, p)            => propCol(v, p).as(s"__agg$idx")
        case MinMaxProp(_, v, p)         => propCol(v, p).as(s"__agg$idx")
        case CountStar                   => lit(1L).as(s"__agg$idx")
        case CountVar(v)                 => countSrcCol(v).as(s"__agg$idx")
        case AggFn(_, arg, _)            => exprCol(arg, df.schema).as(s"__agg$idx")
        case PercentileFn(_, arg, _)     => exprCol(arg, df.schema).as(s"__agg$idx")
        case e                           => exprCol(e, df.schema).as(i.name)
      }
    }
    df.select(cols ++ hidden: _*)
  }

  /** Enumerate the cartesian product of hop counts for every var-length
    * rel, rewriting each choice to a fixed-length path with fresh anonymous
    * intermediate nodes (same label/type constraints as the ranged rel). */
  private def expandPaths(paths: Seq[MatchPath]): Seq[Seq[MatchPath]] = {
    def expandPath(path: MatchPath, pathIdx: Int): Seq[MatchPath] =
      path.rels.zipWithIndex.foldLeft(
        Seq(MatchPath(path.nodes.take(1), Nil, path.name))) {
        case (acc, (r, i)) =>
          val next = path.nodes(i + 1)
          r.range match {
            case None =>
              acc.map(p => p.copy(nodes = p.nodes :+ next, rels = p.rels :+ r))
            case Some((lo, hi)) =>
              for { p <- acc; k <- lo to hi } yield {
                val anons = (1 until k).map(j =>
                  NodePat(s"__v${pathIdx}_${i}_$j", None, None, None))
                // every expanded hop keeps the ranged rel's direction
                val hopRels = Seq.fill(k)(RelPat(None, r.relTypes, None, r.dir))
                p.copy(nodes = p.nodes ++ anons :+ next, rels = p.rels ++ hopRels)
              }
          }
      }
    paths.zipWithIndex
      .map { case (p, idx) => expandPath(p, idx) }
      .foldLeft(Seq(Seq.empty[MatchPath])) { (acc, opts) =>
        for (a <- acc; o <- opts) yield a :+ o
      }
  }

  private def expandVarLength(q: CypherQuery): Seq[CypherQuery] =
    expandPaths(q.paths).map(ps => q.copy(paths = ps))

  /** One MATCH path = anchor/label-filtered node frames chained through the
    * bidirected edge view; every node var and rel var becomes a plan alias
    * so RETURN items can reference them. */
  private def planPath(unwinds: Seq[Unwind], path: MatchPath,
                       anonPrefix: String = "__r"): DataFrame = {
    val first = nodeFrame(unwinds, path.nodes.head)
    // broadcast the head only when it is genuinely anchored (tiny)
    val head = if (isAnchored(unwinds, path.nodes.head)) broadcast(first) else first

    var df = head
    path.rels.zipWithIndex.foreach { case (r, i) =>
      val rv = r.varName.getOrElse(s"$anonPrefix$i")
      // directed hops traverse ONE stored orientation — a plain projection
      // of the rel table (keeps the (relType, src, dst) identity for trail
      // semantics), strictly cheaper than the undirected bidir union. The
      // left-to-right pattern direction maps to (a, b): `->` walks src→dst,
      // `<-` walks dst→src; self-loops appear once either way.
      val view = r.dir match {
        case 1  => g.rels.select(col("relType"), col("src"), col("dst"),
          col("src").as("a"), col("dst").as("b"))
        case -1 => g.rels.select(col("relType"), col("src"), col("dst"),
          col("dst").as("a"), col("src").as("b"))
        case _  => g.bidir
      }
      val e = (if (r.relTypes.isEmpty) view
               else view.where(col("relType").isin(r.relTypes: _*))).as(rv)
      val prev = path.nodes(i).varName
      val next = path.nodes(i + 1)
      val nextFrame = nodeFrame(unwinds, next)
      df =
        if (isAnchored(unwinds, next)) {
          // meet-in-the-middle: when the hop's far node is anchored (tiny),
          // filter the edge leg by the anchor BEFORE joining the frontier —
          // otherwise the frontier joins the full edge table only to discard
          // almost all of it at the anchor (the 2-path scale killer)
          val eAnchored = e.join(broadcast(nextFrame),
            col(s"$rv.b") === col(s"${next.varName}.nodeId"))
          df.join(eAnchored, col(s"$prev.nodeId") === col(s"$rv.a"))
        } else {
          df.join(e, col(s"$prev.nodeId") === col(s"$rv.a"))
            .join(nextFrame, col(s"$rv.b") === col(s"${next.varName}.nodeId"))
        }
    }
    // trail semantics: every pair of rels in the path must bind different
    // stored relationships — identity is the (relType, src, dst) triple
    val rvs = path.rels.zipWithIndex.map { case (r, i) =>
      r.varName.getOrElse(s"$anonPrefix$i") }
    for (i <- rvs.indices; j <- i + 1 until rvs.length)
      df = df.where(graft.operators.Patterns.trailNeq(rvs(i), rvs(j)))
    df
  }

  private def isAnchored(unwinds: Seq[Unwind], n: NodePat): Boolean =
    n.anchorValue match {
      // a carried-scalar anchor is a JOIN, not a tiny filter — the frame
      // must not broadcast on its account
      case Some(VarRef(u)) => unwinds.exists(uw => uw.varName == u && !uw.carried)
      case Some(_)         => true
      case None            => false
    }

  /** Label test for READ paths (anchors, WHERE n:L, far-label joins):
    * consult the full `labels` set when the node table carries one —
    * `SET n:Label` adds secondary labels there (round 15) — else the
    * primary `label` column. Equivalent on an unmutated graph, where
    * labels = [label, _Entity_]. WRITE paths (MERGE / bulk upsert) keep
    * addressing nodes by PRIMARY label: the (label, nodeId) merge key. */
  private def labelTest(nodes: DataFrame, l: String): Column =
    if (g.labelsMutated && nodes.schema.fieldNames.contains("labels"))
      array_contains(col("labels"), lit(l))
    else col("label") === lit(l)

  private def nodeFrame(unwinds: Seq[Unwind], n: NodePat): DataFrame = {
    val labeled = n.label match {
      case Some("_Entity_") | None => g.nodes
      case Some(l)                 => g.nodes.where(labelTest(g.nodes, l))
    }
    val anchored = (n.anchorProp, n.anchorValue) match {
      case (Some(p), Some(StrLit(v)))  => labeled.where(col(p) === lit(v))
      case (Some(p), Some(LongLit(v))) => labeled.where(col(p) === lit(v))
      case (Some(p), Some(ParamRef(nm))) =>
        // map-parameter anchor (n:L {name: $param}): one scalar equality
        // against the parameter's value — same pushable shape as a
        // literal anchor, so the frame still broadcasts
        params.get(nm) match {
          case Some(s: String) => labeled.where(col(p) === lit(s))
          case Some(x: Number) => labeled.where(col(p) === lit(x.longValue()))
          case Some(other) => throw new IllegalArgumentException(
            s"anchor parameter $$$nm must be a string or integer, got $other")
          case None => throw new IllegalArgumentException(
            s"missing parameter $$$nm")
        }
      case (Some(p), Some(VarRef(u))) =>
        // UNWIND $param AS u / UNWIND [lit, …] AS u, then MATCH (x {p: u})
        // — anchor against the unwound list (literal lists need no
        // parameter map)
        unwinds.find(_.varName == u) match {
          case Some(uw) => uw.literals match {
            case Some(ls) =>
              val vals: Seq[Any] = ls.map {
                case StrLit(s)  => s
                case LongLit(v) => v
                case other => throw new IllegalArgumentException(
                  s"unsupported UNWIND literal $other")
              }
              labeled.where(col(p).isin(vals: _*))
            case None => params.get(uw.param) match {
              case Some(vs: Seq[_]) => labeled.where(col(p).isin(vs: _*))
              case _ => throw new IllegalArgumentException(
                s"missing parameter for UNWIND var $u")
            }
          }
          case None if carriedScalars.contains(u) =>
            // carried-scalar anchor (incl. a carried-list UNWIND's
            // element): the equality joins against the carried frame —
            // recorded here, applied after attachBase
            if (!allowCarriedAnchors) throw new IllegalArgumentException(
              s"carried-scalar anchor {$p: $u} is only supported in main " +
                "MATCH paths — use a WHERE equality here instead")
            pendingAnchorJoins :+= ((n.varName, p, u))
            labeled
          case None =>
            throw new IllegalArgumentException(s"unbound variable $u")
        }
      case _ => labeled
    }
    // multi-property map anchor: each extra pair is one more pushable
    // equality on the same frame (still a tiny broadcastable anchor)
    val fullyAnchored = n.extraAnchors.foldLeft(anchored) {
      case (df, (p, StrLit(s)))  => df.where(col(p) === lit(s))
      case (df, (p, LongLit(l))) => df.where(col(p) === lit(l))
      case (df, (p, ParamRef(nm))) => params.get(nm) match {
        case Some(s: String) => df.where(col(p) === lit(s))
        case Some(x: Number) => df.where(col(p) === lit(x.longValue()))
        case Some(other) => throw new IllegalArgumentException(
          s"anchor parameter $$$nm must be a string or integer, got $other")
        case None => throw new IllegalArgumentException(
          s"missing parameter $$$nm")
      }
      case (_, (p, other)) => throw new IllegalArgumentException(
        s"unsupported map-anchor value for $p: $other")
    }
    fullyAnchored.as(n.varName)
  }

  /** Resolve `v.field`: a variable bound by the CURRENT stage's MATCH
    * shadows (and equals, by the nodeId re-binding join) a carried one;
    * otherwise the flattened __w_ column from the last WITH barrier. */
  private def propCol(v: String, field: String): Column =
    if (stageVars.contains(v)) col(s"$v.$field")
    else if (optNodeVars.contains(v) || optRelVars.contains(v))
      col(s"__o_${v}_$field")
    else if (carriedVars.contains(v) || carriedRelVars.contains(v))
      col(s"__w_${v}_$field")
    else col(s"$v.$field") // stage rel vars and anonymous expansions

  private def predCol(p: Pred,
      schema: org.apache.spark.sql.types.StructType): Column = p match {
    case ExistsPat(path, neg, ipreds) =>
      // nested under OR/NOT: applyPreds attached a marker left join for
      // this pattern — fold its null-safe boolean into the tree. A miss
      // means an unsupported context (e.g. OPTIONAL MATCH WHERE).
      existsMarkers.get((path, ipreds)) match {
        case Some(mk) =>
          val m = coalesce(col(mk), lit(false))
          if (neg) !m else m
        case None => throw new IllegalArgumentException(
          "EXISTS { … } is not supported inside this WHERE context")
      }
    case VarNeq(a, b) => propCol(a, "nodeId") =!= propCol(b, "nodeId")
    case NotIdIn(v, param) =>
      val ids = longs(param)
      !propCol(v, "nodeId").isin(ids: _*)
    case NormEqParam(c, param) =>
      val raw = params.getOrElse(param,
        throw new IllegalArgumentException(s"missing parameter $$$param"))
        .toString
      val normed = java.text.Normalizer.normalize(
        raw.toLowerCase(java.util.Locale.ROOT), java.text.Normalizer.Form.NFC)
      graft.functions.nfc(lower(scalarCol(c))) === lit(normed)
    case ColCmp(c, op, value) => cmpLit(scalarCol(c), op, value)
    case PropCmp(v, p, op, value) => cmpLit(propCol(v, p), op, value)
    case IsNullPred(PropRef(v, p), neg) =>
      if (neg) propCol(v, p).isNotNull else propCol(v, p).isNull
    case IsNullPred(ColRef(n), neg) =>
      if (neg) col(n).isNotNull else col(n).isNull
    case IsNullPred(other, _) =>
      throw new IllegalArgumentException(
        s"IS NULL applies to properties and projected columns, not $other")
    case InList(ref, vs, neg) =>
      val c = ref match {
        case PropRef(v, p) => propCol(v, p)
        case ColRef(n)     => col(n)
        case other         => exprCol(other, schema) // function-headed ref
      }
      // typed membership, like Cypher: the ref's STATIC type must agree
      // with the (parser-guaranteed homogeneous) list's element type —
      // otherwise Spark's In coercion string-casts one side, and e.g.
      // `"1" IN [1]` comes back true where Cypher says false. Numeric
      // widening (int column, long literals) is exact and allowed.
      val refType: Option[org.apache.spark.sql.types.DataType] = ref match {
        case PropRef(v, p) => varSchema(v).fields.find(_.name == p).map(_.dataType)
        case ColRef(n)     => schema.fields.find(_.name == n).map(_.dataType)
        case other         => staticType(other, schema)
      }
      val listIsString = vs.head.isInstanceOf[StrLit]
      refType.foreach { dt =>
        val ok =
          if (listIsString) dt == org.apache.spark.sql.types.StringType
          else dt.isInstanceOf[org.apache.spark.sql.types.NumericType]
        require(ok, s"IN list of ${if (listIsString) "strings" else "integers"} " +
          s"cannot test a ${dt.simpleString} ${ref match {
            case PropRef(v, p) => s"property $v.$p"
            case ColRef(n)     => s"column $n"
            case _             => "reference"
          }} — Cypher comparison is typed (no implicit casts)")
      }
      val lits: Seq[Any] = vs.map {
        case StrLit(s)  => s
        case LongLit(v) => v
        case other => throw new IllegalArgumentException(
          s"unsupported IN-list value $other")
      }
      if (neg) !c.isin(lits: _*) else c.isin(lits: _*)
    case InParam(ref, pm, neg) =>
      val c = ref match {
        case PropRef(v, p) => propCol(v, p)
        case ColRef(n)     => col(n)
        case other         => exprCol(other, schema) // function-headed ref
      }
      val raw = params.getOrElse(pm, throw new IllegalArgumentException(
        s"missing parameter $$$pm"))
      val vals: Seq[Any] = raw match {
        case s: Seq[_] if s.forall(_.isInstanceOf[String]) => s
        case s: Seq[_] if s.forall(_.isInstanceOf[Number]) =>
          s.map(_.asInstanceOf[Number].longValue())
        case other => throw new IllegalArgumentException(
          s"parameter $$$pm must be a list of strings or of integers, " +
            s"got $other")
      }
      // typed membership, like InList — Cypher comparison has no
      // implicit casts; numeric widening is exact and allowed
      val refType: Option[org.apache.spark.sql.types.DataType] = ref match {
        case PropRef(v, p) => varSchema(v).fields.find(_.name == p).map(_.dataType)
        case ColRef(n)     => schema.fields.find(_.name == n).map(_.dataType)
        case other         => staticType(other, schema)
      }
      val isStringList = vals.headOption.exists(_.isInstanceOf[String])
      refType.foreach { dt =>
        val ok =
          if (vals.isEmpty) true
          else if (isStringList) dt == org.apache.spark.sql.types.StringType
          else dt.isInstanceOf[org.apache.spark.sql.types.NumericType]
        require(ok, s"parameter $$$pm holds " +
          s"${if (isStringList) "strings" else "integers"} and cannot test " +
          s"a ${dt.simpleString} reference — Cypher comparison is typed")
      }
      if (neg) !c.isin(vals: _*) else c.isin(vals: _*)
    case StrPred(l, op, r) =>
      strPredCol(exprCol(l, schema), op, exprCol(r, schema))
    case InCarried(ref, nm, neg) =>
      // membership in a carried list alias — one codegen'd
      // array_contains over the carried column
      if (!carriedScalars.contains(nm))
        throw new IllegalArgumentException(
          s"IN source $nm is not a carried list alias")
      val c = array_contains(col(nm), exprCol(ref, schema))
      if (neg) !c else c
    case LabelPred(v, label, neg) =>
      // label TEST consults the full `labels` set when present (SET
      // n:Label adds secondary labels there, round 15 — equivalent to
      // the primary equality on an unmutated graph); `_Entity_` matches
      // every node (stark_neo4j_loading.py:35)
      val c =
        if (label == "_Entity_") lit(true)
        else if (g.labelsMutated && varSchema(v).fieldNames.contains("labels"))
          array_contains(propCol(v, "labels"), lit(label))
        else propCol(v, "label") === lit(label)
      if (neg) !c else c
    case ListQuantPred(fn, v, l, c) =>
      // any/all/none/single → Spark's codegen'd exists/forall/filter
      // higher-order functions via [[quantCol]]; a null list nulls the
      // quantifier and the row drops, like Neo4j
      val arr = exprCol(l, schema)
      val et = elemType(l, schema)
      quantCol(fn, arr,
        x => withLambda(Seq((v, x, et)))(condCol(c, schema)))
    case ExprCmp(l, op, r) =>
      val lc = exprCol(l, schema); val rc = exprCol(r, schema)
      op match {
        case "="  => lc === rc
        case "<>" => lc =!= rc
        case "<"  => lc < rc
        case "<=" => lc <= rc
        case ">"  => lc > rc
        case ">=" => lc >= rc
        case o    => throw new IllegalArgumentException(s"unknown operator $o")
      }
    // combinators never contain ExistsPat (parse-time invariant), so they
    // fold into one boolean column
    case OrPred(l, r)  => predCol(l, schema) || predCol(r, schema)
    case AndPred(l, r) => predCol(l, schema) && predCol(r, schema)
    case NotPred(p0)   => !predCol(p0, schema)
  }

  private def cmpLit(c: Column, op: String, value: AnchorValue): Column = {
    val l = value match {
      case StrLit(v)  => lit(v)
      case LongLit(v) => lit(v)
      // scalar-parameter comparison — resolved to a literal at plan time,
      // so it stays one pushable scan predicate like the anchor form
      case ParamRef(nm) => params.get(nm) match {
        case Some(s: String) => lit(s)
        case Some(x: Number) => lit(x.longValue())
        case Some(other) => throw new IllegalArgumentException(
          s"comparison parameter $$$nm must be a string or integer, got $other")
        case None => throw new IllegalArgumentException(
          s"missing parameter $$$nm")
      }
      case other =>
        throw new IllegalArgumentException(s"unsupported comparison value $other")
    }
    op match {
      case "="  => c === l
      case "<>" => c =!= l
      case "<"  => c < l
      case "<=" => c <= l
      case ">"  => c > l
      case ">=" => c >= l
      case o => throw new IllegalArgumentException(s"unknown operator $o")
    }
  }

  /** A bare column name: a WITH-projected scalar, or (rarely) a current
    * column by that exact name. */
  private def scalarCol(c: String): Column = col(c)

  /** Double-preserving floor/ceil: Spark's floor/ceil on a double return
    * LONG and saturate at ±2^63 (and send NaN to 0 via the long cast),
    * while DuckDB's stay double — diverging from the documented
    * "identical floor form on both engines" contract (ADVICE r15).
    * Above 2^63 every double is already integral (spacing ≥ 2048), so
    * the identity IS the floor/ceil; NaN and ±Infinity likewise map to
    * themselves on both reference engines. The guard routes exactly
    * those inputs to the identity and leaves the codegen'd long path
    * untouched everywhere it is exact. */
  private def dblFloor(x: Column, f: Column => Column): Column = {
    val d = x.cast("double")
    when(isnan(d) || abs(d) >= lit(9.223372036854776e18d), d)
      .otherwise(f(d).cast("double"))
  }

  private def isIntegralType(dt: org.apache.spark.sql.types.DataType): Boolean =
    dt match {
      case org.apache.spark.sql.types.ByteType |
           org.apache.spark.sql.types.ShortType |
           org.apache.spark.sql.types.IntegerType |
           org.apache.spark.sql.types.LongType => true
      case _ => false
    }

  /** Schema a `v.prop` reference statically resolves against: the
    * relationship schema for a relationship variable, the node schema
    * for everything else (stage/carried/optional node vars and anonymous
    * var-length expansions are all node-shaped). */
  // non-graph frame aliases with their own schema (the bulk-upsert row
  // variable) — consulted before the node/rel fallback so expression
  // TYPING (integer division, string concat) resolves correctly
  private var extraVarSchemas: Map[String, org.apache.spark.sql.types.StructType] =
    Map.empty

  private def varSchema(v: String): org.apache.spark.sql.types.StructType =
    if (extraVarSchemas.contains(v)) extraVarSchemas(v)
    else if (stageRelVars.contains(v) || optRelVars.contains(v) ||
             carriedRelVars.contains(v)) g.rels.schema
    else g.nodes.schema

  private def rejectRelEntity(v: String): Unit =
    require(!stageRelVars.contains(v) && !optRelVars.contains(v) &&
        !carriedRelVars.contains(v),
      s"dynamic/map projection of relationship variable $v is outside " +
        s"the dialect — project $v, properties($v), or type($v) instead")

  /** The name-sorted property fields of a whole-entity / `properties()`
    * struct: every union-of-keys column except the label metadata
    * (nodeId IS a property — the S2 key), same exclusion as `keys()`.
    * For a relationship variable this is the identity triple
    * {dst, relType, src} — the data model stores no relationship
    * properties (stark_neo4j_loading.py:50-53), so the observable
    * record IS the identity (stored orientation, not traversal order,
    * like Neo4j's fixed start/end under an undirected match). */
  private def nodeStructFields(v: String): Seq[String] =
    varSchema(v).fields.map(_.name)
      .filterNot(n => n == "label" || n == "labels").sorted.toSeq

  /** `RETURN v` / `properties(v)` as ONE canonical struct column — a
    * plain projection over the entity's already-joined frame (no extra
    * plan nodes, no shuffle); absent properties are null fields, the
    * union-of-keys representation of absence. An UNMATCHED optional
    * node variable yields NULL (not a struct of nulls), like Neo4j —
    * keyed off the nodeId field, which a bound node always carries.
    * Relationship variables project their identity triple (see
    * [[nodeStructFields]]); an OPTIONAL relationship's triple is carried
    * whole through the null-extending join (round 16), so an unmatched
    * optional rel likewise yields NULL — keyed off relType, which a
    * matched rel always carries. */
  private def nodeStruct(v: String): Column = {
    val s = struct(nodeStructFields(v).map(f => propCol(v, f).as(f)): _*)
    if (optNodeVars.contains(v))
      when(propCol(v, "nodeId").isNotNull, s)
    else if (optRelVars.contains(v))
      when(propCol(v, "relType").isNotNull, s)
    else s
  }

  /** Static type of a scalar expression, when resolvable: properties via
    * [[varSchema]], bare columns via the current frame's schema. */
  private def staticType(e: Expr,
      schema: org.apache.spark.sql.types.StructType)
      : Option[org.apache.spark.sql.types.DataType] = e match {
    case PropRef(v, p) => varSchema(v).fields.find(_.name == p).map(_.dataType)
    case ColRef(n) if lambdaTypes.contains(n) => lambdaTypes(n)
    case ColRef(n)     => schema.fields.find(_.name == n).map(_.dataType)
    case StrLitE(_)    => Some(org.apache.spark.sql.types.StringType)
    case LongLitE(_)   => Some(org.apache.spark.sql.types.LongType)
    case DblLitE(_)    => Some(org.apache.spark.sql.types.DoubleType)
    case ParamE(nm) => params.get(nm).map {
      case _: String => org.apache.spark.sql.types.StringType
      case _: java.lang.Boolean => org.apache.spark.sql.types.BooleanType
      case _: java.lang.Double | _: java.lang.Float =>
        org.apache.spark.sql.types.DoubleType
      case _ => org.apache.spark.sql.types.LongType
    }
    case BinOp("^", _, _) => Some(org.apache.spark.sql.types.DoubleType)
    case ScalarFn("size" | "sign" | "toInteger", _) =>
      Some(org.apache.spark.sql.types.LongType)
    case ScalarFn("head" | "last", args) => elemType(args.head, schema)
    case ScalarFn("tail", args)          => staticType(args.head, schema)
    case ScalarFn("reverse", args)       => staticType(args.head, schema)
    case ScalarFn("range", _) => Some(org.apache.spark.sql.types.ArrayType(
      org.apache.spark.sql.types.LongType))
    case ScalarFn("split", _) => Some(org.apache.spark.sql.types.ArrayType(
      org.apache.spark.sql.types.StringType))
    case ScalarFn("toBoolean" | "isEmpty", _) =>
      Some(org.apache.spark.sql.types.BooleanType)
    case KeysOf(_) => Some(org.apache.spark.sql.types.ArrayType(
      org.apache.spark.sql.types.StringType))
    // labels(n) is the node's label ARRAY — size()/head()/IN over it
    // must see the array type, not fall through to string length
    case LabelsOf(_) => Some(org.apache.spark.sql.types.ArrayType(
      org.apache.spark.sql.types.StringType))
    case TypeOf(_) => Some(org.apache.spark.sql.types.StringType)
    case PropsOf(v) => Some(org.apache.spark.sql.types.StructType(
      nodeStructFields(v).map(f => varSchema(v)(f))))
    case EndpointOf(_, _, prop) => prop match {
      case Some(p) => g.nodes.schema.fields.find(_.name == p).map(_.dataType)
      case None => Some(org.apache.spark.sql.types.StructType(
        g.nodes.schema.fields.filterNot(f =>
          f.name == "label" || f.name == "labels").sortBy(_.name)))
    }
    case MapProj(v, fs) => Some(org.apache.spark.sql.types.StructType(
      fs.flatMap(f => varSchema(v).fields.find(_.name == f))))
    case MapLitE(es) => Some(org.apache.spark.sql.types.StructType(
      es.map { case (k, x) => org.apache.spark.sql.types.StructField(k,
        staticType(x, schema)
          .getOrElse(org.apache.spark.sql.types.StringType)) }))
    case DynProp(_, _) => Some(org.apache.spark.sql.types.StringType)
    case PatternComp(_, _, proj) =>
      Some(org.apache.spark.sql.types.ArrayType(staticType(proj, schema)
        .getOrElse(org.apache.spark.sql.types.StringType)))
    case PatternCount(_, _) => Some(org.apache.spark.sql.types.LongType)
    case ListLit(items) => Some(org.apache.spark.sql.types.ArrayType(
      items.headOption.flatMap(staticType(_, schema))
        .getOrElse(org.apache.spark.sql.types.NullType)))
    case ListIndex(l, _)    => elemType(l, schema)
    case ListSlice(l, _, _) => staticType(l, schema)
    case ReduceExpr(_, init, _, _, _) => staticType(init, schema)
    case ListComp(v, l, _, pj) => pj match {
      case None => staticType(l, schema)
      case Some(p) =>
        val et = elemType(l, schema)
        withLambda(Seq((v, lit(0), et)))(staticType(p, schema))
          .map(org.apache.spark.sql.types.ArrayType(_))
    }
    case _: DegreeOf | _: PathLength =>
      Some(org.apache.spark.sql.types.LongType)
    case _: PathNodes => Some(org.apache.spark.sql.types.ArrayType(
      org.apache.spark.sql.types.LongType))
    case _: PathRels => Some(org.apache.spark.sql.types.ArrayType(
      org.apache.spark.sql.types.StringType))
    case ScalarFn("toFloat" | "floor" | "ceil" | "sqrt" | "round" | "ln" |
                  "exp" | "log10" | "sin" | "cos" | "tan" | "cot" |
                  "asin" | "acos" | "atan" | "atan2" | "degrees" |
                  "radians" | "haversin" | "pi" | "e", _) =>
      Some(org.apache.spark.sql.types.DoubleType)
    case ScalarFn("abs", args)  => staticType(args.head, schema)
    case ScalarFn(_, _) => Some(org.apache.spark.sql.types.StringType)
    // a `+` with a string side is a CONCATENATION (string result), so
    // nested concats like ("a" + x) + ("b" + y) stay string-typed
    case BinOp("+", l, r)
      if staticType(l, schema).contains(org.apache.spark.sql.types.StringType) ||
         staticType(r, schema).contains(org.apache.spark.sql.types.StringType) =>
      Some(org.apache.spark.sql.types.StringType)
    // coalesce/CASE take their branches' type (first statically
    // resolvable one) — so coalesce(p.abstract, "?") + x concatenates
    // instead of falling through to numeric + and nulling out
    case CoalesceE(args) => args.flatMap(staticType(_, schema)).headOption
    case CaseExpr(bs, d) =>
      (bs.map(_._2) ++ d.toSeq).flatMap(staticType(_, schema)).headOption
    case _             => None
  }

  /** Static integral-ness of an expression — decides whether `/` is
    * Cypher's integer division (both operands integral) or double
    * division. Properties resolve against the schema of the frame their
    * VARIABLE is bound to ([[varSchema]] — rel vars against the rel
    * schema); bare columns against the current frame's. */
  private def isIntegralExpr(e: Expr,
      schema: org.apache.spark.sql.types.StructType): Boolean = e match {
    case LongLitE(_)   => true
    case PropRef(v, p) =>
      varSchema(v).fields.find(_.name == p).exists(f => isIntegralType(f.dataType))
    case ColRef(n) if lambdaTypes.contains(n) =>
      lambdaTypes(n).exists(isIntegralType)
    case ColRef(n)     =>
      schema.fields.find(_.name == n).exists(f => isIntegralType(f.dataType))
    case ParamE(nm) => params.get(nm).exists {
      case _: java.lang.Double | _: java.lang.Float | _: String |
           _: java.lang.Boolean => false
      case _: Number => true
      case _ => false
    }
    case BinOp("^", _, _) => false // always double, like Neo4j
    case ListIndex(l, _) => elemType(l, schema).exists(isIntegralType)
    case ScalarFn("head" | "last", args) =>
      elemType(args.head, schema).exists(isIntegralType)
    case ReduceExpr(acc, init, v, l, body) =>
      isIntegralExpr(init, schema) &&
        withLambda(Seq(
          (acc, lit(0), staticType(init, schema)),
          (v, lit(0), elemType(l, schema))))(isIntegralExpr(body, schema))
    case ScalarFn("size" | "sign" | "toInteger", _) => true // Cypher integers
    case _: DegreeOf | _: PathLength | _: PatternCount => true // counts
    case ScalarFn("abs", args) => isIntegralExpr(args.head, schema)
    case BinOp(_, l, r)  => isIntegralExpr(l, schema) && isIntegralExpr(r, schema)
    case CoalesceE(args) => args.forall(isIntegralExpr(_, schema))
    case CaseExpr(bs, d) =>
      bs.forall { case (_, x) => isIntegralExpr(x, schema) } &&
        d.forall(isIntegralExpr(_, schema))
    case _ => false
  }

  /** The list-quantifier family shared by [[ListQuantPred]] (predicate
    * position) and [[QuantCond]] (CASE WHEN / comprehension WHERE).
    * any/all/none lower to Spark's exists/forall, which are already
    * null-aware three-valued (no definite witness + a null evaluation →
    * null). single() needs its openCypher truth table spelled out
    * (advisor r14): with t = true evaluations and u = null evaluations,
    * single = false when t ≥ 2 (decided regardless of unknowns), null
    * when the list is null or u > 0 (an unknown could flip a 0- or
    * 1-true verdict), else t = 1 — Spark's bare size∘filter would drop
    * null evaluations and turn size(null) into -1, yielding true/false
    * where Neo4j yields null. */
  private def quantCol(fn: String, arr: Column,
      lam: Column => Column): Column = fn match {
    case "any"  => exists(arr, lam)
    case "all"  => forall(arr, lam)
    case "none" => !exists(arr, lam)
    case "single" =>
      val trues = size(filter(arr, lam))
      val nulls = size(filter(arr, x => lam(x).isNull))
      when(arr.isNull, lit(null).cast("boolean"))
        .when(trues >= 2, lit(false))
        .when(nulls > 0, lit(null).cast("boolean"))
        .otherwise(trues === lit(1))
    case o => throw new IllegalArgumentException(s"unknown quantifier $o")
  }

  /** The string-operator family shared by [[StrPred]] (predicate
    * position) and [[StrCond]] (CASE WHEN / comprehension WHERE). */
  private def strPredCol(lc: Column, op: String, rc: Column): Column =
    op match {
      case "CONTAINS"    => lc.contains(rc)
      case "STARTS WITH" => lc.startsWith(rc)
      case "ENDS WITH"   => lc.endsWith(rc)
      // Neo4j =~ anchors the WHOLE string; Spark rlike finds anywhere —
      // wrap in ^(?:…)$ (idempotent when the pattern already anchors)
      case "=~" =>
        regexp_like(lc, concat(lit("^(?:"), rc, lit(")$")))
      case o => throw new IllegalArgumentException(s"unknown string op $o")
    }

  private def condCol(c: Cond,
      schema: org.apache.spark.sql.types.StructType): Column = c match {
    case NullCond(e, neg) =>
      if (neg) exprCol(e, schema).isNotNull else exprCol(e, schema).isNull
    case StrCond(l, op, r) =>
      strPredCol(exprCol(l, schema), op, exprCol(r, schema))
    case QuantCond(fn, v, l, cc) =>
      // a quantifier in CASE WHEN / comprehension WHERE — the same
      // higher-order lowering as the predicate form ([[quantCol]])
      val arr = exprCol(l, schema)
      val et = elemType(l, schema)
      quantCol(fn, arr,
        x => withLambda(Seq((v, x, et)))(condCol(cc, schema)))
    case CmpCond(l, op, r) =>
      val lc = exprCol(l, schema); val rc = exprCol(r, schema)
      op match {
        case "="  => lc === rc
        case "<>" => lc =!= rc
        case "<"  => lc < rc
        case "<=" => lc <= rc
        case ">"  => lc > rc
        case ">=" => lc >= rc
        case o    => throw new IllegalArgumentException(s"unknown operator $o")
      }
  }

  private def exprCol(e: Expr,
      schema: org.apache.spark.sql.types.StructType): Column = e match {
    case PropRef(v, p)  => propCol(v, p)
    case ColRef(n) if lambdaCols.contains(n) => lambdaCols(n)
    case ColRef(n) if carriedScalars.contains(n) => col(n)
    case ColRef(n) if stageVars.contains(n) || carriedVars.contains(n) ||
        optNodeVars.contains(n) || stageRelVars.contains(n) ||
        optRelVars.contains(n) || carriedRelVars.contains(n) =>
      // whole-entity projection `RETURN n` / `RETURN r` — the entity's
      // canonical sorted struct (see [[Ast.PropsOf]]): the reference's
      // retrieved record shape, groupable and DISTINCT-able like any
      // column; a relationship projects its identity triple
      nodeStruct(n)
    case ColRef(n) =>
      throw new IllegalArgumentException(
        s"bare '$n' in RETURN must be a bound node variable or a " +
          "WITH-projected column")
    case LabelsOf(v)    => propCol(v, "labels")
    case TypeOf(r)      =>
      if (optRelVars.contains(r)) col(s"__o_${r}_relType")
      else propCol(r, "relType") // stage ($r.) or carried (__w_r_) rel
    case Cosine(v, p, q) =>
      graft.functions.cosineSim(propCol(v, p).cast("array<double>"), lit(doubles(q).toArray))
    case PathLength(pv) =>
      if (spVar.contains(pv)) col("__splen")
      else throw new IllegalArgumentException(
        s"length($pv) does not name this query's shortestPath")
    case PathNodes(pv) =>
      // traversal-ordered nodeId array of the named path: a plain column
      // expression over the already-joined node frames — no extra plan
      // nodes. On a shortestPath the reconstructed deterministic walk's
      // array ([[shortestTuple]] attaches __spnodes).
      if (spVar.contains(pv)) col("__spnodes")
      else pathNodeVars.get(pv) match {
        case Some(vs) => array(vs.map(v => propCol(v, "nodeId")): _*)
        case None => throw new IllegalArgumentException(
          s"nodes($pv) does not name a path of this MATCH")
      }
    case PathRels(pv) =>
      // on a shortestPath: the per-hop relType array reconstructed by the
      // same walk as nodes(p) ([[reconstructWalks]]) — the min-relType
      // witness on the singular form, the forked hop type in all mode
      if (spVar.contains(pv)) col("__sprels")
      else pathRelAliases.get(pv) match {
        case Some(rvs) => array(rvs.map(rv => col(s"$rv.relType")): _*)
        case None => throw new IllegalArgumentException(
          s"relationships($pv) does not name a path of this MATCH")
      }
    case pc: PatternCount =>
      patternCountCols.get(pc) match {
        // left-joined grouped count: null = no pattern match → 0
        case Some(name) => coalesce(col(name), lit(0L))
        case None => throw new IllegalArgumentException(
          "COUNT { … } subqueries are supported in MATCH WHERE and " +
            "RETURN/WITH items")
      }
    case pc: PatternComp =>
      patternCompCols.get(pc) match {
        // left-joined grouped list: null = no pattern match → []
        case Some(name) =>
          coalesce(col(name), array().cast(patternCompTypes(pc)))
        case None => throw new IllegalArgumentException(
          "pattern comprehensions are supported in MATCH WHERE and " +
            "RETURN/WITH items")
      }
    case d: DegreeOf =>
      degreeCols.get(d) match {
        // left-joined grouped count: null = no incident pattern → 0
        case Some(name) => coalesce(col(name), lit(0L))
        case None => throw new IllegalArgumentException(
          "count { … } / size(pattern) degree expressions are supported " +
            "in MATCH WHERE and RETURN/WITH items (aggregate at a WITH " +
            "barrier to filter on a degree alias)")
      }
    case LongLitE(v) => lit(v)
    case DblLitE(v)  => lit(v)
    case StrLitE(s)  => lit(s)
    case NullLitE    => lit(null)
    case ParamE(nm) =>
      // scalar parameter in expression position — a plan-time literal,
      // so downstream filters stay pushable
      params.getOrElse(nm, throw new IllegalArgumentException(
        s"missing parameter $$$nm")) match {
        case s: String => lit(s)
        case b: java.lang.Boolean => lit(b.booleanValue())
        case d: java.lang.Double  => lit(d.doubleValue())
        case f: java.lang.Float   => lit(f.doubleValue())
        case n: Number => lit(n.longValue())
        case other => throw new IllegalArgumentException(
          s"parameter $$$nm must be a scalar here, got $other")
      }
    case KeysOf(v) =>
      // sorted names of this row's NON-NULL properties — a codegen'd
      // concat of per-field singleton-or-empty arrays, no UDF;
      // label/labels are label metadata, not properties
      val fields = varSchema(v).fields.map(_.name)
        .filterNot(n => n == "label" || n == "labels").sorted
      concat(fields.map(f =>
        when(propCol(v, f).isNotNull, array(lit(f)))
          .otherwise(array().cast("array<string>"))).toIndexedSeq: _*)
    case PropsOf(v) => nodeStruct(v)
    case DynProp(v, k) =>
      // one codegen'd CASE over the node's SCALAR property fields, each
      // value canonicalized to its string rendering (a dynamic key has
      // no static type); missing key / non-scalar / null value → null.
      // A bracket on a carried LIST alias parses as DynProp too (the
      // parser cannot see bindings) — reject it here with a targeted
      // message instead of a confusing node-schema error (advisor r14)
      require(!carriedScalars.contains(v),
        s"a list index into carried alias $v must be an integer " +
          s"literal — dynamic [key] access applies to node variables")
      rejectRelEntity(v)
      val kc = exprCol(k, schema)
      require(!isIntegralExpr(k, schema) &&
        !staticType(k, schema).exists(dt =>
          dt.isInstanceOf[org.apache.spark.sql.types.NumericType]),
        s"dynamic [key] access takes a STRING key (a numeric key is a " +
          "list index)")
      val fields = nodeStructFields(v).filter(f =>
        isAtomicType(varSchema(v)(f).dataType))
      fields.tail.foldLeft(
        when(kc === lit(fields.head), propCol(v, fields.head).cast("string"))) {
        (acc, f) => acc.when(kc === lit(f), propCol(v, f).cast("string"))
      } // no otherwise → null on a missing key, like Neo4j
    case MapLitE(es) =>
      // map literal: ONE struct column in the LISTED entry order (the
      // record-shaping idiom) — a plain column expression, no extra
      // plan nodes; entries nest as struct fields
      struct(es.map { case (k, x) => exprCol(x, schema).as(k) }: _*)
    case EndpointOf(fn, rv, prop) =>
      // the endpoint node attached by [[attachEndpoints]]: bare form =
      // the whole-entity struct (name-sorted, label metadata excluded,
      // like RETURN n); .prop form = one flattened column
      val pre = endpointPrefixes.getOrElse((fn, rv),
        throw new IllegalArgumentException(
          s"${fn}Node($rv) is not supported in this context"))
      prop match {
        case Some(p) =>
          require(g.nodes.schema.fieldNames.contains(p),
            s"unknown node property $p (the schema is union-of-keys)")
          col(s"$pre$p")
        case None =>
          val fields = g.nodes.schema.fieldNames
            .filterNot(n => n == "label" || n == "labels").sorted.toSeq
          val s = struct(fields.map(f => col(s"$pre$f").as(f)): _*)
          // an OPTIONAL rel's endpoint columns are null-extended by the
          // LEFT join: the whole-entity form must be NULL on unmatched
          // rows (like [[nodeStruct]]), not a struct of null fields
          if (optRelVars.contains(rv))
            when(col(s"${pre}nodeId").isNotNull, s)
          else s
      }
    case MapProj(v, fields) =>
      // map projection: the chosen properties as a struct in the LISTED
      // order — a plain column expression over the node's frame, no
      // extra plan nodes
      rejectRelEntity(v)
      fields.foreach { f =>
        require(varSchema(v).fields.exists(_.name == f),
          s"unknown node property $f in map projection $v {…} (the " +
            "schema is union-of-keys: add the column to the nodes table " +
            "first)")
      }
      struct(fields.map(f => propCol(v, f).as(f)): _*)
    case ScalarFn(fn, args) =>
      val a = args.map(exprCol(_, schema))
      fn match {
        case "toLower" => lower(a.head)
        case "toUpper" => upper(a.head)
        case "trim"    => trim(a.head)
        case "replace" => replace(a.head, a(1), a(2))
        case "abs"     => abs(a.head)
        // Cypher sign() is an INTEGER −1/0/1 (Spark signum is double)
        case "sign"    => signum(a.head).cast("long")
        case "toString"  => a.head.cast("string")
        // Neo4j floor/ceil return FLOAT; sqrt is IEEE correctly rounded
        // on both engines (ln/exp/log10 below are the tolerance class)
        case "floor" => dblFloor(a.head, floor)
        case "ceil"  => dblFloor(a.head, ceil)
        case "sqrt"  => sqrt(a.head.cast("double"))
        // ln/exp/log10 (round 16): the TOLERANCE-CHECKED function class.
        // Unlike floor/ceil/sqrt these are not guaranteed correctly
        // rounded across libms, so the dialect contract is 9 significant
        // decimal digits — catalog hash surfaces must quantize through
        // the round()/integer-micro-unit idiom (cy_ln_exp does). On the
        // reference pair (DuckDB/glibc vs this JVM) the raw doubles are
        // bit-identical — verified over representative values — so the
        // quantization is defense-in-depth for exotic libms, not a
        // precision the engine actually loses.
        case "ln"    => log(a.head.cast("double"))
        case "exp"   => exp(a.head.cast("double"))
        case "log10" => log10(a.head.cast("double"))
        // the trig family (round 16): tolerance-checked transcendentals
        // like ln/exp — all codegen'd Spark built-ins or one-expression
        // compositions of them. atan2 keeps Neo4j's (y, x) order;
        // haversin(x) = sin²(x/2); pi()/e() are the exact nearest-double
        // constants on every IEEE-754 engine
        case "sin"   => sin(a.head.cast("double"))
        case "cos"   => cos(a.head.cast("double"))
        case "tan"   => tan(a.head.cast("double"))
        case "cot"   => lit(1.0) / tan(a.head.cast("double"))
        case "asin"  => asin(a.head.cast("double"))
        case "acos"  => acos(a.head.cast("double"))
        case "atan"  => atan(a.head.cast("double"))
        case "atan2" => atan2(a.head.cast("double"), a(1).cast("double"))
        case "degrees"  => degrees(a.head.cast("double"))
        case "radians"  => radians(a.head.cast("double"))
        case "haversin" =>
          pow(sin(a.head.cast("double") / lit(2.0)), lit(2.0))
        case "pi" => lit(math.Pi)
        case "e"  => lit(math.E)
        // round() with an EXPLICIT tie rule (round 15 — VERDICT r14
        // missing #3): half toward +∞, spelled floor(x + 0.5) so BOTH
        // engines compute the identical IEEE-exact operation (native
        // round() ties diverge: DuckDB rounds half away from zero).
        // This matches Neo4j's Math.round on ordinary values; the
        // DOCUMENTED divergences are the JDK's special cases where the
        // floor(x+0.5) idiom differs (0.49999999999999994 → 1.0 here,
        // 0 there; |x| ≥ 2^52 where +0.5 is absorbed) — the dialect's
        // contract is the floor form itself, identical on both engines.
        // Returns FLOAT like floor/ceil.
        case "round" =>
          dblFloor(a.head.cast("double") + lit(0.5d), floor)
        // Neo4j toInteger truncates toward zero — exactly Spark's
        // double→long cast (≡ DuckDB CAST(trunc(x) AS BIGINT))
        case "toInteger" => a.head.cast("long")
        case "toFloat"   => a.head.cast("double")
        case "size" =>
          // Neo4j size: string length, or element count on a list value
          // (e.g. a collected alias) — BIGINT on both engines
          if (staticType(args.head, schema)
                .exists(_.isInstanceOf[org.apache.spark.sql.types.ArrayType]))
            size(a.head).cast("long")
          else length(a.head).cast("long")
        case "isEmpty" =>
          // Neo4j isEmpty: true on an empty string/list, null on null
          // input (size/length are null-propagating, so = 0 is too)
          if (staticType(args.head, schema)
                .exists(_.isInstanceOf[org.apache.spark.sql.types.ArrayType]))
            (size(a.head) === 0)
          else (length(a.head) === 0)
        case "substring" =>
          // Neo4j is 0-indexed, Spark/DuckDB substr 1-indexed; the no-len
          // form takes the rest of the string (total length is always an
          // upper bound on the remainder)
          val start = args(1) match {
            case LongLitE(v) => v
            case other => throw new IllegalArgumentException(
              s"substring start must be an integer literal, not $other")
          }
          val len = args.drop(2).headOption.map {
            case LongLitE(v) => v
            case other => throw new IllegalArgumentException(
              s"substring length must be an integer literal, not $other")
          }
          len match {
            case Some(l) => a.head.substr(lit((start + 1).toInt), lit(l.toInt))
            case None    => a.head.substr(lit((start + 1).toInt), length(a.head))
          }
        case "head"    => get(a.head, lit(0)) // 0-based, null out of range
        case "last"    => get(a.head, size(a.head) - lit(1))
        case "tail"    =>
          slice(a.head, lit(2), greatest(size(a.head) - lit(1), lit(0)))
        case "reverse" => reverse(a.head) // string or list, like Neo4j
        case "ltrim"   => ltrim(a.head)
        case "rtrim"   => rtrim(a.head)
        case "toBoolean" => a.head.cast("boolean")
        case "left"  => left(a.head, a(1).cast("int"))
        case "right" => right(a.head, a(1).cast("int"))
        case "split" => args(1) match {
          // Neo4j's split delimiter is a LITERAL string, Spark's a regex —
          // quote it so ".", "|" etc. split verbatim
          case StrLitE(d) =>
            split(a.head, java.util.regex.Pattern.quote(d))
          case other => throw new IllegalArgumentException(
            s"split delimiter must be a string literal, not $other")
        }
        // range bounds are literals (parser-enforced); sequence is
        // inclusive of both ends exactly like Neo4j's range
        case "range" => sequence(a(0).cast("long"), a(1).cast("long"),
          a(2).cast("long"))
        case o => throw new IllegalArgumentException(s"unknown string function $o")
      }
    case ListLit(items) =>
      if (items.isEmpty) array()
      else array(items.map(exprCol(_, schema)): _*)
    case ListIndex(l, i) =>
      // `get` is 0-based and null-safe out of range (never an ANSI error);
      // a negative index counts from the end, like Neo4j
      val arr = exprCol(l, schema)
      if (i >= 0) get(arr, lit(i.toInt))
      else get(arr, size(arr) + lit(i.toInt))
    case ListSlice(l, from, to) =>
      // Cypher slice: [from, to) 0-based, negatives from the end,
      // out-of-range bounds clamp — lowered to one codegen'd `slice`
      val arr = exprCol(l, schema)
      val n = size(arr)
      def bound(v: Long): Column =
        if (v >= 0) least(lit(v.toInt), n)
        else greatest(n + lit(v.toInt), lit(0))
      val lo = from.fold(lit(0))(bound)
      val hi = to.fold(n)(bound)
      slice(arr, lo + lit(1), greatest(hi - lo, lit(0)))
    case ReduceExpr(acc, init, v, l, body) =>
      val arr = exprCol(l, schema)
      val et = elemType(l, schema)
      val initT = staticType(init, schema)
      aggregate(arr, exprCol(init, schema), (a, x) =>
        withLambda(Seq((acc, a, initT), (v, x, et)))(exprCol(body, schema)))
    case ListComp(v, l, c, pj) =>
      // filter/transform higher-order functions — whole-stage codegen,
      // no UDF, element type carried for the body's static typing
      val arr = exprCol(l, schema)
      val et = elemType(l, schema)
      val filtered = c.fold(arr)(cc =>
        filter(arr, x => withLambda(Seq((v, x, et)))(condCol(cc, schema))))
      pj.fold(filtered)(p =>
        transform(filtered, x => withLambda(Seq((v, x, et)))(exprCol(p, schema))))
    case CoalesceE(args) => coalesce(args.map(exprCol(_, schema)): _*)
    case CaseExpr(branches, default) =>
      val chain = branches.tail.foldLeft(
        when(condCol(branches.head._1, schema), exprCol(branches.head._2, schema))) {
        case (w, (c, x)) => w.when(condCol(c, schema), exprCol(x, schema))
      }
      default.fold(chain)(d => chain.otherwise(exprCol(d, schema)))
    case BinOp(op, l, r) =>
      val lc = exprCol(l, schema); val rc = exprCol(r, schema)
      def isStr(e: Expr) = staticType(e, schema)
        .contains(org.apache.spark.sql.types.StringType)
      op match {
        // Cypher `+` CONCATENATES when either operand is a string (a
        // numeric co-operand stringifies, like Neo4j's "a" + 1); Spark's
        // numeric `+` would instead cast the string side and null out
        case "+" if isStr(l) || isStr(r) =>
          concat(lc.cast("string"), rc.cast("string"))
        case "+" => lc + rc
        case "-" => lc - rc
        case "*" => lc * rc
        case "%" => lc % rc
        // exponentiation is ALWAYS double, like Neo4j's float `^`
        case "^" => pow(lc.cast("double"), rc.cast("double"))
        case "/" =>
          // Cypher/Neo4j: integral ÷ integral truncates toward zero
          // (DuckDB `//`); any fractional operand → double division
          if (isIntegralExpr(l, schema) && isIntegralExpr(r, schema))
            graft.functions.longDiv(lc.cast("long"), rc.cast("long"))
          else lc.cast("double") / rc.cast("double")
        case o => throw new IllegalArgumentException(s"unknown operator $o")
      }
    case other => throw new IllegalArgumentException(s"$other is aggregate-only")
  }

  /** Aggregate over the canonical tuple column `src` (see [[tupleFrame]]). */
  private def aggCol(e: Expr, src: String): Column = e match {
    case CountDistinct(_) => count_distinct(col(src))
    case CountDistinctInParam(_, param) =>
      val ids = longs(param)
      count_distinct(when(col(src).isin(ids: _*), col(src)))
    // canonical sorted distinct list (collect_set drops nulls, matching
    // Cypher's null-skipping collect)
    case CollectDistinct(_, _) => sort_array(collect_set(col(src)))
    // plain collect keeps the bag's duplicates; canonicalized sorted
    // (collect_list also skips nulls, like Neo4j)
    case CollectAll(_, _) => sort_array(collect_list(col(src)))
    case MinMaxProp("min", _, _) => min(col(src))
    case MinMaxProp("max", _, _) => max(col(src))
    case CountStar => count(lit(1))
    case CountVar(_) => count(col(src)) // null-skipping, like Neo4j count(v)
    // count over a property EXPRESSION (null-skipping, like Neo4j's
    // count(v.prop)); the DISTINCT form counts the distinct value set
    case AggFn("count", _, false) => count(col(src))
    case AggFn("count", _, true)  => count_distinct(col(src))
    // collect over a general expression — same canonical sorted list /
    // null-skipping contract as the v.prop forms
    case AggFn("collect", _, false) => sort_array(collect_list(col(src)))
    case AggFn("collect", _, true)  => sort_array(collect_set(col(src)))
    // min/max over a general expression argument (the v.prop form stays
    // MinMaxProp); DISTINCT is accepted and identical by extremum algebra
    case AggFn("min", _, _) => min(col(src))
    case AggFn("max", _, _) => max(col(src))
    case AggFn("sum", _, false) => sum(col(src)) // null-skipping, like Neo4j
    case AggFn("avg", _, false) => avg(col(src))
    case AggFn("sum", _, true) => sum_distinct(col(src))
    case AggFn("avg", _, true) => expr(s"avg(DISTINCT `$src`)")
    // Neo4j stDev = sample, stDevP = population; both double, both
    // null-skipping, both run as Spark's native moment aggregates
    case AggFn("stDev", _, false)  => stddev_samp(col(src))
    case AggFn("stDev", _, true)   => expr(s"stddev_samp(DISTINCT `$src`)")
    case AggFn("stDevP", _, false) => stddev_pop(col(src))
    case AggFn("stDevP", _, true)  => expr(s"stddev_pop(DISTINCT `$src`)")
    // exact interpolated percentile (Spark `percentile` ≡ DuckDB
    // quantile_cont ≡ Neo4j percentileCont) — a native sort-based
    // aggregate, never a collected list
    case PercentileFn("percentileCont", _, p) => expr(s"percentile(`$src`, $p)")
    // SQL-standard inverse distribution: first value whose cumulative
    // fraction reaches p — an ACTUAL group value (returned as double,
    // Spark's percentile_disc result type)
    case PercentileFn("percentileDisc", _, p) =>
      expr(s"percentile_disc($p) WITHIN GROUP (ORDER BY `$src`)")
    case other => throw new IllegalArgumentException(s"$other is not an aggregate")
  }

  private def longs(param: String): Seq[Long] = params(param) match {
    case s: Seq[_] => s.map(x => x.asInstanceOf[Number].longValue())
    case other => throw new IllegalArgumentException(s"param $param: expected id list, got $other")
  }

  private def doubles(param: String): Seq[Double] = params(param) match {
    case s: Seq[_] => s.map(x => x.asInstanceOf[Number].doubleValue())
    case other => throw new IllegalArgumentException(s"param $param: expected vector, got $other")
  }
}

object Planner {
  /** Parse + plan in one step. Accepts UNION-chained queries (a
    * single-part input plans exactly as before) and the restricted
    * `MERGE … SET …` mutation clause, which returns the POST-MERGE nodes
    * table. */
  def run(g: PropertyGraph, cypher: String,
          params: Map[String, Any] = Map.empty): DataFrame = {
    val t = cypher.trim
    def prefixed(kw: String): Boolean =
      t.regionMatches(true, 0, kw, 0, kw.length) &&
        (t.length == kw.length || !t(kw.length).isLetterOrDigit)
    if (prefixed("MERGE")) runMerge(g, Parser.parseMerge(cypher), params)
    else if (prefixed("CREATE")) runCreateNodes(g, cypher).nodes
    else if (prefixed("FOREACH")) runBulkUpsert(g, cypher, params)
    else try planUnion(g, Parser.parseUnion(cypher), params)
    catch {
      case e: Parser.ParseError =>
        // the mutation forms (MATCH … DELETE / SET / REMOVE / CREATE /
        // MERGE, UNWIND-driven bulk upserts) have no RETURN, so the
        // normal parse fails — retry each narrower grammar; anything
        // else rethrows the ORIGINAL error. DELETE returns the
        // post-delete NODES table, SET/REMOVE the post-update nodes,
        // relationship CREATE/MERGE the post-mutation RELATIONSHIPS
        // table, bulk upserts the post-merge nodes (each one hashable
        // frame).
        val dq =
          try Some(Parser.parseDelete(cypher))
          catch { case _: Parser.ParseError => None }
        dq match {
          case Some(d) => runDelete(g, d, params).nodes
          case None =>
            val mq =
              try Some(Parser.parseMutation(cypher))
              catch { case _: Parser.ParseError => None }
            mq match {
              case Some(Left(uq)) =>
                new Planner(g, params).planUpdate(uq).nodes
              case Some(Right(rq)) =>
                new Planner(g, params).planRelMutation(rq).rels
              case None =>
                val bq =
                  try Some(Parser.parseBulkUpsert(cypher))
                  catch { case _: Parser.ParseError => None }
                bq match {
                  case Some(b) => new Planner(g, params).planBulkUpsert(b)
                  case None =>
                    val rq2 =
                      try Some(Parser.parseBulkRel(cypher))
                      catch { case _: Parser.ParseError => None }
                    rq2 match {
                      case Some(b) => new Planner(g, params).planBulkRel(b)
                      case None    => throw e
                    }
                }
            }
        }
    }
  }

  /** Parse + plan the bulk record-driven mutation (`UNWIND $rows AS r
    * MERGE/CREATE …` / `FOREACH (r IN $rows | …)`), returning the
    * post-mutation nodes table. */
  def runBulkUpsert(g: PropertyGraph, cypher: String,
                    params: Map[String, Any]): DataFrame =
    new Planner(g, params).planBulkUpsert(Parser.parseBulkUpsert(cypher))

  /** Parse + plan `CREATE (n:L {nodeId: …})`, returning the post-create
    * graph. */
  def runCreateNodes(g: PropertyGraph, cypher: String): PropertyGraph =
    new Planner(g).planCreateNodes(Parser.parseCreateNodes(cypher))

  /** Parse + plan a MATCH-prefixed mutation (standalone SET / REMOVE or
    * relationship CREATE / MERGE), returning the post-mutation graph. */
  def runMutation(g: PropertyGraph, cypher: String,
                  params: Map[String, Any] = Map.empty): PropertyGraph =
    Parser.parseMutation(cypher) match {
      case Left(uq)  => new Planner(g, params).planUpdate(uq)
      case Right(rq) => new Planner(g, params).planRelMutation(rq)
    }

  /** Parse + plan a `MATCH … [DETACH] DELETE n` clause, returning the
    * post-delete graph (both tables). [[run]] on the same text returns
    * just the post-delete NODES table (one hashable frame). */
  def runDelete(g: PropertyGraph, cypher: String,
                params: Map[String, Any] = Map.empty): PropertyGraph =
    runDelete(g, Parser.parseDelete(cypher), params)

  def runDelete(g: PropertyGraph, dq: DeleteQuery,
                params: Map[String, Any]): PropertyGraph =
    new Planner(g, params).planDelete(dq)

  /** Lower a [[MergeQuery]] onto the lakehouse merge (see
    * [[Planner.planMerge]]). */
  def runMerge(g: PropertyGraph, mq: MergeQuery,
               params: Map[String, Any] = Map.empty): DataFrame =
    new Planner(g, params).planMerge(mq)

  /** Plan a UNION query: each part planned independently (fresh binding
    * state), then one `unionByName` chain — Catalyst sees an ordinary
    * Union node, so partial aggregation and pushdown still apply per
    * branch — with a single DISTINCT on top for the non-ALL form (Cypher
    * dedups ACROSS parts, which also absorbs any per-part DISTINCT).
    * Column names must line up in order, like Neo4j. */
  def planUnion(g: PropertyGraph, uq: UnionQuery,
                params: Map[String, Any] = Map.empty): DataFrame = {
    val frames = uq.parts.map(p => new Planner(g, params).plan(p))
    if (frames.length == 1) return frames.head
    // names AND types must line up (like Neo4j): a name-only check lets two
    // same-named columns of different types fall through to unionByName's
    // raw analysis error instead of this dialect-level message
    val sig = frames.head.schema.fields.map(f => (f.name, f.dataType)).toSeq
    frames.tail.foreach { f =>
      val fsig = f.schema.fields.map(x => (x.name, x.dataType)).toSeq
      require(fsig == sig,
        s"all UNION parts must return the same columns (names and types): " +
          s"$sig vs $fsig")
    }
    val unioned = frames.reduce(_.unionByName(_))
    if (uq.all) unioned else unioned.distinct()
  }
}
