package graft.cypher

import graft.algorithms.Probe
import graft.graph.PropertyGraph
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import Ast._

/** Cypher mutation statements compiled to DataFrame edits of the node/edge
  * tables (reference: src/cypher/ast.rs:150-199 + executor.rs mutation
  * paths; the reference mutates its store in place — here each statement
  * returns a new immutable PropertyGraph, the Spark-native equivalent of
  * an append/overwrite of the backing table).
  *
  * Every statement runs in two steps. Its kernel computes the edited
  * graph one level over the current frames ([[stacked]]); then [[mutate]]
  * checkpoints each table the statement wrote, so the returned graph's
  * written frames are checkpoint leaves and a long write session does not
  * stack one statement's plan on the next. The cost is one checkpoint
  * action per written table, proportional to the table: a store that
  * takes large writes into large tables would keep a small delta over a
  * base instead.
  *
  * Surface: CREATE (standalone and MATCH…CREATE between matched nodes),
  * MERGE with ON CREATE SET / ON MATCH SET, SET and DELETE on node *and*
  * relationship variables, FOREACH over a literal id list.
  *
  * CREATE/MERGE node patterns that are not bound by a preceding MATCH
  * must carry a label and an explicit `id` property (id allocation is the
  * caller's concern in a distributed setting — a sequence scan for max-id
  * would be a full-table bottleneck). SET targets schema-known property
  * columns (the node/edge tables are fixed-schema projections).
  * Rel-variable SET/DELETE requires named endpoint nodes in the pattern.
  */
object Mutations {

  def apply(graph: PropertyGraph, cypher: String): PropertyGraph =
    mutate(graph, Parser.parse(cypher))

  /** Thrown when a checked mutation would leave the graph violating a
    * registered constraint; the message mirrors the reference's
    * ConstraintValidation::Violated wording (constraints/mod.rs). */
  final class ConstraintViolationException(msg: String)
    extends IllegalStateException(msg)

  /** Constraint-enforced mutation (reference: tests/constraints_test.rs
    * add→violate→reject flow — the store consults its
    * ConstraintManager at write time): apply the statement, validate
    * the post-state set-orientedly, and REJECT the write by throwing if
    * any registered constraint is violated. On immutable frames the
    * caller simply keeps the pre-state graph — the transactional
    * check-then-commit shape without a transaction log. The check is
    * one aggregate scan per registered constraint over its label
    * (bounded by limit(3) for the message); a production path would
    * narrow to the labels the statement touches, but correctness never
    * depends on that pruning. */
  def applyChecked(graph: PropertyGraph, cypher: String,
                   cm: graft.graph.Constraints.ConstraintManager): PropertyGraph = {
    val out = mutate(graph, Parser.parse(cypher))
    val bad = cm.validate(out).limit(3).collect()
    if (bad.nonEmpty) {
      val msgs = bad.map { r =>
        val (label, prop) = (r.getAs[String]("label"), r.getAs[String]("property"))
        val n = r.getAs[Long]("n")
        if (r.getAs[String]("kind") == "uniqueness")
          s"Uniqueness constraint violated: $label.$prop value " +
            s"'${r.getAs[String]("value")}' held by $n nodes"
        else
          s"Existence constraint violated: $n $label node(s) missing " +
            s"required property $prop"
      }
      throw new ConstraintViolationException(
        "write rejected: " + msgs.mkString("; "))
    }
    out
  }

  /** `stmt` applied to `graph`, each table it wrote checkpointed (a
    * table a kernel leaves alone is the same frame, and stays as it is).
    * The checkpoint is coalesced to `spark.sql.shuffle.partitions`: a
    * CREATE unions its new rows' partitions onto the table, so without
    * it the partition count grows with every write. It carries honest
    * statistics ([[Probe.checkpointSized]]); a frame re-checkpointed over
    * its own previous checkpoint otherwise inherits a size estimate that
    * grows on every write until the table stops broadcasting. */
  def mutate(graph: PropertyGraph, stmt: Statement): PropertyGraph = {
    val next = stacked(graph, stmt)
    val bound = graph.nodes.sparkSession.conf.get("spark.sql.shuffle.partitions").toInt
    def written(before: DataFrame, after: DataFrame) =
      if (after eq before) before else Probe.checkpointSized(after.coalesce(bound))._1
    PropertyGraph(written(graph.nodes, next.nodes), written(graph.edges, next.edges))
  }

  /** The statement's edited graph stacked one level over `graph`'s
    * frames, not checkpointed. */
  private[graft] def stacked(graph: PropertyGraph, stmt: Statement): PropertyGraph = stmt match {
    case Create(pat, matches)   => create(graph, pat, matches)
    case Merge(pat, onC, onM)   => merge(graph, pat, onC, onM)
    case SetStmt(m, as)         => setProps(graph, m, as)
    case DeleteStmt(m, vs)      => delete(graph, m, vs)
    case Foreach(_, list, as)   => foreach(graph, list, as)
    case _ =>
      throw new IllegalArgumentException("not a mutation statement — use Cypher.query")
  }

  private def litCol(l: Literal): Column = lit(l.value)

  /** One node row conforming to the nodes schema, props → columns. */
  private def nodeRow(graph: PropertyGraph, np: NodePattern): DataFrame = {
    val label = np.label.getOrElse(
      throw new IllegalArgumentException("CREATE node needs a label"))
    val props = np.props.toMap
    require(props.contains("id"), "CREATE node needs an explicit id property")
    val cols = graph.nodes.schema.fields.map { f =>
      val c = f.name match {
        case "label" => lit(label)
        case n if props.contains(n) => litCol(props(n))
        case _ => lit(null)
      }
      c.cast(f.dataType).as(f.name)
    }
    graph.nodes.sparkSession.range(1).select(cols.toIndexedSeq: _*)
  }

  /** Edge rows conforming to the edges schema: one per (_src,_dst) input
    * row (MATCH…CREATE appends one edge per match row, multi-edge safe). */
  private def edgeRows(graph: PropertyGraph, pairs: DataFrame,
                       rel: RelPattern): DataFrame = {
    val relType = rel.relTypes.headOption.getOrElse(
      throw new IllegalArgumentException("CREATE relationship needs a type"))
    val cols = graph.edges.schema.fields.map { f =>
      val c = f.name match {
        case "src"      => col("_src")
        case "dst"      => col("_dst")
        case "rel_type" => lit(relType)
        case "weight"   => lit(1.0)
        case _          => lit(null)
      }
      c.cast(f.dataType).as(f.name)
    }
    pairs.select(cols.toIndexedSeq: _*)
  }

  private def nodeId(np: NodePattern): Long = np.props.toMap.get("id") match {
    case Some(IntLit(v)) => v
    case _ => throw new IllegalArgumentException(
      s"node pattern ${np.variable.getOrElse("(anon)")} needs a literal id " +
        "(or must be bound by a preceding MATCH)")
  }

  private def create(graph: PropertyGraph, pat: Pattern,
                     matches: List[MatchClause]): PropertyGraph = {
    val chain = pat.start :: pat.steps.map(_._2)
    val ctx =
      if (matches.isEmpty) null
      else new Compiler(graph).matchCtx(matches)
    def isBound(np: NodePattern): Boolean =
      ctx != null && np.variable.exists(ctx.df.columns.contains)
    // New nodes: labeled patterns not bound by the MATCH prefix. Ids are
    // the primary key of the node table, so creation is id-keyed: a
    // pattern node whose id is already stored is reused, not duplicated
    // (MERGE relies on this when only the relationship is missing).
    val newNodes = chain.filter(np => !isBound(np) && np.label.isDefined)
      .map(nodeRow(graph, _))
    val nodes = PropertyGraph.append(graph.nodes, Option.when(newNodes.nonEmpty)(
      PropertyGraph.dedupById(newNodes.reduce(_ unionByName _))
        .join(graph.nodes.select("id"), Seq("id"), "left_anti")
        .select(graph.nodes.columns.map(col).toIndexedSeq: _*)).toList)
    // Edges: endpoint = bound variable column (one edge per match row) or
    // literal id; unmatched-side endpoints ride along via crossJoin-free
    // literal columns.
    def endpoint(np: NodePattern): Column =
      if (isBound(np)) col(np.variable.get) else lit(nodeId(np))
    val base: DataFrame =
      if (ctx == null) graph.nodes.sparkSession.range(1).toDF("_one")
      else ctx.df
    val newEdges = pat.steps.zipWithIndex.map { case ((rel, _), i) =>
      val (sC, dC) = (endpoint(chain(i)), endpoint(chain(i + 1)))
      val pairs = rel.direction match {
        case Direction.In => base.select(dC.as("_src"), sC.as("_dst"))
        case _            => base.select(sC.as("_src"), dC.as("_dst"))
      }
      edgeRows(graph, pairs, rel)
    }
    PropertyGraph(nodes, PropertyGraph.append(graph.edges, newEdges))
  }

  /** MERGE: create the pattern only when no match exists; then apply the
    * ON CREATE SET / ON MATCH SET hooks to the (created or matched)
    * pattern (executor.rs merge path, ast.rs:185). */
  private def merge(graph: PropertyGraph, pat: Pattern,
                    onCreate: List[(String, String, Literal)],
                    onMatch: List[(String, String, Literal)]): PropertyGraph = {
    val exists = !new Compiler(graph).patternCtx(pat).df.isEmpty
    if (exists) {
      if (onMatch.isEmpty) graph
      else setProps(graph, MatchClause(pat, optional = false, None), onMatch)
    } else {
      val created = create(graph, pat, Nil)
      if (onCreate.isEmpty) created
      else setProps(created, MatchClause(pat, optional = false, None), onCreate)
    }
  }

  /** Rel variables of a pattern → (srcVar, dstVar, rel), respecting the
    * arrow direction; endpoints must be named node variables. */
  private def relVarEndpoints(pat: Pattern): Map[String, (String, String, RelPattern)] = {
    val chain = pat.start :: pat.steps.map(_._2)
    pat.steps.zipWithIndex.collect {
      case ((rel, _), i) if rel.variable.isDefined =>
        val (a, b) = (chain(i), chain(i + 1))
        def named(np: NodePattern): String = np.variable.getOrElse(
          throw new IllegalArgumentException(
            s"rel variable '${rel.variable.get}' needs named endpoint nodes"))
        val (s, d) = rel.direction match {
          case Direction.In => (named(b), named(a))
          case _            => (named(a), named(b))
        }
        rel.variable.get -> (s, d, rel)
    }.toMap
  }

  private def setProps(graph: PropertyGraph, m: MatchClause,
                       assigns: List[(String, String, Literal)]): PropertyGraph = {
    val ctx = new Compiler(graph).patternFiltered(m)
    val rels = relVarEndpoints(m.pattern)
    val (relAssigns, nodeAssigns) = assigns.partition(a => rels.contains(a._1))
    var nodes = graph.nodes
    nodeAssigns.groupBy(_._1).foreach { case (v, as) =>
      require(ctx.df.columns.contains(v), s"SET variable '$v' not bound")
      val ids = ctx.df.select(col(v).as("id")).distinct()
        .withColumn("_upd", lit(true))
      var df = nodes.join(ids, Seq("id"), "left_outer")
      as.foreach { case (_, p, value) =>
        df = df.withColumn(p,
          when(col("_upd"), litCol(value).cast(nodes.schema(p).dataType))
            .otherwise(col(p)))
      }
      nodes = df.drop("_upd")
    }
    var edges = graph.edges
    relAssigns.groupBy(_._1).foreach { case (rv, as) =>
      val (sv, dv, rel) = rels(rv)
      require(ctx.df.columns.contains(sv) && ctx.df.columns.contains(dv),
        s"SET rel variable '$rv': endpoints '$sv'/'$dv' not bound")
      val pairs = ctx.df.select(col(sv).as("_ms"), col(dv).as("_md"))
        .distinct().withColumn("_upd", lit(true))
      val typeOk =
        if (rel.relTypes.isEmpty) lit(true)
        else col("rel_type").isin(rel.relTypes: _*)
      var df = edges.join(pairs,
        edges("src") === col("_ms") && edges("dst") === col("_md"), "left_outer")
      as.foreach { case (_, p, value) =>
        df = df.withColumn(p,
          when(col("_upd") && typeOk, litCol(value).cast(edges.schema(p).dataType))
            .otherwise(col(p)))
      }
      edges = df.drop("_upd", "_ms", "_md")
        .select(graph.edges.columns.map(col).toIndexedSeq: _*)
    }
    PropertyGraph(nodes, edges)
  }

  /** DELETE v: node variables remove matched nodes and their incident
    * edges (the reference's DETACH-style delete, executor.rs delete
    * path); rel variables remove only the matched relationships. */
  private def delete(graph: PropertyGraph, m: MatchClause,
                     vars: List[String]): PropertyGraph = {
    val ctx = new Compiler(graph).patternFiltered(m)
    val rels = relVarEndpoints(m.pattern)
    val (relVars, nodeVars) = vars.partition(rels.contains)
    var edges = graph.edges
    relVars.foreach { rv =>
      val (sv, dv, rel) = rels(rv)
      require(ctx.df.columns.contains(sv) && ctx.df.columns.contains(dv),
        s"DELETE rel variable '$rv': endpoints '$sv'/'$dv' not bound")
      val pairs = ctx.df.select(col(sv).as("_ms"), col(dv).as("_md")).distinct()
        .withColumn("_del", lit(true))
      val typeOk =
        if (rel.relTypes.isEmpty) lit(true)
        else col("rel_type").isin(rel.relTypes: _*)
      edges = edges.join(pairs,
          edges("src") === col("_ms") && edges("dst") === col("_md"), "left_outer")
        .filter(!(coalesce(col("_del"), lit(false)) && typeOk))
        .select(graph.edges.columns.map(col).toIndexedSeq: _*)
    }
    var nodes = graph.nodes
    if (nodeVars.nonEmpty) {
      val ids = nodeVars.map { v =>
        require(ctx.df.columns.contains(v), s"DELETE variable '$v' not bound")
        ctx.df.select(col(v).as("id"))
      }.reduce(_ unionByName _).distinct()
      nodes = nodes.join(ids, Seq("id"), "left_anti")
      edges = edges
        .join(ids.withColumnRenamed("id", "src"), Seq("src"), "left_anti")
        .join(ids.withColumnRenamed("id", "dst"), Seq("dst"), "left_anti")
        .select(graph.edges.columns.map(col).toIndexedSeq: _*)
    }
    PropertyGraph(nodes, edges)
  }

  /** FOREACH (v IN [ids] | SET v.p = lit, …): batch node-property update
    * keyed by literal ids (foreach_test.rs contract: ids that match no
    * stored node are skipped silently). */
  private def foreach(graph: PropertyGraph, list: List[Literal],
                      assigns: List[(String, String, Literal)]): PropertyGraph = {
    if (list.isEmpty) return graph
    val ids = list.map {
      case IntLit(v) => v
      case l => throw new IllegalArgumentException(s"FOREACH list must hold node ids, got $l")
    }
    val cond = col("id").isin(ids: _*)
    var nodes = graph.nodes
    assigns.foreach { case (_, p, value) =>
      nodes = nodes.withColumn(p,
        when(cond, litCol(value).cast(nodes.schema(p).dataType)).otherwise(col(p)))
    }
    PropertyGraph(nodes, graph.edges)
  }
}
