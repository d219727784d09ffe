package graft.cypher

import graft.graph.PropertyGraph
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import Ast._

/** Cypher → DataFrame compiler (reference: src/cypher/executor.rs — the
  * executor walks adjacency lists row by row; here every pattern step is a
  * hash join against the src-partitioned edge table and Catalyst handles
  * predicate pushdown, join strategy and codegen).
  *
  * Binding model: the working DataFrame has one BIGINT column per bound
  * node variable (the node id, column name = variable name), columns
  * `r__<prop>` for named relationship variables, and plain columns for
  * WITH-projected values. Node properties are joined in lazily on first
  * reference and cached as `v__<prop>` columns.
  *
  * Row semantics match Cypher/the reference: one row per path match
  * (multi-edges duplicate). Variable-length steps bind one row per
  * *simple path* (edge walk visiting no node twice, one row per parallel
  * edge) — node-unique semantics, matching the reference's path
  * enumerator (src/algorithms/traversal.rs:183 variable_length_path;
  * note openCypher proper uses relationship-uniqueness, which admits
  * node-repeating trails — the reference enumerator, and therefore this
  * compiler, is stricter). The
  * reference's Cypher executor itself collapses var-length to a
  * globally-deduped BFS node set (src/query.rs:171 out_variable_length,
  * shared `visited` across sources) — strictly lossier than either; the
  * `distinctPairsVarLength` opt-in gives the cheaper distinct
  * (start,end)-pair plan for queries insensitive to path multiplicity.
  */
final class Compiler(graph: PropertyGraph,
                     distinctPairsVarLength: Boolean = false) {
  import Compiler._

  private var anonId = 0
  private def freshVar(): String = { anonId += 1; s"_anon$anonId" }

  def compile(stmt: Statement): DataFrame = stmt match {
    case q: Query => compileQuery(q)
    case Union(l, r, all) =>
      val u = compile(l).unionByName(compile(r))
      if (all) u else u.distinct()
    case _ =>
      throw new IllegalArgumentException(
        "mutation statements return a graph — use Cypher.mutate")
  }

  // ---- query pipeline ----
  private def compileQuery(q: Query): DataFrame = compileQueryCtx(q).df

  /** Full query pipeline, keeping track of which output columns are node
    * variables (so CALL can import them into an outer pipeline). */
  private def compileQueryCtx(q: Query): Ctx = {
    var ctx: Ctx = null
    q.clauses.foreach {
      case m: MatchClause =>
        ctx = addMatch(ctx, m)
      case WithClause(items, where) =>
        if (ctx == null) ctx = Ctx(singleRow(), Set.empty)
        ctx = project(ctx, items)
        where.foreach(w => ctx = filterCond(ctx, w))
      case CallClause(inner, inputVars) =>
        val innerCtx = compileQueryCtx(inner)
        ctx =
          if (ctx == null) innerCtx
          else {
            val joinCols =
              if (inputVars.nonEmpty) {
                inputVars.foreach { v =>
                  require(ctx.df.columns.contains(v),
                    s"CALL … IN ($v): '$v' is not bound in the outer query")
                  require(innerCtx.df.columns.contains(v),
                    s"CALL … IN ($v): the subquery must RETURN '$v'")
                }
                inputVars.sorted
              } else ctx.df.columns.toSet.intersect(innerCtx.df.columns.toSet)
                .toSeq.sorted
            val overlap = innerCtx.df.columns.filter(c =>
              ctx.df.columns.contains(c) && !joinCols.contains(c))
            val rightDf = innerCtx.df.drop(overlap.toIndexedSeq: _*)
            // openCypher CALL semantics: an *aggregating* subquery returns
            // exactly one row per outer row, so every outer row survives —
            // left-join and fill the aggregates' over-empty defaults
            // (COUNT/SUM → 0, COLLECT → [], AVG/MIN/MAX/… → NULL). A
            // non-aggregating subquery with no matches genuinely yields no
            // rows for that outer row — inner join. The one-row-per-outer
            // premise only holds when every non-aggregate inner return
            // item is a join column; an extra grouping key (e.g. RETURN r,
            // n.kind, COUNT(*)) can emit several rows per outer row and a
            // left-join fill would fabricate (key=NULL, 0) rows no engine
            // produces — those fall back to inner join.
            val aggItems = inner.ret.items.collect { case a: RetAgg => a }
            val nonAggAllJoinCols = inner.ret.items.forall {
              case _: RetAgg => true
              case e         => joinCols.contains(Ast.defaultName(e))
            }
            val joined =
              if (joinCols.isEmpty) ctx.df.crossJoin(rightDf)
              else if (aggItems.isEmpty || !nonAggAllJoinCols)
                ctx.df.join(rightDf, joinCols, "inner")
              else {
                val j = ctx.df.join(rightDf, joinCols, "left_outer")
                aggItems.foldLeft(j) { (df, a) =>
                  val n = Ast.defaultName(a)
                  if (!df.columns.contains(n)) df
                  else {
                    val dt = df.schema(n).dataType
                    val fill: Option[Column] = a.func match {
                      case AggFunc.Count | AggFunc.Sum => Some(lit(0).cast(dt))
                      case AggFunc.Collect => Some(array().cast(dt))
                      case _ => None
                    }
                    fill.fold(df)(f => df.withColumn(n, coalesce(col(n), f)))
                  }
                }
              }
            Ctx(joined, ctx.nodeVars ++ innerCtx.nodeVars)
          }
    }
    if (ctx == null) ctx = Ctx(singleRow(), Set.empty)
    returnClause(ctx, q.ret)
  }

  /** Combine one MATCH clause into the pipeline (shared node vars join;
    * OPTIONAL MATCH left-joins with its WHERE applied inside). */
  private def addMatch(ctx0: Ctx, m: MatchClause): Ctx = {
    val MatchClause(pat, optional, where) = m
    var pctx = compilePattern(pat)
    if (optional && where.isDefined)
      pctx = filterCond(pctx, where.get) // optional's WHERE applies inside
    if (ctx0 == null) {
      var ctx = pctx
      if (!optional) where.foreach(w => ctx = filterCond(ctx, w))
      ctx
    } else {
      val shared = ctx0.df.columns.toSet
        .intersect(pctx.nodeVars).intersect(ctx0.nodeVars).toSeq.sorted
      val overlap = pctx.df.columns.filter(c =>
        ctx0.df.columns.contains(c) && !shared.contains(c))
      val rightDf = pctx.df.drop(overlap.toIndexedSeq: _*)
      val joined =
        if (shared.isEmpty) ctx0.df.crossJoin(rightDf)
        else ctx0.df.join(rightDf, shared, if (optional) "left_outer" else "inner")
      var ctx = Ctx(joined, ctx0.nodeVars ++ pctx.nodeVars)
      if (!optional) where.foreach(w => ctx = filterCond(ctx, w))
      ctx
    }
  }

  /** Pipeline of plain MATCH clauses (the MATCH…CREATE prefix). */
  private[cypher] def matchCtx(ms: List[MatchClause]): Ctx =
    ms.foldLeft(null: Ctx)(addMatch)

  private def singleRow(): DataFrame =
    graph.nodes.sparkSession.range(1).select(lit(1).as("_one"))

  // ---- patterns ----
  private[cypher] def patternCtx(pat: Pattern): Ctx = compilePattern(pat)
  private[cypher] def patternFiltered(m: MatchClause): Ctx = {
    var ctx = compilePattern(m.pattern)
    m.where.foreach(w => ctx = filterCond(ctx, w))
    ctx
  }

  private def compilePattern(pat: Pattern): Ctx = {
    val v0 = pat.start.variable.getOrElse(freshVar())
    var ctx = Ctx(nodeScan(pat.start).select(col("id").as(v0)), Set(v0))
    var prev = v0
    pat.steps.foreach { case (rel, node) =>
      val tgt = node.variable.getOrElse(freshVar())
      val bound = ctx.df.columns.contains(tgt)
      val hopDf = rel.varLength match {
        case None            => singleHop(rel)
        case Some((mn, mx))  => varLengthHop(rel, mn, mx)
      }
      var df = ctx.df.join(hopDf, col(prev) === col("_hsrc")).drop("_hsrc")
      df =
        if (bound) df.filter(col("_hdst") === col(tgt)).drop("_hdst")
        else df.withColumnRenamed("_hdst", tgt)
      // target node label/prop constraints via semi join (no row inflation)
      if (!bound && (node.label.isDefined || node.props.nonEmpty))
        df = df.join(nodeScan(node).select(col("id").as(tgt)), Seq(tgt), "left_semi")
      ctx = Ctx(df, ctx.nodeVars + tgt)
      prev = tgt
    }
    ctx
  }

  /** Filter-pushed scan for a node pattern's label + literal props. */
  private def nodeScan(np: NodePattern): DataFrame = {
    var df = np.label.map(graph.labeled).getOrElse(graph.nodes)
    np.props.foreach { case (k, v) =>
      df = if (k == "id") df.filter(col("id") === lit(v.value))
           else df.filter(col(k) === lit(v.value))
    }
    df
  }

  /** One relationship hop as (_hsrc, _hdst [, r__props…]). */
  private def singleHop(rel: RelPattern): DataFrame = {
    val base =
      if (rel.relTypes.isEmpty) graph.edges
      else graph.edges.filter(col("rel_type").isin(rel.relTypes: _*))
    def oriented(s: String, d: String) = {
      val core = Seq(col(s).as("_hsrc"), col(d).as("_hdst"))
      // only the rel props the edge schema actually has (custom graphs
      // may carry fewer columns than the TPC-H build)
      val props = rel.variable.toSeq.flatMap(r =>
        relProps.filter(base.columns.contains).map(p => col(p).as(s"${r}__$p")))
      base.select(core ++ props: _*)
    }
    rel.direction match {
      case Direction.Out  => oriented("src", "dst")
      case Direction.In   => oriented("dst", "src")
      case Direction.Both => oriented("src", "dst").unionByName(oriented("dst", "src"))
    }
  }

  /** Variable-length hop as (_hsrc, _hdst) rows.
    *
    * Default: one row per simple path of length minHops..maxHops (path
    * array carried per row, `array_contains` blocks node revisits —
    * same walk set as the reference's recursive enumerator,
    * traversal.rs:183, one row per parallel edge). maxHops None =
    * unbounded: iterate until the frontier of extensible simple paths
    * drains (always terminates — path length is bounded by |V|).
    *
    * `distinctPairsVarLength` opt-in: distinct endpoint pairs via
    * frontier-set iteration (no path arrays, rows bounded by |V|² not
    * path count) — the scale plan when the query only needs endpoints. */
  private def varLengthHop(rel: RelPattern, minHops: Int, maxHops: Option[Int]): DataFrame = {
    require(minHops >= 0 && maxHops.forall(mx => mx >= minHops && mx <= 12),
      "bad hop bounds")
    if (distinctPairsVarLength) return varLengthHopDistinct(rel, minHops, maxHops)
    val hop = singleHop(rel.copy(variable = None))
    val step = hop.select(col("_hsrc").as("_hmid"), col("_hdst").as("_hnext"))
    var frontier = hop
      .select(col("_hsrc"), col("_hdst"), array(col("_hsrc"), col("_hdst")).as("_hpath"))
      .filter(col("_hsrc") =!= col("_hdst")) // self-loop = node revisit
    var acc: Option[DataFrame] =
      if (minHops == 0)
        Some(graph.nodes.select(col("id").as("_hsrc"), col("id").as("_hdst")))
      else None
    var depth = 1
    var drained = false
    while (!drained && maxHops.forall(depth <= _)) {
      if (depth >= minHops)
        acc = Some(acc.fold(frontier.select("_hsrc", "_hdst"))(
          _ unionByName frontier.select("_hsrc", "_hdst")))
      val more = maxHops.forall(depth < _)
      if (more) {
        frontier = frontier
          .join(step, col("_hdst") === col("_hmid"))
          .filter(!array_contains(col("_hpath"), col("_hnext")))
          .select(col("_hsrc"), col("_hnext").as("_hdst"),
            concat(col("_hpath"), array(col("_hnext"))).as("_hpath"))
        if (maxHops.isEmpty) {
          // unbounded: materialize the level, drain probe riding the
          // checkpoint job (Dataset.observe)
          val (f, nF) = graft.algorithms.Probe.checkpointCounted(frontier)
          frontier = f
          drained = nF == 0L
        }
      } else drained = true
      depth += 1
    }
    // The frontier can drain before reaching minHops (e.g. *3.. on a
    // graph whose deepest simple path is 2 hops) — that's an empty
    // result, not an error.
    acc.getOrElse(hop.select("_hsrc", "_hdst").limit(0))
  }

  /** Distinct (start,end) pairs reachable by minHops..maxHops — a
    * per-pair first-visit BFS: each pair is counted at its *first* depth
    * only (anti-join against the visited pair set), in the bounded and
    * unbounded form alike — the reference's out_variable_length contract
    * (query.rs:171: BFS with a visited set, node counted at its first
    * depth only). Consequence for minHops ≥ 2: a pair whose shortest
    * path is below minHops is excluded even if a longer walk within
    * bounds also reaches it. The anti-join also guarantees the frontier
    * drains on cyclic graphs. */
  private def varLengthHopDistinct(rel: RelPattern, minHops: Int,
                                   maxHops: Option[Int]): DataFrame = {
    val hop = singleHop(rel.copy(variable = None))
    val step = hop.select(col("_hsrc").as("_hmid"), col("_hdst").as("_hnext"))
    val identity =
      graph.nodes.select(col("id").as("_hsrc"), col("id").as("_hdst"))
    val (v0, n0) = graft.algorithms.Probe.checkpointCounted(
      hop.select(col("_hsrc"), col("_hdst")).distinct())
    var visited = v0
    var frontier = visited
    var frontierCount = n0
    var acc: Option[DataFrame] = if (minHops == 0) Some(identity) else None
    // depth-1 pairs only when the range actually admits 1 hop (*0..0 is
    // identity only)
    if (minHops <= 1 && maxHops.forall(_ >= 1))
      acc = Some(acc.fold(frontier)(_ unionByName frontier))
    var depth = 1
    while (maxHops.forall(depth < _) && frontierCount > 0) {
      depth += 1
      // drain probe rides the checkpoint job (Dataset.observe)
      val (f, nF) = graft.algorithms.Probe.checkpointCounted(
        frontier
          .join(step, col("_hdst") === col("_hmid"))
          .select(col("_hsrc"), col("_hnext").as("_hdst"))
          .distinct()
          .join(visited, Seq("_hsrc", "_hdst"), "left_anti"))
      frontier = f
      frontierCount = nF
      visited = visited.unionByName(frontier).localCheckpoint()
      if (depth >= minHops)
        acc = Some(acc.fold(frontier)(_ unionByName frontier))
    }
    acc.getOrElse(visited.limit(0)).distinct()
  }

  // ---- expressions / conditions ----
  private def exprCol(ctx0: Ctx, e: Expr): (Ctx, Column) = e match {
    case Lit(l)        => (ctx0, lit(l.value))
    case Ident(v)      => (ctx0, col(v))
    case ListExpr(xs)  =>
      var ctx = ctx0
      val cols = xs.map { x => val (c2, c) = exprCol(ctx, x); ctx = c2; c }
      (ctx, array(cols: _*))
    case Prop(v, p)    => ensureProp(ctx0, v, p)
  }

  private def ensureProp(ctx: Ctx, v: String, p: String): (Ctx, Column) = {
    if (!ctx.df.columns.contains(v) && !ctx.df.columns.contains(s"${v}__$p"))
      throw new IllegalArgumentException(s"unbound variable '$v'")
    if (ctx.nodeVars(v) && p == "id") return (ctx, col(v))
    val name = s"${v}__$p"
    if (ctx.df.columns.contains(name)) (ctx, col(name))
    else if (ctx.nodeVars(v)) {
      val side = graph.nodes.select(col("id").as(v), col(p).as(name))
      (Ctx(ctx.df.join(side, Seq(v), "left_outer"), ctx.nodeVars), col(name))
    } else
      throw new IllegalArgumentException(s"'$v.$p': '$v' is not a node or rel variable")
  }

  private def condCol(ctx0: Ctx, c: Cond): (Ctx, Column) = c match {
    case Cmp(op, l, r) =>
      val (c1, lc) = exprCol(ctx0, l); val (c2, rc) = exprCol(c1, r)
      val cc = op match {
        case "="  => lc === rc
        case "<>" => lc =!= rc
        case "<"  => lc < rc
        case ">"  => lc > rc
        case "<=" => lc <= rc
        case ">=" => lc >= rc
      }
      (c2, cc)
    case And(l, r) =>
      val (c1, lc) = condCol(ctx0, l); val (c2, rc) = condCol(c1, r); (c2, lc && rc)
    case Or(l, r) =>
      val (c1, lc) = condCol(ctx0, l); val (c2, rc) = condCol(c1, r); (c2, lc || rc)
    case Not(x) =>
      val (c1, xc) = condCol(ctx0, x); (c1, !xc)
    case RegexMatch(l, re) =>
      // unanchored find, like the reference's Rust regex is_match
      val (c1, lc) = exprCol(ctx0, l); (c1, lc.rlike(re))
    case Exists(v, p) =>
      val (c1, pc) = ensureProp(ctx0, v, p); (c1, pc.isNotNull)
    case IsNull(e)    => val (c1, ec) = exprCol(ctx0, e); (c1, ec.isNull)
    case IsNotNull(e) => val (c1, ec) = exprCol(ctx0, e); (c1, ec.isNotNull)
    case In(e, items) =>
      val (c1, ec) = exprCol(ctx0, e)
      var ctx = c1
      val cols = items.map { x => val (c2, c) = exprCol(ctx, x); ctx = c2; c }
      // `x IN []` is false, not an error
      (ctx, cols.map(ec === _).foldLeft(lit(false))(_ || _))
    case InProp(e, le) =>
      // membership in a LIST-VALUED property column (Value::List);
      // NULL list → NULL → filtered out, like SQL IN over empty
      val (c1, ec) = exprCol(ctx0, e)
      val (c2, lc) = exprCol(c1, le)
      (c2, array_contains(lc, ec))
  }

  private def filterCond(ctx: Ctx, c: Cond): Ctx = {
    val (c1, cc) = condCol(ctx, c)
    Ctx(c1.df.filter(cc), c1.nodeVars)
  }

  // ---- projection (WITH / RETURN) ----
  private def defaultName(item: RetItem): String = Ast.defaultName(item)

  private def aggColumn(ctx0: Ctx, item: RetAgg): (Ctx, Column) = {
    var ctx = ctx0
    val inner = item.expr.map { e => val (c2, c) = exprCol(ctx, e); ctx = c2; c }
    val c = item.func match {
      case AggFunc.Count =>
        inner match {
          case None      => count(lit(1))
          case Some(x)   => if (item.distinct) count_distinct(x) else count(x)
        }
      case AggFunc.Sum     => sum(inner.get)
      case AggFunc.Avg     => avg(inner.get)
      case AggFunc.Min     => min(inner.get)
      case AggFunc.Max     => max(inner.get)
      case AggFunc.Collect => collect_list(inner.get)
      case AggFunc.StDev   => stddev_pop(inner.get) // population: the Cypher executor divides by n (executor.rs:500), unlike the sample-stdev query builder (query.rs:586)
      case AggFunc.PercentileCont =>
        percentile(inner.get.cast("double"), lit(item.param.getOrElse(0.5)))
      case AggFunc.PercentileDisc =>
        // exact discrete percentile: smallest value at cume ≥ p
        val p = item.param.getOrElse(0.5)
        element_at(sort_array(collect_list(inner.get)),
          greatest(ceil(lit(p) * count(inner.get)), lit(1L)).cast("int"))
    }
    (ctx, c)
  }

  /** Compile RETURN/WITH items to a projected frame; aggregates trigger
    * implicit grouping by the non-aggregated items (Cypher semantics,
    * = reference executor + test_group_by.rs). */
  private def project(ctx0: Ctx, items: List[RetItem]): Ctx = {
    var ctx = ctx0
    val names = items.map(defaultName)
    val hasAgg = items.exists(_.isInstanceOf[RetAgg])
    if (!hasAgg) {
      val cols = items.map { case RetExpr(e, _) =>
        val (c2, c) = exprCol(ctx, e); ctx = c2; c
      case _ => throw new IllegalStateException("unreachable")
      }
      val proj = ctx.df.select(cols.zip(names).map { case (c, n) => c.as(n) }: _*)
      val keptNodeVars = items.zip(names).collect {
        case (RetExpr(Ident(v), _), n) if ctx.nodeVars(v) => n
      }.toSet
      Ctx(proj, keptNodeVars)
    } else {
      val keyPairs = items.zip(names).collect { case (RetExpr(e, _), n) =>
        val (c2, c) = exprCol(ctx, e); ctx = c2; (c, n)
      }
      val aggPairs = items.zip(names).collect { case (a: RetAgg, n) =>
        val (c2, c) = aggColumn(ctx, a); ctx = c2; (c, n)
      }
      val aggCols = aggPairs.map { case (c, n) => c.as(n) }
      val out =
        if (keyPairs.isEmpty) ctx.df.agg(aggCols.head, aggCols.tail: _*)
        else ctx.df
          .groupBy(keyPairs.map { case (c, n) => c.as(n) }: _*)
          .agg(aggCols.head, aggCols.tail: _*)
          .select(names.map(col): _*) // restore RETURN item order
      val keptNodeVars = items.zip(names).collect {
        case (RetExpr(Ident(v), _), n) if ctx.nodeVars(v) => n
      }.toSet
      Ctx(out, keptNodeVars)
    }
  }

  private def returnClause(ctx0: Ctx, ret: ReturnClause): Ctx = {
    var ctx = ctx0
    val names = ret.items.map(defaultName)
    val outName: Map[Expr, String] = ret.items.zip(names).collect {
      case (RetExpr(e, _), n) => e -> n
    }.toMap
    val hasAgg = ret.items.exists(_.isInstanceOf[RetAgg])

    // Hidden sort columns for ORDER BY exprs not among returned items
    // (only legal without aggregation/distinct).
    val resolved = ret.orderBy.map { oi =>
      oi.expr match {
        case e if outName.contains(e)            => Left(col(outName(e)) -> oi.ascending)
        case Ident(n) if names.contains(n)       => Left(col(n) -> oi.ascending)
        case e if !hasAgg && !ret.distinct       => Right(e -> oi.ascending)
        case e => throw new IllegalArgumentException(
          s"ORDER BY $e must reference a returned item in aggregate/distinct queries")
      }
    }
    val hidden = resolved.zipWithIndex.collect { case (Right((e, _)), i) =>
      val (c2, c) = exprCol(ctx, e); ctx = c2; (c.as(s"_ord$i"), i)
    }

    var out: DataFrame =
      if (hidden.isEmpty) project(ctx, ret.items).df
      else {
        val cols = ret.items.map { case RetExpr(e, _) =>
          val (c2, c) = exprCol(ctx, e); ctx = c2; c
        case _ => throw new IllegalStateException("unreachable")
        }
        ctx.df.select(cols.zip(names).map { case (c, n) => c.as(n) } ++
          hidden.map(_._1): _*)
      }
    if (ret.distinct) out = out.distinct()
    if (resolved.nonEmpty) {
      val sortCols = resolved.zipWithIndex.map {
        case (Left((c, asc)), _)       => if (asc) c.asc_nulls_last else c.desc_nulls_last
        case (Right((_, asc)), i)      =>
          val c = col(s"_ord$i"); if (asc) c.asc_nulls_last else c.desc_nulls_last
      }
      out = out.orderBy(sortCols: _*)
    }
    if (hidden.nonEmpty) out = out.drop(hidden.map { case (_, i) => s"_ord$i" }: _*)
    ret.skip.foreach(n => out = out.offset(n))
    ret.limit.foreach(n => out = out.limit(n))
    val keptNodeVars = ret.items.zip(names).collect {
      case (RetExpr(Ident(v), _), n) if ctx0.nodeVars(v) => n
    }.toSet
    Ctx(out, keptNodeVars)
  }
}

object Compiler {
  private[cypher] final case class Ctx(df: DataFrame, nodeVars: Set[String])
  private[cypher] val relProps =
    Seq("rel_type", "weight", "quantity", "extendedprice", "discount")
}

/** Public API: parse + compile Cypher over a PropertyGraph. */
object Cypher {
  /** `distinctPairsVarLength`: opt into the cheaper distinct
    * (start,end)-pair plan for var-length steps — use when the query
    * doesn't depend on path multiplicity (e.g. RETURN DISTINCT). */
  def query(graph: PropertyGraph, cypher: String,
            distinctPairsVarLength: Boolean = false): DataFrame =
    new Compiler(graph, distinctPairsVarLength).compile(Parser.parse(cypher))

  /** Page `pageSize` rows at `page` (0-based) with a deterministic total
    * order — the reference's CypherPaginator / QueryCursor surface
    * (src/cypher/streaming.rs:112). The query's ORDER BY must give a
    * total order for stable pages; pages are offset/limit on the
    * compiled plan, so Catalyst pushes the window down. */
  def paginate(graph: PropertyGraph, cypher: String, pageSize: Int,
               page: Int): DataFrame = {
    require(pageSize > 0 && page >= 0, "bad page bounds")
    query(graph, cypher).offset(page * pageSize).limit(pageSize)
  }

  /** Stateful cursor over a Cypher result — QueryCursor::with_query
    * (src/cypher/streaming.rs:112-139): total computed up front, then
    * next_page / has_more / progress walk stable offset/limit slices
    * of the cached result. `orderKeys` (ascending) must totally order
    * the RETURN columns — include a unique tiebreak. */
  def pager(graph: PropertyGraph, cypher: String, orderKeys: Seq[String],
            pageSize: Int): graft.ops.QueryPager =
    graft.ops.QueryPager.of(query(graph, cypher), orderKeys, pageSize)
}
