package graft.algorithms

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Structural algorithms: triangles, clustering coefficients, k-core
  * (reference: src/algorithms/triangle.rs, kcore.rs).
  */
object Structure {

  /** Edge reciprocity of a DIRECTED graph: the fraction of edges whose
    * reverse also exists (self-loops excluded by construction in the
    * inputs here) — the mutuality summary next to assortativity. One
    * self-semi-join on the reversed key; both counts exact. */
  def reciprocity(edges: DataFrame): DataFrame = {
    val e = edges.select("src", "dst").distinct()
    val mutual = e.join(
      e.select(col("dst").as("src"), col("src").as("dst")),
      Seq("src", "dst"), "left_semi")
    val m = e.agg(count(lit(1)).as("m"))
    mutual.agg(count(lit(1)).as("mu")).crossJoin(broadcast(m))
      .select(col("m").cast("long").as("m"),
        col("mu").cast("long").as("mutual"),
        // NULL on the empty graph (m = 0), as DuckDB's x/0 yields NULL
        // — ANSI Spark otherwise throws DIVIDE_BY_ZERO: the 1.5×-mean
        // trade gate goes empty at sf0.1 and the bench row failed
        // (round 15; identical to the oracle for every m > 0)
        when(col("m") > 0, round(col("mu") / col("m"), 6))
          .as("reciprocity"))
  }

  /** Rich-club coefficient φ(k) (Zhou & Mondragón 2004): the edge
    * density among nodes of degree > k, for each probe k — "do hubs
    * form a club". Undirected (a<b) input; per k one degree filter +
    * one pair count, all against the SAME one-pass degree table; the
    * probe list is tiny so the k-loop is a unioned plan, not repeated
    * scans of the edge table (the degree frame and the edge frame are
    * each read once per k from their cached forms upstream). */
  def richClub(pedges: DataFrame, ks: Seq[Int] = Seq(115, 130, 150)): DataFrame = {
    val sym = pedges.select(col("a").as("src"), col("b").as("dst"))
      .unionByName(pedges.select(col("b").as("src"), col("a").as("dst")))
    val deg = sym.groupBy(col("src").as("id")).agg(count(lit(1)).as("deg"))
    val perK = ks.map { k =>
      val rich = deg.filter(col("deg") > k).select("id")
      val nK = rich.agg(count(lit(1)).as("n_k"))
      val eK = pedges
        .join(rich.select(col("id").as("a")), Seq("a"), "left_semi")
        .join(rich.select(col("id").as("b")), Seq("b"), "left_semi")
        .agg(count(lit(1)).as("e_k"))
      eK.crossJoin(broadcast(nK))
        .select(lit(k.toLong).as("k"), col("n_k").cast("long").as("n_k"),
          col("e_k").cast("long").as("e_k"),
          when(col("n_k") < 2, lit(null)).otherwise(
            round(lit(2.0) * col("e_k") / (col("n_k") * (col("n_k") - 1)), 6))
            .as("phi"))
    }
    perK.reduce(_ unionByName _).orderBy("k")
  }

  /** Degree assortativity (Newman 2002) — the degree-correlation
    * coefficient of an undirected graph: Pearson r of the endpoint
    * degrees over the directed-sym edge list (each undirected edge
    * contributes both orientations, the standard convention).
    * Positive r = hubs attach to hubs; the one-number mixing summary
    * next to the degree distribution. The five sums are EXACT BIGINTs
    * (degrees are integers) accumulated in one map-side-combined
    * aggregation; the division into doubles happens once at the end
    * in a fixed operation order, so the oracle reproduces r exactly
    * at 6 dp. Degree-regular graphs (zero variance) have undefined r
    * — emitted as NULL (spec-pinned; the oracle graph never is). */
  /** Newman modularity of a GIVEN node partition (Newman & Girvan
    * 2004): Q = Σ_c [e_c/m − (d_c/2m)²] over an undirected simple
    * graph — e_c = edges inside community c, d_c = total degree of c,
    * m = |undirected edges|. The homophily score of any attribute or
    * community assignment (here: do parts co-occur with parts of their
    * own group?); Louvain maximizes exactly this objective.
    *
    * `groups` maps id → g (one row per node). Scale: one |E|-row join
    * to the group dim (broadcast-gated like every kernel dim join),
    * two map-side-combined aggregates over ≤ |E| + |V| rows; output is
    * one row. Exact integer sums (counts and degree mass), ONE
    * fixed-order double expression at the end. */
  def modularity(pedges: DataFrame, groups: DataFrame): DataFrame = {
    val sym = pedges.select(col("a").as("src"), col("b").as("dst"))
      .unionByName(pedges.select(col("b").as("src"), col("a").as("dst")))
    val (grp, nG) = Probe.checkpointCounted(groups.select(col("id"), col("g")))
    def dim(df: DataFrame): DataFrame = Tuning.broadcastIfFits(df, nG)
    val tagged = sym
      .join(dim(grp.select(col("id").as("src"), col("g").as("gs"))), Seq("src"))
      .join(dim(grp.select(col("id").as("dst"), col("g").as("gd"))), Seq("dst"))
    // per-community: directed-edge count inside (= 2·e_c) and degree
    // mass d_c — both exact longs; m rides the same aggregate
    val per = tagged.groupBy(col("gs").as("g"))
      .agg(count(lit(1)).as("dc"),
        sum(when(col("gs") === col("gd"), 1L).otherwise(0L)).as("ein2"))
    per.agg(sum("dc").as("m2"), sum("ein2").as("sin2"),
        sum(col("dc") * col("dc")).as("sdd"))
      // Q = Σ e_c/m − Σ (d_c/2m)² = sin2/m2 − sdd/m2² (2s cancel) —
      // operator order mirrored in the oracle
      .select((col("m2") / 2).cast("long").as("m"),
        round(col("sin2").cast("double") / col("m2") -
          col("sdd").cast("double") /
            (col("m2").cast("double") * col("m2").cast("double")), 6)
          .as("q"))
  }

  /** Per-group conductance φ(S) = cut(S) / min(vol(S), vol(V∖S)) over
    * an undirected (a<b) simple edge set and a node→group labelling —
    * the community-quality metric that penalizes both leaky and
    * vanishing partitions (Kannan, Vempala & Vetta 2004). Works off the
    * symmetric directed view: a group's volume is its directed-row
    * count and each crossing undirected edge appears exactly once with
    * gs = g, so cut and vol come out of ONE tagged groupBy; the total
    * volume rides a 1-row broadcast. Same label-join gating as
    * [[modularity]]. Groups where min(vol, rest) = 0 yield NULL φ. */
  def conductance(pedges: DataFrame, groups: DataFrame): DataFrame = {
    val sym = pedges.select(col("a").as("src"), col("b").as("dst"))
      .unionByName(pedges.select(col("b").as("src"), col("a").as("dst")))
    val (grp, nG) = Probe.checkpointCounted(groups.select(col("id"), col("g")))
    def dim(df: DataFrame): DataFrame = Tuning.broadcastIfFits(df, nG)
    val per = sym
      .join(dim(grp.select(col("id").as("src"), col("g").as("gs"))), Seq("src"))
      .join(dim(grp.select(col("id").as("dst"), col("g").as("gd"))), Seq("dst"))
      .groupBy(col("gs").as("g"))
      .agg(count(lit(1)).as("vol"),
        sum(when(col("gs") =!= col("gd"), 1L).otherwise(0L)).as("cut"))
    val other = least(col("vol"), col("v2") - col("vol"))
    per.crossJoin(broadcast(per.agg(sum("vol").as("v2"))))
      .select(col("g"), col("vol"), col("cut"),
        round(when(other > 0L,
          col("cut").cast("double") / other.cast("double")), 6).as("phi"))
      .orderBy("g")
  }

  /** Hill tail-index estimator (Hill 1975) over a degree column — the
    * maximum-likelihood power-law exponent of the distribution tail:
    * α = k / Σᵢ ln(d₍ᵢ₎/d₍ₖ₊₁₎) over the k largest degrees, with
    * x_min = d₍ₖ₊₁₎. Complements the degree-distribution histogram
    * with the single number a scale-free-ness check actually reads.
    * Tie-safe: the top-(k+1) VALUE multiset is unique under boundary
    * ties, and the minimum row contributes ln(1) = 0, so no
    * order-statistic ambiguity survives.
    *
    * Scale: the only distributed work is a TakeOrdered top-(k+1)
    * (never a full sort); the (k+1)-row frame then folds on one
    * broadcast aggregate. */
  def hillTailIndex(degrees: DataFrame, k: Int = 50): DataFrame = {
    val top = degrees.select(col("degree").cast("long").as("deg"))
      .filter(col("deg") > 0)
      .orderBy(col("deg").desc).limit(k + 1)
      .localCheckpoint()
    val ext = top.agg(min("deg").as("dmin"),
      count(lit(1)).cast("long").as("m"))
    top.crossJoin(broadcast(ext))
      .groupBy("dmin", "m")
      .agg(sum(log(col("deg").cast("double") / col("dmin"))).as("lsum"))
      .select((col("m") - 1).cast("long").as("k_used"),
        col("dmin").cast("long").as("xmin"),
        // degenerate tail (all top-(k+1) degrees equal ⇒ lsum = 0,
        // e.g. a regular graph): NULL, matching the linReg/welchT/
        // anovaF NULL-on-degenerate convention — never Infinity
        round(when(col("lsum") > 0.0,
          (col("m") - 1).cast("double") / col("lsum")), 6).as("alpha"))
  }

  /** Directed triad census, closed classes (Holland–Leinhardt's 030T/
    * 030C cells — the feed-forward-vs-feedback motif split of systems
    * biology): over the DISTINCT self-loop-free edge set, counts
    * mutual (reciprocated) dyads, cyclic triangles a→b→c→a (each
    * 3-cycle enumerated at all three rotations, so ÷3), and transitive
    * triangles a→b→c with the a→c shortcut (each instance unique).
    * One row: (n_edges, mutual_dyads, cycles, transitive).
    *
    * Scale: the standard two-join distributed motif plan — worst case
    * Σ deg² intermediate like triangle counting, shuffled on the join
    * vertex; no adjacency materialization. */
  def triadCensus(edges: DataFrame): DataFrame = {
    val e = edges.select("src", "dst").distinct()
      .filter(col("src") =!= col("dst"))
    val m = e.agg(count(lit(1)).cast("long").as("n_edges"))
    val mutual = e.join(
        e.select(col("dst").as("src"), col("src").as("dst")),
        Seq("src", "dst"), "left_semi")
      .agg((count(lit(1)) / 2).cast("long").as("mutual_dyads"))
    val ab = e.select(col("src").as("a"), col("dst").as("b"))
    val bc = e.select(col("src").as("b"), col("dst").as("c"))
    val wedge = ab.join(bc, Seq("b"))
    val cyc = wedge.join(
        e.select(col("src").as("c"), col("dst").as("a")), Seq("c", "a"),
        "left_semi")
      .agg((count(lit(1)) / 3).cast("long").as("cycles"))
    val trans = wedge.join(
        e.select(col("src").as("a"), col("dst").as("c")), Seq("a", "c"),
        "left_semi")
      .agg(count(lit(1)).cast("long").as("transitive"))
    m.crossJoin(broadcast(mutual)).crossJoin(broadcast(cyc))
      .crossJoin(broadcast(trans))
  }

  /** FULL 16-class directed triad census (Holland & Leinhardt 1970;
    * the [[triadCensus]] closed-class summary completed to the whole
    * M-A-N catalog, igraph/statnet naming): every unordered node
    * triple lands in exactly one of 003, 012, 102, 021D/U/C,
    * 111D/U, 030T/C, 201, 120D/U/C, 210, 300 — the structural
    * signature model-fitting (p*, SBM) reads off a directed graph.
    * Orientation convention (the igraph catalog): D = the asym
    * edge(s) run from the THIRD node into the pair (A←B→C is 021D;
    * A↔B←C is 111D; A←B→C + A↔C is 120D), U = out of the pair
    * toward the third, C = a chain, T = transitive.
    *
    * Plan: only triples with ≥ 2 connected dyads are ever
    * enumerated — one dyad-typed pair frame (M/asym code per
    * unordered pair), one wedge self-join on the undirected support
    * (the triangle-family cost, Σdeg²-bounded — hub-cap upstream for
    * dense graphs, the squareCountCapped discipline), each triangle
    * classified once at its smallest-id corner. The 1-dyad classes
    * (012, 102) and 003 come from exact closed forms: M·(n−2) and
    * A·(n−2) minus the per-class dyad multiplicities of the
    * enumerated triples, and C(n,3) minus everything else — no
    * all-pairs or all-triples pass anywhere. n = distinct endpoint
    * count (the graph's node universe; isolated nodes are not part
    * of a derived edge view). Returns 16 rows (triad_class,
    * n_triads). */
  def triadCensusFull(edges: DataFrame): DataFrame = {
    val spark = edges.sparkSession
    import spark.implicits._
    val e = edges.select("src", "dst").distinct()
      .filter(col("src") =!= col("dst"))
    // dyad code per unordered pair: 2 = mutual, 1 = lo→hi, 0 = hi→lo
    val cp = e.select(least(col("src"), col("dst")).as("lo"),
        greatest(col("src"), col("dst")).as("hi"),
        (col("src") < col("dst")).cast("int").as("f"))
      .groupBy("lo", "hi")
      .agg(max("f").as("fwd"), min("f").as("bwd"))
      .select(col("lo"), col("hi"),
        when(col("fwd") === 1 && col("bwd") === 0, 2)
          .when(col("fwd") === 1, 1).otherwise(0).as("code"))
      .localCheckpoint()
    // direction of a dyad relative to a chosen endpoint x (other o):
    // 2 = mutual, 1 = x→o, 0 = o→x
    def rel(codeCol: org.apache.spark.sql.Column,
            xIsLo: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
      when(codeCol === 2, 2)
        .when(xIsLo, codeCol) // lo→hi = 1 when x is lo
        .otherwise(lit(1) - codeCol)
    val und = cp.select(col("lo").as("c"), col("hi").as("o"), col("code"),
        lit(true).as("cIsLo"))
      .unionByName(cp.select(col("hi").as("c"), col("lo").as("o"),
        col("code"), lit(false).as("cIsLo")))
    // wedges centered at c with endpoints u < v; relative codes from c
    val w = und.select(col("c"), col("o").as("u"),
        rel(col("code"), col("cIsLo")).as("du"))
      .join(und.select(col("c"), col("o").as("v"),
        rel(col("code"), col("cIsLo")).as("dv")), Seq("c"))
      .filter(col("u") < col("v"))
    // third dyad (u,v): present → triangle (classify at c < u only)
    val j = w.join(cp.select(col("lo").as("u"), col("hi").as("v"),
        col("code").as("uvCode")),
      Seq("u", "v"), "left")
    val duv = col("uvCode") // relative to u (u < v): 1 = u→v
    val open = j.filter(col("uvCode").isNull)
    val openCls =
      when(col("du") === 2 && col("dv") === 2, "201")
        .when(col("du") === 2, // mutual {c,u}, asym (c,v)
          when(col("dv") === 1, "111U").otherwise("111D"))
        .when(col("dv") === 2,
          when(col("du") === 1, "111U").otherwise("111D"))
        .when(col("du") === 1 && col("dv") === 1, "021D")
        .when(col("du") === 0 && col("dv") === 0, "021U")
        .otherwise("021C")
    val tri = j.filter(col("uvCode").isNotNull && col("c") < col("u"))
    val mCount = (col("du") === 2).cast("int") +
      (col("dv") === 2).cast("int") + (duv === 2).cast("int")
    // m = 1 cases: find the third node relative to the mutual pair
    val m1 =
      when(duv === 2, // pair {u,v}, third c: du/dv are c-relative
        when(col("du") === 1 && col("dv") === 1, "120D") // c→u, c→v
          .when(col("du") === 0 && col("dv") === 0, "120U")
          .otherwise("120C"))
        .when(col("du") === 2, // pair {c,u}, third v: (c,v) c-rel, (u,v) u-rel
          when(col("dv") === 0 && duv === 0, "120D") // v→c, v→u
            .when(col("dv") === 1 && duv === 1, "120U")
            .otherwise("120C"))
        // pair {c,v}, third u: (c,u) c-rel (0 = u→c), (u,v): 1 = u→v
        .otherwise(
          when(col("du") === 0 && duv === 1, "120D")
            .when(col("du") === 1 && duv === 0, "120U")
            .otherwise("120C"))
    // m = 0: cycle iff c→u→v→c or c→v→u→c (all asym)
    val cyc = (col("du") === 1 && duv === 1 && col("dv") === 0) ||
      (col("dv") === 1 && duv === 0 && col("du") === 0)
    val triCls =
      when(mCount === 3, "300")
        .when(mCount === 2, "210")
        .when(mCount === 1, m1)
        .otherwise(when(cyc, "030C").otherwise("030T"))
    val counted = open.select(openCls.as("triad_class"))
      .unionByName(tri.select(triCls.as("triad_class")))
      .groupBy("triad_class").agg(count(lit(1)).as("cnt"))
      .localCheckpoint() // ≤ 13 rows
    // closed forms for the ≤1-dyad classes off exact scalars
    // endpoint universe off the CHECKPOINTED pair frame (every
    // endpoint of e appears in some connected pair), so the edge
    // distinct shuffle runs exactly once — plan-audited: deriving n
    // from `e` duplicated the whole dyad-build subtree
    // coalesce: sums over an EMPTY dyad frame are NULL — degrade the
    // closed forms to 0 on an empty graph instead of NULL n_triads
    val scal = cp.agg(
        coalesce(sum(when(col("code") === 2, 1L).otherwise(0L)), lit(0L))
          .as("mDy"),
        coalesce(sum(when(col("code") =!= 2, 1L).otherwise(0L)), lit(0L))
          .as("aDy"))
      .crossJoin(broadcast(
        cp.select(explode(array(col("lo"), col("hi"))).as("id"))
          .agg(countDistinct("id").as("n"))))
    val mMult = Map("300" -> 3L, "210" -> 2L, "201" -> 2L,
      "120D" -> 1L, "120U" -> 1L, "120C" -> 1L,
      "111D" -> 1L, "111U" -> 1L)
    val aMult = Map("210" -> 1L, "120D" -> 2L, "120U" -> 2L,
      "120C" -> 2L, "030T" -> 3L, "030C" -> 3L,
      "111D" -> 1L, "111U" -> 1L,
      "021D" -> 2L, "021U" -> 2L, "021C" -> 2L)
    val mExpr = mMult.map { case (k, f) =>
      coalesce(max(when(col("triad_class") === k, col("cnt"))), lit(0L)) * f
    }.reduce(_ + _)
    val aExpr = aMult.map { case (k, f) =>
      coalesce(max(when(col("triad_class") === k, col("cnt"))), lit(0L)) * f
    }.reduce(_ + _)
    val sums = counted.agg(mExpr.as("sm"), aExpr.as("sa"),
      coalesce(sum("cnt"), lit(0L)).as("enumerated"))
    val nD = col("n")
    val low = scal.crossJoin(broadcast(sums))
      .select(
        (col("mDy") * (nD - 2) - col("sm")).as("c102"),
        (col("aDy") * (nD - 2) - col("sa")).as("c012"),
        (nD * (nD - 1) * (nD - 2) / 6 -
          (col("mDy") * (nD - 2) - col("sm")) -
          (col("aDy") * (nD - 2) - col("sa")) -
          col("enumerated")).as("c003"))
    val classes = Seq("003", "012", "021C", "021D", "021U", "030C",
      "030T", "102", "111D", "111U", "120C", "120D", "120U", "201",
      "210", "300").toDF("triad_class")
    classes
      .join(counted, Seq("triad_class"), "left")
      .crossJoin(broadcast(low))
      .select(col("triad_class"),
        when(col("triad_class") === "003", col("c003"))
          .when(col("triad_class") === "012", col("c012"))
          .when(col("triad_class") === "102", col("c102"))
          .otherwise(coalesce(col("cnt"), lit(0L)))
          .cast("long").as("n_triads"))
      .orderBy("triad_class")
  }

  /** Onion decomposition (Hébert-Dufresne, Grochow & Allard 2016,
    * Sci. Rep. 6:31708): the k-core peel with its CASCADE STRUCTURE
    * kept — each wave simultaneously removes every node whose current
    * degree is ≤ the running core value c (c = max(c, min alive
    * degree) per wave), assigning (core = c, layer = wave index).
    * Core numbers equal [[coreNumbers]]' (same peel, spec-pinned);
    * the LAYER is the extra signal — within one core, early layers
    * are the fringe and late layers the dense center, the network-
    * structure fingerprint the plain core number flattens.
    *
    * Dual regime: under the driver gate one in-memory wave-peel (the
    * corePeelLocal collection discipline); past it each wave is one
    * driver-observed min, one filter, two semi-joins and a degree
    * recount on the strictly-shrinking edge frame — rounds = onion
    * depth (the cascade length, typically ≪ |V|; maxWaves guards
    * pathological chains). Returns (id, core, layer). */
  def onionLayers(symEdges: DataFrame, maxWaves: Int = 300): DataFrame = {
    val (e, nE) = Probe.checkpointCounted(symEdges.select("src", "dst"))
    if (Tuning.fits(nE))
      return onionLocal(e)
    var (alive, nAlive) = Probe.checkpointCounted(
      e.groupBy(col("src").as("id")).agg(count(lit(1)).as("deg")))
    var ecur = e
    var c = 0L
    var layer = 0L
    val waves = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    while (nAlive > 0L) {
      layer += 1
      if (layer > maxWaves) throw new IllegalStateException(
        s"onionLayers exceeded $maxWaves waves")
      val mn = alive.agg(min("deg")).head.getLong(0)
      c = math.max(c, mn)
      waves += alive.filter(col("deg") <= c)
        .select(col("id"), lit(c).as("core"), lit(layer).as("layer"))
        .localCheckpoint()
      val keep = alive.filter(col("deg") > c).select("id").localCheckpoint()
      ecur = ecur
        .join(keep.select(col("id").as("src")), Seq("src"), "left_semi")
        .join(keep.select(col("id").as("dst")), Seq("dst"), "left_semi")
        .localCheckpoint()
      val dg = ecur.groupBy(col("src").as("id")).agg(count(lit(1)).as("deg"))
      val (a2, n2) = Probe.checkpointCounted(
        keep.join(dg, Seq("id"), "left_outer")
          .select(col("id"), coalesce(col("deg"), lit(0L)).as("deg")))
      alive = a2
      nAlive = n2
    }
    waves.reduceOption(_ unionByName _)
      .getOrElse(e.sparkSession.emptyDataFrame
        .withColumn("id", lit(0L)).withColumn("core", lit(0L))
        .withColumn("layer", lit(0L)).limit(0))
      .orderBy("id")
  }

  /** Driver-side wave-peel for [[onionLayers]] under the gate. */
  private def onionLocal(e: DataFrame): DataFrame = {
    val spark = e.sparkSession
    import spark.implicits._
    val edges = e.select(col("src").cast("long"), col("dst").cast("long"))
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val adj = edges.groupBy(_._1)
      .map { case (k, v) => k -> v.map(_._2).toArray }
    val alive = scala.collection.mutable.Set.empty[Long] ++ adj.keys
    val deg = scala.collection.mutable.Map.empty[Long, Int] ++
      adj.map { case (k, v) => k -> v.count(alive) }
    var c = 0L
    var layer = 0L
    val out = Seq.newBuilder[(Long, Long, Long)]
    while (alive.nonEmpty) {
      layer += 1
      c = math.max(c, deg.filter(kv => alive(kv._1)).values.min.toLong)
      val wave = alive.filter(v => deg(v) <= c).toSeq.sorted
      wave.foreach { v =>
        out += ((v, c, layer))
        alive -= v
      }
      wave.foreach { v =>
        adj(v).foreach(u => if (alive(u)) deg(u) = deg(u) - 1)
      }
    }
    out.result().toDF("id", "core", "layer").orderBy("id")
  }

  /** Degree-signature k-anonymity (the Hay et al. 2008 structural
    * re-identification screen): each node's signature is (degree,
    * min/max/sum of neighbor degrees, distinct-neighbor count) over
    * all incident edges (both directions, q_degree_dist's convention;
    * isolated nodes form the all-zero class); a node whose GLOBAL
    * signature class has size 1 is structurally unique — linkable
    * from degree information alone. Returns per label: n_nodes,
    * n_sigs (distinct signatures among the label's nodes), n_unique
    * (nodes in size-1 global classes), uniqueness_rate.
    *
    * Scale: bounded-state aggregates only — the neighbor multiset is
    * never materialized (a hub's signature is 5 numbers regardless of
    * its degree). ONE edge scan (explode-symmetrized) feeds ONE
    * checkpointed (id, nb, multiplicity) pre-aggregate; deg = Σmult and
    * k_nb = count(*) read it directly, so neither countDistinct Expand
    * from the naive plan exists, and the 5-number signature is a single
    * join to the |V|-row degree table. The per-label uniqueness report
    * rolls up (label, signature) once — global class sizes are the
    * signature-sum of that roll-up, never a second node scan. */
  def degreeAnonymity(nodes: DataFrame, edges: DataFrame): DataFrame = {
    // both directions of every edge off ONE scan (a union of two
    // selects re-reads the edge frame)
    val sym = edges
      .select(explode(array(
        struct(col("src").as("id"), col("dst").as("nb")),
        struct(col("dst").as("id"), col("src").as("nb")))).as("e"))
      .select(col("e.id").as("id"), col("e.nb").as("nb"))
    // (id, nb, multiplicity): deg and the neighbor-degree join both
    // consume it — materialize once (the assortativity discipline)
    val (pairs, _) = Probe.checkpointCounted(
      sym.groupBy("id", "nb").agg(count(lit(1)).as("mult")))
    val (deg, nD) = Probe.checkpointCounted(
      pairs.groupBy("id").agg(sum("mult").as("deg")))
    def dim(df: DataFrame): DataFrame = Tuning.broadcastIfFits(df, nD)
    val feats = pairs
      .join(dim(deg.select(col("id").as("nb"), col("deg").as("nd"))), Seq("nb"))
      .groupBy("id")
      .agg(min("nd").as("min_nd"), max("nd").as("max_nd"),
        sum(col("nd") * col("mult")).as("sum_nd"),
        count(lit(1)).as("k_nb"))
    val sigCols = Seq("deg", "min_nd", "max_nd", "sum_nd", "k_nb")
    val full = nodes.select(col("id"), col("label"))
      .join(deg, Seq("id"), "left")
      .join(feats, Seq("id"), "left")
      .na.fill(0L, sigCols)
    // (label, signature) roll-up: n_sigs = rows per label, n_nodes =
    // Σ lcnt; the GLOBAL class size is the roll-up summed across
    // labels, so n_unique (size-1 global classes) also reads it.
    // Checkpointed: cls derives from it AND the final join consumes
    // it, so the printed plan carries the node+signature lineage twice
    // (plan-read round 14). AQE's exchange reuse usually dedupes the
    // identical subtrees at runtime (measured: pin is time-neutral at
    // sf0.1) — the ≤|V|-row pin makes single execution unconditional
    // instead of reuse-dependent across AQE boundaries.
    val (labelSig, _) = Probe.checkpointCounted(
      full.groupBy((col("label") +: sigCols.map(col)): _*)
        .agg(count(lit(1)).as("lcnt")))
    val cls = labelSig.groupBy(sigCols.map(col): _*)
      .agg(sum("lcnt").as("csize"))
    labelSig.join(cls, sigCols)
      .groupBy("label")
      .agg(sum("lcnt").cast("long").as("n_nodes"),
        count(lit(1)).cast("long").as("n_sigs"),
        sum(when(col("csize") === 1L, col("lcnt")).otherwise(0L)).cast("long")
          .as("n_unique"))
      .select(col("label"), col("n_nodes"), col("n_sigs"), col("n_unique"),
        round(col("n_unique").cast("double") / col("n_nodes"), 6)
          .as("uniqueness_rate"))
      .orderBy("label")
  }

  def assortativity(pedges: DataFrame): DataFrame = {
    val sym = pedges.select(col("a").as("src"), col("b").as("dst"))
      .unionByName(pedges.select(col("b").as("src"), col("a").as("dst")))
    // the degree table is consumed twice and costs a full-edge shuffle
    // to derive — materialize once; |V| gates the broadcast like every
    // kernel dim join
    val (deg, nD) = Probe.checkpointCounted(
      sym.groupBy(col("src").as("id")).agg(count(lit(1)).as("deg")))
    def dim(df: DataFrame): DataFrame = Tuning.broadcastIfFits(df, nD)
    val xy = sym
      .join(dim(deg.select(col("id").as("src"), col("deg").as("x"))), Seq("src"))
      .join(dim(deg.select(col("id").as("dst"), col("deg").as("y"))), Seq("dst"))
    val num = col("sxy") / col("m") -
      (col("sx") / col("m")) * (col("sy") / col("m"))
    val den = sqrt(
      (col("sxx") / col("m") - (col("sx") / col("m")) * (col("sx") / col("m"))) *
        (col("syy") / col("m") - (col("sy") / col("m")) * (col("sy") / col("m"))))
    xy.agg(count(lit(1)).cast("long").as("m"),
        sum(col("x")).as("sx"), sum(col("y")).as("sy"),
        sum(col("x") * col("y")).as("sxy"),
        sum(col("x") * col("x")).as("sxx"),
        sum(col("y") * col("y")).as("syy"))
      // ANSI divide raises on the zero-variance (degree-regular) case
      // — undefined correlation is a NULL, in both engines
      .select(col("m"),
        when(den === 0.0, lit(null)).otherwise(round(num / den, 6)).as("r"))
  }

  /** Per-edge common-neighbor count ("support") over a simple
    * self-loop-free undirected pair graph — the shared kernel under
    * [[edgeJaccard]] and [[kTruss]]: support(a,b) = |N(a)∩N(b)| =
    * the number of triangles containing edge {a,b}.
    *
    * COST-BASED dual plan, gated on the measured Σ deg² (computed in
    * the same job that materializes the degree frame — it is exactly
    * the comparison count of the fused plan, so the gate reads the
    * true cost, not a row-count proxy):
    *  - measured-cheap: ONE sorted-adjacency groupBy + two |E|-row
    *    joins + the native codegen'd intersect per edge (fewest
    *    stages; Σ deg² work, taken only when that is affordable);
    *  - past the gate (or past the broadcast row gate): the
    *    [[triangles]] degree-ordered orientation (acyclic, out-degree
    *    O(√m)), each oriented edge closed against its endpoints'
    *    out-array intersection, the three corner edges of every
    *    triangle aggregated into per-edge counts — O(m^1.5)
    *    REGARDLESS of the hub profile (the round-14 verdict's fix
    *    for the last formally-unbounded Σ deg² plan). Edges closing
    *    no triangle come back with support 0 via the left join.
    *
    * `maxDeg` is the production hub cap (the [[squareCountCapped]] /
    * hammingPairs64 discipline): nodes of full-graph degree > maxDeg
    * are EXCLUDED first and the exact kernel runs on the induced
    * subgraph — equal to the exact answer whenever maxDeg ≥ the max
    * degree (spec-pinned). Audit what a cap dropped with
    * [[degreeHubs]]. Default uncapped (exact). */
  /** Gate for the fused sorted-adjacency intersect plan in
    * [[edgeSupport]]: the plan's exact comparison count is Σ deg²,
    * measured in the same job that builds the degree frame; at or below
    * this many comparisons the fused plan (fewest stages) wins, above it
    * the degree-ordered O(m^1.5) triangle closure takes over. 2e9
    * long-compares ≈ a few seconds across one executor's cores —
    * per-partition work stays bounded either way. */
  private val IntersectCostMax = 2000000000L

  /** Internal shared body for [[edgeSupport]]/[[edgeJaccard]]: returns
    * (pe, deg, support, fits) — the materialized (post-cap) edge list,
    * its materialized degree frame, the per-edge support plan, and
    * whether |V|-row dims fit the broadcast gate — so the jaccard
    * wrapper reuses the same degree frame instead of re-deriving it. */
  private def edgeSupportParts(pedges: DataFrame, maxDeg: Long,
      knownDistinctEdges: Option[Long], assumeDistinct: Boolean = false):
      (DataFrame, DataFrame, Boolean) = {
    require(maxDeg >= 1L, "edgeSupport needs maxDeg >= 1")
    // Input regimes:
    //  - knownDistinctEdges: an iterating caller (kTruss) already holds
    //    the materialized distinct edge list AND its count — skip the
    //    re-distinct and the checkpoint;
    //  - assumeDistinct: the caller's frame is already canonical and
    //    CACHED (the partCooccur memo) — re-distincting it would pay a
    //    1.2M-row shuffle + checkpoint write for nothing; consumers
    //    below re-read the caller's cache instead;
    //  - default: distinct + checkpoint (the frame is consumed by
    //    several subplans below).
    val pe0 = knownDistinctEdges match {
      case Some(_) => pedges.select("a", "b")
      case None if assumeDistinct => pedges.select("a", "b")
      case None => Probe.checkpointCounted(pedges.select("a", "b").distinct())._1
    }
    def degOf(e: DataFrame) = e.select(col("a").as("v"))
      .unionByName(e.select(col("b").as("v")))
      .groupBy("v").agg(count(lit(1)).as("d"))
    // ONE small gate job: Σ d (= 2|E|) and Σ d² — the exact comparison
    // count of the fused sorted-adjacency plan, so the regime choice
    // below is cost-based, not a blind row-count heuristic. No
    // checkpoint: only these two scalars are kept.
    def gateStats(e: DataFrame): (Long, Long) = {
      val r = degOf(e).agg(
        coalesce(sum(col("d")), lit(0L)).as("sd"),
        coalesce(sum(col("d") * col("d")), lit(0L)).as("sd2")).head
      (r.getLong(0) / 2, r.getLong(1))
    }
    val (nEdges, sd20) = {
      val (m, s2) = gateStats(pe0)
      (knownDistinctEdges.getOrElse(m), s2)
    }
    val fits = Tuning.fits(nEdges)
    val (pe, sumDeg2) =
      if (maxDeg == Long.MaxValue) (pe0, sd20)
      else {
        // exclude hubs on FULL-graph degree; the induced stats drive
        // the regime choice for the induced kernel. The induced frame
        // is CHECKPOINTED: it feeds the gate job + 3-5 kernel subplans
        // below, and recomputing the semi-join chain per consumer
        // measured 3.8 → 9.0 s on the capped bench row (round 15).
        val kept = degOf(pe0).filter(col("d") <= maxDeg).select("v")
        val keptJ = if (fits) broadcast(kept) else kept
        val e = Probe.checkpointCounted(pe0
          .join(keptJ.withColumnRenamed("v", "a"), Seq("a"), "left_semi")
          .join(keptJ.withColumnRenamed("v", "b"), Seq("b"), "left_semi"))._1
        (e, gateStats(e)._2)
      }
    // the support frame always carries the endpoint degrees (da, db) —
    // free from the arrays in the fused plan, two dim joins in the
    // closure plan — so edgeJaccard never pays its own degree pass
    val support =
      if (sumDeg2 <= IntersectCostMax && fits) {
        // PLAN A (measured-cheap): one adjacency groupBy into sorted
        // arrays + two joins + the native codegen'd intersect count per
        // edge. Work = Σ (deg a + deg b) per edge = Σ d² — the EXACT
        // number the gate just measured, so this branch is taken only
        // when that product is affordable; no triangle stream, fewest
        // stages. The adjacency is BROADCAST (total payload Σ deg =
        // 2|E| longs, driver-bounded by the row gate): a shuffle join
        // here would move Σ deg² BYTES — each node's array once per
        // incident edge — which was the dominant cost of the round-14
        // plan (frozen 5.34 s at sf0.1; this plan ~2.4 s warm).
        graft.sql.ArraySortedIntersectCount.register(pedges.sparkSession)
        val sym = pe.select(col("a").as("id"), col("b").as("nb"))
          .unionByName(pe.select(col("b").as("id"), col("a").as("nb")))
        val adj = broadcast(sym.groupBy("id")
          .agg(sort_array(collect_set(col("nb"))).as("nbrs")))
        pe.join(adj.select(col("id").as("a"), col("nbrs").as("na")), Seq("a"))
          .join(adj.select(col("id").as("b"), col("nbrs").as("nb2")), Seq("b"))
          .select(col("a"), col("b"),
            call_function("array_sorted_intersect_count",
              col("na"), col("nb2")).cast("long").as("support"),
            size(col("na")).cast("long").as("da"),
            size(col("nb2")).cast("long").as("db"))
      } else {
        // PLAN B (the 100 TB branch): [[triangles]]-style degree-ordered
        // orientation (acyclic, out-degree O(√m)), each oriented edge
        // closed against the intersection of its endpoints' out-arrays,
        // then the three corner edges of every triangle aggregated into
        // per-edge counts — O(m^1.5) + the output-bound corner stream,
        // REGARDLESS of the hub profile.
        val deg = degOf(pe)
        val degJ = if (fits) broadcast(deg) else deg
        val aFirst = col("da") < col("db") ||
          (col("da") === col("db") && col("a") < col("b"))
        val o = pe
          .join(degJ.select(col("v").as("a"), col("d").as("da")), Seq("a"))
          .join(degJ.select(col("v").as("b"), col("d").as("db")), Seq("b"))
          .select(when(aFirst, col("a")).otherwise(col("b")).as("s"),
            when(aFirst, col("b")).otherwise(col("a")).as("t"))
        val adj = o.groupBy(col("s")).agg(collect_list(col("t")).as("ns"))
        val adjB = if (fits) broadcast(adj) else adj
        val tri = o.join(adjB.select(col("s"), col("ns").as("nss")), Seq("s"))
          .join(adjB.select(col("s").as("t"), col("ns").as("nst")), Seq("t"))
          .select(col("s"), col("t"),
            explode(array_intersect(col("nss"), col("nst"))).as("w"))
        // every triangle raises the support of all THREE of its edges —
        // one explode over the output-bound (x,y,z) stream, one groupBy
        val corners = tri.select(explode(array(
            struct(least(col("s"), col("t")).as("x"),
              greatest(col("s"), col("t")).as("y")),
            struct(least(col("s"), col("w")).as("x"),
              greatest(col("s"), col("w")).as("y")),
            struct(least(col("t"), col("w")).as("x"),
              greatest(col("t"), col("w")).as("y")))).as("c"))
          .groupBy(col("c.x").as("x"), col("c.y").as("y"))
          .agg(count(lit(1)).as("sup"))
        pe.join(corners.select(col("x").as("a"), col("y").as("b"), col("sup")),
            Seq("a", "b"), "left")
          .join(degJ.select(col("v").as("a"), col("d").as("da")), Seq("a"))
          .join(degJ.select(col("v").as("b"), col("d").as("db")), Seq("b"))
          .select(col("a"), col("b"),
            coalesce(col("sup"), lit(0L)).cast("long").as("support"),
            col("da").cast("long").as("da"), col("db").cast("long").as("db"))
      }
    (pe, support, fits)
  }

  def edgeSupport(pedges: DataFrame, maxDeg: Long = Long.MaxValue,
                  knownDistinctEdges: Option[Long] = None): DataFrame =
    edgeSupportParts(pedges, maxDeg, knownDistinctEdges)._2
      .select("a", "b", "support")

  /** The capped-run audit for [[edgeSupport]]/[[edgeJaccard]]: the
    * nodes a cap of `maxDeg` would exclude, with their degree —
    * empty ⇒ the capped run was exact (the hammingHotBuckets /
    * n_hubs_excluded pattern as a frame). */
  def degreeHubs(pedges: DataFrame, maxDeg: Long): DataFrame = {
    val pe = pedges.select("a", "b").distinct()
    pe.select(col("a").as("v")).unionByName(pe.select(col("b").as("v")))
      .groupBy(col("v").as("id")).agg(count(lit(1)).cast("long").as("deg"))
      .filter(col("deg") > maxDeg)
  }

  /** Per-edge neighborhood Jaccard — "embeddedness" (Granovetter
    * 1973's tie-strength proxy; Easley & Kleinberg ch. 3): for each
    * undirected edge (a, b) over the simple (a < b) pair graph,
    * |N(a)∩N(b)| / |N(a)∪N(b) \ {a,b}| — the share of the endpoints'
    * combined social context they share. 0 on bridge-like local
    * bridges (no common neighbors), → 1 inside dense cliques; the
    * edge-level strength signal community detection and tie-pruning
    * read. Denominator-0 edges (both endpoints degree-1) score 0.0 by
    * the usual convention.
    *
    * Plan: common + endpoint degrees ride the ONE [[edgeSupportParts]]
    * kernel (cost-gated fused intersect vs degree-ordered closure) —
    * the degrees come off the adjacency arrays (fused) or two dim
    * joins (closure), never a separate degree pass here. `maxDeg`
    * caps hubs exactly as in edgeSupport (exact on the induced
    * ≤ maxDeg subgraph, ≡ exact when maxDeg ≥ max degree; audit with
    * [[degreeHubs]]). `assumeDistinct` declares the input frame
    * already-canonical AND cached (the partCooccur memo contract) —
    * skips the re-distinct shuffle + checkpoint. */
  def edgeJaccard(pedges: DataFrame, maxDeg: Long = Long.MaxValue,
                  assumeDistinct: Boolean = false): DataFrame = {
    val (_, support, _) =
      edgeSupportParts(pedges, maxDeg, None, assumeDistinct)
    val den = col("da") + col("db") - lit(2) - col("support")
    support.select(col("a"), col("b"), col("support").as("common"),
      when(den === 0, lit(0.0))
        .otherwise(round(col("support") / den, 6)).as("jaccard"))
  }

  /** Local-bridge summary (Granovetter: an edge whose endpoints share
    * NO other neighbor — the weak ties that carry novel information;
    * removing one lengthens its endpoints' path to ≥ 3). Rides the
    * [[edgeJaccard]] kernel (sorted-adjacency intersect, no triangle
    * materialization) and reduces it to one row: (n_edges, n_bridges,
    * bridge_rate). `jaccardIn` feeds a session-shared edgeJaccard
    * frame so the report and the per-edge table pay ONE kernel pass. */
  def localBridges(pedges: DataFrame,
                   jaccardIn: Option[DataFrame] = None): DataFrame =
    jaccardIn.getOrElse(edgeJaccard(pedges))
      .agg(count(lit(1)).cast("long").as("n_edges"),
        sum(when(col("common") === 0L, 1L).otherwise(0L)).cast("long")
          .as("n_bridges"))
      .select(col("n_edges"), col("n_bridges"),
        round(col("n_bridges").cast("double") / col("n_edges"), 6)
          .as("bridge_rate"))

  /** Label-block edge matrix (the stochastic-block-model fingerprint):
    * per (label_src, label_dst), the directed edge count and the
    * density against the full label-pair rectangle n_a·n_b — which
    * label pairs actually interact, and how densely. One edge scan +
    * two label joins + broadcast size frames. */
  def blockMatrix(nodes: DataFrame, edges: DataFrame): DataFrame = {
    val lbl = nodes.select(col("id"), col("label"))
    val sizes = lbl.groupBy("label").agg(count(lit(1)).as("cnt"))
    edges.select("src", "dst")
      .join(lbl.select(col("id").as("src"), col("label").as("label_src")),
        Seq("src"))
      .join(lbl.select(col("id").as("dst"), col("label").as("label_dst")),
        Seq("dst"))
      .groupBy("label_src", "label_dst").agg(count(lit(1)).as("n_edges"))
      .join(broadcast(sizes.select(col("label").as("label_src"),
        col("cnt").as("na"))), Seq("label_src"))
      .join(broadcast(sizes.select(col("label").as("label_dst"),
        col("cnt").as("nb"))), Seq("label_dst"))
      .select(col("label_src"), col("label_dst"),
        col("n_edges").cast("long").as("n_edges"),
        round(col("n_edges").cast("double") /
          (col("na").cast("double") * col("nb").cast("double")), 9)
          .as("density"))
      .orderBy("label_src", "label_dst")
  }

  /** Targeted-attack robustness curve (Albert, Jeong & Barabási 2000
    * "Error and attack tolerance of complex networks"): for each
    * target removal fraction, delete the highest-degree nodes by a
    * pure DEGREE THRESHOLD (d* = smallest degree whose
    * strictly-above count fits the target — no global id ranking, so
    * the removal is one codegen filter at any scale; the actually
    * removed count is reported) and measure how the largest connected
    * component collapses — THE resilience readout for "what happens
    * when the hubs go away".
    *
    * Scale: degree histogram collected once (bounded by the DEGREE
    * DOMAIN, not node count — the lorenz/value-domain argument);
    * per arm one anti-filtered edge view + the dual-regime CC kernel.
    * Returns per target (pct_target, n_removed, n_left, e_left,
    * lcc_size, lcc_share) ordered by pct_target. */
  def attackCurve(pedges: DataFrame,
                  pcts: Seq[Double] = Seq(0.0, 0.01, 0.05, 0.1),
                  maxIter: Int = 50): DataFrame = {
    require(pcts.nonEmpty && pcts.forall(p => p >= 0.0 && p < 1.0),
      s"pcts must be fractions in [0, 1), got $pcts")
    val und = pedges.select(col("a"), col("b")).distinct()
      .filter(col("a") =!= col("b")).localCheckpoint()
    val sym = und.select(col("a").as("src"), col("b").as("dst"))
      .unionByName(und.select(col("b").as("src"), col("a").as("dst")))
    val (deg, _) = Probe.checkpointCounted(
      sym.groupBy(col("src").as("id")).agg(count(lit(1)).as("deg")))
    // every arm's edge view is a filter on the max endpoint degree —
    // annotate once (two degree joins), then each arm is codegen
    val symE = sym
      .join(deg.select(col("id").as("src"), col("deg").as("ds")), Seq("src"))
      .join(deg.select(col("id").as("dst"), col("deg").as("dd")), Seq("dst"))
      .select(col("src"), col("dst"),
        greatest(col("ds"), col("dd")).as("emax"))
      .localCheckpoint()
    // degree histograms: bounded by the degree DOMAIN, never node count
    val hist = deg.groupBy("deg").agg(count(lit(1)).as("cnt"))
      .collect().map(r => r.getLong(0) -> r.getLong(1))
      .sortBy(-_._1)
    val eHist = symE.groupBy("emax").agg(count(lit(1)).as("cnt"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val n = hist.map(_._2).sum
    case class Arm(pct: Double, dstar: Long, removed: Long)
    val arms = pcts.sorted.map { pct =>
      val k = math.floor(pct * n).toLong
      // remove all nodes with deg > dstar; largest removal <= k
      var cum = 0L
      var dstar = hist.headOption.fold(0L)(_._1) // max degree: removes 0
      var removed = 0L
      var stop = false
      for ((d, c) <- hist if !stop) {
        if (cum + c <= k) { cum += c; dstar = d - 1; removed = cum }
        else stop = true // classes are degree-descending: stop at the first overflow
      }
      Arm(pct, dstar, removed)
    }
    // ONE full CC on the MOST-attacked (smallest) graph, then as each
    // hub class returns, contract: solved components become supernodes
    // (their min-id labels ARE canonical node ids), only edges touching
    // the returning hubs enter a tiny follow-up CC — the big edge frame
    // is iterated over exactly once however many arms the curve has
    var labels: DataFrame = null
    var prevDstar = -1L
    val rows = arms.sortBy(-_.removed).map { arm =>
      if (labels == null) {
        val keep = deg.filter(col("deg") <= arm.dstar).select("id")
          .localCheckpoint()
        val es = symE.filter(col("emax") <= arm.dstar)
          .select("src", "dst").localCheckpoint()
        labels = Community.connectedComponents(keep, es, maxIter)
          .localCheckpoint()
      } else {
        val returning = deg
          .filter(col("deg") > prevDstar && col("deg") <= arm.dstar)
          .select("id")
        val m = labels.select(col("id"), col("component").as("lab"))
          .unionByName(returning.select(col("id"), col("id").as("lab")))
          .localCheckpoint()
        val newE = symE
          .filter(col("emax") > prevDstar && col("emax") <= arm.dstar)
          .select("src", "dst")
        val ce = newE
          .join(m.select(col("id").as("src"), col("lab").as("ls")),
            Seq("src"))
          .join(m.select(col("id").as("dst"), col("lab").as("ld")),
            Seq("dst"))
          .select(col("ls").as("src"), col("ld").as("dst"))
          .filter(col("src") =!= col("dst")).distinct()
        val cNodes = m.select(col("lab").as("id")).distinct()
        val cc2 = Community.connectedComponents(cNodes, ce, maxIter)
        labels = m
          .join(cc2.select(col("id").as("lab"), col("component")),
            Seq("lab"))
          .select("id", "component").localCheckpoint()
      }
      prevDstar = arm.dstar
      val eLeft = eHist.collect {
        case (d, c) if d <= arm.dstar => c
      }.sum / 2
      val sizes = labels.groupBy("component").agg(count(lit(1)).as("sz"))
      sizes.agg(coalesce(max("sz"), lit(0L)).as("lcc"),
          coalesce(sum("sz"), lit(0L)).as("nl"))
        .select(lit(arm.pct).as("pct_target"),
          lit(arm.removed).as("n_removed"),
          col("nl").cast("long").as("n_left"),
          lit(eLeft).as("e_left"),
          col("lcc").cast("long").as("lcc_size"),
          when(col("nl") > 0,
            round(col("lcc").cast("double") / col("nl").cast("double"), 6))
            .as("lcc_share"))
    }
    rows.reduce(_ unionByName _).orderBy("pct_target")
  }

  /** Categorical (label) assortativity (Newman 2003 "Mixing patterns
    * in networks", eq. 2): with the mixing matrix e_ij = fraction of
    * directed edges running label-i → label-j and margins aᵢ = Σⱼ eᵢⱼ,
    * bⱼ = Σᵢ eᵢⱼ, r = (Σᵢ eᵢᵢ − Σᵢ aᵢbᵢ)/(1 − Σᵢ aᵢbᵢ) — "do edges
    * stay inside a label class more than chance": +1 perfectly
    * assortative, 0 random, negative disassortative. The scalar the
    * [[blockMatrix]] fingerprint collapses to (same cells, one number),
    * and the categorical twin of [[assortativity]]'s degree-Pearson r.
    * NULL when Σaᵢbᵢ = 1 (single label — no off-diagonal mass
    * possible).
    *
    * Scale: the blockMatrix shuffle (≤ |labels|² cells after map-side
    * combine); margins and the three scalars come off the broadcast
    * cell frame. Returns one row (n_edges, same_share, expected_same,
    * assortativity). */
  def labelAssortativity(nodes: DataFrame, edges: DataFrame): DataFrame = {
    val lbl = nodes.select(col("id"), col("label"))
    val cells = edges.select("src", "dst")
      .join(lbl.select(col("id").as("src"), col("label").as("ls")),
        Seq("src"))
      .join(lbl.select(col("id").as("dst"), col("label").as("ld")),
        Seq("dst"))
      .groupBy("ls", "ld").agg(count(lit(1)).as("c"))
      .localCheckpoint() // ≤ |labels|² rows
    val tots = cells.agg(sum("c").as("m"),
      sum(when(col("ls") === col("ld"), col("c")).otherwise(lit(0L)))
        .as("diag"))
    val ab = cells.groupBy("ls").agg(sum("c").as("ca"))
      .join(cells.groupBy("ld").agg(sum("c").as("cb"))
        .select(col("ld").as("ls"), col("cb")), Seq("ls"))
      .agg(sum(col("ca").cast("double") * col("cb").cast("double"))
        .as("sab"))
    val mD = col("m").cast("double")
    val same = col("diag").cast("double") / mD
    val expd = col("sab") / (mD * mD)
    tots.crossJoin(broadcast(ab))
      .select(col("m").cast("long").as("n_edges"),
        round(same, 6).as("same_share"),
        round(expd, 6).as("expected_same"),
        round(when(expd < 1.0, (same - expd) / (lit(1.0) - expd)), 6)
          .as("assortativity"))
  }

  /** Average-neighbor-degree curve knn(k) (Pastor-Satorras, Vázquez &
    * Vespignani 2001): for each degree class k, the degree-class mean
    * of the neighbor degree — THE degree-correlation profile (rising =
    * assortative, falling = disassortative) that the single
    * assortativity r collapses to one number. Within a class every
    * node has degree exactly k, so the class mean of (Σ nbr-deg)/k is
    * (Σ Σ nbr-deg)/(k·n_k) — ALL sums exact BIGINTs, one double
    * division at the end.
    *
    * Scale: one degree aggregate + one |E|-row join to the degree
    * frame + two map-side-combined rollups; output ≤ |distinct
    * degrees| rows. */
  def knnProfile(pedges: DataFrame): DataFrame = {
    val sym = pedges.select(col("a").as("src"), col("b").as("dst"))
      .unionByName(pedges.select(col("b").as("src"), col("a").as("dst")))
    val deg = sym.groupBy(col("src").as("id")).agg(count(lit(1)).as("deg"))
    val snd = sym
      .join(deg.select(col("id").as("dst"), col("deg").as("dn")), Seq("dst"))
      .groupBy("src").agg(sum("dn").as("snd"))
    deg.join(snd, deg("id") === snd("src"))
      .groupBy(col("deg").as("k"))
      .agg(count(lit(1)).cast("long").as("n_nodes"),
        sum("snd").cast("long").as("snd_sum"))
      .select(col("k").cast("long").as("k"), col("n_nodes"),
        round(col("snd_sum").cast("double") /
          (col("k") * col("n_nodes")).cast("double"), 6).as("knn"))
      .orderBy("k")
  }

  /** Clustering-by-degree curve C(k) (the third Pastor-Satorras
    * profile next to [[knnProfile]] and [[disparity]]): degree-class
    * mean of the local clustering coefficient — falling C(k) is the
    * hierarchical-network signature a single global coefficient
    * hides. Takes the shared per-node triangle frame (id, tri_cnt)
    * so the wedge-close runs ONCE per session; per-node coefficients
    * integerize to 1e-7 units before the class mean. Degree-1 nodes
    * (undefined coefficient) are excluded.
    *
    * Scale: one degree aggregate + one |V|-row left join + a
    * ≤|distinct degrees|-key rollup on top of the session-cached
    * triangle pass. */
  def ckCurve(pedges: DataFrame, triPerNode: DataFrame): DataFrame = {
    val deg = pedges.select(col("a").as("src"), col("b").as("dst"))
      .unionByName(pedges.select(col("b").as("src"), col("a").as("dst")))
      .groupBy(col("src").as("id")).agg(count(lit(1)).as("d"))
    deg.join(triPerNode, Seq("id"), "left_outer")
      .filter(col("d") >= 2)
      .select(col("d"),
        floor(coalesce(col("tri_cnt"), lit(0L)).cast("double") /
          (col("d") * (col("d") - 1) / lit(2.0)) * lit(1e7) + lit(0.5))
          .cast("long").as("cu"))
      .groupBy(col("d").as("k"))
      .agg(count(lit(1)).cast("long").as("n_nodes"), sum("cu").as("cusum"))
      .select(col("k").cast("long").as("k"), col("n_nodes"),
        round(col("cusum").cast("double") /
          (col("n_nodes").cast("double") * lit(1e7)), 6).as("mean_cc"))
      .orderBy("k")
  }

  /** Degree–coreness ratio profile: per degree class, the mean of
    * core(v)/deg(v) — low ratios at high degree expose "peripheral
    * hubs" (stars whose neighbors are leaves), the structural lie in
    * a raw degree ranking. Rides [[coreNumbers]]' dual-regime
    * h-index kernel; ratios integerize to 1e-7 units before the
    * class mean.
    *
    * Scale: coreNumbers' plan + one degree join + a ≤|distinct
    * degrees|-key rollup. */
  def degreeCoreRatio(symEdges: DataFrame): DataFrame = {
    val core = coreNumbers(symEdges)
    val deg = symEdges.groupBy(col("src").as("id"))
      .agg(count(lit(1)).as("deg"))
    deg.join(core, Seq("id"))
      .select(col("deg"),
        floor(col("core").cast("double") / col("deg").cast("double") *
          lit(1e7) + lit(0.5)).cast("long").as("ru"))
      .groupBy(col("deg").as("k"))
      .agg(count(lit(1)).cast("long").as("n_nodes"), sum("ru").as("rusum"))
      .select(col("k").cast("long").as("k"), col("n_nodes"),
        round(col("rusum").cast("double") /
          (col("n_nodes").cast("double") * lit(1e7)), 6)
          .as("mean_core_ratio"))
      .orderBy("k")
  }

  /** Weight-disparity profile Y(k) (Barthélemy et al. 2005): per
    * node, Y = Σ(w/s)² over its incident edge weights (1/k = evenly
    * spread strength, →1 = one dominant tie), integerized to 1e-7
    * units and rolled up by degree class — the weighted-graph
    * counterpart of [[knnProfile]]. Input is the (a,b) multigraph;
    * weight = pair multiplicity. Per-node sw2/s are exact BIGINTs;
    * the Y division runs in doubles (s² would overflow int64 at
    * extreme strength) and is identical in both engines.
    *
    * Scale: one pair-count shuffle + one node rollup; output ≤
    * |distinct degrees| rows. */
  def disparity(pall: DataFrame): DataFrame = {
    val w = pall.groupBy("a", "b").agg(count(lit(1)).as("w"))
    val sym = w.select(col("a").as("src"), col("w"))
      .unionByName(w.select(col("b").as("src"), col("w")))
    val per = sym.groupBy("src")
      .agg(count(lit(1)).as("k"), sum("w").as("s"),
        sum(col("w") * col("w")).as("sw2"))
    per.select(col("k"),
        floor(col("sw2").cast("double") /
          (col("s").cast("double") * col("s").cast("double")) * lit(1e7)
          + lit(0.5)).cast("long").as("yu"))
      .groupBy("k")
      .agg(count(lit(1)).cast("long").as("n_nodes"), sum("yu").as("yusum"))
      .select(col("k").cast("long").as("k"), col("n_nodes"),
        round(col("yusum").cast("double") /
          (col("n_nodes").cast("double") * lit(1e7)), 6)
          .as("mean_disparity"))
      .orderBy("k")
  }

  /** k-truss — the maximal subgraph in which every edge closes at
    * least k−2 triangles WITHIN the subgraph (Cohen 2008): the
    * edge-level cohesion analogue of k-core (reference:
    * src/algorithms/kcore.rs ships the peel machinery this mirrors at
    * the edge level). Iterated support peel: per round each surviving
    * edge's support is the common-neighbor count of its endpoints
    * over the surviving graph (sorted adjacency arrays + the native
    * codegen'd intersect count — no triangle materialization), edges
    * under k−2 leave, repeat to fixpoint. Every round is one groupBy
    * (adjacency) + two |V|-row joins + a filter, and the edge frame
    * shrinks monotonically. Output: surviving (a, b, support) with
    * support measured in the FINAL subgraph. Deterministic (no tie
    * choices — the peel is a pure set fixpoint), so the oracle
    * replays the rounds with the same join arithmetic. */
  def kTruss(pedges: DataFrame, k: Int, maxRounds: Int = 30): DataFrame = {
    require(k >= 3, s"k-truss needs k >= 3, got $k")
    // per-round support rides the [[edgeSupport]] kernel (support(a,b)
    // ≡ |N(a)∩N(b)| on the surviving subgraph) — its cost-based gate
    // picks the fused sorted-intersect plan while the measured Σ deg²
    // is affordable and the O(m^1.5) closure past it, so the peel
    // stays bounded on hub-heavy graphs without paying the heavier
    // plan on the small ones it iterates over
    def supportOf(e: DataFrame, nE: Long): DataFrame =
      edgeSupport(e, knownDistinctEdges = Some(nE))
    var (e, nE) = Probe.checkpointCounted(pedges.select("a", "b").distinct())
    var round = 0
    while (round < maxRounds) {
      round += 1
      val (keep, nKeep) = Probe.checkpointCounted(
        supportOf(e, nE).filter(col("support") >= k - 2).select("a", "b"))
      if (nKeep == nE)
        return supportOf(e, nE).select(col("a"), col("b"),
          col("support").cast("long").as("support")).orderBy("a", "b")
      e = keep; nE = nKeep
      if (nE == 0L) return supportOf(e, nE).limit(0)
        .select(col("a"), col("b"), col("support").cast("long").as("support"))
    }
    throw new IllegalStateException(
      s"k-truss did not converge in $maxRounds rounds")
  }

  /** Triangle enumeration on a simple undirected graph given as (a<b)
    * pairs, via the degree-ordered node-iterator (triangle.rs:46): edges
    * are oriented low-degree → high-degree (id tiebreak), which is
    * acyclic, so each triangle is emitted exactly once — and out-degrees
    * are bounded by O(√m), keeping the wedge join at O(m^1.5) even on
    * skewed graphs. The (x,y,z) labels depend on the orientation but the
    * triangle node-sets (and thus all counts) do not. */
  def triangles(pedges: DataFrame): DataFrame = {
    // The edge count for the broadcast gate rides the edge-list
    // checkpoint (Dataset.observe) — no bare count job, and the four
    // consumers below (degree build, two orientation joins, adjacency)
    // probe the materialized list instead of re-running its upstream.
    val (pe, nE) = Probe.checkpointCounted(pedges.select("a", "b"))
    val deg = pe.select(col("a").as("v"))
      .unionByName(pe.select(col("b").as("v")))
      .groupBy("v").agg(count(lit(1)).as("d"))
    // The degree table is |V| rows — broadcast it into the orientation
    // joins so `o` (computed twice below: adjacency build + probe side)
    // is a map-only pipeline over the cached edge list, not two shuffle
    // joins re-run per consumer. Above the threshold (driver memory
    // guard) it falls back to shuffle joins.
    val fits = Tuning.fits(nE)
    val degJ = if (fits) broadcast(deg) else deg
    val o = pe
      .join(degJ.select(col("v").as("a"), col("d").as("da")), Seq("a"))
      .join(degJ.select(col("v").as("b"), col("d").as("db")), Seq("b"))
      .select(
        when(col("da") < col("db") ||
             (col("da") === col("db") && col("a") < col("b")), col("a"))
          .otherwise(col("b")).as("s"),
        when(col("da") < col("db") ||
             (col("da") === col("db") && col("a") < col("b")), col("b"))
          .otherwise(col("a")).as("t"))
    // Close each oriented edge (s,t) against the *intersection of the
    // out-neighbor arrays* of its endpoints: w ∈ N⁺(s)∩N⁺(t) ⇔ (s,t,w)
    // is a triangle, emitted exactly once (the orientation is acyclic).
    // This never materializes the wedge stream — the old e1⋈e2 join
    // produced Σ outdeg² intermediate rows (~32M at sf0.1) where this
    // plan's biggest frame is |E| rows carrying per-node arrays bounded
    // by the O(√m) oriented out-degree (measured 23 s → 9 s for the
    // q_clustering chain at sf0.1). While the edge set fits an executor
    // (edges within the gate ⇒ arrays total ~8B·|E|), the
    // adjacency frame is broadcast so edges never shuffle; past that it
    // becomes a key-partitioned shuffle join — decided by a cheap count
    // on the (usually cached) oriented edge list.
    val adj = o.groupBy(col("s")).agg(collect_list(col("t")).as("ns"))
    val adjB = if (fits) broadcast(adj) else adj
    o.join(adjB.select(col("s"), col("ns").as("nss")), Seq("s"))
      .join(adjB.select(col("s").as("t"), col("ns").as("nst")), Seq("t"))
      .select(col("s").as("x"), col("t").as("y"),
        explode(array_intersect(col("nss"), col("nst"))).as("z"))
  }

  /** Per-node triangle participation: (id, tri_cnt) — nodes in ≥ 1
    * triangle only, exactly the corner aggregation of the (x,y,z)
    * stream. Dual regime: while the (a<b) edge list fits the driver
    * gate, count triangles locally over a packed edge collect with the
    * same degree-ordered orientation and sorted-adjacency intersects —
    * the distributed wedge join materializes per-edge neighbor arrays
    * and is by far the most expensive derived frame on a driver-sized
    * graph. Past the gate, the distributed enumeration + corner
    * aggregation is the 100 TB path (a 3-branch union would re-run the
    * wedge join once per corner); ShuffleRegimeSpec pins both regimes
    * to identical output. */
  def trianglesPerNode(pedges: DataFrame): DataFrame = {
    val (pe, nE) = Probe.checkpointCounted(pedges.select("a", "b"))
    if (Tuning.fits(nE)) triangleCountsLocal(pe)
    else perNodeCounts(triangles(pe))
  }

  /** Driver-side triangle counting: orient each undirected (a<b) edge
    * low→high by (degree, id) — the same acyclic orientation as
    * [[triangles]] — sort the oriented adjacency lists once, and count
    * each triangle exactly once as a sorted-merge intersection of its
    * base edge's endpoint lists, crediting all three corners. O(m^1.5)
    * like the distributed close. Only called under the driver gate. */
  private def triangleCountsLocal(pe: DataFrame): DataFrame = {
    val spark = pe.sparkSession
    val g = LocalGraph.load(None, pe, LocalGraph.Extend)
    val aIx = g.src; val bIx = g.dst
    val n = g.n; val m = aIx.length
    val deg = new Array[Int](n)
    var k = 0
    while (k < m) { deg(aIx(k)) += 1; deg(bIx(k)) += 1; k += 1 }
    // total order for the orientation: (degree, original id) ascending;
    // rank is the position in that order so list entries sort cheaply
    val order = Array.tabulate(n)(identity).sortWith { (x, y) =>
      deg(x) < deg(y) || (deg(x) == deg(y) && g.id(x) < g.id(y)) }
    val rankOf = new Array[Int](n)
    var i = 0; while (i < n) { rankOf(order(i)) = i; i += 1 }
    val srcR = new Array[Int](m); val dstR = new Array[Int](m)
    k = 0
    while (k < m) {
      val ra = rankOf(aIx(k)); val rb = rankOf(bIx(k))
      if (ra < rb) { srcR(k) = ra; dstR(k) = rb }
      else { srcR(k) = rb; dstR(k) = ra }
      k += 1
    }
    val (off, nbr) = LocalGraph.csr(srcR, dstR, n)
    i = 0
    while (i < n) { java.util.Arrays.sort(nbr, off(i), off(i + 1)); i += 1 }
    // the intersect sweep is embarrassingly parallel over base edges:
    // split the node range across driver cores, each thread folding
    // into its own count array, merged at the end (counts are adds)
    val threads = math.max(1, Runtime.getRuntime.availableProcessors min 16)
    val perThread = Array.fill(threads)(new Array[Long](n))
    val chunk = (n + threads - 1) / threads
    val pool = (0 until threads).map { t =>
      val th = new Thread(() => {
        val cnt = perThread(t)
        var s = t * chunk
        val end = math.min(n, s + chunk)
        while (s < end) {
          var j = off(s)
          while (j < off(s + 1)) {
            val u = nbr(j)
            // sorted-merge intersect N⁺(s) ∩ N⁺(u)
            var p = off(s); var q = off(u)
            while (p < off(s + 1) && q < off(u + 1)) {
              val x = nbr(p); val y = nbr(q)
              if (x < y) p += 1
              else if (x > y) q += 1
              else { cnt(s) += 1; cnt(u) += 1; cnt(x) += 1; p += 1; q += 1 }
            }
            j += 1
          }
          s += 1
        }
      })
      th.start(); th
    }
    pool.foreach(_.join())
    val cnt = perThread.reduce { (a, b) =>
      var r = 0; while (r < n) { a(r) += b(r); r += 1 }; a
    }
    import spark.implicits._
    (0 until n).filter(r => cnt(r) > 0)
      .map(r => (g.id(order(r)), cnt(r))).toDF("id", "tri_cnt")
  }

  /** Corner-count aggregation for an (x,y,z) triangle frame — split out
    * so callers holding a cached triangle frame can reuse it. */
  def perNodeCounts(tris: DataFrame): DataFrame =
    tris.select(explode(array(col("x"), col("y"), col("z"))).as("id"))
      .groupBy("id").agg(count(lit(1)).as("tri_cnt"))

  /** Nodes surviving `rounds` synchronous peel rounds of the k-core
    * (kcore.rs:60): each round recomputes degrees within the surviving
    * induced subgraph and drops nodes with degree < k. With rounds ≥ the
    * peel depth this is exactly the k-core (the spec asserts convergence);
    * both engines run the same fixed round count so results match by
    * construction either way. Returns the surviving node set. */
  def kcoreMembers(symEdges: DataFrame, k: Int, rounds: Int): DataFrame = {
    // Delta peeling: the edge list is scanned, never rebuilt. Each round
    // removes the currently-under-k nodes and *decrements* the surviving
    // degrees by the edges incident to the removed set (a semi-join
    // against the — small, broadcast — dead set + one map-side-combined
    // count), instead of re-aggregating degrees over a re-materialized
    // shrinking edge list. Degree rows (|V|-bounded) are the only state
    // that mutates; decrements targeting already-removed nodes drop out
    // in the anti-join. Synchronous-round semantics are unchanged, so
    // with rounds ≥ the peel depth this is exactly the k-core and the
    // fixed-round oracle matches by construction either way; early
    // convergence when nothing dies (all remaining rounds are no-ops).
    // Edge count rides the checkpoint for the regime gate (one action).
    val (e, nE) = Probe.checkpointCounted(symEdges.select("src", "dst"))
    // Dual regime: while the edge list fits the driver gate, run the
    // synchronous peel over a packed edge collect — each distributed round
    // costs a scheduler floor and the peel depth is tens of rounds on real
    // graphs. Past the gate the delta peel below is the 100 TB path;
    // ShuffleRegimeSpec forces the gate to 0 to pin both regimes.
    if (Tuning.fits(nE))
      return kcoreLocal(e, k, rounds)
    // One checkpoint per peel round: the under-k count rides the degree
    // checkpoint, and the dead set is a filter over it (no job).
    val underK = col("d") < k
    def checkpointDeg(df: DataFrame): (DataFrame, Long) = {
      val (out, m) = Probe.checkpointObserved(df, count(when(underK, 1)).as("dead"))
      (out, m("dead").asInstanceOf[Long])
    }
    var (deg, deadCount) =
      checkpointDeg(e.groupBy(col("src").as("id")).agg(count(lit(1)).as("d")))
    var r = 0
    var converged = false
    while (r < rounds && !converged) {
      r += 1
      if (deadCount == 0L) converged = true
      else {
        val db = Tuning.broadcastIfFits(deg.filter(underK).select("id"), deadCount)
        val decr = e.join(db.withColumnRenamed("id", "src"), Seq("src"), "left_semi")
          .groupBy(col("dst").as("id")).agg(count(lit(1)).as("dec"))
        val (nextDeg, nextDead) = checkpointDeg(deg.join(db, Seq("id"), "left_anti")
          .join(decr, Seq("id"), "left_outer")
          .select(col("id"), (col("d") - coalesce(col("dec"), lit(0L))).as("d")))
        deg = nextDeg; deadCount = nextDead
      }
    }
    deg.select("id")
  }

  /** The same synchronous peel on the driver: round r removes every
    * node whose degree at the START of the round is < k, then
    * decrements surviving neighbors — decrement-by-decrement identical
    * to the distributed delta peel (dead→dead edges never decrement,
    * matching its anti-join), so the fixed-round contract holds in
    * both regimes. Each node dies at most once, so total work past the
    * first scan is O(m). Only called under the driver-size gate. */
  private def kcoreLocal(e: DataFrame, k: Int, rounds: Int): DataFrame = {
    val spark = e.sparkSession
    val g = LocalGraph.load(None, e, LocalGraph.Extend)
    val n = g.n
    val (off, nbr) = g.csr
    val deg = Array.tabulate(n)(i => off(i + 1) - off(i))
    val alive = Array.fill(n)(true)
    // only nodes whose degree moved last round can newly fall under k
    var cand: Array[Int] = Array.tabulate(n)(identity)
    var r = 0
    var converged = false
    while (r < rounds && !converged) {
      r += 1
      val dead = cand.filter(v => alive(v) && deg(v) < k)
      if (dead.isEmpty) converged = true
      else {
        dead.foreach(alive(_) = false)
        val touched = Array.newBuilder[Int]
        dead.foreach { v =>
          var j = off(v)
          while (j < off(v + 1)) {
            val w = nbr(j)
            if (alive(w)) { deg(w) -= 1; touched += w }
            j += 1
          }
        }
        cand = touched.result().distinct
      }
    }
    import spark.implicits._
    (0 until n).filter(alive(_)).map(g.id).toDF("id")
  }

  /** Full k-core decomposition: (id, core) with core(v) = the largest k
    * such that v survives k-peeling — exactly the reference's
    * k_core_decomposition (kcore.rs:60: nodes removed while peeling at
    * level k get value k-1). Computed distributively by iterated
    * h-index (Lü et al., Nat. Commun. 7:10168, 2016): seed
    * c(v) = deg(v); each round c(v) := H({c(u) : u ~ v}) = the largest
    * h such that ≥ h neighbors currently have value ≥ h. The sequence
    * is pointwise non-increasing and its fixpoint is the core number,
    * so Σc is monotone and equality ⇔ converged — detected on the
    * observed checkpoint sum, one Spark job per round.
    *
    * Scale: state is |V| (id, c) rows; each round is one join (c
    * broadcast while driver-sized, shuffle past the gate) + a per-node
    * window rank (sorts each adjacency list inside its shuffle
    * partition — spillable, never driver-bound, no global sort) + one
    * map-side-combined max. This replaces the former driver-side loop
    * over k (O(degeneracy · peel-depth) jobs); round count is the
    * h-index convergence depth — small on dense/low-diameter graphs,
    * O(diameter) worst case on long paths, guarded by `maxIter`. */
  def coreNumbers(symEdges: DataFrame, maxIter: Int = 50): DataFrame = {
    // Dual regime: while the (symmetric) edge list fits the driver gate,
    // run the exact O(m) Batagelj–Zaversnik bucket peel locally — the
    // h-index iteration's convergence depth is O(propagation diameter) and
    // each distributed round costs a scheduler floor, so on a driver-sized
    // graph 38 tiny rounds lose to one collect by an order of magnitude
    // (measured 37.6 s → ~2 s at sf0.1). Past the gate the delta h-index
    // below is the 100 TB path (per-round floors amortize once rounds
    // carry real data); ShuffleRegimeSpec forces the gate to 0 to pin both
    // regimes to identical output.
    val (e, nE) = Probe.checkpointCounted(symEdges.select("src", "dst"))
    if (Tuning.fits(nE))
      return corePeelLocal(e)
    val (c0, n) = Probe.checkpointCounted(
      e.groupBy(col("src").as("id")).agg(count(lit(1)).as("c")))
    val w = Window.partitionBy("src").orderBy(col("cn").desc)
    // Delta rounds: a node's h can move only if some neighbor's value
    // changed last round, so each round recomputes H over the edges
    // whose src is adjacent to the changed set and carries everyone
    // else forward. The h-index frontier collapses fast (full graph on
    // round 1, a handful of slowly-settling nodes in the long tail), so
    // the 30+ tail rounds stop paying the full-|E| rank — measured
    // 37.6 s → ~1/4 of that at sf0.1 on the part co-occurrence graph.
    // State per round is still one checkpointed |V| (id, c, chg) frame;
    // the changed count rides the checkpoint (one job per round).
    var c = c0.withColumn("chg", lit(1L))
    var nChanged = n
    var it = 0
    while (nChanged > 0L) {
      it += 1
      if (it > maxIter) throw new IllegalStateException(
        s"coreNumbers did not converge within $maxIter h-index rounds")
      val ch = c.filter(col("chg") === 1L).select(col("id").as("dst"))
      val chB = Tuning.broadcastIfFits(ch, nChanged)
      val affected = e.join(chB, Seq("dst"), "left_semi")
        .select("src").distinct()
      val affB = Tuning.broadcastIfFits(affected, n)
      val cj = c.select(col("id").as("dst"), col("c").as("cn"))
      // H-index via the sorted-rank identity: H(values) =
      // max_r min(value_r, r) with values ranked descending.
      val h = e.join(affB, Seq("src"), "left_semi")
        .join(Tuning.broadcastIfFits(cj, n), Seq("dst"))
        .withColumn("rn", row_number().over(w).cast("long"))
        .select(col("src"), least(col("cn"), col("rn")).as("h"))
        .groupBy(col("src").as("id")).agg(max("h").as("h"))
      // The sequence is pointwise non-increasing from the degree seed;
      // least(h, c) makes that invariant structural rather than assumed.
      val (ck, m) = Probe.checkpointObserved(
        c.select("id", "c").join(h, Seq("id"), "left_outer")
          .select(col("id"),
            least(coalesce(col("h"), col("c")), col("c")).as("c"),
            when(col("h") < col("c"), lit(1L)).otherwise(lit(0L)).as("chg")),
        sum("chg").as("nchg"))
      c = ck
      nChanged = Option(m("nchg")).fold(0L)(_.asInstanceOf[Long])
      if (sys.env.contains("GRAFT_DEBUG_CORE"))
        System.err.println(s"[coreNumbers] round $it changed=$nChanged")
    }
    c.select(col("id"), col("c").as("core"))
  }

  /** Exact core decomposition on the driver: load the (already
    * checkpointed, symmetric) edge list as a [[LocalGraph]] and run the
    * Batagelj–Zaversnik O(m) bucket peel — every level of the
    * reference's level-by-level peel (kcore.rs:60) in one pass. Returns
    * (id, core) for every node with ≥ 1 incident edge. Only called
    * under the driver-size gate. */
  private def corePeelLocal(e: DataFrame): DataFrame = {
    val spark = e.sparkSession
    val g = LocalGraph.load(None, e, LocalGraph.Extend)
    val n = g.n
    val (off, nbr) = g.csr
    // bucket-queue peel: vertices ordered by current degree; removing v
    // pulls each still-higher neighbor one bucket down via a front swap
    val core = Array.tabulate(n)(i => off(i + 1) - off(i))
    val maxDeg = if (n == 0) 0 else core.max
    val bin = new Array[Int](maxDeg + 2)
    core.foreach(d => bin(d) += 1)
    var startAt = 0
    var i = 0; while (i <= maxDeg) { val c = bin(i); bin(i) = startAt; startAt += c; i += 1 }
    val vert = new Array[Int](n); val pos = new Array[Int](n)
    val fill = bin.clone()
    i = 0; while (i < n) { pos(i) = fill(core(i)); vert(pos(i)) = i; fill(core(i)) += 1; i += 1 }
    var p = 0
    while (p < n) {
      val v = vert(p)
      var j = off(v)
      while (j < off(v + 1)) {
        val u = nbr(j)
        if (core(u) > core(v)) {
          // front of u's bucket is always past p (everything at or
          // before p has a strictly smaller current degree), so the
          // swap never disturbs processed vertices
          val du = core(u); val pu = pos(u); val pw = bin(du); val w = vert(pw)
          if (u != w) { vert(pu) = w; vert(pw) = u; pos(u) = pw; pos(w) = pu }
          bin(du) += 1; core(u) -= 1
        }
        j += 1
      }
      p += 1
    }
    import spark.implicits._
    (0 until n).map(i => (g.id(i), core(i).toLong)).toDF("id", "core")
  }

  /** Degree of each node within the subgraph induced by `members`. */
  def inducedDegrees(symEdges: DataFrame, members: DataFrame): DataFrame =
    symEdges.select("src", "dst")
      .join(members.withColumnRenamed("id", "src"), Seq("src"), "left_semi")
      .join(members.withColumnRenamed("id", "dst"), Seq("dst"), "left_semi")
      .groupBy(col("src").as("id")).agg(count(lit(1)).as("core_degree"))

  /** 4-cycle (square) census over a simple a<b pair graph — the
    * quadrilateral counterpart of the triangle family: squares =
    * ¼·Σ_{u<w} cn(u,w)·(cn(u,w)−1) where cn is the common-neighbor
    * count of the (ordered) distance-2 pair — each square is counted
    * once per diagonal, hence the ¼ (K₄ sanity: six pairs of cn 2 →
    * 6·2/4 = 3 squares). Also reports the densest co-neighborhood
    * (max cn) and the count of linked pairs (cn ≥ 2) — the candidate
    * space a butterfly/bi-clique miner would enumerate.
    *
    * Scale: the wedge self-join on the center vertex is the
    * clustering/edge_jaccard shape — Σ deg² work, output-bound on the
    * co-neighbor pair frame; counts stay exact BIGINT, and the ÷4 is
    * exact by construction (Σ cn(cn−1) ≡ 4·squares). */
  def squareCount(pairs: DataFrame): DataFrame = {
    val sym = pairs.select(col("a").as("src"), col("b").as("dst"))
      .unionByName(pairs.select(col("b").as("src"), col("a").as("dst")))
    val e1 = sym.select(col("src").as("v"), col("dst").as("u"))
    val e2 = sym.select(col("src").as("v"), col("dst").as("w"))
    val cn = e1.join(e2, Seq("v")).filter(col("u") < col("w"))
      .groupBy("u", "w").agg(count(lit(1)).as("cn"))
    cn.agg(sum(col("cn") * (col("cn") - 1)).as("s4"),
        max("cn").as("max_cn"),
        sum(when(col("cn") >= 2, 1L).otherwise(0L)).as("linked_pairs"))
      .select(expr("s4 DIV 4").as("squares"), col("max_cn"),
        col("linked_pairs"))
  }

  /** Hub-capped square census — the PRODUCTION variant of
    * [[squareCount]] for dense graphs: the exact census's co-neighbor
    * pair frame approaches n²/2 when hubs exist (measured 40 s → 219 s
    * at K=4 dense replicas), because one degree-d center emits d²
    * wedge rows. Here nodes of degree > `maxDeg` are EXCLUDED first
    * and the exact census runs on the induced ≤ maxDeg-degree
    * subgraph — the same hot-key-cap discipline as winnowPairs' maxDf
    * and linkPredict's hub cap. Semantics: squares all four of whose
    * corners have (full-graph) degree ≤ maxDeg — a hub-free
    * quadrilateral census, which equals the exact census whenever
    * maxDeg ≥ the graph's max degree (the spec-pinned equivalence).
    * `n_hubs_excluded` reports what the cap dropped, so a reader knows
    * whether the number is exact (0 excluded) or hub-censored.
    *
    * Scale: the induced subgraph has max degree ≤ maxDeg by
    * construction, so the wedge frame is ≤ |V|·maxDeg² rows — bounded
    * per node regardless of the hub profile; the degree prefilter is
    * one groupBy + two semi-joins. */
  def squareCountCapped(pairs: DataFrame, maxDeg: Long): DataFrame = {
    require(maxDeg >= 1L, "squareCountCapped needs maxDeg >= 1")
    val sym = pairs.select(col("a").as("src"), col("b").as("dst"))
      .unionByName(pairs.select(col("b").as("src"), col("a").as("dst")))
    val deg = sym.groupBy("src").agg(count(lit(1)).as("deg"))
    val kept = deg.filter(col("deg") <= maxDeg).select("src")
    val nHubs = deg.agg(
      sum(when(col("deg") > maxDeg, 1L).otherwise(0L)).as("h"))
      .select(coalesce(col("h"), lit(0L)).as("n_hubs_excluded"))
    val e = sym
      .join(kept, Seq("src"), "left_semi")
      .join(kept.withColumnRenamed("src", "dst"), Seq("dst"), "left_semi")
    val e1 = e.select(col("src").as("v"), col("dst").as("u"))
    val e2 = e.select(col("src").as("v"), col("dst").as("w"))
    val cn = e1.join(e2, Seq("v")).filter(col("u") < col("w"))
      .groupBy("u", "w").agg(count(lit(1)).as("cn"))
    cn.agg(coalesce(sum(col("cn") * (col("cn") - 1)), lit(0L)).as("s4"),
        coalesce(max("cn"), lit(0L)).as("max_cn"),
        coalesce(sum(when(col("cn") >= 2, 1L).otherwise(0L)), lit(0L))
          .as("linked_pairs"))
      .crossJoin(broadcast(nHubs))
      .select(expr("s4 DIV 4").as("squares"), col("max_cn").cast("long").as("max_cn"),
        col("linked_pairs").cast("long").as("linked_pairs"),
        col("n_hubs_excluded").cast("long").as("n_hubs_excluded"),
        lit(maxDeg).as("max_deg"))
  }

  /** Whole-graph degree-distribution summary: node/edge counts, mean
    * degree, simple-graph density 2m/(n(n−1)), and the Shannon entropy
    * of the degree distribution (H = −Σ p_k ln p_k over degree
    * classes) — the one-row structural fingerprint that says
    * "regular-ish" (H → 0) vs "heterogeneous/power-law" (H large).
    * One degree shuffle, then a degree-CLASS-bounded aggregate. */
  def graphEntropy(pairs: DataFrame): DataFrame = {
    val sym = pairs.select(col("a").as("src"), col("b").as("dst"))
      .unionByName(pairs.select(col("b").as("src"), col("a").as("dst")))
    val deg = sym.groupBy("src").agg(count(lit(1)).as("deg"))
    val classes = deg.groupBy("deg").agg(count(lit(1)).as("n_k"))
    val tot = deg.agg(count(lit(1)).as("n"), sum("deg").as("sum_deg"))
    val nD = col("n").cast("double")
    classes.crossJoin(broadcast(tot))
      .select(col("n"), col("sum_deg"),
        (col("n_k").cast("double") / nD).as("p"))
      .groupBy("n", "sum_deg")
      .agg(sum(-col("p") * log(col("p"))).as("h"))
      .select(col("n").as("n_nodes"),
        expr("sum_deg DIV 2").as("n_edges"),
        round(col("sum_deg").cast("double") / col("n").cast("double"), 6)
          .as("mean_deg"),
        round(col("sum_deg").cast("double") /
          (col("n").cast("double") * (col("n").cast("double") - 1.0)), 6)
          .as("density"),
        round(col("h"), 6).as("degree_entropy"))
  }
}
