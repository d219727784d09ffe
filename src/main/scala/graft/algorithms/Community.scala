package graft.algorithms

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Community / partition algorithms (reference: src/algorithms/community.rs,
  * louvain.rs, scc.rs, pagerank.rs), re-expressed as iterative DataFrame
  * fixpoints with map-side-combined message aggregation.
  */
object Community {

  /** Connected components with pointer doubling: each round hooks every
    * node to the minimum label in its closed neighborhood, then shortcuts
    * `component := component(component)` (Shiloach–Vishkin / the
    * shortcutting half of large-star–small-star), so label distance to the
    * component minimum halves per round — O(log n) rounds even on long
    * chains, vs O(diameter) for plain propagation. The reference
    * BFS-labels components in visit order (community.rs:6); the partition
    * is identical here with labels canonicalized to the minimum node id of
    * each component (order-free).
    *
    * Convergence probe: per-node labels only ever decrease, so the exact
    * decimal sum of labels is strictly monotone and equality ⇔ fixpoint. */
  def connectedComponents(nodes: DataFrame, symEdges: DataFrame, maxIter: Int): DataFrame =
    ccWithRounds(nodes, symEdges, maxIter)._1

  /** connectedComponents + the number of rounds it took + whether the
    * fixpoint was actually reached (exposed so the chain-graph spec can
    * assert the O(log n) bound and so callers can fail on an unconverged
    * run instead of silently using partial labels).
    *
    * Round-count contract: convergence is detected by the label-sum
    * signature repeating, so a run that settles exactly on round
    * `maxIter` needs ONE extra confirmation round — up to `maxIter + 1`
    * rounds execute (and may be reported), never more. Callers costing
    * rounds (telemetry, per-round job caps) must budget the +1; the
    * alternative — comparing signatures before the increment — would
    * report a converged run at the cap as unconverged. */
  private[graft] def ccWithRounds(nodes: DataFrame, symEdges: DataFrame,
                                  maxIter: Int): (DataFrame, Int, Boolean) = {
    // Materialize the edge view once: it is joined EVERY round, and a
    // live plan would re-run its whole upstream (e.g. the minhash
    // pipeline feeding dedupClusters) per iteration — measured 34 s vs
    // 4 s for CC over unpersisted candidate pairs at sf0.1. The edge
    // count rides the checkpoint for the regime gate below.
    val (e, nEc) = Probe.checkpointCounted(symEdges.select("src", "dst"))
    // Node count rides the seed checkpoint (Dataset.observe) — no
    // separate count job for the broadcast gate.
    val (comp0, nC) = Probe.checkpointCounted(nodes.select(col("id"), col("id").as("component")))
    // Dual regime: while nodes AND edges fit the driver gate, one
    // union-find pass over a packed edge collect replaces O(log n)
    // pointer-doubling rounds of scheduler floor (and, for callers like
    // dedupClusters, materializes the upstream pair pipeline exactly
    // once). Reported as one round, converged — the union-find IS the
    // fixpoint. Past the gate the hook+shortcut loop below is the 100 TB
    // path; ShuffleRegimeSpec forces the gate to 0 to pin both regimes to
    // identical output.
    if (Tuning.fits(nC, nEc))
      return (ccLocal(comp0.select("id"), e), 1, true)
    var comp = comp0
    // Label state is |V| rows — while driver-sized, broadcast it into
    // the hook join (the edge table never moves) and into the shortcut
    // self-join.
    def bc(df: DataFrame): DataFrame = Tuning.broadcastIfFits(df, nC)
    var prev: java.math.BigDecimal = null
    var iter = 0
    var done = false
    // convergence is detected by the label-sum signature REPEATING, so
    // labels that settle exactly on round maxIter need one extra
    // confirmation round — allow it, or a correct result at the cap
    // would be reported (and thrown) as non-converged by callers
    while (iter <= maxIter && !done) {
      iter += 1
      // One-hop hook only: a 2-hop message stream (msgs ⋈ e) was
      // measured 3× SLOWER overall on the dense near-dup pair graph —
      // it materializes Σ deg² wedge rows per round, which explodes on
      // clique-ish components even though it halves the round count on
      // chains. The shortcut below already gives O(log n) rounds.
      val msgs = bc(comp).join(e, comp("id") === e("src"))
        .select(e("dst").as("id"), col("component"))
      // localCheckpoint before the self-join: materializes the hook step
      // (Catalyst cannot self-join a live Union plan) and makes the
      // shortcut a clean same-generation p(p(v)).
      val hooked = comp.unionByName(msgs)
        .groupBy("id").agg(min("component").as("component")).localCheckpoint()
      // Shortcut: jump to the label's own label. Labels are always node
      // ids, so the self-join always hits; left_outer + coalesce only
      // guards isolated seeds.
      // Probe rides the checkpoint job (Dataset.observe) — one Spark job
      // per round, not materialize + a separate scalar aggregation.
      val (ck, m) = Probe.checkpointObserved(
        hooked.as("a")
          .join(bc(hooked.select(col("id").as("component"), col("component").as("_gp")))
            .as("b"), Seq("component"), "left_outer")
          .select(col("id"), coalesce(col("_gp"), col("component")).as("component")),
        sum(col("component").cast("decimal(38,0)")).as("s"),
        count(lit(1)).as("n"))
      comp = ck
      val s = m("s").asInstanceOf[java.math.BigDecimal]
      // empty graph: the label sum is null forever — terminate on the
      // observed row count instead of spinning to maxIter
      done = m("n").asInstanceOf[Long] == 0L ||
        (prev != null && prev.compareTo(s) == 0)
      prev = s
    }
    (comp, iter, done)
  }

  /** Exact connected components on the driver: union-find with path
    * compression over the [[LocalGraph]] (edge-only endpoints extend it).
    * Label semantics match the distributed min-label fixpoint exactly:
    * labels originate from the seed node rows only, so an edge-only
    * endpoint relays and receives labels but never contributes its own
    * id, and an endpoint whose component holds no seed stays absent
    * from the output (it would never receive a label row). Only called
    * under the driver-size gate. */
  private def ccLocal(seedIds: DataFrame, e: DataFrame): DataFrame = {
    val spark = seedIds.sparkSession
    val g = LocalGraph.load(Some(seedIds), e, LocalGraph.Extend)
    val u = g.n
    val parent = Array.tabulate(u)(identity)
    def find(x0: Int): Int = {
      var x = x0
      while (parent(x) != x) { parent(x) = parent(parent(x)); x = parent(x) }
      x
    }
    var k = 0
    while (k < g.src.length) {
      val a = find(g.src(k)); val b = find(g.dst(k))
      if (a != b) parent(a) = b
      k += 1
    }
    val minSeed = Array.fill(u)(Long.MaxValue)
    var i = 0
    while (i < g.nIds) {
      val r = find(i)
      if (g.id(i) < minSeed(r)) minSeed(r) = g.id(i)
      i += 1
    }
    import spark.implicits._
    (0 until u).flatMap { v =>
      val m = minSeed(find(v))
      if (m == Long.MaxValue) None else Some((g.id(v), m))
    }.toDF("id", "component")
  }

  /** One synchronous pass of the reference's Louvain phase 1
    * (louvain.rs:6): every node adopts the community — initially the
    * singleton {neighbor} — holding the largest number of its incident
    * edge endpoints (out+in). The reference sweeps nodes sequentially and
    * breaks ties by hash-map iteration order; here all nodes move at once
    * and ties break to the smallest community id, which is deterministic
    * and order-free. Input is the symmetric edge multiset (multiplicity =
    * weight). Output: (id, community). */
  def louvainOnePass(symEdges: DataFrame): DataFrame = louvain(symEdges, 1)

  /** Iterated synchronous passes of the same move rule: each pass every
    * node adopts the community holding the most of its incident edge
    * endpoints under the *current* assignment (ties → smallest community
    * id). The reference's sequential sweep loop (louvain.rs:27) made
    * deterministic by moving synchronously. */
  def louvain(symEdges: DataFrame, passes: Int): DataFrame = {
    // NOTE: communities are seeded from edge endpoints, so nodes with no
    // incident edges do not appear in this output — pass the node
    // universe to the 3-arg overload to keep them as singletons (the
    // reference sweeps all nodes; louvain.rs:27).
    // Edge count rides the checkpoint for the regime gate (the edge
    // multiset is joined every pass, so one materialization is also the
    // right distributed plan).
    val (e, nE) = Probe.checkpointCounted(symEdges.select("src", "dst"))
    // Dual regime: the synchronous move rule is integer endpoint counts
    // with a deterministic (wt desc, community asc) argmax — exactly
    // replayable on the driver. Past the gate the two-level aggregation
    // below is the 100 TB path.
    if (Tuning.fits(nE))
      return louvainLocal(e, passes)
    var comm = e.select(col("src").as("id")).distinct()
      .select(col("id"), col("id").as("community")).localCheckpoint()
    for (_ <- 1 to passes) {
      comm = e.join(comm.withColumnRenamed("id", "dst"), Seq("dst"))
        .groupBy(col("src"), col("community")).agg(count(lit(1)).as("wt"))
        .groupBy(col("src").as("id"))
        .agg(max_by(col("community"),
          struct(col("wt"), (-col("community")).as("nd"))).as("community"))
        .localCheckpoint()
    }
    comm
  }

  /** The same synchronous move passes on the driver: every node adopts
    * the community (of ORIGINAL node ids) holding the most of its
    * incident edge endpoints under the previous pass's assignment, ties
    * to the smallest community id — argmax tracked per increment, which
    * is equivalent because counts only grow. Only called under the
    * driver-size gate. */
  private def louvainLocal(e: DataFrame, passes: Int): DataFrame = {
    val spark = e.sparkSession
    val g = LocalGraph.load(None, e, LocalGraph.Extend)
    val n = g.n
    val (off, nbr) = g.csr
    var comm: Array[Long] = Array.tabulate(n)(g.id)
    var pass = 0
    while (pass < passes) {
      pass += 1
      val next = new Array[Long](n)
      var v = 0
      while (v < n) {
        val cnt = new java.util.HashMap[Long, Integer]()
        var bestC = Long.MaxValue
        var bestW = 0
        var j = off(v)
        while (j < off(v + 1)) {
          val c = comm(nbr(j))
          val old = cnt.get(c)
          val nw = (if (old eq null) 0 else old.intValue()) + 1
          cnt.put(c, nw)
          if (nw > bestW || (nw == bestW && c < bestC)) { bestW = nw; bestC = c }
          j += 1
        }
        // every node in the edge-endpoint universe has degree ≥ 1
        next(v) = bestC
        v += 1
      }
      comm = next
    }
    import spark.implicits._
    (0 until n).map(v => (g.id(v), comm(v))).toDF("id", "community")
  }

  /** Louvain over an explicit node universe: isolated nodes (absent
    * from the edge list) stay in the output as singleton communities —
    * the reference sweeps ALL nodes (louvain.rs:27), so they must not
    * silently vanish. One |V|-bounded left join on top of the
    * edge-driven passes. */
  def louvain(nodes: DataFrame, symEdges: DataFrame, passes: Int): DataFrame =
    nodes.select("id").join(louvain(symEdges, passes), Seq("id"), "left_outer")
      .select(col("id"), coalesce(col("community"), col("id")).as("community"))

  /** MULTI-LEVEL Louvain — the full loop the reference's single pass
    * (louvain.rs:6) is one level of: at each level apply the
    * deterministic synchronous move rule ([[louvain]], one pass), then
    * COARSEN — contract every community to a super-node and aggregate
    * the edge multiset between communities (intra-community edges
    * drop; multiplicity is the coarse weight, exactly the Blondel et
    * al. 2008 phase-2 contraction) — and repeat on the coarse
    * multigraph for `levels` levels. The returned assignment maps each
    * ORIGINAL node to its top-level super-community (the composition
    * of the per-level moves); isolated nodes stay singletons at every
    * level.
    *
    * Deterministic end to end: each level's move is the max-incident-
    * multiplicity argmax with smallest-community-id ties, and the
    * contraction introduces no order dependence (a community's
    * super-node id IS the community id). Dual-regime for free: each
    * level's move pass runs through [[louvain]], which gates between
    * the driver kernel and the two-level distributed aggregation.
    *
    * Scale: level ℓ's coarsening is two hash joins on the level-ℓ edge
    * frame (strictly shrinking — coarse edges ≤ input edges, and in
    * practice orders of magnitude fewer after one level); the mapping
    * composition is one |V|-row join per level. localCheckpoint per
    * level cuts the lineage the way every iterative kernel here does. */
  def louvainMulti(nodes: DataFrame, symEdges: DataFrame,
                   levels: Int): DataFrame = {
    require(levels >= 1, "louvainMulti needs levels >= 1")
    var e = symEdges.select("src", "dst")
    var m = nodes.select(col("id"), col("id").as("c"))
    for (_ <- 1 to levels) {
      val a = louvain(e, 1).localCheckpoint()
      // compose: nodes whose current super-node moved follow it;
      // isolated super-nodes (absent from the edge universe) stay put
      m = m.join(a.withColumnRenamed("id", "c"), Seq("c"), "left_outer")
        .select(col("id"), coalesce(col("community"), col("c")).as("c"))
        .localCheckpoint()
      val aSrc = a.select(col("id").as("src"), col("community").as("csrc"))
      val aDst = a.select(col("id").as("dst"), col("community").as("cdst"))
      e = e.join(aSrc, Seq("src")).join(aDst, Seq("dst"))
        .filter(col("csrc") =!= col("cdst"))
        .select(col("csrc").as("src"), col("cdst").as("dst"))
        .localCheckpoint()
    }
    m.select(col("id"), col("c").as("community"))
  }

  /** SCC count / single-SCC test (reference scc.rs:160 count_scc, :233
    * is_strongly_connected) on top of scc. */
  def countScc(nodes: DataFrame, edges: DataFrame): Long =
    scc(nodes, edges).select("scc_id").distinct().count()

  def isStronglyConnected(nodes: DataFrame, edges: DataFrame): Boolean =
    countScc(nodes, edges) == 1L

  private val sccDebug = sys.env.contains("GRAFT_SCC_DEBUG")
  private def dbg(msg: => String): Unit = if (sccDebug) {
    println(s"SCCDBG ${System.nanoTime() / 1000000} $msg")
  }

  /** Min-(xxhash64(id), id) label propagation along `e` (messages flow
    * src → dst) to a fixpoint. Seeds are (id, id); labels only ever
    * decrease lexicographically, so the pair (Σ hash, Σ id) is monotone
    * and equality ⇔ fixpoint. Returns (id, cid) = the order-minimal
    * seed reaching each node. */
  private def minColoring(ids: DataFrame, e: DataFrame,
                          idCount: Long, broadcastable: Boolean,
                          hops: Int): DataFrame = {
    // Multi-hop messages: each fixpoint step sends colors 1..hops
    // edge-hops downstream (chained joins against the edge frame —
    // broadcast when the caller knows it's small, so the hops are
    // map-side and only the final groupBy shuffles) plus one pointer
    // jump through the current color. Reach per step is ≥ hops even when
    // an adversarial hash order makes the jump useless (the record-
    // minima worst case), so a diameter-D class needs ~D/hops steps
    // where the single-hop loop needed D — and each step saved is two
    // Spark jobs (materialize + probe) of mostly fixed latency. The
    // CALLER must keep hops = 1 unless the subgraph is near out-degree
    // 1: a k-hop stream materializes Σ deg^k rows, which explodes on
    // dense graphs (measured 3× slower for 2-hop CC on the near-dup
    // pair graph) but is free on condensation chains/rings.
    val eJ = if (broadcastable) broadcast(e) else e
    var color = ids
      .select(col("id"), xxhash64(col("id")).as("chash"), col("id").as("cid"))
      .localCheckpoint()
    var prevH: java.math.BigDecimal = null
    var prevI: java.math.BigDecimal = null
    var stable = false
    var it = 0
    // Termination rests on the monotone (hash,id) argument; a generous
    // safety cap (pointer doubling converges in O(log idCount) steps —
    // allow 12× that plus slack) turns any future regression or an edge
    // frame mutated between rounds into a fast IllegalStateException
    // instead of a hung job, mirroring the outer scc no-progress guard.
    val cap = 12 * (64 - java.lang.Long.numberOfLeadingZeros(math.max(idCount, 2L))) + 24
    while (!stable) {
      it += 1; dbg(s"coloring iter $it start")
      if (it > cap) throw new IllegalStateException(
        s"minColoring exceeded $cap fixpoint steps over $idCount ids — monotone-progress invariant violated")
      val hopMsgs = Iterator.iterate(
          color.join(eJ, color("id") === eJ("src"))
            .select(eJ("dst").as("id"), col("chash"), col("cid"))) { prev =>
          prev.as("h").join(eJ.as("eN"), col("h.id") === col("eN.src"))
            .select(col("eN.dst").as("id"), col("h.chash").as("chash"),
              col("h.cid").as("cid"))
        }.take(hops).toSeq
      val jumpSide = color.select(col("id").as("cid"), col("chash").as("_jh"),
        col("cid").as("_jc"))
      val jumpMsgs = color.as("a")
        .join(Tuning.broadcastIfFits(jumpSide, idCount), Seq("cid"))
        .select(col("a.id").as("id"), col("_jh").as("chash"), col("_jc").as("cid"))
      // Probe fused into the checkpoint job (Dataset.observe): one job
      // per fixpoint step instead of two.
      val (ck, m) = Probe.checkpointObserved(
        hopMsgs.foldLeft(color)(_ unionByName _)
          .unionByName(jumpMsgs)
          .groupBy("id").agg(min(struct(col("chash"), col("cid"))).as("m"))
          .select(col("id"), col("m.chash").as("chash"), col("m.cid").as("cid")),
        sum(col("chash").cast("decimal(38,0)")).as("h"),
        sum(col("cid").cast("decimal(38,0)")).as("i"))
      color = ck
      val (sh, si) = (m("h").asInstanceOf[java.math.BigDecimal],
        m("i").asInstanceOf[java.math.BigDecimal])
      stable = it > 1 && java.util.Objects.equals(prevH, sh) &&
        java.util.Objects.equals(prevI, si)
      prevH = sh; prevI = si
    }
    color.select("id", "cid")
  }

  /** Node-set rows are a few MB up to ~50M ids — broadcast the semi-join
    * probe side while it plausibly fits the driver, shuffle past that. */
  private def semiOn(e: DataFrame, keyCol: String, ids: DataFrame,
                     idCount: Long): DataFrame = {
    val probe = ids.withColumnRenamed("id", keyCol)
    e.join(Tuning.broadcastIfFits(probe, idCount),
      Seq(keyCol), "left_semi")
  }

  /** Strongly connected components — trimming + forward min-label
    * coloring + a backward sweep from color roots, the multi-pivot
    * generalization of forward-backward pivoting (every color class is a
    * pivot, all processed simultaneously; Slota-style coloring SCC).
    * Same partition as the reference's Kosaraju (scc.rs:58), labels
    * canonicalized to the minimum member id (order-free). State is
    * O(|V|) rows per step - never the O(n^2) transitive closure.
    *
    * Each outer round over the still-unassigned subgraph:
    *   1. Trim to a fixpoint: a node with no in-edges or no out-edges
    *      inside the active subgraph is a singleton SCC (scc_id = own id).
    *   2. Color: [[minColoring]] propagates color(v) = the active id
    *      minimal in (xxhash64(id), id) order that reaches v. Hash order
    *      (not id order) so that an adversarial condensation chain in
    *      ascending-id order still yields many simultaneous roots — the
    *      expected number of rounds is O(log levels) (record-minima
    *      argument), where id order degrades to one root (and one level)
    *      per round. Each fixpoint step combines multi-hop messages with
    *      a pointer-doubling shortcut through the current color (sound:
    *      color(v) reaches v and color(color(v)) reaches color(v), so
    *      color(color(v)) reaches v) — O(log diameter) steps instead of
    *      O(diameter), with a ≥ hops-per-step floor when an adversarial
    *      hash order defeats the jump.
    *   3. Collect: for a root u (color(u) = u), SCC(u) = {v : color(v)
    *      = u and v reaches u}. Every v->...->u path lies entirely
    *      inside color class u (anything reaching an on-path node also
    *      reaches u, so no order-smaller color can appear on the path —
    *      the argument holds for any total order on ids), so the
    *      backward sweep runs the SAME doubling coloring over the
    *      TRANSPOSED within-class edges: bcol(v) is the order-minimal
    *      node v reaches inside its class, the root u is the class
    *      minimum (color(w) = u forces (hash(u),u) <= (hash(w),w)), so
    *      bcol(v) = cid(v) ⇔ v reaches its root ⇔ v ∈ SCC(root) — all
    *      color classes resolved in parallel in O(log diameter) steps.
    *   4. Assign those SCCs, drop them from the active set, repeat.
    *   Finally relabel each SCC to its minimum member id (one
    *   aggregation + one broadcast-sized join; roots are hash-minima,
    *   the public contract is min-id labels).
    *
    * Termination: every outer round assigns at least one SCC — the
    * hash-minimal active node is always a color root (every other
    * active node orders after it), so `remaining` strictly decreases
    * and the loop runs to completion unbounded (no round cap to
    * mis-tune, ADVICE r3). A zero-progress round is mathematically
    * unreachable and guarded by an IllegalStateException. */
  def scc(nodes: DataFrame, edges: DataFrame): DataFrame = {
    // All scalar probes (node/edge counts per step) ride their checkpoint
    // jobs via Dataset.observe — halves the Spark-job count of the
    // fixpoint driver loop, and each saved job is a full scheduler round
    // trip on a real cluster.
    val (active0, nTotal) = Probe.checkpointCounted(nodes.select("id"))
    var active = active0
    var out: Option[DataFrame] = None
    // Dual regime: while BOTH sides fit the driver gate, one exact O(V+E)
    // iterative Tarjan beats the trim+double-coloring fixpoint by the
    // per-round scheduler floor × its ~tens of rounds (measured 8.5 s →
    // ~0.5 s on the 150k-node order-ring at sf0.1). Past the gate the
    // coloring kernel below is the 100 TB path; ShuffleRegimeSpec forces
    // the gate to 0 to pin both regimes to identical output.
    if (Tuning.fits(nTotal)) {
      val (eAll, nEAll) = Probe.checkpointCounted(
        edges.select("src", "dst").filter(col("src") =!= col("dst")))
      if (Tuning.fits(nEAll))
        return sccLocal(active0, eAll)
    }
    var remaining = nTotal
    while (remaining > 0) {
      val beforeRound = remaining
      dbg(s"round start remaining=$remaining")
      // Active-subgraph edge view (self-loops never extend an SCC).
      val (e0, nE) = Probe.checkpointCounted(
        semiOn(semiOn(
          edges.select("src", "dst").filter(col("src") =!= col("dst")),
          "src", active, remaining), "dst", active, remaining))
      var e = e0
      var eCount = nE
      dbg("edge view built")
      // 1. Trim singleton SCCs to a fixpoint. A node survives iff it has
      // both an in- and an out-edge inside the active subgraph — one
      // union + map-side-combined flag aggregation per iteration (not
      // two distincts + two semi-joins); nodes absent from `e` have
      // neither and trim too.
      var trimming = true
      while (trimming && remaining > 0) {
        val (keep, keepCount) = Probe.checkpointCounted(
          e.select(col("src").as("id"), lit(1).as("o"), lit(0).as("i"))
            .unionByName(e.select(col("dst").as("id"), lit(0).as("o"), lit(1).as("i")))
            .groupBy("id").agg(max("o").as("o"), max("i").as("i"))
            .filter(col("o") === 1 && col("i") === 1)
            .select("id"))
        dbg(s"trim iter keep=$keepCount")
        if (keepCount == remaining) trimming = false
        else {
          val singletons = active.join(keep, Seq("id"), "left_anti")
            .select(col("id"), col("id").as("scc_id"))
          out = Some(out.fold(singletons)(_ unionByName singletons).localCheckpoint())
          active = keep
          remaining = keepCount
          val (e1, nE1) = Probe.checkpointCounted(
            semiOn(semiOn(e, "src", keep, keepCount), "dst", keep, keepCount))
          e = e1
          eCount = nE1
        }
      }
      if (remaining > 0) {
        // 2. Forward min-(hash,id) coloring over the active subgraph.
        // Multi-hop messages only when the subgraph is near out-degree
        // 1 (condensation chains/rings) — on denser graphs a k-hop
        // stream is Σ deg^k rows and the jump alone must carry the
        // doubling (see minColoring).
        dbg("forward coloring start")
        val eSmall = Tuning.fits(eCount)
        val hops = if (eCount <= 2L * remaining) 3 else 1
        val colorOf = minColoring(active, e, remaining, eSmall, hops)
          .localCheckpoint()
        dbg("forward coloring done")
        // 3. Backward sweep, also as a doubling coloring: restrict to
        // within-class edges (any v →* root path stays in the class) and
        // propagate along the TRANSPOSED edges; bcol(v) is then the
        // order-minimal node v *reaches* inside its class, and the class
        // root u is the class minimum (color(w)=u forces (hash(u),u) ≤
        // (hash(w),w)), so bcol(v) = cid(v) ⇔ v reaches its root ⇔
        // v ∈ SCC(root). O(log diameter) steps where the old per-hop
        // backward BFS paid one join round per BFS level.
        val cB = Tuning.broadcastIfFits(colorOf, remaining)
        val eClass = e
          .join(cB.select(col("id").as("src"), col("cid").as("_cs")), Seq("src"))
          .join(cB.select(col("id").as("dst"), col("cid").as("_cd")), Seq("dst"))
          .filter(col("_cs") === col("_cd"))
          .select(col("dst").as("src"), col("src").as("dst"))
          .localCheckpoint()
        dbg("class edges built; backward coloring start")
        val bcol = minColoring(active, eClass, remaining, eSmall, hops)
        dbg("backward coloring done")
        val fc = colorOf.withColumnRenamed("cid", "_fc")
        val assigned = bcol
          .join(Tuning.broadcastIfFits(fc, remaining), Seq("id"))
          .filter(col("cid") === col("_fc"))
          .select(col("id"), col("cid").as("scc_id"))
          .localCheckpoint()
        // 4. Remove the resolved SCCs and iterate on the remainder.
        out = Some(out.fold(assigned)(_ unionByName assigned).localCheckpoint())
        val (nextActive, nN) = Probe.checkpointCounted(
          active.join(assigned, Seq("id"), "left_anti"))
        active = nextActive
        remaining = nN
      }
      if (remaining >= beforeRound)
        throw new IllegalStateException(
          "scc round made no progress — unreachable: the hash-minimal active node is always a color root")
    }
    // Canonicalize: public labels are the minimum member id, independent
    // of which member was the hash-order root (idempotent for trim
    // singletons). One aggregation + one join over |V| rows.
    val raw = out.getOrElse(nodes.select(col("id"), col("id").as("scc_id")).limit(0))
    val relabel0 = raw.groupBy("scc_id").agg(min("id").as("_lbl"))
    // |relabel| ≤ |V|; broadcast while the node set is driver-sized
    // (count already observed on the initial checkpoint — no extra job).
    val relabel = Tuning.broadcastIfFits(relabel0, nTotal)
    raw.join(relabel, Seq("scc_id"))
      .select(col("id"), col("_lbl").as("scc_id"))
  }

  /** Exact SCC on the driver: iterative Tarjan over the (already
    * checkpointed) node and edge frames, labels canonicalized to each
    * SCC's minimum member id — the same public contract as the
    * distributed kernel. Nodes absent from every edge come out as
    * singleton SCCs, and edges with an endpoint outside `nodes` are
    * dropped by the [[LocalGraph.Within]] rule (the distributed kernel
    * semi-joins them away). Only called under the driver-size gate. */
  private def sccLocal(nodes: DataFrame, edges: DataFrame): DataFrame = {
    val spark = nodes.sparkSession
    val g = LocalGraph.load(Some(nodes), edges, LocalGraph.Within)
    val n = g.n
    val (off, nbr) = g.csr
    // Iterative Tarjan (explicit DFS stack — recursion would overflow
    // on long condensation chains)
    val index = Array.fill(n)(-1); val low = new Array[Int](n)
    val onStack = new Array[Boolean](n); val comp = Array.fill(n)(-1)
    val sccStack = new Array[Int](n); var sp = 0
    val dfsV = new Array[Int](n); val dfsE = new Array[Int](n)
    var counter = 0; var nComp = 0
    var root = 0
    while (root < n) {
      if (index(root) == -1) {
        var top = 0
        dfsV(0) = root; dfsE(0) = off(root)
        index(root) = counter; low(root) = counter; counter += 1
        sccStack(sp) = root; sp += 1; onStack(root) = true
        while (top >= 0) {
          val v = dfsV(top)
          if (dfsE(top) < off(v + 1)) {
            val w = nbr(dfsE(top)); dfsE(top) += 1
            if (index(w) == -1) {
              index(w) = counter; low(w) = counter; counter += 1
              sccStack(sp) = w; sp += 1; onStack(w) = true
              top += 1; dfsV(top) = w; dfsE(top) = off(w)
            } else if (onStack(w) && index(w) < low(v)) low(v) = index(w)
          } else {
            if (low(v) == index(v)) {
              var w = -1
              do {
                sp -= 1; w = sccStack(sp); onStack(w) = false; comp(w) = nComp
              } while (w != v)
              nComp += 1
            }
            top -= 1
            if (top >= 0) {
              val p = dfsV(top)
              if (low(v) < low(p)) low(p) = low(v)
            }
          }
        }
      }
      root += 1
    }
    // public labels: minimum member id per SCC
    val minId = Array.fill(nComp)(Long.MaxValue)
    var i = 0
    while (i < n) {
      if (g.id(i) < minId(comp(i))) minId(comp(i)) = g.id(i)
      i += 1
    }
    import spark.implicits._
    (0 until n).map(i => (g.id(i), minId(comp(i)))).toDF("id", "scc_id")
  }

  /** PageRank mirroring the reference exactly (pagerank.rs:9):
    * rank' = (1-d)/n + d·Σ_in rank/outdeg over the edge multiset
    * (multi-edges contribute once per edge), dangling mass dropped,
    * final sum-normalization. [[rankFixpoint]] with every edge at
    * weight 1 and the uniform teleport. Output: unrounded (id, rank). */
  def pageRank(nodes: DataFrame, edges: DataFrame, damping: Double,
               iterations: Int): DataFrame =
    rankFixpoint(nodes, edges.select("src", "dst"), None, None, damping,
      iterations)

  /** WEIGHTED PageRank — transition probability proportional to edge
    * weight (rank flows as rank(u)·w(u,v)/W(u), W(u) the out-weight
    * sum), the ranking a weighted interaction graph actually wants:
    * a 1000-lineitem trade lane should pull more rank than a 1-item
    * one. [[rankFixpoint]] over the `cnt` column with the uniform
    * teleport; a weight ≤ 0 is rejected. Output: unrounded (id, rank). */
  def weightedPageRank(nodes: DataFrame, wedges: DataFrame,
                       damping: Double, iterations: Int): DataFrame =
    rankFixpoint(nodes, wedges.select("src", "dst", "cnt"),
      Some(col("cnt").cast("double")), None, damping, iterations)

  /** Personalized PageRank (random walk with restart): the teleport
    * mass lands only on the `sources` set instead of uniformly —
    * rank' = (1−d)·1_{v∈S}/|S| + d·Σ_in rank/outdeg, started from the
    * uniform distribution over S, final sum-normalization. The
    * proximity ranking behind "related nodes" / seeded recommendation
    * queries (Jeh & Widom 2003 / Page et al.'s personalization
    * vector). [[rankFixpoint]] with every edge at weight 1 and the
    * restart-set teleport; at least one source must be in the node
    * set. Output: unrounded (id, rank). */
  def personalizedPageRank(nodes: DataFrame, edges: DataFrame,
                           sources: Seq[Long], damping: Double,
                           iterations: Int): DataFrame = {
    require(sources.nonEmpty, "personalized PageRank needs >= 1 source")
    rankFixpoint(nodes, edges.select("src", "dst"), None, Some(sources),
      damping, iterations)
  }

  private val NoSourceInNodes = "personalized PageRank: no source is in the node set"
  private val NonPositiveWeight = "PageRank: every edge weight must be > 0"

  /** The PageRank family's one fixpoint, over the edge multiset
    * `edges` with per-edge weight w = `weight` (a Column over `edges`;
    * None: every edge weighs 1.0, and the driver twin collects no
    * weight column) and the loop-invariant out-weight W(u) = Σ_v w(u,v):
    *
    * rank'(v) = base + tele(v) + d·Σ_{u→v} rank(u)·w(u,v)/W(u)
    *
    * dangling mass dropped, then one final sum-normalization.
    * `sources` picks the teleport and the start:
    *  - None: base = (1−d)/n (n = node rows), tele = 0, start 1/n on
    *    every id;
    *  - Some(S): base = 0, tele = (1−d)/|S| on the ids in S, start
    *    1/|S| on the ids in S.
    * IllegalArgumentException when no id of S is in the node set or a
    * weight is ≤ 0 (a zero out-weight divides by zero). With unit
    * weights rank·1.0/Σ1 is bitwise rank/outdeg, and adding the 0.0
    * tele (PageRank) or the 0.0 base (PPR) changes no bit, so each
    * wrapper keeps the operation order its `Oracles.*Sql` mirror
    * replays.
    *
    * Regime gate: the node set is counted first and the edges only
    * once it fits; when both fit ([[Tuning.fits]]) the packed driver
    * twin [[rankFixpointLocal]] runs — ten scheduler-floor iterations
    * on a driver-sized graph lose to one packed collect by ~7×
    * (measured 7.1 s → ~1 s at sf0.1). Past the gate the loop below is
    * the 100 TB path. Identical per-iteration arithmetic; float-sum
    * ORDER differs (so do Spark's own nondeterministic partial
    * aggregations), which the 8-dp oracle rounding and
    * ShuffleRegimeSpec's 1e-9 comparison absorb.
    *
    * Presence rule: every id carries an identity row each iteration,
    * so it always has a rank; an id outside the node set has a rank
    * only in an iteration that a contribution reaches it (it gets
    * `base` but never `tele`), and passes it on in the next one.
    *
    * Cadence: the rank lineage is cut every 3rd iteration, and the
    * last iteration's checkpoint observes the normalization sum, so it
    * materializes and totals in one job. */
  private def rankFixpoint(nodes: DataFrame, edges: DataFrame,
                           weight: Option[Column], sources: Option[Seq[Long]],
                           damping: Double, iterations: Int): DataFrame = {
    // Checkpoint the id set once: it is unioned into every iteration and
    // the parquet scan + projection would otherwise re-run per iteration.
    // The node count rides the checkpoint job (Dataset.observe).
    val (ids, nI) = Probe.checkpointCounted(nodes.select("id"))
    val n = nI.toDouble
    if (Tuning.fits(nI)) {
      val (eAll, nE) = Probe.checkpointCounted(edges)
      if (Tuning.fits(nE))
        return rankFixpointLocal(ids, eAll, weight, sources, n, damping,
          iterations)
    }
    val e = edges.select(col("src"), col("dst"),
      weight.getOrElse(lit(1.0)).as("w"))
    // The out-weight is loop-invariant: attach it to the edge table once,
    // so each iteration is one hash join + one map-side-combined
    // aggregation. The W table is |V|-bounded — broadcast it while
    // driver-sized so building eW streams the edge list instead of
    // shuffling it. While the rank table is driver-sized it broadcasts
    // into the per-iteration join, so the edge table streams in place
    // and pre-partitioning it would only add a full-edge shuffle
    // (measured +4 s at sf0.1). Past the broadcast threshold the join
    // becomes a shuffle join every iteration — THEN hash-partition the
    // checkpointed frame by src once (localCheckpoint preserves
    // outputPartitioning, rank is hash-partitioned by its groupBy), so
    // each iteration shuffles only the contribution groupBy, never the
    // edges. The weight check rides the same checkpoint job.
    val eW0 = e.join(Tuning.broadcastIfFits(
      e.groupBy(col("src").as("src")).agg(sum(col("w")).as("wsum")), nI),
      Seq("src"))
    val (eW, mW) = Probe.checkpointObserved(
      if (Tuning.fits(nI)) eW0 else eW0.repartition(col("src")),
      min(col("w")).as("w_min"))
    require(mW("w_min") == null || mW("w_min").asInstanceOf[Double] > 0,
      NonPositiveWeight)
    // teleport: a constant base on every group, or per-id identity rows
    // c = tele/d so the single aggregation d·Σc reproduces
    // tele + d·(contribution sum)
    val (base, identity, start, r0) = sources match {
      case None =>
        ((1.0 - damping) / n, ids.withColumn("c", lit(0.0)), ids, 1.0 / n)
      case Some(srcs) =>
        val s = srcs.size.toDouble
        val isSrc = col("id").isin(srcs: _*)
        (0.0, ids.select(col("id"), (when(isSrc, lit((1.0 - damping) / s))
            .otherwise(lit(0.0)) / lit(damping)).as("c")).localCheckpoint(),
          ids.filter(isSrc), 1.0 / s)
    }
    val (rank0, nStart) = Probe.checkpointCounted(start.withColumn("rank", lit(r0)))
    require(sources.isEmpty || nStart > 0, NoSourceInNodes)
    var rank = rank0
    var totalObs = Double.NaN
    for (i <- 1 to iterations) {
      // qualified aliases, not captured Columns: `rank` carries `eW` in
      // its lineage after the first un-checkpointed iteration, and
      // attribute references into it would be ambiguous
      val contribs = rank.as("r").join(eW.as("edg"), col("r.id") === col("edg.src"))
        .select(col("edg.dst").as("id"),
          (col("r.rank") * col("edg.w") / col("edg.wsum")).as("c"))
      // Dangling/unreached ids ride along as identity rows, so the new
      // rank is ONE map-side-combined aggregation — not a groupBy
      // followed by a left-outer join back onto the ids.
      rank = contribs.unionByName(identity).groupBy("id").agg(
        (lit(base) + lit(damping) * sum("c")).as("rank"))
      // lineage cut every few rounds is enough — a 3-iteration plan is
      // still flat, and skipping the eager materialization saves 2 jobs.
      if (i == iterations) {
        val (ck, mT) = Probe.checkpointObserved(rank, sum("rank").as("t"))
        rank = ck
        totalObs = mT("t").asInstanceOf[Double]
      // cadence measured: every-5 was +1 s at sf0.1 (a 5-iteration
      // lineage pays more in planning/codegen than the skipped
      // checkpoints save); every-3 stays the optimum
      } else if (i % 3 == 0) rank = rank.localCheckpoint()
    }
    val total =
      if (iterations >= 1) totalObs
      else rank.agg(sum("rank")).head().getDouble(0)
    rank.select(col("id"), (col("rank") / lit(total)).as("rank"))
  }

  /** [[rankFixpoint]] on the driver: the same formula, presence rule
    * and final normalization over the [[LocalGraph]] of (src, dst[, w]);
    * only called under the gate. */
  private def rankFixpointLocal(ids: DataFrame, edges: DataFrame,
                                weight: Option[Column],
                                sources: Option[Seq[Long]], n: Double,
                                damping: Double, iterations: Int): DataFrame = {
    val spark = ids.sparkSession
    val g = LocalGraph.load(Some(ids),
      edges.select(Seq(col("src"), col("dst")) ++ weight: _*), LocalGraph.Extend)
    val srcIx = g.src; val dstIx = g.dst
    val wArr = g.doubles.headOption.getOrElse(Array.fill(srcIx.length)(1.0))
    require(wArr.forall(_ > 0), NonPositiveWeight)
    val nIds = g.nIds
    val u = g.n
    val wsum = new Array[Double](u)
    var k = 0
    while (k < srcIx.length) { wsum(srcIx(k)) += wArr(k); k += 1 }
    var rank = new Array[Double](u)
    val inRank = new Array[Boolean](u) // has a rank row this iteration
    val tele = new Array[Double](u)
    val base = sources match {
      case None =>
        java.util.Arrays.fill(rank, 0, nIds, 1.0 / n)
        java.util.Arrays.fill(inRank, 0, nIds, true)
        (1.0 - damping) / n
      case Some(srcs) =>
        val s = srcs.size.toDouble
        srcs.foreach { v =>
          val i = g.ix(v)
          if (i >= 0 && i < nIds) {
            tele(i) = (1.0 - damping) / s; rank(i) = 1.0 / s; inRank(i) = true
          }
        }
        require(inRank.contains(true), NoSourceInNodes)
        0.0
    }
    var it = 0
    while (it < iterations) {
      val acc = new Array[Double](u)
      val hit = new Array[Boolean](u)
      k = 0
      while (k < srcIx.length) {
        val s = srcIx(k)
        if (inRank(s)) {
          acc(dstIx(k)) += rank(s) * wArr(k) / wsum(s); hit(dstIx(k)) = true
        }
        k += 1
      }
      val next = new Array[Double](u)
      var i = 0
      while (i < u) {
        val present = i < nIds || hit(i)
        if (present) next(i) = base + tele(i) + damping * acc(i)
        inRank(i) = present
        i += 1
      }
      rank = next
      it += 1
    }
    var total = 0.0
    var i = 0
    while (i < u) { if (inRank(i)) total += rank(i); i += 1 }
    import spark.implicits._
    (0 until u).filter(inRank(_))
      .map(i => (g.id(i), rank(i) / total)).toDF("id", "rank")
  }

  /** Synchronous label propagation (Raghavan et al. 2007) with the
    * deterministic min-label tie rule: every node starts as its own
    * label; each round it adopts the most frequent label among its
    * neighbors (ties → smallest label), keeping its current label only
    * when it has no neighbors. Fixed `iterations` rounds — the
    * deterministic variant an oracle can replay (asynchronous LPA is
    * schedule-dependent by construction). `symEdges` must be the
    * symmetric view of a simple graph.
    *
    * Per round: one hash join (labels onto the dst side), one
    * map-side-combined (node, label) count, and one argmax via
    * max(struct(cnt, -label)) — NO per-round window/sort. State is one
    * |V|-row label frame, re-checkpointed per round like every other
    * fixpoint here. Dual regime under the standard driver gate. */
  def labelPropagation(nodes: DataFrame, symEdges: DataFrame,
                       iterations: Int): DataFrame = {
    val (ids, nI) = Probe.checkpointCounted(nodes.select("id"))
    val (e, nE) = Probe.checkpointCounted(symEdges.select("src", "dst"))
    if (Tuning.fits(nI, nE))
      return lpaLocal(ids, e, iterations)
    var labels = ids.withColumn("label", col("id")).localCheckpoint()
    for (_ <- 1 to iterations) {
      // best = (max count, then min label) per node, via one struct max
      val best = e.as("e")
        .join(labels.as("l"), col("e.dst") === col("l.id"))
        .groupBy(col("e.src").as("id"), col("l.label").as("nl"))
        .agg(count(lit(1)).as("cnt"))
        .groupBy("id")
        .agg(max(struct(col("cnt"), (-col("nl")).as("negl"))).as("b"))
        .select(col("id"), (-col("b.negl")).as("newl"))
      labels = labels.as("l")
        .join(best.as("b"), Seq("id"), "left_outer")
        .select(col("id"), coalesce(col("b.newl"), col("l.label")).as("label"))
        .localCheckpoint()
    }
    labels
  }

  /** Driver-gated LPA twin: identical synchronous rounds over the CSR
    * — per node, count neighbor labels in a scratch map, pick
    * (max count, min label); isolated nodes keep their label. */
  private def lpaLocal(ids: DataFrame, e: DataFrame,
                       iterations: Int): DataFrame = {
    val spark = ids.sparkSession
    val g = LocalGraph.load(Some(ids), e, LocalGraph.Extend)
    val nIds = g.nIds
    val u = g.n
    val (off, nbr) = g.csr
    var label = Array.tabulate(u)(g.id)
    var it = 0
    while (it < iterations) {
      val next = java.util.Arrays.copyOf(label, u)
      val cnt = new java.util.HashMap[Long, Integer]()
      var v = 0
      while (v < nIds) { // only node-set members update (and are output)
        cnt.clear()
        var j = off(v)
        while (j < off(v + 1)) {
          // only LABELED neighbors vote — edge endpoints outside the
          // node set carry no label row, mirroring the distributed
          // inner join that drops them
          if (nbr(j) < nIds) {
            val l = label(nbr(j))
            val c = cnt.get(l)
            cnt.put(l, if (c eq null) 1 else c.intValue() + 1)
          }
          j += 1
        }
        if (!cnt.isEmpty) {
          var bestL = Long.MaxValue; var bestC = 0
          val itr = cnt.entrySet().iterator()
          while (itr.hasNext) {
            val en = itr.next()
            val c = en.getValue.intValue()
            if (c > bestC || (c == bestC && en.getKey < bestL)) {
              bestC = c; bestL = en.getKey
            }
          }
          next(v) = bestL
        }
        v += 1
      }
      label = next
      it += 1
    }
    import spark.implicits._
    (0 until nIds).map(i => (g.id(i), label(i))).toDF("id", "label")
  }

  /** Bond-percolation profile of a weighted graph: connected-component
    * structure after dropping edges at three weight thresholds (all
    * edges; above mean weight; above 2× mean) — "at what tie strength
    * does the network fall apart", the robustness screen next to
    * conductance. Thresholds are EXACT integer comparisons
    * (w·|E| > Σw·k ⟺ w > mean·k) so no float mean can flip a boundary
    * edge between engines. Node universe = endpoints of the UNfiltered
    * graph, so post-filter isolates count as singletons. Returns
    * (threshold, n_nodes, n_edges, n_components, giant_size,
    * giant_frac).
    *
    * Scale: inherits [[connectedComponents]]' dual regime (union-find
    * under the driver gate, hook+shortcut rounds past it) once per
    * threshold; everything else is one aggregate per threshold. */
  def percolation(wedges: DataFrame,
                  ks: Seq[(String, Int)] =
                    Seq(("all", 0), ("avg", 1), ("2avg", 2)),
                  maxIter: Int = 30): DataFrame = {
    val nodes = wedges.select(col("a").as("id"))
      .unionByName(wedges.select(col("b").as("id"))).distinct()
      .localCheckpoint()
    val nN = broadcast(nodes.agg(count(lit(1)).cast("long").as("n_nodes"))
      .localCheckpoint())
    val tw = broadcast(wedges
      .agg(sum("w").as("tw"), count(lit(1)).as("me")).localCheckpoint())
    ks.map { case (name, k) =>
      val es = wedges.crossJoin(tw)
        .filter(col("w") * col("me") > col("tw") * lit(k.toLong))
        .select("a", "b")
      val sym = es.select(col("a").as("src"), col("b").as("dst"))
        .unionByName(es.select(col("b").as("src"), col("a").as("dst")))
      val sizes = connectedComponents(nodes, sym, maxIter)
        .groupBy("component").agg(count(lit(1)).as("sz"))
      sizes.agg(count(lit(1)).cast("long").as("n_components"),
          max("sz").cast("long").as("giant_size"))
        .crossJoin(broadcast(
          es.agg(count(lit(1)).cast("long").as("n_edges"))))
        .crossJoin(nN)
        .select(lit(name).as("threshold"), col("n_nodes"), col("n_edges"),
          col("n_components"), col("giant_size"),
          round(col("giant_size").cast("double") / col("n_nodes"), 6)
            .as("giant_frac"))
    }.reduce(_ unionByName _).orderBy("threshold")
  }
}
