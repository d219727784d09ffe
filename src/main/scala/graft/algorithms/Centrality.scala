package graft.algorithms

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import scala.collection.mutable.ArrayBuffer

/** Centrality measures (reference: src/algorithms/centrality.rs). */
object Centrality {

  /** Degree centrality: (out+in)/(n-1), multi-edges counted per edge
    * (centrality.rs:6). Two map-side-combined aggregations + left joins. */
  def degreeCentrality(nodes: DataFrame, edges: DataFrame): DataFrame = {
    // The node count rides the id-set checkpoint (Dataset.observe), and
    // the two degree joins probe the checkpoint instead of re-running
    // the node scan — one job, consistent with every other kernel.
    val (ids, nN) = Probe.checkpointCounted(nodes.select("id"))
    val n = nN.toDouble
    val out = edges.groupBy(col("src").as("id")).agg(count(lit(1)).as("od"))
    val in = edges.groupBy(col("dst").as("id")).agg(count(lit(1)).as("idg"))
    ids
      .join(out, Seq("id"), "left_outer")
      .join(in, Seq("id"), "left_outer")
      .select(col("id"),
        ((coalesce(col("od"), lit(0L)) + coalesce(col("idg"), lit(0L))) /
          lit(n - 1.0)).as("centrality"))
  }

  /** Betweenness centrality by level-synchronous Brandes, all sources
    * simultaneously: forward pass accumulates shortest-path counts σ per
    * (source, node) level by level; backward pass folds dependencies
    * δ(v) = Σ_succ σ(v)/σ(w)·(1+δ(w)) from the deepest level up.
    * Normalized by (n-1)(n-2) over ordered pairs, directed edges — the
    * contract of the reference's betweenness_centrality (centrality.rs:33;
    * the reference follows one arbitrary parent tree per source, which is
    * iteration-order-dependent — this computes the standard all-paths
    * definition, identical on graphs with unique shortest paths).
    *
    * State is (s,v)-keyed: O(|sources|·reach) rows per level, partitioned
    * on the join key throughout. Exact mode (all sources) is meant for
    * label-bounded subgraphs; at data scale use [[betweennessSampled]],
    * which bounds state at O(k·n). */
  def betweenness(nodes: DataFrame, edges: DataFrame, maxDepth: Int): DataFrame =
    brandes(nodes, edges, maxDepth, None)

  /** Brandes estimator over k deterministic hash-picked sources (the k
    * nodes with the smallest shared-md5 hash60 of their id — reproducible
    * in any engine): E[bc] is the exact value; contributions are scaled
    * by n/k (Brandes–Pich sampling). Exact mode is the k ≥ n case. */
  def betweennessSampled(nodes: DataFrame, edges: DataFrame, maxDepth: Int,
                         k: Int): DataFrame =
    brandes(nodes, edges, maxDepth, Some(k))

  private def brandes(nodes: DataFrame, edges: DataFrame, maxDepth: Int,
                      sampleK: Option[Int]): DataFrame = {
    // One materialization of the (usually label-filtered) edge view; the
    // per-level joins then probe the checkpoint instead of re-running the
    // upstream scan+filter each level. The node count rides the id-set
    // checkpoint (Dataset.observe), which the source pick and final
    // left-outer reuse.
    val (e, nEc) = Probe.checkpointCounted(edges.select("src", "dst"))
    val (idsCk, nN) = Probe.checkpointCounted(nodes.select("id"))
    val n = nN.toDouble
    val (sources, scale) = sampleK match {
      case None => (idsCk, 1.0)
      case Some(k) =>
        val (srcs, nS) = Probe.checkpointCounted(
          idsCk
            .orderBy(graft.pipeline.TextOps.hash60(col("id").cast("string"), "bc:").asc,
              col("id").asc)
            .limit(k))
        (srcs, n / nS.toDouble)
    }
    // Dual regime: the (s,v)-keyed level frames cost two scheduler-floor
    // joins per BFS level each way, so while nodes AND edges fit the
    // driver gate, run per-source Brandes over a packed edge collect — the
    // same shortest-path DAG sums (σ is an exact integer in a double; δ
    // folds differ only in float add ORDER, which the oracle rounding
    // absorbs like every float aggregate). Past the gate the level joins
    // below are the 100 TB path.
    if (Tuning.fits(nN, nEc))
      return brandesLocal(idsCk, e, sources, scale, maxDepth, n)
    // Emptiness probes ride the level checkpoints (Dataset.observe) —
    // one job per BFS level, no separate isEmpty scans.
    val (f0, n0) = Probe.checkpointCounted(
      sources.select(col("id").as("s"), col("id").as("v"))
        .withColumn("sigma", lit(1.0)))
    var frontier = f0
    var frontierCount = n0
    var visited = frontier.select("s", "v")
    val levels = ArrayBuffer(frontier)
    var d = 0
    while (d < maxDepth && frontierCount > 0) {
      d += 1
      val (f, nF) = Probe.checkpointCounted(
        frontier.join(e, frontier("v") === e("src"))
          .select(col("s"), e("dst").as("v"), col("sigma"))
          .groupBy("s", "v").agg(sum("sigma").as("sigma"))
          .join(visited, Seq("s", "v"), "left_anti"))
      frontier = f
      frontierCount = nF
      if (frontierCount > 0) {
        visited = visited.unionByName(frontier.select("s", "v")).localCheckpoint()
        levels += frontier
      }
    }
    // Backward dependency accumulation. Messages are generated by
    // expanding the *predecessor* level through its out-edges and then
    // joining the deeper level on (source, target) — same inner-join
    // result as expanding the deeper level backward, but the
    // intermediate is bounded by |level|·outdeg instead of fanning every
    // (s, v) row out to all of v's in-neighbors regardless of source
    // (which on hub nodes blows up to |level|·indeg rows that the final
    // per-source join would discard).
    var delta: DataFrame = null // (s, v, delta) at the level being folded
    val deltas = ArrayBuffer.empty[DataFrame]
    for (lvl <- levels.length - 1 to 1 by -1) {
      val wl =
        if (delta == null) levels(lvl).withColumn("delta", lit(0.0))
        else levels(lvl).join(delta, Seq("s", "v"), "left_outer")
          .select(col("s"), col("v"), col("sigma"),
            coalesce(col("delta"), lit(0.0)).as("delta"))
      val prevExp = levels(lvl - 1).select(col("s"), col("v"))
        .join(e, col("v") === e("src"))
        .select(col("s"), col("v"), e("dst").as("w"))
      val msgs = prevExp.join(
          wl.select(col("s"), col("v").as("w"),
            ((lit(1.0) + col("delta")) / col("sigma")).as("m")),
          Seq("s", "w"))
        .groupBy("s", "v").agg(sum("m").as("msum"))
      delta = levels(lvl - 1).join(msgs, Seq("s", "v"), "inner")
        .select(col("s"), col("v"), (col("sigma") * col("msum")).as("delta"))
        .localCheckpoint()
      deltas += delta
    }
    val norm = (n - 1.0) * (n - 2.0)
    val raw =
      if (deltas.isEmpty) idsCk.select(col("id"), lit(0.0).as("bc"))
      else deltas.reduce(_ unionByName _)
        .filter(col("v") =!= col("s"))
        .groupBy(col("v").as("id")).agg(sum("delta").as("d"))
        .select(col("id"), (lit(scale) * col("d") / lit(norm)).as("bc"))
    idsCk.join(raw, Seq("id"), "left_outer")
      .select(col("id"), coalesce(col("bc"), lit(0.0)).as("bc"))
  }

  /** Per-source Brandes on the driver: forward BFS (depth-capped like
    * the distributed levels) counting σ over the shortest-path DAG —
    * multi-edges contribute once per edge, exactly like the per-edge
    * level join — then the standard reverse-order δ fold. Nodes outside
    * every shortest path come out 0.0 via the same id-universe join.
    * Only called under the driver-size gate. */
  private def brandesLocal(idsCk: DataFrame, e: DataFrame, sources: DataFrame,
                           scale: Double, maxDepth: Int, n: Double): DataFrame = {
    val spark = idsCk.sparkSession
    val g = LocalGraph.load(Some(idsCk), e, LocalGraph.Extend)
    val Array(srcArr) = LocalGraph.packed(sources.select(col("id").cast("long")), 1)
    val u = g.n
    val (off, nbr) = g.csr
    val bc = new Array[Double](u)
    val dist = Array.fill(u)(-1)
    val sigma = new Array[Double](u)
    val delta = new Array[Double](u)
    val order = new Array[Int](u)
    srcArr.foreach { sid =>
      val s = g.ix(sid)
      if (s >= 0) {
        java.util.Arrays.fill(dist, -1)
        var len = 0
        dist(s) = 0; sigma(s) = 1.0; delta(s) = 0.0
        order(0) = s; len = 1
        var head = 0
        while (head < len) {
          val v = order(head); head += 1
          if (dist(v) < maxDepth) {
            var j = off(v)
            while (j < off(v + 1)) {
              val w = nbr(j)
              if (dist(w) < 0) {
                dist(w) = dist(v) + 1; sigma(w) = 0.0; delta(w) = 0.0
                order(len) = w; len += 1
              }
              if (dist(w) == dist(v) + 1) sigma(w) += sigma(v)
              j += 1
            }
          }
        }
        // δ fold in reverse BFS order over out-edges of v (v → w on the
        // DAG ⇔ dist(w) = dist(v)+1): matches the distributed
        // level-by-level message sum exactly.
        var q = len - 1
        while (q >= 0) {
          val v = order(q); q -= 1
          var j = off(v)
          while (j < off(v + 1)) {
            val w = nbr(j)
            if (dist(w) == dist(v) + 1)
              delta(v) += sigma(v) / sigma(w) * (1.0 + delta(w))
            j += 1
          }
          if (v != s) bc(v) += delta(v)
        }
      }
    }
    val norm = (n - 1.0) * (n - 2.0)
    import spark.implicits._
    g.ids.toSeq.map(id => (id, scale * bc(g.ix(id)) / norm)).toDF("id", "bc")
  }

  /** Closeness + harmonic centrality by multi-source level-synchronous
    * BFS over out-edges — all sources at once, the same (s, v)-keyed
    * frontier frame the Brandes forward pass runs, so per level it is
    * one join + one distinct-style aggregation + one anti-join,
    * partitioned on (s, v) throughout. Per node s:
    * n_reach = |{v ≠ s reachable}|, closeness = n_reach / Σ dist(s,v)
    * (0.0 when nothing is reached), harmonic = Σ 1/dist(s,v) — the
    * standard definitions (Sabidussi 1966; Marchiori–Latora harmonic),
    * which unlike closeness stays meaningful on disconnected graphs.
    *
    * Exact mode (all nodes as sources) is meant for label-bounded
    * subgraphs like the 25-node trade graph — O(n · reach) state per
    * level. At data scale pass `sources` (e.g. a hash-picked sample,
    * as betweennessSampled does): state drops to O(k · reach) and the
    * per-source values are still exact for those sources. */
  def closeness(nodes: DataFrame, edges: DataFrame, maxDepth: Int,
                sources: Option[DataFrame] = None): DataFrame = {
    val (e, nE) = Probe.checkpointCounted(edges.select("src", "dst").distinct())
    val (idsCk, nN) = Probe.checkpointCounted(nodes.select("id"))
    val srcs = sources.fold(idsCk)(s => Probe.checkpointCounted(s.select("id"))._1)
    // Dual regime: under the gate, per-source BFS over the packed CSR replays
    // the exact level semantics; past it the (s, v) level joins below are
    // the cluster path.
    if (Tuning.fits(nN, nE))
      return closenessLocal(idsCk, e, srcs, maxDepth)
    val levels = bfsLevelFrames(srcs, e, maxDepth)
    val agg =
      if (levels.isEmpty)
        srcs.select(col("id"), lit(0L).as("n_reach"),
          lit(0.0).as("closeness"), lit(0.0).as("harmonic"))
      else levels.reduce(_ unionByName _)
        .groupBy(col("s").as("id"))
        .agg(count(lit(1)).as("n_reach"), sum("dist").as("sd"),
          sum(lit(1.0) / col("dist")).as("h"))
        .select(col("id"), col("n_reach").cast("long").as("n_reach"),
          round(col("n_reach") / col("sd"), 6).as("closeness"),
          round(col("h"), 6).as("harmonic"))
    srcs.join(agg, Seq("id"), "left_outer")
      .select(col("id"), coalesce(col("n_reach"), lit(0L)).as("n_reach"),
        coalesce(col("closeness"), lit(0.0)).as("closeness"),
        coalesce(col("harmonic"), lit(0.0)).as("harmonic"))
  }

  /** Multi-source level-synchronous BFS: the (s, v, dist ≥ 1) level
    * frames, shared by [[closeness]] and [[eccentricity]] — per level
    * one join + one distinct + one anti-join, partitioned on (s, v)
    * throughout; empty when nothing is reachable. */
  private def bfsLevelFrames(srcs: DataFrame, e: DataFrame,
                             maxDepth: Int): Seq[DataFrame] = {
    val (f0, n0) = Probe.checkpointCounted(srcs.select(col("id").as("s"), col("id").as("v")))
    var frontier = f0
    var frontierCount = n0
    var visited = frontier
    val levels = ArrayBuffer.empty[DataFrame]
    var d = 0
    while (d < maxDepth && frontierCount > 0) {
      d += 1
      val (f, nF) = Probe.checkpointCounted(
        frontier.join(e, frontier("v") === e("src"))
          .select(col("s"), e("dst").as("v")).distinct()
          .join(visited, Seq("s", "v"), "left_anti"))
      frontier = f
      frontierCount = nF
      if (frontierCount > 0) {
        visited = visited.unionByName(frontier).localCheckpoint()
        levels += frontier.withColumn("dist", lit(d.toLong))
      }
    }
    levels.toSeq
  }

  /** Eccentricity per node — max BFS distance over the REACHABLE set
    * (0 when nothing is reachable; the convention that stays
    * meaningful on disconnected graphs, like harmonic centrality) —
    * plus reach count so radius/diameter reports can filter to the
    * strongly-reachable core. Same dual-regime multi-source BFS as
    * [[closeness]]; only the final aggregate differs (MAX instead of
    * the closeness sums). */
  def eccentricity(nodes: DataFrame, edges: DataFrame, maxDepth: Int,
                   sources: Option[DataFrame] = None): DataFrame = {
    val (e, nE) = Probe.checkpointCounted(edges.select("src", "dst").distinct())
    val (idsCk, nN) = Probe.checkpointCounted(nodes.select("id"))
    val srcs = sources.fold(idsCk)(s => Probe.checkpointCounted(s.select("id"))._1)
    if (Tuning.fits(nN, nE))
      return eccLocal(idsCk, e, srcs, maxDepth)
    val levels = bfsLevelFrames(srcs, e, maxDepth)
    val agg =
      if (levels.isEmpty)
        srcs.select(col("id"), lit(0L).as("ecc"), lit(0L).as("n_reach"))
      else levels.reduce(_ unionByName _)
        .groupBy(col("s").as("id"))
        .agg(max("dist").cast("long").as("ecc"),
          count(lit(1)).cast("long").as("n_reach"))
    srcs.join(agg, Seq("id"), "left_outer")
      .select(col("id"), coalesce(col("ecc"), lit(0L)).as("ecc"),
        coalesce(col("n_reach"), lit(0L)).as("n_reach"))
      .orderBy("id")
  }

  /** Driver-gated eccentricity twin: the last node a BFS reaches is
    * the farthest. */
  private def eccLocal(idsCk: DataFrame, e: DataFrame,
                       sources: DataFrame, maxDepth: Int): DataFrame = {
    val spark = idsCk.sparkSession
    import spark.implicits._
    bfsFromEachLocal(idsCk, e, sources, maxDepth) { (sid, dist, order, r) =>
      (sid, if (r == 0) 0L else dist(order(r)).toLong, r.toLong)
    }.sortBy(_._1).toDF("id", "ecc", "n_reach")
  }

  /** Per-source depth-capped BFS over the driver CSR — the twin of
    * [[bfsLevelFrames]] that [[closenessLocal]] and [[eccLocal]] share.
    * For each source id `sid`, `row(sid, dist, order, r)` sees the `r`
    * nodes it reaches as `order(1 to r)` in BFS order, `dist` hops
    * away; a source outside the graph reaches nothing. */
  private def bfsFromEachLocal[R](idsCk: DataFrame, e: DataFrame,
                                  sources: DataFrame, maxDepth: Int)(
      row: (Long, Array[Int], Array[Int], Int) => R): Seq[R] = {
    val g = LocalGraph.load(Some(idsCk), e, LocalGraph.Extend)
    val Array(srcArr) = LocalGraph.packed(sources.select(col("id").cast("long")), 1)
    val (off, nbr) = g.csr
    val dist = new Array[Int](g.n)
    val order = new Array[Int](g.n)
    srcArr.toSeq.map { sid =>
      val s = g.ix(sid)
      var len = 0
      if (s >= 0) {
        java.util.Arrays.fill(dist, -1)
        dist(s) = 0; order(0) = s
        var head = 0; len = 1
        while (head < len) {
          val v = order(head); head += 1
          if (dist(v) < maxDepth) {
            var j = off(v)
            while (j < off(v + 1)) {
              val w = nbr(j)
              if (dist(w) < 0) {
                dist(w) = dist(v) + 1
                order(len) = w; len += 1
              }
              j += 1
            }
          }
        }
      }
      row(sid, dist, order, math.max(len - 1, 0))
    }
  }

  /** One-row diameter/radius report derived from [[eccentricity]]:
    * diameter = max eccentricity, radius = min POSITIVE eccentricity
    * (the sink-node convention — ecc 0 means "reaches nothing", which
    * would make every graph with a sink radius-0), with the peripheral
    * (ecc = diameter), central (ecc = radius) and isolated (ecc = 0)
    * node counts. Directed semantics, reachable-set based, so it stays
    * meaningful on disconnected graphs.
    *
    * Scale: inherits eccentricity's dual-regime multi-source BFS; the
    * report itself is one global aggregate over the |V|-row ecc frame
    * plus one conditional re-aggregate against the broadcast 1-row
    * extremes — no extra BFS work. */
  def graphDiameter(nodes: DataFrame, edges: DataFrame, maxDepth: Int): DataFrame = {
    // |V|-row frame read twice (extremes, then the conditional counts)
    // — checkpoint so the BFS runs once.
    val ecc = eccentricity(nodes, edges, maxDepth).localCheckpoint()
    val ext = ecc.agg(
      max("ecc").as("diameter"),
      min(when(col("ecc") > 0, col("ecc"))).as("radius"),
      count(lit(1)).cast("long").as("n_nodes"))
    ecc.crossJoin(broadcast(ext))
      .groupBy("diameter", "radius", "n_nodes")
      .agg(
        sum(when(col("ecc") === col("diameter") && col("ecc") > 0, 1L)
          .otherwise(0L)).cast("long").as("n_peripheral"),
        sum(when(col("ecc") === col("radius"), 1L).otherwise(0L))
          .cast("long").as("n_central"),
        sum(when(col("ecc") === 0, 1L).otherwise(0L)).cast("long")
          .as("n_isolated"))
      .select(coalesce(col("diameter"), lit(0L)).as("diameter"),
        coalesce(col("radius"), lit(0L)).as("radius"),
        col("n_nodes"), col("n_peripheral"), col("n_central"),
        col("n_isolated"))
  }

  /** Driver-gated closeness twin: the reached nodes' hop sums. */
  private def closenessLocal(idsCk: DataFrame, e: DataFrame,
                             sources: DataFrame, maxDepth: Int): DataFrame = {
    val spark = idsCk.sparkSession
    import spark.implicits._
    bfsFromEachLocal(idsCk, e, sources, maxDepth) { (sid, dist, order, r) =>
      var sd = 0L; var h = 0.0
      var q = 1
      while (q <= r) { val d = dist(order(q)); sd += d; h += 1.0 / d; q += 1 }
      val cl = if (sd == 0L) 0.0 else r.toDouble / sd
      (sid, r.toLong, math.rint(cl * 1e6) / 1e6, math.rint(h * 1e6) / 1e6)
    }.toDF("id", "n_reach", "closeness", "harmonic")
  }

  /** HITS hubs & authorities (Kleinberg 1999), fixed iteration count,
    * L1 normalization each half-step — the mutually-recursive ranking
    * the reference's centrality family composes with PageRank. One
    * hash join + one map-side-combined aggregation per half-step,
    * identical plan shape to [[Community.pageRank]]'s iteration; the
    * normalizing sums ride each half-step's checkpoint job as observed
    * metrics (no separate aggregation jobs). Dual regime under the
    * standard driver gate. Output: (id, hub, auth) rounded 8 dp,
    * nodes outside every edge at 0.0. */
  def hits(nodes: DataFrame, edges: DataFrame, iterations: Int): DataFrame = {
    require(iterations >= 1, "HITS needs >= 1 iteration")
    val (e, nE) = Probe.checkpointCounted(edges.select("src", "dst"))
    val (idsCk, nN) = Probe.checkpointCounted(nodes.select("id"))
    val n = nN.toDouble
    if (Tuning.fits(nN, nE))
      return hitsLocal(idsCk, e, n, iterations)
    var hub = idsCk.withColumn("h", lit(1.0 / n)).localCheckpoint()
    var auth: DataFrame = null
    for (_ <- 1 to iterations) {
      val (aRaw, mA) = Probe.checkpointObserved(
        hub.as("h").join(e.as("e"), col("h.id") === col("e.src"))
          .groupBy(col("e.dst").as("id")).agg(sum("h.h").as("a")),
        sum("a").as("tot"))
      val aTot = mA("tot").asInstanceOf[Double]
      auth = aRaw.select(col("id"), (col("a") / lit(aTot)).as("a"))
      val (hRaw, mH) = Probe.checkpointObserved(
        auth.as("a").join(e.as("e"), col("a.id") === col("e.dst"))
          .groupBy(col("e.src").as("id")).agg(sum("a.a").as("h")),
        sum("h").as("tot"))
      val hTot = mH("tot").asInstanceOf[Double]
      hub = hRaw.select(col("id"), (col("h") / lit(hTot)).as("h"))
    }
    idsCk
      .join(hub, Seq("id"), "left_outer")
      .join(auth, Seq("id"), "left_outer")
      .select(col("id"), round(coalesce(col("h"), lit(0.0)), 8).as("hub"),
        round(coalesce(col("a"), lit(0.0)), 8).as("auth"))
  }

  /** Driver-gated HITS twin: identical half-step arithmetic over the
    * packed edge arrays (float-sum ORDER differs, absorbed by the 8-dp
    * rounding exactly as in the PageRank twin). */
  private def hitsLocal(idsCk: DataFrame, e: DataFrame, n: Double,
                        iterations: Int): DataFrame = {
    val spark = idsCk.sparkSession
    val g = LocalGraph.load(Some(idsCk), e, LocalGraph.Extend)
    val srcIx = g.src; val dstIx = g.dst
    val u = g.n
    val hub = new Array[Double](u); val auth = new Array[Double](u)
    java.util.Arrays.fill(hub, 0, g.nIds, 1.0 / n)
    val m = srcIx.length
    for (_ <- 1 to iterations) {
      java.util.Arrays.fill(auth, 0.0)
      var k = 0
      while (k < m) { auth(dstIx(k)) += hub(srcIx(k)); k += 1 }
      var tot = 0.0; var i = 0
      while (i < u) { tot += auth(i); i += 1 }
      if (tot > 0.0) { i = 0; while (i < u) { auth(i) /= tot; i += 1 } }
      java.util.Arrays.fill(hub, 0.0)
      k = 0
      while (k < m) { hub(srcIx(k)) += auth(dstIx(k)); k += 1 }
      tot = 0.0; i = 0
      while (i < u) { tot += hub(i); i += 1 }
      if (tot > 0.0) { i = 0; while (i < u) { hub(i) /= tot; i += 1 } }
    }
    import spark.implicits._
    g.ids.toSeq.map { id =>
      val i = g.ix(id)
      (id, math.rint(hub(i) * 1e8) / 1e8, math.rint(auth(i) * 1e8) / 1e8)
    }.toDF("id", "hub", "auth")
  }

  /** Katz centrality (Katz 1953): fixed-iteration truncation of
    * Σ_k α^k·(#length-k in-paths), via b ← 1 + α·Aᵀb from b = 1 —
    * influence that counts ALL in-paths with geometric damping, the
    * classic alternative to PageRank when out-degree normalization is
    * unwanted. α must stay below 1/λ_max for the series to converge;
    * the fixed-iteration form is well-defined for any α and is what
    * the oracle unrolls.
    *
    * Same dual regime as [[hits]]: one in-edge aggregation per
    * iteration (map-side-combined sum) past the gate; a packed driver
    * loop under it. */
  def katz(nodes: DataFrame, edges: DataFrame, iterations: Int,
           alpha: Double = 0.1): DataFrame = {
    require(iterations >= 1, "katz needs >= 1 iteration")
    val (e, nE) = Probe.checkpointCounted(edges.select("src", "dst"))
    val (idsCk, nN) = Probe.checkpointCounted(nodes.select("id"))
    if (Tuning.fits(nN, nE))
      return katzLocal(idsCk, e, iterations, alpha)
    var x = idsCk.withColumn("x", lit(1.0)).localCheckpoint()
    for (_ <- 1 to iterations) {
      val agg = x.as("x").join(e.as("e"), col("x.id") === col("e.src"))
        .groupBy(col("e.dst").as("id")).agg(sum("x.x").as("s"))
      x = idsCk.join(agg, Seq("id"), "left")
        .select(col("id"),
          (lit(1.0) + lit(alpha) * coalesce(col("s"), lit(0.0))).as("x"))
        .localCheckpoint()
    }
    x.select(col("id"), round(col("x"), 8).as("katz"))
  }

  /** Eigenvector centrality: power iteration x ← Aᵀx / ‖Aᵀx‖₂ from the
    * uniform vector — influence proportional to the influence of one's
    * in-neighbors, the PageRank-without-teleport member of the
    * centrality family (converges to the principal eigenvector on
    * aperiodic strongly-connected graphs; the fixed-iteration form is
    * what the oracle unrolls). Same dual regime and per-iteration plan
    * as [[katz]], plus the L2 normalizer riding the checkpoint job. */
  def eigenvector(nodes: DataFrame, edges: DataFrame,
                  iterations: Int): DataFrame = {
    require(iterations >= 1, "eigenvector needs >= 1 iteration")
    val (e, nE) = Probe.checkpointCounted(edges.select("src", "dst"))
    val (idsCk, nN) = Probe.checkpointCounted(nodes.select("id"))
    val n = nN.toDouble
    if (Tuning.fits(nN, nE))
      return eigenvectorLocal(idsCk, e, n, iterations)
    var x = idsCk.withColumn("x", lit(1.0 / n)).localCheckpoint()
    for (_ <- 1 to iterations) {
      val (raw, mX) = Probe.checkpointObserved(
        x.as("x").join(e.as("e"), col("x.id") === col("e.src"))
          .groupBy(col("e.dst").as("id")).agg(sum("x.x").as("v")),
        sum(col("v") * col("v")).as("ss"))
      val nrm = math.sqrt(mX("ss") match {
        case null      => 0.0
        case d: Double => d
      })
      x =
        if (nrm == 0.0) x // dead graph: keep the current vector
        else idsCk.join(raw, Seq("id"), "left")
          .select(col("id"),
            (coalesce(col("v"), lit(0.0)) / lit(nrm)).as("x"))
          .localCheckpoint()
    }
    x.select(col("id"), round(col("x"), 8).as("eig"))
  }

  private def eigenvectorLocal(idsCk: DataFrame, e: DataFrame, n: Double,
                               iterations: Int): DataFrame = {
    val spark = idsCk.sparkSession
    val g = LocalGraph.load(Some(idsCk), e, LocalGraph.Extend)
    val srcIx = g.src; val dstIx = g.dst
    val u = g.n
    var x = new Array[Double](u)
    java.util.Arrays.fill(x, 0, g.nIds, 1.0 / n)
    var i = 0
    val m = srcIx.length
    for (_ <- 1 to iterations) {
      val nx = new Array[Double](u)
      var k = 0
      while (k < m) { nx(dstIx(k)) += x(srcIx(k)); k += 1 }
      var ss = 0.0
      i = 0
      while (i < u) { ss += nx(i) * nx(i); i += 1 }
      val nrm = math.sqrt(ss)
      if (nrm != 0.0) {
        i = 0
        while (i < u) { nx(i) /= nrm; i += 1 }
        // mirror the distributed left-join restriction: only node ids
        // carry a rank row into the next iteration (edge-only
        // endpoints contribute to the normalizer, then drop)
        java.util.Arrays.fill(nx, g.nIds, u, 0.0)
        x = nx
      }
    }
    import spark.implicits._
    g.ids.toSeq.map(id => (id, math.rint(x(g.ix(id)) * 1e8) / 1e8))
      .toDF("id", "eig")
  }

  private def katzLocal(idsCk: DataFrame, e: DataFrame, iterations: Int,
                        alpha: Double): DataFrame = {
    val spark = idsCk.sparkSession
    val g = LocalGraph.load(Some(idsCk), e, LocalGraph.Extend)
    val srcIx = g.src; val dstIx = g.dst
    val u = g.n
    // The distributed loop carries x only on node ids (idsCk left join
    // each iteration), so edges whose src is an edge-only endpoint
    // contribute NOTHING there — mirror that here by guarding the
    // accumulate, or the regimes diverge whenever edges reference ids
    // outside `nodes` (cf. eigenvectorLocal's zeroing).
    val nUniv = g.nIds
    var x = Array.fill(u)(1.0)
    val m = srcIx.length
    for (_ <- 1 to iterations) {
      val nx = new Array[Double](u)
      var k = 0
      while (k < m) {
        if (srcIx(k) < nUniv) nx(dstIx(k)) += x(srcIx(k))
        k += 1
      }
      var i = 0
      while (i < u) { nx(i) = 1.0 + alpha * nx(i); i += 1 }
      x = nx
    }
    import spark.implicits._
    g.ids.toSeq.map(id => (id, math.rint(x(g.ix(id)) * 1e8) / 1e8))
      .toDF("id", "katz")
  }
}
