package graft.algorithms

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Frontier-expansion traversals, the Spark re-expression of the
  * reference's queue-based BFS/Dijkstra family (reference:
  * src/algorithms/traversal.rs:61 bfs, :402 reachable_nodes;
  * src/algorithms/shortest_path.rs:326 bfs_shortest_path, :405 dijkstra;
  * src/algorithms/astar.rs).
  *
  * Each level is one hash join frontier⋈edges (edges pre-partitioned by
  * src, so chained levels reuse the partitioning) plus an anti-join or
  * min-aggregate roll-up. `localCheckpoint` after every level cuts the
  * lineage so deep traversals keep flat plans; on a real cluster swap it
  * for `checkpoint` on reliable storage.
  */
object Traversal {

  /** Multi-source BFS: (id, dist BIGINT) for every node within `maxDepth`
    * hops of a seed, dist = hop count of the first (shortest) visit. */
  def bfsDistances(edges: DataFrame, seeds: DataFrame, maxDepth: Int): DataFrame = {
    // Edge count rides the checkpoint for the regime gate (the edge
    // view is joined every level anyway, so materializing it once is
    // also the right distributed plan).
    val (e, nE) = Probe.checkpointCounted(edges.select("src", "dst"))
    // Frontier emptiness rides each level's checkpoint job
    // (Dataset.observe) — one job per level, no separate isEmpty scan.
    val (v0, n0) = Probe.checkpointCounted(
      seeds.select(col("id")).distinct().withColumn("dist", lit(0L)))
    // Dual regime: level-synchronous BFS over integer hop counts is
    // bit-free of float concerns, so the packed driver BFS is exactly the
    // distributed fixpoint without the per-level scheduler floor. Past the
    // gate the frontier joins below are the 100 TB path.
    if (Tuning.fits(nE, n0))
      return bfsLocal(e, v0.select("id"), maxDepth)
    var visited = v0
    var frontier = visited
    var frontierCount = n0
    var depth = 0
    while (depth < maxDepth && frontierCount > 0) {
      depth += 1
      val (f, nF) = Probe.checkpointCounted(
        frontier.select("id")
          .join(e, col("id") === e("src"))
          .select(e("dst").as("id")).distinct()
          .join(visited, Seq("id"), "left_anti")
          .withColumn("dist", lit(depth.toLong)))
      frontier = f
      frontierCount = nF
      visited = visited.unionByName(frontier).localCheckpoint()
    }
    visited
  }

  /** DFS discovery order from `root`: (id, visit_idx BIGINT), neighbors
    * explored in ascending id (the reference's dfs, traversal.rs:99,
    * with its HashMap iteration order made deterministic as the
    * smallest-neighbor-first tie rule). DFS order is inherently
    * sequential — every step depends on the entire visited set so far —
    * so there is no frontier re-expression: the kernel ships the
    * subgraph's edge list into ONE executor task (mapPartitions over a
    * 1-partition frame; executor-side, not a driver collect) and runs
    * an explicit-stack DFS there. A bounded-subgraph operation by
    * contract (mirroring the reference's single-machine dfs); `maxEdges`
    * guards the boundedness assumption. Distributed reachability is
    * [[bfsDistances]]. */
  def dfsOrder(edges: DataFrame, root: Long, maxEdges: Long = 5000000L): DataFrame = {
    val ss = edges.sparkSession
    import ss.implicits._
    edges.select(col("src").cast("long"), col("dst").cast("long"))
      .as[(Long, Long)]
      .repartition(1)
      .mapPartitions { it =>
        val adj = new scala.collection.mutable.HashMap[Long, scala.collection.mutable.ArrayBuffer[Long]]
        var m = 0L
        it.foreach { case (s, d) =>
          adj.getOrElseUpdate(s, new scala.collection.mutable.ArrayBuffer[Long]) += d
          m += 1
          if (m > maxEdges) throw new IllegalStateException(
            s"dfsOrder: subgraph exceeds $maxEdges edges — DFS visit order is a bounded-subgraph operation")
        }
        val sortedAdj = adj.map { case (v, ns) => v -> ns.distinct.sorted }
        val visited = new scala.collection.mutable.HashSet[Long]
        val order = new scala.collection.mutable.ArrayBuffer[(Long, Long)]
        val stack = new scala.collection.mutable.ArrayBuffer[Iterator[Long]]
        def push(v: Long): Unit = {
          order += (v -> order.length.toLong)
          visited += v
          stack += sortedAdj.getOrElse(v, Seq.empty[Long]).iterator
        }
        push(root)
        while (stack.nonEmpty) {
          val top = stack.last
          if (top.hasNext) {
            val w = top.next()
            if (!visited(w)) push(w)
          } else stack.remove(stack.length - 1)
        }
        order.iterator
      }
      .toDF("id", "visit_idx")
  }

  /** A* heuristic-guided weighted src→dst search (reference astar.rs:82;
    * the :219 euclidean / :251 manhattan wrappers read (x, y) node
    * coordinates — passed here as a `coords(id, x, y)` frame since the
    * TPC-H testdata carries no geometry). Spark-native re-expression of
    * the priority queue: Bellman-Ford relaxation with A*-style pruning —
    * once a cost to dst is known, any state whose admissible lower bound
    * g(v) + h(v) exceeds it can never improve the answer and is dropped
    * from the frontier, which is exactly the set of states A* would never
    * pop. With an admissible heuristic the result equals Dijkstra's.
    *
    * heuristic ∈ {euclidean, manhattan, zero}; parent pointers are
    * tie-broken to the smallest (g, parent id), so the returned path is
    * deterministic. Output: one row (path "a->b->…", cost) — empty if
    * dst is unreachable within maxIterations relaxations. */
  def aStar(wedges: DataFrame, coords: DataFrame, srcId: Long, dstId: Long,
            maxIterations: Int, heuristic: String = "euclidean"): DataFrame = {
    val ss = wedges.sparkSession
    // self-loops can never shorten a path but a ZERO-weight one would
    // win the (g, parent) tie-break and install a node as its own
    // parent, cycling the path unwind — excluded here and in the
    // oracle's `we` CTE identically
    // Edge/heuristic counts ride their checkpoints for the regime gate.
    val (e, nE) = Probe.checkpointCounted(
      wedges.select("src", "dst", "weight").filter(col("src") =!= col("dst")))
    def emptyOut = ss.range(0).select(lit("").as("path"), lit(0.0).as("cost"))
    if (srcId == dstId)
      return ss.range(1).select(lit(srcId.toString).as("path"), lit(0.0).as("cost"))
    val dstC = coords.filter(col("id") === dstId)
      .select(col("x").as("dx"), col("y").as("dy"))
    val hCol = heuristic match {
      case "euclidean" => sqrt(pow(col("x") - col("dx"), 2) + pow(col("y") - col("dy"), 2))
      case "manhattan" => abs(col("x") - col("dx")) + abs(col("y") - col("dy"))
      case "zero"      => lit(0.0)
      case other => throw new IllegalArgumentException(s"unknown heuristic '$other'")
    }
    val (h, nH) = Probe.checkpointCounted(
      coords.crossJoin(broadcast(dstC)).select(col("id"), hCol.as("h")))
    // Dual regime: each distributed relaxation round costs a scheduler
    // floor and the round count is the pruned-frontier settling depth, so
    // while edges AND the heuristic table fit the driver gate, run the
    // identical relaxation loop (same candidate set, same (g, parent)
    // merge, same prune-against-best, same stop signature) over packed
    // collects. Past the gate the joins below are the 100 TB path;
    // AlgorithmsSpec pins both regimes against Dijkstra on every
    // heuristic.
    if (Tuning.fits(nE, nH))
      return aStarLocal(e, h, srcId, dstId, maxIterations)
    var g = ss.range(1)
      .select(lit(srcId).as("id"), lit(0.0).as("g"), lit(-1L).as("parent"))
      .localCheckpoint()
    var best = Double.PositiveInfinity
    var prev: (Long, Double) = null
    var iter = 0
    var stable = false
    while (iter < maxIterations && !stable) {
      iter += 1
      val relaxed = g.join(e, g("id") === e("src"))
        .select(e("dst").as("id"), (col("g") + col("weight")).as("g"),
          e("src").as("parent"))
      val merged = g.unionByName(relaxed)
        .groupBy("id")
        .agg(min_by(struct(col("g"), col("parent")),
          struct(col("g"), col("parent"))).as("s"))
        .select(col("id"), col("s.g").as("g"), col("s.parent").as("parent"))
      // Both probes ride their checkpoint jobs (Dataset.observe): the
      // dst tentative cost on the merge, the convergence signature on
      // the pruned frontier — 2 jobs per relaxation instead of 4.
      val (withH, mW) = Probe.checkpointObserved(
        merged.join(h, Seq("id"), "left_outer"),
        min(when(col("id") === dstId, col("g"))).as("bg"))
      if (mW("bg") != null) best = mW("bg").asInstanceOf[Double]
      val (gCk, mG) = Probe.checkpointObserved(
        withH
          .filter(col("g") + coalesce(col("h"), lit(0.0)) <= lit(best))
          .drop("h"),
        count(lit(1)).as("n"), sum("g").as("s"))
      g = gCk
      val sig = (mG("n").asInstanceOf[Long],
        Option(mG("s")).fold(0.0)(_.asInstanceOf[Double]))
      stable = prev != null && prev == sig
      prev = sig
    }
    if (best.isInfinity) return emptyOut
    // Unwind the deterministic parent chain dst → src (≤ |path| 1-row
    // joins; bounded by maxIterations).
    var p = ss.range(1).select(lit(dstId).as("head"), array(lit(dstId)).as("nodes"))
    var hops = 0
    var atSrc = false
    while (!atSrc && hops < maxIterations + 1) {
      hops += 1
      val (pCk, mP) = Probe.checkpointObserved(
        p.join(g.select(col("id").as("head"), col("parent")), Seq("head"))
          .select(col("parent").as("head"),
            concat(array(col("parent")), col("nodes")).as("nodes")),
        count(when(col("head") === srcId, 1)).as("at"))
      p = pCk
      atSrc = mP("at").asInstanceOf[Long] > 0L
    }
    p.select(
      concat_ws("->", expr("transform(nodes, x -> CAST(x AS STRING))")).as("path"),
      lit(best).as("cost"))
  }

  /** The same A*-pruned relaxation loop on the driver: per round,
    * relax every edge whose source holds a state, merge by minimal
    * (g, parent), refresh the dst bound, prune states whose admissible
    * lower bound exceeds it, and stop on a repeated (count, Σg)
    * signature — arithmetic-identical to the distributed rounds, so
    * the converged result is bit-equal. Only called under the
    * driver-size gate. */
  private def aStarLocal(e: DataFrame, h: DataFrame, srcId: Long, dstId: Long,
                         maxIterations: Int): DataFrame = {
    val ss = e.sparkSession
    val (Array(srcA, dstA), Array(wA)) = LocalGraph.packedLD(e.select(
      col("src").cast("long"), col("dst").cast("long"),
      col("weight").cast("double")), 2, 1)
    val (Array(hIds), Array(hVals)) = LocalGraph.packedLD(
      h.select(col("id").cast("long"), col("h").cast("double")), 1, 1)
    val hOf = new java.util.HashMap[Long, java.lang.Double](hIds.length * 2)
    var i = 0
    while (i < hIds.length) { hOf.put(hIds(i), hVals(i)); i += 1 }
    var g = new java.util.HashMap[Long, (Double, Long)]()
    g.put(srcId, (0.0, -1L))
    var best = Double.PositiveInfinity
    var prev: (Long, Double) = null
    var iter = 0
    var stable = false
    while (iter < maxIterations && !stable) {
      iter += 1
      val merged = new java.util.HashMap[Long, (Double, Long)](g)
      var k = 0
      while (k < srcA.length) {
        val gs = g.get(srcA(k))
        if (gs != null) {
          val cg = gs._1 + wA(k)
          val old = merged.get(dstA(k))
          if (old == null || cg < old._1 || (cg == old._1 && srcA(k) < old._2))
            merged.put(dstA(k), (cg, srcA(k)))
        }
        k += 1
      }
      val bg = merged.get(dstId)
      if (bg != null) best = bg._1
      val next = new java.util.HashMap[Long, (Double, Long)]()
      var n = 0L; var s = 0.0
      val it2 = merged.entrySet().iterator()
      while (it2.hasNext) {
        val en = it2.next()
        val hv = hOf.get(en.getKey)
        if (en.getValue._1 + (if (hv eq null) 0.0 else hv.doubleValue()) <= best) {
          next.put(en.getKey, en.getValue); n += 1; s += en.getValue._1
        }
      }
      g = next
      val sig = (n, s)
      stable = prev != null && prev == sig
      prev = sig
    }
    if (best.isInfinity)
      return ss.range(0).select(lit("").as("path"), lit(0.0).as("cost"))
    // parent-chain unwind dst → src; a missing link mirrors the
    // distributed join dropping the row (empty result)
    var nodes = List(dstId)
    var head = dstId
    var hops = 0
    var atSrc = false
    var dead = false
    while (!atSrc && !dead && hops < maxIterations + 1) {
      hops += 1
      val st = g.get(head)
      if (st == null) dead = true
      else { head = st._2; nodes = head :: nodes; atSrc = head == srcId }
    }
    if (dead) return ss.range(0).select(lit("").as("path"), lit(0.0).as("cost"))
    ss.range(1).select(lit(nodes.mkString("->")).as("path"), lit(best).as("cost"))
  }

  /** Fixed-iteration Bellman-Ford relaxation: (id, dist DOUBLE) minimum
    * path weight from the seed set. Equals the reference's Dijkstra
    * (shortest_path.rs:405) on non-negative weights once iterations ≥
    * shortest-path hop diameter; deterministic because path sums are the
    * same IEEE additions in any engine and MIN is order-free. */
  def bellmanFord(wedges: DataFrame, seeds: DataFrame, iterations: Int): DataFrame = {
    val (e, nE) = Probe.checkpointCounted(wedges.select("src", "dst", "weight"))
    val (d0, n0) = Probe.checkpointCounted(
      seeds.select(col("id")).distinct().withColumn("dist", lit(0.0)))
    // Dual regime: the per-round relaxation is the same IEEE additions
    // and an order-free MIN in either engine, so the packed driver loop
    // is bit-equal to the distributed rounds. Past the gate the join
    // loop below is the 100 TB path.
    if (Tuning.fits(nE, n0))
      return bellmanFordLocal(e, d0.select("id"), iterations)
    var dist = d0
    for (_ <- 1 to iterations) {
      val relaxed = dist.join(e, dist("id") === e("src"))
        .select(e("dst").as("id"), (dist("dist") + e("weight")).as("dist"))
      dist = dist.unionByName(relaxed)
        .groupBy("id").agg(min("dist").as("dist")).localCheckpoint()
    }
    dist
  }

  /** Multi-source BFS on the driver: the same level-synchronous
    * first-visit rule over the [[LocalGraph]] CSR. Only called under the
    * driver-size gate. */
  private def bfsLocal(e: DataFrame, seedIds: DataFrame, maxDepth: Int): DataFrame = {
    val spark = e.sparkSession
    val g = LocalGraph.load(Some(seedIds), e, LocalGraph.Extend)
    val nSeeds = g.nIds
    val n = g.n
    val (off, nbr) = g.csr
    val dist = Array.fill(n)(-1L)
    var frontier = new Array[Int](nSeeds)
    var i = 0
    while (i < nSeeds) { dist(i) = 0L; frontier(i) = i; i += 1 }
    var depth = 0
    while (depth < maxDepth && frontier.nonEmpty) {
      depth += 1
      val next = Array.newBuilder[Int]
      frontier.foreach { v =>
        var j = off(v)
        while (j < off(v + 1)) {
          val w = nbr(j)
          if (dist(w) < 0L) { dist(w) = depth.toLong; next += w }
          j += 1
        }
      }
      frontier = next.result()
    }
    import spark.implicits._
    (0 until n).filter(dist(_) >= 0L)
      .map(v => (g.id(v), dist(v))).toDF("id", "dist")
  }

  /** Fixed-iteration synchronous relaxation on the driver — candidate
    * set and MIN merge identical to the distributed rounds, so the
    * result is bit-equal at any iteration count. Only called under the
    * driver-size gate. */
  private def bellmanFordLocal(e: DataFrame, seedIds: DataFrame,
                               iterations: Int): DataFrame = {
    val spark = e.sparkSession
    val (Array(srcA, dstA), Array(wA)) = LocalGraph.packedLD(e.select(
      col("src").cast("long"), col("dst").cast("long"), col("weight").cast("double")), 2, 1)
    val Array(seedArr) = LocalGraph.packed(seedIds.select(col("id").cast("long")), 1)
    var dist = new java.util.HashMap[Long, java.lang.Double](seedArr.length * 2)
    seedArr.foreach(s => dist.put(s, 0.0))
    var it = 0
    while (it < iterations) {
      it += 1
      val next = new java.util.HashMap[Long, java.lang.Double](dist)
      var k = 0
      while (k < srcA.length) {
        val ds = dist.get(srcA(k))
        if (ds ne null) {
          val cand = ds.doubleValue() + wA(k)
          val old = next.get(dstA(k))
          if ((old eq null) || cand < old.doubleValue()) next.put(dstA(k), cand)
        }
        k += 1
      }
      dist = next
    }
    import spark.implicits._
    val out = scala.collection.mutable.ArrayBuffer.empty[(Long, Double)]
    val en = dist.entrySet().iterator()
    while (en.hasNext) { val x = en.next(); out += ((x.getKey, x.getValue.doubleValue())) }
    out.toSeq.toDF("id", "dist")
  }
}
