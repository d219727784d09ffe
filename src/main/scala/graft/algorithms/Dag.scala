package graft.algorithms

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** DAG kernels: topological layering and weighted critical paths via
  * longest-path relaxation (extends the reference's traversal family,
  * src/algorithms/traversal.rs, to the scheduling/lineage-DAG analyses a
  * large pipeline orchestrator needs — stage depth and the critical
  * chain that bounds end-to-end latency).
  *
  * The kernel is frontier Bellman relaxation specialized to DAGs:
  * dist(v) = max over incoming edges (dist(u) + w), every node seeded at
  * 0, so dist is the longest-path cost from any source and, with unit
  * weights, the Kahn/Coffman–Graham layer. On a DAG the fixpoint lands
  * after `depth` rounds (depth = longest path edge count); each round is
  * ONE frontier⋈edges hash join, a map-side-combined max roll-up, and a
  * monotone merge into the state that flags the improved rows — one
  * checkpoint per round ([[Probe]]'s flag-column pattern: the improved
  * count rides that checkpoint and the next frontier is a filter over
  * it). State is one (id, dist) row per node — the
  * kernel scales to any |V| that shuffles, and rounds are bounded by DAG
  * depth, which scheduling/build graphs keep shallow by construction.
  * Weights stay BIGINT end to end so the fold is exact in every engine.
  *
  * A cyclic input cannot converge; the round cap throws instead of
  * spinning, which doubles as distributed cycle detection (a clean
  * finish certifies acyclicity of the reachable subgraph). That
  * certification requires strictly positive weights — a zero-weight
  * cycle improves nothing and would converge silently — so weights are
  * validated non-null and w ≥ 1 up front (free: the non-null count and
  * the min ride the edge materialize).
  */
object Dag {

  /** (id, dist): longest-path cost from any source to `id` over the
    * directed `edges` (src, dst, w). Sources and isolated nodes keep
    * dist 0. Throws if no fixpoint within `maxRounds` (cycle).
    *
    * Dual regime like the other iterative kernels: under
    * the [[Tuning]] gate the relaxation runs as a packed
    * driver loop (a depth-round fixpoint on a tiny graph is pure
    * scheduler floor distributed); past the gate the frontier joins
    * below are the 100 TB path. Both branches compute the identical
    * integer fixpoint (regime-pinned). */
  def longestPaths(nodes: DataFrame, edges: DataFrame, maxRounds: Int): DataFrame = {
    require(maxRounds >= 1, "longestPaths needs maxRounds >= 1")
    // Materialize the edge view once — it is re-joined every round. The
    // weight probes ride the same action: the acyclicity certification
    // below (clean finish ⇒ no cycle) is only sound for strictly
    // positive weights — a zero-weight cycle converges without throwing
    // — so reject w < 1 up front rather than silently weakening the
    // guarantee, and a null weight likewise (it would relax to nothing
    // on one regime and fail the packed collect on the other).
    val (e, mE) = Probe.checkpointObserved(
      edges.select(col("src"), col("dst"), col("w").cast("long").as("w")),
      count(lit(1)).as("m"), count(col("w")).as("wn"), min(col("w")).as("wmin"))
    val m = mE("m").asInstanceOf[Long]
    require(mE("wn").asInstanceOf[Long] == m,
      "longestPaths needs a non-null integer weight on every edge")
    require(m == 0L || mE("wmin").asInstanceOf[Long] >= 1L,
      "longestPaths needs strictly positive integer weights (w >= 1): " +
        "a zero-weight cycle would converge and defeat cycle detection")
    val (n0, nN) = Probe.checkpointCounted(nodes.select(col("id")).distinct())
    if (Tuning.fits(m, nN))
      return longestPathsLocal(n0, e, maxRounds)
    // n0 is already a checkpoint, so the seed state needs none of its own.
    var best = n0.withColumn("dist", lit(0L))
    var frontier = best
    var improved = 1L
    var round = 0
    while (improved > 0 && round < maxRounds) {
      round += 1
      // Relax out-edges of the frontier; per-target max combines
      // map-side before the shuffle.
      val cand = frontier.join(e, frontier("id") === e("src"))
        .select(e("dst").as("id"), (frontier("dist") + e("w")).as("cd"))
        .groupBy("id").agg(max("cd").as("cd"))
      // Merge into the state and flag the improved rows: one checkpoint
      // per round, the improved count rides it, and the next frontier is
      // a filter over it (no job).
      val imp = coalesce(col("cd") > col("dist"), lit(false))
      val (next, mR) = Probe.checkpointObserved(
        best.join(cand, Seq("id"), "left").select(col("id"),
          when(imp, col("cd")).otherwise(col("dist")).as("dist"), imp.as("imp")),
        count(when(col("imp"), 1)).as("imp"))
      improved = mR("imp").asInstanceOf[Long]
      best = next.select(col("id"), col("dist"))
      frontier = next.filter(col("imp")).select(col("id"), col("dist"))
    }
    if (improved > 0)
      throw new IllegalStateException(
        s"longestPaths did not converge in $maxRounds rounds — input has a cycle")
    best
  }

  /** Driver-gated twin: the same max-relaxation to the same fixpoint,
    * as a packed edge sweep (round ≡ one pass over the edge array —
    * exactly the distributed round's relax set, so the two regimes are
    * bit-identical on integer dists). */
  private def longestPathsLocal(idsCk: DataFrame, e: DataFrame,
                                maxRounds: Int): DataFrame = {
    val spark = idsCk.sparkSession
    // Edges restricted to the node universe, exactly like the
    // distributed loop (frontier ⊆ universe; non-universe dsts are
    // dropped at the improve join and never propagate).
    val g = LocalGraph.load(Some(idsCk), e, LocalGraph.Within, longs = 1)
    val srcIx = g.src; val dstIx = g.dst; val Array(wL) = g.longs
    val dist = new Array[Long](g.n)
    val m = srcIx.length
    var improved = true
    var round = 0
    while (improved && round < maxRounds) {
      round += 1
      improved = false
      var k = 0
      while (k < m) {
        val nd = dist(srcIx(k)) + wL(k)
        if (nd > dist(dstIx(k))) { dist(dstIx(k)) = nd; improved = true }
        k += 1
      }
    }
    if (improved)
      throw new IllegalStateException(
        s"longestPaths did not converge in $maxRounds rounds — input has a cycle")
    import spark.implicits._
    g.ids.toSeq.map(id => (id, dist(g.ix(id)))).toDF("id", "dist")
  }

  /** Topological layer per node: longest-path depth under unit weights
    * (layer 0 = sources; every edge crosses strictly upward). */
  def topoLayers(nodes: DataFrame, edges: DataFrame, maxRounds: Int): DataFrame =
    longestPaths(nodes, edges.select(col("src"), col("dst"), lit(1L).as("w")),
      maxRounds)
      .select(col("id"), col("dist").as("layer"))

  /** Critical-path cost per node: the heaviest chain of work that must
    * finish before `id` can (exact BIGINT weight sums). */
  def criticalPath(nodes: DataFrame, edges: DataFrame, maxRounds: Int): DataFrame =
    longestPaths(nodes, edges, maxRounds)
      .select(col("id"), col("dist").as("cost"))
}
