package graft.algorithms

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Deterministic random-walk generation — the training-data feed for
  * skip-gram graph embeddings (DeepWalk / node2vec with p=q=1): `perNode`
  * walks of `length` steps from every source node. The next hop from
  * node v at step t of walk w is the out-neighbor u minimizing
  * `hash60("rw:w:t:v:u")` — a hash-seeded uniform choice, so the walk
  * corpus is a PURE FUNCTION of the graph: reproducible across engines,
  * runs and repartitionings (the same property every sampler in this
  * repo has), and mirrorable in SQL for the oracle. Walks stop early at
  * sink nodes (no out-edges).
  *
  * Plan: the walk state is one (start, walk, cur) frame — O(sources ×
  * perNode) rows regardless of graph size — advanced per step by one
  * hash join onto the edge table and one map-side-combined
  * min(struct(score, dst)) argmin. No per-step window, no RNG state.
  * At 100 TB the edge side is hash-partitioned once and each step
  * shuffles only the walk frame — the same iterate-small-against-big
  * shape as PageRank. Dual regime under the standard driver gate (the
  * CSR twin replays the identical hash argmin via the same native
  * digest). Output: (start, walk, step, node) rows, step 0 = start. */
object RandomWalks {

  def walks(edges: DataFrame, sources: DataFrame, length: Int,
            perNode: Int): DataFrame = {
    require(length >= 1 && perNode >= 1, "need length >= 1 and perNode >= 1")
    // simple-graph view: multi-edges would not change the argmin (same
    // (v,u) string hashes equal) but would inflate the join
    val (e, nE) = Probe.checkpointCounted(edges.select("src", "dst").distinct())
    val (srcs, nS) = Probe.checkpointCounted(sources.select("id"))
    if (Tuning.fits(nS, nE))
      return walksLocal(srcs, e, length, perNode)
    var state = srcs
      .select(col("id").as("start"),
        explode(sequence(lit(0), lit(perNode - 1))).as("walk"))
      .select(col("start"), col("walk").cast("long").as("walk"),
        col("start").as("cur"))
      .localCheckpoint()
    val levels = scala.collection.mutable.ArrayBuffer(
      state.select(col("start"), col("walk"), lit(0L).as("step"),
        col("cur").as("node")))
    for (t <- 1 to length) {
      val scored = state.as("s").join(e.as("e"), col("s.cur") === col("e.src"))
        .select(col("s.start"), col("s.walk"),
          struct(
            graft.pipeline.TextOps.hash60(
              concat(lit("rw:"), col("s.walk"), lit(s":$t:"),
                col("s.cur"), lit(":"), col("e.dst")), ""),
            col("e.dst").as("dst")).as("sc"))
      state = scored.groupBy("start", "walk")
        .agg(min(col("sc")).as("b"))
        .select(col("start"), col("walk"), col("b.dst").as("cur"))
        .localCheckpoint()
      levels += state.select(col("start"), col("walk"),
        lit(t.toLong).as("step"), col("cur").as("node"))
    }
    levels.reduce(_ unionByName _)
  }

  /** Driver-gated twin: CSR walk replaying the identical hash argmin
    * through the same native digest ([[graft.sql.Hash60.compute]]), so
    * both regimes emit bit-identical walk corpora. */
  private def walksLocal(srcs: DataFrame, e: DataFrame, length: Int,
                         perNode: Int): DataFrame = {
    val spark = srcs.sparkSession
    val g = LocalGraph.load(Some(srcs), e, LocalGraph.Extend)
    val (off, nbr) = g.csr
    def h(s: String): Long =
      graft.sql.Hash60.compute(
        org.apache.spark.unsafe.types.UTF8String.fromString(s))
    val rows = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Long, Long)]
    g.ids.foreach { start =>
      var w = 0
      while (w < perNode) {
        var cur = g.ix(start)
        rows += ((start, w.toLong, 0L, start))
        var t = 1
        var alive = cur >= 0
        while (alive && t <= length) {
          var best = -1; var bestH = Long.MaxValue; var bestDst = Long.MaxValue
          var j = off(cur)
          while (j < off(cur + 1)) {
            val d = nbr(j)
            val did = g.id(d)
            val hv = h(s"rw:$w:$t:${g.id(cur)}:$did")
            if (hv < bestH || (hv == bestH && did < bestDst)) {
              bestH = hv; best = d; bestDst = did
            }
            j += 1
          }
          if (best < 0) alive = false // sink: walk stops
          else {
            cur = best
            rows += ((start, w.toLong, t.toLong, g.id(cur)))
            t += 1
          }
        }
        w += 1
      }
    }
    import spark.implicits._
    rows.toSeq.toDF("start", "walk", "step", "node")
  }
}
