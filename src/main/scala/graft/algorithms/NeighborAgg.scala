package graft.algorithms

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Neighborhood feature aggregation — the GraphSAGE-style message
  * layer (Hamilton et al. 2017) a graph feature pipeline runs before
  * training: per node, the mean of its IN-neighbors' feature vector,
  * iterated `hops` times so layer k sees a k-hop receptive field.
  * Deterministic (mean aggregator, no sampling), so the whole layer
  * stack is DuckDB-mirrorable join-for-join.
  *
  * Plan shape per hop: ONE join of the |V|-row feature frame against
  * the edge list + ONE map-side-combined avg per destination — the
  * PageRank iteration shape, the proven 100 TB pattern here
  * (iterate-small-against-big, lineage cut per hop). Nodes with no
  * in-neighbors keep ZERO features at the next layer (the mean over
  * an empty set is defined as 0, matching the padded-neighborhood
  * convention) so every node flows through every layer. */
object NeighborAgg {

  /** Aggregate the numeric `features` columns of `nodeFeatures`
    * (keyed by `id`) over in-neighborhoods, `hops` times. Output:
    * (id, <f>_h<hops> per feature), rounded 6 dp. */
  def aggregate(nodeFeatures: DataFrame, edges: DataFrame,
                features: Seq[String], hops: Int = 2): DataFrame = {
    require(hops >= 1, "need >= 1 hop")
    val (e, _) = Probe.checkpointCounted(edges.select("src", "dst"))
    var cur = nodeFeatures.select(
      col("id") +: features.map(f => col(f).cast("double").as(f)): _*)
    for (h <- 1 to hops) {
      val msgs = cur
        .join(e, cur("id") === e("src"))
        .groupBy(e("dst").as("id"))
        .agg(features.map(f => avg(col(f)).as(f)).head,
          features.map(f => avg(col(f)).as(f)).tail: _*)
      cur = nodeFeatures.select("id")
        .join(msgs, Seq("id"), "left_outer")
        .select(col("id") +:
          features.map(f => coalesce(col(f), lit(0.0)).as(f)): _*)
        .localCheckpoint()
    }
    cur.select(col("id") +:
      features.map(f => round(col(f), 6).as(s"${f}_h$hops")): _*)
      .orderBy("id")
  }
}
