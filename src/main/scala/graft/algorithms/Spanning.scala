package graft.algorithms

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Minimum spanning forest — Borůvka's algorithm, the distributed MST
  * standard (each round every component picks its lightest outgoing
  * edge and components merge, halving the component count, so ≤
  * ⌈log₂ |V|⌉ rounds). The reference ships the weighted-graph
  * machinery this composes from (reference: src/algorithms/
  * weighted.rs Dijkstra over typed weights); the spanning forest is
  * the standard backbone/clustering summary a graph engine serves
  * next to it.
  *
  * Determinism: edges are totally ordered by (w, a, b), so the chosen
  * forest is UNIQUE even under weight ties — Kruskal under that order
  * (the driver-gated regime), distributed Borůvka (the cluster
  * regime) and the oracle's unrolled-round replay all emit the
  * bit-identical edge set.
  *
  * Scale shape per round: one join of the surviving crossing edges
  * against the |V|-row label map, one map-side-combined min-struct
  * aggregation per component, and a connected-components pass over
  * the ≤ |components|-row merge graph (itself dual-regime). The
  * crossing-edge frame SHRINKS monotonically — an edge internal to a
  * component never crosses again — so each round re-filters the
  * previous round's survivors, not the original edge list. */
object Spanning {

  /** MSF edges (a, b, w) of the undirected weighted graph `wedges`
    * ((a, b, w), a < b, simple). Isolated nodes contribute no edges,
    * so no node frame is needed; components emerge from the edge set. */
  def minimumSpanningForest(wedges: DataFrame, maxRounds: Int = 40): DataFrame = {
    val spark = wedges.sparkSession
    val (e0, nE) = Probe.checkpointCounted(
      wedges.select(col("a").cast("long").as("a"),
        col("b").cast("long").as("b"), col("w").cast("long").as("w")))
    if (Tuning.fits(nE))
      return mstLocal(spark, e0)
    var labels = e0
      .select(explode(array(col("a"), col("b"))).as("id")).distinct()
      .select(col("id"), col("id").as("label"))
      .localCheckpoint()
    var e = e0
    var mst: DataFrame = null
    var round = 0
    var done = false
    while (!done && round < maxRounds) {
      round += 1
      val cross = e
        .join(labels.select(col("id").as("a"), col("label").as("la")), Seq("a"))
        .join(labels.select(col("id").as("b"), col("label").as("lb")), Seq("b"))
        .filter(col("la") =!= col("lb"))
        .localCheckpoint() // consumed 3× (emptiness, chosen, next round)
      if (cross.isEmpty) done = true
      else {
        // per component: the (w, a, b)-least crossing edge, with the
        // partner component riding the struct — one map-side-combined
        // min, never a window rank over the edge stream
        val sym = cross
          .select(col("la").as("c"), col("w"), col("a"), col("b"), col("lb").as("p"))
          .unionByName(cross
            .select(col("lb").as("c"), col("w"), col("a"), col("b"), col("la").as("p")))
        val picked = sym.groupBy("c")
          .agg(min(struct(col("w"), col("a"), col("b"), col("p"))).as("m"))
          .select(col("c"), col("m.w").as("w"), col("m.a").as("a"),
            col("m.b").as("b"), col("m.p").as("p"))
          .localCheckpoint() // consumed 2× (forest rows, merge graph)
        val roundEdges = picked.select("a", "b", "w").distinct()
        mst = if (mst == null) roundEdges else mst.unionByName(roundEdges)
        // merge the touched components: min-label CC over the
        // ≤ |components|-row merge graph (dual-regime kernel)
        val mg = picked.select(col("c").as("src"), col("p").as("dst"))
          .unionByName(picked.select(col("p").as("src"), col("c").as("dst")))
        val comp = Community.connectedComponents(
          labels.select(col("label").as("id")).distinct(), mg, maxIter = 40)
        labels = labels
          .join(comp.select(col("id").as("label"), col("component")), Seq("label"))
          .select(col("id"), col("component").as("label"))
          .localCheckpoint()
        e = cross.select("a", "b", "w")
      }
    }
    require(done, s"Borůvka did not converge in $maxRounds rounds")
    if (mst == null) e0.select("a", "b", "w").limit(0)
    else mst.orderBy("a", "b")
  }

  /** Driver-gated regime: Kruskal with union-find over the collected
    * edge list in (w, a, b) order — the same unique forest as the
    * distributed rounds, one job in, one parallelize out. */
  private def mstLocal(spark: org.apache.spark.sql.SparkSession,
                       e: DataFrame): DataFrame = {
    val implicits = spark.implicits
    import implicits._
    val edges = e.select(col("w"), col("a"), col("b"))
      .as[(Long, Long, Long)].collect().sortBy(identity)
    val idx = scala.collection.mutable.HashMap.empty[Long, Int]
    edges.foreach { case (_, a, b) =>
      idx.getOrElseUpdate(a, idx.size); idx.getOrElseUpdate(b, idx.size)
    }
    val parent = Array.tabulate(idx.size)(identity)
    def find(x0: Int): Int = {
      var x = x0
      while (parent(x) != x) { parent(x) = parent(parent(x)); x = parent(x) }
      x
    }
    val out = edges.flatMap { case (w, a, b) =>
      val ra = find(idx(a)); val rb = find(idx(b))
      if (ra == rb) None
      else { parent(ra) = rb; Some((a, b, w)) }
    }
    spark.createDataFrame(out.sorted.toIndexedSeq).toDF("a", "b", "w")
  }
}
