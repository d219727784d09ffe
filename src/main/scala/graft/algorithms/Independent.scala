package graft.algorithms

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Maximal independent set — the fixed-priority (deterministic)
  * variant of Luby's algorithm: every node draws the hash priority
  * (hash60("mis:" ++ id), id) once, and each round every undecided
  * node whose priority beats ALL its undecided neighbors' joins the
  * set; its neighbors leave. Blelloch–Fineman–Shun 2012 show these
  * parallel rounds emit EXACTLY the sequential greedy answer under
  * the same priority order — the lexicographically-first MIS — which
  * is what makes the kernel oracle-able: the distributed rounds, the
  * driver-gated sequential greedy, and the oracle's recursive replay
  * all agree bit-identically. O(log n) rounds w.h.p.
  *
  * Scale shape per round: one join of the surviving edge frame
  * against the undecided priorities, one map-side-combined min-struct
  * per node, two anti-joins to shrink the node and edge frames — the
  * frames shrink monotonically (decided nodes and their edges never
  * return). The reference ships the adjacency machinery (reference:
  * src/algorithms/structure.rs neighborhood views); MIS itself is the
  * standard scheduling/summarization primitive next to it. */
object Independent {

  /** MIS node ids of the undirected graph `symEdges` (both-direction
    * view), over the full `nodes` universe — isolated nodes are
    * always members. */
  def maximalIndependentSet(nodes: DataFrame, symEdges: DataFrame,
                            maxRounds: Int = 60): DataFrame = {
    val spark = nodes.sparkSession
    val (e0, nE) = Probe.checkpointCounted(symEdges.select("src", "dst"))
    val (n0, nN) = Probe.checkpointCounted(
      nodes.select(col("id"),
        graft.pipeline.TextOps.hash60(col("id").cast("string"), "mis:")
          .as("h")))
    if (Tuning.fits(nN, nE))
      return misLocal(spark, n0, e0)
    var undecided = n0
    var nUndecided = nN
    var e = e0
    var mis: DataFrame = null
    var round = 0
    while (nUndecided > 0 && round < maxRounds) {
      round += 1
      // lowest-priority undecided neighbor per undecided node — one
      // map-side-combined min-struct, never a window over the edges
      val nbrMin = e
        .join(undecided.select(col("id").as("dst"), col("h").as("hd")),
          Seq("dst"))
        .groupBy(col("src").as("id"))
        .agg(min(struct(col("hd"), col("dst"))).as("mn"))
      val sel = undecided.join(nbrMin, Seq("id"), "left_outer")
        .filter(col("mn").isNull ||
          struct(col("h"), col("id")) < col("mn"))
        .select("id")
        .localCheckpoint() // consumed 3× (mis rows, neighbor removal, shrink)
      mis = if (mis == null) sel else mis.unionByName(sel)
      val removed = sel
        .unionByName(e.join(sel.withColumnRenamed("id", "src"), Seq("src"),
          "left_semi").select(col("dst").as("id")))
        .distinct().localCheckpoint()
      val (u, nU) = Probe.checkpointCounted(undecided.join(removed, Seq("id"), "left_anti"))
      undecided = u
      nUndecided = nU
      e = e.join(removed.withColumnRenamed("id", "src"), Seq("src"), "left_anti")
        .join(removed.withColumnRenamed("id", "dst"), Seq("dst"), "left_anti")
        .localCheckpoint()
    }
    require(nUndecided == 0, s"MIS did not converge in $maxRounds rounds")
    mis.orderBy("id")
  }

  /** Greedy graph coloring — Jones–Plassmann under the same fixed
    * hash priority: each round every undecided node whose priority
    * beats all its UNDECIDED neighbors (the MIS-selection rule)
    * colors itself with the mex of its already-colored neighbors'
    * colors. The parallel rounds emit exactly the sequential greedy
    * coloring in priority order (the JP invariant: a node colors only
    * after every higher-priority neighbor), so the distributed
    * kernel, the driver-gated greedy and the oracle's recursive
    * replay agree bit-identically. Colors are 0-based; the color
    * count is the greedy bound Δ+1, not optimal (optimal coloring is
    * NP-hard — this is the standard scheduling/partitioning
    * primitive, e.g. conflict-free update batching). */
  def greedyColoring(nodes: DataFrame, symEdges: DataFrame,
                     maxRounds: Int = 120): DataFrame = {
    val spark = nodes.sparkSession
    val (e0, nE) = Probe.checkpointCounted(symEdges.select("src", "dst"))
    val (n0, nN) = Probe.checkpointCounted(
      nodes.select(col("id"),
        graft.pipeline.TextOps.hash60(col("id").cast("string"), "mis:")
          .as("h")))
    if (Tuning.fits(nN, nE))
      return colorLocal(spark, n0, e0)
    var undecided = n0
    var nUndecided = nN
    // src-side frame of edges whose src is still undecided (the dst
    // side keeps colored nodes — mex needs them)
    var e = e0
    var colored: DataFrame = null
    var round = 0
    while (nUndecided > 0 && round < maxRounds) {
      round += 1
      val nbrMin = e
        .join(undecided.select(col("id").as("dst"), col("h").as("hd")),
          Seq("dst"))
        .groupBy(col("src").as("id"))
        .agg(min(struct(col("hd"), col("dst"))).as("mn"))
      val sel = undecided.join(nbrMin, Seq("id"), "left_outer")
        .filter(col("mn").isNull ||
          struct(col("h"), col("id")) < col("mn"))
        .select("id")
        .localCheckpoint()
      // mex over already-colored neighbors: sorted distinct colors,
      // first index where cs[i] != i (else the prefix length)
      val nbrColors =
        if (colored == null) sel.limit(0).withColumn("cs", array())
        else e.join(sel.withColumnRenamed("id", "src"), Seq("src"), "left_semi")
          .join(colored.select(col("id").as("dst"), col("color")), Seq("dst"))
          .groupBy(col("src").as("id"))
          .agg(collect_set(col("color")).as("cs"))
      val withMex = sel.join(nbrColors, Seq("id"), "left_outer")
        .select(col("id"), coalesce(
          expr("""coalesce(
            get(filter(transform(array_sort(cs), (c, i) -> IF(c = i, -1L, CAST(i AS BIGINT))),
                       x -> x >= 0), 0),
            CAST(size(cs) AS BIGINT))"""),
          lit(0L)).as("color"))
        .localCheckpoint()
      colored = if (colored == null) withMex
                else colored.unionByName(withMex)
      val (u, nU) = Probe.checkpointCounted(undecided.join(sel, Seq("id"), "left_anti"))
      undecided = u
      nUndecided = nU
      e = e.join(sel.withColumnRenamed("id", "src"), Seq("src"), "left_anti")
        .localCheckpoint()
    }
    require(nUndecided == 0, s"coloring did not converge in $maxRounds rounds")
    colored.orderBy("id")
  }

  private def colorLocal(spark: org.apache.spark.sql.SparkSession,
                         n: DataFrame, e: DataFrame): DataFrame = {
    val implicits = spark.implicits
    import implicits._
    val pr = n.select(col("h"), col("id")).as[(Long, Long)]
      .collect().sortBy(identity)
    val adj = e.select(col("src"), col("dst")).as[(Long, Long)]
      .collect().groupBy(_._1).map { case (s, a) => s -> a.map(_._2).toSet }
    val color = scala.collection.mutable.HashMap.empty[Long, Long]
    pr.foreach { case (_, id) =>
      val used = adj.getOrElse(id, Set.empty).flatMap(color.get)
      var c = 0L
      while (used(c)) c += 1
      color(id) = c
    }
    spark.createDataFrame(color.toSeq.sortBy(_._1)).toDF("id", "color")
  }

  /** Driver-gated regime: sequential greedy over the (h, id)-sorted
    * node list — the same lexicographically-first MIS the rounds
    * compute, one job in, one parallelize out. */
  private def misLocal(spark: org.apache.spark.sql.SparkSession,
                       n: DataFrame, e: DataFrame): DataFrame = {
    val implicits = spark.implicits
    import implicits._
    val pr = n.select(col("h"), col("id")).as[(Long, Long)]
      .collect().sortBy(identity)
    val adj = e.select(col("src"), col("dst")).as[(Long, Long)]
      .collect().groupBy(_._1).map { case (s, a) => s -> a.map(_._2).toSet }
    val inMis = scala.collection.mutable.HashSet.empty[Long]
    pr.foreach { case (_, id) =>
      if (!adj.getOrElse(id, Set.empty).exists(inMis)) inMis += id
    }
    spark.createDataFrame(inMis.toSeq.sorted.map(Tuple1(_))).toDF("id")
  }
}
