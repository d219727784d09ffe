package graft.algorithms

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Path enumeration (reference: src/algorithms/traversal.rs:239
  * all_simple_paths, :183 variable_length_path — the reference DFS-walks
  * the adjacency list; here each depth level is one hash join carrying
  * the path as an array column, and simplicity is enforced with
  * array_contains).
  *
  * Scale notes: the frontier is rows × path-arrays — bounded by the
  * simple-path count, which the maxLen cap controls. Each level shuffles
  * only on the join key; the destination check drains finished paths out
  * of the frontier so they stop expanding.
  */
object Paths {

  /** All simple paths src→dst with at most maxLen edges, dst only as the
    * final node. Returns one row per path: "id->id->…->id". */
  def simplePaths(edges: DataFrame, srcId: Long, dstId: Long, maxLen: Int): DataFrame = {
    require(maxLen >= 1 && maxLen <= 10, "bounded enumeration only")
    val ss = edges.sparkSession
    val e = edges.select(col("src"), col("dst"))
    var active = ss.range(1)
      .select(lit(srcId).as("cur"), array(lit(srcId)).as("path"))
    var found: Option[DataFrame] = None
    for (_ <- 1 to maxLen) {
      val step = active.as("p").join(e.as("e"), col("p.cur") === col("e.src"))
        .filter(!array_contains(col("p.path"), col("e.dst")))
        .select(col("e.dst").as("cur"),
          concat(col("p.path"), array(col("e.dst"))).as("path"))
        .localCheckpoint()
      val hits = step.filter(col("cur") === dstId)
      found = Some(found.fold(hits)(_ unionByName hits))
      active = step.filter(col("cur") =!= dstId)
    }
    found.get.select(
      concat_ws("->", expr("transform(path, x -> CAST(x AS STRING))")).as("path"))
  }

  /** All shortest paths src→dst as typed path rows (reference:
    * shortest_path.rs:59 all_shortest_paths — BFS recording *every*
    * shortest parent, then backtracking; query_engine.rs:49 QueryPath =
    * node array + relationship array; traversal.rs:436
    * shortest_path_with_rels).
    *
    * Forward: level-synchronous BFS keeping, per level d, the parent-edge
    * rows (v, u, rel_type) whose target v is first reached at depth d —
    * one row per parallel edge, like the reference's per-relationship
    * parent pushes. Stops at the level where dst appears. Backward: join
    * the path frontier level by level through the parent edges, building
    * the node and rel-type arrays. Output: one row per shortest path —
    * (path "a->b->…", rels "T1,T2,…", hops).
    *
    * Scale: state is O(frontier) per level plus O(#paths) only during the
    * unwind, never the all-pairs closure; each level is one hash join on
    * the src-partitioned edge view. */
  def allShortestPaths(edges: DataFrame, srcId: Long, dstId: Long,
                       maxDepth: Int = 10): DataFrame = {
    val ss = edges.sparkSession
    // Edge count rides the checkpoint for the regime gate.
    val (e, nE) = Probe.checkpointCounted(edges.select(col("src"), col("dst"), col("rel_type")))
    def emptyOut = ss.range(0)
      .select(lit("").as("path"), lit("").as("rels"), lit(0L).as("hops"))
    if (srcId == dstId)
      return ss.range(1)
        .select(lit(srcId.toString).as("path"), lit("").as("rels"), lit(0L).as("hops"))
    // Dual regime: the parent-level BFS and the backward unwind are one
    // scheduler-floor join per level each way; the driver replay records
    // the same per-parallel-edge parent rows and enumerates the same path
    // set. Past the gate the level joins below are the 100 TB path.
    if (Tuning.fits(nE))
      return allShortestPathsLocal(e, srcId, dstId, maxDepth)
    var visited = ss.range(1).select(lit(srcId).as("id")).localCheckpoint()
    var frontier = visited
    var frontierCount = 1L
    val parentLevels = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    var found = false
    var depth = 0
    while (!found && depth < maxDepth && frontierCount > 0) {
      depth += 1
      val cand = frontier.join(e, frontier("id") === e("src"))
        .select(e("dst").as("v"), e("src").as("u"), e("rel_type"))
        .join(visited.withColumnRenamed("id", "v"), Seq("v"), "left_anti")
        .localCheckpoint()
      // Emptiness + dst-hit probes ride the frontier checkpoint
      // (Dataset.observe) — one job instead of three per level.
      val (f, mF) = Probe.checkpointObserved(
        cand.select(col("v").as("id")).distinct(),
        count(lit(1)).as("n"), count(when(col("id") === dstId, 1)).as("hit"))
      frontier = f
      frontierCount = mF("n").asInstanceOf[Long]
      visited = visited.unionByName(frontier).localCheckpoint()
      parentLevels += cand
      found = mF("hit").asInstanceOf[Long] > 0L
    }
    if (!found) return emptyOut
    var paths = ss.range(1).select(lit(dstId).as("head"),
      array(lit(dstId)).as("nodes"),
      array().cast("array<string>").as("rels"))
    for (d <- depth to 1 by -1) {
      val pl = parentLevels(d - 1)
      paths = paths.join(pl, paths("head") === pl("v"))
        .select(col("u").as("head"),
          concat(array(col("u")), col("nodes")).as("nodes"),
          concat(array(col("rel_type")), col("rels")).as("rels"))
    }
    paths.select(
      concat_ws("->", expr("transform(nodes, x -> CAST(x AS STRING))")).as("path"),
      concat_ws(",", col("rels")).as("rels"),
      lit(depth.toLong).as("hops"))
  }

  /** The same parent-level BFS + backward path enumeration on the
    * driver: level d records one (v, u, rel) row per parallel edge into
    * each first-reached v, the unwind prepends every recorded parent —
    * the identical path multiset. Only called under the driver-size
    * gate. */
  private def allShortestPathsLocal(e: DataFrame, srcId: Long, dstId: Long,
                                    maxDepth: Int): DataFrame = {
    val ss = e.sparkSession
    import ss.implicits._
    val rows = e.select(col("src").cast("long"), col("dst").cast("long"),
        col("rel_type").cast("string")).rdd
      .mapPartitions { it =>
        val b = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, String)]
        it.foreach(r => b += ((r.getLong(0), r.getLong(1), r.getString(2))))
        Iterator.single(b.toArray)
      }.collect().flatten
    val adj = new java.util.HashMap[Long,
      scala.collection.mutable.ArrayBuffer[(Long, String)]]()
    rows.foreach { case (s, d, t) =>
      var l = adj.get(s)
      if (l == null) {
        l = scala.collection.mutable.ArrayBuffer.empty[(Long, String)]
        adj.put(s, l)
      }
      l += ((d, t))
    }
    val visited = scala.collection.mutable.HashSet(srcId)
    var frontier: Iterable[Long] = Seq(srcId)
    val parentLevels = scala.collection.mutable.ArrayBuffer
      .empty[scala.collection.mutable.HashMap[Long,
        scala.collection.mutable.ArrayBuffer[(Long, String)]]]
    var found = false
    var depth = 0
    while (!found && depth < maxDepth && frontier.nonEmpty) {
      depth += 1
      val lvl = scala.collection.mutable.HashMap.empty[Long,
        scala.collection.mutable.ArrayBuffer[(Long, String)]]
      frontier.foreach { u =>
        val ns = adj.get(u)
        if (ns != null) ns.foreach { case (v, t) =>
          if (!visited(v))
            lvl.getOrElseUpdate(v,
              scala.collection.mutable.ArrayBuffer.empty[(Long, String)]) += ((u, t))
        }
      }
      frontier = lvl.keys.toSeq
      visited ++= frontier
      parentLevels += lvl
      found = lvl.contains(dstId)
    }
    if (!found)
      return ss.range(0)
        .select(lit("").as("path"), lit("").as("rels"), lit(0L).as("hops"))
    var paths = List((dstId, List(dstId), List.empty[String]))
    for (d <- depth to 1 by -1) {
      val lvl = parentLevels(d - 1)
      paths = paths.flatMap { case (h, ns, rs) =>
        lvl(h).toList.map { case (u, t) => (u, u :: ns, t :: rs) }
      }
    }
    paths.map { case (_, ns, rs) =>
      (ns.mkString("->"), rs.mkString(","), depth.toLong)
    }.toDF("path", "rels", "hops")
  }

  /** One deterministic shortest path with its relationships — the
    * lexicographically smallest of allShortestPaths (the reference's
    * shortest_path_with_rels returns an arbitrary one; traversal.rs:436). */
  def shortestPathWithRels(edges: DataFrame, srcId: Long, dstId: Long,
                           maxDepth: Int = 10): DataFrame =
    allShortestPaths(edges, srcId, dstId, maxDepth).orderBy(col("path")).limit(1)

  /** Does any path src→dst of ≤ maxLen edges exist
    * (reference shortest_path.rs:314 has_path)? */
  def hasPath(edges: DataFrame, srcId: Long, dstId: Long, maxLen: Int): Boolean = {
    val ss = edges.sparkSession
    val seed = ss.range(1).select(lit(srcId).as("id"))
    !Traversal.bfsDistances(edges, seed, maxLen)
      .filter(col("id") === dstId).isEmpty
  }
}
