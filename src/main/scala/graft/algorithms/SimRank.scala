package graft.algorithms

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** SimRank structural similarity (Jeh & Widom, KDD 2002): two nodes are
  * similar when their in-neighbors are similar —
  * s(a,b) = C/(|I(a)|·|I(b)|) · Σ_{i∈I(a), j∈I(b)} s(i,j), s(a,a) = 1.
  * The classic "similar pages are linked from similar pages" recursion;
  * complements the local-overlap scores in [[LinkPrediction]] with a
  * global fixpoint.
  *
  * SimRank state is inherently node-PAIR-sized, so the all-pairs form
  * only makes sense on a bounded node universe (here the ≤625-pair
  * nation graph; at 100 TB the standard deployments are a focal-set
  * restriction — pairs touching a query set — or the Monte-Carlo
  * random-surfer approximation, both of which reuse this same
  * iteration kernel on a pruned pair frame). Each iteration is two
  * hash joins of the pair frame against the in-edge list, one
  * map-side-combined sum, and a left join back onto the identity
  * diagonal; localCheckpoint keeps the 5-deep plan flat.
  */
object SimRank {

  /** (a, b, sim) over all node pairs after `iters` iterations with
    * decay `c`. Scores are raw doubles internally (both engines fold
    * the same sums) and round to 6 dp on output. */
  def simRank(nodes: DataFrame, edges: DataFrame, iters: Int,
              c: Double = 0.8): DataFrame = {
    require(iters >= 1, "simRank needs iters >= 1")
    val (n, nN) = Probe.checkpointCounted(nodes.select(col("id")).distinct())
    val (e, nE) = Probe.checkpointCounted(edges.select(col("src"), col("dst")).distinct())
    // Dual regime: the pair STATE is n², so the gate is on n² (plus
    // the edge count for the packed arrays). A 5-deep pair fixpoint on
    // a tiny graph is pure scheduler floor distributed; past the gate
    // the pair-frame joins below are the 100 TB (focal-set) path.
    if (Tuning.fitsProduct(nN, nN) && Tuning.fits(nE))
      return simRankLocal(n, e, iters, c)
    val indeg = e.groupBy(col("dst").as("id")).agg(count(lit(1)).as("d"))
    val allPairs = n.select(col("id").as("a"))
      .crossJoin(n.select(col("id").as("b")))
    var s = allPairs
      .withColumn("s", when(col("a") === col("b"), lit(1.0)).otherwise(lit(0.0)))
      .localCheckpoint()
    for (_ <- 1 to iters) {
      // Σ over in-neighbor pairs: join the pair frame to in-edges on
      // both sides, roll up per (dst_a, dst_b).
      val contrib = s.filter(col("s") =!= 0.0)
        .join(e.select(col("src").as("a"), col("dst").as("na")), Seq("a"))
        .join(e.select(col("src").as("b"), col("dst").as("nb")), Seq("b"))
        .groupBy(col("na").as("a"), col("nb").as("b"))
        .agg(sum("s").as("sum_s"))
        .join(indeg.select(col("id").as("a"), col("d").as("da")), Seq("a"))
        .join(indeg.select(col("id").as("b"), col("d").as("db")), Seq("b"))
        .select(col("a"), col("b"),
          (lit(c) * col("sum_s") / (col("da") * col("db"))).as("v"))
      s = allPairs
        .join(contrib, Seq("a", "b"), "left")
        .select(col("a"), col("b"),
          when(col("a") === col("b"), lit(1.0))
            .otherwise(coalesce(col("v"), lit(0.0))).as("s"))
        .localCheckpoint()
    }
    s.select(col("a"), col("b"), round(col("s"), 6).as("sim"))
  }

  /** Driver-gated twin: the same synchronous iteration on a dense
    * matrix. Numerator pairs come from universe→universe edges (the
    * only ones the pair frame can route through); denominators count
    * ALL in-edges of a node, mirroring the distributed indeg. */
  private def simRankLocal(idsCk: DataFrame, e: DataFrame, iters: Int,
                           c: Double): DataFrame = {
    val spark = idsCk.sparkSession
    val g = LocalGraph.load(Some(idsCk), e, LocalGraph.Extend)
    val n = g.nIds
    val indegAll = new Array[Long](n)
    // universe-internal in-neighbor lists
    val inN = Array.fill(n)(List.empty[Int])
    var k = 0
    while (k < g.src.length) {
      val si = g.src(k); val di = g.dst(k)
      if (di < n) {
        indegAll(di) += 1
        if (si < n) inN(di) = si :: inN(di)
      }
      k += 1
    }
    var s = Array.tabulate(n, n)((a, b) => if (a == b) 1.0 else 0.0)
    for (_ <- 1 to iters) {
      val next = Array.tabulate(n, n) { (a, b) =>
        if (a == b) 1.0
        else {
          var sum = 0.0
          var any = false
          inN(a).foreach { i =>
            inN(b).foreach { j => sum += s(i)(j); any = true }
          }
          if (!any) 0.0
          else c * sum / (indegAll(a).toDouble * indegAll(b))
        }
      }
      s = next
    }
    import spark.implicits._
    (for (a <- 0 until n; b <- 0 until n)
      yield (g.id(a), g.id(b), math.rint(s(a)(b) * 1e6) / 1e6))
      .toDF("a", "b", "sim")
  }
}
