package graft.algorithms

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** HyperANF (Boldi, Rosa & Vigna, "HyperANF: approximating the
  * neighbourhood function of very large graphs on a budget", WWW 2011):
  * the approximate neighborhood function N(r) = Σ_v |B(v, r)| — how
  * many ordered node pairs are within distance r — estimated with one
  * HyperLogLog register set per node, element-wise-max-merged over
  * neighbors each round. N(r) is the scale diagnostic behind average
  * distance and effective diameter; the exact computation carries |V|²
  * reachable pairs, which is precisely what cannot exist at 100 TB.
  *
  * Scale: state is |V| rows of m = 2^p register COLUMNS — plain ints,
  * merged with m built-in `max` aggregates so the whole round stays
  * inside whole-stage codegen (a typed Aggregator over register
  * arrays paid Seq[Int] encode/decode per joined row: measured 13.9 s
  * vs 4-ish at sf0.1; the long (node, bucket, mr) row format before it
  * multiplied message volume by m and was slower still). Each round
  * shuffles |E| + |V| rows through ONE map-side-combined aggregate;
  * the register frame broadcasts into the edge join under the shared
  * dual-regime gate and shuffles past it. The registers use the shared
  * 60-bit hash and the exact estimator arithmetic of
  * [[graft.pipeline.Sketches.hllSlot]]/`hllEstimate` (integer harmonic
  * sum, linear-counting small-range branch), so the DuckDB oracle
  * replays every estimate bit for bit, collisions and bias included.
  */
object Anf {

  /** Per-round neighborhood function estimates: (r, nf) for
    * r = 0..rounds, nf = Σ_v round(est(B̂(v, r)), 4) rounded to 2 dp.
    * `symEdges` must carry both directions of every undirected edge. */
  def neighborhoodFunction(nodes: DataFrame, symEdges: DataFrame,
                           rounds: Int = 3, p: Int = 4): DataFrame = {
    require(rounds >= 0, "anf needs rounds >= 0")
    require(p >= 4 && p <= 8, "anf precision must be in [4, 8] (2^p register columns)")
    val m = 1 << p; val maxRho = 61 - p
    val regCols = (0 until m).map(i => s"r$i")
    val h = graft.pipeline.TextOps.hash60(col("id").cast("string"), "anf:")
    val wrest = shiftright(h, p)
    val bucket = pmod(h, lit(m.toLong)).cast("int")
    val rho = when(wrest === 0L, lit(maxRho))
      .otherwise(lit(maxRho) - length(bin(wrest)).cast("int"))
    // ball(v, 0) = {v}: one register hit per node
    val (regs0, nN) = Probe.checkpointCounted(
      nodes.select(col("id") +: (0 until m).map(i =>
        when(lit(i) === bucket, rho).otherwise(lit(0)).as(s"r$i")): _*))
    var regs = regs0
    // While the |V|-row register frame fits the gate it broadcasts into
    // the per-round edge join (the edge frame streams in place); past
    // it the join shuffles. Register VALUES are identical either way.
    val (edges, _) = Probe.checkpointCounted(symEdges.select("src", "dst"))
    var out = estimate(regs, 0, p, regCols)
    for (r <- 1 to rounds) {
      // B(v, r) = B(v, r−1) ∪ ⋃_{(u,v)∈E} B(u, r−1)
      val msg = edges.join(Tuning.broadcastIfFits(regs, nN),
          col("src") === col("id"))
        .select(col("dst").as("id") +: regCols.map(col): _*)
      regs = regs.unionByName(msg)
        .groupBy("id")
        .agg(max(regCols.head).as(regCols.head),
          regCols.tail.map(c => max(c).as(c)): _*)
        .localCheckpoint()
      out = out.unionByName(estimate(regs, r, p, regCols))
    }
    out
  }

  /** Σ_v of the per-node HLL estimate — the identical formula (and op
    * order) as [[graft.pipeline.Sketches.hllEstimate]] and its oracle
    * replay, expanded over the register columns so it codegens. */
  private def estimate(regs: DataFrame, r: Int, p: Int,
                       regCols: Seq[String]): DataFrame = {
    val m = 1 << p; val maxRho = 61 - p
    val s = regCols.map(c =>
      pow(lit(2.0), lit(maxRho) - col(c)).cast("long")).reduce(_ + _)
    val v = regCols.map(c =>
      when(col(c) === 0, lit(1)).otherwise(lit(0))).reduce(_ + _)
    val raw = lit(0.7213) / (lit(1.0) + lit(1.079) / lit(m.toDouble)) *
      lit(m.toDouble) * lit(m.toDouble) * lit(math.pow(2.0, maxRho)) /
      s.cast("double")
    val est = when(raw <= lit(2.5 * m) && v > 0,
      lit(m.toDouble) * log(lit(m.toDouble) / v.cast("double")))
      .otherwise(raw)
    regs.select(round(est, 4).as("est"))
      .agg(round(sum("est"), 2).as("nf"))
      .select(lit(r.toLong).as("r"), col("nf"))
  }
}
