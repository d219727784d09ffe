package graft.algorithms

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Neighborhood-overlap link prediction over an undirected graph —
  * common-neighbor count, Jaccard coefficient and Adamic–Adar score
  * (Adamic & Adar 2003) for node pairs that are NOT yet edges. The
  * reference ships the adjacency/degree machinery these compose from
  * (reference: src/algorithms/structure.rs degree + neighborhood
  * views); the scores themselves are the standard missing-link ranking
  * a graph-backed recommender serves.
  *
  * Plan shape: one wedge enumeration — (a,w),(w,b) joined on the shared
  * neighbor w, so each candidate pair arrives once per common
  * neighbor — then one map-side-combined groupBy(a,b) that
  * simultaneously counts common neighbors and sums the per-neighbor
  * Adamic–Adar weight 1/ln(deg(w)) (attached to the wedge BEFORE the
  * join, so no post-hoc per-neighbor lookup). Existing edges leave via
  * one left-anti join; endpoint degrees arrive via two |V|-bounded
  * joins for the Jaccard denominator.
  *
  * Scale: unrestricted all-pairs wedge enumeration is Σ_w deg(w)² rows
  * — measured 3×10⁸ on the sf0.1 co-occurrence graph and growing
  * quadratically in density, so the ALL-pairs form is reserved for
  * label-bounded subgraphs. The production form is `focal`-bounded:
  * candidates for a query node set (the recommender's "users to serve
  * this batch"), which prunes the wedge stream at its SOURCE — the
  * first join's left side shrinks to the focal adjacency, bounding
  * wedges by Σ_{a∈focal} deg(a)·max-deg — while scores for the served
  * pairs stay exactly the all-pairs values. `hubCap` additionally
  * drops wedge CENTERS with deg(w) > cap (a hub contributes ≈ nothing
  * to Adamic–Adar — 1/ln is flat — but deg(w)² wedge rows), the same
  * bounding idea as the winnow maxDf cap; 0 = exact, the oracle
  * regime. */
object LinkPrediction {

  /** Scores for every non-adjacent candidate pair (a, b) with ≥ 1
    * common neighbor, a ranked against b for every a in `focal` (or
    * ALL nodes when None — then emitted once per unordered pair with
    * a < b). `symEdges` must be the symmetric view of a SIMPLE
    * undirected graph — multi-edges would double-count neighbors.
    * Output: (a, b, cn, jaccard, aa), doubles rounded 6 dp. */
  def scores(symEdges: DataFrame, focal: Option[DataFrame] = None,
             hubCap: Int = 0): DataFrame = {
    // The edge frame is read five times (degrees, both wedge sides,
    // the existing-edge anti, via deg the endpoint degrees). Callers
    // pass a CACHED view (DerivedGraphs memo-persists the underlying
    // pair table), so each reference is a cheap cached scan — the
    // earlier eager localCheckpoint paid a full block-storage write of
    // the 2|E| sym frame up front for the same sharing.
    val e = symEdges
    // the degree table is read four times (centers, gate count, both
    // endpoint joins) and costs a full-edge shuffle to derive — ONE
    // materialization
    val deg = e.groupBy(col("src").as("id"))
      .agg(count(lit(1)).as("deg")).persist()
    // |V| is the standard dual-regime gate: the degree table is a
    // broadcastable dim at test SFs and a shuffle join past it
    val nV = deg.count()
    def degSide(dim: DataFrame): DataFrame =
      Tuning.broadcastIfFits(dim, nV)
    val centers0 = deg.select(col("id").as("w"), col("deg").as("wdeg"))
    val centers = if (hubCap > 0) centers0.filter(col("wdeg") <= hubCap)
                  else centers0
    val aSide0 = e.select(col("dst").as("w"), col("src").as("a"))
    // Focal regime: the query node set is the serving batch — small BY
    // CONTRACT — so it broadcasts into the semi join (no shuffle of
    // the 2|E| frame to restrict it), and the resulting focal
    // adjacency (Σ_{a∈focal} deg(a) rows) broadcasts into the wedge
    // join, so the edge frame is NEVER shuffled to enumerate wedges;
    // the first shuffle in the whole plan is the map-side-combined
    // candidate groupBy.
    val aSide = focal.fold(aSide0)(f =>
      aSide0.join(broadcast(f.select(col("id").as("a"))),
        Seq("a"), "left_semi"))
    // gate the adjacency broadcast on its actual row count (one cheap
    // cached-scan job) — a hub-heavy focal batch past the threshold
    // degrades to shuffle joins, never a driver OOM
    val aCnt = if (focal.isDefined) aSide.count() else Long.MaxValue
    def focalSide(dim: DataFrame): DataFrame =
      Tuning.broadcastIfFits(dim, aCnt)
    val aCentered0 = aSide.join(degSide(centers), Seq("w"))
    val aCentered =
      if (focal.isDefined) focalSide(aCentered0) else aCentered0
    // wedge stream: a —w— b with the AA weight riding the center
    val wedges = aCentered
      .join(e.select(col("src").as("w"), col("dst").as("b")), Seq("w"))
      .filter(if (focal.isEmpty) col("a") < col("b") else col("a") =!= col("b"))
      .groupBy("a", "b")
      .agg(count(lit(1)).as("cn"),
        sum(lit(1.0) / log(col("wdeg"))).as("aa_raw"))
    // with focal, only edges out of focal nodes can collide with a
    // candidate pair — the anti side shrinks from 2|E| to the batch
    // adjacency (broadcastable) before the join
    val existing =
      if (focal.isEmpty)
        e.filter(col("src") < col("dst"))
          .select(col("src").as("a"), col("dst").as("b"))
      else
        focalSide(e.join(broadcast(focal.get.select(col("id").as("src"))),
            Seq("src"), "left_semi")
          .select(col("src").as("a"), col("dst").as("b")))
    wedges
      .join(existing, Seq("a", "b"), "left_anti")
      .join(degSide(deg.select(col("id").as("a"), col("deg").as("dega"))),
        Seq("a"))
      .join(degSide(deg.select(col("id").as("b"), col("deg").as("degb"))),
        Seq("b"))
      .select(col("a"), col("b"), col("cn").cast("long").as("cn"),
        round(col("cn") / (col("dega") + col("degb") - col("cn")), 6)
          .as("jaccard"),
        round(col("aa_raw"), 6).as("aa"))
  }

  /** Top-`n` predicted links by (aa desc, a asc, b asc) — the bounded
    * report a recommender actually serves. TakeOrdered on the scored
    * frame: no full sort materializes. */
  def topPredictions(symEdges: DataFrame, focal: Option[DataFrame],
                     n: Int, hubCap: Int = 0): DataFrame =
    scores(symEdges, focal, hubCap)
      .orderBy(col("aa").desc, col("a").asc, col("b").asc)
      .limit(n)
}
