package graft.pipeline

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Principal-component extraction over the embedding table — the
  * whitening/compression statistic an embedding pipeline computes
  * before deciding how many dimensions actually carry signal (and the
  * spiritual upgrade of [[Similarity.jlProject]]'s data-oblivious
  * projection).
  *
  * The covariance fold is ONE algebraic pass: C_ij = Σx_i·x_j/n −
  * μ_i·μ_j, so no centering join ever touches the data — the exploded
  * self-join per vector emits d² products that map-side-combine down
  * to a d×d frame (d² shuffle rows TOTAL at any corpus size; the n·d²
  * multiply work is the irreducible covariance cost and it scales out
  * perfectly). Power iteration then runs on the d×d frame: under
  * the [[graft.algorithms.Tuning]] gate it folds on the
  * driver (a d²-double array — microseconds); past the gate each step
  * is one broadcast-size join + map-side sum, the same dual-regime
  * contract as the graph kernels. The start vector is uniform 1/√d,
  * so the converged sign is deterministic and both engines agree.
  */
object Pca {

  /** (pos, loading, eigval, var_explained) for the top principal
    * component after `iters` power-iteration steps: per-dimension
    * loading of the dominant eigenvector, the Rayleigh eigenvalue
    * estimate vᵀCv, and its share of total variance (trace). */
  /** The d×d covariance frame C_ij = Σx_i·x_j/n − μ_i·μ_j (one
    * algebraic pass — see the module doc). */
  private def covariance(emb: DataFrame): DataFrame = {
    val e = Similarity.exploded(emb)
    val n1 = e.agg(countDistinct("vec_id").cast("double").as("n"))
    val mu = e.groupBy("pos").agg(sum("x").as("sx"))
      .crossJoin(broadcast(n1))
      .select(col("pos"), (col("sx") / col("n")).as("mu"))
    val prod = e.select(col("vec_id"), col("pos").as("i"), col("x").as("xi"))
      .join(e.select(col("vec_id"), col("pos").as("j"), col("x").as("xj")),
        Seq("vec_id"))
      .groupBy("i", "j").agg(sum(col("xi") * col("xj")).as("sxy"))
    prod
      .join(broadcast(mu.select(col("pos").as("i"), col("mu").as("mi"))), Seq("i"))
      .join(broadcast(mu.select(col("pos").as("j"), col("mu").as("mj"))), Seq("j"))
      .crossJoin(broadcast(n1))
      .select(col("i"), col("j"),
        (col("sxy") / col("n") - col("mi") * col("mj")).as("c"))
  }

  /** Dual-regime power iteration on a (not yet checkpointed) d×d
    * matrix frame. */
  private def powerTop(cov: DataFrame, iters: Int): DataFrame = {
    val (covCk, cells) = graft.algorithms.Probe.checkpointCounted(cov)
    if (graft.algorithms.Tuning.fits(cells))
      pcaLocal(covCk, iters)
    else pcaDistributed(covCk, iters)
  }

  def pcaTop(emb: DataFrame, iters: Int = 15): DataFrame = {
    require(iters >= 1, "pcaTop needs iters >= 1")
    powerTop(covariance(emb), iters)
  }

  /** Second principal component by deflation: C′ = C − λ̂₁·v̂₁v̂₁ᵀ
    * with the ROUNDED first component exactly as [[pcaTop]] publishes
    * it (6-dp loading and eigenvalue — the published-artifact
    * convention [[pcaProject]] already follows, and what keeps the
    * deflated matrix bit-identical across engines), then the same
    * dual-regime power iteration on C′. `var_explained` is the share
    * of the REMAINING variance (trace of C′) — the number that
    * answers "after PC1, how much of what's left does PC2 carry".
    *
    * Scale: covariance is computed ONCE (checkpointed d×d frame);
    * deflation is two broadcast d-row joins over d² cells; the
    * iteration cost is identical to [[pcaTop]]'s. */
  def pcaSecond(emb: DataFrame, iters: Int = 15): DataFrame = {
    require(iters >= 1, "pcaSecond needs iters >= 1")
    val (covCk, cells) = graft.algorithms.Probe.checkpointCounted(covariance(emb))
    val local = graft.algorithms.Tuning.fits(cells)
    val first =
      (if (local) pcaLocal(covCk, iters) else pcaDistributed(covCk, iters))
        .select(col("pos"), col("loading"), col("eigval"))
    val cov2 = covCk
      .join(broadcast(first.select(col("pos").as("i"),
        col("loading").as("li"), col("eigval").as("e"))), Seq("i"))
      .join(broadcast(first.select(col("pos").as("j"),
        col("loading").as("lj"))), Seq("j"))
      .select(col("i"), col("j"),
        (col("c") - col("e") * col("li") * col("lj")).as("c"))
    if (local) pcaLocal(cov2, iters) else pcaDistributed(cov2, iters)
  }

  /** Project every vector onto the top component: coord(v) =
    * Σ_pos (x − μ_pos)·loading_pos — the 1-D "semantic axis"
    * coordinate used for sharding embeddings by dominant direction
    * (and the first column of a PCA-reduced feature table). One
    * broadcast of the (μ, loading) dim table into a per-row fold; the
    * component itself comes from [[pcaTop]]. */
  def pcaProject(emb: DataFrame, iters: Int = 15): DataFrame = {
    val e = Similarity.exploded(emb)
    val n1 = e.agg(countDistinct("vec_id").cast("double").as("n"))
    val mu = e.groupBy("pos").agg(sum("x").as("sx"))
      .crossJoin(broadcast(n1))
      .select(col("pos"), (col("sx") / col("n")).as("mu"))
    val dims = pcaTop(emb, iters).select(col("pos"), col("loading"))
      .join(mu, Seq("pos"))
    e.join(broadcast(dims), Seq("pos"))
      .groupBy("vec_id")
      .agg(round(sum((col("x") - col("mu")) * col("loading")), 6).as("coord"))
  }

  /** Driver fold: identical iteration on the collected d×d array. */
  private def pcaLocal(cov: DataFrame, iters: Int): DataFrame = {
    val spark = cov.sparkSession
    val rows = cov.select(col("i").cast("int"), col("j").cast("int"),
      col("c")).collect()
    val d = rows.map(_.getInt(0)).max + 1
    val m = Array.ofDim[Double](d, d)
    rows.foreach(r => m(r.getInt(0))(r.getInt(1)) = r.getDouble(2))
    var v = Array.fill(d)(1.0 / math.sqrt(d.toDouble))
    for (_ <- 1 to iters) {
      val nv = Array.tabulate(d)(i =>
        (0 until d).map(j => m(i)(j) * v(j)).sum)
      val nrm = math.sqrt(nv.map(x => x * x).sum)
      if (nrm != 0.0) v = nv.map(_ / nrm)
    }
    val eig = (0 until d).map(i =>
      v(i) * (0 until d).map(j => m(i)(j) * v(j)).sum).sum
    val trace = (0 until d).map(i => m(i)(i)).sum
    import spark.implicits._
    (0 until d).map(i => (i.toLong,
        math.rint(v(i) * 1e6) / 1e6,
        math.rint(eig * 1e6) / 1e6,
        math.rint(eig / trace * 1e6) / 1e6))
      .toDF("pos", "loading", "eigval", "var_explained")
  }

  /** Distributed twin: each step one join of the d×d frame against the
    * d-row vector + a map-side-combined sum; normalizers and the final
    * Rayleigh/trace scalars ride observe/broadcast — never a collect
    * of data-scale frames. */
  private def pcaDistributed(cov: DataFrame, iters: Int): DataFrame = {
    val dRow = cov.agg((max("i") + 1).cast("double").as("d"))
    var v = cov.select(col("i").as("pos")).distinct()
      .crossJoin(broadcast(dRow))
      .select(col("pos"), (lit(1.0) / sqrt(col("d"))).as("v"))
      .localCheckpoint()
    for (_ <- 1 to iters) {
      val (raw, m) = graft.algorithms.Probe.checkpointObserved(
        cov.join(v.select(col("pos").as("j"), col("v")), Seq("j"))
          .groupBy(col("i").as("pos")).agg(sum(col("c") * col("v")).as("nv")),
        sum(col("nv") * col("nv")).as("ss"))
      val nrm = math.sqrt(m("ss").asInstanceOf[Double])
      v =
        if (nrm == 0.0) v
        else raw.select(col("pos"), (col("nv") / lit(nrm)).as("v"))
          .localCheckpoint()
    }
    val cv = cov.join(v.select(col("pos").as("j"), col("v")), Seq("j"))
      .groupBy(col("i").as("pos")).agg(sum(col("c") * col("v")).as("cv"))
    val eig = cv.join(v, Seq("pos"))
      .agg(sum(col("v") * col("cv")).as("eigval"))
    val trace = cov.filter(col("i") === col("j")).agg(sum("c").as("trace"))
    v.crossJoin(broadcast(eig)).crossJoin(broadcast(trace))
      .select(col("pos"),
        round(col("v"), 6).as("loading"),
        round(col("eigval"), 6).as("eigval"),
        round(col("eigval") / col("trace"), 6).as("var_explained"))
  }

  /** Effective rank (participation ratio) of the embedding
    * covariance: PR = (Σλ)²/Σλ² = tr(C)²/‖C‖²_F — since C is
    * symmetric, the Frobenius norm IS Σλ², so no eigendecomposition
    * is ever needed. The one-number answer to "how many dimensions
    * does this embedding actually use": PR = d for isotropic
    * embeddings, PR → 1 under rank collapse — the spectral
    * complement of [[pcaTop]]'s single-direction reading and the
    * [[Similarity.anisotropy]] mean-vector test. `rank_share` =
    * PR/d is the dimension-free health number.
    *
    * Scale: the shared one-pass covariance fold (d² shuffle rows at
    * any corpus size); everything after is one aggregate over the
    * d×d frame. Returns one row (n_dims, trace, frobenius2,
    * effective_rank, rank_share). */
  def effectiveRank(emb: DataFrame): DataFrame = {
    val cov = covariance(emb)
    val pr = col("tr") * col("tr") / col("fro2")
    cov.agg(count(lit(1)).as("cells"),
        sum(when(col("i") === col("j"), col("c")).otherwise(lit(0.0)))
          .as("tr"),
        sum(col("c") * col("c")).as("fro2"))
      .select(
        sqrt(col("cells").cast("double")).cast("long").as("n_dims"),
        round(col("tr"), 6).as("trace"),
        round(col("fro2"), 6).as("frobenius2"),
        round(pr, 6).as("effective_rank"),
        round(pr / sqrt(col("cells").cast("double")), 6).as("rank_share"))
  }
}
