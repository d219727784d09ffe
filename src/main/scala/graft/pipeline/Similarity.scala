package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Similarity search over the `embeddings` table (vec_id, embedding
  * Array[Float], label) — brief-mandated ANN surface.
  *
  * Brute-force cosine is the correctness baseline: it explodes vectors to
  * (id, pos, x) rows and joins on position, bounded by a probe-set limit
  * (never all-pairs). The LSH variant is the scale path: deterministic
  * random-hyperplane signs (weights derived from the shared md5 hash, so
  * the oracle reproduces them) bucket the vectors; probes only score
  * their own bucket.
  */
object Similarity {

  /** (vec_id, pos, x) with pos 0-based and x cast to double. */
  def exploded(emb: DataFrame): DataFrame =
    emb.select(col("vec_id"), posexplode(col("embedding")))
      .select(col("vec_id"), col("pos").cast("long").as("pos"),
        col("col").cast("double").as("x"))

  def norms(emb: DataFrame): DataFrame =
    exploded(emb).groupBy("vec_id")
      .agg(sqrt(sum(col("x") * col("x"))).as("nrm"))

  /** Brute-force cosine top-k for probes vec_id < probeMax. Ties and
    * float-noise are neutralized by ranking on (rounded cosine, vid). */
  def cosineTopK(emb: DataFrame, probeMax: Long = 10L, k: Int = 5): DataFrame = {
    graft.sql.ArrayCosine.register(emb.sparkSession)
    // array-borne brute force (round 15, guide §2.3/§4): the probe rows
    // broadcast into one nested-loop pass over the candidates and the
    // fused array_cosine loop replaces the |probes|·n·d exploded join +
    // hash aggregate + two norm joins — same probe-set-bounded cost
    // model, same 6-dp values. Null/empty vectors mirror exploded():
    // they produce no rows on either side.
    val v = emb.filter(col("embedding").isNotNull &&
      size(col("embedding")) > 0)
    val probes = v.filter(col("vec_id") < probeMax)
      .select(col("vec_id").as("qid"), col("embedding").as("qe"))
    val cands = v.filter(col("vec_id") >= probeMax)
      .select(col("vec_id").as("vid"), col("embedding").as("e"))
    val cos = cands.crossJoin(broadcast(probes))
      .select(col("qid"), col("vid"),
        round(expr("array_cosine(qe, e)"), 6).as("cosine"))
    val w = Window.partitionBy("qid").orderBy(col("cosine").desc, col("vid").asc)
    cos.withColumn("rnk", row_number().over(w)).filter(col("rnk") <= k)
      .select(col("qid"), col("vid"), col("cosine"), col("rnk").cast("long").as("rnk"))
  }

  /** Deterministic hyperplane weights: (plane, pos, w) with
    * w = hash60("lsh:p:d") % 2001 − 1000 ∈ [−1000, 1000]. */
  def planeWeights(spark: org.apache.spark.sql.SparkSession,
                   planes: Int, dims: Int): DataFrame =
    spark.range(planes).select(col("id").as("plane"))
      .crossJoin(spark.range(dims).select(col("id").as("pos")))
      .select(col("plane"), col("pos"),
        (TextOps.hash60(concat(col("plane"), lit(":"), col("pos")), "lsh:")
          % 2001L - 1000L).as("w"))

  /** Bucket id per vector: sign bits of `planes` hyperplane projections.
    * Dimensionality is derived from the data (one weight row per distinct
    * position actually present — no fixed-dims assumption), so any
    * embedding width works; the weight table is dims·planes rows and
    * broadcast into the projection join. */
  def lshBuckets(emb: DataFrame, planes: Int = 4): DataFrame = {
    val ex = exploded(emb)
    val pl = emb.sparkSession.range(planes).select(col("id").as("plane"))
    val w = ex.select("pos").distinct().crossJoin(pl)
      .select(col("plane"), col("pos"),
        (TextOps.hash60(concat(col("plane"), lit(":"), col("pos")), "lsh:")
          % 2001L - 1000L).as("w"))
    ex.join(broadcast(w), Seq("pos"))
      .groupBy("vec_id", "plane").agg(sum(col("w") * col("x")).as("proj"))
      .groupBy("vec_id")
      .agg(sum(when(col("proj") >= 0,
          expr("shiftleft(CAST(1 AS BIGINT), CAST(plane AS INT))"))
        .otherwise(0L)).as("bucket"))
  }

  /** Embedding-norm profile per label: count, mean, exact lower-median
    * (2·cum ≥ n on the 6-dp-rounded norm VALUE frame), min, max — the
    * storage-hygiene pass run before cosine ops (wild norm spread
    * breaks dot-product shortcuts and flags unnormalized ingestion).
    * Returns (label, n_vecs, mean_nrm, p50_nrm, min_nrm, max_nrm).
    *
    * Scale: one norm aggregate + windows over the per-label
    * distinct-norm-value frame — bounded by the 6 dp value domain. */
  def normProfile(emb: DataFrame): DataFrame = {
    val rn = norms(emb)
      .select(col("vec_id"), round(col("nrm"), 6).as("rn"))
      .join(emb.select(col("vec_id"), col("label").cast("long").as("label")),
        Seq("vec_id"))
    val vc = rn.groupBy("label", "rn").agg(count(lit(1)).as("c"))
    val w = Window.partitionBy("label").orderBy("rn")
    val p50 = vc
      .withColumn("cum", sum("c").over(w))
      .withColumn("n", sum("c").over(Window.partitionBy("label")
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)))
      .filter(col("cum") * 2 >= col("n"))
      .groupBy("label").agg(min("rn").as("p50_nrm"))
    rn.groupBy("label")
      .agg(count(lit(1)).cast("long").as("n_vecs"),
        round(avg("rn"), 6).as("mean_nrm"),
        min("rn").as("min_nrm"), max("rn").as("max_nrm"))
      .join(p50, Seq("label"))
      .select(col("label"), col("n_vecs"), col("mean_nrm"),
        col("p50_nrm"), col("min_nrm"), col("max_nrm"))
      .orderBy("label")
  }

  /** Hubness audit of the embedding space (Radovanović et al. 2010):
    * the in-degree histogram of the k-NN digraph — high-dimensional
    * spaces grow "hub" vectors that appear in a disproportionate share
    * of neighbor lists and silently dominate retrieval/dedup decisions.
    * The k-NN graph is the LSH-bucketed one (every vector queries its
    * OWN bucket, [[lshBuckets]] planes), so the candidate space stays
    * bucket-bounded at any corpus size — never all-pairs. Returns
    * (in_deg, n_vecs): how many vectors are cited by exactly in_deg
    * neighbor lists (0 row included — anti-hubs are the other half of
    * the pathology).
    *
    * Scale: pairs are per-bucket; the per-query top-k window partitions
    * by qid; the histogram is one count shuffle over ≤k·n edges.
    * Cosine rides the fused codegen'd `array_cosine` loop over the
    * vector ARRAYS (round 15, guide §2.3/§4): the former
    * (bucket, pos)-keyed exploded self-join ballooned to |pairs|·d
    * rows through a hash aggregate plus two norm joins; the array
    * self-join on `bucket` alone moves |pairs| rows and zero extra
    * joins — same Σ bucket² candidate bound, same 6-dp values. */
  def hubness(emb: DataFrame, planes: Int = 4, k: Int = 3): DataFrame = {
    graft.sql.ArrayCosine.register(emb.sparkSession)
    val b = lshBuckets(emb, planes)
    // mirror exploded()'s implicit frame: null/empty vectors have no
    // exploded rows, so they carry no bucket and score no pairs
    val v = emb.filter(col("embedding").isNotNull &&
        size(col("embedding")) > 0)
      .select(col("vec_id"), col("embedding"))
    val left = v.join(b, Seq("vec_id"))
      .select(col("vec_id").as("qid"), col("bucket"),
        col("embedding").as("qe"))
    val right = v.join(b, Seq("vec_id"))
      .select(col("vec_id").as("vid"), col("bucket"),
        col("embedding").as("e"))
    val cos = left.join(right, Seq("bucket"))
      .filter(col("qid") =!= col("vid"))
      .select(col("qid"), col("vid"),
        round(expr("array_cosine(qe, e)"), 6).as("cosine"))
    val w = Window.partitionBy("qid").orderBy(col("cosine").desc, col("vid").asc)
    val knn = cos.withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= k)
    val indeg = knn.groupBy(col("vid").as("vec_id"))
      .agg(count(lit(1)).as("in_deg"))
    v.select("vec_id")
      .join(indeg, Seq("vec_id"), "left")
      .select(coalesce(col("in_deg"), lit(0L)).as("in_deg"))
      .groupBy("in_deg").agg(count(lit(1)).cast("long").as("n_vecs"))
      .orderBy("in_deg")
  }

  /** IVF coarse quantizer: deterministic k-means cluster per vector.
    * Seeds are the k vectors with the smallest hash60(vec_id) (no RNG —
    * reproducible across runs/engines), refined by `lloyd` iterations of
    * DataFrame k-means: assign = per-vector argmin squared-L2 against
    * the broadcast centroid table (ties → smaller cluster id), update =
    * per-cluster per-position mean. All set-oriented: n·k distance rows
    * per pass, never materializing pairwise vector products.
    *
    * Spec-only (no DuckDB oracle): iterated float means are not
    * bit-stable across engines, so the LSH variant remains the
    * oracle-checked scale path. */
  def ivfAssignments(emb: DataFrame, k: Int = 16, lloyd: Int = 2): DataFrame = {
    val e = exploded(emb).localCheckpoint()
    val seeds = emb.select(col("vec_id"))
      .orderBy(TextOps.hash60(col("vec_id").cast("string"), "ivf:").asc,
        col("vec_id").asc)
      .limit(k)
      .withColumn("cluster", row_number().over(
        org.apache.spark.sql.expressions.Window.orderBy(
          TextOps.hash60(col("vec_id").cast("string"), "ivf:").asc,
          col("vec_id").asc)).cast("long") - 1)
    var centroids = e.join(seeds, Seq("vec_id"))
      .select(col("cluster"), col("pos"), col("x").as("c")).localCheckpoint()
    var assign: DataFrame = null
    for (_ <- 0 to lloyd) {
      assign = e.join(broadcast(centroids), Seq("pos"))
        .groupBy("vec_id", "cluster")
        .agg(sum((col("x") - col("c")) * (col("x") - col("c"))).as("d2"))
        .groupBy("vec_id")
        .agg(min_by(col("cluster"), struct(col("d2"), col("cluster"))).as("cluster"))
        .localCheckpoint()
      centroids = e.join(assign, Seq("vec_id"))
        .groupBy("cluster", "pos").agg(avg(col("x")).as("c"))
        .localCheckpoint()
    }
    assign
  }

  /** IVF-bucketed ANN: probes search the `nprobe` nearest centroid
    * lists only. With nprobe = k this degenerates to exact brute-force
    * top-k (every list searched) — the recall dial from approximate to
    * exact. */
  def annIvf(emb: DataFrame, k: Int = 16, lloyd: Int = 2, nprobe: Int = 2,
             probeMax: Long = 10L, topK: Int = 3): DataFrame = {
    require(nprobe >= 1 && nprobe <= k, "bad nprobe")
    // Dual regime, keyed on the total CELL count (vectors × dims — the
    // collect payload): the whole pipeline is a dozen scheduler-floor jobs
    // over tiny frames (lloyd rounds, shortlist window, candidate joins),
    // so a packed driver replay wins by the job-count floor while the data
    // fits. Float sums run in a different order than the distributed
    // partial aggregates, which the 6-dp cosine rounding absorbs (same
    // accepted divergence as every float aggregate; q_ann_ivf is rows-only
    // by design and the nprobe=k ≡ cosineTopK exactness invariant is
    // arithmetic-independent). Past the gate the set-oriented plan below
    // is the 100 TB path.
    val (embCk, mEmb) = graft.algorithms.Probe.checkpointObserved(
      emb.select(col("vec_id"), col("embedding")),
      sum(size(col("embedding"))).as("cells"))
    val cells = Option(mEmb("cells")).fold(0L)(_.asInstanceOf[Long])
    if (graft.algorithms.Tuning.fits(cells))
      return annIvfLocal(embCk, k, lloyd, nprobe, probeMax, topK)
    val e = exploded(embCk)
    val n = norms(embCk)
    val assign = ivfAssignments(embCk, k, lloyd)
    // per-probe centroid shortlist: distance of the probe to every
    // centroid, keep the nprobe nearest (ties → smaller cluster id)
    val centroids = e.join(assign, Seq("vec_id"))
      .groupBy("cluster", "pos").agg(avg(col("x")).as("c"))
    val probeDist = e.filter(col("vec_id") < probeMax)
      .join(broadcast(centroids), Seq("pos"))
      .groupBy(col("vec_id").as("qid"), col("cluster"))
      .agg(sum((col("x") - col("c")) * (col("x") - col("c"))).as("d2"))
    val wProbe = Window.partitionBy("qid")
      .orderBy(col("d2").asc, col("cluster").asc)
    val shortlist = probeDist.withColumn("rn", row_number().over(wProbe))
      .filter(col("rn") <= nprobe).select("qid", "cluster")
    val cands = shortlist
      .join(assign.select(col("vec_id").as("vid"), col("cluster")), Seq("cluster"))
      .filter(col("vid") >= probeMax).select("qid", "vid")
    val dots = cands
      .join(e.select(col("vec_id").as("qid"), col("pos"), col("x").as("qx")), Seq("qid"))
      .join(e.select(col("vec_id").as("vid"), col("pos"), col("x")), Seq("vid", "pos"))
      .groupBy("qid", "vid").agg(sum(col("qx") * col("x")).as("dot"))
    val cos = dots
      .join(n.select(col("vec_id").as("qid"), col("nrm").as("qn")), Seq("qid"))
      .join(n.select(col("vec_id").as("vid"), col("nrm").as("vn")), Seq("vid"))
      .select(col("qid"), col("vid"),
        round(col("dot") / (col("qn") * col("vn")), 6).as("cosine"))
    val w = Window.partitionBy("qid").orderBy(col("cosine").desc, col("vid").asc)
    cos.withColumn("rnk", row_number().over(w)).filter(col("rnk") <= topK)
      .select(col("qid"), col("vid"), col("cosine"), col("rnk").cast("long").as("rnk"))
  }

  /** The same IVF pipeline on the driver: deterministic hash-ordered
    * seeds, lloyd+1 assign/update rounds (empty clusters drop out of
    * competition exactly like the vanished groupBy rows), nprobe
    * shortlist by (d2, cluster), candidate scoring, 6-dp-rounded cosine
    * and (cosine desc, vid) top-k. Only called under the cell-count
    * gate. */
  private def annIvfLocal(emb: DataFrame, k: Int, lloyd: Int, nprobe: Int,
                          probeMax: Long, topK: Int): DataFrame = {
    val spark = emb.sparkSession
    import spark.implicits._
    val rows = emb.select(col("vec_id").cast("long"),
        TextOps.hash60(col("vec_id").cast("string"), "ivf:").as("h"),
        col("embedding").cast("array<double>").as("v")).rdd
      .mapPartitions { it =>
        val b = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Array[Double])]
        it.foreach { r => b += ((r.getLong(0), r.getLong(1), r.getSeq[Double](2).toArray)) }
        Iterator.single(b.toArray)
      }.collect().flatten
    val n = rows.length
    if (n == 0)
      return Seq.empty[(Long, Long, Double, Long)].toDF("qid", "vid", "cosine", "rnk")
    val ids = rows.map(_._1); val vecs = rows.map(_._3)
    val dims = vecs.iterator.map(_.length).max
    val seedOrd = Array.range(0, n)
      .sortBy(i => (rows(i)._2, ids(i))).take(k)
    val kk = seedOrd.length
    var cent: Array[Array[Double]] = seedOrd.map(i => vecs(i).clone())
    val active = Array.fill(kk)(true)
    val assign = new Array[Int](n)
    def d2(v: Array[Double], c: Array[Double]): Double = {
      val L = math.min(v.length, c.length)
      var s = 0.0; var p = 0
      while (p < L) { val dx = v(p) - c(p); s += dx * dx; p += 1 }
      s
    }
    var r = 0
    while (r <= lloyd) {
      var i = 0
      while (i < n) {
        var bc = -1; var bd = Double.PositiveInfinity
        var c = 0
        while (c < kk) {
          if (active(c)) {
            val d = d2(vecs(i), cent(c))
            if (d < bd) { bd = d; bc = c } // ties → smaller cluster id
          }
          c += 1
        }
        assign(i) = bc
        i += 1
      }
      // Per-POSITION member counts, not cluster size: the distributed
      // update is groupBy(cluster, pos).agg(avg(x)) over exploded rows,
      // so each position averages only the member vectors that HAVE it.
      // Ragged (variable-length) embeddings would otherwise assign
      // differently on the two sides of the driver gate. A member of
      // length L contributes to positions 0..L-1, so the per-pos count
      // is non-increasing and the centroid's length is its longest
      // member's — exactly the row set the exploded-join update sees.
      val sums = Array.fill(kk)(new Array[Double](dims))
      val pcnt = Array.fill(kk)(new Array[Int](dims))
      val cnts = new Array[Int](kk)
      i = 0
      while (i < n) {
        val c = assign(i); val v = vecs(i); cnts(c) += 1
        var p = 0; while (p < v.length) { sums(c)(p) += v(p); pcnt(c)(p) += 1; p += 1 }
        i += 1
      }
      var c = 0
      while (c < kk) {
        if (cnts(c) == 0) active(c) = false
        else {
          var len = dims
          while (len > 0 && pcnt(c)(len - 1) == 0) len -= 1
          val nc = new Array[Double](len)
          var p = 0
          while (p < len) { nc(p) = sums(c)(p) / pcnt(c)(p); p += 1 }
          cent(c) = nc
        }
        c += 1
      }
      r += 1
    }
    val nrm = vecs.map(v => math.sqrt(v.map(x => x * x).sum))
    def round6(d: Double): Double =
      java.math.BigDecimal.valueOf(d)
        .setScale(6, java.math.RoundingMode.HALF_UP).doubleValue()
    val out = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Double, Long)]
    var i = 0
    while (i < n) {
      if (ids(i) < probeMax) {
        val short = (0 until kk).filter(active)
          .sortBy(c => (d2(vecs(i), cent(c)), c)).take(nprobe).toSet
        val scored = scala.collection.mutable.ArrayBuffer.empty[(Double, Long)]
        var j = 0
        while (j < n) {
          if (ids(j) >= probeMax && short.contains(assign(j))) {
            val L = math.min(vecs(i).length, vecs(j).length)
            var dot = 0.0; var p = 0
            while (p < L) { dot += vecs(i)(p) * vecs(j)(p); p += 1 }
            scored += ((round6(dot / (nrm(i) * nrm(j))), ids(j)))
          }
          j += 1
        }
        scored.sortBy { case (cos, vid) => (-cos, vid) }
          .take(topK).zipWithIndex.foreach { case ((cos, vid), rk) =>
            out += ((ids(i), vid, cos, (rk + 1).toLong)) }
      }
      i += 1
    }
    out.toSeq.toDF("qid", "vid", "cosine", "rnk")
  }

  /** Embedding-cosine near-duplicate pairs — the dedup-flavored member
    * of the similarity family: hyperplane-LSH candidate generation over
    * the whole table (same deterministic buckets as annLsh; more planes
    * by default, near-dup wants tight buckets) + exact cosine per
    * candidate via the native codegen'd `array_cosine` expression (one
    * fused loop per pair, no explode), keeping unordered pairs with
    * cosine ≥ minCosine. Candidate volume is Σ bucket², never
    * all-pairs. */
  def cosineNearDup(emb: DataFrame, planes: Int = 8,
                    minCosine: Double = 0.9): DataFrame = {
    graft.sql.ArrayCosine.register(emb.sparkSession)
    val b = lshBuckets(emb, planes)
    val pairs = b.select(col("vec_id").as("a"), col("bucket"))
      .join(b.select(col("vec_id").as("b"), col("bucket")), Seq("bucket"))
      .filter(col("a") < col("b")).select("a", "b")
    pairs
      .join(emb.select(col("vec_id").as("a"), col("embedding").as("ea")), Seq("a"))
      .join(emb.select(col("vec_id").as("b"), col("embedding").as("eb")), Seq("b"))
      .select(col("a"), col("b"),
        round(expr("array_cosine(ea, eb)"), 6).as("cosine"))
      .filter(col("cosine") >= minCosine)
  }

  /** Johnson–Lindenstrauss random projection: reduce `embedding` to
    * `outDims` dimensions with the same deterministic integer weight
    * grid as the LSH planes (hash60("jl:j:d") % 2001 − 1000) — the
    * dimensionality-reduction pass that runs before brute-force or IVF
    * search when the native width is too wide to scan. Long-format
    * output (vec_id, j, y), y = Σ_d w(j,d)·x_d rounded to 4 dp.
    *
    * Scale: the weight table is outDims·dims rows (broadcast); the
    * projection is one (vec_id, j)-keyed map-side-combined aggregate
    * over the exploded vector stream — shuffle bounded by
    * |vectors|·outDims rows, embarrassingly parallel. */
  def jlProject(emb: DataFrame, outDims: Int = 16): DataFrame = {
    require(outDims >= 1, "jlProject needs outDims >= 1")
    val ex = exploded(emb)
    val w = emb.sparkSession.range(outDims).select(col("id").as("j"))
      .crossJoin(ex.select(col("pos")).distinct())
      .select(col("j"), col("pos"),
        (TextOps.hash60(concat(col("j"), lit(":"), col("pos")), "jl:")
          % 2001L - 1000L).as("w"))
    ex.join(broadcast(w), Seq("pos"))
      .groupBy(col("vec_id"), col("j"))
      .agg(round(sum(col("w") * col("x")), 4).as("y"))
  }

  /** SemDeDup (Abbas et al. 2023, arXiv:2303.09540): semantic
    * deduplication inside embedding-space clusters. Pairwise cosine is
    * computed only WITHIN a cluster — here the `label` column stands in
    * for the paper's k-means assignment (production picks k ≈
    * n / target-cluster-size so every cluster stays boundable; the
    * deterministic label keeps the oracle exact where iterated float
    * k-means would not be) — pairs at cosine ≥ `minCosine` form
    * near-dup groups (connected components over the τ-graph), and each
    * group keeps its minimum vec_id as the representative. Returns
    * (vec_id, rep_id, kept) for EVERY vector (singletons keep
    * themselves).
    *
    * Scale: candidate volume is Σ_c |c|² — the paper's own cost model,
    * tuned by cluster granularity, never all-pairs over the table; the
    * per-pair cosine is the fused codegen'd `array_cosine` loop; the CC
    * fixpoint reuses the dual-regime kernel (union-find under the
    * driver gate, pointer-doubling past it). */
  def semDedup(emb: DataFrame, minCosine: Double = 0.3): DataFrame = {
    graft.sql.ArrayCosine.register(emb.sparkSession)
    val side = emb.select(col("label"), col("vec_id"), col("embedding"))
    val pairs = side
      .select(col("label"), col("vec_id").as("a"), col("embedding").as("ea"))
      .join(side.select(col("label"), col("vec_id").as("b"),
        col("embedding").as("eb")), Seq("label"))
      .filter(col("a") < col("b"))
      .select(col("a"), col("b"),
        round(expr("array_cosine(ea, eb)"), 6).as("cosine"))
      // threshold compares the 6-dp ROUNDED value in both engines
      .filter(col("cosine") >= minCosine)
      .select("a", "b")
    val sym = pairs.select(col("a").as("src"), col("b").as("dst"))
      .unionByName(pairs.select(col("b").as("src"), col("a").as("dst")))
    val nodes = sym.select(col("src").as("id")).distinct()
    val (cc, _, converged) =
      graft.algorithms.Community.ccWithRounds(nodes, sym, 15)
    if (!converged) throw new IllegalStateException(
      "semDedup: connected components did not converge")
    emb.select(col("vec_id"))
      .join(cc.withColumnRenamed("id", "vec_id"), Seq("vec_id"), "left")
      .select(col("vec_id"),
        coalesce(col("component"), col("vec_id")).as("rep_id"))
      .withColumn("kept",
        (col("vec_id") === col("rep_id")).cast("long"))
  }

  /** Bucketed ANN: probes score only vectors in their own bucket —
    * plus, with `multiProbe` = m > 0, the m buckets at Hamming distance
    * 1 obtained by flipping each of the first m sign bits (the recall
    * knob: each extra probe trades one more bucket scan for recall; a
    * candidate lives in exactly one bucket, so probe buckets never
    * double-count a pair). */
  def annLsh(emb: DataFrame, planes: Int = 4, probeMax: Long = 10L, k: Int = 3,
             multiProbe: Int = 0): DataFrame = {
    require(multiProbe >= 0 && multiProbe <= planes, "bad multiProbe")
    graft.sql.ArrayCosine.register(emb.sparkSession)
    val b = lshBuckets(emb, planes)
    // array-borne per-bucket scoring (round 15, guide §2.3/§4): join
    // probes to candidates on `bucket` alone and run the fused
    // array_cosine loop — the former (bucket, pos) exploded join +
    // hash aggregate + two norm joins moved |cands|·d rows for the
    // same candidate set. Null/empty vectors mirror exploded().
    val v = emb.filter(col("embedding").isNotNull &&
      size(col("embedding")) > 0)
    val probeBuckets =
      if (multiProbe == 0) b
      else b.select(col("vec_id"), explode(array(
        col("bucket") +: (0 until multiProbe).map(i =>
          col("bucket").bitwiseXOR(lit(1L << i))): _*)).as("bucket"))
    val probes = v.filter(col("vec_id") < probeMax)
      .join(probeBuckets, Seq("vec_id"))
      .select(col("vec_id").as("qid"), col("bucket"), col("embedding").as("qe"))
    val cands = v.filter(col("vec_id") >= probeMax)
      .join(b, Seq("vec_id"))
      .select(col("vec_id").as("vid"), col("bucket"), col("embedding").as("e"))
    val cos = probes.join(cands, Seq("bucket"))
      .select(col("qid"), col("vid"),
        round(expr("array_cosine(qe, e)"), 6).as("cosine"))
    val w = Window.partitionBy("qid").orderBy(col("cosine").desc, col("vid").asc)
    cos.withColumn("rnk", row_number().over(w)).filter(col("rnk") <= k)
      .select(col("qid"), col("vid"), col("cosine"), col("rnk").cast("long").as("rnk"))
  }

  /** Symmetric int8 quantization per vector — the storage-compression
    * pass an embedding store runs before ANN serving (4× smaller than
    * float32): scale = max|x|/127, q_i = floor(x_i/scale + 0.5).
    * Returns per-vector audit stats (scale, dims, sum/min/max of the
    * quantized ints) rather than the opaque byte payload so the DuckDB
    * oracle can check the arithmetic bit-for-bit; floor(·+0.5) is used
    * instead of round() because half-even vs half-away conventions
    * differ across engines while floor of the same IEEE double cannot.
    * Zero vectors quantize to all-zero (scale 0 guard); null/empty
    * embeddings are dropped — the position-exploding oracle never sees
    * them, and emitting audit rows for un-quantizable vectors would
    * break the cross-engine row contract. Narrow map + one
    * aggregate-free higher-order fold per row — no shuffle at all. */
  def quantizeInt8(emb: DataFrame): DataFrame = {
    val scale = expr(
      "aggregate(embedding, CAST(0.0 AS DOUBLE), (m, x) -> greatest(m, abs(CAST(x AS DOUBLE)))) / 127.0")
    val q = "transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) / _scale + 0.5) AS BIGINT))"
    emb.filter(col("embedding").isNotNull && size(col("embedding")) > 0)
      .select(col("vec_id"), col("embedding"), scale.as("_scale"))
      .withColumn("_q",
        when(col("_scale") === 0.0,
          expr("transform(embedding, x -> CAST(0 AS BIGINT))"))
          .otherwise(expr(q)))
      .select(col("vec_id"),
        round(col("_scale"), 6).as("scale"),
        size(col("embedding")).cast("long").as("dims"),
        expr("aggregate(_q, CAST(0 AS BIGINT), (a, v) -> a + v)").as("qsum"),
        expr("array_min(_q)").as("qmin"),
        expr("array_max(_q)").as("qmax"))
  }

  /** Int8 quantization-error audit: per label, the mean and max
    * absolute reconstruction error |x − scale·q| under the
    * [[quantizeInt8]] scheme — the "is int8 good enough for this
    * embedding space" gate run before swapping the similarity index
    * to quantized storage. Per-dimension errors are integerized to
    * 1e-9 units (floor(e·1e9 + 0.5) BIGINT) inside the row fold, so
    * every cross-row sum is exact integer arithmetic and the one
    * double division happens at the end. Returns (label, n_vecs,
    * mean_abs_err, max_abs_err).
    *
    * Scale: narrow per-row fold (no shuffle) + one ≤|labels|-key
    * rollup. Zero-scale (all-zero) vectors reconstruct exactly and
    * contribute zero error. */
  def quantError(emb: DataFrame): DataFrame = {
    val scale = expr(
      "aggregate(embedding, CAST(0.0 AS DOUBLE), (m, x) -> greatest(m, abs(CAST(x AS DOUBLE)))) / 127.0")
    val units =
      """transform(embedding, x -> CAST(floor(
        |  (CAST(x AS DOUBLE) - _scale *
        |   CAST(floor(CAST(x AS DOUBLE) / _scale + 0.5) AS BIGINT))
        |  * 1e9 + 0.5) AS BIGINT))""".stripMargin
    emb.filter(col("embedding").isNotNull && size(col("embedding")) > 0)
      .select(col("label").cast("long").as("label"), col("embedding"),
        scale.as("_scale"))
      .withColumn("_u",
        when(col("_scale") === 0.0,
          expr("transform(embedding, x -> CAST(0 AS BIGINT))"))
          .otherwise(expr(units)))
      .select(col("label"), size(col("embedding")).cast("long").as("dims"),
        expr("aggregate(_u, CAST(0 AS BIGINT), (a, v) -> a + abs(v))")
          .as("usum"),
        expr("aggregate(_u, CAST(0 AS BIGINT), (a, v) -> greatest(a, abs(v)))")
          .as("umax"))
      .groupBy("label")
      .agg(count(lit(1)).cast("long").as("n_vecs"),
        sum("dims").as("ndims"), sum("usum").as("us"), max("umax").as("um"))
      .select(col("label"), col("n_vecs"),
        round(col("us").cast("double") /
          (col("ndims").cast("double") * lit(1e9)), 9).as("mean_abs_err"),
        round(col("um").cast("double") / lit(1e9), 9).as("max_abs_err"))
      .orderBy("label")
  }

  /** Label-balance report: one row — label count, vector count,
    * Shannon entropy of the label distribution, effective number of
    * classes exp(H) and the max/min imbalance ratio — the class-skew
    * gate a training run checks before weighting its sampler.
    *
    * Scale: one ≤|labels|-key count + a 1-row fold. */
  def labelBalance(emb: DataFrame): DataFrame = {
    val lc = emb.filter(col("label").isNotNull)
      .groupBy(col("label").cast("long").as("label"))
      .agg(count(lit(1)).as("n"))
    val h = log(col("tot").cast("double")) -
      col("slc") / col("tot").cast("double")
    lc.agg(count(lit(1)).cast("long").as("n_labels"),
        sum("n").as("tot"),
        sum(col("n").cast("double") * log(col("n").cast("double")))
          .as("slc"),
        max("n").as("nmax"), min("n").as("nmin"))
      .select(col("n_labels"), col("tot").cast("long").as("n_vecs"),
        round(h, 6).as("entropy"),
        round(exp(h), 6).as("eff_classes"),
        round(col("nmax").cast("double") / col("nmin").cast("double"), 6)
          .as("imbalance"))
  }

  /** Embedding outlier audit per label: vectors whose squared
    * distance to their label centroid exceeds `factor`× the label's
    * mean squared distance (dist > 2·RMS at the default 4) — the
    * mislabeled/corrupt-vector screen run before centroid-based ops.
    * Coordinates are quantized to exact 1e-7-unit BIGINTs and every
    * compare is integer: n²·dist²(v) = Σ_p (n·q_vp − Sq_p)² in
    * DECIMAL(38,0) (cast BEFORE multiply — the second-moment
    * discipline), and the outlier test multiplies through by n so no
    * division ever happens. Returns (label, n_vecs, n_outliers,
    * outlier_share, rms_dist).
    *
    * Scale: one explode + two map-side-combined aggregates; the
    * (label,pos) centroid frame broadcasts; compares are per-vector.
    */
  def embedOutliers(emb: DataFrame, factor: Int = 4): DataFrame = {
    require(factor > 0, s"factor must be positive, got $factor")
    val e = emb.filter(col("label").isNotNull &&
        col("embedding").isNotNull && size(col("embedding")) > 0)
      .select(col("label").cast("long").as("label"), col("vec_id"),
        posexplode(col("embedding")).as(Seq("pos", "x")))
      .select(col("label"), col("vec_id"), col("pos"),
        floor(col("x").cast("double") * lit(1e7) + lit(0.5)).cast("long")
          .as("q"))
    val dims = e.groupBy("label", "pos").agg(sum("q").as("sq"))
    val sizes = e.select("label", "vec_id").distinct()
      .groupBy("label").agg(count(lit(1)).as("n"))
    val dist = e
      .join(broadcast(dims), Seq("label", "pos"))
      .join(broadcast(sizes), Seq("label"))
      .select(col("label"), col("vec_id"), col("n"),
        (col("n") * col("q") - col("sq")).cast("decimal(19,0)").as("dq"))
      .groupBy("label", "vec_id", "n")
      .agg(sum(col("dq") * col("dq")).as("d2"))
    val per = dist.groupBy("label", "n")
      .agg(count(lit(1)).as("nv"), sum("d2").as("d2sum"))
    dist.join(per.select(col("label"), col("d2sum")), Seq("label"))
      .select(col("label"), col("n"), col("d2"), col("d2sum"),
        // n²·dist²·n > factor·Σ n²·dist²  ⇔  dist² > factor·mean
        when(col("d2") * col("n").cast("decimal(19,0)") >
          lit(factor) * col("d2sum"), 1L).otherwise(0L).as("out"))
      .groupBy("label")
      .agg(count(lit(1)).cast("long").as("n_vecs"),
        sum("out").cast("long").as("n_outliers"),
        round(sum("out").cast("double") / count(lit(1)).cast("double"), 6)
          .as("outlier_share"),
        round(sqrt(avg(col("d2").cast("double")) /
          (max("n") * max("n")).cast("double")) / lit(1e7), 6)
          .as("rms_dist"))
      .orderBy("label")
  }

  /** LSH plane-count tuning curve: micro-averaged recall@k of
    * [[annLsh]] against the exact [[cosineTopK]] baseline at each
    * plane count — MORE planes = narrower buckets = faster probes and
    * lower recall; this is the curve that decision is read off.
    * Micro-average = Σhits/Σexact over the probe set, exact integer
    * counts. Returns (planes, n_queries, n_hit, n_exact, recall).
    *
    * Scale: each arm is [[annRecall]]'s probe-bounded plan; arms are
    * independent branches of one union. */
  def annProbeCurve(emb: DataFrame, planesSeq: Seq[Int] = Seq(2, 4, 6),
                    probeMax: Long = 10L, k: Int = 3): DataFrame = {
    require(planesSeq.nonEmpty && planesSeq.forall(p => p >= 1 && p <= 62),
      s"planesSeq must be plane counts in [1,62], got $planesSeq")
    // the exact baseline is plane-independent: compute it ONCE and
    // checkpoint — each arm pays only its own LSH probe (the bench
    // caught the naive form paying cosineTopK per arm)
    val exact = cosineTopK(emb, probeMax, k)
      .select(col("qid"), col("vid")).localCheckpoint()
    val exn = exact.groupBy("qid").agg(count(lit(1)).as("n_exact"))
    planesSeq.map { p =>
      val approx = annLsh(emb, p, probeMax, k)
        .select(col("qid"), col("vid").as("avid"))
      val hits = exact
        .join(approx, exact("qid") === approx("qid") &&
          exact("vid") === approx("avid"))
        .groupBy(exact("qid")).agg(count(lit(1)).as("n_hit"))
      exn.join(hits, Seq("qid"), "left")
        .agg(count(lit(1)).as("n_queries"),
          sum(coalesce(col("n_hit"), lit(0L))).as("nh"),
          sum("n_exact").as("ne"))
        .select(lit(p.toLong).as("planes"),
          col("n_queries").cast("long").as("n_queries"),
          col("nh").cast("long").as("n_hit"),
          col("ne").cast("long").as("n_exact"),
          round(col("nh").cast("double") / col("ne").cast("double"), 6)
            .as("recall"))
    }.reduce(_ unionByName _).orderBy("planes")
  }

  /** Per-dimension variance spectrum in EXACT integer arithmetic:
    * coordinates quantized to 1e-7-unit BIGINTs, per-dimension
    * numerator N_p = n·Σq² − (Σq)² held in DECIMAL(38,0) (cast
    * BEFORE multiply), variance = N/(n²·1e14) only at output —
    * share and the desc-ordered cumulative share divide EXACT
    * integers, so the "how many dims carry 90% of the variance"
    * readout never depends on float sum order. The cheap
    * dimensionality screen run before paying for [[Pca.pcaTop]].
    * Returns (pos, variance, share, cum_share) ordered by pos.
    *
    * Scale: one explode + one d-key map-side-combined aggregate; the
    * cumulative window runs on the d-row dimension frame. */
  def dimVariance(emb: DataFrame): DataFrame = {
    val e = emb.filter(col("embedding").isNotNull &&
        size(col("embedding")) > 0)
      .select(posexplode(col("embedding")).as(Seq("pos", "x")))
      .select(col("pos"),
        floor(col("x").cast("double") * lit(1e7) + lit(0.5)).cast("long")
          .as("q"))
    val per = e.groupBy("pos")
      .agg(count(lit(1)).as("n"), sum("q").as("sq"),
        sum(col("q").cast("decimal(19,0)") * col("q")).as("sqq"))
      .select(col("pos"),
        col("n"),
        (col("n").cast("decimal(19,0)") * col("sqq") -
          col("sq").cast("decimal(19,0)") * col("sq")).as("nvar"))
    val wDesc = org.apache.spark.sql.expressions.Window
      .orderBy(col("nvar").desc, col("pos").asc)
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.currentRow)
    per
      .crossJoin(broadcast(per.agg(sum("nvar").as("tot"))))
      .withColumn("cum", sum("nvar").over(wDesc))
      .select(col("pos").cast("long").as("pos"),
        round(col("nvar").cast("double") /
          (col("n").cast("double") * col("n").cast("double") * lit(1e14)),
          9).as("variance"),
        round(col("nvar").cast("double") / col("tot").cast("double"), 6)
          .as("share"),
        round(col("cum").cast("double") / col("tot").cast("double"), 6)
          .as("cum_share"))
      .orderBy("pos")
  }

  /** IVF ANN in EXACT INTEGER arithmetic: vectors quantized to
    * floor(x·scale) BIGINTs, k-means iterated with integer squared
    * distances and floor-division means, probes scanning the `nprobe`
    * nearest cells — every step deterministic and engine-stable, so
    * unlike the float [[annIvf]] (whose centroids aren't bit-stable
    * across engines → rows-only check) this variant is fully
    * DuckDB-oracle-able, hash check included. The quantization is the
    * same int8/int16-style discretization production ANN indexes
    * apply before clustering anyway.
    *
    * Scale: assignment is the n·k·d fold every IVF build pays
    * (map-side-combined, shuffles n·k rows per iteration); the probe
    * phase scans nprobe/k of the corpus per query. Ties break on
    * centroid id / vector id. Centroids init from vec_ids
    * [probeMax, probeMax+k) — a fixed deterministic seed rule. */
  /** Whole-vector integer frame (vec_id, pos, xi = floor(x·scale)) —
    * the shared input of every integer kernel here ([[annIvfExact]],
    * [[silhouetteExact]], [[annIvfPq]], [[pqRecall]]'s brute-force
    * arm). Exposed so a session can materialize it once. */
  def intExploded(emb: DataFrame, scale: Int = 1000): DataFrame =
    exploded(emb).select(col("vec_id"), col("pos"),
      floor(col("x") * lit(scale)).cast("long").as("xi"))

  /** The [[annIvfExact]]/[[silhouetteExact]] k-means, factored out:
    * `iters` Lloyd rounds seeded from vec_ids [probeMax, probeMax+k),
    * (dist, cid) assignment ties, integer means TRUNCATED TOWARD ZERO
    * (the long cast of the double quotient): DuckDB's integer `//`
    * truncates, NOT floors (−7 // 2 = −3), so a floor() here would
    * drift one unit low on every negative-sum dimension and the
    * clusterings would diverge — measured, not hypothetical. Exact
    * while sums stay < 2^52. Both consumers run IDENTICAL rounds, so
    * a session computes the centroids once (round 15). */
  def ivfKmeans(iv: DataFrame, k: Int = 8, iters: Int = 3,
                probeMax: Long = 10L): DataFrame = {
    var ct = iv.filter(col("vec_id") >= probeMax && col("vec_id") < probeMax + k)
      .select((col("vec_id") - probeMax).as("cid"), col("pos"), col("xi").as("c"))
      .localCheckpoint()
    val w = Window.partitionBy("vec_id")
      .orderBy(col("dist").asc, col("cid").asc)
    for (_ <- 1 to iters) {
      val a = iv.join(ct, Seq("pos"))
        .groupBy("vec_id", "cid")
        .agg(sum((col("xi") - col("c")) * (col("xi") - col("c"))).as("dist"))
        .withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
        .select("vec_id", "cid")
      ct = a.join(iv, Seq("vec_id"))
        .groupBy("cid", "pos")
        .agg((sum("xi") / count(lit(1))).cast("long").as("c"))
        .localCheckpoint()
    }
    ct
  }

  def annIvfExact(emb: DataFrame, k: Int = 8, iters: Int = 3,
                  nprobe: Int = 2, topK: Int = 3, probeMax: Long = 10L,
                  scale: Int = 1000,
                  ivIn: Option[DataFrame] = None,
                  ctIn: Option[DataFrame] = None): DataFrame = {
    require(k >= 1 && iters >= 1 && nprobe >= 1 && nprobe <= k,
      "annIvfExact needs 1 <= nprobe <= k and iters >= 1")
    val iv = ivIn.getOrElse(intExploded(emb, scale).localCheckpoint())
    val ct = ctIn.getOrElse(ivfKmeans(iv, k, iters, probeMax))
    def assign(vecs: DataFrame, cts: DataFrame): DataFrame = {
      val d = vecs.join(cts, Seq("pos"))
        .groupBy("vec_id", "cid")
        .agg(sum((col("xi") - col("c")) * (col("xi") - col("c"))).as("dist"))
      val w = Window.partitionBy("vec_id")
        .orderBy(col("dist").asc, col("cid").asc)
      d.withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
        .select("vec_id", "cid", "dist")
    }
    val members = assign(iv, ct)
    val probes = iv.filter(col("vec_id") < probeMax)
    val probeCells = assignTop(probes, ct, nprobe)
    val corpusCells = members.filter(col("vec_id") >= probeMax)
      .select(col("vec_id").as("vid"), col("cid"))
    val cand = probeCells.select(col("vec_id").as("qid"), col("cid"))
      .join(corpusCells, Seq("cid"))
      .select("qid", "vid").distinct()
    val dists = cand
      .join(iv.select(col("vec_id").as("qid"), col("pos"), col("xi").as("xq")),
        Seq("qid"))
      .join(iv.select(col("vec_id").as("vid"), col("pos"), col("xi").as("xm")),
        Seq("vid", "pos"))
      .groupBy("qid", "vid")
      .agg(sum((col("xq") - col("xm")) * (col("xq") - col("xm"))).as("dist"))
    val w = Window.partitionBy("qid").orderBy(col("dist").asc, col("vid").asc)
    dists.withColumn("rnk", row_number().over(w).cast("long"))
      .filter(col("rnk") <= topK)
      .select("qid", "vid", "dist", "rnk")
  }

  /** Top-`nprobe` nearest centroids per vector (integer distances,
    * (dist, cid) tie order). */
  private def assignTop(vecs: DataFrame, cts: DataFrame, nprobe: Int): DataFrame = {
    val d = vecs.join(cts, Seq("pos"))
      .groupBy("vec_id", "cid")
      .agg(sum((col("xi") - col("c")) * (col("xi") - col("c"))).as("dist"))
    val w = Window.partitionBy("vec_id").orderBy(col("dist").asc, col("cid").asc)
    d.withColumn("rn", row_number().over(w)).filter(col("rn") <= nprobe)
      .select("vec_id", "cid")
  }

  /** ANN quality audit: per-probe recall@k of the LSH index against
    * the brute-force ground truth — the number every ANN deployment
    * tracks before trusting the index at scale (a recall regression
    * after re-bucketing is how index bugs surface). Probes with no LSH
    * bucket-mates report 0 hits, not a dropped row.
    *
    * Scale: ground truth is probe-set-bounded [[cosineTopK]]; the
    * audit join moves ≤ 2·k rows per probe. On a 100 TB corpus the
    * same audit runs over a sampled probe set — the plan is already
    * sample-shaped. */
  def annRecall(emb: DataFrame, planes: Int = 4, probeMax: Long = 10L,
                k: Int = 3): DataFrame = {
    val exact = cosineTopK(emb, probeMax, k)
      .select(col("qid"), col("vid"))
    val approx = annLsh(emb, planes, probeMax, k)
      .select(col("qid"), col("vid").as("avid"))
    val hits = exact
      .join(approx, exact("qid") === approx("qid") &&
        exact("vid") === approx("avid"))
      .groupBy(exact("qid")).agg(count(lit(1)).as("n_hit"))
    exact.groupBy("qid").agg(count(lit(1)).as("n_exact"))
      .join(hits, Seq("qid"), "left")
      .select(col("qid"), col("n_exact"),
        coalesce(col("n_hit"), lit(0L)).as("n_hit"))
      .withColumn("recall",
        round(col("n_hit").cast("double") / col("n_exact"), 6))
  }

  /** Maximal-marginal-relevance re-ranking (Carbonell & Goldstein,
    * SIGIR 1998): from each probe's `candK` nearest neighbors, greedily
    * select `selectK` results maximizing λ·rel(c) − (1−λ)·max_{s∈S}
    * sim(c, s) — relevance traded against redundancy, the standard
    * diversity pass over an ANN candidate list (and the retrieval twin
    * of SemDeDup's pruning). Step 1 is the pure-relevance argmax with
    * an empty penalty (score = λ·rel).
    *
    * Scale: candidates come from [[cosineTopK]] (probe-set bounded);
    * the pairwise-sim frame is per-probe candK², never corpus-pairs;
    * the greedy loop runs exactly selectK − 1 data-parallel rounds —
    * each round ONE anti-join (drop selected), one bounded sim join +
    * max roll-up, and a per-probe window argmax, with a localCheckpoint
    * keeping plans flat. Every probe advances in the same round, so
    * wall-clock is selectK scheduler ticks regardless of probe count.
    *
    * Determinism: λ is a tenths integer and the 6-dp relevance/sim
    * values are integerized (floor(x·1e6 + 0.5), the suite's
    * engine-stable rounding), so every MMR score is EXACT BIGINT
    * arithmetic in 10⁻⁷ units — λ·rel − (1−λ)·sim on decimal inputs
    * lands exactly on round-half boundaries where float `round()`
    * diverges between engines, and the integer form removes the
    * boundary entirely. Ties break on vid. The reported score is the
    * bit-stable double scoreI/1e7. */
  def mmrRerank(emb: DataFrame, probeMax: Long = 10L, candK: Int = 20,
                selectK: Int = 5, lambdaTenths: Int = 7): DataFrame = {
    require(selectK >= 1 && candK >= selectK, "mmrRerank needs candK >= selectK >= 1")
    require(lambdaTenths >= 0 && lambdaTenths <= 10,
      "mmrRerank needs lambdaTenths in [0, 10]")
    val cand = cosineTopK(emb, probeMax, candK)
      .select(col("qid"), col("vid"), col("cosine").as("rel"),
        floor(col("cosine") * lit(1e6) + lit(0.5)).cast("long").as("ri"))
      .localCheckpoint()
    // Pairwise candidate sims per probe (both directions), via the same
    // fused array_cosine loop as the candidate scores (round 15: the
    // exploded-join + hash-aggregate + two norm joins moved
    // |pairs|·d rows for the same per-probe candK² candidate set).
    graft.sql.ArrayCosine.register(emb.sparkSession)
    val v = emb.filter(col("embedding").isNotNull &&
      size(col("embedding")) > 0)
    val pairs = cand.select(col("qid"), col("vid").as("va"))
      .join(cand.select(col("qid"), col("vid").as("vb")), Seq("qid"))
      .filter(col("va") < col("vb"))
    val ps = pairs
      .join(v.select(col("vec_id").as("va"), col("embedding").as("ea")), Seq("va"))
      .join(v.select(col("vec_id").as("vb"), col("embedding").as("eb")), Seq("vb"))
      .select(col("qid"), col("va"), col("vb"),
        floor(round(expr("array_cosine(ea, eb)"), 6) * lit(1e6) + lit(0.5))
          .cast("long").as("si"))
    val simSym = ps.select(col("qid"), col("va"), col("vb"), col("si"))
      .unionByName(ps.select(col("qid"), col("vb").as("va"),
        col("va").as("vb"), col("si")))
      .localCheckpoint()
    val lamT = lambdaTenths.toLong
    // The greedy rounds run over ≤ probes·candK candidate rows and
    // ≤ probes·candK² sims — integer-exact frames a driver loop folds
    // in microseconds, where the distributed loop pays selectK
    // scheduler rounds. The integer arithmetic makes the two branches bit-equal. The
    // distributed loop below is the path for probe sets too large to
    // collect (e.g. re-ranking every query of a serving log).
    if (graft.algorithms.Tuning.fitsProduct(probeMax, candK))
      return mmrLocal(cand, simSym, selectK, lamT)
    val byProbe = Window.partitionBy("qid")
    // scoreI is the MMR score in exact 10⁻⁷ units: λT·ri − (10−λT)·si
    var selected = cand
      .withColumn("rn", row_number().over(
        byProbe.orderBy(col("ri").desc, col("vid").asc)))
      .filter(col("rn") === 1)
      .select(col("qid"), col("vid"), lit(1L).as("step"),
        (lit(lamT) * col("ri")).as("scoreI"))
      .localCheckpoint()
    for (t <- 2 to selectK) {
      val remaining = cand.join(selected.select("qid", "vid"),
        Seq("qid", "vid"), "left_anti")
      // max sim of each remaining candidate to the selected set
      val msims = simSym
        .join(selected.select(col("qid"), col("vid").as("vb")), Seq("qid", "vb"))
        .groupBy(col("qid"), col("va").as("vid"))
        .agg(max("si").as("msi"))
      val pick = remaining.join(msims, Seq("qid", "vid"))
        .select(col("qid"), col("vid"),
          (lit(lamT) * col("ri") - lit(10L - lamT) * col("msi")).as("scoreI"))
        .withColumn("rn", row_number().over(
          byProbe.orderBy(col("scoreI").desc, col("vid").asc)))
        .filter(col("rn") === 1)
        .select(col("qid"), col("vid"), lit(t.toLong).as("step"), col("scoreI"))
      selected = selected.unionByName(pick).localCheckpoint()
    }
    selected.select(col("qid"), col("vid"), col("step"),
      (col("scoreI") / lit(1e7)).as("score"))
  }

  /** Driver-gated greedy: identical integer argmax per (probe, step) —
    * bit-equal to the distributed rounds by construction. */
  private def mmrLocal(cand: DataFrame, simSym: DataFrame, selectK: Int,
                       lamT: Long): DataFrame = {
    val spark = cand.sparkSession
    val cands = cand.select("qid", "vid", "ri").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .groupBy(_._1).map { case (q, rs) => q -> rs.map(t => (t._2, t._3)) }
    val sims = simSym.select("qid", "va", "vb", "si").collect()
      .map(r => ((r.getLong(0), r.getLong(1), r.getLong(2)), r.getLong(3)))
      .toMap
    val out = cands.toSeq.sortBy(_._1).flatMap { case (qid, cs) =>
      var remaining = cs.sortBy(_._1).toBuffer
      var selected = List.empty[Long]
      (1 to math.min(selectK, cs.length)).map { step =>
        val scored = remaining.map { case (vid, ri) =>
          val scoreI =
            if (selected.isEmpty) lamT * ri
            else {
              val msi = selected.map(s => sims((qid, vid, s))).max
              lamT * ri - (10L - lamT) * msi
            }
          (vid, scoreI)
        }
        val (vid, scoreI) = scored.minBy { case (v, s) => (-s, v) }
        remaining = remaining.filterNot(_._1 == vid)
        selected = vid :: selected
        (qid, vid, step.toLong, scoreI / 1e7)
      }
    }
    import spark.implicits._
    out.toDF("qid", "vid", "step", "score")
  }

  /** Pairwise cosine similarity between per-label embedding CENTROIDS
    * — the class-separation audit run before trusting labels for
    * stratified sampling or as ANN ground truth (two labels whose
    * centroids sit at cos ≈ 1 are not separable classes). The corpus
    * is read ONCE for the (label, pos) mean aggregate; everything
    * after operates on the |labels|·d centroid frame, so the pair join
    * is |labels|²·d rows — bounded by label cardinality, never by the
    * vector count. */
  /** Per-label embedding dispersion: the MEAN PAIRWISE COSINE of all
    * vectors in a label, computed WITHOUT pairs via the sum-vector
    * identity Σ_{i≠j} uᵢ·uⱼ = ‖Σu‖² − Σ‖uₖ‖² over L2-normalized
    * vectors — the cluster-tightness audit (a label whose members
    * barely agree is not a usable stratum) at n² semantics for n·d
    * cost. Exact cross-engine: after the (index-ordered, engine-
    * identical) norm fold, each component is integerized to 1e-7 units
    * (floor(u·1e7 + 0.5) BIGINT), so the per-(label, pos) sums, their
    * squares (DECIMAL(38,0)) and the self-norm total are exact
    * integers; one double division at output. State: d BIGINTs per
    * label — ~zero at any corpus size. */
  def embedDispersion(emb: DataFrame): DataFrame = {
    val base = emb.select(col("label").cast("long").as("label"),
        col("embedding"),
        expr("aggregate(embedding, CAST(0.0 AS DOUBLE), " +
          "(a, x) -> a + CAST(x AS DOUBLE) * CAST(x AS DOUBLE))").as("nn"))
      .filter(col("nn") > 0.0) // zero vectors have no direction — excluded
    val e = base
      .select(col("label"), posexplode(col("embedding")).as(Seq("pos", "x")),
        sqrt(col("nn")).as("nrm"))
      .select(col("label"), col("pos").cast("long").as("pos"),
        floor(col("x").cast("double") / col("nrm") * lit(1e7) + lit(0.5))
          .cast("long").as("u"))
    // products widen to DECIMAL BEFORE multiplying: s ≈ n·1e7 makes
    // s² overflow int64 past n ≈ 3·10⁴ — the cast must precede the
    // multiply, not follow it
    val per = e.groupBy("label", "pos")
      .agg(sum("u").as("s"),
        sum(col("u").cast("decimal(19,0)") * col("u").cast("decimal(19,0)"))
          .as("self"))
    per.groupBy("label")
      .agg(sum(col("s").cast("decimal(19,0)") * col("s").cast("decimal(19,0)"))
        .as("s2"),
        sum("self").as("selfsum"))
      .join(base.groupBy("label").agg(count(lit(1)).as("n")), Seq("label"))
      .select(col("label"), col("n"),
        round(when(col("n") >= 2L,
          (col("s2").cast("double") - col("selfsum").cast("double")) /
            (col("n").cast("double") * (col("n") - 1L).cast("double") *
              lit(1e14))), 6).as("mean_cos"))
      .orderBy("label")
  }

  def centroidSim(emb: DataFrame): DataFrame = {
    val cen = emb.select(col("label").cast("long").as("label"),
        posexplode(col("embedding")).as(Seq("pos", "x")))
      .groupBy("label", "pos")
      .agg(avg(col("x").cast("double")).as("c"))
    val dots = cen.select(col("label").as("la"), col("pos"), col("c").as("ca"))
      .join(cen.select(col("label").as("lb"), col("pos"), col("c").as("cb")),
        Seq("pos"))
      .filter(col("la") < col("lb"))
      .groupBy("la", "lb").agg(sum(col("ca") * col("cb")).as("dot"))
    val norms = cen.groupBy("label").agg(sum(col("c") * col("c")).as("nn"))
    dots
      .join(broadcast(norms.select(col("label").as("la"), col("nn").as("na"))),
        Seq("la"))
      .join(broadcast(norms.select(col("label").as("lb"), col("nn").as("nb"))),
        Seq("lb"))
      .select(col("la"), col("lb"),
        round(col("dot") / (sqrt(col("na")) * sqrt(col("nb"))), 6).as("cos"))
      .orderBy("la", "lb")
  }

  /** Simplified-silhouette quality audit of the exact-integer IVF
    * clustering (the [[annIvfExact]] kernel with the same quantized
    * vectors, init rule and truncated-integer means): per vector,
    * a² = squared distance to its own centroid, b² = to the second-
    * nearest, s = (√b²−√a²)/√b² ∈ [0,1] (b ≥ a by nearest
    * assignment, so the max(a,b) of the classic formula is b). The
    * result is the per-cluster DECILE HISTOGRAM of s (+1-clamped at
    * s = 1) — counting integers, not averaged doubles, so the output
    * is hash-stable cross-engine, and the shape (mass near bucket 9 =
    * tight clusters, near 0 = boundary soup) is the actual decision
    * signal a clustering audit reads.
    *
    * Scale: the k-means fold of annIvfExact (n·k·d map-side-combined
    * per iteration) plus one n·k distance pass; the histogram is a
    * k×10-bounded aggregate. */
  def silhouetteExact(emb: DataFrame, k: Int = 8, iters: Int = 3,
                      initFrom: Long = 10L, scale: Int = 1000,
                      ivIn: Option[DataFrame] = None,
                      ctIn: Option[DataFrame] = None): DataFrame = {
    require(k >= 2 && iters >= 1, "silhouetteExact needs k >= 2, iters >= 1")
    val iv = ivIn.getOrElse(intExploded(emb, scale).localCheckpoint())
    // the IDENTICAL k-means annIvfExact runs (same seed rule, ties,
    // truncated means) — shared through [[ivfKmeans]] (round 15)
    val ct = ctIn.getOrElse(ivfKmeans(iv, k, iters, initFrom))
    def dists(cts: DataFrame): DataFrame =
      iv.join(cts, Seq("pos"))
        .groupBy("vec_id", "cid")
        .agg(sum((col("xi") - col("c")) * (col("xi") - col("c"))).as("dist"))
    val w = Window.partitionBy("vec_id")
      .orderBy(col("dist").asc, col("cid").asc)
    val r2 = dists(ct).withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 2)
    val ab = r2.groupBy("vec_id").agg(
      max(when(col("rn") === 1, col("cid"))).as("cid"),
      max(when(col("rn") === 1, col("dist"))).as("a2"),
      max(when(col("rn") === 2, col("dist"))).as("b2"))
    val s = when(col("b2") > 0L,
      (sqrt(col("b2").cast("double")) - sqrt(col("a2").cast("double"))) /
        sqrt(col("b2").cast("double"))).otherwise(0.0)
    ab.select(col("cid"),
        least(floor(s * 10).cast("long"), lit(9L)).as("bucket"))
      .groupBy("cid", "bucket").agg(count(lit(1)).as("n"))
      .orderBy("cid", "bucket")
  }

  /** Embedding anisotropy audit (Ethayarajh 2019): the expected
    * cosine between random vectors ≈ ‖μ‖²/E‖x‖² — near 0 for an
    * isotropic (well-spread) embedding space, near 1 when everything
    * points the same way (a degenerate space that breaks cosine
    * retrieval). Exact integer arithmetic on the floor(x·1000)
    * quantization: per-dimension sums S_p and square sums T_p are
    * BIGINT off one exploded pass (d-row aggregate frame at any
    * corpus size), anisotropy = Σ S_p² / (n·ΣT_p) with the squares
    * accumulated in DECIMAL(38,0). Also reports the quantized mean
    * vector norm and mean L2 norm. */
  def anisotropy(emb: DataFrame, scale: Int = 1000): DataFrame = {
    val iv = exploded(emb)
      .select(col("vec_id"), col("pos"),
        floor(col("x") * lit(scale)).cast("long").as("xi"))
    val perDim = iv.groupBy("pos")
      .agg(sum("xi").as("s_p"), sum(col("xi") * col("xi")).as("t_p"))
    val nRow = emb.agg(count(lit(1)).as("n"))
    val agg = perDim.agg(count(lit(1)).as("dims"),
      sum(col("s_p").cast("decimal(19,0)") * col("s_p").cast("decimal(19,0)"))
        .as("ss"),
      sum("t_p").as("t"))
    val nD = col("n").cast("double")
    agg.crossJoin(broadcast(nRow))
      .select(col("n"), col("dims"),
        round(col("ss").cast("double") / (nD * col("t").cast("double")), 6)
          .as("anisotropy"),
        round(sqrt(col("ss").cast("double")) / (nD * lit(scale.toDouble)), 6)
          .as("mean_vec_norm"),
        round(sqrt(col("t").cast("double") / nD) / lit(scale.toDouble), 6)
          .as("mean_norm"))
  }

  /** Exploded quantized vectors with the PQ subspace key: (vec_id,
    * pos, sub, xi) where xi = floor(x·scale) BIGINT and sub =
    * ⌊pos·m/d⌋ splits the d dimensions into m contiguous,
    * near-equal blocks (balanced for any d, exact d/m blocks when m
    * divides d). d is derived in-plan from the widest vector — no
    * driver collect. */
  def pqExploded(emb: DataFrame, m: Int, scale: Int): DataFrame = {
    val dims = emb.agg(max(size(col("embedding"))).cast("long").as("d"))
    exploded(emb)
      .crossJoin(broadcast(dims))
      .select(col("vec_id"), col("pos"),
        (col("pos") * lit(m.toLong) / col("d")).cast("long").as("sub"),
        floor(col("x") * lit(scale)).cast("long").as("xi"))
  }

  /** Per-(vec, sub) squared distance to every centroid of that
    * subspace: (vec_id, sub, cid, dist). The codebook join key is
    * `pos` alone (pos determines sub), so each vector row meets the
    * ksub centroids of its own subspace only. */
  private def pqDists(iv: DataFrame, ct: DataFrame): DataFrame =
    iv.join(broadcast(ct.drop("sub")), Seq("pos"))
      .groupBy("vec_id", "sub", "cid")
      .agg(sum((col("xi") - col("c")) * (col("xi") - col("c"))).as("dist"))

  /** Seed precondition for the integer k-means kernels: the corpus
    * must actually CONTAIN vec_ids [probeMax, probeMax+k) — a corpus
    * smaller than the seed range would otherwise yield an empty or
    * partial codebook and the ANN queries would silently return no
    * rows. One count over the tiny checkpointed seed frame (≤ k·d
    * rows, driver-gated like every iterative kernel here). */
  private def requireSeedRange(seeded: DataFrame, idCol: String, k: Int,
                               probeMax: Long, op: String): Unit = {
    val have = seeded.select(idCol).distinct().count()
    require(have == k,
      s"$op: corpus must contain the $k seed vec_ids " +
        s"[$probeMax, ${probeMax + k}) (the annIvfExact seed rule); " +
        s"found $have of $k — corpus too small for this (probeMax, k)")
  }

  /** `iters` Lloyd rounds of per-subspace integer k-means: centroids
    * init from the sub-chunks of vec_ids [probeMax, probeMax+ksub)
    * (the annIvfExact seed rule applied per subspace), means truncated
    * toward zero (cast of the double quotient — DuckDB `//` parity).
    * Returns the codebook (cid, sub, pos, c) — m·ksub·(d/m) = ksub·d
    * rows, broadcastable by construction at any corpus size. */
  def pqCodebook(iv: DataFrame, m: Int, ksub: Int, iters: Int,
                 probeMax: Long): DataFrame = {
    var ct = iv
      .filter(col("vec_id") >= probeMax && col("vec_id") < probeMax + ksub)
      .select((col("vec_id") - probeMax).as("cid"), col("sub"), col("pos"),
        col("xi").as("c"))
      .localCheckpoint()
    requireSeedRange(ct, "cid", ksub, probeMax, "pqCodebook")
    for (_ <- 1 to iters) {
      val w = Window.partitionBy("vec_id", "sub")
        .orderBy(col("dist").asc, col("cid").asc)
      val a = pqDists(iv, ct)
        .withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
        .select("vec_id", "sub", "cid")
      ct = a.join(iv, Seq("vec_id", "sub"))
        .groupBy("cid", "sub", "pos")
        .agg((sum("xi") / count(lit(1))).cast("long").as("c"))
        .localCheckpoint()
    }
    ct
  }

  /** `iters` Lloyd rounds of whole-vector integer k-means (the
    * [[annIvfExact]] kernel, factored for reuse as IVFADC's coarse
    * quantizer): centroids init from vec_ids [probeMax, probeMax+k),
    * means truncated toward zero. Returns (cell, pos, c) — k·d rows,
    * broadcastable whatever the corpus. */
  private def ivfCentroids(iv: DataFrame, k: Int, iters: Int,
                           probeMax: Long): DataFrame = {
    def assign(cts: DataFrame): DataFrame = {
      val d = iv.join(broadcast(cts), Seq("pos"))
        .groupBy("vec_id", "cell")
        .agg(sum((col("xi") - col("c")) * (col("xi") - col("c"))).as("dist"))
      val w = Window.partitionBy("vec_id")
        .orderBy(col("dist").asc, col("cell").asc)
      d.withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
        .select("vec_id", "cell")
    }
    var ct = iv
      .filter(col("vec_id") >= probeMax && col("vec_id") < probeMax + k)
      .select((col("vec_id") - probeMax).as("cell"), col("pos"),
        col("xi").as("c"))
      .localCheckpoint()
    requireSeedRange(ct, "cell", k, probeMax, "ivfCentroids")
    for (_ <- 1 to iters) {
      ct = assign(ct).join(iv, Seq("vec_id"))
        .groupBy("cell", "pos")
        .agg((sum("xi") / count(lit(1))).cast("long").as("c"))
        .localCheckpoint()
    }
    ct
  }

  /** IVFADC — the FAISS production ANN architecture (Jégou et al.
    * TPAMI 2011 §IV: inverted file + asymmetric distance computation
    * on RESIDUALS) in exact integer arithmetic. A coarse kCoarse-cell
    * integer k-means partitions the corpus; each vector is stored as
    * (owner cell, m PQ codes of its residual x − c_cell) — the index
    * layout that serves billion-vector corpora from RAM. A probe
    * scans only its `nprobe` nearest cells, building per probed cell
    * one m·ksub lookup table of exact sub-distances between the
    * probe's OWN residual and the residual codebook; a candidate's
    * distance is m lookups. Combines [[annIvfExact]] (prunes the
    * corpus but stores full vectors) with [[annPq]] (compresses but
    * scans everything): IVFADC does both — scan nprobe/kCoarse of the
    * corpus at m bytes per vector. Every step deterministic →
    * DuckDB-oracle-able, hash check included.
    *
    * Scale: coarse codebook kCoarse·d rows and residual codebooks
    * ksub·d rows, both broadcast; encode = the two assignment folds
    * every IVFADC build pays; the candidate join moves
    * nprobe/kCoarse of the code rows against a broadcast
    * probes×nprobe×m×ksub LUT. Returns (qid, vid, dist, rnk),
    * rnk ≤ topK by (adc distance, vid). */
  def annIvfPq(emb: DataFrame, kCoarse: Int = 4, itersCoarse: Int = 2,
               m: Int = 4, ksub: Int = 4, itersPq: Int = 2,
               nprobe: Int = 2, topK: Int = 3, probeMax: Long = 10L,
               scale: Int = 1000,
               ivIn: Option[DataFrame] = None): DataFrame = {
    require(kCoarse >= 1 && nprobe >= 1 && nprobe <= kCoarse &&
      m >= 1 && ksub >= 1 && itersCoarse >= 1 && itersPq >= 1 && topK >= 1,
      "annIvfPq needs 1 <= nprobe <= kCoarse and positive sizes")
    val dims = emb.agg(max(size(col("embedding"))).cast("long").as("d"))
    val iv = ivIn.getOrElse(intExploded(emb, scale).localCheckpoint())
    val cc = ivfCentroids(iv, kCoarse, itersCoarse, probeMax)
    val cd = iv.join(broadcast(cc), Seq("pos"))
      .groupBy("vec_id", "cell")
      .agg(sum((col("xi") - col("c")) * (col("xi") - col("c"))).as("dist"))
    val wc = Window.partitionBy("vec_id")
      .orderBy(col("dist").asc, col("cell").asc)
    val ranked = cd.withColumn("rn", row_number().over(wc)).localCheckpoint()
    val own = ranked.filter(col("rn") === 1).select("vec_id", "cell")
    val prb = ranked.filter(col("rn") <= nprobe && col("vec_id") < probeMax)
      .select(col("vec_id").as("qid"), col("cell"))
    // corpus residuals against the OWNER cell, in PQ subspace layout
    val rv = iv.join(own, Seq("vec_id"))
      .join(broadcast(cc), Seq("cell", "pos"))
      .crossJoin(broadcast(dims))
      .select(col("vec_id"), col("pos"),
        (col("pos") * lit(m.toLong) / col("d")).cast("long").as("sub"),
        (col("xi") - col("c")).as("xi"))
      .localCheckpoint()
    val pqct = pqCodebook(rv, m, ksub, itersPq, probeMax)
    val w = Window.partitionBy("vec_id", "sub")
      .orderBy(col("dist").asc, col("cid").asc)
    val codes = pqDists(rv, pqct)
      .withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
      .filter(col("vec_id") >= probeMax)
      .select(col("vec_id").as("vid"), col("sub"), col("cid"))
    // per (probe, probed cell): the probe's residual vs every residual
    // centroid — probeMax·nprobe·ksub·d rows pre-agg, LUT m·ksub after
    val lut = prb
      .join(iv.select(col("vec_id").as("qid"), col("pos"), col("xi")),
        Seq("qid"))
      .join(broadcast(cc), Seq("cell", "pos"))
      .join(broadcast(pqct.select(col("cid"), col("pos"),
        col("c").as("c2"))), Seq("pos"))
      .crossJoin(broadcast(dims))
      .withColumn("sub", (col("pos") * lit(m.toLong) / col("d")).cast("long"))
      .groupBy("qid", "cell", "sub", "cid")
      .agg(sum((col("xi") - col("c") - col("c2")) *
        (col("xi") - col("c") - col("c2"))).as("ld"))
    val cand = prb.join(own.select(col("vec_id").as("vid"), col("cell")),
      Seq("cell"))
    val adc = cand.join(codes, Seq("vid"))
      .join(broadcast(lut), Seq("qid", "cell", "sub", "cid"))
      .groupBy("qid", "vid").agg(sum("ld").as("dist"))
    val wr = Window.partitionBy("qid").orderBy(col("dist").asc, col("vid").asc)
    adc.withColumn("rnk", row_number().over(wr).cast("long"))
      .filter(col("rnk") <= topK)
      .select("qid", "vid", "dist", "rnk")
  }

  /** Product-quantization ANN (Jégou, Douze & Schmid, TPAMI 2011) in
    * EXACT INTEGER arithmetic — the memory-side scale path the IVF
    * family lacks: vectors are quantized to floor(x·scale) BIGINTs,
    * each of the m dimension blocks is clustered with its own
    * ksub-centroid integer k-means, the corpus is ENCODED as m small
    * codes per vector (d floats → m bytes: a 32–64× compression that
    * keeps a 100 TB embedding corpus RAM-resident), and probes score
    * candidates by Asymmetric Distance Computation — per probe one
    * m·ksub lookup table of exact sub-distances, a candidate's
    * distance the SUM of m table lookups instead of d multiplies.
    * Every step (floor quantization, truncated integer means,
    * (dist, cid)/(dist, vid) tie ranks) is deterministic and
    * engine-stable, so unlike float PQ this variant is fully
    * DuckDB-oracle-able, hash check included.
    *
    * Scale: the codebook is ksub·d rows whatever the corpus
    * (broadcast); encoding is the n·ksub·(d/m) assignment fold every
    * PQ build pays (map-side combined); the ADC join moves n·m
    * code rows against a broadcast probe LUT and the final top-k is
    * a per-probe window over candidate sums. No corpus pair blowup
    * anywhere. Returns (qid, vid, dist, rnk) for probes
    * vec_id < probeMax, rnk ≤ topK by (adc distance, vid). */
  def annPq(emb: DataFrame, m: Int = 8, ksub: Int = 4, iters: Int = 2,
            topK: Int = 3, probeMax: Long = 10L,
            scale: Int = 1000,
            ivIn: Option[DataFrame] = None,
            ctIn: Option[DataFrame] = None): DataFrame = {
    require(m >= 1 && ksub >= 1 && iters >= 1 && topK >= 1,
      "annPq needs m, ksub, iters, topK >= 1")
    val iv = ivIn.getOrElse(pqExploded(emb, m, scale).localCheckpoint())
    val ct = ctIn.getOrElse(pqCodebook(iv, m, ksub, iters, probeMax))
    val fd = pqDists(iv, ct)
    val w = Window.partitionBy("vec_id", "sub")
      .orderBy(col("dist").asc, col("cid").asc)
    val fa = fd.withColumn("rn", row_number().over(w))
    val codes = fa.filter(col("rn") === 1 && col("vec_id") >= probeMax)
      .select(col("vec_id").as("vid"), col("sub"), col("cid"))
    val lut = fd.filter(col("vec_id") < probeMax)
      .select(col("vec_id").as("qid"), col("sub"), col("cid"),
        col("dist").as("ld"))
    val adc = codes.join(broadcast(lut), Seq("sub", "cid"))
      .groupBy("qid", "vid").agg(sum("ld").as("dist"))
    val wr = Window.partitionBy("qid").orderBy(col("dist").asc, col("vid").asc)
    adc.withColumn("rnk", row_number().over(wr).cast("long"))
      .filter(col("rnk") <= topK)
      .select("qid", "vid", "dist", "rnk")
  }

  /** PQ recall audit: per probe the recall@k of [[annPq]]'s ADC
    * top-k against the EXACT integer brute-force top-k — the number
    * that validates an (m, ksub) choice before anyone serves ADC
    * distances, and the regression canary after a codebook rebuild
    * (the [[annRecall]] contract, PQ edition). Probes with no ADC
    * hits report 0, not a dropped row.
    *
    * Scale: ground truth is the probe-set-bounded brute-force join
    * (probeMax·n·d, the [[cosineTopK]] shape — on 100 TB the audit
    * runs over a sampled probe set, and the plan is already
    * sample-shaped); the audit join moves ≤ 2k rows per probe. */
  def pqRecall(emb: DataFrame, m: Int = 8, ksub: Int = 4,
               iters: Int = 2, k: Int = 3, probeMax: Long = 10L,
               scale: Int = 1000,
               pqIvIn: Option[DataFrame] = None,
               pqCtIn: Option[DataFrame] = None,
               bfIvIn: Option[DataFrame] = None): DataFrame = {
    val approx = annPq(emb, m, ksub, iters, k, probeMax, scale, pqIvIn, pqCtIn)
      .select(col("qid"), col("vid").as("avid"))
    val iv = bfIvIn.getOrElse(intExploded(emb, scale))
    val bf = iv.filter(col("vec_id") < probeMax)
      .select(col("vec_id").as("qid"), col("pos"), col("xi").as("xq"))
      .join(iv.filter(col("vec_id") >= probeMax)
        .select(col("vec_id").as("vid"), col("pos"), col("xi").as("xm")),
        Seq("pos"))
      .groupBy("qid", "vid")
      .agg(sum((col("xq") - col("xm")) * (col("xq") - col("xm"))).as("dist"))
    val w = Window.partitionBy("qid").orderBy(col("dist").asc, col("vid").asc)
    val exact = bf.withColumn("rn", row_number().over(w))
      .filter(col("rn") <= k).select("qid", "vid")
    val hits = exact.join(approx, exact("qid") === approx("qid") &&
        exact("vid") === approx("avid"))
      .groupBy(exact("qid")).agg(count(lit(1)).as("n_hit"))
    exact.groupBy("qid").agg(count(lit(1)).as("n_exact"))
      .join(hits, Seq("qid"), "left")
      .select(col("qid"), col("n_exact"),
        coalesce(col("n_hit"), lit(0L)).as("n_hit"))
      .withColumn("recall",
        round(col("n_hit").cast("double") / col("n_exact").cast("double"), 6))
  }

  /** PQ codebook quality audit: per subspace the dimension count,
    * vector count, exact BIGINT sum of squared quantization errors
    * (each vector's distance to its NEAREST centroid) and the mean
    * squared error in original units (sse/n/scale²) — the number that
    * decides m and ksub before anyone trusts ADC distances, and the
    * regression canary after a codebook rebuild (reconstruction error
    * drifting up means the centroids no longer fit the corpus).
    *
    * Scale: one assignment fold over the same broadcast codebook +
    * one m-row aggregate; output is m rows whatever the corpus. */
  def pqError(emb: DataFrame, m: Int = 8, ksub: Int = 4, iters: Int = 2,
              probeMax: Long = 10L, scale: Int = 1000,
              ivIn: Option[DataFrame] = None,
              ctIn: Option[DataFrame] = None): DataFrame = {
    val iv = ivIn.getOrElse(pqExploded(emb, m, scale).localCheckpoint())
    val ct = ctIn.getOrElse(pqCodebook(iv, m, ksub, iters, probeMax))
    val best = pqDists(iv, ct)
      .groupBy("vec_id", "sub").agg(min("dist").as("dist"))
    val nd = iv.groupBy("sub").agg(countDistinct("pos").as("n_dims"))
    best.groupBy("sub")
      .agg(count(lit(1)).as("n_vecs"), sum("dist").as("sse"))
      .join(broadcast(nd), Seq("sub"))
      .select(col("sub"), col("n_dims").cast("long").as("n_dims"),
        col("n_vecs").cast("long").as("n_vecs"),
        col("sse").cast("long").as("sse"),
        round(col("sse").cast("double") / col("n_vecs").cast("double") /
          lit(scale.toDouble * scale.toDouble), 6).as("mean_sqerr"))
      .orderBy("sub")
  }
}
