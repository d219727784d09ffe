package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.algorithms.{Dag, Tuning}
import graft.pipeline.{Corpus, Dedup, Similarity}
import graft.streaming.EventStreams

/** Round-8 additions: DAG longest-path kernels, hybrid RRF retrieval,
  * cohort retention, and MMR re-ranking. */
class DagRetrievalSpec extends SparkSpec {
  private lazy val testImplicits = spark.implicits
  import testImplicits._

  private def wedges(rows: (Long, Long, Long)*): DataFrame =
    rows.toDF("src", "dst", "w")
  private def ids(xs: Long*): DataFrame = xs.toDF("id")

  // ---- Dag.topoLayers / criticalPath ----

  test("topoLayers: diamond DAG layers by longest path") {
    // 1→2→4, 1→3→4, 3→5; layers: 1:0, 2:1, 3:1, 4:2, 5:2
    val e = wedges((1L, 2L, 1L), (2L, 4L, 1L), (1L, 3L, 1L), (3L, 4L, 1L), (3L, 5L, 1L))
    val got = Dag.topoLayers(ids(1, 2, 3, 4, 5), e, 10)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(1L -> 0L, 2L -> 1L, 3L -> 1L, 4L -> 2L, 5L -> 2L))
  }

  test("topoLayers: isolated node stays layer 0; longest (not shortest) wins") {
    // 1→4 direct AND 1→2→3→4: node 4 is layer 3, not 1
    val e = wedges((1L, 4L, 1L), (1L, 2L, 1L), (2L, 3L, 1L), (3L, 4L, 1L))
    val got = Dag.topoLayers(ids(1, 2, 3, 4, 9), e, 10)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(1L -> 0L, 2L -> 1L, 3L -> 2L, 4L -> 3L, 9L -> 0L))
  }

  test("criticalPath: weighted max chain, exact BIGINT sums") {
    // 1→2 (5), 2→4 (1), 1→3 (2), 3→4 (7): cost(4) = max(5+1, 2+7) = 9
    val e = wedges((1L, 2L, 5L), (2L, 4L, 1L), (1L, 3L, 2L), (3L, 4L, 7L))
    val got = Dag.criticalPath(ids(1, 2, 3, 4), e, 10)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(1L -> 0L, 2L -> 5L, 3L -> 2L, 4L -> 9L))
  }

  // Both regimes: the default gate (3-node inputs take the driver twin)
  // and threshold 0 (the distributed frontier loop).
  private def bothRegimes(body: => Unit): Unit = {
    body
    Tuning.withBroadcastThreshold(0L)(body)
  }

  test("longestPaths: cycle throws instead of spinning") {
    val e = wedges((1L, 2L, 1L), (2L, 3L, 1L), (3L, 1L, 1L))
    bothRegimes {
      val ex = intercept[IllegalStateException] {
        Dag.longestPaths(ids(1, 2, 3), e, 8).collect()
      }
      assert(ex.getMessage.contains("cycle"))
    }
  }

  test("longestPaths: zero/negative weights rejected (acyclicity cert needs w >= 1)") {
    // A zero-weight cycle converges without improving — it would defeat
    // the clean-finish-certifies-acyclicity contract, so w < 1 throws.
    val e = wedges((1L, 2L, 0L), (2L, 1L, 0L))
    bothRegimes {
      val ex = intercept[IllegalArgumentException] {
        Dag.longestPaths(ids(1, 2), e, 8).collect()
      }
      assert(ex.getMessage.contains("positive"))
    }
  }

  test("longestPaths: a null weight is rejected in both regimes") {
    // Unchecked, the driver twin failed its packed collect on the null
    // and the frontier loop relaxed the edge to nothing.
    val e = Seq((1L, 2L, None), (2L, 3L, Some(1L))).toDF("src", "dst", "w")
    bothRegimes {
      val ex = intercept[IllegalArgumentException] {
        Dag.longestPaths(ids(1, 2, 3), e, 8).collect()
      }
      assert(ex.getMessage.contains("non-null"))
    }
  }

  // ---- Corpus.hybridRrf ----

  private def docs(rows: (Long, String)*): DataFrame =
    rows.toDF("doc_id", "text")

  test("hybridRrf: fuses BM25 and QL ranks; rrf = sum of reciprocal ranks") {
    val d = docs(
      1L -> "spark spark spark join",
      2L -> "spark query join vector extra words here padding tokens",
      3L -> "vector vector unrelated",
      4L -> "nothing relevant at all")
    val got = Corpus.hybridRrf(d, Seq("spark", "query"), listK = 3, k = 3)
      .collect().map(r => (r.getLong(0), r.getDouble(1), r.getLong(2), r.getLong(3)))
    // candidates: docs 1, 2 (doc 3/4 contain neither term)
    assert(got.map(_._1).toSet == Set(1L, 2L))
    got.foreach { case (_, rrf, rb, rq) =>
      val expect = BigDecimal(
        (if (rb > 0) 1.0 / (60 + rb) else 0.0) +
          (if (rq > 0) 1.0 / (60 + rq) else 0.0))
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      assert(math.abs(rrf - expect) < 1e-9)
    }
    // both lists contain both docs (ranks > 0 everywhere at listK=3)
    assert(got.forall { case (_, _, rb, rq) => rb >= 1 && rq >= 1 })
  }

  test("hybridRrf: query terms absent from the corpus drop out of the QL sum") {
    val d = docs(1L -> "alpha beta", 2L -> "alpha alpha", 3L -> "gamma")
    // "zzz" appears nowhere: cf = 0 → excluded (ln(0) would poison QL)
    val withAbsent = Corpus.hybridRrf(d, Seq("alpha", "zzz"), listK = 5, k = 5)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toMap
    val without = Corpus.hybridRrf(d, Seq("alpha"), listK = 5, k = 5)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toMap
    assert(withAbsent == without && withAbsent.keySet == Set(1L, 2L))
  }

  test("hybridRrf: rank 0 marks a doc absent from one list") {
    val d = docs(
      1L -> "alpha alpha alpha",
      2L -> "alpha beta beta beta beta",
      3L -> "beta filler filler")
    // listK = 1: each list keeps only its own top doc
    val got = Corpus.hybridRrf(d, Seq("alpha", "beta"), listK = 1, k = 5)
      .collect().map(r => (r.getLong(0), r.getLong(2), r.getLong(3))).toSet
    // each kept doc has at least one 0 rank unless it tops both lists
    assert(got.forall { case (_, rb, rq) => rb <= 1 && rq <= 1 })
    assert(got.exists { case (_, rb, rq) => rb == 0 || rq == 0 } ||
      got.size == 1)
  }

  // ---- Dedup.setSimJoin ----

  test("setSimJoin: exact pairs on a known example") {
    val d = docs(
      1L -> "a b c d e",   // J(1,2) = 4/6 = 0.667 ≥ 0.6
      2L -> "a b c d x",
      3L -> "a b z w q",   // J(1,3) = 2/8 = 0.25
      4L -> "a b c d e")   // J(1,4) = 1.0
    val got = Dedup.setSimJoin(d).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(got.keySet == Set((1L, 2L), (1L, 4L), (2L, 4L)))
    assert(got((1L, 4L)) == 1.0)
    assert(math.abs(got((1L, 2L)) - 0.666667) < 1e-9)
  }

  test("setSimJoin: prefix filter is COMPLETE vs brute force on random sets") {
    val rnd = new scala.util.Random(7)
    val vocab = ('a' to 'z').map(_.toString)
    val d = docs((1L to 30L).map { i =>
      val n = 3 + rnd.nextInt(8)
      i -> Seq.fill(n)(vocab(rnd.nextInt(vocab.size))).mkString(" ")
    }: _*)
    val sets = d.collect().map(r =>
      r.getLong(0) -> r.getString(1).split(" ").filter(_.nonEmpty).toSet).toMap
    val brute = (for {
      a <- sets.keys; b <- sets.keys if a < b
      inter = sets(a).intersect(sets(b)).size
      union = sets(a).size + sets(b).size - inter
      if inter * 5 >= 3 * union
    } yield (a, b)).toSet
    val got = Dedup.setSimJoin(d).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == brute, s"missing=${brute.diff(got)} extra=${got.diff(brute)}")
  }

  // ---- EventStreams.retention ----

  test("retention: cohort = first week, offsets count distinct active users") {
    val wk = 604800L
    val ev = Seq(
      // user 1: weeks 0, 1, 3 (cohort 0)
      (1L, 10L), (1L, wk + 5), (1L, 3 * wk + 1),
      // user 2: weeks 0, 0 (dup within week collapses), 1
      (2L, 20L), (2L, 30L), (2L, wk + 9),
      // user 3: week 1 only (cohort 1)
      (3L, wk + 100))
      .toDF("user_id", "es")
      .select(col("user_id"), timestamp_seconds(col("es")).cast("timestamp_ntz").as("ts"))
    val got = EventStreams.retention(ev)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(got == Map(
      (0L, 0L) -> 2L, // users 1, 2 active in cohort week
      (0L, 1L) -> 2L, // both return week 1
      (0L, 3L) -> 1L, // only user 1 at offset 3
      (1L, 0L) -> 1L)) // user 3's own cohort
  }

  // ---- Similarity.mmrRerank ----

  test("mmrRerank: first pick is pure relevance; later picks penalize redundancy") {
    // probe 0; candidates 10 (≈ probe), 11 (≈ duplicate of 10), 12 (orthogonal-ish)
    val emb = Seq(
      (0L, Array(1.0f, 0.0f, 0.0f)),
      (10L, Array(0.9f, 0.1f, 0.0f)),
      (11L, Array(0.9f, 0.11f, 0.0f)),
      (12L, Array(0.2f, 0.0f, 1.0f)))
      .toDF("vec_id", "embedding")
    // λ = 0.3 weighs diversity enough that the near-duplicate loses
    val got = Similarity.mmrRerank(emb, probeMax = 1L, candK = 3, selectK = 3,
      lambdaTenths = 3)
      .orderBy("step").collect()
      .map(r => (r.getLong(2), r.getLong(1))) // (step, vid)
    assert(got.head == (1L, 10L)) // most relevant first
    // second pick must be the diverse 12, not near-duplicate 11
    assert(got(1) == (2L, 12L))
    assert(got(2) == (3L, 11L))
  }

  test("mmrRerank: driver-gated greedy ≡ distributed rounds (bit-equal)") {
    val emb = GraphBuilder100
    def run = Similarity.mmrRerank(emb, probeMax = 3L, candK = 6, selectK = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
      .toSet
    val local = run
    val dist = graft.algorithms.Tuning.withBroadcastThreshold(0L)(run)
    assert(local == dist && local.nonEmpty)
  }

  test("mmrRerank: selects exactly selectK per probe, steps 1..K") {
    val emb = GraphBuilder100
    val got = Similarity.mmrRerank(emb, probeMax = 3L, candK = 8, selectK = 4)
    val byProbe = got.groupBy("qid")
      .agg(count(lit(1)).as("n"), countDistinct("vid").as("nv"),
        min("step").as("lo"), max("step").as("hi"))
      .collect()
    assert(byProbe.length == 3)
    byProbe.foreach { r =>
      assert(r.getLong(1) == 4L && r.getLong(2) == 4L)
      assert(r.getLong(3) == 1L && r.getLong(4) == 4L)
    }
  }

  /** Deterministic little embedding table: 20 vectors in 4 dims. */
  private def GraphBuilder100: DataFrame =
    spark.range(20).select(col("id").as("vec_id"),
      array((0 until 4).map(j =>
        ((col("id") * 7 + j * 3) % 11).cast("float") + lit(0.1f)): _*)
        .as("embedding"))

  // ---- PropertyGraph.summary ----

  test("graph summary: multi-edges, self-loops, isolation, degrees, density") {
    val nodes = Seq((1L, "A"), (2L, "A"), (3L, "B"), (9L, "B"))
      .toDF("id", "label")
    // 1→2 twice (multi), 2→2 (self-loop), 2→3; node 9 isolated
    val e = Seq((1L, 2L), (1L, 2L), (2L, 2L), (2L, 3L)).toDF("src", "dst")
      .select(col("src"), col("dst"), lit("R").as("rel_type"),
        lit(1.0).as("weight"))
    val r = graph.PropertyGraph(nodes, e).summary.collect().head
    assert(r.getLong(0) == 4L)  // n_nodes
    assert(r.getLong(1) == 4L)  // n_edges
    assert(r.getLong(2) == 1L)  // multi_edges (the duplicated 1→2)
    assert(r.getLong(3) == 1L)  // self_loops
    assert(r.getLong(4) == 2L)  // max_out (nodes 1 and 2 both emit 2)
    assert(r.getLong(5) == 3L)  // max_in (node 2: 1→2 ×2 + 2→2)
    assert(r.getLong(6) == 1L)  // isolated (node 9)
    assert(math.abs(r.getDouble(7) - 4.0 / 12.0) < 1e-9)
  }

  // ---- SimRank ----

  test("simRank: identity diagonal; symmetric pair converges to known value") {
    // 3→1, 3→2, 4→1, 4→2: s(1,2) = c/(2·2)·Σ s(i,j) over {3,4}²
    // iter1: s(1,2) = 0.8/4 · (s(3,3)+s(4,4)) = 0.4; s(3,4) stays 0
    // (3 and 4 have no in-neighbors) so s(1,2) is stable at 0.4.
    val e = Seq((3L, 1L), (3L, 2L), (4L, 1L), (4L, 2L)).toDF("src", "dst")
    val got = graft.algorithms.SimRank.simRank(ids(1, 2, 3, 4), e, 5)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(got((1L, 1L)) == 1.0 && got((3L, 3L)) == 1.0)
    assert(got((1L, 2L)) == 0.4 && got((2L, 1L)) == 0.4)
    assert(got((3L, 4L)) == 0.0)
    assert(got.size == 16)
  }

  test("simRank: scores in [0,1], symmetric") {
    val e = Seq((1L, 2L), (2L, 3L), (3L, 1L), (1L, 3L)).toDF("src", "dst")
    val got = graft.algorithms.SimRank.simRank(ids(1, 2, 3), e, 4)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    got.foreach { case ((a, b), s) =>
      assert(s >= 0.0 && s <= 1.0)
      assert(s == got((b, a)))
    }
  }

  // ---- Centrality.katz ----

  test("katz: fixed-iteration in-path series with known values") {
    // 1→2 chain, α = 0.1: x(1) = 1 (no in-paths); x(2) = 1 + 0.1·x(1)
    val e = Seq((1L, 2L)).toDF("src", "dst")
    val got = graft.algorithms.Centrality.katz(ids(1, 2), e, 4, alpha = 0.1)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(got == Map(1L -> 1.0, 2L -> 1.1))
    // 2-cycle: x converges toward 1/(1−α) = 10/9 ≈ 1.11111…
    val cyc = Seq((1L, 2L), (2L, 1L)).toDF("src", "dst")
    val got2 = graft.algorithms.Centrality.katz(ids(1, 2), cyc, 8, alpha = 0.1)
      .collect().map(r => r.getDouble(1))
    got2.foreach(v => assert(math.abs(v - 10.0 / 9.0) < 1e-7))
  }

  // ---- Similarity.annIvfExact ----

  test("annIvfExact: nprobe = k scans every cell — exact integer top-k") {
    val emb = GraphBuilder100
    val full = graft.pipeline.Similarity
      .annIvfExact(emb, k = 4, nprobe = 4, topK = 3, probeMax = 3L)
      .collect().map(r => (r.getLong(0), r.getLong(3)) -> r.getLong(1)).toMap
    // brute force in exact integer space
    val iv = graft.pipeline.Similarity.exploded(emb)
      .select(col("vec_id"), col("pos"),
        floor(col("x") * lit(1000)).cast("long").as("xi"))
      .collect().groupBy(_.getLong(0))
      .map { case (v, rs) => v -> rs.map(r => r.getLong(1) -> r.getLong(2)).toMap }
    for (q <- 0L until 3L) {
      val exact = iv.keys.filter(_ >= 3L).toSeq.map { v =>
        v -> iv(q).map { case (p, x) =>
          val d = x - iv(v)(p); d * d
        }.sum
      }.sortBy { case (v, d) => (d, v) }.take(3).map(_._1)
      exact.zipWithIndex.foreach { case (vid, i) =>
        assert(full((q, i + 1L)) == vid, s"probe $q rank ${i + 1}")
      }
    }
  }

  // ---- Similarity.annPq ----

  /** 12 vectors cycling through 3 fixed patterns: seeds (vec 3..5)
    * ARE the patterns, so per-subspace k-means is a fixpoint and PQ
    * codes reconstruct every vector exactly. */
  private def pqLossless: DataFrame = {
    val implicits = spark.implicits
    import implicits._
    val pats = Seq(
      Array(0.1f, 0.2f, 0.3f, 0.4f),
      Array(0.5f, 0.6f, 0.7f, 0.8f),
      Array(0.9f, 1.0f, 1.1f, 1.2f))
    (0L to 11L).map(i => (i, pats((i % 3).toInt)))
      .toDF("vec_id", "embedding")
  }

  test("annPq: lossless codebook gives exact ADC distances and ranks") {
    // probe q's pattern copies are vec q+3, q+6, q+9 — ADC distance 0,
    // ranked by vid (every step exact because codes reconstruct exactly)
    val got = graft.pipeline.Similarity
      .annPq(pqLossless, m = 2, ksub = 3, iters = 2, topK = 3, probeMax = 3L)
      .collect()
      .map(r => (r.getLong(0), r.getLong(3)) -> (r.getLong(1), r.getLong(2)))
      .toMap
    for (q <- 0L until 3L) {
      assert(got((q, 1L)) == (q + 3L, 0L))
      assert(got((q, 2L)) == (q + 6L, 0L))
      assert(got((q, 3L)) == (q + 9L, 0L))
    }
    assert(got.size == 9)
  }

  test("annPq: rank contract + shuffle-regime parity") {
    val emb = GraphBuilder100
    def run = graft.pipeline.Similarity
      .annPq(emb, m = 2, ksub = 3, iters = 2, topK = 3, probeMax = 3L)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .toSet
    val local = run
    val dist = graft.algorithms.Tuning.withBroadcastThreshold(0L)(run)
    assert(local == dist && local.nonEmpty)
    val byQ = local.groupBy(_._1)
    assert(byQ.keySet == Set(0L, 1L, 2L))
    byQ.values.foreach { rs =>
      val sorted = rs.toSeq.sortBy(_._4)
      assert(sorted.map(_._4) == Seq(1L, 2L, 3L)) // dense ranks
      assert(sorted.map(_._3) == sorted.map(_._3).sorted) // dist ↑ with rank
      assert(rs.forall(_._2 >= 3L)) // corpus side only
    }
  }

  test("annIvfPq: zero residuals when coarse seeds are the patterns") {
    // kCoarse = 3 seeds ARE the 3 patterns -> every vector's residual
    // is the zero vector, every residual codebook is zero, and ADC
    // distance is exactly 0 to every member of the probed (own) cell:
    // probe q's nearest are its pattern copies q+3, q+6, q+9 by vid.
    val got = graft.pipeline.Similarity
      .annIvfPq(pqLossless, kCoarse = 3, itersCoarse = 2, m = 2,
        ksub = 2, itersPq = 1, nprobe = 1, topK = 3, probeMax = 3L)
      .collect()
      .map(r => (r.getLong(0), r.getLong(3)) -> (r.getLong(1), r.getLong(2)))
      .toMap
    for (q <- 0L until 3L) {
      assert(got((q, 1L)) == (q + 3L, 0L))
      assert(got((q, 2L)) == (q + 6L, 0L))
      assert(got((q, 3L)) == (q + 9L, 0L))
    }
    assert(got.size == 9)
  }

  test("annIvfPq: rank contract + shuffle-regime parity") {
    val emb = GraphBuilder100
    def run = graft.pipeline.Similarity
      .annIvfPq(emb, kCoarse = 3, itersCoarse = 2, m = 2, ksub = 2,
        itersPq = 2, nprobe = 2, topK = 3, probeMax = 3L)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .toSet
    val local = run
    val dist = graft.algorithms.Tuning.withBroadcastThreshold(0L)(run)
    assert(local == dist && local.nonEmpty)
    local.groupBy(_._1).values.foreach { rs =>
      val sorted = rs.toSeq.sortBy(_._4)
      assert(sorted.map(_._4) == (1L to rs.size).toSeq) // dense ranks from 1
      assert(sorted.map(_._3) == sorted.map(_._3).sorted)
      assert(rs.forall(_._2 >= 3L))
    }
  }

  test("pqRecall: perfect recall on the lossless corpus; bounded elsewhere") {
    val perfect = graft.pipeline.Similarity
      .pqRecall(pqLossless, m = 2, ksub = 3, iters = 2, k = 3, probeMax = 3L)
      .collect()
    assert(perfect.length == 3)
    perfect.foreach { r =>
      assert(r.getAs[Long]("n_exact") == 3L)
      assert(r.getAs[Long]("n_hit") == 3L)
      assert(r.getAs[Double]("recall") == 1.0)
    }
    val general = graft.pipeline.Similarity
      .pqRecall(GraphBuilder100, m = 2, ksub = 3, iters = 2, k = 3,
        probeMax = 3L)
      .collect()
    assert(general.map(_.getLong(0)).toSet == Set(0L, 1L, 2L))
    general.foreach { r =>
      assert(r.getAs[Long]("n_exact") == 3L)
      val h = r.getAs[Long]("n_hit")
      assert(h >= 0L && h <= 3L)
      assert(r.getAs[Double]("recall") == h / 3.0 ||
        math.abs(r.getAs[Double]("recall") - h / 3.0) < 1e-6)
    }
  }

  test("pqError: zero reconstruction error when every vector is a centroid") {
    val rows = graft.pipeline.Similarity
      .pqError(pqLossless, m = 2, ksub = 3, iters = 2, probeMax = 3L)
      .collect()
    assert(rows.map(_.getLong(0)).toSeq == Seq(0L, 1L))
    rows.foreach { r =>
      assert(r.getAs[Long]("n_dims") == 2L)
      assert(r.getAs[Long]("n_vecs") == 12L)
      assert(r.getAs[Long]("sse") == 0L)
      assert(r.getAs[Double]("mean_sqerr") == 0.0)
    }
  }

  // ---- pipeline.Pca ----

  test("pcaTop: recovers the dominant axis of anisotropic data") {
    // points spread 10× wider along dim 1 than dims 0/2 → PC1 ≈ e1
    val emb = spark.range(40).select(col("id").as("vec_id"),
      array(
        ((col("id") % 3) - 1).cast("float"),
        ((col("id") % 21) * 10 - 100).cast("float"),
        ((col("id") % 5) - 2).cast("float")).as("embedding"))
    val got = graft.pipeline.Pca.pcaTop(emb, iters = 20).collect()
      .map(r => r.getLong(0) -> (r.getDouble(1), r.getDouble(3))).toMap
    assert(math.abs(math.abs(got(1L)._1) - 1.0) < 0.01) // loading ≈ ±1 on dim 1
    assert(math.abs(got(0L)._1) < 0.1 && math.abs(got(2L)._1) < 0.1)
    assert(got(1L)._2 > 0.95) // dim 1 carries ~all the variance
    // unit-norm loading vector
    val norm = got.values.map(v => v._1 * v._1).sum
    assert(math.abs(norm - 1.0) < 1e-6)
  }

  test("pcaProject: coordinates align with the dominant axis") {
    // dominant dim 1 → coord ≈ ±(x1 − μ1)
    val emb = spark.range(40).select(col("id").as("vec_id"),
      array(
        ((col("id") % 3) - 1).cast("float"),
        ((col("id") % 21) * 10 - 100).cast("float"),
        ((col("id") % 5) - 2).cast("float")).as("embedding"))
    val coords = graft.pipeline.Pca.pcaProject(emb, iters = 20)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val raw = emb.collect().map(r =>
      r.getLong(0) -> r.getSeq[Float](1)(1).toDouble).toMap
    val mu1 = raw.values.sum / raw.size
    // same |correlation| structure: coord ≈ s·(x1−μ1) for a fixed sign s
    val s = math.signum(coords(0L) / (raw(0L) - mu1))
    raw.foreach { case (id, x1) =>
      assert(math.abs(coords(id) - s * (x1 - mu1)) < 1.5,
        s"vec $id coord ${coords(id)} vs axis ${x1 - mu1}")
    }
  }

  test("pcaTop: driver-gated fold ≡ distributed iteration") {
    val emb = GraphBuilder100
    def run = graft.pipeline.Pca.pcaTop(emb, iters = 10).collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val local = run
    val dist = graft.algorithms.Tuning.withBroadcastThreshold(0L)(run)
    assert(local.keySet == dist.keySet && local.nonEmpty)
    local.foreach { case (p, v) =>
      assert(math.abs(v - dist(p)) < 1e-6, s"pca loading $p differs")
    }
  }

  // ---- Centrality.eigenvector ----

  test("eigenvector: 3-cycle converges to the uniform principal vector") {
    val e = Seq((1L, 2L), (2L, 3L), (3L, 1L)).toDF("src", "dst")
    val got = graft.algorithms.Centrality.eigenvector(ids(1, 2, 3), e, 6)
      .collect().map(r => r.getDouble(1))
    got.foreach(v => assert(math.abs(v - 1.0 / math.sqrt(3)) < 1e-7))
    // star 1→{2,3,4}: all mass concentrates off-center
    val star = Seq((1L, 2L), (1L, 3L), (1L, 4L)).toDF("src", "dst")
    val g2 = graft.algorithms.Centrality.eigenvector(ids(1, 2, 3, 4), star, 3)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(g2(1L) == 0.0)
    Seq(2L, 3L, 4L).foreach(v =>
      assert(math.abs(g2(v) - 1.0 / math.sqrt(3)) < 1e-7))
  }

  // ---- Similarity.annRecall ----

  test("annRecall: one row per probe, n_hit <= n_exact, recall = ratio") {
    val emb = GraphBuilder100
    val got = graft.pipeline.Similarity.annRecall(emb, probeMax = 5L, k = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    assert(got.length == 5)
    got.foreach { case (_, nExact, nHit, recall) =>
      assert(nHit <= nExact && nExact <= 3)
      val expect = BigDecimal(nHit.toDouble / nExact)
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      assert(recall == expect)
    }
  }

  // ---- Corpus.pplBuckets ----

  test("pplBuckets: NTILE terciles over (nll, doc_id); sizes big-first") {
    val d = docs(
      1L -> "a a a a", 2L -> "a a b b", 3L -> "a b c d",
      4L -> "c c d d", 5L -> "a a a b", 6L -> "b b b b", 7L -> "d d d d")
    val got = Corpus.pplBuckets(d, nBuckets = 3).collect()
      .map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(got.values.toSeq.sorted == Seq(1L, 1L, 1L, 2L, 2L, 3L, 3L))
    // the most common-token doc lands in the head tier
    val nlls = Corpus.lmScore(d).collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val headDocs = got.filter(_._2 == 1L).keySet
    val sorted = nlls.toSeq.sortBy { case (id, s) => (s, id) }.map(_._1)
    assert(headDocs == sorted.take(3).toSet)
  }

  // ---- Corpus.sourceGini ----

  test("sourceGini: 0 for perfectly balanced sources, rises with skew") {
    def corpus(counts: (String, Int)*): DataFrame =
      counts.flatMap { case (s, n) => (1 to n).map(i => (s, i)) }
        .zipWithIndex.map { case ((s, _), id) => (id.toLong, s, "x") }
        .toDF("doc_id", "source", "text")
    val eq = Corpus.sourceGini(corpus("a" -> 5, "b" -> 5, "c" -> 5))
      .collect().head
    assert(eq.getDouble(0) == 0.0 && eq.getLong(1) == 3L && eq.getLong(2) == 15L)
    val skew = Corpus.sourceGini(corpus("a" -> 1, "b" -> 1, "c" -> 13))
      .collect().head.getDouble(0)
    assert(skew > 0.5)
  }

  // ---- Corpus.sourceLangCube ----

  test("sourceLangCube: all four grouping sets with sentinel + gid") {
    val d = Seq(
      (1L, "s1", "en", 10L), (2L, "s1", "fr", 20L), (3L, "s2", "en", 30L))
      .toDF("doc_id", "source", "lang", "n_chars")
    val got = Corpus.sourceLangCube(d).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2),
        r.getLong(3), r.getLong(4))).toSet
    assert(got.contains(("s1", "en", 0L, 1L, 10L)))      // detail
    assert(got.contains(("s1", "<all>", 1L, 2L, 30L)))   // per-source
    assert(got.contains(("<all>", "en", 2L, 2L, 40L)))   // per-lang
    assert(got.contains(("<all>", "<all>", 3L, 3L, 60L))) // grand total
    assert(got.size == 3 + 2 + 2 + 1)
  }

  // ---- EventStreams.eventTypePivot ----

  test("eventTypePivot: wide daily matrix, absent types zero-filled") {
    val day = 86400L
    val ev = Seq(
      (1L, 10L, "click"), (2L, 20L, "click"), (3L, 30L, "view"),
      (4L, day + 5, "purchase"))
      .toDF("event_id", "es", "event_type")
      .select(col("event_id"), col("event_type"),
        timestamp_seconds(col("es")).cast("timestamp_ntz").as("ts"))
    val got = EventStreams.eventTypePivot(ev).orderBy("day").collect()
    assert(got.length == 2)
    val d0 = got(0)
    assert(d0.getLong(d0.fieldIndex("click")) == 2L)
    assert(d0.getLong(d0.fieldIndex("view")) == 1L)
    assert(d0.getLong(d0.fieldIndex("purchase")) == 0L)
    assert(got(1).getLong(got(1).fieldIndex("purchase")) == 1L)
  }

  // ---- EventStreams.eventTransitions ----

  test("eventTransitions: per-user ordered steps, P sums to 1 per from-type") {
    val ev = Seq(
      (1L, 1L, 10L, "a"), (2L, 1L, 20L, "b"), (3L, 1L, 30L, "a"),
      (4L, 2L, 10L, "a"), (5L, 2L, 20L, "b"),
      (6L, 3L, 5L, "c")) // single event → no transition
      .toDF("event_id", "user_id", "es", "event_type")
      .select(col("event_id"), col("user_id"), col("event_type"),
        timestamp_seconds(col("es")).cast("timestamp_ntz").as("ts"))
    val got = EventStreams.eventTransitions(ev).collect()
      .map(r => (r.getString(0), r.getString(1)) -> (r.getLong(2), r.getDouble(3)))
      .toMap
    assert(got == Map(
      ("a", "b") -> (2L, 1.0), // a→b twice, only a-transition
      ("b", "a") -> (1L, 1.0)))
  }

  // ---- EventStreams.rfm ----

  test("rfm: quintile scores 5 = best; segment composes r,f,m") {
    val h = 3600L
    // 5 users, cleanly separable on all three axes
    val ev = (1L to 5L).flatMap { u =>
      (1L to u).map(i => (u * 100 + i, u, (u * 10 * h) + i, u.toDouble))
    }.toDF("event_id", "user_id", "es", "value")
      .select(col("event_id"), col("user_id"), col("value"),
        timestamp_seconds(col("es")).cast("timestamp_ntz").as("ts"),
        lit("click").as("event_type"))
    val got = EventStreams.rfm(ev).collect()
      .map(r => r.getLong(0) -> (r.getLong(4), r.getLong(5), r.getLong(6),
        r.getLong(7))).toMap
    // user 5: most recent, most frequent, highest spend → 555
    assert(got(5L) == (5L, 5L, 5L, 555L))
    assert(got(1L) == (1L, 1L, 1L, 111L))
    // scores are permutations of 1..5 on each axis
    assert(got.values.map(_._1).toSeq.sorted == (1L to 5L))
    assert(got.values.map(_._2).toSeq.sorted == (1L to 5L))
  }

  // ---- EventStreams.funnelSteps ----

  test("funnelSteps: greedy chains, strict ordering, anchor window") {
    val h = 3600L
    val ev = Seq(
      // user 1 completes a→b→c
      (1L, 1L, 0L, "a"), (2L, 1L, h, "b"), (3L, 1L, 2 * h, "c"),
      // user 2: b before a — never reaches level 2
      (4L, 2L, 0L, "b"), (5L, 2L, h, "a"),
      // user 3: a→b inside, c OUTSIDE the 5h anchor window
      (6L, 3L, 0L, "a"), (7L, 3L, h, "b"), (8L, 3L, 10 * h, "c"),
      // user 4: a only
      (9L, 4L, 0L, "a"))
      .toDF("event_id", "user_id", "es", "event_type")
      .select(col("event_id"), col("user_id"), col("event_type"),
        timestamp_seconds(col("es")).cast("timestamp_ntz").as("ts"))
    val got = EventStreams.funnelSteps(ev, Seq("a", "b", "c"), withinHours = 5)
      .collect().map(r => r.getLong(0) -> (r.getString(1), r.getLong(2))).toMap
    assert(got == Map(
      1L -> ("a", 4L), // users 1, 2, 3, 4 have an `a`
      2L -> ("b", 2L), // users 1 and 3 continue a→b
      3L -> ("c", 1L))) // only user 1 closes in-window
  }

  test("funnelSteps: same-timestamp events don't satisfy strict order") {
    val ev = Seq((1L, 1L, 100L, "a"), (2L, 1L, 100L, "b"))
      .toDF("event_id", "user_id", "es", "event_type")
      .select(col("event_id"), col("user_id"), col("event_type"),
        timestamp_seconds(col("es")).cast("timestamp_ntz").as("ts"))
    val got = EventStreams.funnelSteps(ev, Seq("a", "b"), withinHours = 1)
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(got == Map(1L -> 1L, 2L -> 0L))
  }

  // ---- ops.Profile ----

  test("numericProfile: one row per column with null-aware stats") {
    val d = Seq(
      (Some(1.0), Some(10.0)), (Some(3.0), None), (Some(5.0), Some(30.0)))
      .toDF("x", "y")
    val got = graft.ops.Profile.numericProfile(d, Seq("x", "y")).collect()
      .map(r => r.getString(0) -> r).toMap
    val x = got("x")
    assert(x.getLong(1) == 3L && x.getLong(2) == 0L)
    assert(x.getDouble(3) == 3.0)       // mean
    assert(x.getDouble(4) == 2.0)       // sample std of 1,3,5
    assert(x.getDouble(5) == 1.0 && x.getDouble(6) == 5.0)
    val y = got("y")
    assert(y.getLong(1) == 2L && y.getLong(2) == 1L)
    assert(y.getDouble(3) == 20.0)
  }

  test("stringProfile: cardinality and length shape per column") {
    val d = Seq(
      (Some("en"), "abc"), (Some("en"), "a"), (None, "abcdef"))
      .toDF("lang", "text")
    val got = graft.ops.Profile.stringProfile(d, Seq("lang", "text"))
      .collect().map(r => r.getString(0) -> r).toMap
    val lang = got("lang")
    assert(lang.getLong(1) == 2L && lang.getLong(2) == 1L && lang.getLong(3) == 1L)
    val text = got("text")
    assert(text.getLong(3) == 3L)
    assert(math.abs(text.getDouble(4) - 10.0 / 3) < 1e-6)
    assert(text.getLong(5) == 1L && text.getLong(6) == 6L)
  }

  test("numericProfile plans a single scan (one pass for all columns)") {
    val df = graft.ops.Profile.numericProfile(
      graph.GraphBuilder.table(spark, sfDir, "lineitem"),
      Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax"))
    val plan = df.queryExecution.executedPlan.toString
    assert("FileScan parquet".r.findAllIn(plan).size == 1, plan.take(1500))
  }

  // ---- ops.ZOrder ----

  test("zValue: Morton interleave of known bit patterns") {
    val df = Seq((1L, 0L), (0L, 1L), (3L, 3L), (2L, 1L))
      .toDF("a", "b")
      .select(col("a"), col("b"),
        graft.ops.ZOrder.zValue(col("a"), col("b"), 4).as("z"))
    val got = df.collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(got((1L, 0L)) == 2L)  // a bit 0 → position 1
    assert(got((0L, 1L)) == 1L)  // b bit 0 → position 0
    assert(got((3L, 3L)) == 15L) // both low 2 bits set
    assert(got((2L, 1L)) == 9L)  // a bit 1 → pos 3 (8), b bit 0 → pos 0 (1)
  }

  test("zorderStats: buckets cover tight bounding boxes on both keys") {
    // 16×16 grid quantized onto the 8-bit curve, 4 buckets → each
    // bucket is one curve quadrant: an 8×8 box on BOTH keys (the whole
    // point of z-order vs a single-key sort)
    val grid = spark.range(256).select(
      (col("id") / 16).cast("long").as("a"), (col("id") % 16).cast("long").as("b"))
    val got = graft.ops.ZOrder.zorderStats(grid, "a", "b", 8, 2)
      .orderBy("bucket").collect()
      .map(r => (r.getLong(0), r.getLong(1),
        r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5)))
    assert(got.length == 4)
    got.foreach { case (_, n, aMin, aMax, bMin, bMax) =>
      assert(n == 64L)
      assert(aMax - aMin == 7L && bMax - bMin == 7L)
    }
  }
}
