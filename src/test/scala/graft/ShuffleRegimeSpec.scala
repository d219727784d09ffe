package graft

import java.util.concurrent.atomic.AtomicInteger
import org.apache.spark.ListenerBusDrain
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.functions._
import org.apache.spark.sql.util.QueryExecutionListener
import graft.algorithms.{Community, Structure, Tuning}

/** The dual-regime kernels (CC, SCC, PageRank, k-core, triangles) gate
  * "broadcast the |V|-bounded side" vs "shuffle join" on
  * [[Tuning.broadcastThreshold]]. sf0.1 never crosses the default 4M-row
  * gate, so without this spec the shuffle branch — the code path a
  * 100 TB cluster actually runs — would ship untested. Here every kernel
  * runs twice on the same seeded random graph, once per regime, and the
  * outputs must be identical (bit-identical for the integer kernels,
  * 1e-9 for PageRank).
  */
class ShuffleRegimeSpec extends SparkSpec {
  import testImplicits._

  private lazy val testImplicits = spark.implicits

  // Seeded random graph, big enough that every kernel does real work:
  // 400 nodes, ~1600 directed edges (dense enough for triangles and a
  // non-trivial core/SCC structure).
  private lazy val (nodeDf, edgeDf, symDf, pairDf) = randomGraph(400, 1600)

  private def randomGraph(n: Int, m: Int, extra: Seq[(Long, Long)] = Nil) = {
    val rnd = new scala.util.Random(42)
    val es = (Seq.fill(m)((rnd.nextInt(n).toLong, rnd.nextInt(n).toLong))
      .filter { case (a, b) => a != b } ++ extra).distinct
    val nodes = (0 until n).map(_.toLong).toDF("id")
    val edges = es.toDF("src", "dst").localCheckpoint()
    val sym = edges.unionByName(
      edges.select(col("dst").as("src"), col("src").as("dst")))
      .distinct().localCheckpoint()
    val pairs = es.map { case (a, b) => (math.min(a, b), math.max(a, b)) }
      .distinct.toDF("a", "b").localCheckpoint()
    (nodes, edges, sym, pairs)
  }

  // An 80-node random graph whose edges also reach ids outside the node
  // set: into it, out of it, between two outside ids, and a path
  // 3 → 9003 → 5 that no SCC may use.
  private lazy val (pNodes, pEdges, pSym, _) = randomGraph(80, 320,
    Seq(9001L -> 1L, 9002L -> 2L, 3L -> 9003L, 4L -> 9003L, 9003L -> 5L,
      9004L -> 9005L))

  private def both[A](run: => A): (A, A) = {
    val broadcastRegime = run
    val shuffleRegime = Tuning.withBroadcastThreshold(0L)(run)
    (broadcastRegime, shuffleRegime)
  }

  private def asSet(df: DataFrame): Set[Seq[Any]] =
    df.collect().map(_.toSeq).toSet

  test("connected components: shuffle regime ≡ broadcast regime") {
    val (b, s) = both(asSet(Community.connectedComponents(nodeDf, symDf, 30)))
    assert(b.nonEmpty && b == s)
  }

  test("scc: shuffle regime ≡ broadcast regime") {
    val (b, s) = both(asSet(Community.scc(nodeDf, edgeDf)))
    assert(b.nonEmpty && b == s)
  }

  test("pageRank: shuffle regime ≡ broadcast regime (1e-9)") {
    def ranks = Community.pageRank(nodeDf, edgeDf, 0.85, 10)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val (b, s) = both(ranks)
    assert(b.keySet == s.keySet && b.nonEmpty)
    b.foreach { case (id, v) =>
      assert(math.abs(v - s(id)) < 1e-9, s"rank($id) differs across regimes") }
  }

  test("k-core members: shuffle regime ≡ broadcast regime") {
    val (b, s) = both(asSet(Structure.kcoreMembers(symDf, 4, 30)))
    assert(b.nonEmpty && b == s)
  }

  private def symOf(pairs: (Long, Long)*): DataFrame =
    (pairs ++ pairs.map(_.swap)).toDF("src", "dst")

  test("k-core members: peel depth > 1 and an empty edge set, both regimes") {
    // Triangle 1-2-3 with the tail 3-4-5-6: k = 2 peels 6, then 5, then
    // 4 (three killing rounds); the core is the triangle.
    val tail = symOf(1L -> 2L, 2L -> 3L, 3L -> 1L, 3L -> 4L, 4L -> 5L, 5L -> 6L)
    val (b, s) = both(asSet(Structure.kcoreMembers(tail, 2, 10)))
    assert(b == Set(Seq(1L), Seq(2L), Seq(3L)) && b == s)
    // A path peels from both ends, two nodes a round, to nothing.
    val path = symOf((1L to 9L).map(i => i -> (i + 1)): _*)
    val (bp, sp) = both(asSet(Structure.kcoreMembers(path, 2, 10)))
    assert(bp.isEmpty && sp.isEmpty)
    // An empty edge set fits even a 0-row gate; -1 forces the shuffle loop.
    val none = symOf()
    assert(Structure.kcoreMembers(none, 2, 5).isEmpty)
    assert(Tuning.withBroadcastThreshold(-1L)(Structure.kcoreMembers(none, 2, 5)).isEmpty)
  }

  test("coloring: shuffle regime (JP rounds) ≡ driver sequential greedy") {
    val (b, s) = both(asSet(
      algorithms.Independent.greedyColoring(nodeDf, symDf)))
    assert(b.nonEmpty && b == s)
  }

  test("mis: shuffle regime (parallel rounds) ≡ driver sequential greedy") {
    val (b, s) = both(asSet(
      algorithms.Independent.maximalIndependentSet(nodeDf, symDf)))
    assert(b.nonEmpty && b == s)
  }

  test("mst: shuffle regime (distributed Borůvka) ≡ driver Kruskal") {
    // weighted view of the random pair graph: deterministic weights
    // with deliberate TIES (w in 1..7), so the (w, a, b) total-order
    // uniqueness claim is what's actually exercised
    val wed = pairDf.select(col("a"), col("b"),
      (pmod(col("a") * 31 + col("b") * 17, lit(7)) + 1).as("w"))
    val (b, s) = both(asSet(algorithms.Spanning.minimumSpanningForest(wed)))
    assert(b.nonEmpty && b == s)
  }

  test("triangles per node: shuffle regime ≡ broadcast regime") {
    // trianglesPerNode reads the threshold through its default argument,
    // so the forced-0 run takes the shuffle close path.
    val (b, s) = both(asSet(Structure.trianglesPerNode(pairDf)))
    assert(b.nonEmpty && b == s)
  }

  test("core numbers: shuffle regime ≡ broadcast regime") {
    val (b, s) = both(asSet(Structure.coreNumbers(symDf)))
    assert(b.nonEmpty && b == s)
  }

  test("louvain: shuffle regime ≡ broadcast regime") {
    val (b, s) = both(asSet(Community.louvain(nodeDf, symDf, 2)))
    assert(b.nonEmpty && b == s)
  }

  test("bfs distances: shuffle regime ≡ broadcast regime") {
    val seeds = (0L until 10L).toDF("id")
    val (b, s) = both(asSet(
      graft.algorithms.Traversal.bfsDistances(edgeDf, seeds, 4)))
    assert(b.nonEmpty && b == s)
  }

  test("bellman-ford: shuffle regime ≡ broadcast regime (bit-equal)") {
    val w = edgeDf.select(col("src"), col("dst"),
      (lit(1.0) + (col("src") + col("dst")) % 5).as("weight")).localCheckpoint()
    val seeds = (0L until 5L).toDF("id")
    val (b, s) = both(asSet(
      graft.algorithms.Traversal.bellmanFord(w, seeds, 8)))
    assert(b.nonEmpty && b == s) // MIN merge is order-free: bit-equal
  }

  test("betweenness sampled: shuffle regime ≡ broadcast regime (1e-9)") {
    def bc = graft.algorithms.Centrality
      .betweennessSampled(nodeDf, edgeDf, 3, 50)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val (b, s) = both(bc)
    assert(b.keySet == s.keySet && b.nonEmpty)
    b.foreach { case (id, v) =>
      assert(math.abs(v - s(id)) < 1e-9, s"bc($id) differs across regimes") }
  }

  test("all shortest paths: shuffle regime ≡ broadcast regime") {
    val te = edgeDf.withColumn("rel_type",
      concat(lit("T"), (col("src") % 3).cast("string"))).localCheckpoint()
    val (b, s) = both(asSet(
      graft.algorithms.Paths.allShortestPaths(te, 0L, 399L, 8)))
    assert(b == s)
  }

  test("aStar: shuffle regime ≡ broadcast regime") {
    val w = edgeDf.select(col("src"), col("dst"),
      (lit(1.0) + (col("src") + col("dst")) % 5).as("weight")).localCheckpoint()
    val coords = nodeDf.select(col("id"),
      (col("id") % 20).cast("double").as("x"),
      (col("id") / 20).cast("double").as("y")).localCheckpoint()
    for (heur <- Seq("euclidean", "manhattan", "zero")) {
      val (b, s) = both(asSet(
        graft.algorithms.Traversal.aStar(w, coords, 0L, 399L, 25, heur)))
      assert(b == s, s"aStar($heur) differs across regimes")
    }
  }

  test("closeness: shuffle regime ≡ broadcast regime") {
    // reach and closeness (a ratio of exact integers) are bit-equal;
    // harmonic is a float sum whose order differs across regimes, so it
    // gets the usual 1e-9 numeric compare instead of set equality
    def cl = graft.algorithms.Centrality.closeness(nodeDf, edgeDf, 10)
      .collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2), r.getDouble(3))))
      .toMap
    val (b, s) = both(cl)
    assert(b.keySet == s.keySet && b.nonEmpty)
    b.foreach { case (id, (nr, c, h)) =>
      assert(nr == s(id)._1 && c == s(id)._2,
        s"closeness($id) integer parts differ across regimes")
      assert(math.abs(h - s(id)._3) < 1e-9,
        s"harmonic($id) differs across regimes")
    }
  }

  test("personalized pagerank: shuffle regime ≡ broadcast regime (1e-9)") {
    def pr = Community.personalizedPageRank(nodeDf, edgeDf,
        Seq(0L, 17L, 202L), 0.85, 10)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val (b, s) = both(pr)
    assert(b.keySet == s.keySet && b.nonEmpty)
    b.foreach { case (id, v) =>
      assert(math.abs(v - s(id)) < 1e-9, s"ppr($id) differs across regimes") }
  }

  test("label propagation: shuffle regime ≡ broadcast regime") {
    val (b, s) = both(asSet(Community.labelPropagation(nodeDf, symDf, 5)))
    assert(b.nonEmpty && b == s) // integer labels: bit-equal
  }

  test("random walks: shuffle regime ≡ broadcast regime (bit-equal)") {
    val (b, s) = both(asSet(
      graft.algorithms.RandomWalks.walks(edgeDf, nodeDf, 6, 2)))
    assert(b.nonEmpty && b == s) // same hash argmin through both plans
  }

  test("hits: shuffle regime ≡ broadcast regime (1e-9)") {
    def hs = graft.algorithms.Centrality.hits(nodeDf, edgeDf, 8)
      .collect().map(r => r.getLong(0) -> ((r.getDouble(1), r.getDouble(2))))
      .toMap
    val (b, s) = both(hs)
    assert(b.keySet == s.keySet && b.nonEmpty)
    b.foreach { case (id, (h, a)) =>
      assert(math.abs(h - s(id)._1) < 1e-9 && math.abs(a - s(id)._2) < 1e-9,
        s"hits($id) differs across regimes")
    }
  }

  test("katz: shuffle regime ≡ broadcast regime (1e-9)") {
    def kz = graft.algorithms.Centrality.katz(nodeDf, edgeDf, 8)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val (b, s) = both(kz)
    assert(b.keySet == s.keySet && b.nonEmpty)
    b.foreach { case (id, v) =>
      assert(math.abs(v - s(id)) < 1e-9, s"katz($id) differs across regimes")
    }
  }

  test("katz: regimes agree when edges reference ids outside the node universe") {
    // The distributed loop carries rank only on universe ids, so an
    // edge whose src is not in `nodes` contributes nothing; the packed
    // local twin must mirror that (it used to seed 1.0 for edge-only
    // endpoints and let them feed every sweep).
    val phantom = edgeDf.unionByName(
      Seq((9001L, 1L), (9002L, 2L), (3L, 9003L)).toDF("src", "dst"))
    def kz = graft.algorithms.Centrality.katz(nodeDf, phantom, 8)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val (b, s) = both(kz)
    assert(b.keySet == s.keySet && b.nonEmpty)
    b.foreach { case (id, v) =>
      assert(math.abs(v - s(id)) < 1e-9, s"katz($id) differs across regimes")
    }
  }

  test("eigenvector: shuffle regime ≡ broadcast regime (1e-9)") {
    def ev = graft.algorithms.Centrality.eigenvector(nodeDf, edgeDf, 8)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val (b, s) = both(ev)
    assert(b.keySet == s.keySet && b.nonEmpty)
    b.foreach { case (id, v) =>
      assert(math.abs(v - s(id)) < 1e-9, s"eig($id) differs across regimes")
    }
  }

  test("weighted pagerank: shuffle regime ≡ broadcast regime (1e-9)") {
    val wedges = edgeDf.withColumn("cnt", (col("src") % 7) + 1)
    def wpr = Community.weightedPageRank(nodeDf, wedges, 0.85, 10)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val (b, s) = both(wpr)
    assert(b.keySet == s.keySet && b.nonEmpty)
    b.foreach { case (id, v) =>
      assert(math.abs(v - s(id)) < 1e-9, s"wpr($id) differs across regimes")
    }
  }

  test("pagerank family: regimes agree when edges reach ids outside the node set") {
    // ids 380..399 are only edge endpoints here: a contribution target
    // outside the node set rides along for the iteration it is reached
    // (PageRank's base applies to it, PPR's teleport does not)
    val nodes = nodeDf.filter(col("id") < 380)
    val wedges = edgeDf.withColumn("cnt", (col("src") % 7) + 1)
    val variants = Seq[(String, () => DataFrame)](
      "pr" -> (() => Community.pageRank(nodes, edgeDf, 0.85, 10)),
      "wpr" -> (() => Community.weightedPageRank(nodes, wedges, 0.85, 10)),
      "ppr" -> (() => Community.personalizedPageRank(nodes, edgeDf,
        Seq(0L, 17L, 202L), 0.85, 10)))
    variants.foreach { case (name, run) =>
      def ranks = run().collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
      val (b, s) = both(ranks)
      assert(b.keySet == s.keySet && b.exists(_._1 >= 380L),
        s"$name key sets differ or miss the outside ids")
      b.foreach { case (id, v) =>
        assert(math.abs(v - s(id)) < 1e-9, s"$name($id) differs across regimes")
      }
    }
  }

  test("dag longest paths: shuffle regime ≡ broadcast regime (bit-equal)") {
    // orient small→large id: acyclic by construction; integer dists
    val dagEdges = edgeDf.filter(col("src") < col("dst"))
      .withColumn("w", (col("src") % 5) + 1)
    def lp = graft.algorithms.Dag.longestPaths(nodeDf, dagEdges, 400)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val (b, s) = both(lp)
    assert(b == s && b.nonEmpty)
  }

  /** Every kernel with a driver twin, over [[pEdges]]. */
  private def outsideIdKernels(nodes: DataFrame): Seq[(String, () => DataFrame)] = {
    import graft.algorithms.{Centrality, Dag, RandomWalks, SimRank, Traversal}
    val weighted = pEdges.withColumn("cnt", (col("src") % 7) + 1)
      .withColumn("weight", lit(1.0) + (col("src") + col("dst")) % 5)
    val dag = pEdges.filter(col("src") < col("dst") || col("src") > 9000L)
      .withColumn("w", (col("src") % 5) + 1)
    val seeds = Seq(0L, 1L, 2L, 9004L).toDF("id")
    Seq(
      "cc" -> (() => Community.connectedComponents(nodes, pSym, 30)),
      "scc" -> (() => Community.scc(nodes, pEdges)),
      "lpa" -> (() => Community.labelPropagation(nodes, pSym, 5)),
      "louvain" -> (() => Community.louvain(nodes, pSym, 2)),
      "pagerank" -> (() => Community.pageRank(nodes, pEdges, 0.85, 10)),
      "weighted pagerank" -> (() => Community.weightedPageRank(nodes, weighted, 0.85, 10)),
      "personalized pagerank" -> (() => Community.personalizedPageRank(nodes, pEdges,
        Seq(0L, 17L, 9001L), 0.85, 10)),
      "hits" -> (() => Centrality.hits(nodes, pEdges, 8)),
      "katz" -> (() => Centrality.katz(nodes, pEdges, 8)),
      "eigenvector" -> (() => Centrality.eigenvector(nodes, pEdges, 8)),
      "closeness" -> (() => Centrality.closeness(nodes, pEdges, 10)),
      "eccentricity" -> (() => Centrality.eccentricity(nodes, pEdges, 10)),
      "betweenness" -> (() => Centrality.betweenness(nodes, pEdges, 4)),
      "walks" -> (() => RandomWalks.walks(pEdges, nodes, 6, 2)),
      "bfs" -> (() => Traversal.bfsDistances(pEdges, seeds, 4)),
      "bellman-ford" -> (() => Traversal.bellmanFord(weighted, seeds, 8)),
      "dag longest paths" -> (() => Dag.longestPaths(nodes, dag, 100)),
      "simrank" -> (() => SimRank.simRank(nodes, pEdges, 3)),
      "k-core members" -> (() => Structure.kcoreMembers(pSym, 3, 30)),
      "core numbers" -> (() => Structure.coreNumbers(pSym)))
  }

  test("presence rule: every driver twin agrees with its kernel on outside ids") {
    // Integer columns key each row and must agree as sets; float columns
    // agree within 1e-9, except SimRank's, which the kernel rounds to
    // 6 dp (a sum that lands on a rounding boundary may round apart).
    outsideIdKernels(pNodes).foreach { case (name, run) =>
      def rows = run().collect().map { r =>
        val (ds, ls) = r.toSeq.partition(_.isInstanceOf[Double])
        ls -> ds.map(_.asInstanceOf[Double])
      }
      val (b, s) = both(rows)
      val sm = s.toMap
      assert(b.nonEmpty && b.length == s.length && b.map(_._1).toSet == sm.keySet,
        s"$name: rows differ across regimes")
      // an id outside the node set that a contribution reaches has a rank
      if (name.endsWith("pagerank"))
        assert(b.exists(_._1 == Seq(9003L)), s"$name misses the outside id 9003")
      val tol = if (name == "simrank") 1.1e-6 else 1e-9
      b.foreach { case (k, d) =>
        d.zip(sm(k)).foreach { case (x, y) =>
          assert(math.abs(x - y) < tol, s"$name$k differs across regimes") }
      }
    }
  }

  test("driver twins intern a repeated node id once") {
    // ids are the node table's key; a frame that repeats some must give
    // the driver regime the same rows as the distinct ids
    val dup = pNodes.unionByName(pNodes.filter(col("id") < 3))
    val picked = Set("scc", "katz", "lpa", "eigenvector")
    outsideIdKernels(dup).zip(outsideIdKernels(pNodes))
      .filter { case ((name, _), _) => picked(name) }
      .foreach { case ((name, onDup), (_, onIds)) =>
        assert(asSet(onDup()) == asSet(onIds()), s"$name differs on repeated ids")
      }
  }

  /** `localCheckpoint` actions that `body` runs, counted by a
    * `QueryExecutionListener` (its events arrive on the listener bus,
    * drained before and after). */
  private def checkpointsIn(body: => Unit): Int = {
    val n = new AtomicInteger
    val listener = new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        if (funcName == "localCheckpoint") n.incrementAndGet()
      override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    ListenerBusDrain(spark.sparkContext)
    spark.listenerManager.register(listener)
    try {
      body
      ListenerBusDrain(spark.sparkContext)
      n.get
    } finally spark.listenerManager.unregister(listener)
  }

  test("dag longest paths and k-core: one checkpoint per shuffle-regime round") {
    // A unit chain of depth D runs D + 1 relaxation rounds (the last one
    // improves nothing); a path of 2p nodes peels p killing rounds plus
    // one that finds no node under k = 2. Fixed costs (edge and node
    // checkpoints) cancel in the difference, which must equal the round
    // difference — two checkpoints per round would double it.
    def chain(d: Int): Unit = {
      val e = (0 until d).map(i => (i.toLong, i + 1L, 1L)).toDF("src", "dst", "w")
      val n = (0 to d).map(_.toLong).toDF("id")
      val got = graft.algorithms.Dag.longestPaths(n, e, 50)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(got == (0 to d).map(i => i.toLong -> i.toLong).toMap)
    }
    def path(nodes: Int): Unit = {
      val sym = symOf((1 until nodes).map(i => i.toLong -> (i + 1L)): _*)
      assert(Structure.kcoreMembers(sym, 2, 50).isEmpty)
    }
    Tuning.withBroadcastThreshold(0L) {
      val (dagShort, dagLong) = (checkpointsIn(chain(2)), checkpointsIn(chain(6)))
      assert(dagLong - dagShort == 4, s"chain checkpoints $dagShort → $dagLong")
      val (peelShort, peelLong) = (checkpointsIn(path(4)), checkpointsIn(path(10)))
      assert(peelLong - peelShort == 3, s"path checkpoints $peelShort → $peelLong")
    }
  }

  test("simrank: shuffle regime ≡ broadcast regime (1e-6 after 6-dp round)") {
    def sr = graft.algorithms.SimRank.simRank(nodeDf, edgeDf, 3)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    val (b, s) = both(sr)
    assert(b.keySet == s.keySet && b.nonEmpty)
    b.foreach { case (p, v) =>
      assert(math.abs(v - s(p)) < 1.1e-6, s"simrank$p differs across regimes")
    }
  }

  test("pplBuckets: shuffle regime ≡ broadcast regime (exact NTILE parity)") {
    // 300 docs with heavy nll ties (13 distinct token patterns), so the
    // tier split must break ties on doc_id identically in both the
    // single-window NTILE regime and the range-rank shuffle regime.
    val docs = (1L to 300L).map { i =>
      (i, Seq.fill((i % 7 + 1).toInt)("w" + (i % 13)).mkString(" "))
    }.toDF("doc_id", "text")
    def pb = graft.pipeline.Corpus.pplBuckets(docs, 5)
      .collect().map(r => r.getLong(0) -> ((r.getDouble(1), r.getLong(2))))
      .toMap
    val (b, s) = both(pb)
    assert(b.size == 300 && b == s)
    // every tier populated, quota sizes 60 each (300 divisible by 5)
    assert(b.values.groupBy(_._2).view.mapValues(_.size).toMap ==
      (1L to 5L).map(_ -> 60).toMap)
  }

  test("rfm: shuffle regime ≡ broadcast regime (triple NTILE parity)") {
    // 123 users (not divisible by 5 -> uneven quotas exercise the
    // NTILE remainder path), heavy frequency/monetary ties so the
    // user_id tiebreak must agree across regimes on all three tiles.
    val ev = (1L to 123L).flatMap { u =>
      (0L until (u % 4 + 1)).map(i =>
        (u * 10 + i, u, (u % 9).toDouble, u * 3600 + i * 60))
    }.toDF("event_id", "user_id", "value", "sec")
      .select(col("event_id"), col("user_id"), col("value"),
        col("sec").cast("timestamp").as("ts"))
    def seg = graft.streaming.EventStreams.rfm(ev)
      .collect().map(r => r.getLong(0) -> r.getAs[Long]("segment")).toMap
    val (b, s) = both(seg)
    assert(b.size == 123 && b == s)
    // all three digit positions populated across 1..5
    assert((1L to 5L).forall(t => b.values.exists(_ / 100 == t)))
  }
}
