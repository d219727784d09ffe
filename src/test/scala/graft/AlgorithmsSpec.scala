package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.algorithms.{Centrality, Community, Structure, Traversal, Tuning}

/** Algorithm semantics on tiny hand-built graphs with known answers
  * (mirrors the reference's unit tests, e.g. the kcore.rs doc example). */
class AlgorithmsSpec extends SparkSpec {
  import testImplicits._

  private lazy val testImplicits = spark.implicits

  private def edges(pairs: (Long, Long)*): DataFrame =
    pairs.toDF("src", "dst")
  private def ids(xs: Long*): DataFrame = xs.toDF("id")
  private def symm(e: DataFrame): DataFrame =
    e.unionByName(e.select(col("dst").as("src"), col("src").as("dst")))

  test("conductance: one crossing edge between two 2-node groups") {
    // A = {1,2}, B = {3,4}; edges 1-2, 3-4, 2-3 (a<b orientation)
    val pe = Seq((1L, 2L), (3L, 4L), (2L, 3L)).toDF("a", "b")
    val grp = Seq((1L, "A"), (2L, "A"), (3L, "B"), (4L, "B")).toDF("id", "g")
    val r = Structure.conductance(pe, grp).collect()
      .map(x => x.getString(0) -> (x.getLong(1), x.getLong(2), x.getDouble(3)))
      .toMap
    // vol 3 each side, one crossing edge: phi = 1/3
    assert(r("A") == ((3L, 1L, 0.333333)))
    assert(r("B") == ((3L, 1L, 0.333333)))
  }

  test("bfsDistances: path graph 1→2→3→4, depth 2") {
    val d = Traversal.bfsDistances(edges(1L -> 2L, 2L -> 3L, 3L -> 4L), ids(1), 2)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(d == Map(1L -> 0L, 2L -> 1L, 3L -> 2L))
  }

  test("bfsDistances takes shortest visit on diamond") {
    // 1→2→4, 1→4 : dist(4) = 1
    val d = Traversal.bfsDistances(edges(1L -> 2L, 2L -> 4L, 1L -> 4L), ids(1), 3)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(d(4L) == 1L && d(2L) == 1L)
  }

  test("bellmanFord picks cheapest path, not fewest hops") {
    // 1→3 weight 10; 1→2→3 weight 2+3
    val e = Seq((1L, 3L, 10.0), (1L, 2L, 2.0), (2L, 3L, 3.0)).toDF("src", "dst", "weight")
    val d = Traversal.bellmanFord(e, ids(1), 3)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(d(3L) == 5.0 && d(2L) == 2.0 && d(1L) == 0.0)
  }

  test("connectedComponents: two components, min-id labels") {
    val e = symm(edges(1L -> 2L, 2L -> 3L, 10L -> 11L))
    val c = Community.connectedComponents(ids(1, 2, 3, 10, 11, 20), e, 10)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(c == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 10L -> 10L, 11L -> 10L, 20L -> 20L))
  }

  test("pageRank sums to 1 and favors the sink of a star") {
    val e = edges(1L -> 9L, 2L -> 9L, 3L -> 9L, 9L -> 1L)
    val r = Community.pageRank(ids(1, 2, 3, 9), e, 0.85, 20)
      .collect().map(x => x.getLong(0) -> x.getDouble(1)).toMap
    assert(math.abs(r.values.sum - 1.0) < 1e-9)
    assert(r(9L) > r(1L) && r(1L) > r(2L) && r(2L) == r(3L))
  }

  test("scc: 3-cycle + tail") {
    val e = edges(1L -> 2L, 2L -> 3L, 3L -> 1L, 3L -> 4L)
    val s = Community.scc(ids(1, 2, 3, 4), e)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(s == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 4L))
  }

  test("scc: two cycles joined by a bridge, plus chain and self-loop") {
    // cycle {1,2,3} → bridge → cycle {10,11}, chain 20→21→22, self-loop 30
    val e = edges(1L -> 2L, 2L -> 3L, 3L -> 1L, 3L -> 10L,
      10L -> 11L, 11L -> 10L, 20L -> 21L, 21L -> 22L, 30L -> 30L)
    val s = Community.scc(ids(1, 2, 3, 10, 11, 20, 21, 22, 30), e)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(s == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 10L -> 10L, 11L -> 10L,
      20L -> 20L, 21L -> 21L, 22L -> 22L, 30L -> 30L))
  }

  test("scc: adversarial id order (root id is the max) still labels by min") {
    // cycle {5,6} feeding cycle {1,2}: colors collapse to 1, first round
    // resolves {1,2}, second round resolves {5,6}
    val e = edges(5L -> 6L, 6L -> 5L, 6L -> 1L, 1L -> 2L, 2L -> 1L)
    val s = Community.scc(ids(1, 2, 5, 6), e)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(s == Map(1L -> 1L, 2L -> 1L, 5L -> 5L, 6L -> 5L))
  }

  test("louvainOnePass: heaviest neighbor wins, ties to min id") {
    // 1=2 double edge, 2-3 single, 3-4 single
    val e = symm(edges(1L -> 2L, 1L -> 2L, 2L -> 3L, 3L -> 4L))
    val c = Community.louvainOnePass(e)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(c(1L) == 2L && c(2L) == 1L)
    assert(c(3L) == 2L) // tie between 2 and 4 → min id
    assert(c(4L) == 3L)
  }

  test("betweenness: directed path 1→2→3 gives bc(2)=1/((n-1)(n-2))") {
    val bc = Centrality.betweenness(ids(1, 2, 3), edges(1L -> 2L, 2L -> 3L), 3)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(math.abs(bc(2L) - 1.0 / 2.0) < 1e-12)
    assert(bc(1L) == 0.0 && bc(3L) == 0.0)
  }

  test("betweenness splits over equal shortest paths (diamond)") {
    // 1→2→4, 1→3→4: two shortest paths; bc(2)=bc(3)=0.5/((4-1)(4-2))
    val e = edges(1L -> 2L, 1L -> 3L, 2L -> 4L, 3L -> 4L)
    val bc = Centrality.betweenness(ids(1, 2, 3, 4), e, 3)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(math.abs(bc(2L) - 0.5 / 6.0) < 1e-12)
    assert(math.abs(bc(3L) - 0.5 / 6.0) < 1e-12)
  }

  test("betweennessSampled with k >= n equals exact; small k is deterministic") {
    val e = edges(1L -> 2L, 1L -> 3L, 2L -> 4L, 3L -> 4L)
    val exact = Centrality.betweenness(ids(1, 2, 3, 4), e, 3)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val full = Centrality.betweennessSampled(ids(1, 2, 3, 4), e, 3, 10)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(exact.keys == full.keys &&
      exact.forall { case (k, v) => math.abs(full(k) - v) < 1e-12 })
    val s1 = Centrality.betweennessSampled(ids(1, 2, 3, 4), e, 3, 2)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val s2 = Centrality.betweennessSampled(ids(1, 2, 3, 4), e, 3, 2)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(s1 == s2 && s1.values.forall(_ >= 0.0))
  }

  test("kcore: reference doc example (triangle + pendant), k=2") {
    // kcore.rs doc: triangle a-b-c, d hangs off a; 2-core = {a,b,c}
    val e = symm(edges(1L -> 2L, 2L -> 3L, 3L -> 1L, 1L -> 4L))
    val core = Structure.kcoreMembers(e, 2, 5).collect().map(_.getLong(0)).toSet
    assert(core == Set(1L, 2L, 3L))
  }

  test("triangles: K4 has 4 oriented triangles, all nodes in 3") {
    val pe = Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L), (3L, 4L)).toDF("a", "b")
    assert(Structure.triangles(pe).count() == 4)
    val per = Structure.trianglesPerNode(pe)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(per == Map(1L -> 3L, 2L -> 3L, 3L -> 3L, 4L -> 3L))
  }

  test("coreNumbers: full decomposition of the kcore.rs doc example") {
    // triangle 1-2-3 + pendant 4 on 1: cores 2,2,2,1
    val e = symm(edges(1L -> 2L, 2L -> 3L, 3L -> 1L, 1L -> 4L))
    val cores = Structure.coreNumbers(e)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(cores == Map(1L -> 2L, 2L -> 2L, 3L -> 2L, 4L -> 1L))
  }

  test("coreNumbers on two joined cliques") {
    // K4 {1..4} + path 4-5-6: K4 members core 3, path nodes core 1
    val k4 = for (a <- 1L to 4L; b <- (a + 1) to 4L) yield (a, b)
    val e = symm(edges(k4 ++ Seq((4L, 5L), (5L, 6L)): _*))
    val cores = Structure.coreNumbers(e)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(cores == Map(1L -> 3L, 2L -> 3L, 3L -> 3L, 4L -> 3L, 5L -> 1L, 6L -> 1L))
  }

  test("louvain with a node universe keeps isolated nodes as singletons") {
    val e = symm(edges(1L -> 2L, 2L -> 3L))
    val c = Community.louvain(ids(1, 2, 3, 99), e, 1)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(c(99L) == 99L, "isolated node must survive as its own community")
    assert(c.keySet == Set(1L, 2L, 3L, 99L))
    // edge-driven overload: documented edge-endpoints-only output
    val cE = Community.louvain(e, 1)
      .collect().map(_.getLong(0)).toSet
    assert(cE == Set(1L, 2L, 3L))
  }

  test("louvainMulti: levels=1 equals one-pass louvain; isolated nodes survive") {
    val e = symm(edges(1L -> 2L, 2L -> 3L))
    val one = Community.louvain(ids(1, 2, 3, 99), e, 1)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val multi = Community.louvainMulti(ids(1, 2, 3, 99), e, 1)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(multi == one)
    assert(multi(99L) == 99L)
  }

  test("louvainMulti: coarsened weights drive level 2 (two triangles + bridge)") {
    // triangles {1,2,3} and {4,5,6}, bridge 3-4. Level 1 (all weights
    // tie -> smallest neighbor): a1 = {1->2, 2->1, 3->1, 4->3, 5->4,
    // 6->4}; coarse multigraph: 1-2 (w2), 1-3 (w1), 3-4 (w2). Level 2:
    // super-node 3 picks 4 (w2 beats w1 toward 1) — the accumulated
    // contraction weight decides, which is exactly what separates
    // multi-level from iterated one-pass moves. Composed mapping:
    val e = symm(edges(1L -> 2L, 2L -> 3L, 3L -> 1L,
      4L -> 5L, 5L -> 6L, 6L -> 4L, 3L -> 4L))
    val m2 = Community.louvainMulti(ids(1, 2, 3, 4, 5, 6), e, 2)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(m2 == Map(1L -> 1L, 2L -> 2L, 3L -> 2L, 4L -> 4L, 5L -> 3L, 6L -> 3L))
    // iterated one-pass WITHOUT coarsening differs (no weight pooling)
    val twoPass = Community.louvain(ids(1, 2, 3, 4, 5, 6), e, 2)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(m2 != twoPass)
    // deterministic across runs
    val again = Community.louvainMulti(ids(1, 2, 3, 4, 5, 6), e, 2)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(m2 == again)
  }

  test("louvain passes stay inside components and are deterministic") {
    // two disconnected triangles: communities can never cross
    val e = symm(edges(1L -> 2L, 2L -> 3L, 3L -> 1L,
      10L -> 11L, 11L -> 12L, 12L -> 10L))
    val c = Community.louvain(e, 3)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(Seq(1L, 2L, 3L).forall(v => Set(1L, 2L, 3L)(c(v))))
    assert(Seq(10L, 11L, 12L).forall(v => Set(10L, 11L, 12L)(c(v))))
    val c2 = Community.louvain(e, 3)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(c == c2)
  }

  test("countScc / isStronglyConnected") {
    val cycle = edges(1L -> 2L, 2L -> 3L, 3L -> 1L)
    assert(Community.isStronglyConnected(ids(1, 2, 3), cycle))
    assert(Community.countScc(ids(1, 2, 3, 4), cycle) == 2) // + singleton 4
  }

  test("connectedComponents converges in O(log n) rounds on a long chain") {
    // 256-node path graph: plain min-label propagation needs ~255 rounds;
    // pointer doubling must land well under 2·log2(256) + slack.
    val n = 256
    val chain = symm(edges((1 until n).map(i => i.toLong -> (i + 1).toLong): _*))
    // force the shuffle regime: the round bound under test is a property
    // of the distributed pointer-doubling loop, which the driver-size
    // gate would otherwise bypass on a 256-node graph
    val (comp, rounds, converged) = graft.algorithms.Tuning.withBroadcastThreshold(0L)(
      Community.ccWithRounds(ids((1 to n).map(_.toLong): _*), chain, 40))
    val labels = comp.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(labels.values.forall(_ == 1L) && labels.size == n)
    assert(converged, "chain CC must reach its fixpoint")
    assert(rounds <= 20, s"pointer doubling took $rounds rounds on a $n-chain")
  }

  test("aStar on a coordinate grid matches Dijkstra for every heuristic") {
    val implicits = spark.implicits
    import implicits._
    // 4x4 grid, id = i*4+j at coords (i,j); 4-neighbor edges, weight 1
    val n = 4
    val coords = (for (i <- 0 until n; j <- 0 until n)
      yield (i.toLong * n + j, i.toDouble, j.toDouble)).toDF("id", "x", "y")
    val es = (for {
      i <- 0 until n; j <- 0 until n
      (di, dj) <- Seq((0, 1), (1, 0), (0, -1), (-1, 0))
      if i + di >= 0 && i + di < n && j + dj >= 0 && j + dj < n
    } yield ((i.toLong * n + j), ((i + di).toLong * n + (j + dj)), 1.0))
      .toDF("src", "dst", "weight")
    val dijkstra = Traversal.bellmanFord(es, ids(0), 8)
      .filter(col("id") === 15).head.getDouble(1)
    for (heur <- Seq("euclidean", "manhattan", "zero")) {
      val row = Traversal.aStar(es, coords, 0L, 15L, 10, heur).collect()
      assert(row.length == 1, s"$heur: expected one path row")
      assert(row(0).getDouble(1) == dijkstra, s"$heur cost")
      val ids15 = row(0).getString(0).split("->").map(_.toLong)
      assert(ids15.head == 0L && ids15.last == 15L && ids15.length == 7) // 6 hops
    }
    // unreachable target → empty
    assert(Traversal.aStar(es, coords, 0L, 999L, 6).isEmpty)
  }

  test("allShortestPaths: diamond yields both typed paths (shortest_path.rs doc)") {
    val implicits = spark.implicits
    import implicits._
    // A(1)->B(2)->D(4) and A(1)->C(3)->D(4), plus a longer detour 1->5->6->4
    val e = Seq((1L, 2L, "E"), (2L, 4L, "F"), (1L, 3L, "E"), (3L, 4L, "G"),
      (1L, 5L, "E"), (5L, 6L, "E"), (6L, 4L, "E")).toDF("src", "dst", "rel_type")
    val rows = graft.algorithms.Paths.allShortestPaths(e, 1L, 4L)
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSet
    assert(rows == Set(("1->2->4", "E,F", 2L), ("1->3->4", "E,G", 2L)))
    // single deterministic path = lexicographically smallest
    val one = graft.algorithms.Paths.shortestPathWithRels(e, 1L, 4L).collect()
    assert(one.length == 1 && one(0).getString(0) == "1->2->4")
    // src == dst and unreachable cases
    assert(graft.algorithms.Paths.allShortestPaths(e, 1L, 1L)
      .head.getString(0) == "1")
    assert(graft.algorithms.Paths.allShortestPaths(e, 4L, 99L).isEmpty)
  }

  test("degreeCentrality on a directed triangle") {
    val e = edges(1L -> 2L, 2L -> 3L, 3L -> 1L)
    val c = Centrality.degreeCentrality(ids(1, 2, 3), e)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(c.values.forall(v => math.abs(v - 1.0) < 1e-12)) // (1+1)/(3-1)
  }

  test("empty graphs terminate promptly across the iterative kernels") {
    val noIds = ids()
    val noEdges = edges()
    val (comp, rounds, _) = Community.ccWithRounds(noIds, noEdges, 15)
    assert(comp.isEmpty && rounds <= 1) // early count probe, no maxIter spin
    assert(Community.scc(noIds, noEdges).isEmpty)
    assert(Community.pageRank(ids(1, 2), noEdges, 0.85, 3).count() == 2)
    assert(Structure.kcoreMembers(noEdges, 2, 5).isEmpty)
    assert(Traversal.bfsDistances(noEdges, noIds, 5).isEmpty)
  }

  test("closeness/harmonic on directed path 1→2→3, isolated 4") {
    val got = Centrality.closeness(ids(1, 2, 3, 4),
        edges(1L -> 2L, 2L -> 3L), 5)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getDouble(2), r.getDouble(3)))).toMap
    // node 1 reaches 2 (d=1) and 3 (d=2): closeness 2/3, harmonic 1.5
    assert(got(1L) == ((2L, 0.666667, 1.5)))
    assert(got(2L) == ((1L, 1.0, 1.0)))
    assert(got(3L) == ((0L, 0.0, 0.0))) // sink: nothing reachable
    assert(got(4L) == ((0L, 0.0, 0.0))) // isolated
  }

  test("closeness respects the depth cap and the sources bound") {
    val e = edges(1L -> 2L, 2L -> 3L, 3L -> 4L)
    val capped = Centrality.closeness(ids(1, 2, 3, 4), e, 1)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(capped == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 0L))
    // sampled sources: rows only for the requested roots, values exact
    val some = Centrality.closeness(ids(1, 2, 3, 4), e, 5, Some(ids(1)))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(some.toSeq == Seq((1L, 3L, 0.5))) // 3 reached, Σd = 6
  }

  test("hits: hubs point to authorities (star in / star out)") {
    // 1 and 2 both point at 4 and 5; 3 is isolated.
    val got = Centrality.hits(ids(1, 2, 3, 4, 5),
        edges(1L -> 4L, 1L -> 5L, 2L -> 4L, 2L -> 5L), 8)
      .collect().map(r => r.getLong(0) -> ((r.getDouble(1), r.getDouble(2))))
      .toMap
    // symmetry: the two hubs tie, the two authorities tie, L1 sums = 1
    assert(got(1L) == got(2L) && got(4L) == got(5L))
    assert(got(1L)._1 == 0.5 && got(1L)._2 == 0.0) // pure hubs
    assert(got(4L)._1 == 0.0 && got(4L)._2 == 0.5) // pure authorities
    assert(got(3L) == ((0.0, 0.0)))
  }

  test("mis: independent, maximal, isolated nodes always members") {
    val implicits = spark.implicits
    import implicits._
    // path 1-2-3-4 plus isolated 9
    val ed = Seq((1L, 2L), (2L, 3L), (3L, 4L)).toDF("a", "b")
    val sym = ed.select(col("a").as("src"), col("b").as("dst"))
      .unionByName(ed.select(col("b").as("src"), col("a").as("dst")))
    val nodes = Seq(1L, 2L, 3L, 4L, 9L).toDF("id")
    val mis = algorithms.Independent.maximalIndependentSet(nodes, sym)
      .collect().map(_.getLong(0)).toSet
    // independence: no edge inside the set
    val edges = Set((1L, 2L), (2L, 3L), (3L, 4L))
    edges.foreach { case (a, b) =>
      assert(!(mis(a) && mis(b)), s"edge ($a,$b) inside MIS $mis") }
    // maximality: every non-member has a member neighbor
    val adj = Map(1L -> Set(2L), 2L -> Set(1L, 3L), 3L -> Set(2L, 4L),
      4L -> Set(3L), 9L -> Set.empty[Long])
    nodes.collect().map(_.getLong(0)).foreach { v =>
      assert(mis(v) || adj(v).exists(mis), s"$v unmatched in $mis") }
    // isolated node always a member
    assert(mis(9L))
  }

  test("weightedPageRank: uniform weights ≡ pageRank; heavy lanes pull rank") {
    val implicits = spark.implicits
    import implicits._
    val nodes = Seq(1L, 2L, 3L, 4L).toDF("id")
    val ed = Seq((1L, 2L), (1L, 3L), (2L, 3L), (3L, 4L), (4L, 1L))
    // uniform weights reduce to the unweighted kernel exactly
    val wpr = algorithms.Community.weightedPageRank(nodes,
        ed.map { case (a, b) => (a, b, 1L) }.toDF("src", "dst", "cnt"),
        0.85, 10)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val pr = algorithms.Community.pageRank(nodes, ed.toDF("src", "dst"),
        0.85, 10)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    wpr.foreach { case (id, v) =>
      assert(math.abs(v - pr(id)) < 1e-7, s"uniform wpr($id)=$v vs ${pr(id)}") }
    // skewed weights: 1 sends 9× more mass to 2 than to 3 — node 2
    // must outrank node 3's direct share from 1
    val skew = algorithms.Community.weightedPageRank(nodes,
        Seq((1L, 2L, 9L), (1L, 3L, 1L), (2L, 4L, 1L), (3L, 4L, 1L),
          (4L, 1L, 1L)).toDF("src", "dst", "cnt"), 0.85, 10)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(skew(2L) > skew(3L),
      s"heavy lane must pull rank: ${skew(2L)} vs ${skew(3L)}")
    // a weight <= 0 is rejected in both regimes (a zero out-weight
    // would divide by zero)
    for (threshold <- Seq(Tuning.DefaultBroadcastThreshold, 0L); bad <- Seq(0L, -1L))
      Tuning.withBroadcastThreshold(threshold) {
        intercept[IllegalArgumentException] {
          algorithms.Community.weightedPageRank(nodes,
            ed.map { case (a, b) => (a, b, if (a == 4L) bad else 1L) }
              .toDF("src", "dst", "cnt"), 0.85, 10)
        }
      }
  }

  test("reciprocity: mutual pairs counted both ways, one-way edges not") {
    val implicits = spark.implicits
    import implicits._
    // 1⇄2 mutual, 1→3 one-way: m=3 distinct edges, 2 reciprocated
    val e = Seq((1L, 2L), (2L, 1L), (1L, 3L)).toDF("src", "dst")
    val r = algorithms.Structure.reciprocity(e).head()
    assert((r.getLong(0), r.getLong(1), r.getDouble(2)) == ((3L, 2L, 0.666667)))
  }

  test("richClub: K4 hub club dense, low threshold includes the periphery") {
    val implicits = spark.implicits
    import implicits._
    // K4 on {1,2,3,4} (degrees >= 3) + leaves 5,6 hanging off node 1
    val pairs = Seq(
      (1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L), (3L, 4L),
      (1L, 5L), (1L, 6L)).toDF("a", "b")
    val got = algorithms.Structure.richClub(pairs, Seq(0, 2))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getDouble(3))).toList
    // k=0: every node (6), all 8 edges → φ = 16/30; k=2: the K4 club
    // (leaves have degree 1) → φ = 1.0
    assert(got == List((0L, 6L, 8L, 0.533333), (2L, 4L, 6L, 1.0)))
  }

  test("assortativity: star is perfectly disassortative, regular graph NULL") {
    val implicits = spark.implicits
    import implicits._
    // star 1-{2,3,4,5}: every edge joins degree 4 to degree 1 → r = −1
    val star = Seq((1L, 2L), (1L, 3L), (1L, 4L), (1L, 5L)).toDF("a", "b")
    val r1 = algorithms.Structure.assortativity(star).head()
    assert(r1.getLong(0) == 8L && r1.getDouble(1) == -1.0)
    // 4-cycle: degree-regular → zero variance → undefined, NULL row
    val cyc = Seq((1L, 2L), (2L, 3L), (3L, 4L), (1L, 4L)).toDF("a", "b")
    val r2 = algorithms.Structure.assortativity(cyc).head()
    assert(r2.getLong(0) == 8L && r2.isNullAt(1))
  }

  test("kTruss: K4 survives k=4, pendant triangle peels; support is final") {
    val implicits = spark.implicits
    import implicits._
    // K4 on {1,2,3,4} plus a pendant triangle {4,5,6}
    val pairs = Seq(
      (1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L), (3L, 4L),
      (4L, 5L), (4L, 6L), (5L, 6L)).toDF("a", "b")
    // k=4: every K4 edge closes 2 triangles inside K4; the pendant
    // triangle's edges close only 1 and peel — and their removal must
    // NOT drag K4 down (support re-measured per round)
    val t4 = algorithms.Structure.kTruss(pairs, 4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toList
    assert(t4 == List((1L, 2L, 2L), (1L, 3L, 2L), (1L, 4L, 2L),
      (2L, 3L, 2L), (2L, 4L, 2L), (3L, 4L, 2L)))
    // k=3: everything is in >= 1 triangle, nothing peels
    val t3 = algorithms.Structure.kTruss(pairs, 3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toList
    assert(t3.length == 9)
    // k=5: no edge closes 3 triangles; empty truss, empty output
    assert(algorithms.Structure.kTruss(pairs, 5).collect().isEmpty)
  }

  test("neighborAgg: k-hop mean messages, empty neighborhoods stay 0") {
    val implicits = spark.implicits
    import implicits._
    val feats = Seq((1L, 10.0), (2L, 20.0), (3L, 30.0)).toDF("id", "f")
    val ed = Seq((1L, 2L), (2L, 3L)).toDF("src", "dst")
    // h1: node2 sees f(1)=10, node3 sees f(2)=20, node1 sees nothing
    val h1 = algorithms.NeighborAgg.aggregate(feats, ed, Seq("f"), 1)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toList
    assert(h1 == List((1L, 0.0), (2L, 10.0), (3L, 20.0)))
    // h2: node3 sees h1(2)=10; everything else 0 — the 2-hop field
    val h2 = algorithms.NeighborAgg.aggregate(feats, ed, Seq("f"), 2)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toList
    assert(h2 == List((1L, 0.0), (2L, 0.0), (3L, 10.0)))
  }

  test("eccentricity: max BFS distance over the reachable set, 0 when none") {
    val implicits = spark.implicits
    import implicits._
    // directed path 1→2→3→4 plus isolated 9: ecc(1)=3, ecc(2)=2,
    // ecc(3)=1, ecc(4)=0 (reaches nothing), ecc(9)=0
    val ed = Seq((1L, 2L), (2L, 3L), (3L, 4L)).toDF("src", "dst")
    val nodes = Seq(1L, 2L, 3L, 4L, 9L).toDF("id")
    val got = algorithms.Centrality.eccentricity(nodes, ed, 10)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toList
    assert(got == List((1L, 3L, 3L), (2L, 2L, 2L), (3L, 1L, 1L),
      (4L, 0L, 0L), (9L, 0L, 0L)))
  }

  test("hillTailIndex: alpha over the top-k ln-ratios, tie-safe, zeros dropped") {
    val implicits = spark.implicits
    import implicits._
    // degrees {8,4,2,1,0}: zeros excluded, all 4 positive fit in k+1,
    // dmin=1, k_used=3, alpha = 3/ln(8·4·2) = 3/(6 ln 2)
    val d = Seq(8L, 4L, 2L, 1L, 0L).toDF("degree")
    val r = algorithms.Structure.hillTailIndex(d).collect()(0)
    assert(r.getLong(0) == 3L && r.getLong(1) == 1L)
    assert(math.abs(r.getDouble(2) - 3.0 / (6.0 * math.log(2))) < 1e-6)
    // boundary tie: k=2 over {4,2,2,2} → top-3 value multiset {4,2,2}
    // regardless of which tied row the engine cut
    val t = Seq(4L, 2L, 2L, 2L).toDF("degree")
    val rt = algorithms.Structure.hillTailIndex(t, 2).collect()(0)
    assert(rt.getLong(0) == 2L && rt.getLong(1) == 2L)
    assert(math.abs(rt.getDouble(2) - 2.0 / math.log(2)) < 1e-6)
  }

  test("graphDiameter: extremes + counts from eccentricity, sink convention") {
    val implicits = spark.implicits
    import implicits._
    // path 1→2→3→4 + isolated 9: eccs (3,2,1,0,0) → diameter 3,
    // radius = min POSITIVE ecc = 1, 1 peripheral, 1 central, 2 isolated
    val ed = Seq((1L, 2L), (2L, 3L), (3L, 4L)).toDF("src", "dst")
    val nodes = Seq(1L, 2L, 3L, 4L, 9L).toDF("id")
    val r = algorithms.Centrality.graphDiameter(nodes, ed, 10).collect()(0)
    assert((r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
      r.getLong(4), r.getLong(5)) == ((3L, 1L, 5L, 1L, 1L, 2L)))
    // all-isolated graph: everything 0, radius coalesces to 0
    val r0 = algorithms.Centrality.graphDiameter(
      Seq(7L, 8L).toDF("id"), Seq.empty[(Long, Long)].toDF("src", "dst"), 5)
      .collect()(0)
    assert((r0.getLong(0), r0.getLong(1), r0.getLong(2), r0.getLong(5)) ==
      ((0L, 0L, 2L, 2L)))
  }

  test("coloring: proper, greedy-bounded, isolated nodes get color 0") {
    val implicits = spark.implicits
    import implicits._
    // triangle 1-2-3 (needs 3 colors) + pendant 4 + isolated 9
    val ed = Seq((1L, 2L), (2L, 3L), (1L, 3L), (3L, 4L)).toDF("a", "b")
    val sym = ed.select(col("a").as("src"), col("b").as("dst"))
      .unionByName(ed.select(col("b").as("src"), col("a").as("dst")))
    val nodes = Seq(1L, 2L, 3L, 4L, 9L).toDF("id")
    val col_ = algorithms.Independent.greedyColoring(nodes, sym)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // proper: no edge endpoints share a color
    Seq((1L, 2L), (2L, 3L), (1L, 3L), (3L, 4L)).foreach { case (a, b) =>
      assert(col_(a) != col_(b), s"edge ($a,$b) monochromatic in $col_") }
    // triangle uses exactly colors {0,1,2}; greedy bound Δ+1 = 4 holds
    assert(Set(col_(1L), col_(2L), col_(3L)) == Set(0L, 1L, 2L))
    assert(col_.values.max <= 3L)
    assert(col_(9L) == 0L) // isolated: nothing to avoid
  }

  test("mst: unique forest under ties, heavy cycle edge dropped, forest kept") {
    val implicits = spark.implicits
    import implicits._
    // triangle 1-2-3 (the heaviest edge 2-3 must be dropped) plus a
    // separate component 10-11 and implicit isolated structure
    val wed = Seq(
      (1L, 2L, 5L), (1L, 3L, 4L), (2L, 3L, 9L),
      (10L, 11L, 7L)).toDF("a", "b", "w")
    val got = algorithms.Spanning.minimumSpanningForest(wed)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toList
    assert(got == List((1L, 2L, 5L), (1L, 3L, 4L), (10L, 11L, 7L)))
    // weight ties resolve by (a, b): on the 4-cycle 1-2-3-4-1 with all
    // weights equal, the kept edges are the three lexicographically
    // smallest — the unique forest under the (w, a, b) total order
    val tied = Seq(
      (1L, 2L, 1L), (2L, 3L, 1L), (3L, 4L, 1L), (1L, 4L, 1L))
      .toDF("a", "b", "w")
    val t = algorithms.Spanning.minimumSpanningForest(tied)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toList
    assert(t == List((1L, 2L), (1L, 4L), (2L, 3L)))
  }

  test("linkPrediction on path 1–2–3: predicts (1,3) through center 2") {
    val sym = symm(edges(1L -> 2L, 2L -> 3L))
    val got = algorithms.LinkPrediction.scores(sym).collect()
      .map(r => ((r.getLong(0), r.getLong(1)),
        (r.getLong(2), r.getDouble(3), r.getDouble(4)))).toMap
    // only candidate: (1,3), one common neighbor of degree 2;
    // jaccard = 1/(1+1-1) = 1, aa = 1/ln 2
    assert(got.keySet == Set((1L, 3L)))
    assert(got((1L, 3L)) ==
      ((1L, 1.0, math.rint(1.0 / math.log(2.0) * 1e6) / 1e6)))
    // focal form ranks candidates per query node (both directions kept)
    val focal = algorithms.LinkPrediction.scores(sym, Some(ids(3))).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(focal == Set((3L, 1L)))
  }

  test("personalizedPageRank: mass stays near the restart set") {
    // chain 1→2→3→4→5 with restart at {1}: rank decays along the chain
    val e = edges(1L -> 2L, 2L -> 3L, 3L -> 4L, 4L -> 5L)
    val r = Community.personalizedPageRank(ids(1, 2, 3, 4, 5), e,
        Seq(1L), 0.85, 10)
      .collect().map(x => x.getLong(0) -> x.getDouble(1)).toMap
    assert(r(1L) > r(2L) && r(2L) > r(3L) && r(3L) > r(4L) && r(4L) > r(5L))
    assert(math.abs(r.values.sum - 1.0) < 1e-9) // normalized
    // uniform restart over ALL nodes ≡ plain PageRank (same formula)
    val pr = Community.pageRank(ids(1, 2, 3, 4, 5), e, 0.85, 10)
      .collect().map(x => x.getLong(0) -> x.getDouble(1)).toMap
    val pprAll = Community.personalizedPageRank(ids(1, 2, 3, 4, 5), e,
        Seq(1L, 2L, 3L, 4L, 5L), 0.85, 10)
      .collect().map(x => x.getLong(0) -> x.getDouble(1)).toMap
    pr.foreach { case (id, v) => assert(math.abs(v - pprAll(id)) < 1e-9) }
    // no source at all, or none inside the node set (no restart mass to
    // normalize): rejected in both regimes
    for (threshold <- Seq(Tuning.DefaultBroadcastThreshold, 0L);
         (nodes, srcs) <- Seq(ids(1) -> Seq.empty[Long], ids(1, 2, 3) -> Seq(99L)))
      Tuning.withBroadcastThreshold(threshold) {
        intercept[IllegalArgumentException] {
          Community.personalizedPageRank(nodes, e, srcs, 0.85, 3)
        }
      }
  }

  test("labelPropagation: two cliques with a bridge keep two communities") {
    // cliques {1,2,3} and {11,12,13} joined by bridge 3–11
    val cl = symm(edges(1L -> 2L, 1L -> 3L, 2L -> 3L,
      11L -> 12L, 11L -> 13L, 12L -> 13L, 3L -> 11L))
    val nodes = ids(1, 2, 3, 11, 12, 13)
    val got = Community.labelPropagation(nodes, cl, 5)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // min-label tie rule pulls each clique to its smallest member
    assert(got(1L) == got(2L) && got(2L) == got(3L))
    assert(got(11L) == got(12L) && got(12L) == got(13L))
    assert(got(1L) != got(11L), s"cliques merged: $got")
    // isolated node keeps its own label
    val iso = Community.labelPropagation(ids(1, 2, 99), symm(edges(1L -> 2L)), 3)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(iso(99L) == 99L)
  }

  test("randomWalks: deterministic, edge-respecting, sink-terminated") {
    val e = edges(1L -> 2L, 1L -> 3L, 2L -> 3L, 3L -> 1L) // 2 is NOT a sink? 2→3 only
    val w1 = algorithms.RandomWalks.walks(e, ids(1, 2, 3), 6, 2).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    val w2 = algorithms.RandomWalks.walks(e, ids(1, 2, 3), 6, 2).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(w1.sorted.toSeq == w2.sorted.toSeq) // pure function of the graph
    // every consecutive (node, next) pair is a real edge
    val es = Set((1L, 2L), (1L, 3L), (2L, 3L), (3L, 1L))
    w1.groupBy(t => (t._1, t._2)).values.foreach { walk =>
      val seq = walk.sortBy(_._3).map(_._4)
      seq.sliding(2).foreach {
        case Array(a, b) => assert(es((a, b)), s"($a,$b) not an edge")
        case _ => ()
      }
      assert(seq.length == 7) // no sinks on this graph: full length + start
    }
    // sink termination: 1→2 only; walks from 2 are just the start row
    val sink = algorithms.RandomWalks.walks(edges(1L -> 2L), ids(1, 2), 4, 1)
      .collect().map(r => (r.getLong(0), r.getLong(2), r.getLong(3)))
    assert(sink.filter(_._1 == 2L).toSeq == Seq((2L, 0L, 2L)))
    assert(sink.filter(_._1 == 1L).map(t => (t._2, t._3)).sorted.toSeq ==
      Seq((0L, 1L), (1L, 2L))) // 1 → 2, then stops at the sink
  }

  test("linkPrediction excludes existing edges and sums AA per neighbor") {
    // square 1-2-3-4-1 plus diagonal 1-3: candidates are only (2,4)
    // (two common neighbors 1 and 3 of degrees 3 and 3)
    val sym = symm(edges(1L -> 2L, 2L -> 3L, 3L -> 4L, 4L -> 1L, 1L -> 3L))
    val got = algorithms.LinkPrediction.scores(sym).collect()
      .map(r => ((r.getLong(0), r.getLong(1)),
        (r.getLong(2), r.getDouble(3), r.getDouble(4)))).toMap
    assert(got.keySet == Set((2L, 4L)))
    val aa = 2.0 / math.log(3.0)
    assert(got((2L, 4L)) ==
      ((2L, 1.0, math.rint(aa * 1e6) / 1e6))) // jaccard 2/(2+2-2) = 1
  }

  test("modularity: two clean communities score high, mixed partition zero") {
    val implicits = testImplicits
    import implicits._
    // two triangles {1,2,3} and {4,5,6} joined by one bridge 3–4
    val pe = Seq((1L, 2L), (2L, 3L), (1L, 3L), (4L, 5L), (5L, 6L), (4L, 6L),
      (3L, 4L)).toDF("a", "b")
    val good = Seq((1L, "x"), (2L, "x"), (3L, "x"),
      (4L, "y"), (5L, "y"), (6L, "y")).toDF("id", "g")
    val q = graft.algorithms.Structure.modularity(pe, good).head
    // e_in = 6 of m = 7, d_x = d_y = 7: Q = 6/7 − 2·(7/14)² = 5/14
    assert(q.getLong(0) == 7L)
    assert(math.abs(q.getDouble(1) - 5.0 / 14.0) < 1e-6)
    // the all-in-one partition scores exactly 0 by construction
    val one = good.select(col("id"), lit("all").as("g"))
    assert(graft.algorithms.Structure.modularity(pe, one).head.getDouble(1) == 0.0)
  }

  test("anf: monotone per round, exact fixpoint at the diameter") {
    // path 1–2–3 (diameter 2): N(0)≈3, N(1)=7, N(2)=N(3)=9; HLL with
    // p=4 runs linear counting on these tiny balls, so estimates sit
    // within ~1 of exact unless registers collide (fixed hash — the
    // loose bands below hold for THIS seedless deterministic layout)
    val sym = symm(edges(1L -> 2L, 2L -> 3L))
    val nf = graft.algorithms.Anf.neighborhoodFunction(ids(1, 2, 3), sym, 3)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(nf.keySet == Set(0L, 1L, 2L, 3L))
    assert(nf(0L) >= 2.0 && nf(0L) <= 4.0, s"N(0): $nf")
    assert(nf(0L) <= nf(1L) && nf(1L) <= nf(2L), s"monotone: $nf")
    // registers reach THEIR fixpoint at r = diameter: identical
    // estimate thereafter, not merely close
    assert(nf(2L) == nf(3L), s"fixpoint: $nf")
    assert(nf(2L) >= 7.0 && nf(2L) <= 11.0, s"N(diam): $nf")
  }

  test("edgeJaccard: embeddedness on triangle+pendant; 0.0 conventions") {
    // triangle 1-2-3, pendant 4 on 1, isolated edge 5-6
    val pe = Seq((1L, 2L), (1L, 3L), (2L, 3L), (1L, 4L), (5L, 6L))
      .toDF("a", "b")
    val got = graft.algorithms.Structure.edgeJaccard(pe).collect()
      .map(r => (r.getLong(0), r.getLong(1)) ->
        ((r.getAs[Long]("common"), r.getAs[Double]("jaccard")))).toMap
    assert(got((1L, 2L)) == ((1L, 0.5)))  // share {3} of {3,4}∪{3}
    assert(got((1L, 3L)) == ((1L, 0.5)))
    assert(got((2L, 3L)) == ((1L, 1.0)))  // fully embedded in the triangle
    assert(got((1L, 4L)) == ((0L, 0.0)))  // local bridge to the pendant
    assert(got((5L, 6L)) == ((0L, 0.0)))  // denominator-0 convention
  }

  test("edgeSupport/edgeJaccard cap: >= max degree == exact; cap drops hubs") {
    // hub 1 touches everyone (deg 5); triangle 2-3-4 off to the side
    val pe = Seq((1L, 2L), (1L, 3L), (1L, 4L), (1L, 5L), (1L, 6L),
      (2L, 3L), (2L, 4L), (3L, 4L)).toDF("a", "b")
    def m(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.get(2)).toMap
    // spec-pinned equivalence: cap >= max degree (5) == uncapped exact
    assert(m(Structure.edgeSupport(pe, maxDeg = 5L)) ==
      m(Structure.edgeSupport(pe)))
    assert(m(Structure.edgeJaccard(pe, maxDeg = 5L)) ==
      m(Structure.edgeJaccard(pe)))
    assert(Structure.degreeHubs(pe, 5L).collect().isEmpty)
    // cap 3 excludes the hub: induced graph is the 2-3-4 triangle,
    // every surviving edge fully embedded
    val capped = Structure.edgeJaccard(pe, maxDeg = 3L).collect()
      .map(r => (r.getLong(0), r.getLong(1)) ->
        ((r.getAs[Long]("common"), r.getAs[Double]("jaccard")))).toMap
    assert(capped == Map((2L, 3L) -> ((1L, 1.0)), (2L, 4L) -> ((1L, 1.0)),
      (3L, 4L) -> ((1L, 1.0))))
    val hubs = Structure.degreeHubs(pe, 3L).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(hubs == Map(1L -> 5L))
    // support 0 comes back for triangle-free edges under the kernel
    val path = Seq((1L, 2L), (2L, 3L)).toDF("a", "b")
    assert(m(Structure.edgeSupport(path)) ==
      Map((1L, 2L) -> 0L, (2L, 3L) -> 0L))
  }

  test("edgeSupport plan parity: fused intersect == degree-ordered closure") {
    // seeded pseudo-random graph with hubs and pendants
    val rnd = new scala.util.Random(41)
    val edges = (0 until 400).map { _ =>
      val x = rnd.nextInt(40).toLong; val y = rnd.nextInt(40).toLong
      (math.min(x, y), math.max(x, y))
    }.filter { case (x, y) => x != y }.distinct
    val pe = edges.toDF("a", "b")
    def m(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.get(2)).toMap
    val planA = m(Structure.edgeSupport(pe)) // tiny Σ deg² → fused plan
    val planB = graft.algorithms.Tuning.withBroadcastThreshold(0) {
      m(Structure.edgeSupport(pe)) // forced row gate → closure plan
    }
    assert(planA == planB)
    def mj(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1)) ->
        ((r.getAs[Long]("common"), r.getAs[Double]("jaccard")))).toMap
    val jA = mj(Structure.edgeJaccard(pe))
    val jB = graft.algorithms.Tuning.withBroadcastThreshold(0) {
      mj(Structure.edgeJaccard(pe))
    }
    assert(jA == jB)
  }

  test("squareCount: K4 has 3 squares, C4 has 1, a path has 0") {
    val k4 = Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L),
      (3L, 4L)).toDF("a", "b")
    val rK4 = Structure.squareCount(k4).collect()(0)
    assert(rK4.getAs[Long]("squares") == 3L)
    assert(rK4.getAs[Long]("max_cn") == 2L)
    val c4 = Seq((1L, 2L), (2L, 3L), (3L, 4L), (1L, 4L)).toDF("a", "b")
    assert(Structure.squareCount(c4).collect()(0).getAs[Long]("squares") == 1L)
    val path = Seq((1L, 2L), (2L, 3L), (3L, 4L)).toDF("a", "b")
    assert(Structure.squareCount(path).collect()(0).getAs[Long]("squares") == 0L)
  }

  test("squareCountCapped: equals exact when cap >= max degree; excludes hubs below") {
    // C4 (all degrees 2) + hub 9 wired to every corner: hub degree 4,
    // corners degree 3. Exact census: the C4 square + squares through
    // the hub (hub is a common neighbor of every corner pair).
    val g = Seq((1L, 2L), (2L, 3L), (3L, 4L), (1L, 4L),
      (9L, 1L), (9L, 2L), (9L, 3L), (9L, 4L)).toDF("a", "b")
    val exact = Structure.squareCount(g).collect()(0)
    // cap >= max degree (4): identical counts, zero excluded
    val full = Structure.squareCountCapped(g, 4L).collect()(0)
    assert(full.getAs[Long]("squares") == exact.getAs[Long]("squares"))
    assert(full.getAs[Long]("max_cn") == exact.getAs[Long]("max_cn"))
    assert(full.getAs[Long]("linked_pairs") == exact.getAs[Long]("linked_pairs"))
    assert(full.getAs[Long]("n_hubs_excluded") == 0L)
    // cap 3 drops the degree-4 hub: only the pure C4 square survives
    val capped = Structure.squareCountCapped(g, 3L).collect()(0)
    assert(capped.getAs[Long]("n_hubs_excluded") == 1L)
    assert(capped.getAs[Long]("squares") == 1L)
    assert(capped.getAs[Long]("squares") < exact.getAs[Long]("squares"))
    // cap 1 empties the wedge frame entirely: zero-row-safe
    val empty = Structure.squareCountCapped(g, 1L).collect()(0)
    assert(empty.getAs[Long]("squares") == 0L && empty.getAs[Long]("max_cn") == 0L)
    assert(empty.getAs[Long]("n_hubs_excluded") == 5L)
  }

  test("graphEntropy: regular graph has zero degree entropy, correct density") {
    // C4: all degrees 2 -> one degree class -> H = 0; density = 8/12
    val c4 = Seq((1L, 2L), (2L, 3L), (3L, 4L), (1L, 4L)).toDF("a", "b")
    val r = Structure.graphEntropy(c4).collect()(0)
    assert(r.getAs[Long]("n_nodes") == 4L && r.getAs[Long]("n_edges") == 4L)
    assert(r.getAs[Double]("degree_entropy") == 0.0)
    assert(r.getAs[Double]("mean_deg") == 2.0)
    assert(r.getAs[Double]("density") == 0.666667)
    // star K1,3: degrees {3,1,1,1} -> H = -(1/4 ln 1/4 + 3/4 ln 3/4)
    val star = Seq((1L, 2L), (1L, 3L), (1L, 4L)).toDF("a", "b")
    val h = Structure.graphEntropy(star).collect()(0)
      .getAs[Double]("degree_entropy")
    val expect = -(0.25 * math.log(0.25) + 0.75 * math.log(0.75))
    assert(math.abs(h - expect) < 1e-5)
  }
}
