package graft

import graft.graph.{DerivedGraphs, GraphBuilder}
import graft.graph.GraphBuilder._

/** DuckDB oracle SQL for the algorithm queries. Iterative algorithms are
  * unrolled into fixed CTE chains computing the *same* fixed-iteration
  * algorithm as the Spark side, so both engines produce identical output
  * by construction (SURVEY.md §5). All ids/counters are BIGINT, doubles
  * rounded identically on both sides.
  */
object Oracles {
  private val P = GraphBuilder.oraclePreamble

  /** Unrolled frontier BFS with per-level visited anti-semantics. */
  def bfsSql(preamble: String, edgesRel: String, seedId: Long, maxDepth: Int): String = {
    val sb = new StringBuilder(preamble)
    sb ++= s", f0 AS (SELECT CAST($seedId AS BIGINT) AS id, CAST(0 AS BIGINT) AS dist)"
    sb ++= ", v0 AS (SELECT * FROM f0)"
    for (i <- 1 to maxDepth) {
      sb ++= s", f$i AS MATERIALIZED (SELECT DISTINCT e.dst AS id, CAST($i AS BIGINT) AS dist" +
        s" FROM $edgesRel e JOIN f${i - 1} f ON e.src = f.id" +
        s" WHERE e.dst NOT IN (SELECT id FROM v${i - 1}))"
      sb ++= s", v$i AS MATERIALIZED (SELECT * FROM v${i - 1} UNION ALL SELECT * FROM f$i)"
    }
    sb ++= s" SELECT id, dist FROM v$maxDepth"
    sb.toString
  }

  /** Unrolled Bellman-Ford relaxation, min-dist per node per round. */
  def bellmanFordSql(preamble: String, wRel: String, seedId: Long, iters: Int): String = {
    val sb = new StringBuilder(preamble)
    sb ++= s", d0 AS (SELECT CAST($seedId AS BIGINT) AS id, CAST(0.0 AS DOUBLE) AS dist)"
    for (i <- 1 to iters) {
      sb ++= s", d$i AS MATERIALIZED (SELECT id, MIN(dist) AS dist FROM (" +
        s"SELECT id, dist FROM d${i - 1}" +
        s" UNION ALL SELECT e.dst AS id, f.dist + e.weight AS dist" +
        s" FROM $wRel e JOIN d${i - 1} f ON e.src = f.id) u GROUP BY id)"
    }
    sb ++= s" SELECT id, ROUND(dist, 4) AS dist FROM d$iters"
    sb.toString
  }

  /** Unrolled reference PageRank (dangling mass dropped, final
    * normalization), mirroring Community.pageRank op for op (its unit
    * weights make rank·1.0/Σ1 bitwise rank / odeg). */
  def pageRankSql(damping: Double, iters: Int): String = {
    val d = damping.toString
    val sb = new StringBuilder(P)
    sb ++= ", outdeg AS MATERIALIZED (SELECT src AS id, COUNT(*) AS odeg FROM edges GROUP BY src)"
    sb ++= ", nn AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM nodes)"
    sb ++= ", r0 AS (SELECT id, 1.0 / (SELECT n FROM nn) AS rank FROM nodes)"
    for (i <- 1 to iters) {
      sb ++= s""", r$i AS MATERIALIZED (SELECT a.id, (1.0 - $d) / (SELECT n FROM nn) + $d * COALESCE(s.m, 0.0) AS rank
  FROM nodes a LEFT JOIN (
    SELECT e.dst AS id, SUM(r.rank / od.odeg) AS m
    FROM edges e JOIN r${i - 1} r ON r.id = e.src JOIN outdeg od ON od.id = e.src
    GROUP BY e.dst) s ON s.id = a.id)"""
    }
    sb ++= s", tot AS (SELECT SUM(rank) AS t FROM r$iters)"
    sb ++= s" SELECT id, ROUND(rank / (SELECT t FROM tot), 8) AS rank FROM r$iters"
    sb.toString
  }

  /** Unrolled k-core peeling on the part co-occurrence graph, then final
    * induced degrees of the survivors. */
  def kcoreSql(k: Int, rounds: Int): String = {
    val sb = new StringBuilder("WITH " + DerivedGraphs.cooccurSql)
    sb ++= ", a0 AS (SELECT id FROM pnodes)"
    for (i <- 1 to rounds) {
      sb ++= s", a$i AS MATERIALIZED (SELECT e.src AS id FROM psym e" +
        s" JOIN a${i - 1} s1 ON e.src = s1.id" +
        s" JOIN a${i - 1} s2 ON e.dst = s2.id" +
        s" GROUP BY e.src HAVING COUNT(*) >= $k)"
    }
    sb ++= s" SELECT e.src AS id, CAST(COUNT(*) AS BIGINT) AS core_degree" +
      s" FROM psym e JOIN a$rounds s1 ON e.src = s1.id" +
      s" JOIN a$rounds s2 ON e.dst = s2.id GROUP BY e.src"
    sb.toString
  }

  /** A* oracle on the nation trade graph with a derived integer
    * coordinate frame: nation key k sits at grid cell (k mod 5, k div 5)
    * and every edge weighs the manhattan distance between its endpoints.
    * Weights ≥ both heuristics' point distances (euclidean ≤ manhattan ≤
    * path cost by triangle inequality), so A* is admissible and provably
    * returns the Dijkstra answer for BOTH heuristics — the oracle
    * therefore computes one unrolled Bellman-Ford with the same
    * lexicographic (g, parent) tie rule as Traversal.aStar's min_by,
    * walks the parent chain, and labels the row once per heuristic.
    * Costs are sums of integers (exact in IEEE doubles) — engine-stable. */
  def aStarSql(srcId: Long, dstId: Long, iters: Int): String = {
    val sb = new StringBuilder(s"WITH RECURSIVE ${DerivedGraphs.tradeTopSql()}")
    // src <> dst mirrors Traversal.aStar's own self-loop exclusion: a
    // zero-weight self-loop would win the (g, parent) tie-break and
    // install a node as its own parent, making the walk CTE below loop
    sb ++= s""", coords AS (SELECT ${NationTag * TAG} + CAST(n_nationkey AS BIGINT) AS id,
  CAST(n_nationkey % 5 AS DOUBLE) AS x, CAST(n_nationkey // 5 AS DOUBLE) AS y FROM nation),
we AS MATERIALIZED (SELECT e.src, e.dst, ABS(a.x - b.x) + ABS(a.y - b.y) AS weight
  FROM ttedges e JOIN coords a ON a.id = e.src JOIN coords b ON b.id = e.dst
  WHERE e.src <> e.dst)"""
    sb ++= s", d0 AS (SELECT CAST($srcId AS BIGINT) AS id, CAST(0.0 AS DOUBLE) AS g, CAST(-1 AS BIGINT) AS parent)"
    for (i <- 1 to iters) {
      sb ++= s""", d$i AS MATERIALIZED (SELECT id, g, parent FROM (
  SELECT id, g, parent, ROW_NUMBER() OVER (PARTITION BY id ORDER BY g, parent) AS rn FROM (
    SELECT id, g, parent FROM d${i - 1}
    UNION ALL
    SELECT e.dst AS id, f.g + e.weight AS g, e.src AS parent
    FROM we e JOIN d${i - 1} f ON e.src = f.id) u) t WHERE rn = 1)"""
    }
    sb ++= s""",
walk AS (
  SELECT CAST($dstId AS BIGINT) AS cur, [CAST($dstId AS BIGINT)] AS nodes
  UNION ALL
  SELECT d.parent, list_prepend(d.parent, w.nodes)
  FROM walk w JOIN d$iters d ON d.id = w.cur
  WHERE w.cur <> CAST($srcId AS BIGINT)),
fin AS (SELECT array_to_string(nodes, '->') AS path FROM walk WHERE cur = CAST($srcId AS BIGINT)),
cost AS (SELECT ROUND(g, 4) AS cost FROM d$iters WHERE id = CAST($dstId AS BIGINT))
SELECT 'euclidean' AS heuristic, path, cost FROM fin, cost
UNION ALL SELECT 'manhattan', path, cost FROM fin, cost"""
    sb.toString
  }

  /** DFS discovery order on the nation trade graph as a single-row
    * recursive state machine: the state is (visited-in-order list,
    * pending stack list, stack top at the front); each recursive step
    * pops one entry, appends it to the order if unseen, and prepends
    * its ascending-sorted adjacency list. Pop-time visited checks make
    * this exactly the recursive smallest-neighbor-first DFS that
    * Traversal.dfsOrder runs. */
  def dfsOrderSql(rootId: Long): String =
    s"""WITH RECURSIVE ${DerivedGraphs.tradeTopSql()},
adj AS MATERIALIZED (SELECT src, list(dst ORDER BY dst ASC) AS ns FROM ttedges GROUP BY src),
walk AS (
  SELECT 0 AS step,
         [CAST($rootId AS BIGINT)] AS ord,
         COALESCE((SELECT ns FROM adj WHERE src = CAST($rootId AS BIGINT)), CAST([] AS BIGINT[])) AS stk
  UNION ALL
  SELECT step + 1,
         CASE WHEN list_contains(ord, stk[1]) THEN ord ELSE list_append(ord, stk[1]) END,
         CASE WHEN list_contains(ord, stk[1]) THEN stk[2:]
              ELSE list_concat(COALESCE((SELECT ns FROM adj WHERE src = stk[1]), CAST([] AS BIGINT[])), stk[2:]) END
  FROM walk WHERE len(stk) > 0),
fin AS (SELECT ord FROM walk ORDER BY step DESC LIMIT 1)
SELECT ord[i] AS id, CAST(i - 1 AS BIGINT) AS visit_idx
FROM fin, unnest(generate_series(1, len(ord))) AS t(i)"""

  /** Unrolled iterated h-index on the part co-occurrence graph — the
    * same fixed-point sequence as Structure.coreNumbers (seed = degree,
    * then H of neighbor values via the sorted-rank identity
    * max_r min(value_r, r)). Both engines agree provided the sequence
    * converges within `iters` rounds; the Spark side throws past its
    * identical cap, so a too-shallow unroll fails loudly rather than
    * mismatching. */
  def coreNumbersSql(iters: Int): String =
    coreCtes(iters) + s" SELECT id, CAST(c AS BIGINT) AS core FROM c$iters"

  private def coreCtes(iters: Int): String = {
    val sb = new StringBuilder("WITH " + DerivedGraphs.cooccurSql)
    sb ++= ", c0 AS MATERIALIZED (SELECT src AS id, COUNT(*) AS c FROM psym GROUP BY src)"
    for (i <- 1 to iters) {
      sb ++= s""", c$i AS MATERIALIZED (
  SELECT src AS id, MAX(LEAST(cn, rn)) AS c FROM (
    SELECT e.src, p.c AS cn,
           ROW_NUMBER() OVER (PARTITION BY e.src ORDER BY p.c DESC) AS rn
    FROM psym e JOIN c${i - 1} p ON p.id = e.dst) t
  GROUP BY src)"""
    }
    sb.toString
  }

  /** Degree–coreness ratio mirror: the coreNumbers h-index unroll +
    * a degree join, 1e-7-unit integerized ratios, class rollup. */
  def degreeCoreRatioSql(iters: Int): String =
    coreCtes(iters) + s""",
dg AS (SELECT src AS id, COUNT(*) AS deg FROM psym GROUP BY 1),
jr AS (SELECT dg.deg,
  CAST(FLOOR(CAST(cz.c AS DOUBLE) / CAST(dg.deg AS DOUBLE) * 1e7 + 0.5)
    AS BIGINT) AS ru
  FROM dg JOIN c$iters cz ON cz.id = dg.id)
SELECT CAST(deg AS BIGINT) AS k, CAST(COUNT(*) AS BIGINT) AS n_nodes,
  ROUND(CAST(SUM(ru) AS DOUBLE) / (CAST(COUNT(*) AS DOUBLE) * 1e7), 6)
    AS mean_core_ratio
FROM jr GROUP BY 1 ORDER BY 1"""

  /** C(k) mirror: the clusteringSql wedge-close WITHOUT the output
    * cap, 1e-7-unit integerized coefficients, degree-class rollup
    * (degree-1 nodes excluded — undefined coefficient). */
  val ckCurveSql: String =
    s"""WITH ${DerivedGraphs.cooccurSql},
tri3 AS (SELECT e1.a AS x, e1.b AS y, e2.b AS z FROM pedges e1
  JOIN pedges e2 ON e2.a = e1.b
  JOIN pedges e3 ON e3.a = e1.a AND e3.b = e2.b),
pertri AS (SELECT v, COUNT(*) AS t FROM (
  SELECT x AS v FROM tri3 UNION ALL SELECT y FROM tri3 UNION ALL SELECT z FROM tri3) u GROUP BY v),
deg AS (SELECT src AS id, COUNT(*) AS d FROM psym GROUP BY src),
cc AS (SELECT deg.id, d,
  CAST(FLOOR(COALESCE(t, 0) / (d * (d - 1) / 2.0) * 1e7 + 0.5) AS BIGINT)
    AS cu
  FROM deg LEFT JOIN pertri ON pertri.v = deg.id WHERE d >= 2)
SELECT CAST(d AS BIGINT) AS k, CAST(COUNT(*) AS BIGINT) AS n_nodes,
  ROUND(CAST(SUM(cu) AS DOUBLE) / (CAST(COUNT(*) AS DOUBLE) * 1e7), 6)
    AS mean_cc
FROM cc GROUP BY 1 ORDER BY 1"""

  /** SCC of the nation trade graph via recursive transitive closure;
    * scc_id = min mutually-reachable id (= Community.scc's labels). */
  val sccSql: String =
    s"""WITH RECURSIVE ${DerivedGraphs.tradeSql},
r AS (
  SELECT id AS src, id AS dst FROM tnodes
  UNION
  SELECT r.src, e.dst FROM r JOIN tedges e ON e.src = r.dst),
mutual AS (
  SELECT a.src AS id, a.dst AS peer FROM r a JOIN r b ON a.src = b.dst AND a.dst = b.src),
scc AS (SELECT id, MIN(peer) AS scc_id FROM mutual GROUP BY id)
SELECT scc_id, CAST(COUNT(*) AS BIGINT) AS size FROM scc GROUP BY scc_id"""

  /** SCC size distribution of the order-ring graph: recursive closure is
    * affordable for the oracle because ring length is bounded (≤8), so
    * closure rows are O(|orders| · 8); the Spark side runs the coloring
    * kernel, whose labels (min member id) agree by construction. */
  val sccLargeSql: String =
    s"""WITH RECURSIVE ${graft.graph.DerivedGraphs.orderRingSql},
r AS (
  SELECT id AS src, id AS dst FROM ornodes
  UNION
  SELECT r.src, e.dst FROM r JOIN oredges e ON e.src = r.dst),
mutual AS (
  SELECT a.src AS id, a.dst AS peer FROM r a JOIN r b ON a.src = b.dst AND a.dst = b.src),
scc AS (SELECT id, MIN(peer) AS scc_id FROM mutual GROUP BY id),
sizes AS (SELECT scc_id, COUNT(*) AS sz FROM scc GROUP BY scc_id)
SELECT CAST(sz AS BIGINT) AS size, CAST(COUNT(*) AS BIGINT) AS n_sccs FROM sizes GROUP BY sz"""

  /** All simple paths src→dst (≤ maxLen edges) on the trade graph, one
    * "id->id->…" string per path (= algorithms.Paths.simplePaths). */
  def simplePathsSql(srcId: Long, dstId: Long, maxLen: Int): String =
    s"""WITH RECURSIVE ${graft.graph.DerivedGraphs.tradeSql},
r AS (
  SELECT CAST($srcId AS BIGINT) AS cur, [CAST($srcId AS BIGINT)] AS path
  UNION ALL
  SELECT e.dst, list_append(r.path, e.dst)
  FROM r JOIN tedges e ON e.src = r.cur
  WHERE r.cur <> CAST($dstId AS BIGINT)
    AND NOT list_contains(r.path, e.dst)
    AND len(r.path) <= $maxLen)
SELECT array_to_string(path, '->') AS path FROM r WHERE cur = CAST($dstId AS BIGINT)"""

  /** All shortest paths src→dst on the trade graph: unrolled BFS gives
    * dist(v); recursive enumeration extends only shortest prefixes
    * (next node's dist must equal the current path length), then keeps
    * paths landing on dst at its shortest distance. Rel-type array is
    * constant 'TRADES' (the trade graph is single-typed); the Spark side
    * carries real rel_type columns through the same unwind. */
  def allShortestSql(srcId: Long, dstId: Long, maxDepth: Int): String = {
    val sb = new StringBuilder(s"WITH RECURSIVE ${DerivedGraphs.tradeSql}")
    sb ++= s", f0 AS (SELECT CAST($srcId AS BIGINT) AS id, 0 AS dist)"
    sb ++= ", v0 AS (SELECT * FROM f0)"
    for (i <- 1 to maxDepth) {
      sb ++= s", f$i AS MATERIALIZED (SELECT DISTINCT e.dst AS id, $i AS dist" +
        s" FROM tedges e JOIN f${i - 1} f ON e.src = f.id" +
        s" WHERE e.dst NOT IN (SELECT id FROM v${i - 1}))"
      sb ++= s", v$i AS MATERIALIZED (SELECT * FROM v${i - 1} UNION ALL SELECT * FROM f$i)"
    }
    sb ++= s", dd AS (SELECT dist FROM v$maxDepth WHERE id = CAST($dstId AS BIGINT))"
    sb ++= s""",
p AS (
  SELECT CAST($srcId AS BIGINT) AS cur, [CAST($srcId AS BIGINT)] AS path,
         CAST([] AS VARCHAR[]) AS rels
  UNION ALL
  SELECT e.dst, list_append(p.path, e.dst), list_append(p.rels, 'TRADES')
  FROM p JOIN tedges e ON e.src = p.cur
  JOIN v$maxDepth dv ON dv.id = e.dst AND dv.dist = len(p.path)
  WHERE len(p.path) - 1 < (SELECT dist FROM dd))
SELECT array_to_string(path, '->') AS path, array_to_string(rels, ',') AS rels,
       CAST(len(path) - 1 AS BIGINT) AS hops
FROM p WHERE cur = CAST($dstId AS BIGINT) AND len(path) - 1 = (SELECT dist FROM dd)"""
    sb.toString
  }

  /** Components of the (Customer|Supplier|Nation|Region, IN_NATION ∪
    * IN_REGION) subgraph — a forest, so the min-id component label is the
    * region node id, closed-form from the raw tables. */
  val componentsSql: String =
    s"""WITH compm AS (
  SELECT ${RegionTag * TAG} + CAST(r_regionkey AS BIGINT) AS component,
         ${RegionTag * TAG} + CAST(r_regionkey AS BIGINT) AS id FROM region
  UNION ALL SELECT ${RegionTag * TAG} + CAST(n_regionkey AS BIGINT),
         ${NationTag * TAG} + CAST(n_nationkey AS BIGINT) FROM nation
  UNION ALL SELECT ${RegionTag * TAG} + CAST(n.n_regionkey AS BIGINT),
         ${CustomerTag * TAG} + CAST(c.c_custkey AS BIGINT)
    FROM customer c JOIN nation n ON c.c_nationkey = n.n_nationkey
  UNION ALL SELECT ${RegionTag * TAG} + CAST(n.n_regionkey AS BIGINT),
         ${SupplierTag * TAG} + CAST(s.s_suppkey AS BIGINT)
    FROM supplier s JOIN nation n ON s.s_nationkey = n.n_nationkey)
SELECT component, CAST(COUNT(*) AS BIGINT) AS size FROM compm GROUP BY component"""

  /** Closed-form betweenness on the same forest subgraph with directed
    * IN_NATION/IN_REGION edges: the only intermediates are nations, passed
    * through once per member (customer/supplier) on its unique path to the
    * region; everything else is 0 (filtered on the Spark side too). */
  val betweennessSql: String =
    s"""WITH bn AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM (
  SELECT c_custkey AS k FROM customer
  UNION ALL SELECT s_suppkey FROM supplier
  UNION ALL SELECT n_nationkey FROM nation
  UNION ALL SELECT r_regionkey FROM region) u),
mem AS (
  SELECT ${NationTag * TAG} + CAST(k AS BIGINT) AS id, COUNT(*) AS m FROM (
    SELECT CAST(c_nationkey AS BIGINT) AS k FROM customer
    UNION ALL SELECT CAST(s_nationkey AS BIGINT) FROM supplier) u GROUP BY k)
SELECT id, ROUND(CAST(m AS DOUBLE) / (((SELECT n FROM bn) - 1.0) * ((SELECT n FROM bn) - 2.0)), 9) AS bc
FROM mem"""

  /** Sampled betweenness on the same forest: only sampled member sources
    * (customers/suppliers) contribute 1 to their nation; estimator scales
    * by n/k. Sample = the k subgraph nodes with the smallest shared
    * hash60("bc:" + id), id tiebreak — reproduced bit-identically here. */
  def betweennessSampledSql(k: Int): String =
    s"""WITH allids AS (
  SELECT ${CustomerTag * TAG} + CAST(c_custkey AS BIGINT) AS id, CAST(c_nationkey AS BIGINT) AS nk FROM customer
  UNION ALL SELECT ${SupplierTag * TAG} + CAST(s_suppkey AS BIGINT), CAST(s_nationkey AS BIGINT) FROM supplier
  UNION ALL SELECT ${NationTag * TAG} + CAST(n_nationkey AS BIGINT), NULL FROM nation
  UNION ALL SELECT ${RegionTag * TAG} + CAST(r_regionkey AS BIGINT), NULL FROM region),
nn AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM allids),
samp AS (SELECT id, nk FROM allids
  ORDER BY ('0x' || substr(md5('bc:' || CAST(id AS VARCHAR)), 1, 15))::BIGINT ASC, id ASC
  LIMIT $k),
kk AS (SELECT CAST(COUNT(*) AS DOUBLE) AS k FROM samp),
mem AS (SELECT ${NationTag * TAG} + nk AS id, COUNT(*) AS m FROM samp WHERE nk IS NOT NULL GROUP BY nk)
SELECT id, ROUND((SELECT n FROM nn) / (SELECT k FROM kk) * m / (((SELECT n FROM nn) - 1.0) * ((SELECT n FROM nn) - 2.0)), 9) AS bc
FROM mem"""

  /** Degree centrality over the full graph: (out+in)/(n-1), round 9. */
  val degreeCentralitySql: String = P +
    """, od AS (SELECT src AS id, COUNT(*) AS c FROM edges GROUP BY src),
idg AS (SELECT dst AS id, COUNT(*) AS c FROM edges GROUP BY dst),
nn AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM nodes)
SELECT n.id, ROUND((COALESCE(o.c, 0) + COALESCE(i.c, 0)) / ((SELECT n FROM nn) - 1.0), 9) AS centrality
FROM nodes n LEFT JOIN od o ON o.id = n.id LEFT JOIN idg i ON i.id = n.id"""

  /** One deterministic parallel Louvain pass on the co-occurrence
    * multigraph: community = neighbor with max incident multiplicity,
    * ties to the smallest id (= Community.louvain over the part node
    * universe — parts with no co-occurrence edges stay as singletons). */
  val louvainSql: String =
    s"""WITH ${DerivedGraphs.cooccurAllSql},
w AS (SELECT src, dst, COUNT(*) AS wt FROM psymall GROUP BY src, dst),
mv AS (SELECT src AS id, dst AS community FROM (
  SELECT src, dst, ROW_NUMBER() OVER (PARTITION BY src ORDER BY wt DESC, dst ASC) AS rn FROM w) t
  WHERE rn = 1),
pn AS (SELECT ${PartTag * TAG} + CAST(p_partkey AS BIGINT) AS id FROM part)
SELECT pn.id, COALESCE(mv.community, pn.id) AS community
FROM pn LEFT JOIN mv ON mv.id = pn.id"""

  /** Multi-level Louvain mirror: `levels` unrolled (move, coarsen)
    * blocks — each level's move is the same deterministic max-weight
    * argmax as [[louvainSql]] (communities are singletons at every
    * level start, so the weighted-community argmax IS the max-weight-
    * neighbor argmax), then edges contract through the assignment and
    * intra-community edges drop. MATERIALIZED per level: e/a frames
    * are referenced 2-3 times each and DuckDB inlines plain CTEs. */
  def louvainMultiSql(levels: Int): String = {
    val sb = new StringBuilder(s"WITH ${DerivedGraphs.cooccurAllSql}")
    sb ++= s",\npn AS (SELECT ${PartTag * TAG} + CAST(p_partkey AS BIGINT) AS id FROM part)"
    sb ++= ",\nm0 AS (SELECT id, id AS c FROM pn)"
    sb ++= ",\ne0 AS MATERIALIZED (SELECT src, dst FROM psymall)"
    for (l <- 1 to levels) {
      sb ++= s""",
w$l AS (SELECT src, dst, COUNT(*) AS wt FROM e${l - 1} GROUP BY 1, 2),
a$l AS MATERIALIZED (SELECT src AS id, dst AS community FROM (
  SELECT src, dst, ROW_NUMBER() OVER (PARTITION BY src ORDER BY wt DESC, dst ASC) AS rn
  FROM w$l) t WHERE rn = 1),
m$l AS MATERIALIZED (SELECT m.id, COALESCE(a.community, m.c) AS c
  FROM m${l - 1} m LEFT JOIN a$l a ON a.id = m.c),
e$l AS MATERIALIZED (SELECT sa.community AS src, sb.community AS dst
  FROM e${l - 1} e JOIN a$l sa ON e.src = sa.id JOIN a$l sb ON e.dst = sb.id
  WHERE sa.community <> sb.community)"""
    }
    sb ++= s"\nSELECT id, CAST(c AS BIGINT) AS community FROM m$levels ORDER BY id"
    sb.toString
  }

  /** Global triangle count + global clustering coefficient on the simple
    * co-occurrence graph. */
  val trianglesSql: String =
    s"""WITH ${DerivedGraphs.cooccurSql},
tri AS (SELECT COUNT(*) AS t FROM pedges e1
  JOIN pedges e2 ON e2.a = e1.b
  JOIN pedges e3 ON e3.a = e1.a AND e3.b = e2.b),
wd AS (SELECT SUM(d * (d - 1) / 2) AS w FROM (SELECT COUNT(*) AS d FROM psym GROUP BY src) q)
SELECT CAST(tri.t AS BIGINT) AS triangles, ROUND(3.0 * tri.t / wd.w, 6) AS global_clustering FROM tri, wd"""

  /** Config-model clustering null mirror: same triangle join, same
    * degree moments and operator order. */
  val clusteringNullSql: String =
    s"""WITH ${DerivedGraphs.cooccurSql},
tri AS (SELECT COUNT(*) AS t FROM pedges e1
  JOIN pedges e2 ON e2.a = e1.b
  JOIN pedges e3 ON e3.a = e1.a AND e3.b = e2.b),
dm AS (SELECT CAST(COUNT(*) AS BIGINT) AS n, CAST(SUM(d) AS BIGINT) AS s1,
  CAST(SUM(d * d) AS BIGINT) AS s2, SUM(d * (d - 1) / 2) AS w
  FROM (SELECT COUNT(*) AS d FROM psym GROUP BY src) q),
base AS (SELECT n, s1, w, t,
  CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE) AS k1,
  CAST(s2 AS DOUBLE) / CAST(n AS DOUBLE) AS k2
  FROM tri, dm),
v AS (SELECT n, s1, k1, 3.0 * t / w AS cobs,
  (k2 - k1) * (k2 - k1) /
    (CAST(n AS DOUBLE) * k1 * k1 * k1) AS ccm FROM base)
SELECT CAST(n AS BIGINT) AS n_nodes, CAST(s1 // 2 AS BIGINT) AS n_edges,
  ROUND(k1, 6) AS mean_deg, ROUND(cobs, 6) AS c_observed,
  ROUND(ccm, 6) AS c_config,
  ROUND(CASE WHEN ccm > 0.0 THEN cobs / ccm END, 6) AS surplus
FROM v"""

  /** Local clustering coefficient for the first 100 parts. */
  val clusteringSql: String =
    s"""WITH ${DerivedGraphs.cooccurSql},
tri3 AS (SELECT e1.a AS x, e1.b AS y, e2.b AS z FROM pedges e1
  JOIN pedges e2 ON e2.a = e1.b
  JOIN pedges e3 ON e3.a = e1.a AND e3.b = e2.b),
pertri AS (SELECT v, COUNT(*) AS t FROM (
  SELECT x AS v FROM tri3 UNION ALL SELECT y FROM tri3 UNION ALL SELECT z FROM tri3) u GROUP BY v),
deg AS (SELECT src AS id, COUNT(*) AS d FROM psym GROUP BY src)
SELECT deg.id, CAST(COALESCE(t, 0) AS BIGINT) AS tri_cnt,
       ROUND(CASE WHEN d >= 2 THEN CAST(COALESCE(t, 0) AS DOUBLE) / (d * (d - 1) / 2.0) ELSE 0.0 END, 6) AS local_coeff
FROM deg LEFT JOIN pertri ON pertri.v = deg.id
WHERE deg.id <= ${PartTag * TAG + 100}"""

  /** Unrolled multi-source BFS on the trade-top graph → closeness +
    * harmonic centrality, mirroring Centrality.closeness level by
    * level (same visited anti-semantics as bfsSql, keyed by source). */
  def closenessSql(maxDepth: Int): String = {
    val sb = new StringBuilder(s"WITH ${DerivedGraphs.tradeTopSql()}")
    sb ++= s", tn AS (SELECT ${NationTag * TAG} + CAST(n_nationkey AS BIGINT) AS id FROM nation)"
    sb ++= ", f0 AS (SELECT id AS s, id AS v FROM tn)"
    sb ++= ", v0 AS (SELECT * FROM f0)"
    for (i <- 1 to maxDepth) {
      sb ++= s", f$i AS MATERIALIZED (SELECT DISTINCT f.s, e.dst AS v" +
        s" FROM f${i - 1} f JOIN ttedges e ON e.src = f.v" +
        s" WHERE NOT EXISTS (SELECT 1 FROM v${i - 1} x WHERE x.s = f.s AND x.v = e.dst))"
      sb ++= s", v$i AS MATERIALIZED (SELECT * FROM v${i - 1} UNION ALL SELECT * FROM f$i)"
    }
    sb ++= ", lv AS (" + (1 to maxDepth).map(i =>
      s"SELECT s, v, CAST($i AS BIGINT) AS dist FROM f$i").mkString(" UNION ALL ") + ")"
    sb ++= ", agg AS (SELECT s AS id, CAST(COUNT(*) AS BIGINT) AS n_reach," +
      " SUM(dist) AS sd, SUM(1.0 / dist) AS h FROM lv GROUP BY s)"
    sb ++= """ SELECT tn.id, COALESCE(a.n_reach, 0) AS n_reach,
 COALESCE(ROUND(a.n_reach / a.sd, 6), 0.0) AS closeness,
 COALESCE(ROUND(a.h, 6), 0.0) AS harmonic
FROM tn LEFT JOIN agg a ON a.id = tn.id"""
    sb.toString
  }

  /** Unrolled weighted PageRank on the full directed weighted trade
    * graph, mirroring Community.weightedPageRank iteration for
    * iteration (rank·w/W(u) contributions, dangling identity rows,
    * final sum-normalization; 8 dp as the q_weighted_pagerank entry
    * rounds). */
  def weightedPageRankSql(damping: Double, iters: Int): String = {
    val d = damping.toString
    val sb = new StringBuilder(s"WITH ${DerivedGraphs.tradeSql}")
    sb ++= ", ws AS MATERIALIZED (SELECT src, SUM(cnt) AS wsum FROM trade GROUP BY src)"
    sb ++= ", nn AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM tnodes)"
    sb ++= ", r0 AS (SELECT id, 1.0 / (SELECT n FROM nn) AS rank FROM tnodes)"
    for (i <- 1 to iters) {
      sb ++= s""", r$i AS MATERIALIZED (
  SELECT a.id, (1.0 - $d) / (SELECT n FROM nn) + $d * COALESCE(s.m, 0.0) AS rank
  FROM tnodes a LEFT JOIN (
    SELECT e.dst AS id, SUM(r.rank * e.cnt / w.wsum) AS m
    FROM trade e JOIN r${i - 1} r ON r.id = e.src JOIN ws w ON w.src = e.src
    GROUP BY e.dst) s ON s.id = a.id)"""
    }
    sb ++= s", tot AS (SELECT SUM(rank) AS t FROM r$iters)"
    sb ++= s" SELECT id, ROUND(rank / (SELECT t FROM tot), 8) AS rank" +
      s" FROM r$iters ORDER BY id"
    sb.toString
  }

  /** Reciprocity mirror on the directed nation trade graph. */
  val reciprocitySql: String =
    s"""WITH ${DerivedGraphs.tradeSql},
e AS (SELECT DISTINCT src, dst FROM tedges),
mu AS (SELECT COUNT(*) AS mu FROM e
  WHERE EXISTS (SELECT 1 FROM e r WHERE r.src = e.dst AND r.dst = e.src)),
m AS (SELECT COUNT(*) AS m FROM e)
SELECT CAST(m AS BIGINT) AS m, CAST(mu AS BIGINT) AS mutual,
  ROUND(mu / m, 6) AS reciprocity
FROM mu CROSS JOIN m"""

  /** Rich-club mirror on the co-occurrence graph. */
  def richClubSql(ks: Seq[Int]): String = {
    val per = ks.map { k =>
      s"""SELECT CAST($k AS BIGINT) AS k,
  (SELECT CAST(COUNT(*) AS BIGINT) FROM dg WHERE deg > $k) AS n_k,
  (SELECT CAST(COUNT(*) AS BIGINT) FROM pedges e
   WHERE e.a IN (SELECT id FROM dg WHERE deg > $k)
     AND e.b IN (SELECT id FROM dg WHERE deg > $k)) AS e_k"""
    }.mkString(" UNION ALL ")
    s"""WITH ${DerivedGraphs.cooccurSql},
dg AS MATERIALIZED (SELECT src AS id, COUNT(*) AS deg FROM psym GROUP BY src),
r AS ($per)
SELECT k, n_k, e_k,
  CASE WHEN n_k < 2 THEN NULL
       ELSE ROUND(2.0 * e_k / (n_k * (n_k - 1)), 6) END AS phi
FROM r ORDER BY k"""
  }

  /** Edge-embeddedness mirror: common neighbors via the psym wedge
    * join, denominator excludes the endpoints; 0.0 convention on
    * degree-1–degree-1 edges. */
  val edgeJaccardSql: String =
    s"""WITH ${DerivedGraphs.cooccurSql},
dg AS MATERIALIZED (SELECT src AS id, COUNT(*) AS deg FROM psym GROUP BY src),
cn AS (SELECT e.a, e.b, CAST(COUNT(*) AS BIGINT) AS common
  FROM pedges e JOIN psym x ON x.src = e.a
  JOIN psym y ON y.src = e.b AND y.dst = x.dst
  GROUP BY e.a, e.b)
SELECT e.a, e.b, COALESCE(c.common, 0) AS common,
  CASE WHEN da.deg + db.deg - 2 - COALESCE(c.common, 0) = 0 THEN 0.0
       ELSE ROUND(COALESCE(c.common, 0) /
         (da.deg + db.deg - 2 - COALESCE(c.common, 0)), 6) END AS jaccard
FROM pedges e LEFT JOIN cn c ON c.a = e.a AND c.b = e.b
JOIN dg da ON da.id = e.a JOIN dg db ON db.id = e.b"""

  /** Hub-capped edge-embeddedness mirror: nodes of full-graph degree
    * > maxDeg excluded first, then the [[edgeJaccardSql]] chain on the
    * induced subgraph with INDUCED degrees — the squareCountCapped
    * discipline at the edge level (≡ exact when maxDeg ≥ max degree). */
  def edgeJaccardCappedSql(maxDeg: Long): String =
    s"""WITH ${DerivedGraphs.cooccurSql},
dg0 AS MATERIALIZED (SELECT src AS id, COUNT(*) AS deg FROM psym GROUP BY src),
kept AS MATERIALIZED (SELECT id FROM dg0 WHERE deg <= $maxDeg),
ie AS MATERIALIZED (SELECT e.a, e.b FROM pedges e
  JOIN kept ka ON ka.id = e.a JOIN kept kb ON kb.id = e.b),
isym AS MATERIALIZED (SELECT a AS src, b AS dst FROM ie UNION ALL SELECT b, a FROM ie),
dg AS MATERIALIZED (SELECT src AS id, COUNT(*) AS deg FROM isym GROUP BY src),
cn AS (SELECT e.a, e.b, CAST(COUNT(*) AS BIGINT) AS common
  FROM ie e JOIN isym x ON x.src = e.a
  JOIN isym y ON y.src = e.b AND y.dst = x.dst
  GROUP BY e.a, e.b)
SELECT e.a, e.b, COALESCE(c.common, 0) AS common,
  CASE WHEN da.deg + db.deg - 2 - COALESCE(c.common, 0) = 0 THEN 0.0
       ELSE ROUND(COALESCE(c.common, 0) /
         (da.deg + db.deg - 2 - COALESCE(c.common, 0)), 6) END AS jaccard
FROM ie e LEFT JOIN cn c ON c.a = e.a AND c.b = e.b
JOIN dg da ON da.id = e.a JOIN dg db ON db.id = e.b"""

  /** [[edgeJaccardCappedSql]]'s audit twin: the excluded hubs with
    * their full-graph degree (empty ⇒ a capped run was exact). */
  def degreeHubsSql(maxDeg: Long): String =
    s"""WITH ${DerivedGraphs.cooccurSql}
SELECT src AS id, CAST(COUNT(*) AS BIGINT) AS deg FROM psym
GROUP BY src HAVING COUNT(*) > $maxDeg"""

  /** Assortativity mirror: same exact integer sums over the sym view
    * of the co-occurrence graph, same final double arithmetic order.
    * (Zero-variance graphs are NULL on the Spark side vs NaN here —
    * latent-only: the co-occurrence graph is never degree-regular.) */
  /** Local-bridge mirror: the edgeJaccard common-neighbor chain
    * reduced to the one-row summary. */
  val localBridgesSql: String =
    s"""WITH ${DerivedGraphs.cooccurSql},
cn AS (SELECT e.a, e.b, CAST(COUNT(*) AS BIGINT) AS common
  FROM pedges e JOIN psym x ON x.src = e.a
  JOIN psym y ON y.src = e.b AND y.dst = x.dst
  GROUP BY e.a, e.b)
SELECT CAST(COUNT(*) AS BIGINT) AS n_edges,
  CAST(SUM(CASE WHEN COALESCE(common, 0) = 0 THEN 1 ELSE 0 END) AS BIGINT)
    AS n_bridges,
  ROUND(SUM(CASE WHEN COALESCE(common, 0) = 0 THEN 1 ELSE 0 END) /
    CAST(COUNT(*) AS DOUBLE), 6) AS bridge_rate
FROM pedges e LEFT JOIN cn c ON c.a = e.a AND c.b = e.b"""

  /** Block-matrix mirror: same label joins, same n_a·n_b rectangle. */
  val blockMatrixSql: String =
    P + """, sz AS (SELECT label, CAST(COUNT(*) AS BIGINT) AS cnt
  FROM nodes GROUP BY 1),
be AS (SELECT ns.label AS label_src, nd.label AS label_dst,
  CAST(COUNT(*) AS BIGINT) AS n_edges
  FROM edges e JOIN nodes ns ON ns.id = e.src
  JOIN nodes nd ON nd.id = e.dst GROUP BY 1, 2)
SELECT label_src, label_dst, n_edges,
  ROUND(CAST(n_edges AS DOUBLE) /
    (CAST(sa.cnt AS DOUBLE) * CAST(sb.cnt AS DOUBLE)), 9) AS density
FROM be JOIN sz sa ON sa.label = be.label_src
  JOIN sz sb ON sb.label = be.label_dst
ORDER BY label_src, label_dst"""

  /** Label-assortativity mirror: same mixing-matrix cells, margins
    * cast to DOUBLE before the product, same guarded closed form. */
  val labelAssortativitySql: String =
    P + """, ce AS (SELECT ns.label AS ls, nd.label AS ld,
  CAST(COUNT(*) AS BIGINT) AS c
  FROM edges e JOIN nodes ns ON ns.id = e.src
  JOIN nodes nd ON nd.id = e.dst GROUP BY 1, 2),
tt AS (SELECT CAST(SUM(c) AS BIGINT) AS m,
  CAST(SUM(CASE WHEN ls = ld THEN c ELSE 0 END) AS BIGINT) AS diag
  FROM ce),
ma AS (SELECT ls, CAST(SUM(c) AS BIGINT) AS ca FROM ce GROUP BY 1),
mb AS (SELECT ld AS ls, CAST(SUM(c) AS BIGINT) AS cb FROM ce GROUP BY 1),
ab AS (SELECT SUM(CAST(ca AS DOUBLE) * CAST(cb AS DOUBLE)) AS sab
  FROM ma JOIN mb USING (ls))
SELECT CAST(m AS BIGINT) AS n_edges,
  ROUND(CAST(diag AS DOUBLE) / CAST(m AS DOUBLE), 6) AS same_share,
  ROUND(sab / (CAST(m AS DOUBLE) * CAST(m AS DOUBLE)), 6)
    AS expected_same,
  ROUND(CASE WHEN sab / (CAST(m AS DOUBLE) * CAST(m AS DOUBLE)) <
      CAST(1 AS DOUBLE)
    THEN (CAST(diag AS DOUBLE) / CAST(m AS DOUBLE) -
      sab / (CAST(m AS DOUBLE) * CAST(m AS DOUBLE))) /
      (CAST(1 AS DOUBLE) - sab / (CAST(m AS DOUBLE) * CAST(m AS DOUBLE)))
    END, 6) AS assortativity
FROM tt CROSS JOIN ab"""

  /** knn(k) mirror: same symmetric degree frame, same exact BIGINT
    * neighbor-degree sums, one double division at the end. */
  val knnProfileSql: String =
    s"""WITH ${DerivedGraphs.cooccurSql},
deg AS (SELECT src AS id, CAST(COUNT(*) AS BIGINT) AS deg
  FROM psym GROUP BY 1),
snd AS (SELECT s.src, CAST(SUM(d.deg) AS BIGINT) AS snd
  FROM psym s JOIN deg d ON d.id = s.dst GROUP BY 1)
SELECT CAST(d.deg AS BIGINT) AS k, CAST(COUNT(*) AS BIGINT) AS n_nodes,
  ROUND(CAST(SUM(n.snd) AS DOUBLE) /
    CAST(d.deg * COUNT(*) AS DOUBLE), 6) AS knn
FROM deg d JOIN snd n ON n.src = d.id
GROUP BY d.deg ORDER BY k"""

  /** Disparity mirror: same multiplicity weights, same 1e-7-unit
    * integerized Y, same double division order. */
  val disparitySql: String =
    s"""WITH ${DerivedGraphs.cooccurAllSql},
wt AS (SELECT a, b, CAST(COUNT(*) AS BIGINT) AS w FROM pall GROUP BY 1, 2),
sym AS (SELECT a AS src, w FROM wt UNION ALL SELECT b, w FROM wt),
per AS (SELECT src, CAST(COUNT(*) AS BIGINT) AS k,
  CAST(SUM(w) AS BIGINT) AS s, CAST(SUM(w * w) AS BIGINT) AS sw2
  FROM sym GROUP BY 1),
y AS (SELECT k, CAST(FLOOR(CAST(sw2 AS DOUBLE) /
    (CAST(s AS DOUBLE) * CAST(s AS DOUBLE)) * 1e7 + 0.5) AS BIGINT) AS yu
  FROM per)
SELECT CAST(k AS BIGINT) AS k, CAST(COUNT(*) AS BIGINT) AS n_nodes,
  ROUND(CAST(SUM(yu) AS DOUBLE) / (CAST(COUNT(*) AS DOUBLE) * 1e7), 6)
    AS mean_disparity
FROM y GROUP BY 1 ORDER BY 1"""

  /** Percolation mirror: same exact-integer thresholds
    * (w·|E| > Σw·k), min-label propagation unrolled 24 rounds (≥ any
    * 25-node diameter) per threshold — converges to the same min-id
    * component labels as the Spark hooking kernel. */
  val percolationSql: String = {
    val rounds = 24
    val sb = new StringBuilder(
      s"""WITH ${DerivedGraphs.tradeWeightedSql},
pn0 AS MATERIALIZED (SELECT DISTINCT id FROM (
  SELECT a AS id FROM wtedges UNION ALL SELECT b FROM wtedges)),
tw AS (SELECT SUM(w) AS tw, COUNT(*) AS me FROM wtedges)""")
    for ((name, k) <- Seq(("all", 0), ("avg", 1), ("2avg", 2))) {
      sb ++= s""",
e_$name AS MATERIALIZED (SELECT a, b FROM wtedges CROSS JOIN tw
  WHERE w * me > tw * $k),
sym_$name AS MATERIALIZED (SELECT a AS src, b AS dst FROM e_$name
  UNION ALL SELECT b, a FROM e_$name),
l0_$name AS (SELECT id, id AS lbl FROM pn0)"""
      // every round CTE MUST be MATERIALIZED: it is referenced twice
      // (as v and u), and an inlined CTE would double the subtree per
      // round — 2^24 plan blow-up
      for (r <- 0 until rounds) sb ++= s""",
l${r + 1}_$name AS MATERIALIZED (SELECT v.id,
  LEAST(v.lbl, COALESCE(MIN(u.lbl), v.lbl)) AS lbl
  FROM l${r}_$name v LEFT JOIN sym_$name e ON e.src = v.id
  LEFT JOIN l${r}_$name u ON u.id = e.dst GROUP BY v.id, v.lbl)"""
      sb ++= s""",
row_$name AS (SELECT '$name' AS threshold,
  (SELECT CAST(COUNT(*) AS BIGINT) FROM pn0) AS n_nodes,
  (SELECT CAST(COUNT(*) AS BIGINT) FROM e_$name) AS n_edges,
  CAST(COUNT(*) AS BIGINT) AS n_components,
  CAST(MAX(sz) AS BIGINT) AS giant_size,
  ROUND(CAST(MAX(sz) AS DOUBLE) / (SELECT COUNT(*) FROM pn0), 6)
    AS giant_frac
  FROM (SELECT lbl, COUNT(*) AS sz FROM l${rounds}_$name GROUP BY 1))"""
    }
    sb ++= "\nSELECT * FROM row_all UNION ALL SELECT * FROM row_avg " +
      "UNION ALL SELECT * FROM row_2avg ORDER BY threshold"
    sb.toString
  }

  /** Triad-census mirror: same distinct self-loop-free edge set, same
    * rotation-÷3 cycle count and unique transitive instances. */
  val triadCensusSql: String =
    s"""WITH ${DerivedGraphs.tradeTopSql()},
e AS MATERIALIZED (SELECT DISTINCT src, dst FROM ttedges WHERE src <> dst),
m AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_edges FROM e),
mu AS (SELECT CAST(COUNT(*) / 2 AS BIGINT) AS mutual_dyads FROM e
  WHERE EXISTS (SELECT 1 FROM e r WHERE r.src = e.dst AND r.dst = e.src)),
wedge AS MATERIALIZED (SELECT ab.src AS a, ab.dst AS b, bc.dst AS c
  FROM e ab JOIN e bc ON bc.src = ab.dst),
cy AS (SELECT CAST(COUNT(*) / 3 AS BIGINT) AS cycles FROM wedge
  WHERE EXISTS (SELECT 1 FROM e z WHERE z.src = wedge.c AND z.dst = wedge.a)),
tr AS (SELECT CAST(COUNT(*) AS BIGINT) AS transitive FROM wedge
  WHERE EXISTS (SELECT 1 FROM e z WHERE z.src = wedge.a AND z.dst = wedge.c))
SELECT n_edges, mutual_dyads, cycles, transitive
FROM m CROSS JOIN mu CROSS JOIN cy CROSS JOIN tr"""

  /** Onion-decomposition mirror: the wave peel unrolled `steps` times
    * over a prebuilt list adjacency (the MIS/coloring replay
    * discipline — no recursive-CTE state machine); a 25-node graph
    * peels in ≤ 25 waves, so the unroll is always deep enough. */
  def onionSql(steps: Int = 25): String = {
    val sb = new StringBuilder(s"""WITH ${DerivedGraphs.tradeTopSql()},
sed AS MATERIALIZED (SELECT DISTINCT src, dst FROM (
  SELECT src, dst FROM ttedges WHERE src <> dst
  UNION ALL SELECT dst, src FROM ttedges WHERE src <> dst)),
adj AS MATERIALIZED (SELECT src AS id, list(dst) AS nbrs
  FROM sed GROUP BY 1),
s0 AS (SELECT list(id) AS alive, CAST(0 AS BIGINT) AS c FROM adj)""")
    // every step CTE is MATERIALIZED: the c/alive scalar chain would
    // otherwise inline s→m→s→… recursively and the plan explodes
    // exponentially in the unroll depth (measured: the planner hangs)
    for (t <- 1 to steps) sb ++= s""",
d$t AS MATERIALIZED (SELECT a.id,
  CAST(len(list_filter(a.nbrs, x -> list_contains(s.alive, x)))
    AS BIGINT) AS deg
  FROM adj a, s${t - 1} s WHERE list_contains(s.alive, a.id)),
m$t AS MATERIALIZED (SELECT CASE WHEN MIN(deg) IS NULL THEN NULL
  ELSE GREATEST((SELECT c FROM s${t - 1}), MIN(deg)) END AS c FROM d$t),
w$t AS MATERIALIZED (SELECT id, (SELECT c FROM m$t) AS core,
  CAST($t AS BIGINT) AS layer
  FROM d$t WHERE deg <= (SELECT c FROM m$t)),
s$t AS MATERIALIZED (SELECT (SELECT list(id) FROM d$t
    WHERE id NOT IN (SELECT id FROM w$t)) AS alive,
  COALESCE((SELECT c FROM m$t), (SELECT c FROM s${t - 1})) AS c)"""
    sb ++= "\n" + (1 to steps).map(t =>
      s"SELECT CAST(id AS BIGINT) AS id, CAST(core AS BIGINT) AS core, " +
        s"layer FROM w$t").mkString("\nUNION ALL\n") + "\nORDER BY id"
    sb.toString
  }

  /** Attack-curve mirror: same degree-threshold removal rule off the
    * degree histogram, min-label CC unrolled `rounds` steps (the
    * post-attack co-occur components are clique overlaps — label
    * distance far under the unroll depth). */
  def attackCurveSql(pcts: Seq[Double] = Seq(0.0, 0.01, 0.05, 0.1),
                     rounds: Int = 24): String = {
    val prefix = s"""WITH ${DerivedGraphs.cooccurSql},
dg AS MATERIALIZED (SELECT src AS id, CAST(COUNT(*) AS BIGINT) AS deg
  FROM psym GROUP BY 1),
nn AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM dg),
dh AS (SELECT deg, CAST(COUNT(*) AS BIGINT) AS c FROM dg GROUP BY 1),
ch AS (SELECT deg, CAST(SUM(c) OVER (ORDER BY deg DESC) AS BIGINT)
  AS cumge FROM dh)"""
    val arms = pcts.sorted.zipWithIndex.map { case (p, i) =>
      val k = s"CAST(floor(CAST($p AS DOUBLE) * (SELECT n FROM nn)) AS BIGINT)"
      s""",
sel$i AS (SELECT COALESCE(MIN(CASE WHEN cumge <= $k THEN deg END),
    (SELECT MAX(deg) FROM dh) + 1) AS dmin,
  CAST(COALESCE(MAX(CASE WHEN cumge <= $k THEN cumge END), 0) AS BIGINT)
    AS removed
  FROM ch),
kp$i AS MATERIALIZED (SELECT id FROM dg
  WHERE deg < (SELECT dmin FROM sel$i)),
se$i AS MATERIALIZED (SELECT e.src, e.dst FROM psym e
  JOIN kp$i a ON a.id = e.src JOIN kp$i b ON b.id = e.dst),
l${i}_0 AS (SELECT id, id AS lab FROM kp$i)""" +
        (1 to rounds).map { r =>
          s""",
l${i}_$r AS MATERIALIZED (SELECT id, MIN(lab) AS lab FROM (
  SELECT id, lab FROM l${i}_${r - 1}
  UNION ALL
  SELECT e.dst AS id, l.lab FROM l${i}_${r - 1} l
    JOIN se$i e ON e.src = l.id)
  GROUP BY id)"""
        }.mkString +
        s""",
res$i AS (SELECT CAST($p AS DOUBLE) AS pct_target,
  (SELECT removed FROM sel$i) AS n_removed,
  CAST((SELECT COUNT(*) FROM kp$i) AS BIGINT) AS n_left,
  CAST((SELECT COUNT(*) // 2 FROM se$i) AS BIGINT) AS e_left,
  CAST(COALESCE(MAX(sz), 0) AS BIGINT) AS lcc_size,
  ROUND(CAST(MAX(sz) AS DOUBLE) /
    CAST((SELECT COUNT(*) FROM kp$i) AS DOUBLE), 6) AS lcc_share
  FROM (SELECT lab, COUNT(*) AS sz FROM l${i}_$rounds GROUP BY lab) t)"""
    }.mkString
    prefix + arms + "\n" +
      pcts.sorted.indices.map(i => s"SELECT * FROM res$i")
        .mkString("\nUNION ALL\n") + "\nORDER BY pct_target"
  }

  /** Full-census mirror: same dyad codes, same c-relative wedge
    * classification, triangles at the smallest corner, identical
    * closed forms for 102/012/003. */
  val triadCensusFullSql: String =
    s"""WITH ${DerivedGraphs.tradeTopSql()},
e AS MATERIALIZED (SELECT DISTINCT src, dst FROM ttedges WHERE src <> dst),
cp AS MATERIALIZED (SELECT LEAST(src, dst) AS lo, GREATEST(src, dst) AS hi,
  CASE WHEN MAX(CASE WHEN src < dst THEN 1 ELSE 0 END) = 1
        AND MIN(CASE WHEN src < dst THEN 1 ELSE 0 END) = 0 THEN 2
       WHEN MAX(CASE WHEN src < dst THEN 1 ELSE 0 END) = 1 THEN 1
       ELSE 0 END AS code
  FROM e GROUP BY 1, 2),
und AS (SELECT lo AS c, hi AS o, code, TRUE AS cislo FROM cp
  UNION ALL SELECT hi, lo, code, FALSE FROM cp),
w AS MATERIALIZED (SELECT a.c, a.o AS u,
  CASE WHEN a.code = 2 THEN 2 WHEN a.cislo THEN a.code
       ELSE 1 - a.code END AS du,
  b.o AS v,
  CASE WHEN b.code = 2 THEN 2 WHEN b.cislo THEN b.code
       ELSE 1 - b.code END AS dv
  FROM und a JOIN und b ON b.c = a.c AND a.o < b.o),
j AS MATERIALIZED (SELECT w.c, w.u, w.du, w.v, w.dv, cp.code AS uv
  FROM w LEFT JOIN cp ON cp.lo = w.u AND cp.hi = w.v),
cls AS (
  SELECT CASE
    WHEN du = 2 AND dv = 2 THEN '201'
    WHEN du = 2 THEN CASE WHEN dv = 1 THEN '111U' ELSE '111D' END
    WHEN dv = 2 THEN CASE WHEN du = 1 THEN '111U' ELSE '111D' END
    WHEN du = 1 AND dv = 1 THEN '021D'
    WHEN du = 0 AND dv = 0 THEN '021U'
    ELSE '021C' END AS triad_class
  FROM j WHERE uv IS NULL
  UNION ALL
  SELECT CASE
    WHEN (CASE WHEN du = 2 THEN 1 ELSE 0 END) +
         (CASE WHEN dv = 2 THEN 1 ELSE 0 END) +
         (CASE WHEN uv = 2 THEN 1 ELSE 0 END) = 3 THEN '300'
    WHEN (CASE WHEN du = 2 THEN 1 ELSE 0 END) +
         (CASE WHEN dv = 2 THEN 1 ELSE 0 END) +
         (CASE WHEN uv = 2 THEN 1 ELSE 0 END) = 2 THEN '210'
    WHEN (CASE WHEN du = 2 THEN 1 ELSE 0 END) +
         (CASE WHEN dv = 2 THEN 1 ELSE 0 END) +
         (CASE WHEN uv = 2 THEN 1 ELSE 0 END) = 1 THEN
      CASE WHEN uv = 2 THEN
        CASE WHEN du = 1 AND dv = 1 THEN '120D'
             WHEN du = 0 AND dv = 0 THEN '120U' ELSE '120C' END
      WHEN du = 2 THEN
        CASE WHEN dv = 0 AND uv = 0 THEN '120D'
             WHEN dv = 1 AND uv = 1 THEN '120U' ELSE '120C' END
      ELSE
        CASE WHEN du = 0 AND uv = 1 THEN '120D'
             WHEN du = 1 AND uv = 0 THEN '120U' ELSE '120C' END END
    ELSE CASE WHEN (du = 1 AND uv = 1 AND dv = 0)
               OR (dv = 1 AND uv = 0 AND du = 0)
      THEN '030C' ELSE '030T' END
  END
  FROM j WHERE uv IS NOT NULL AND c < u),
cnts AS (SELECT triad_class, CAST(COUNT(*) AS BIGINT) AS cnt
  FROM cls GROUP BY 1),
sc AS (SELECT
  CAST(SUM(CASE WHEN code = 2 THEN 1 ELSE 0 END) AS BIGINT) AS mdy,
  CAST(SUM(CASE WHEN code <> 2 THEN 1 ELSE 0 END) AS BIGINT) AS ady
  FROM cp),
nn AS (SELECT CAST(COUNT(DISTINCT id) AS BIGINT) AS n
  FROM (SELECT src AS id FROM e UNION ALL SELECT dst FROM e)),
sums AS (SELECT
  CAST(COALESCE(SUM(cnt * CASE triad_class WHEN '300' THEN 3
    WHEN '210' THEN 2 WHEN '201' THEN 2 WHEN '120D' THEN 1
    WHEN '120U' THEN 1 WHEN '120C' THEN 1 WHEN '111D' THEN 1
    WHEN '111U' THEN 1 ELSE 0 END), 0) AS BIGINT) AS sm,
  CAST(COALESCE(SUM(cnt * CASE triad_class WHEN '210' THEN 1
    WHEN '120D' THEN 2 WHEN '120U' THEN 2 WHEN '120C' THEN 2
    WHEN '030T' THEN 3 WHEN '030C' THEN 3 WHEN '111D' THEN 1
    WHEN '111U' THEN 1 WHEN '021D' THEN 2 WHEN '021U' THEN 2
    WHEN '021C' THEN 2 ELSE 0 END), 0) AS BIGINT) AS sa,
  CAST(COALESCE(SUM(cnt), 0) AS BIGINT) AS enumerated
  FROM cnts),
low AS (SELECT CAST(mdy * (n - 2) - sm AS BIGINT) AS c102,
  CAST(ady * (n - 2) - sa AS BIGINT) AS c012,
  CAST(n * (n - 1) * (n - 2) // 6 - (mdy * (n - 2) - sm) -
    (ady * (n - 2) - sa) - enumerated AS BIGINT) AS c003
  FROM sc CROSS JOIN nn CROSS JOIN sums),
cl AS (SELECT unnest(['003','012','021C','021D','021U','030C','030T',
  '102','111D','111U','120C','120D','120U','201','210','300'])
  AS triad_class)
SELECT cl.triad_class,
  CAST(CASE cl.triad_class WHEN '003' THEN (SELECT c003 FROM low)
    WHEN '012' THEN (SELECT c012 FROM low)
    WHEN '102' THEN (SELECT c102 FROM low)
    ELSE COALESCE(cnts.cnt, 0) END AS BIGINT) AS n_triads
FROM cl LEFT JOIN cnts USING (triad_class) ORDER BY triad_class"""

  /** Degree-anonymity mirror: same both-direction incident-edge
    * convention as q_degree_dist, same 5-number signature, same global
    * class sizes, per-label rollup. */
  val degreeAnonymitySql: String =
    P + """, sym AS (SELECT src AS id, dst AS nb FROM edges
  UNION ALL SELECT dst AS id, src AS nb FROM edges),
dg AS (SELECT id, CAST(COUNT(*) AS BIGINT) AS deg FROM sym GROUP BY 1),
ft AS (SELECT s.id, MIN(d.deg) AS min_nd, MAX(d.deg) AS max_nd,
  CAST(SUM(d.deg) AS BIGINT) AS sum_nd,
  CAST(COUNT(DISTINCT s.nb) AS BIGINT) AS k_nb
  FROM sym s JOIN dg d ON d.id = s.nb GROUP BY s.id),
f AS (SELECT n.label, n.id, COALESCE(d.deg, 0) AS deg,
  COALESCE(ft.min_nd, 0) AS min_nd, COALESCE(ft.max_nd, 0) AS max_nd,
  COALESCE(ft.sum_nd, 0) AS sum_nd, COALESCE(ft.k_nb, 0) AS k_nb
  FROM nodes n LEFT JOIN dg d ON d.id = n.id LEFT JOIN ft ON ft.id = n.id),
cls AS (SELECT deg, min_nd, max_nd, sum_nd, k_nb, COUNT(*) AS csize
  FROM f GROUP BY 1, 2, 3, 4, 5)
SELECT f.label, CAST(COUNT(*) AS BIGINT) AS n_nodes,
  CAST(COUNT(DISTINCT (f.deg, f.min_nd, f.max_nd, f.sum_nd, f.k_nb)) AS BIGINT)
    AS n_sigs,
  CAST(SUM(CASE WHEN c.csize = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_unique,
  ROUND(SUM(CASE WHEN c.csize = 1 THEN 1 ELSE 0 END) /
    CAST(COUNT(*) AS DOUBLE), 6) AS uniqueness_rate
FROM f JOIN cls c USING (deg, min_nd, max_nd, sum_nd, k_nb)
GROUP BY f.label ORDER BY f.label"""

  val assortativitySql: String =
    s"""WITH ${DerivedGraphs.cooccurSql},
dg AS (SELECT src AS id, COUNT(*) AS deg FROM psym GROUP BY src),
xy AS (SELECT dx.deg AS x, dy.deg AS y FROM psym e
  JOIN dg dx ON dx.id = e.src JOIN dg dy ON dy.id = e.dst),
s AS (SELECT CAST(COUNT(*) AS BIGINT) AS m,
  SUM(x) AS sx, SUM(y) AS sy, SUM(x * y) AS sxy,
  SUM(x * x) AS sxx, SUM(y * y) AS syy FROM xy)
SELECT m, ROUND((sxy / m - (sx / m) * (sy / m)) /
  sqrt((sxx / m - (sx / m) * (sx / m)) * (syy / m - (sy / m) * (sy / m))), 6) AS r
FROM s"""

  /** k-truss mirror: unrolled support-peel rounds on the undirected
    * trade-top pair graph — per round each edge's support is the
    * common-neighbor count over the surviving graph (one
    * neighbor-match join), edges under k−2 leave; `rounds` must be ≥
    * the rounds to fixpoint at the checked SF (extra rounds are exact
    * no-ops). Final support re-measured in the surviving subgraph. */
  def kTrussSql(k: Int, rounds: Int): String = {
    val sb = new StringBuilder(s"WITH ${DerivedGraphs.tradeTopSql()}")
    sb ++= """, e0 AS (SELECT DISTINCT LEAST(src, dst) AS a, GREATEST(src, dst) AS b FROM ttedges)"""
    def sym(r: Int) =
      s"(SELECT a AS id, b AS nb FROM e$r UNION ALL SELECT b, a FROM e$r)"
    def supCte(name: String, r: Int) =
      s""", $name AS MATERIALIZED (
  SELECT e.a, e.b, COUNT(y.id) AS sup
  FROM e$r e
  LEFT JOIN ${sym(r)} x ON x.id = e.a
  LEFT JOIN ${sym(r)} y ON y.id = e.b AND y.nb = x.nb
  GROUP BY e.a, e.b)"""
    for (r <- 0 until rounds) {
      sb ++= supCte(s"s$r", r)
      sb ++= s", e${r + 1} AS MATERIALIZED (SELECT a, b FROM s$r WHERE sup >= ${k - 2})"
    }
    sb ++= supCte("fin", rounds)
    sb ++= """
SELECT a, b, CAST(sup AS BIGINT) AS support FROM fin ORDER BY a, b"""
    sb.toString
  }

  /** Neighbor-aggregation mirror: unrolled SAGE-style mean layers over
    * in-neighborhoods on the trade-top graph, features = out/in
    * degree, empty neighborhoods as 0 at every layer. */
  def neighborAggSql(hops: Int): String = {
    val sb = new StringBuilder(s"WITH ${DerivedGraphs.tradeTopSql()}")
    sb ++= s", tn AS (SELECT ${NationTag * TAG} + CAST(n_nationkey AS BIGINT) AS id FROM nation)"
    sb ++= """, l0 AS (SELECT tn.id,
  CAST(COALESCE(o.c, 0) AS DOUBLE) AS odeg,
  CAST(COALESCE(i.c, 0) AS DOUBLE) AS ideg
  FROM tn
  LEFT JOIN (SELECT src AS id, COUNT(*) AS c FROM ttedges GROUP BY 1) o ON o.id = tn.id
  LEFT JOIN (SELECT dst AS id, COUNT(*) AS c FROM ttedges GROUP BY 1) i ON i.id = tn.id)"""
    for (h <- 1 to hops) {
      sb ++= s""", l$h AS MATERIALIZED (SELECT tn.id,
  COALESCE(a.odeg, 0.0) AS odeg, COALESCE(a.ideg, 0.0) AS ideg
  FROM tn LEFT JOIN (
    SELECT e.dst AS id, AVG(l.odeg) AS odeg, AVG(l.ideg) AS ideg
    FROM ttedges e JOIN l${h - 1} l ON l.id = e.src GROUP BY 1) a
  ON a.id = tn.id)"""
    }
    sb ++= s"""
SELECT id, ROUND(odeg, 6) AS odeg_h$hops, ROUND(ideg, 6) AS ideg_h$hops
FROM l$hops ORDER BY id"""
    sb.toString
  }

  /** Eccentricity mirror: the same unrolled multi-source BFS levels as
    * [[closenessSql]], aggregated by MAX(dist) over the reachable set
    * (0 when nothing is reachable). */
  def eccentricitySql(maxDepth: Int): String = {
    val sb = new StringBuilder(s"WITH ${DerivedGraphs.tradeTopSql()}")
    sb ++= s", tn AS (SELECT ${NationTag * TAG} + CAST(n_nationkey AS BIGINT) AS id FROM nation)"
    sb ++= ", f0 AS (SELECT id AS s, id AS v FROM tn)"
    sb ++= ", v0 AS (SELECT * FROM f0)"
    for (i <- 1 to maxDepth) {
      sb ++= s", f$i AS MATERIALIZED (SELECT DISTINCT f.s, e.dst AS v" +
        s" FROM f${i - 1} f JOIN ttedges e ON e.src = f.v" +
        s" WHERE NOT EXISTS (SELECT 1 FROM v${i - 1} x WHERE x.s = f.s AND x.v = e.dst))"
      sb ++= s", v$i AS MATERIALIZED (SELECT * FROM v${i - 1} UNION ALL SELECT * FROM f$i)"
    }
    sb ++= ", lv AS (" + (1 to maxDepth).map(i =>
      s"SELECT s, v, CAST($i AS BIGINT) AS dist FROM f$i").mkString(" UNION ALL ") + ")"
    sb ++= ", agg AS (SELECT s AS id, MAX(dist) AS ecc," +
      " CAST(COUNT(*) AS BIGINT) AS n_reach FROM lv GROUP BY s)"
    sb ++= """ SELECT tn.id, COALESCE(a.ecc, 0) AS ecc,
 COALESCE(a.n_reach, 0) AS n_reach
FROM tn LEFT JOIN agg a ON a.id = tn.id ORDER BY tn.id"""
    sb.toString
  }

  /** Diameter/radius report mirror: the eccentricity query as a
    * derived table, aggregated to the same one-row extremes +
    * conditional counts (radius = min POSITIVE ecc, same sink-node
    * convention). */
  def diameterSql(maxDepth: Int): String =
    s"""WITH e AS (SELECT * FROM (${eccentricitySql(maxDepth)}) q),
 m AS (SELECT MAX(ecc) AS diameter,
   MIN(CASE WHEN ecc > 0 THEN ecc END) AS radius,
   CAST(COUNT(*) AS BIGINT) AS n_nodes FROM e)
SELECT COALESCE(m.diameter, 0) AS diameter, COALESCE(m.radius, 0) AS radius,
 m.n_nodes,
 CAST(SUM(CASE WHEN e.ecc = m.diameter AND e.ecc > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_peripheral,
 CAST(SUM(CASE WHEN e.ecc = m.radius THEN 1 ELSE 0 END) AS BIGINT) AS n_central,
 CAST(SUM(CASE WHEN e.ecc = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_isolated
FROM e, m GROUP BY m.diameter, m.radius, m.n_nodes"""

  /** Unrolled HITS on the trade-top graph: L1-normalized authority and
    * hub half-steps, mirroring Centrality.hits iteration for
    * iteration. */
  def hitsSql(iters: Int): String = {
    val sb = new StringBuilder(s"WITH ${DerivedGraphs.tradeTopSql()}")
    sb ++= s", tn AS (SELECT ${NationTag * TAG} + CAST(n_nationkey AS BIGINT) AS id FROM nation)"
    sb ++= ", h0 AS (SELECT id, 1.0 / (SELECT COUNT(*) FROM tn) AS h FROM tn)"
    for (i <- 1 to iters) {
      sb ++= s", ar$i AS MATERIALIZED (SELECT e.dst AS id, SUM(h.h) AS a" +
        s" FROM ttedges e JOIN h${i - 1} h ON h.id = e.src GROUP BY e.dst)"
      sb ++= s", a$i AS (SELECT id, a / (SELECT SUM(a) FROM ar$i) AS a FROM ar$i)"
      sb ++= s", hr$i AS MATERIALIZED (SELECT e.src AS id, SUM(a.a) AS h" +
        s" FROM ttedges e JOIN a$i a ON a.id = e.dst GROUP BY e.src)"
      sb ++= s", h$i AS (SELECT id, h / (SELECT SUM(h) FROM hr$i) AS h FROM hr$i)"
    }
    sb ++= s""" SELECT tn.id, ROUND(COALESCE(h.h, 0.0), 8) AS hub,
 ROUND(COALESCE(a.a, 0.0), 8) AS auth
FROM tn LEFT JOIN h$iters h ON h.id = tn.id LEFT JOIN a$iters a ON a.id = tn.id"""
    sb.toString
  }

  /** Unrolled personalized PageRank on the trade-top graph, mirroring
    * Community.personalizedPageRank op for op — including the
    * teleport-folded identity rows (c = tele/d, one aggregation
    * d·Σc per iteration; the kernel's 0.0 base adds nothing). */
  def pprSql(sources: Seq[Long], damping: Double, iters: Int): String = {
    val d = damping.toString
    val srcList = sources.mkString(", ")
    val s = sources.size
    val sb = new StringBuilder(s"WITH ${DerivedGraphs.tradeTopSql()}")
    sb ++= s", tn AS (SELECT ${NationTag * TAG} + CAST(n_nationkey AS BIGINT) AS id FROM nation)"
    sb ++= s", outdeg AS MATERIALIZED (SELECT src AS id, COUNT(*) AS odeg FROM ttedges GROUP BY src)"
    sb ++= s", r0 AS (SELECT id, 1.0 / $s AS rank FROM tn WHERE id IN ($srcList))"
    for (i <- 1 to iters) {
      sb ++= s""", r$i AS MATERIALIZED (SELECT id, $d * SUM(c) AS rank FROM (
  SELECT e.dst AS id, r.rank / od.odeg AS c
  FROM ttedges e JOIN r${i - 1} r ON r.id = e.src JOIN outdeg od ON od.id = e.src
  UNION ALL
  SELECT id, CASE WHEN id IN ($srcList) THEN (1.0 - $d) / $s / $d ELSE 0.0 END AS c
  FROM tn) u GROUP BY id)"""
    }
    sb ++= s", tot AS (SELECT SUM(rank) AS t FROM r$iters)"
    sb ++= s" SELECT id, ROUND(rank / (SELECT t FROM tot), 8) AS rank FROM r$iters"
    sb.toString
  }

  /** Unrolled synchronous min-tie label propagation on the
    * co-occurrence graph, mirroring Community.labelPropagation. */
  def labelPropSql(iters: Int): String = {
    val sb = new StringBuilder(s"WITH ${DerivedGraphs.cooccurSql}")
    sb ++= ", l0 AS (SELECT id, id AS label FROM pnodes)"
    for (i <- 1 to iters) {
      sb ++= s""", c$i AS MATERIALIZED (SELECT e.src AS id, l.label AS nl, COUNT(*) AS cnt
  FROM psym e JOIN l${i - 1} l ON l.id = e.dst GROUP BY 1, 2)"""
      sb ++= s""", b$i AS (SELECT id, nl FROM (
  SELECT id, nl, ROW_NUMBER() OVER (PARTITION BY id ORDER BY cnt DESC, nl ASC) AS rn
  FROM c$i) t WHERE rn = 1)"""
      sb ++= s""", l$i AS MATERIALIZED (SELECT l.id, COALESCE(b.nl, l.label) AS label
  FROM l${i - 1} l LEFT JOIN b$i b ON b.id = l.id)"""
    }
    sb ++= s" SELECT id, CAST(label AS BIGINT) AS label FROM l$iters"
    sb.toString
  }

  /** Unrolled deterministic random walks on the trade-top graph,
    * mirroring RandomWalks.walks: per step the argmin-hash neighbor
    * via the shared md5 formula, dst tiebreak. */
  def walksSql(length: Int, perNode: Int): String = {
    def h(s: String) = s"('0x' || substr(md5($s), 1, 15))::BIGINT"
    val ws = (0 until perNode).mkString(", ")
    val sb = new StringBuilder(s"WITH ${DerivedGraphs.tradeTopSql()}")
    sb ++= s", tn AS (SELECT ${NationTag * TAG} + CAST(n_nationkey AS BIGINT) AS id FROM nation)"
    sb ++= ", e AS MATERIALIZED (SELECT DISTINCT src, dst FROM ttedges)"
    sb ++= s", s0 AS (SELECT id AS start, CAST(w AS BIGINT) AS walk, id AS cur FROM tn, unnest([$ws]) AS t(w))"
    for (t <- 1 to length) {
      val score = h(s"'rw:' || CAST(s.walk AS VARCHAR) || ':$t:' || " +
        "CAST(s.cur AS VARCHAR) || ':' || CAST(e.dst AS VARCHAR)")
      sb ++= s""", s$t AS MATERIALIZED (SELECT start, walk, dst AS cur FROM (
  SELECT s.start, s.walk, e.dst,
         ROW_NUMBER() OVER (PARTITION BY s.start, s.walk
           ORDER BY $score ASC, e.dst ASC) AS rn
  FROM s${t - 1} s JOIN e ON e.src = s.cur) x WHERE rn = 1)"""
    }
    sb ++= " SELECT start, walk, CAST(0 AS BIGINT) AS step, start AS node FROM s0"
    for (t <- 1 to length)
      sb ++= s" UNION ALL SELECT start, walk, CAST($t AS BIGINT) AS step, cur AS node FROM s$t"
    sb.toString
  }

  /** Focal-bounded link prediction on the co-occurrence graph: wedge
    * enumeration from the focal source side, Adamic–Adar / Jaccard /
    * common-neighbor scores for non-adjacent candidate pairs, top-n by
    * (aa desc, a, b) — mirroring LinkPrediction.scores with
    * focal = parts ≤ `focalMax`. */
  def linkPredictSql(focalMax: Long, n: Int): String =
    s"""WITH ${DerivedGraphs.cooccurSql},
deg AS MATERIALIZED (SELECT src AS id, COUNT(*) AS deg FROM psym GROUP BY src),
wed AS MATERIALIZED (
  SELECT a.src AS a, e2.dst AS b, COUNT(*) AS cn, SUM(1.0 / ln(d.deg)) AS aa_raw
  FROM psym a JOIN deg d ON d.id = a.dst
  JOIN psym e2 ON e2.src = a.dst
  WHERE a.src <= $focalMax AND e2.dst <> a.src
  GROUP BY 1, 2),
cand AS (SELECT w.* FROM wed w
  WHERE NOT EXISTS (SELECT 1 FROM psym e WHERE e.src = w.a AND e.dst = w.b))
SELECT c.a, c.b, CAST(c.cn AS BIGINT) AS cn,
  ROUND(c.cn / (da.deg + db.deg - c.cn), 6) AS jaccard,
  ROUND(c.aa_raw, 6) AS aa
FROM cand c JOIN deg da ON da.id = c.a JOIN deg db ON db.id = c.b
ORDER BY aa DESC, c.a ASC, c.b ASC LIMIT $n"""

  /** Sequential greedy MIS replay on the symmetric trade-top graph —
    * a single-row recursive state machine: nodes ranked by the shared
    * (hash60("mis:"++id), id) priority; step r appends node(r) to the
    * accumulated list iff none of its neighbors is already in it.
    * Blelloch et al.: this sequential answer IS the fixed-priority
    * parallel rounds' answer, so one |V|-step replay checks the
    * distributed kernel exactly. */
  def misSql(): String = {
    val h = s"('0x' || substr(md5('mis:' || CAST(id AS VARCHAR)), 1, 15))::BIGINT"
    // UNROLLED (not recursive): the correlated-subquery-inside-
    // WITH-RECURSIVE formulation intermittently returned a wrong row
    // count and segfaulted DuckDB under repeated execution (round-11
    // full-sweep flake, reproduced) — 25 plain CTE steps over a
    // prebuilt (rk, id, nbrs) adjacency with pure list functions are
    // bit-stable. The nation graph has exactly 25 nodes at every SF,
    // so the unroll length is invariant.
    val steps = (1 to 25).map { r =>
      val p = r - 1
      s"""m$r AS (SELECT CASE WHEN list_has_any(m$p.mis, a.nbrs) THEN m$p.mis
    ELSE list_append(m$p.mis, a.id) END AS mis
  FROM m$p CROSS JOIN adj a WHERE a.rk = $r)"""
    }.mkString(",\n")
    s"""WITH ${DerivedGraphs.tradeTopSql()},
tn AS (SELECT ${NationTag * TAG} + CAST(n_nationkey AS BIGINT) AS id FROM nation),
tts AS (SELECT src, dst FROM ttedges UNION SELECT dst, src FROM ttedges),
pr AS MATERIALIZED (SELECT id, ROW_NUMBER() OVER (ORDER BY $h, id) AS rk FROM tn),
adj AS MATERIALIZED (SELECT p.rk, p.id, COALESCE(list(e.dst), CAST([] AS BIGINT[])) AS nbrs
  FROM pr p LEFT JOIN tts e ON e.src = p.id GROUP BY p.rk, p.id),
m0 AS (SELECT CAST([] AS BIGINT[]) AS mis),
$steps
SELECT unnest(mis) AS id FROM m25 ORDER BY id"""
  }

  /** Sequential Jones–Plassmann replay — the coloring twin of
    * [[misSql]]: parallel-list state machine (ids, cols); step r
    * colors node(r) with the mex of its already-colored neighbors.
    * Unrolled for the same DuckDB-stability reason as [[misSql]];
    * the mex is pure list algebra (filter/transform/min), no
    * correlated subqueries. */
  def coloringSql(): String = {
    val h = s"('0x' || substr(md5('mis:' || CAST(id AS VARCHAR)), 1, 15))::BIGINT"
    val steps = (1 to 25).map { r =>
      val p = r - 1
      val used = s"list_transform(list_filter(a.nbrs, nb -> " +
        s"list_contains(c$p.ids, nb)), nb -> c$p.cols[list_position(c$p.ids, nb)])"
      val mex = s"list_min(list_filter(generate_series(CAST(0 AS BIGINT), " +
        s"CAST(len(c$p.ids) AS BIGINT) + 1), i -> NOT list_contains($used, i)))"
      s"""c$r AS (SELECT list_append(c$p.ids, a.id) AS ids,
  list_append(c$p.cols, $mex) AS cols
  FROM c$p CROSS JOIN adj a WHERE a.rk = $r)"""
    }.mkString(",\n")
    s"""WITH ${DerivedGraphs.tradeTopSql()},
tn AS (SELECT ${NationTag * TAG} + CAST(n_nationkey AS BIGINT) AS id FROM nation),
tts AS (SELECT src, dst FROM ttedges UNION SELECT dst, src FROM ttedges),
pr AS MATERIALIZED (SELECT id, ROW_NUMBER() OVER (ORDER BY $h, id) AS rk FROM tn),
adj AS MATERIALIZED (SELECT p.rk, p.id, COALESCE(list(e.dst), CAST([] AS BIGINT[])) AS nbrs
  FROM pr p LEFT JOIN tts e ON e.src = p.id GROUP BY p.rk, p.id),
c0 AS (SELECT CAST([] AS BIGINT[]) AS ids, CAST([] AS BIGINT[]) AS cols),
$steps
SELECT unnest(ids) AS id, unnest(cols) AS color FROM c25 ORDER BY id"""
  }

  /** Unrolled Borůvka on the weighted trade graph, mirroring
    * Spanning.minimumSpanningForest round for round: per round each
    * component's (w, a, b)-least crossing edge joins the forest and
    * components relabel to the min label reachable in the round's
    * merge graph (a recursive-CTE transitive closure — the same min
    * label the kernel's CC pass computes). Components at least halve
    * per round, so `rounds` ≥ ⌈log₂ 25⌉ makes later rounds empty
    * no-ops. The (w, a, b) total order makes the forest unique, so
    * this replay, the driver-gated Kruskal and distributed Borůvka
    * all agree bit-identically. */
  def mstSql(rounds: Int = 6): String = {
    val sb = new StringBuilder("WITH RECURSIVE " + DerivedGraphs.tradeWeightedSql)
    sb ++= """, l0 AS (SELECT DISTINCT id, id AS label FROM
  (SELECT a AS id FROM wtedges UNION ALL SELECT b FROM wtedges))"""
    for (r <- 1 to rounds) {
      val p = r - 1
      sb ++= s""", x$r AS MATERIALIZED (
  SELECT e.a, e.b, e.w, la.label AS la, lb.label AS lb
  FROM wtedges e JOIN l$p la ON la.id = e.a JOIN l$p lb ON lb.id = e.b
  WHERE la.label <> lb.label)"""
      sb ++= s""", ch$r AS MATERIALIZED (
  SELECT c, w, a, b, p FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY c ORDER BY w, a, b) AS rn
    FROM (SELECT la AS c, w, a, b, lb AS p FROM x$r
          UNION ALL SELECT lb, w, a, b, la FROM x$r) s) t
  WHERE rn = 1)"""
      sb ++= s""", mg$r AS (SELECT c AS x, p AS y FROM ch$r
  UNION SELECT p, c FROM ch$r)"""
      sb ++= s""", rc$r AS (SELECT x, y FROM mg$r
  UNION SELECT rc.x, mg.y FROM rc$r rc JOIN mg$r mg ON mg.x = rc.y)"""
      sb ++= s""", l$r AS MATERIALIZED (
  SELECT l.id, COALESCE(n.nl, l.label) AS label
  FROM l$p l LEFT JOIN (
    SELECT x AS label, LEAST(x, MIN(y)) AS nl FROM rc$r GROUP BY x) n
  ON n.label = l.label)"""
      sb ++= s", m$r AS (SELECT DISTINCT a, b, w FROM ch$r)"
    }
    val un = (1 to rounds).map(r => s"SELECT * FROM m$r").mkString(" UNION ALL ")
    sb ++= s"""
SELECT a, b, CAST(w AS BIGINT) AS w FROM ($un) ORDER BY a, b"""
    sb.toString
  }

  /** Modularity mirror: same group-tagged directed-edge aggregates,
    * exact integer sums, one fixed-order double expression. */
  val modularitySql: String =
    s"""WITH ${DerivedGraphs.cooccurSql},
grp AS (SELECT ${PartTag * TAG} + CAST(p_partkey AS BIGINT) AS id,
               p_brand AS g FROM part),
t AS (SELECT gs.g AS gs, gd.g AS gd FROM psym e
      JOIN grp gs ON gs.id = e.src JOIN grp gd ON gd.id = e.dst),
per AS (SELECT gs AS g, CAST(COUNT(*) AS BIGINT) AS dc,
        CAST(COUNT(*) FILTER (WHERE gs = gd) AS BIGINT) AS ein2
        FROM t GROUP BY 1)
SELECT CAST(SUM(dc) / 2 AS BIGINT) AS m,
       ROUND(CAST(SUM(ein2) AS DOUBLE) / SUM(dc)
           - CAST(SUM(dc * dc) AS DOUBLE)
             / (CAST(SUM(dc) AS DOUBLE) * CAST(SUM(dc) AS DOUBLE)), 6) AS q
FROM per"""

  /** Conductance mirror: vol = directed-row count per group over psym,
    * cut = rows whose source-side group differs (counts each crossing
    * undirected edge once per group), φ = cut/min(vol, rest). */
  val conductanceSql: String =
    s"""WITH ${DerivedGraphs.cooccurSql},
grp AS (SELECT ${PartTag * TAG} + CAST(p_partkey AS BIGINT) AS id,
               p_brand AS g FROM part),
t AS (SELECT gs.g AS gs, gd.g AS gd FROM psym e
      JOIN grp gs ON gs.id = e.src JOIN grp gd ON gd.id = e.dst),
per AS (SELECT gs AS g, CAST(COUNT(*) AS BIGINT) AS vol,
        CAST(COUNT(*) FILTER (WHERE gs <> gd) AS BIGINT) AS cut
        FROM t GROUP BY 1),
tot AS (SELECT SUM(vol) AS v2 FROM per)
SELECT g, vol, cut,
       ROUND(CASE WHEN least(vol, v2 - vol) > 0
         THEN CAST(cut AS DOUBLE) / CAST(least(vol, v2 - vol) AS DOUBLE)
       END, 6) AS phi
FROM per CROSS JOIN tot ORDER BY g"""

  /** HyperANF mirror: same 60-bit 'anf:' register hash, unrolled
    * max-merge rounds over the symmetric co-occur graph, and the exact
    * hllSql estimator arithmetic (integer harmonic sum with zero
    * registers at 2^maxRho, linear counting under 2.5·m) — estimates
    * replay bit for bit, register collisions and bias included. */
  def anfSql(rounds: Int, p: Int): String = {
    val m = 1 << p; val maxRho = 61 - p
    val h60 = "('0x' || substr(md5('anf:' || CAST(id AS VARCHAR)), 1, 15))::BIGINT"
    val sb = new StringBuilder(s"WITH ${DerivedGraphs.cooccurSql}")
    sb ++= s""",
hh AS (SELECT id, $h60 AS h FROM pnodes),
r0 AS MATERIALIZED (SELECT id, h % $m AS bucket,
  CASE WHEN h >> $p = 0 THEN $maxRho
       ELSE $maxRho - length(bin(h >> $p)) END AS mr FROM hh)"""
    for (k <- 1 to rounds)
      sb ++= s""",
r$k AS MATERIALIZED (SELECT id, bucket, MAX(mr) AS mr FROM (
  SELECT id, bucket, mr FROM r${k - 1}
  UNION ALL SELECT e.dst AS id, x.bucket, x.mr
  FROM r${k - 1} x JOIN psym e ON e.src = x.id) GROUP BY 1, 2)"""
    val raw = s"0.7213 / (1.0 + 1.079 / $m.0) * $m.0 * $m.0 * " +
      s"pow(2.0, $maxRho.0) / CAST(s AS DOUBLE)"
    for (k <- 0 to rounds)
      sb ++= s""",
e$k AS (SELECT id,
  SUM(CAST(1 AS BIGINT) << ($maxRho - mr))
    + ($m - COUNT(*)) * (CAST(1 AS BIGINT) << $maxRho) AS s,
  $m - COUNT(*) AS v FROM r$k GROUP BY id),
n$k AS (SELECT CAST($k AS BIGINT) AS r,
  ROUND(SUM(ROUND(CASE WHEN $raw <= ${2.5 * m} AND v > 0
    THEN $m.0 * ln($m.0 / CAST(v AS DOUBLE)) ELSE $raw END, 4)), 2) AS nf
  FROM e$k)"""
    val un = (0 to rounds).map(k => s"SELECT * FROM n$k").mkString(" UNION ALL ")
    sb ++= s"\nSELECT * FROM ($un) ORDER BY r"
    sb.toString
  }

  /** Unrolled Katz centrality on the trade-top graph: b ← 1 + α·Aᵀb
    * from b = 1, mirroring Centrality.katz op for op (left-join
    * coalesce for in-degree-0 nodes, 8-dp round only on output). */
  def katzSql(iters: Int, alpha: Double): String = {
    val sb = new StringBuilder(s"WITH ${DerivedGraphs.tradeTopSql()}")
    sb ++= s", tn AS (SELECT ${NationTag * TAG} + CAST(n_nationkey AS BIGINT) AS id FROM nation)"
    sb ++= ", x0 AS (SELECT id, CAST(1.0 AS DOUBLE) AS x FROM tn)"
    for (i <- 1 to iters) {
      sb ++= s""", x$i AS MATERIALIZED (
  SELECT tn.id, 1.0 + CAST($alpha AS DOUBLE) * COALESCE(s.v, 0.0) AS x
  FROM tn LEFT JOIN (
    SELECT e.dst AS id, SUM(p.x) AS v
    FROM ttedges e JOIN x${i - 1} p ON p.id = e.src GROUP BY e.dst) s
  ON s.id = tn.id)"""
    }
    sb ++= s" SELECT id, ROUND(x, 8) AS katz FROM x$iters ORDER BY id"
    sb.toString
  }

  /** Unrolled eigenvector-centrality power iteration on the trade-top
    * graph, mirroring Centrality.eigenvector op for op (in-edge sum,
    * L2 normalizer over the raw aggregate, left-join coalesce, 8-dp
    * round on output). */
  def eigenvectorSql(iters: Int): String = {
    val sb = new StringBuilder(s"WITH ${DerivedGraphs.tradeTopSql()}")
    sb ++= s", tn AS (SELECT ${NationTag * TAG} + CAST(n_nationkey AS BIGINT) AS id FROM nation)"
    sb ++= ", x0 AS (SELECT id, 1.0 / (SELECT COUNT(*) FROM tn) AS x FROM tn)"
    for (i <- 1 to iters) {
      sb ++= s""", r$i AS MATERIALIZED (
  SELECT e.dst AS id, SUM(p.x) AS v
  FROM ttedges e JOIN x${i - 1} p ON p.id = e.src GROUP BY e.dst)"""
      sb ++= s", n$i AS (SELECT sqrt(SUM(v * v)) AS nrm FROM r$i)"
      sb ++= s""", x$i AS MATERIALIZED (
  SELECT tn.id, COALESCE(r.v, 0.0) / (SELECT nrm FROM n$i) AS x
  FROM tn LEFT JOIN r$i r ON r.id = tn.id)"""
    }
    sb ++= s" SELECT id, ROUND(x, 8) AS eig FROM x$iters ORDER BY id"
    sb.toString
  }

  /** Unrolled SimRank on the trade-top graph, mirroring
    * SimRank.simRank iteration for iteration (identity diagonal,
    * in-neighbor pair sums, same c·Σ/(da·db) operator order, 6-dp
    * round only on output). */
  def simRankSql(iters: Int, c: Double): String = {
    val sb = new StringBuilder(s"WITH ${DerivedGraphs.tradeTopSql()}")
    sb ++= s", tn AS (SELECT ${NationTag * TAG} + CAST(n_nationkey AS BIGINT) AS id FROM nation)"
    sb ++= ", indeg AS MATERIALIZED (SELECT dst AS id, COUNT(*) AS d FROM ttedges GROUP BY 1)"
    sb ++= ", ap AS MATERIALIZED (SELECT a.id AS a, b.id AS b FROM tn a CROSS JOIN tn b)"
    sb ++= ", s0 AS (SELECT a, b, CASE WHEN a = b THEN 1.0 ELSE 0.0 END AS s FROM ap)"
    for (k <- 1 to iters) {
      sb ++= s""", c$k AS MATERIALIZED (
  SELECT ea.dst AS a, eb.dst AS b, $c * SUM(p.s) / (da.d * db.d) AS v
  FROM s${k - 1} p JOIN ttedges ea ON ea.src = p.a JOIN ttedges eb ON eb.src = p.b
  JOIN indeg da ON da.id = ea.dst JOIN indeg db ON db.id = eb.dst
  WHERE p.s <> 0.0
  GROUP BY ea.dst, eb.dst, da.d, db.d)"""
      sb ++= s""", s$k AS MATERIALIZED (
  SELECT ap.a, ap.b, CASE WHEN ap.a = ap.b THEN 1.0 ELSE COALESCE(c$k.v, 0.0) END AS s
  FROM ap LEFT JOIN c$k ON c$k.a = ap.a AND c$k.b = ap.b)"""
    }
    sb ++= s" SELECT a, b, ROUND(s, 6) AS sim FROM s$iters ORDER BY a, b"
    sb.toString
  }

  /** Unrolled DAG longest-path relaxation on the weighted trade graph
    * oriented small-id → large-id (LEAST/GREATEST makes it acyclic by
    * construction), mirroring Dag.longestPaths round for round: every
    * node seeded at 0, per-round incoming max-relax, idempotent past
    * the fixpoint so a fixed `rounds` unroll equals Spark's
    * converge-early loop. Unit weights when !weighted (topo layers). */
  /** Neighborhood-subgraph mirror: k-hop BFS ball from the root over
    * the trade-top graph, then the induced distinct edge set. */
  def subgraphSql(rootKey: Long, hops: Int): String = {
    val sb = new StringBuilder(s"WITH ${DerivedGraphs.tradeTopSql()}")
    sb ++= s", v0 AS (SELECT ${NationTag * TAG + rootKey} AS id)"
    for (i <- 1 to hops) {
      sb ++= s", v$i AS MATERIALIZED (SELECT id FROM v${i - 1}" +
        s" UNION SELECT e.dst FROM ttedges e JOIN v${i - 1} v ON v.id = e.src)"
    }
    sb ++= s""" SELECT DISTINCT e.src, e.dst
FROM ttedges e JOIN v$hops a ON a.id = e.src JOIN v$hops b ON b.id = e.dst
ORDER BY e.src, e.dst"""
    sb.toString
  }

  /** Circle-layout mirror: same id-ordered ring arithmetic (radius
    * spacing·n/2π, angle 2πi/n) — pi()/cos/sin are IEEE in both
    * engines, round-6 like every float oracle. */
  def circleLayoutSql(width: Double, height: Double, spacing: Double): String =
    s"""WITH tn AS (SELECT ${NationTag * TAG} + CAST(n_nationkey AS BIGINT) AS id FROM nation),
o AS (SELECT id,
  CAST(ROW_NUMBER() OVER (ORDER BY id) AS DOUBLE) - 1 AS i,
  CAST((SELECT COUNT(*) FROM tn) AS DOUBLE) AS n FROM tn)
SELECT id,
  ROUND(${width / 2} + ($spacing * n / (2 * pi())) * cos(2 * pi() * i / n), 6) AS x,
  ROUND(${height / 2} + ($spacing * n / (2 * pi())) * sin(2 * pi() * i / n), 6) AS y
FROM o ORDER BY id"""

  /** Hierarchical-layout mirror: multi-source BFS min depth from the
    * in-degree-0 roots of the weighted trade DAG (unrolled levels,
    * the eccentricity-oracle pattern), then the same per-layer
    * id-ranked position arithmetic. */
  def hierarchicalLayoutSql(maxDepth: Int, width: Double, spacing: Double,
                            layerSpacing: Double): String = {
    val sb = new StringBuilder(s"WITH ${DerivedGraphs.tradeWeightedSql}")
    sb ++= s", tn AS (SELECT ${NationTag * TAG} + CAST(n_nationkey AS BIGINT) AS id FROM nation)"
    sb ++= ", f0 AS (SELECT id FROM tn WHERE NOT EXISTS (SELECT 1 FROM wtedges e WHERE e.b = tn.id))"
    sb ++= ", v0 AS (SELECT * FROM f0)"
    for (i <- 1 to maxDepth) {
      sb ++= s", f$i AS MATERIALIZED (SELECT DISTINCT e.b AS id" +
        s" FROM f${i - 1} f JOIN wtedges e ON e.a = f.id" +
        s" WHERE NOT EXISTS (SELECT 1 FROM v${i - 1} x WHERE x.id = e.b))"
      sb ++= s", v$i AS MATERIALIZED (SELECT * FROM v${i - 1} UNION ALL SELECT * FROM f$i)"
    }
    sb ++= ", lv AS (SELECT id, CAST(0 AS BIGINT) AS layer FROM f0 " +
      (1 to maxDepth).map(i =>
        s"UNION ALL SELECT id, CAST($i AS BIGINT) FROM f$i").mkString(" ") + ")"
    sb ++= """, lay AS (SELECT tn.id, COALESCE(lv.layer, 0) AS layer
 FROM tn LEFT JOIN lv ON lv.id = tn.id)"""
    sb ++= s""", rk AS (SELECT id, layer,
  CAST(ROW_NUMBER() OVER (PARTITION BY layer ORDER BY id) AS DOUBLE) - 1 AS i,
  CAST(COUNT(*) OVER (PARTITION BY layer) AS DOUBLE) AS sz FROM lay)
SELECT id, layer,
  ROUND(${width / 2} + (i - sz / 2.0) * $spacing, 6) AS x,
  ROUND(50.0 + CAST(layer AS DOUBLE) * $layerSpacing, 6) AS y
FROM rk ORDER BY id"""
    sb.toString
  }

  def dagLongestSql(weighted: Boolean, rounds: Int): String = {
    val w = if (weighted) "e.w" else "1"
    val outCol = if (weighted) "cost" else "layer"
    val sb = new StringBuilder(s"WITH ${DerivedGraphs.tradeWeightedSql}")
    sb ++= s", tn AS (SELECT ${NationTag * TAG} + CAST(n_nationkey AS BIGINT) AS id FROM nation)"
    sb ++= ", d0 AS (SELECT id, CAST(0 AS BIGINT) AS dist FROM tn)"
    for (i <- 1 to rounds) {
      sb ++= s""", d$i AS MATERIALIZED (
 SELECT d.id, CAST(GREATEST(d.dist, COALESCE(c.cd, d.dist)) AS BIGINT) AS dist
 FROM d${i - 1} d LEFT JOIN (
   SELECT e.b AS id, MAX(p.dist + $w) AS cd
   FROM wtedges e JOIN d${i - 1} p ON p.id = e.a GROUP BY e.b) c ON c.id = d.id)"""
    }
    sb ++= s" SELECT id, dist AS $outCol FROM d$rounds ORDER BY id"
    sb.toString
  }

  /** Square-census mirror: wedge self-join on the center vertex over
    * the symmetric co-occurrence view, ¼·Σ cn(cn−1) closed form. */
  val squareCountSql: String =
    s"""WITH ${graft.graph.DerivedGraphs.tradeTopSql()},
pe AS (SELECT DISTINCT LEAST(src, dst) AS a, GREATEST(src, dst) AS b
  FROM ttedges WHERE src <> dst),
psq AS (SELECT a AS src, b AS dst FROM pe UNION ALL SELECT b, a FROM pe),
cn AS (SELECT e1.dst AS u, e2.dst AS w, COUNT(*) AS cn
  FROM psq e1 JOIN psq e2 ON e1.src = e2.src AND e1.dst < e2.dst
  GROUP BY 1, 2)
SELECT CAST(SUM(cn * (cn - 1)) // 4 AS BIGINT) AS squares,
  CAST(MAX(cn) AS BIGINT) AS max_cn,
  CAST(SUM(CASE WHEN cn >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS linked_pairs
FROM cn"""

  /** Hub-capped square-census mirror: same wedge close on the induced
    * degree ≤ cap subgraph, plus the excluded-hub count. */
  def squareCountCappedSql(cap: Long): String =
    s"""WITH ${graft.graph.DerivedGraphs.tradeTopSql()},
pe AS (SELECT DISTINCT LEAST(src, dst) AS a, GREATEST(src, dst) AS b
  FROM ttedges WHERE src <> dst),
psq AS (SELECT a AS src, b AS dst FROM pe UNION ALL SELECT b, a FROM pe),
dg AS (SELECT src, COUNT(*) AS deg FROM psq GROUP BY 1),
kept AS (SELECT src FROM dg WHERE deg <= $cap),
e AS (SELECT src, dst FROM psq
  WHERE src IN (SELECT src FROM kept) AND dst IN (SELECT src FROM kept)),
cn AS (SELECT e1.dst AS u, e2.dst AS w, COUNT(*) AS cn
  FROM e e1 JOIN e e2 ON e1.src = e2.src AND e1.dst < e2.dst
  GROUP BY 1, 2),
s AS (SELECT CAST(COALESCE(SUM(cn * (cn - 1)), 0) AS BIGINT) AS s4,
  CAST(COALESCE(MAX(cn), 0) AS BIGINT) AS max_cn,
  CAST(COALESCE(SUM(CASE WHEN cn >= 2 THEN 1 ELSE 0 END), 0) AS BIGINT)
    AS linked_pairs FROM cn),
h AS (SELECT CAST(COALESCE(SUM(CASE WHEN deg > $cap THEN 1 ELSE 0 END), 0)
    AS BIGINT) AS n_hubs_excluded FROM dg)
SELECT CAST(s4 // 4 AS BIGINT) AS squares, s.max_cn, s.linked_pairs,
  h.n_hubs_excluded, CAST($cap AS BIGINT) AS max_deg
FROM s CROSS JOIN h"""

  /** Degree-distribution summary mirror: same degree-class entropy and
    * density closed forms. */
  val graphEntropySql: String =
    s"""WITH ${graft.graph.DerivedGraphs.cooccurSql},
dg AS (SELECT src, COUNT(*) AS deg FROM psym GROUP BY 1),
cls AS (SELECT deg, COUNT(*) AS n_k FROM dg GROUP BY 1),
t AS (SELECT CAST(COUNT(*) AS BIGINT) AS n,
  CAST(SUM(deg) AS BIGINT) AS sum_deg FROM dg),
h AS (SELECT SUM(-(CAST(n_k AS DOUBLE) / t.n) *
    ln(CAST(n_k AS DOUBLE) / t.n)) AS h FROM cls CROSS JOIN t)
SELECT t.n AS n_nodes, CAST(t.sum_deg // 2 AS BIGINT) AS n_edges,
  ROUND(CAST(sum_deg AS DOUBLE) / CAST(n AS DOUBLE), 6) AS mean_deg,
  ROUND(CAST(sum_deg AS DOUBLE) /
    (CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) - 1.0)), 6) AS density,
  ROUND(h.h, 6) AS degree_entropy
FROM t CROSS JOIN h"""
}
