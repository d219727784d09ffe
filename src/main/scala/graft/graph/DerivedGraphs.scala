package graft.graph

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Derived graphs for the algorithm suite. The raw TPC-H graph is a
  * multipartite DAG (no cycles, no triangles), so cycle/triangle-sensitive
  * algorithms (SCC, triangle count, k-core, Louvain) run on graphs derived
  * from it — the same construction is mirrored as DuckDB CTE preambles so
  * the oracle computes on identical inputs.
  *
  * Scale notes: the part co-occurrence pairs shuffle lineitem once on
  * l_orderkey (the groupBy) and the pair explosion is bounded per order
  * (~4 items/order → ~6 pairs); it never goes cartesian. The nation
  * trade graph reduces the big fact join down to a |nation|² table
  * before thresholding.
  */
object DerivedGraphs {
  import GraphBuilder.{TAG, NationTag, OrderTag, PartTag, table}

  /** Directed nation "trade" graph: supplier-nation → customer-nation, one
    * candidate edge per (sn, cn) pair, kept when its lineitem count exceeds
    * 1.5× the mean pair count (sparsifies a complete 25×25 graph into one
    * with nontrivial SCC structure at every SF, scale-invariantly). */
  def nationTrade(s: SparkSession, d: String): DataFrame =
    Memo(s, d, "trade") {
      val li = table(s, d, "lineitem").select("l_suppkey", "l_orderkey")
      val supp = table(s, d, "supplier").select("s_suppkey", "s_nationkey")
      val ord = table(s, d, "orders").select("o_orderkey", "o_custkey")
      val cust = table(s, d, "customer").select("c_custkey", "c_nationkey")
      val trade = li
        .join(supp, li("l_suppkey") === supp("s_suppkey"))
        .join(ord, li("l_orderkey") === ord("o_orderkey"))
        .join(cust, ord("o_custkey") === cust("c_custkey"))
        .groupBy(
          (lit(NationTag * TAG) + col("s_nationkey")).as("src"),
          (lit(NationTag * TAG) + col("c_nationkey")).as("dst"))
        .agg(count(lit(1)).as("cnt"))
      val avgCnt = trade.agg(avg(col("cnt")).as("avg_cnt"))
      trade.crossJoin(broadcast(avgCnt))
        .filter(col("cnt") > lit(1.5) * col("avg_cnt"))
        .select("src", "dst").persist()
    }

  /** Denser deterministic variant for the visit-order/path kernels
    * (DFS, A*): every nation keeps its `perSrc` busiest self-loop-free
    * outgoing trade pairs (cnt desc, dst tiebreak). The 1.5×-mean gate
    * above goes EMPTY at sf0.1 (the pair counts concentrate near the
    * mean) and a global top-k can strand the traversal root, which
    * made the DFS/A* oracle checks vacuous; a per-source rank keeps
    * every nation connected outward at every SF. The rank runs over
    * the ≤625-row aggregated pair table. */
  def nationTradeTop(s: SparkSession, d: String, perSrc: Int = 3): DataFrame =
    Memo(s, d, "tradeTop", perSrc) {
      val li = table(s, d, "lineitem").select("l_suppkey", "l_orderkey")
      val supp = table(s, d, "supplier").select("s_suppkey", "s_nationkey")
      val ord = table(s, d, "orders").select("o_orderkey", "o_custkey")
      val cust = table(s, d, "customer").select("c_custkey", "c_nationkey")
      val w = org.apache.spark.sql.expressions.Window.partitionBy("src")
        .orderBy(col("cnt").desc, col("dst").asc)
      li.join(supp, li("l_suppkey") === supp("s_suppkey"))
        .join(ord, li("l_orderkey") === ord("o_orderkey"))
        .join(cust, ord("o_custkey") === cust("c_custkey"))
        .groupBy(
          (lit(NationTag * TAG) + col("s_nationkey")).as("src"),
          (lit(NationTag * TAG) + col("c_nationkey")).as("dst"))
        .agg(count(lit(1)).as("cnt"))
        .filter(col("src") =!= col("dst"))
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") <= perSrc)
        .select("src", "dst").persist()
    }

  /** All 25 nation node ids (trade-graph vertex set — isolated nations
    * included, as the reference runs algorithms over all stored nodes). */
  def tradeNodes(s: SparkSession, d: String): DataFrame =
    table(s, d, "nation")
      .select((lit(NationTag * TAG) + col("n_nationkey")).as("id"))

  /** Full DIRECTED weighted trade aggregate (src, dst, cnt) — the
    * pre-threshold pair table the sparsified [[nationTrade]] filters;
    * exposed for weight-aware kernels (weighted PageRank). */
  def nationTradeAll(s: SparkSession, d: String): DataFrame =
    Memo(s, d, "tradeAll") {
      val li = table(s, d, "lineitem").select("l_suppkey", "l_orderkey")
      val supp = table(s, d, "supplier").select("s_suppkey", "s_nationkey")
      val ord = table(s, d, "orders").select("o_orderkey", "o_custkey")
      val cust = table(s, d, "customer").select("c_custkey", "c_nationkey")
      li.join(supp, li("l_suppkey") === supp("s_suppkey"))
        .join(ord, li("l_orderkey") === ord("o_orderkey"))
        .join(cust, ord("o_custkey") === cust("c_custkey"))
        .groupBy(
          (lit(NationTag * TAG) + col("s_nationkey")).as("src"),
          (lit(NationTag * TAG) + col("c_nationkey")).as("dst"))
        .agg(count(lit(1)).as("cnt")).persist()
    }

  /** Undirected WEIGHTED trade graph: one (a < b, w) edge per
    * unordered nation pair, w = total lineitem count across both
    * directions (grouping the fact join directly on the unordered pair
    * — one aggregation, no directed intermediate). The spanning-forest
    * testbed: complete-ish, weight-diverse, 25 nodes at every SF. */
  def nationTradeWeighted(s: SparkSession, d: String): DataFrame =
    Memo(s, d, "tradeW") {
      val li = table(s, d, "lineitem").select("l_suppkey", "l_orderkey")
      val supp = table(s, d, "supplier").select("s_suppkey", "s_nationkey")
      val ord = table(s, d, "orders").select("o_orderkey", "o_custkey")
      val cust = table(s, d, "customer").select("c_custkey", "c_nationkey")
      val sid = lit(NationTag * TAG) + col("s_nationkey")
      val cid = lit(NationTag * TAG) + col("c_nationkey")
      li.join(supp, li("l_suppkey") === supp("s_suppkey"))
        .join(ord, li("l_orderkey") === ord("o_orderkey"))
        .join(cust, ord("o_custkey") === cust("c_custkey"))
        .filter(col("s_nationkey") =!= col("c_nationkey"))
        .groupBy(least(sid, cid).as("a"), greatest(sid, cid).as("b"))
        .agg(count(lit(1)).cast("long").as("w")).persist()
    }

  /** Part co-occurrence multigraph: one (a<b) row per order containing
    * both parts (edge multiplicity = co-order count). Generated as a
    * per-order pair expansion of the grouped partkey list — one shuffle
    * (the groupBy) and a map-side explode of ≤ C(items,2) structs per
    * order — instead of a lineitem self-join, which pays a second join
    * probe over the full table for the same multiset (equal-partkey row
    * pairs are excluded by `<` in both formulations). Order sizes are
    * bounded (TPC-H: ≤ 7 lineitems), so the per-order array is tiny;
    * on a skewed real corpus this would need a per-group size cap. */
  def partCooccurAll(s: SparkSession, d: String): DataFrame =
    Memo(s, d, "coAll") {
      table(s, d, "lineitem").select("l_orderkey", "l_partkey")
        .groupBy("l_orderkey").agg(collect_list("l_partkey").as("ps"))
        .select(explode(expr(
          """flatten(transform(ps, (x, i) ->
            |  transform(slice(ps, i + 2, size(ps) - i - 1), y ->
            |    struct(least(x, y) AS lo, greatest(x, y) AS hi))))"""
            .stripMargin)).as("p"))
        .filter(col("p.lo") =!= col("p.hi"))
        .select(
          (lit(PartTag * TAG) + col("p.lo")).as("a"),
          (lit(PartTag * TAG) + col("p.hi")).as("b")).persist()
    }

  /** Simple (deduplicated) co-occurrence graph, oriented a < b. */
  def partCooccur(s: SparkSession, d: String): DataFrame =
    Memo(s, d, "co")(partCooccurAll(s, d).distinct().persist())

  /** Symmetric (both-direction) view of an (a,b) pair table. */
  def sym(pairs: DataFrame): DataFrame =
    pairs.select(col("a").as("src"), col("b").as("dst"))
      .unionByName(pairs.select(col("b").as("src"), col("a").as("dst")))

  /** Directed order-ring graph over ALL orders (~600× the 25-node trade
    * graph at sf0.01): the first min(n, 8) orders of each customer (by
    * orderdate, orderkey tiebreak) form one directed cycle; every other
    * order is isolated. SCC structure is known by construction — one
    * ring SCC per customer with ≥2 ranked orders, singletons elsewhere —
    * which makes it the scale testbed for the SCC kernel: cycle length is
    * bounded (≤8) so coloring converges in a fixed number of rounds no
    * matter the row count. One shuffle for the rank window, one
    * self-join on (custkey, rank) for the ring closure. */
  def orderRing(s: SparkSession, d: String): DataFrame =
    Memo(s, d, "oring") {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy("o_custkey").orderBy(col("o_orderdate"), col("o_orderkey"))
      // rn and the per-customer ring length share one window shuffle
      // (unbounded max over the same partitioning, no extra exchange).
      val ranked = table(s, d, "orders").select("o_orderkey", "o_custkey", "o_orderdate")
        .withColumn("rn", row_number().over(w)).filter(col("rn") <= 8)
        .select(col("o_custkey").as("ck"), col("o_orderkey").as("ok"), col("rn"))
        .withColumn("m", max("rn").over(Window.partitionBy("ck"))).filter(col("m") >= 2)
      ranked.select(col("ck"), (col("rn") % col("m") + 1).as("rn2"), col("ok").as("sok"))
        .join(ranked.select(col("ck"), col("rn").as("rn2"), col("ok").as("dok")),
          Seq("ck", "rn2"))
        .select((lit(OrderTag * TAG) + col("sok")).as("src"),
          (lit(OrderTag * TAG) + col("dok")).as("dst")).persist()
    }

  /** All order node ids (ring-graph vertex set, isolated orders included). */
  def orderRingNodes(s: SparkSession, d: String): DataFrame =
    table(s, d, "orders")
      .select((lit(OrderTag * TAG) + col("o_orderkey")).as("id"))

  // ---- DuckDB mirrors ----

  /** CTEs: trade(src,dst,cnt), tedges(src,dst), tnodes(id). */
  val tradeSql: String =
    s"""trade AS MATERIALIZED (
  SELECT ${NationTag * TAG} + CAST(s.s_nationkey AS BIGINT) AS src,
         ${NationTag * TAG} + CAST(c.c_nationkey AS BIGINT) AS dst,
         COUNT(*) AS cnt
  FROM lineitem l
  JOIN supplier s ON l.l_suppkey = s.s_suppkey
  JOIN orders o ON l.l_orderkey = o.o_orderkey
  JOIN customer c ON o.o_custkey = c.c_custkey
  GROUP BY 1, 2),
tedges AS MATERIALIZED (SELECT src, dst FROM trade WHERE cnt > 1.5 * (SELECT AVG(cnt) FROM trade)),
tnodes AS MATERIALIZED (SELECT ${NationTag * TAG} + CAST(n_nationkey AS BIGINT) AS id FROM nation)"""

  /** Mirror of [[nationTradeWeighted]]: `wtedges(a, b, w)`. */
  val tradeWeightedSql: String =
    s"""wtedges AS MATERIALIZED (
  SELECT LEAST(${NationTag * TAG} + CAST(s.s_nationkey AS BIGINT),
               ${NationTag * TAG} + CAST(c.c_nationkey AS BIGINT)) AS a,
         GREATEST(${NationTag * TAG} + CAST(s.s_nationkey AS BIGINT),
                  ${NationTag * TAG} + CAST(c.c_nationkey AS BIGINT)) AS b,
         COUNT(*) AS w
  FROM lineitem l
  JOIN supplier s ON l.l_suppkey = s.s_suppkey
  JOIN orders o ON l.l_orderkey = o.o_orderkey
  JOIN customer c ON o.o_custkey = c.c_custkey
  WHERE s.s_nationkey <> c.c_nationkey
  GROUP BY 1, 2)"""

  /** Mirror of [[nationTradeTop]]: `ttedges(src, dst)` as each
    * nation's top-`perSrc` self-loop-free outgoing trade pairs. */
  def tradeTopSql(perSrc: Int = 3): String =
    s"""trade AS MATERIALIZED (
  SELECT ${NationTag * TAG} + CAST(s.s_nationkey AS BIGINT) AS src,
         ${NationTag * TAG} + CAST(c.c_nationkey AS BIGINT) AS dst,
         COUNT(*) AS cnt
  FROM lineitem l
  JOIN supplier s ON l.l_suppkey = s.s_suppkey
  JOIN orders o ON l.l_orderkey = o.o_orderkey
  JOIN customer c ON o.o_custkey = c.c_custkey
  GROUP BY 1, 2),
ttedges AS MATERIALIZED (
  SELECT src, dst FROM (
    SELECT src, dst,
           ROW_NUMBER() OVER (PARTITION BY src ORDER BY cnt DESC, dst ASC) AS rn
    FROM trade WHERE src <> dst) t
  WHERE rn <= $perSrc)"""

  /** CTEs: pedges(a,b) simple oriented, psym(src,dst), pnodes(id). */
  val cooccurSql: String =
    s"""pedges AS MATERIALIZED (
  SELECT DISTINCT ${PartTag * TAG} + CAST(l1.l_partkey AS BIGINT) AS a,
                  ${PartTag * TAG} + CAST(l2.l_partkey AS BIGINT) AS b
  FROM lineitem l1 JOIN lineitem l2
    ON l1.l_orderkey = l2.l_orderkey AND l1.l_partkey < l2.l_partkey),
psym AS MATERIALIZED (SELECT a AS src, b AS dst FROM pedges UNION ALL SELECT b, a FROM pedges),
pnodes AS MATERIALIZED (SELECT DISTINCT src AS id FROM psym)"""

  /** CTEs: oredges(src,dst) order-ring edges, ornodes(id). */
  val orderRingSql: String =
    s"""ornk AS MATERIALIZED (
  SELECT o_orderkey AS ok, o_custkey AS ck,
         ROW_NUMBER() OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey) AS rn
  FROM orders),
oring0 AS (SELECT * FROM ornk WHERE rn <= 8),
om AS (SELECT ck, MAX(rn) AS m FROM oring0 GROUP BY ck),
oredges AS MATERIALIZED (
  SELECT ${OrderTag * TAG} + CAST(a.ok AS BIGINT) AS src,
         ${OrderTag * TAG} + CAST(b.ok AS BIGINT) AS dst
  FROM oring0 a JOIN om ON om.ck = a.ck AND om.m >= 2
  JOIN oring0 b ON b.ck = a.ck AND b.rn = a.rn % om.m + 1),
ornodes AS (SELECT ${OrderTag * TAG} + CAST(o_orderkey AS BIGINT) AS id FROM orders)"""

  /** CTEs: pall(a,b) multigraph, psymall(src,dst). */
  val cooccurAllSql: String =
    s"""pall AS MATERIALIZED (
  SELECT ${PartTag * TAG} + CAST(l1.l_partkey AS BIGINT) AS a,
         ${PartTag * TAG} + CAST(l2.l_partkey AS BIGINT) AS b
  FROM lineitem l1 JOIN lineitem l2
    ON l1.l_orderkey = l2.l_orderkey AND l1.l_partkey < l2.l_partkey),
psymall AS MATERIALIZED (SELECT a AS src, b AS dst FROM pall UNION ALL SELECT b, a FROM pall)"""
}
