package graft.graph

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Builds the demo property graph from the driver's TPC-H-ish parquet
  * tables, mirroring how the reference's examples build a graph from
  * application data (reference: examples/, src/graph/db.rs create_node /
  * create_rel). The same construction is emitted as a DuckDB SQL
  * preamble so every oracle query computes on an identical graph.
  *
  * Node id space: id = TAG(label) * 10^14 + natural key. TPC-H keys stay
  * far below 10^14 even at SF 100k (orderkey ≈ 2.4e12), so the spaces
  * never collide and the arithmetic is exact in both engines' BIGINTs.
  */
object GraphBuilder {
  val TAG: Long = 100000000000000L // 10^14
  val RegionTag = 1L; val NationTag = 2L; val CustomerTag = 3L
  val SupplierTag = 4L; val PartTag = 5L; val OrderTag = 6L

  def table(spark: SparkSession, dir: String, name: String): DataFrame = {
    // Idempotent native-function registration at the data entry point:
    // guarantees graft_hash60/array_cosine resolve on THIS session (not
    // just whichever session is thread-active when a Column is built —
    // they can differ under spark.newSession()). Clusters set
    // spark.sql.extensions=graft.sql.GraftExtensions instead.
    graft.sql.Hash60.register(spark)
    graft.sql.ArrayCosine.register(spark)
    spark.read.parquet(s"$dir/$name.parquet")
  }

  /** Persist/restore a graph as parquet — the Spark-native analogue of
    * the reference's storage engines (mem/sled/hybrid): durable tables,
    * with the edge table re-partitioned by src on load so traversals
    * start co-located, same as a fresh build. */
  def save(graph: PropertyGraph, path: String): Unit = {
    graph.nodes.write.mode("overwrite").parquet(s"$path/nodes")
    graph.edges.write.mode("overwrite").parquet(s"$path/edges")
  }

  def load(spark: SparkSession, path: String): PropertyGraph =
    PropertyGraph(
      spark.read.parquet(s"$path/nodes"),
      spark.read.parquet(s"$path/edges").repartition(col("src")))

  /** Memoized per (session, dir): Verify/Bench run many queries against
    * the same sfDir; building + persisting once keeps the scan cost out
    * of every query. */
  def tpch(spark: SparkSession, dir: String): PropertyGraph =
    Memo(spark, dir, "tpch")(build(spark, dir).persist())

  private def nullL = lit(null).cast("bigint")
  private def nullD = lit(null).cast("double")
  private def nullS = lit(null).cast("string")

  private def build(spark: SparkSession, dir: String): PropertyGraph = {
    def t(n: String) = table(spark, dir, n)

    val region = t("region").select(
      (lit(RegionTag * TAG) + col("r_regionkey")).as("id"),
      lit("Region").as("label"), col("r_name").as("name"),
      nullL.as("nationkey"), nullD.as("acctbal"), nullS.as("mktsegment"),
      nullS.as("brand"), nullS.as("ptype"), nullL.as("psize"),
      nullD.as("retailprice"), nullS.as("orderstatus"),
      nullD.as("totalprice"), nullS.as("orderpriority"))

    val nation = t("nation").select(
      (lit(NationTag * TAG) + col("n_nationkey")).as("id"),
      lit("Nation").as("label"), col("n_name").as("name"),
      nullL.as("nationkey"), nullD.as("acctbal"), nullS.as("mktsegment"),
      nullS.as("brand"), nullS.as("ptype"), nullL.as("psize"),
      nullD.as("retailprice"), nullS.as("orderstatus"),
      nullD.as("totalprice"), nullS.as("orderpriority"))

    val customer = t("customer").select(
      (lit(CustomerTag * TAG) + col("c_custkey")).as("id"),
      lit("Customer").as("label"), col("c_name").as("name"),
      col("c_nationkey").cast("bigint").as("nationkey"),
      col("c_acctbal").as("acctbal"), col("c_mktsegment").as("mktsegment"),
      nullS.as("brand"), nullS.as("ptype"), nullL.as("psize"),
      nullD.as("retailprice"), nullS.as("orderstatus"),
      nullD.as("totalprice"), nullS.as("orderpriority"))

    val supplier = t("supplier").select(
      (lit(SupplierTag * TAG) + col("s_suppkey")).as("id"),
      lit("Supplier").as("label"), col("s_name").as("name"),
      col("s_nationkey").cast("bigint").as("nationkey"),
      col("s_acctbal").as("acctbal"), nullS.as("mktsegment"),
      nullS.as("brand"), nullS.as("ptype"), nullL.as("psize"),
      nullD.as("retailprice"), nullS.as("orderstatus"),
      nullD.as("totalprice"), nullS.as("orderpriority"))

    val part = t("part").select(
      (lit(PartTag * TAG) + col("p_partkey")).as("id"),
      lit("Part").as("label"), col("p_name").as("name"),
      nullL.as("nationkey"), nullD.as("acctbal"), nullS.as("mktsegment"),
      col("p_brand").as("brand"), col("p_type").as("ptype"),
      col("p_size").cast("bigint").as("psize"),
      col("p_retailprice").as("retailprice"), nullS.as("orderstatus"),
      nullD.as("totalprice"), nullS.as("orderpriority"))

    // LIST-VALUED property (values/value.rs:11 Value::List → an array
    // column): each Order node carries the sorted distinct Part NODE ids
    // it contains — one key-partitioned lineitem aggregation at build
    // time, bounded per order (≤7 lineitems in TPC-H), sort_array for a
    // deterministic element order both engines agree on.
    val orderParts = t("lineitem")
      .groupBy((lit(OrderTag * TAG) + col("l_orderkey")).as("id"))
      .agg(sort_array(collect_set(
        (lit(PartTag * TAG) + col("l_partkey")).cast("bigint")))
        .as("partkeys"))

    val order = t("orders").select(
      (lit(OrderTag * TAG) + col("o_orderkey")).as("id"),
      lit("Order").as("label"),
      concat(lit("O"), col("o_orderkey").cast("string")).as("name"),
      nullL.as("nationkey"), nullD.as("acctbal"), nullS.as("mktsegment"),
      nullS.as("brand"), nullS.as("ptype"), nullL.as("psize"),
      nullD.as("retailprice"), col("o_orderstatus").as("orderstatus"),
      col("o_totalprice").as("totalprice"),
      col("o_orderpriority").as("orderpriority"))
      .join(orderParts, Seq("id"), "left_outer")

    val nullA = lit(null).cast("array<bigint>")
    val nodes = Seq(region, nation, customer, supplier, part)
      .map(_.withColumn("partkeys", nullA))
      .reduce(_ unionByName _)
      .unionByName(order)

    def edge(df: DataFrame, srcTag: Long, srcKey: String, dstTag: Long,
             dstKey: String, rel: String, weight: org.apache.spark.sql.Column,
             qty: org.apache.spark.sql.Column = nullD,
             price: org.apache.spark.sql.Column = nullD,
             disc: org.apache.spark.sql.Column = nullD): DataFrame =
      df.select(
        (lit(srcTag * TAG) + col(srcKey)).as("src"),
        (lit(dstTag * TAG) + col(dstKey)).as("dst"),
        lit(rel).as("rel_type"), weight.cast("double").as("weight"),
        qty.as("quantity"), price.as("extendedprice"), disc.as("discount"))

    val lineitem = t("lineitem")
    val edges = Seq(
      edge(t("nation"), NationTag, "n_nationkey", RegionTag, "n_regionkey",
        "IN_REGION", lit(1.0)),
      edge(t("customer"), CustomerTag, "c_custkey", NationTag, "c_nationkey",
        "IN_NATION", lit(1.0)),
      edge(t("supplier"), SupplierTag, "s_suppkey", NationTag, "s_nationkey",
        "IN_NATION", lit(1.0)),
      edge(t("orders"), CustomerTag, "o_custkey", OrderTag, "o_orderkey",
        "PLACED", lit(1.0)),
      edge(lineitem, OrderTag, "l_orderkey", PartTag, "l_partkey",
        "CONTAINS", col("l_quantity"), col("l_quantity"),
        col("l_extendedprice"), col("l_discount")),
      edge(lineitem.select("l_suppkey", "l_partkey").distinct(),
        SupplierTag, "l_suppkey", PartTag, "l_partkey", "SUPPLIES", lit(1.0))
    ).reduce(_ unionByName _)

    // Pre-partition the big edge table by src so chained out-traversals
    // and src-keyed algorithm joins start co-located (one shuffle, reused).
    PropertyGraph(nodes, edges.repartition(col("src")))
  }

  /** DuckDB CTE preamble constructing the identical graph from the same
    * parquet tables — prepended to every graph-shaped oracle query. */
  val oraclePreamble: String = {
    def tag(t: Long) = (t * TAG).toString
    s"""WITH nodes AS (
  SELECT ${tag(RegionTag)} + CAST(r_regionkey AS BIGINT) AS id, 'Region' AS label, r_name AS name, CAST(NULL AS BIGINT) AS nationkey, CAST(NULL AS DOUBLE) AS acctbal, CAST(NULL AS VARCHAR) AS mktsegment, CAST(NULL AS VARCHAR) AS brand, CAST(NULL AS VARCHAR) AS ptype, CAST(NULL AS BIGINT) AS psize, CAST(NULL AS DOUBLE) AS retailprice, CAST(NULL AS VARCHAR) AS orderstatus, CAST(NULL AS DOUBLE) AS totalprice, CAST(NULL AS VARCHAR) AS orderpriority, CAST(NULL AS BIGINT[]) AS partkeys FROM region
  UNION ALL SELECT ${tag(NationTag)} + CAST(n_nationkey AS BIGINT), 'Nation', n_name, NULL, NULL, NULL, NULL, NULL, NULL, NULL, NULL, NULL, NULL, NULL FROM nation
  UNION ALL SELECT ${tag(CustomerTag)} + c_custkey, 'Customer', c_name, CAST(c_nationkey AS BIGINT), c_acctbal, c_mktsegment, NULL, NULL, NULL, NULL, NULL, NULL, NULL, NULL FROM customer
  UNION ALL SELECT ${tag(SupplierTag)} + s_suppkey, 'Supplier', s_name, CAST(s_nationkey AS BIGINT), s_acctbal, NULL, NULL, NULL, NULL, NULL, NULL, NULL, NULL, NULL FROM supplier
  UNION ALL SELECT ${tag(PartTag)} + p_partkey, 'Part', p_name, NULL, NULL, NULL, p_brand, p_type, CAST(p_size AS BIGINT), p_retailprice, NULL, NULL, NULL, NULL FROM part
  UNION ALL SELECT ${tag(OrderTag)} + o_orderkey, 'Order', 'O' || CAST(o_orderkey AS VARCHAR), NULL, NULL, NULL, NULL, NULL, NULL, NULL, o_orderstatus, o_totalprice, o_orderpriority, op.partkeys FROM orders LEFT JOIN (SELECT l_orderkey, list_sort(list(DISTINCT ${tag(PartTag)} + l_partkey)) AS partkeys FROM lineitem GROUP BY 1) op ON o_orderkey = op.l_orderkey
), edges AS (
  SELECT ${tag(NationTag)} + CAST(n_nationkey AS BIGINT) AS src, ${tag(RegionTag)} + CAST(n_regionkey AS BIGINT) AS dst, 'IN_REGION' AS rel_type, CAST(1.0 AS DOUBLE) AS weight, CAST(NULL AS DOUBLE) AS quantity, CAST(NULL AS DOUBLE) AS extendedprice, CAST(NULL AS DOUBLE) AS discount FROM nation
  UNION ALL SELECT ${tag(CustomerTag)} + c_custkey, ${tag(NationTag)} + CAST(c_nationkey AS BIGINT), 'IN_NATION', 1.0, NULL, NULL, NULL FROM customer
  UNION ALL SELECT ${tag(SupplierTag)} + s_suppkey, ${tag(NationTag)} + CAST(s_nationkey AS BIGINT), 'IN_NATION', 1.0, NULL, NULL, NULL FROM supplier
  UNION ALL SELECT ${tag(CustomerTag)} + o_custkey, ${tag(OrderTag)} + o_orderkey, 'PLACED', 1.0, NULL, NULL, NULL FROM orders
  UNION ALL SELECT ${tag(OrderTag)} + l_orderkey, ${tag(PartTag)} + l_partkey, 'CONTAINS', l_quantity, l_quantity, l_extendedprice, l_discount FROM lineitem
  UNION ALL SELECT DISTINCT ${tag(SupplierTag)} + l_suppkey, ${tag(PartTag)} + l_partkey, 'SUPPLIES', 1.0, NULL, NULL, NULL FROM lineitem
)
"""
  }
}
