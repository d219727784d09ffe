package graft.graph

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** A property graph held as two DataFrames, the Spark-native analogue of
  * the reference's node/relationship store (reference: src/graph/model.rs,
  * src/graph/db.rs — double adjacency lists become join-keyed edge views).
  *
  * Schema contract:
  *  - nodes: id BIGINT, label STRING, name STRING, + typed property
  *    columns (sparse across labels: acctbal, mktsegment, brand, ptype,
  *    psize, retailprice, orderstatus, totalprice, orderdate,
  *    orderpriority, nationkey…)
  *  - edges: src BIGINT, dst BIGINT, rel_type STRING, weight DOUBLE,
  *    quantity/extendedprice/discount DOUBLE (CONTAINS only, else null)
  *
  * Multi-edges and self-loops are representable (no uniqueness
  * constraint on (src,dst,rel_type)), matching the reference model.
  *
  * Scale notes: edges is the ~O(|lineitem|) big table. It is
  * repartitioned by `src` once at build time so every chained out()
  * traversal starts co-located; `in`-traversals use a dst-keyed view.
  *
  * Writes (graft.cypher.Mutations, and through it TxSession) return a
  * new immutable graph whose written tables are checkpointed, so their
  * plans are leaves however many writes came before; a table a write
  * leaves alone is the same frame as before.
  */
final case class PropertyGraph(nodes: DataFrame, edges: DataFrame) {

  /** Nodes of one label — column-pruned, filter-pushed scan. */
  def labeled(label: String): DataFrame = nodes.filter(col("label") === label)

  /** Out-adjacency for a relationship type. */
  def outEdges(relType: String): DataFrame =
    edges.filter(col("rel_type") === relType)

  /** Undirected view: each edge mirrored (reference undirected traversal,
    * src/algorithms/traversal.rs:304). */
  lazy val undirectedEdges: DataFrame =
    edges.select("src", "dst", "rel_type", "weight")
      .unionByName(edges.select(col("dst").as("src"), col("src").as("dst"),
        col("rel_type"), col("weight")))

  /** (id, out_degree, in_degree, degree) — reference degree_centrality
    * input (src/algorithms/centrality.rs:6). Single shuffle per side,
    * map-side combined. */
  lazy val degrees: DataFrame = {
    val out = edges.groupBy(col("src").as("id"))
      .agg(count(lit(1)).as("out_degree"))
    val in = edges.groupBy(col("dst").as("id"))
      .agg(count(lit(1)).as("in_degree"))
    nodes.select("id")
      .join(out, Seq("id"), "left_outer")
      .join(in, Seq("id"), "left_outer")
      .select(col("id"),
        coalesce(col("out_degree"), lit(0L)).as("out_degree"),
        coalesce(col("in_degree"), lit(0L)).as("in_degree"),
        (coalesce(col("out_degree"), lit(0L)) +
          coalesce(col("in_degree"), lit(0L))).as("degree"))
  }

  /** Bulk node append (reference batch write path: db.rs
    * batch_create_nodes, batch_write_test.rs). Rows are schema-aligned —
    * property columns the batch lacks are null-filled, unknown columns
    * rejected — and id-keyed: rows whose id is already stored are
    * dropped, so batch and single creates compose consistently
    * (test_batch_vs_single_create_consistency). One union + anti-join,
    * no per-row driver work. */
  def addNodes(rows: DataFrame): PropertyGraph =
    PropertyGraph(PropertyGraph.append(nodes, Seq(
      PropertyGraph.dedupById(align(rows, nodes, required = Seq("id", "label")))
        .join(nodes.select("id"), Seq("id"), "left_anti"))), edges)

  /** Bulk edge append (db.rs batch_create_rels): schema-aligned union;
    * multi-edges allowed, so no dedup beyond what the caller sends. */
  def addEdges(rows: DataFrame): PropertyGraph =
    PropertyGraph(nodes, PropertyGraph.append(edges, Seq(
      align(rows, edges, required = Seq("src", "dst", "rel_type")))))

  private def align(rows: DataFrame, target: DataFrame,
                    required: Seq[String]): DataFrame = {
    val unknown = rows.columns.filterNot(target.columns.contains)
    require(unknown.isEmpty, s"unknown columns: ${unknown.mkString(", ")}")
    val missing = required.filterNot(rows.columns.contains)
    require(missing.isEmpty, s"batch rows need columns: ${missing.mkString(", ")}")
    target.schema.fields.foldLeft(rows) { (df, f) =>
      if (df.columns.contains(f.name)) df.withColumn(f.name, col(f.name).cast(f.dataType))
      else df.withColumn(f.name, lit(null).cast(f.dataType))
    }.select(target.columns.map(col).toIndexedSeq: _*)
  }

  /** One-row whole-graph health summary: node/edge counts, multi-edge
    * and self-loop counts, max in/out degree, isolated-node count and
    * directed density — the dashboard row every graph store exposes
    * (reference: the db stats surface of src/graph/db.rs) and the
    * first sanity check after a bulk load.
    *
    * Scale: two map-side-combined degree groupBys, one (src, dst)
    * distinct, one anti-join for isolation — every intermediate is
    * edge-bounded and every result a broadcast 1-row frame. */
  def summary: DataFrame = {
    // ONE pass over the raw edge table (the (src, dst) multiplicity
    // frame); every other statistic derives from that much smaller
    // aggregate, so the plan is 1 big shuffle + 3 pair-frame shuffles
    // + the isolation anti-join.
    val pc = edges.groupBy("src", "dst").agg(count(lit(1)).as("m"))
      .localCheckpoint()
    val nCnt = nodes.agg(count(lit(1)).cast("long").as("n_nodes"))
    val eAgg = pc.agg(sum("m").cast("long").as("n_edges"),
      count(lit(1)).cast("long").as("n_pairs"),
      sum(when(col("src") === col("dst"), col("m")).otherwise(0L))
        .cast("long").as("self_loops"))
    // ONE endpoint-keyed degree pass (round 15, guide §2.4): max_out,
    // max_in and the isolation anti-join all read the same
    // (id, side, Σm) frame — the former plan shuffled the pair frame
    // three times (out-degree groupBy, in-degree groupBy, endpoint
    // distinct) for statistics one side-tagged groupBy carries.
    val g = pc.select(col("src").as("id"), lit(0).as("side"), col("m"))
      .unionByName(pc.select(col("dst").as("id"), lit(1).as("side"), col("m")))
      .groupBy("id", "side").agg(sum("m").as("c"))
      .localCheckpoint()
    val mm = g.agg(
      max(when(col("side") === 0, col("c"))).cast("long").as("max_out"),
      max(when(col("side") === 1, col("c"))).cast("long").as("max_in"))
    // left_anti ignores right-side multiplicity: g (≤2 rows per
    // endpoint id) replaces the distinct endpoint frame exactly
    val isolated = nodes.select("id").distinct()
      .join(g.select("id"), Seq("id"), "left_anti")
      .agg(count(lit(1)).cast("long").as("isolated"))
    nCnt.crossJoin(broadcast(eAgg))
      .crossJoin(broadcast(mm))
      .crossJoin(broadcast(isolated))
      .select(col("n_nodes"), col("n_edges"),
        (col("n_edges") - col("n_pairs")).as("multi_edges"),
        col("self_loops"), col("max_out"), col("max_in"), col("isolated"),
        round(col("n_edges").cast("double") /
          (col("n_nodes").cast("double") * (col("n_nodes") - lit(1L))), 9)
          .as("density"))
  }

  def persist(): PropertyGraph = {
    nodes.persist(); edges.persist(); this
  }

  def unpersist(): PropertyGraph = {
    nodes.unpersist(); edges.unpersist(); this
  }
}

object PropertyGraph {
  /** `table` with `rows` appended — the one append of bulk and Cypher
    * writes. `unionByName` flattens a union it is given into its own,
    * and a persisted table that is a union (the built graph's node
    * table) then no longer matches the cache and is recomputed from its
    * sources; the projection keeps it whole. */
  private[graft] def append(table: DataFrame, rows: Seq[DataFrame]): DataFrame =
    if (rows.isEmpty) table
    else (table.select(table.columns.map(col).toIndexedSeq: _*) +: rows).reduce(_ unionByName _)

  /** One row per id within a batch, deterministic pick (smallest row by
    * the remaining columns, nulls first). Guards the id-as-primary-key
    * invariant that the anti-join in addNodes / Mutations.create protects
    * against *stored* nodes: without this, a batch (or a CREATE pattern)
    * carrying the same id twice would insert duplicate node rows. */
  private[graft] def dedupById(rows: DataFrame): DataFrame = {
    val others = rows.columns.filter(_ != "id")
    if (others.isEmpty) rows.distinct()
    else {
      val w = Window.partitionBy("id")
        .orderBy(others.map(c => col(c).asc_nulls_first).toIndexedSeq: _*)
      rows.withColumn("_rn", row_number().over(w))
        .filter(col("_rn") === 1).drop("_rn")
    }
  }
}
