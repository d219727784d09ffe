package graftbench

import java.util.Locale
import scala.util.Random
import org.apache.spark.sql.SparkSession
import graft.SparkEntry
import graft.graph.{Constraints, DerivedGraphs, GraphBuilder, PropertyGraph}

/** One client operation of a pass. */
sealed trait Op { def name: String; def family: String }

/** A SparkEntry row: graft builds the DataFrame, the client collects it
  * and the correctness gate compares it with the oracle's digest. */
final case class Query(name: String, family: String) extends Op

/** A constraint-checked Cypher write applied to a write session's graph. */
final case class Write(name: String, stmt: String, session: WriteSession) extends Op {
  def family = "cypher.write"
}

/** A Cypher read of the session's graph whose rows must equal what the
  * session wrote. */
final case class ReadBack(name: String, text: String, session: WriteSession,
                          expected: Map[Long, (String, Option[Double], String)]) extends Op {
  def family = "cypher.readback"
}

/** A short write session: it starts from the base graph, and each write
  * stacks one more statement's plan on top of the previous graph. */
final class WriteSession(base: PropertyGraph) {
  var graph: PropertyGraph = base
}

/** What a workload's set-up built: the base graph, plus what its ops
  * read. Timed as a whole by the client. */
final case class Inputs(graph: PropertyGraph, constraints: Constraints.ConstraintManager,
                        customers: Map[Long, (String, Double)], graphBuildS: Double)

sealed trait Workload {
  def name: String
  /** Broadcast threshold forced for the whole run, if any. */
  def threshold: Option[Long] = None
  def setUp(spark: SparkSession, dir: String): Inputs
  def pass(rng: Random, in: Inputs): Vector[Op]
  /** Ops run once before the timed phase, the same for every seed, so
    * that JIT compilation and code generation do not land on whichever
    * ops a seed happens to put first. Checked, but timed nowhere. */
  def warmUp(in: Inputs): Vector[Op]
}

object Workloads {
  private val graphModel = Vector("q_graph_nodes", "q_graph_edges", "q_graph_summary", "q_degree",
    "q_degree_dist", "q_hill_tail", "q_degree_anonymity")
  private val chainedApi = Vector("q_label_scan", "q_prop_eq", "q_prop_gt", "q_prop_ge",
    "q_prop_between", "q_out", "q_in", "q_var_length", "q_distinct", "q_order_page", "q_count",
    "q_sum_avg", "q_percentile", "q_stats")
  private val cypherReads = Vector("q_cypher_match", "q_cypher_optional", "q_cypher_varlen",
    "q_cypher_where", "q_cypher_regex", "q_cypher_in", "q_cypher_listprop", "q_listprop_size",
    "q_cypher_agg", "q_cypher_order", "q_cypher_percentile", "q_cypher_collect", "q_cypher_with",
    "q_cypher_union", "q_cypher_undirected", "q_cypher_incoming", "q_cypher_call")
  private val streamingTwins = Vector("q_events_window", "q_events_sliding", "q_window_hh",
    "q_window_distinct", "q_window_quantiles", "q_window_top", "q_range_join", "q_asof_join",
    "q_events_sessions", "q_events_props", "q_events_dedup")

  /** Iterative rows of five kernel families, as many as a run's time
    * budget holds; the DAG row is the one whose per-round driver work
    * dominates. */
  val shuffleKernels = Vector("q_components", "q_kcore", "q_weighted_path", "q_topo_layers",
    "q_triangles")

  val all: Seq[Workload] = Seq(InteractiveRw, GraphShuffle)

  def byName(n: String): Workload = all.find(_.name == n).getOrElse(
    throw new IllegalArgumentException(s"unknown workload '$n'; known: ${all.map(_.name).mkString(", ")}"))

  /** Queries the correctness gate needs oracle digests for. */
  def oracleQueries: Seq[String] = graphModel ++ chainedApi ++ cypherReads ++ streamingTwins ++ shuffleKernels

  private def baseGraph(spark: SparkSession, dir: String): (PropertyGraph, Double) = {
    val t0 = System.nanoTime()
    val g = GraphBuilder.tpch(spark, dir)
    g.nodes.count(); g.edges.count()
    (g, (System.nanoTime() - t0) / 1e9)
  }

  object InteractiveRw extends Workload {
    val name = "interactive_rw"
    private val segments = Vector("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")

    def setUp(spark: SparkSession, dir: String): Inputs = {
      val (g, buildS) = baseGraph(spark, dir)
      val cm = new Constraints.ConstraintManager
      cm.addConstraint(Constraints.uniqueness("Customer", "id"))
      require(cm.isValid(g), "base graph violates Customer.id uniqueness")
      val customers = g.labeled("Customer").select("id", "name", "acctbal").collect()
        .map(r => r.getLong(0) -> (r.getString(1), r.getDouble(2))).toMap
      Inputs(g, cm, customers, buildS)
    }

    private def money(r: Random): Double = (100 + r.nextInt(999900)) / 100.0
    private def lit(d: Double): String = String.format(Locale.ROOT, "%.2f", Double.box(d))

    /** Four writes (CREATE, MERGE … ON CREATE SET, SET on the created
      * node, SET on an existing customer) and a read-back of all three
      * customers they touched. Ids, names and values come from `r`. */
    private def session(r: Random, in: Inputs, k: Int): Vector[Op] = {
      val s = new WriteSession(in.graph)
      val fresh = GraphBuilder.CustomerTag * GraphBuilder.TAG + 10000000L
      val a = fresh + r.nextInt(1000000)
      val b = fresh + 1000000 + r.nextInt(1000000)
      val existing = in.customers.keys.toVector.sorted
      val e = existing(r.nextInt(existing.size))
      val (nameA, nameB) = (f"bench_${r.nextInt(1 << 30)}%08x", f"bench_${r.nextInt(1 << 30)}%08x")
      val (balA, balA2, balB) = (money(r), money(r), money(r))
      val (segA, segE) = (segments(r.nextInt(segments.size)), segments(r.nextInt(segments.size)))
      Vector(
        Write(s"w$k.create", s"CREATE (c:Customer {id: $a, name: '$nameA', acctbal: ${lit(balA)}, mktsegment: '$segA'})", s),
        Write(s"w$k.merge", s"MERGE (c:Customer {id: $b, name: '$nameB'}) ON CREATE SET c.acctbal = ${lit(balB)}", s),
        Write(s"w$k.set_new", s"MATCH (c:Customer {id: $a}) SET c.acctbal = ${lit(balA2)}", s),
        Write(s"w$k.set_existing", s"MATCH (c:Customer {id: $e}) SET c.mktsegment = '$segE'", s),
        ReadBack(s"w$k.read_back",
          s"MATCH (c:Customer) WHERE c.id IN [$a, $b, $e] " +
            "RETURN c.id AS id, c.name AS name, c.acctbal AS acctbal, c.mktsegment AS seg", s,
          Map(a -> ((nameA, Some(balA2), segA)), b -> ((nameB, Some(balB), null)),
            e -> ((in.customers(e)._1, Some(in.customers(e)._2), segE)))))
    }

    def warmUp(in: Inputs): Vector[Op] =
      Vector("q_graph_summary", "q_var_length", "q_cypher_agg", "q_window_quantiles")
        .map(Query(_, "warm-up")) ++ session(new Random(0), in, -1).take(1)

    /** The reads, families interleaved round-robin. */
    private val reads: Vector[Query] = {
      val families = Vector(graphModel.map(Query(_, "graph")), chainedApi.map(Query(_, "ops")),
        cypherReads.map(Query(_, "cypher")), streamingTwins.map(Query(_, "streaming")))
      (0 until families.map(_.size).max).toVector.flatMap(i => families.flatMap(_.lift(i)))
    }
    private val block = 7

    /** JIT compilation keeps speeding ops up for the first minute of a
      * run, so a free permutation would let the seed decide which ops
      * run cold. The seed therefore shuffles the reads within blocks of
      * seven of the fixed interleaved list, and puts the write session
      * at a seeded place in the middle block. */
    def pass(rng: Random, in: Inputs): Vector[Op] = {
      val order = reads.grouped(block).flatMap(rng.shuffle(_)).toVector
      val at = (order.size / block / 2) * block + rng.nextInt(block)
      order.take(at) ++ session(rng, in, 0) ++ order.drop(at)
    }
  }

  object GraphShuffle extends Workload {
    val name = "graph_shuffle"
    override val threshold: Option[Long] = Some(0L)
    private val rounds = 2

    def setUp(spark: SparkSession, dir: String): Inputs = {
      val (g, buildS) = baseGraph(spark, dir)
      Seq(DerivedGraphs.tradeNodes(spark, dir), DerivedGraphs.nationTradeWeighted(spark, dir))
        .foreach(_.count())
      SparkEntry.sharedBuilds.filter { case (n, _) => n == "build:part_cooccur" || n == "build:triangles" }
        .foreach { case (_, build) => build(spark, dir).count() }
      Inputs(g, new Constraints.ConstraintManager, Map.empty, buildS)
    }

    /** Every kernel but the DAG row, whose 25 driver-side rounds reuse
      * what the others warm. */
    def warmUp(in: Inputs): Vector[Op] =
      shuffleKernels.filterNot(_ == "q_topo_layers").map(Query(_, "warm-up"))

    /** Each kernel twice, each round in its own seeded order. */
    def pass(rng: Random, in: Inputs): Vector[Op] =
      Vector.fill(rounds)(rng.shuffle(shuffleKernels.map(Query(_, "algorithms")))).flatten
  }
}
