package graft

import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.functions._
import graft.graph.{Constraints, PropertyGraph}
import graft.cypher.Mutations

/** Constraint semantics mirroring tests/constraints_test.rs. */
class ConstraintsSpec extends SparkSpec {
  import Constraints._

  private def mini: PropertyGraph = {
    val implicits = spark.implicits
    import implicits._
    PropertyGraph(
      Seq((1L, "User", "alice@x.com"), (2L, "User", "bob@x.com"),
        (3L, "Admin", null.asInstanceOf[String]))
        .toDF("id", "label", "email"),
      Seq.empty[(Long, Long, String, Double)].toDF("src", "dst", "rel_type", "weight"))
  }

  test("uniqueness constraint: valid graph, then violated by a duplicate CREATE") {
    val m = new ConstraintManager
    m.addConstraint(uniqueness("User", "email"))
    assert(m.isValid(mini))
    // duplicate email (test_constraint_prevents_duplicate_creation)
    val dup = Mutations(mini, "CREATE (u:User {id: 4, email: 'alice@x.com'})")
    val v = m.validate(dup).collect()
    assert(v.length == 1 && v(0).getAs[String]("value") == "alice@x.com"
      && v(0).getAs[Long]("n") == 2L)
    assert(!m.isValid(dup))
  }

  test("existence constraint counts null-property nodes of the label only") {
    val m = new ConstraintManager
    m.addConstraint(existence("User", "email"))
    assert(m.isValid(mini)) // the null email is on an Admin, not a User
    m.addConstraint(existence("Admin", "email"))
    val v = m.validate(mini).collect()
    assert(v.length == 1 && v(0).getAs[String]("kind") == "existence"
      && v(0).getAs[Long]("n") == 1L)
  }

  test("constraints only apply to their label; multiple per label allowed") {
    val m = new ConstraintManager
    m.addConstraint(uniqueness("User", "email"))
    m.addConstraint(existence("User", "email"))
    assert(m.forLabel("User").length == 2 && m.forLabel("Admin").isEmpty)
    assert(m.count == 2)
  }

  test("drop constraint and duplicate add rejection") {
    val m = new ConstraintManager
    m.addConstraint(uniqueness("User", "email"))
    assertThrows[IllegalArgumentException](m.addConstraint(uniqueness("User", "email")))
    assert(m.dropConstraint("User", "email", Uniqueness))
    assert(!m.dropConstraint("User", "email", Uniqueness)) // already gone
    assert(m.all.isEmpty)
    assert(m.validate(mini).isEmpty) // no constraints → no violations
  }

  test("batch addNodes/addEdges: schema alignment, id dedup, multi-edge append") {
    // mirrors batch_write_test.rs: batch create + batch-vs-single consistency
    val implicits = spark.implicits
    import implicits._
    val g0 = mini
    val batch = Seq((10L, "User", "c@x.com"), (11L, "User", "d@x.com"),
      (1L, "User", "clone@x.com")) // id 1 exists → dropped
      .toDF("id", "label", "email")
    val g1 = g0.addNodes(batch)
    assert(g1.nodes.count() == 5)
    assert(g1.nodes.filter(col("id") === 1).head.getAs[String]("email") == "alice@x.com")
    // missing prop columns null-fill; unknown columns rejected
    val g2 = g1.addNodes(Seq((20L, "User")).toDF("id", "label"))
    assert(g2.nodes.filter(col("id") === 20).head.getAs[String]("email") == null)
    assertThrows[IllegalArgumentException](
      g1.addNodes(Seq((21L, "User", "x")).toDF("id", "label", "nope")))
    // edges: multi-edge append preserved, weight null-filled then typed
    val g3 = g2.addEdges(Seq((1L, 2L, "KNOWS"), (1L, 2L, "KNOWS"))
      .toDF("src", "dst", "rel_type"))
    assert(g3.edges.filter(col("rel_type") === "KNOWS").count() == 2)
    // empty batch is a no-op (test_batch_empty_dataset)
    assert(g3.addNodes(Seq.empty[(Long, String, String)]
      .toDF("id", "label", "email")).nodes.count() == g3.nodes.count())
    // a built graph's node table is a persisted union: the append reads
    // its stored rows from the cache, not from a parquet rescan
    def leaves(p: SparkPlan): Seq[SparkPlan] = p.collect {
      case a: AdaptiveSparkPlanExec => leaves(a.inputPlan)
      case l if l.children.isEmpty  => Seq(l)
    }.flatten
    val built = graft.graph.GraphBuilder.tpch(spark, sfDir)
    val added = built.addNodes(Seq((1L, "User", "eve")).toDF("id", "label", "name"))
    val scans = leaves(added.nodes.queryExecution.executedPlan)
    assert(scans.exists(_.isInstanceOf[InMemoryTableScanExec]) &&
      !scans.exists(_.isInstanceOf[FileSourceScanExec]), scans.mkString("\n"))
  }

  test("violations on the TPC-H graph match a direct aggregation") {
    val graph = graft.graph.GraphBuilder.tpch(spark, sfDir)
    val v = Constraints.violations(graph, uniqueness("Customer", "mktsegment"))
      .collect().map(r => r.getAs[String]("value") -> r.getAs[Long]("n")).toMap
    val direct = graph.labeled("Customer").groupBy("mktsegment").count()
      .filter(col("count") > 1)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(v == direct && v.nonEmpty)
    // ids are unique → uniqueness(id) holds for every label
    assert(Constraints.violations(graph, uniqueness("Customer", "id")).isEmpty)
  }
}
