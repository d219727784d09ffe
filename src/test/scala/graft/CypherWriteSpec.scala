package graft

import scala.util.Random
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.functions._
import graft.algorithms.Tuning
import graft.graph.{Constraints, PropertyGraph}
import graft.cypher.{Mutations, Parser}
import graft.cypher.Transactions._

/** Every table a Cypher write touches is checkpointed (Mutations.mutate):
  * write cost stays flat over a long session, the checkpointed graph
  * agrees with the stacked kernels on random write sequences in both
  * regimes, and transactions keep one immutable graph per level. */
class CypherWriteSpec extends SparkSpec {

  private def people: PropertyGraph = {
    val implicits = spark.implicits
    import implicits._
    PropertyGraph(
      (1L to 8L).map(i => (i, "Person", s"p$i", i * 1.5)).toDF("id", "label", "name", "score"),
      Seq((1L, 2L, "KNOWS", 1.0), (1L, 2L, "KNOWS", 2.0), (2L, 3L, "KNOWS", 1.0),
        (3L, 1L, "LIKES", 1.0), (4L, 5L, "KNOWS", 1.0), (5L, 6L, "LIKES", 3.0),
        (6L, 7L, "KNOWS", 1.0), (7L, 8L, "KNOWS", 1.0))
        .toDF("src", "dst", "rel_type", "weight"))
  }

  private def rows(df: DataFrame): Seq[String] =
    df.select(df.columns.sorted.map(col).toIndexedSeq: _*).collect().map(_.toString).toSeq.sorted

  private def planNodes(df: DataFrame): Int =
    df.queryExecution.logical.collect { case p => p }.size

  private def planNodes(g: PropertyGraph): Int = planNodes(g.nodes) + planNodes(g.edges)

  private def isCheckpoint(df: DataFrame): Boolean =
    df.queryExecution.logical.isInstanceOf[LogicalRDD]

  test("write cost stays flat over a long session") {
    val cm = new Constraints.ConstraintManager
    cm.addConstraint(Constraints.uniqueness("Person", "name"))
    val bound = spark.conf.get("spark.sql.shuffle.partitions").toInt
    var g = people
    val seen = (1 to 24).map { k =>
      g = Mutations.applyChecked(g, s"MATCH (p:Person {id: 3}) SET p.score = $k.5", cm)
      (planNodes(g), g.nodes.rdd.getNumPartitions,
        g.nodes.queryExecution.optimizedPlan.stats.sizeInBytes.bitLength)
    }
    val (plan1, _, bits1) = seen.head
    seen.zipWithIndex.foreach { case ((plan, parts, bits), i) =>
      assert(plan <= 1.2 * plan1, s"write ${i + 1}: $plan plan nodes vs $plan1 after the first")
      assert(parts <= bound, s"write ${i + 1}: nodes have $parts partitions")
      assert(bits <= bits1, s"write ${i + 1}: nodes sizeInBytes $bits bits vs $bits1")
    }
    assert(g.nodes.filter(col("id") === 3).head.getAs[Double]("score") == 24.5)
    // the same measure on the stacked kernels grows past the bound
    val stacked = (1 to 4).scanLeft(people) { (s, k) =>
      Mutations.stacked(s, Parser.parse(s"MATCH (p:Person {id: 3}) SET p.score = $k.5"))
    }.tail.map(planNodes)
    assert(stacked.last > 1.2 * stacked.head, stacked)
  }

  test("CREATEs keep the written tables' partitions bounded and their statistics honest") {
    val bound = spark.conf.get("spark.sql.shuffle.partitions").toInt
    var g = people
    (1 to 12).foreach { k =>
      g = Mutations(g, s"CREATE (p:Person {id: ${100 + k}, name: 'c$k'})")
      g = Mutations(g, s"MATCH (a:Person {id: ${100 + k}}) MATCH (b:Person {id: 1}) CREATE (a)-[:KNOWS]->(b)")
      Seq(g.nodes -> (8 + k), g.edges -> (8 + k)).foreach { case (df, n) =>
        assert(isCheckpoint(df), s"after $k: ${df.queryExecution.logical.nodeName}")
        assert(df.rdd.getNumPartitions <= bound, s"after $k: ${df.rdd.getNumPartitions} partitions")
        assert(df.queryExecution.optimizedPlan.stats.rowCount.contains(BigInt(n)), s"after $k")
      }
    }
    assert(g.nodes.count() == 20 && g.edges.count() == 20)
  }

  /** A seeded statement of one of the five mutation kinds over ids 1..12
    * (some stored, some not; CREATE also draws fresh ids). The first
    * eleven statements take the eleven shapes in turn. */
  private def statement(r: Random, k: Int): (Int, String) = {
    val fresh = 100 + k
    def id = 1 + r.nextInt(12)
    def rel = if (r.nextInt(3) == 0) "LIKES" else "KNOWS"
    val kind = if (k <= 11) k - 1 else r.nextInt(11)
    kind -> (kind match {
      case 0 => s"CREATE (p:Person {id: ${if (r.nextBoolean()) fresh else id}, name: 'c$fresh'})"
      case 1 => s"MATCH (a:Person {id: $id}) MATCH (b:Person {id: $id}) CREATE (a)-[:$rel]->(b)"
      case 2 => s"MERGE (p:Person {id: $id, name: 'p$id'}) " +
        s"ON CREATE SET p.score = ${r.nextInt(9)}.25 ON MATCH SET p.name = 'm$fresh'"
      case 3 => s"MERGE (a:Person {id: $id, name: 'p$id'})-[r:$rel]->(b:Person {id: $id, name: 'p$id'}) " +
        s"ON CREATE SET r.weight = ${r.nextInt(9)}.5"
      case 4 => s"MATCH (p:Person {id: $id}) SET p.name = 's$fresh', p.score = ${r.nextInt(9)}.75"
      case 5 =>
        val what = if (r.nextInt(3) == 0) s"r.rel_type = '$rel'" else s"r.weight = ${r.nextInt(9)}.5"
        s"MATCH (a:Person {id: $id})-[r:$rel]->(b:Person) SET $what"
      case 6 => s"MATCH (p:Person {id: $id}) DELETE p"
      case 7 => s"MATCH (a:Person {id: $id})-[r:$rel]->(b:Person {id: $id}) DELETE r"
      case 8 => s"MATCH (a:Person)-[r:KNOWS]->(b:Person {id: $id}) DELETE r"
      case 9 => s"FOREACH (n IN [$id, $id, 99] | SET n.name = 'f$fresh')"
      // moves a node onto an id that may already be stored
      case _ => s"MATCH (p:Person {id: $id}) SET p.id = $id"
    })
  }

  private def crossCheck(seed: Long): Unit = {
    val r = new Random(seed)
    var written = people
    var reference = people
    val kinds = (1 to 30).map { k =>
      val (kind, stmt) = statement(r, k)
      val before = written
      written = Mutations(written, stmt)
      val next = Mutations.stacked(reference, Parser.parse(stmt))
      reference = PropertyGraph(next.nodes.localCheckpoint(), next.edges.localCheckpoint())
      assert(rows(written.nodes) == rows(reference.nodes), s"nodes after $k: $stmt")
      assert(rows(written.edges) == rows(reference.edges), s"edges after $k: $stmt")
      // a table the statement wrote is a checkpoint, one it left is kept
      assert(isCheckpoint(written.nodes) || (written.nodes eq before.nodes), s"after $k: $stmt")
      assert(isCheckpoint(written.edges) || (written.edges eq before.edges), s"after $k: $stmt")
      kind
    }
    assert(kinds.toSet == (0 until 11).toSet, kinds)
  }

  test("random write sequences: the checkpointed graph equals the stacked kernels") {
    crossCheck(seed = 29L)
  }

  test("random write sequences: the checkpointed graph equals the stacked kernels (shuffle regime)") {
    Tuning.withBroadcastThreshold(0L)(crossCheck(seed = 29L))
  }

  test("transactions over written graphs: rollback, later writes, nested commit") {
    val s = new TxSession(Mutations(people, "MATCH (p:Person {id: 1}) SET p.name = 'pre'"))
    val pre = s.graph
    val (preNodes, preEdges) = (rows(pre.nodes), rows(pre.edges))
    s.execute("BEGIN")
    s.execute("CREATE (p:Person {id: 50, name: 'staged'})")
    s.execute("MATCH (p:Person {id: 2}) SET p.name = 'staged2'")
    s.execute("MATCH (a:Person {id: 1})-[r:KNOWS]->(b:Person) DELETE r")
    assert(s.graph.nodes.filter(col("name").startsWith("staged")).count() == 2)
    assert(s.execute("ROLLBACK") == TransactionRolledBack)
    assert(s.graph eq pre)
    assert(rows(s.graph.nodes) == preNodes && rows(s.graph.edges) == preEdges)
    // a later write starts from the restored graph, not the rolled-back one
    s.execute("MATCH (p:Person {id: 3}) SET p.name = 'after'")
    assert(s.graph.nodes.filter(col("name").startsWith("staged")).count() == 0)
    assert(s.graph.nodes.filter(col("id") === 50).count() == 0)
    assert(s.graph.edges.filter(col("src") === 1 && col("rel_type") === "KNOWS").count() == 2)
    // a nested level's COMMIT hands its graph to the outer level
    s.execute("BEGIN")
    s.execute("MATCH (p:Person {id: 4}) SET p.name = 'outer'")
    s.execute("BEGIN")
    val inner = s.execute("MATCH (p:Person {id: 5}) SET p.name = 'inner'") match {
      case Mutated(g) => g
      case other => fail(s"expected a write, got $other")
    }
    s.execute("COMMIT")
    assert(s.graph eq inner)
    assert(s.committedGraph.nodes.filter(col("name").isin("outer", "inner")).count() == 0)
    s.execute("COMMIT")
    assert(s.committedGraph.nodes.filter(col("name").isin("pre", "after", "outer", "inner")).count() == 4)
  }

  test("a rejected checked write leaves the pre-state graph untouched") {
    val cm = new Constraints.ConstraintManager
    cm.addConstraint(Constraints.uniqueness("Person", "name"))
    val g = Mutations.applyChecked(people, "MATCH (p:Person {id: 1}) SET p.name = 'one'", cm)
    val (nodes, edges) = (rows(g.nodes), rows(g.edges))
    intercept[Mutations.ConstraintViolationException] {
      Mutations.applyChecked(g, "MATCH (p:Person {id: 2}) SET p.name = 'one'", cm)
    }
    assert(rows(g.nodes) == nodes && rows(g.edges) == edges)
    assert(isCheckpoint(g.nodes))
  }
}
