package graftbench

import scala.collection.mutable
import graft.graph.Constraints

/** Checks of the client's own rules, run by `selftest.py`:
  *  - a throwing op is recorded as failed, with its error;
  *  - the correctness gate rejects a wrong digest or row count, inside
  *    the client as well as on its own;
  *  - the digest of a fixed frame, printed for `selftest.py` to match
  *    against the oracle side's canonical form. */
object SelfTest {
  def run(dir: String): Int = {
    val spark = Main.session()
    val failures = mutable.ArrayBuffer.empty[String]
    def expect(ok: Boolean, what: String): Unit = if (!ok) failures += what

    val df = spark.sql("SELECT * FROM VALUES (1L, 'a', 2.5D, NULL, DATE'2024-02-29'), " +
      "(3L, 'b', 0.1D + 0.2D, true, NULL) AS t(k, s, x, flag, d)")
    val (cols, rows) = (df.columns.toIndexedSeq, df.collect())
    val right = Digest.of(cols, rows)
    expect(Digest.check(right, cols, rows).isEmpty, "gate accepts the matching digest")
    expect(Digest.check(right.copy(sha256 = "0" * 64), cols, rows).isDefined, "gate rejects a wrong digest")
    expect(Digest.check(right.copy(rows = right.rows + 1), cols, rows).isDefined, "gate rejects a wrong row count")
    expect(Digest.of(cols, rows.reverse) == right, "digest ignores row order")

    val in = Inputs(null, new Constraints.ConstraintManager, Map.empty, 0.0)
    val wrong = Map("q_graph_nodes" -> Digest.Expected(7, "0" * 64))
    val client = new Client(spark, dir, wrong, in, traced = false)
    val thrown = client.run(Query("q_no_such_query", "selftest"), 0)
    expect(!thrown.ok && thrown.error.contains("NoSuchElementException"), "a throwing op is recorded as failed")
    val rejected = client.run(Query("q_graph_nodes", "selftest"), 0)
    expect(!rejected.ok && rejected.error.contains("oracle"), "the client fails an op whose digest differs")

    println(s"selftest-digest ${right.sha256}")
    failures.foreach(f => println(s"selftest FAILED: $f"))
    spark.stop()
    if (failures.isEmpty) 0 else 1
  }
}
