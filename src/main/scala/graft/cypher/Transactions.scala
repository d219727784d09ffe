package graft.cypher

import graft.graph.PropertyGraph
import org.apache.spark.sql.DataFrame
import Ast._

/** Cypher transaction statements over immutable Spark frames
  * (reference: src/cypher/ast.rs:13-16, executor.rs:1685-1722,
  * src/transactions/mod.rs begin/commit/rollback; tests mirrored from
  * tests/cypher_transaction_test.rs).
  *
  * The reference mutates a single-node store under a lock-managed
  * transaction log. The Spark-native equivalent needs neither lock nor
  * log: every [[Mutations]] statement already returns a NEW immutable
  * [[PropertyGraph]] (each table it wrote a new checkpoint; the previous
  * graph's frames stay as they were), so a transaction is just
  * references, one graph per nesting level — BEGIN snapshots by keeping
  * the current graph's reference (free, no copy), statements inside the
  * transaction stage onto a working graph nobody else sees, COMMIT
  * publishes the working graph as the committed state, ROLLBACK drops
  * it. Readers of [[graph]] always see the last committed state —
  * snapshot isolation by construction, the strongest level the
  * reference's isolation.rs aims for.
  *
  * Error surface mirrors executor.rs:1699/1716: COMMIT or ROLLBACK with
  * no active transaction raises "No active transaction to …"; like the
  * reference (whose transaction manager happily stacks begins —
  * executor.rs:1690 always opens a fresh one), BEGIN inside a
  * transaction opens a NESTED level: its COMMIT folds into the outer
  * level, its ROLLBACK restores the state at that BEGIN.
  */
object Transactions {

  /** Outcome of [[TxSession.execute]] — the CypherResult variants of
    * executor.rs:70-82 for transaction statements, a frame for reads. */
  sealed trait TxResult
  case object TransactionStarted extends TxResult
  case object TransactionCommitted extends TxResult
  case object TransactionRolledBack extends TxResult
  final case class Mutated(graph: PropertyGraph) extends TxResult
  final case class Rows(df: DataFrame) extends TxResult

  final class NoActiveTransactionException(msg: String)
    extends IllegalStateException(msg)

  /** A single-session transactional view over a property graph.
    * Not thread-safe — one session per caller, as in the reference's
    * `&mut GraphDatabase` executor signature. */
  final class TxSession(initial: PropertyGraph) {
    // committed state + the stack of staged levels (head = innermost);
    // each level remembers the graph as of its BEGIN for rollback
    private var committed: PropertyGraph = initial
    private var stack: List[PropertyGraph] = Nil
    private var completed: Long = 0L

    /** The graph THIS session's next statement sees (staged if inside
      * a transaction, committed otherwise). */
    def graph: PropertyGraph = stack.headOption.getOrElse(committed)

    /** The last COMMITTED state — what any other reader sees. */
    def committedGraph: PropertyGraph = committed

    def activeTransactionCount: Int = stack.length
    def completedTransactionCount: Long = completed

    /** Parse + execute one Cypher statement: transaction control,
      * mutation (staged inside a transaction, auto-committed outside —
      * the reference's implicit per-statement transaction), or a read
      * query against this session's view. */
    def execute(cypher: String): TxResult =
      Parser.parse(cypher) match {
        case BeginTx =>
          stack = graph :: stack
          TransactionStarted
        case CommitTx =>
          stack match {
            case staged :: rest =>
              if (rest.isEmpty) { committed = staged; stack = Nil }
              else stack = staged :: rest.tail // fold into the outer level
              completed += 1
              TransactionCommitted
            case Nil =>
              throw new NoActiveTransactionException(
                "No active transaction to commit")
          }
        case RollbackTx =>
          stack match {
            case _ :: rest =>
              // the level's snapshot is the graph BELOW it on the stack
              stack = rest
              completed += 1
              TransactionRolledBack
            case Nil =>
              throw new NoActiveTransactionException(
                "No active transaction to rollback")
          }
        case m @ (_: Create | _: Merge | _: SetStmt | _: DeleteStmt |
                  _: Foreach) =>
          val next = Mutations.mutate(graph, m)
          if (stack.nonEmpty) stack = next :: stack.tail
          else committed = next // auto-commit outside a transaction
          Mutated(next)
        case q =>
          Rows(new Compiler(graph, false).compile(q))
      }
  }
}
