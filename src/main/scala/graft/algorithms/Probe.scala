package graft.algorithms

import org.apache.spark.sql.{Column, DataFrame, Observation}
import org.apache.spark.sql.functions.{count, lit}

/** Checkpoint-fused convergence probes for iterative kernels.
  *
  * Every DataFrame fixpoint here needs two things per round: materialize
  * the new state (`localCheckpoint`, an eager action) and read a scalar
  * summary of it — a count, or a monotone label sum — to decide
  * convergence. Running the probe as its own aggregation doubles the
  * per-round action count, and on a real cluster each extra action is a
  * full driver/scheduler round trip. `Dataset.observe` (CollectMetrics)
  * piggybacks the aggregates onto the checkpoint action itself, so each
  * round runs exactly one action and the probe values ride back on its
  * accumulators. (One action, not one job: under AQE a checkpoint
  * schedules a job per query stage, typically about four.)
  *
  * The flag-column pattern keeps a round at one checkpoint when the
  * round also needs a subset of its new state (the changed rows, the
  * frontier, the nodes to drop): compute the state with a boolean flag
  * column, observe `count(when(flag, 1))` on its checkpoint, and take
  * the subset as `state.filter(flag)` — a filter over the checkpoint,
  * which runs no job — instead of checkpointing the subset separately.
  * `Dag.longestPaths` and `Structure.kcoreMembers` use it.
  */
object Probe {

  /** `df.localCheckpoint()` while computing the named aggregate columns
    * in the same job. Returns the checkpointed frame plus the observed
    * metric row as a name → value map (aggregates over an empty frame
    * follow SQL semantics: `count` is 0, `sum` is null). */
  def checkpointObserved(df: DataFrame, first: Column, rest: Column*):
      (DataFrame, Map[String, Any]) = {
    val obs = Observation()
    val out = df.observe(obs, first, rest: _*).localCheckpoint()
    (out, obs.get)
  }

  /** `df.localCheckpoint()` plus its row count, observed in the same
    * job — the size every regime gate ([[Tuning.fits]]) and most
    * drain/fixpoint probes read. */
  def checkpointCounted(df: DataFrame): (DataFrame, Long) = {
    val (out, m) = checkpointObserved(df, count(lit(1)).as("n"))
    (out, m("n").asInstanceOf[Long])
  }

  /** [[checkpointCounted]] whose result carries honest statistics: the
    * observed row count times the row width, and no constraints carried
    * over from the origin plan. A frame re-checkpointed over its own
    * previous checkpoint (a table of a graph written through
    * graft.cypher.Mutations) otherwise inherits a size estimate that
    * grows on every round and stops it broadcasting. */
  def checkpointSized(df: DataFrame): (DataFrame, Long) = {
    val (out, n) = checkpointCounted(df)
    (org.apache.spark.sql.graftshim.CheckpointStats.withRowCount(out, n), n)
  }
}
