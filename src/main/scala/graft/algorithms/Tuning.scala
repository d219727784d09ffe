package graft.algorithms

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.broadcast

/** The one regime gate of graft.
  *
  * Every dual-regime kernel picks between two physical plans from sizes
  * it observed on its own checkpoints ([[Probe.checkpointCounted]]):
  * under the gate it replays the round semantics on the driver over a
  * packed collect, or broadcasts the |V|-bounded side of a join; past
  * the gate it runs the shuffle-join plan a 100 TB run takes. Kernels
  * ask [[fits]] (or [[fitsProduct]] for a pair state, or
  * [[broadcastIfFits]] for a join side) and never read the threshold
  * themselves, so this object is the only place the decision is made.
  *
  * The threshold is a row count. The default (4M rows ≈ tens of MB) is
  * safely inside a driver/executor heap. It is a JVM-global system
  * property so tests and tools can force the shuffle regime on small
  * data (`-Dgraft.broadcast.threshold=0`, [[withBroadcastThreshold]], or
  * the `SPARK_GRAFT_BROADCAST_THRESHOLD` env bridge in
  * [[graft.ToolSession]]) — the code path a large cluster actually runs
  * must be exercisable, oracle-checkable, and timeable without one.
  */
object Tuning {
  // Log-noise note: the value-domain window kernels (deciles, pooled
  // rank cumulatives — every PlanSpec-whitelisted unpartitioned
  // window) emit Spark's "WindowExec: No Partition Defined" warning
  // by design; the frames are value/time-domain bounded, not
  // corpus-sized (the whitelist documents each bound). Silence it in
  // bench/verify logs with
  //   log4j.logger.org.apache.spark.sql.execution.window=ERROR
  // rather than per-call suppression — the warning stays useful for
  // NEW windows that haven't passed review.
  val DefaultBroadcastThreshold = 4000000L

  def broadcastThreshold: Long =
    sys.props.get("graft.broadcast.threshold").map(_.toLong)
      .getOrElse(DefaultBroadcastThreshold)

  /** True when every observed size is within the gate: the driver
    * regime (or a broadcast) is safe for all of them. */
  def fits(sizes: Long*): Boolean = {
    val t = broadcastThreshold
    sizes.forall(_ <= t)
  }

  /** [[fits]] for a size that is the product of two counts (an n² pair
    * state, probes × candidates). A product that overflows a Long does
    * not fit. */
  def fitsProduct(a: Long, b: Long): Boolean =
    try fits(Math.multiplyExact(a, b))
    catch { case _: ArithmeticException => false }

  /** `df` with a broadcast hint when its observed `rows` fit the gate. */
  def broadcastIfFits(df: DataFrame, rows: Long): DataFrame =
    if (fits(rows)) broadcast(df) else df

  /** Run `body` with the broadcast gate forced to `n` rows (test/probe
    * helper; restores the previous setting on exit). */
  def withBroadcastThreshold[A](n: Long)(body: => A): A = {
    val prev = sys.props.get("graft.broadcast.threshold")
    sys.props("graft.broadcast.threshold") = n.toString
    try body
    finally prev match {
      case Some(v) => sys.props("graft.broadcast.threshold") = v
      case None    => sys.props -= "graft.broadcast.threshold"
    }
  }
}
