package graft

import org.apache.spark.sql.SparkSession

/** The one SparkSession factory of the command-line mains (Bench,
  * Verify, ScaleProbe, ExplainAudit, PlanDump, ProfileRun), so every
  * tool runs the same session shape: `local[N]` with N =
  * `SPARK_GRAFT_CPUS` (default 4) and N shuffle partitions, the UTC
  * session timezone the oracles assume, no UI. It also applies the
  * `SPARK_GRAFT_BROADCAST_THRESHOLD` → `graft.broadcast.threshold`
  * bridge, so any tool can run in the forced-shuffle (cluster) regime
  * of [[graft.algorithms.Tuning]] — e.g. `=0` puts every dual-regime
  * kernel on its shuffle branch. */
object ToolSession {
  def cpus: String = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")

  /** The regime override from the environment, if set. */
  def thresholdOverride: Option[String] = sys.env.get("SPARK_GRAFT_BROADCAST_THRESHOLD")

  def start(logLevel: String = "WARN"): SparkSession = {
    thresholdOverride.foreach(v => sys.props("graft.broadcast.threshold") = v)
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel(logLevel)
    spark
  }
}
