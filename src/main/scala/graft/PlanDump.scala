package graft

import org.apache.spark.sql.execution.FormattedMode

/** Round-15 deliverable helper: dump `.explain("formatted")` for named
  * queries to `<outDir>/<query>_<suffix>.txt` so plan claims in
  * OPTIMIZATION_r15.md are checkable without running Spark. Usage:
  * {{{
  *   sbt "runMain graft.PlanDump /root/testdata/sf0.1 plans/r15 before q_hubness q_banding_curve"
  * }}}
  * Uses the bench's own session ([[ToolSession]]) so the dumped plan is
  * the one the bench actually runs. */
object PlanDump {
  def main(args: Array[String]): Unit = {
    require(args.length >= 3, "usage: PlanDump <sfDir> <outDir> <suffix> [queryName...]")
    val sfDir = args(0); val outDir = args(1); val suffix = args(2)
    val names = if (args.length > 3) args.drop(3).toSeq
                else SparkEntry.queries.keys.toSeq.sorted
    val spark = ToolSession.start("ERROR")
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(outDir))
    try names.foreach { q =>
      val fn = SparkEntry.queries.getOrElse(q,
        SparkEntry.sharedBuilds.toMap.getOrElse(q,
          throw new IllegalArgumentException(s"unknown query $q")))
      val txt = fn(spark, sfDir).queryExecution.explainString(FormattedMode)
      val safe = q.replace(':', '_')
      java.nio.file.Files.writeString(
        java.nio.file.Paths.get(outDir, s"${safe}_$suffix.txt"), txt)
      println(s"dumped $q -> $outDir/${safe}_$suffix.txt (${txt.length} chars)")
    } finally spark.stop()
  }
}
