package graft

/** Plan-audit diagnostic: prints the shuffle/join/window skeleton of
  * named queries (all queries when no names are given) so a reviewer
  * can see at a glance whether an operator shuffles more than its
  * design claims. Usage:
  * {{{
  *   sbt "runMain graft.ExplainAudit /root/testdata/sf0.001 q_asof_join q_bm25"
  * }}}
  */
object ExplainAudit {
  def main(args: Array[String]): Unit = {
    require(args.nonEmpty, "usage: ExplainAudit <sfDir> [queryName...]")
    val sfDir = args.head
    val names = if (args.length > 1) args.tail.toSeq
                else SparkEntry.queries.keys.toSeq.sorted
    val spark = ToolSession.start("ERROR")
    try names.foreach { q =>
      println(s"===== $q =====")
      val plan = SparkEntry.queries(q)(spark, sfDir)
        .queryExecution.executedPlan.toString
      plan.split("\n")
        .filter(l => l.contains("Exchange") || l.contains("Join") ||
          l.contains("Window") || l.contains("Cartesian") ||
          l.contains("HashAggregate") && l.contains("keys="))
        .foreach(l => println(l.trim.take(160)))
    } finally spark.stop()
  }
}
