package graft

import org.apache.spark.sql.SparkSession

/** Round-15 iteration harness: times named queries in a bench-shaped
  * session (local[N], shuffle partitions = N) AFTER materializing every
  * shared build, so a query row is measured exactly as the full bench
  * measures it (its caches hot, its own work only). `reps` passes per
  * query separate codegen/JIT cost (first pass) from steady state.
  * Usage:
  * {{{
  *   SPARK_GRAFT_CPUS=32 sbt "runMain graft.ProfileRun /root/testdata/sf0.1 2 q_banding_curve build:media_pairs"
  * }}}
  * Names may be `queries` keys or `build:*` rows; builds are timed on
  * their FIRST materialization inside the warm-up sweep (a re-run would
  * time the cache hit, same caveat as Bench). */
object ProfileRun {
  def main(args: Array[String]): Unit = {
    require(args.length >= 3, "usage: ProfileRun <sfDir> <reps> <name>...")
    val sfDir = args(0); val reps = args(1).toInt
    val names = args.drop(2).toSeq
    val spark = ToolSession.start()
    spark.range(1000000).selectExpr("sum(id)").collect()
    try graft.graph.GraphBuilder.tpch(spark, sfDir).edges.count()
    catch { case _: Throwable => () }
    val builds = SparkEntry.sharedBuilds.toMap
    def run(fn: (SparkSession, String) => org.apache.spark.sql.DataFrame): Double = {
      val t0 = System.nanoTime()
      fn(spark, sfDir).queryExecution.toRdd.foreach(_ => ())
      (System.nanoTime() - t0) / 1e9
    }
    // materialize every shared build first (timed — build rows asked
    // for by name report this first-touch time)
    val buildTimes = SparkEntry.sharedBuilds.map { case (n, f) => n -> run(f) }.toMap
    names.foreach { n =>
      if (builds.contains(n))
        println(f"$n%-28s build ${buildTimes(n)}%7.3f s")
      else {
        val fn = SparkEntry.queries.getOrElse(n,
          throw new IllegalArgumentException(s"unknown query $n"))
        val ts = (1 to reps).map(_ => run(fn))
        println(f"$n%-28s " + ts.map(t => f"$t%7.3f").mkString(" ") + " s")
      }
    }
    spark.stop()
  }
}
