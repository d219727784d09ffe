package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Dual-regime global ranking primitives. A global NTILE is the
  * textbook single-task trap: `ntile(n).over(Window.orderBy(...))`
  * funnels the WHOLE frame through one window partition. Under
  * the [[graft.algorithms.Tuning]] gate that is the right
  * plan (one sort of a driver-sized frame, and the shape a SQL oracle
  * can mirror); past the gate the same assignment is computed with NO
  * single-partition window: range-repartition on the (unique) sort
  * key, count rows per range partition (≤ shuffle.partitions rows to
  * the driver), broadcast the cumulative offsets back, and derive
  * each row's exact global rank as offset + within-partition
  * row_number. Rank → tile is then NTILE's integer quota formula, so
  * both regimes emit bit-identical tiles on the same unique order.
  * Exactness does not depend on where the range sampler places
  * boundaries: offsets come from ACTUAL partition sizes.
  * (Extracted round 10 from Corpus.pplBuckets when the revived
  * PlanSpec window invariant caught EventStreams.rfm running three
  * |users|-sized single-task NTILEs.)
  */
object Ranks {

  /** Append `out` = global NTILE(nTiles) of `df` under the total
    * order `order` (which MUST end in a unique tiebreaker — both
    * regimes and the SQL oracle rely on the order being total). */
  def globalNtile(df: DataFrame, nTiles: Int, order: Seq[Column],
                  out: String): DataFrame = {
    require(nTiles >= 2, s"globalNtile needs nTiles >= 2, got $nTiles")
    val (ck, n) = graft.algorithms.Probe.checkpointCounted(df)
    if (graft.algorithms.Tuning.fits(n))
      ck.withColumn(out,
        ntile(nTiles).over(Window.orderBy(order: _*)).cast("long"))
    else {
      val spark = ck.sparkSession
      val p = spark.sessionState.conf.numShufflePartitions
      // Pin partition ids with the checkpoint: spark_partition_id is
      // only meaningful on the materialized range layout.
      val ranged = ck
        .repartitionByRange(p, order: _*)
        .withColumn("__pid", spark_partition_id())
        .localCheckpoint()
      val sizes = ranged.groupBy("__pid").agg(count(lit(1)).as("c"))
        .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
      val offsets = (0 until p).scanLeft(0L)((acc, i) =>
        acc + sizes.getOrElse(i, 0L))
      import spark.implicits._
      val offDf = broadcast(
        (0 until p).map(i => (i, offsets(i))).toDF("__pid", "__off"))
      val wp = Window.partitionBy("__pid").orderBy(order: _*)
      // NTILE quota: first n%b tiles get n/b+1 rows, the rest n/b.
      val q = n / nTiles
      val r0 = n % nTiles
      val cut = r0 * (q + 1)
      val qSafe = math.max(q, 1L) // else-branch unreachable when q=0
      ranged.join(offDf, Seq("__pid"))
        .withColumn("__rk", row_number().over(wp).cast("long") + col("__off"))
        .withColumn(out,
          when(col("__rk") <= cut,
            expr(s"(__rk + $q) DIV ${q + 1}"))
            .otherwise(lit(r0) + expr(s"(__rk - $cut + $qSafe - 1) DIV $qSafe"))
            .cast("long"))
        .drop("__pid", "__off", "__rk")
    }
  }
}
