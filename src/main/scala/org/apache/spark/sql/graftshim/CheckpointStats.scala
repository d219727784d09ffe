package org.apache.spark.sql.graftshim

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical.Statistics
import org.apache.spark.sql.catalyst.plans.logical.statsEstimation.EstimationUtils
import org.apache.spark.sql.classic
import org.apache.spark.sql.execution.LogicalRDD

/** Stats-honest checkpoints. In Spark 4.1 a `localCheckpoint` keeps the
  * origin plan's estimated statistics and constraints
  * (`LogicalRDD.fromDataset`), so a frame checkpointed once per write or
  * round inherits a size estimate that compounds from one checkpoint to
  * the next and eventually stops broadcasting. The re-wrap replaces
  * them with the observed row count times the row width and no
  * constraints. It needs `private[sql]` access, hence this package;
  * graft reaches it only through `graft.algorithms.Probe`. */
object CheckpointStats {

  /** `checkpointed` with statistics `rows × row width`. A frame whose
    * plan is not a checkpoint (`LogicalRDD`) is returned unchanged. */
  def withRowCount(checkpointed: DataFrame, rows: Long): DataFrame =
    checkpointed.queryExecution.logical match {
      case r: LogicalRDD =>
        val session = checkpointed.sparkSession.asInstanceOf[classic.SparkSession]
        val size = EstimationUtils.getSizePerRow(r.output) * rows
        classic.Dataset.ofRows(session,
          r.copy()(session, Some(Statistics(size, Some(BigInt(rows)))), None))
      case _ => checkpointed
    }
}
