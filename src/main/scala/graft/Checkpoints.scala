package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.LogicalRDD

/** Eager local checkpoints that their creator releases. A frame's
  * `unpersist()` drops cache entries only: a localCheckpoint's blocks
  * belong to the RDD under the checkpointed frame's `LogicalRDD` leaf,
  * and that RDD is what the release unpersists. */
object Checkpoints {

  /** `df` eagerly local-checkpointed, and the release of its blocks: the
    * caller runs it once its last action over the frame has finished. */
  def owned(df: DataFrame): (DataFrame, () => Unit) = {
    val cp = df.localCheckpoint(true)
    val pinned = cp.queryExecution.logical.collect { case r: LogicalRDD => r.rdd }
    (cp, () => pinned.foreach(_.unpersist(blocking = false)))
  }
}
