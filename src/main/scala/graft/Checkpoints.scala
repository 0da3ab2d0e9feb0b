package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.LogicalRDD

/** Freeing a `localCheckpoint`. Its rows live as blocks of the RDD under
  * the checkpoint's `LogicalRDD`, not in the cache manager, so
  * `Dataset.unpersist` leaves them in place until the context stops;
  * a loop that checkpoints once per batch must free each one itself. */
object Checkpoints {

  /** Drops `checkpointed`'s blocks (asynchronously). Any later action on
    * it fails, so call this only after its last reader has finished. */
  def release(checkpointed: DataFrame): Unit =
    checkpointed.queryExecution.logical.asInstanceOf[LogicalRDD].rdd
      .unpersist(blocking = false)
}
