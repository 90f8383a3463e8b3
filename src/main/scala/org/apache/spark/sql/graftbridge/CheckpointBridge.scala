package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.LogicalRDD

/** Release for locally checkpointed frames. `Dataset.unpersist` frees
  * nothing for a `localCheckpoint` frame (the cache manager never saw it),
  * and `RDD.unpersist` on its RDD frees the blocks but logs a WARN that
  * the lineage is truncated. The `private[spark]` context call below drops
  * the blocks and the registration without the WARN. */
object CheckpointBridge {
  /** Drop the blocks behind `df` when `df` IS a local checkpoint (its
    * analyzed plan is one LogicalRDD); any other frame is left untouched. */
  def release(df: DataFrame): Unit = df.queryExecution.analyzed match {
    case lr: LogicalRDD =>
      df.sparkSession.sparkContext.unpersistRDD(lr.rdd.id, blocking = false)
    case _ =>
  }
}
