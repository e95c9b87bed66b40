package org.apache.spark.graft

import org.apache.spark.rdd.{LocalRDDCheckpointData, RDD}

/** Narrow bridge into Spark's `private[spark]` storage calls: lets the
  * harness release the RDDs a query pinned without a WARN line per eager
  * `localCheckpoint` ("RDD N was locally checkpointed, its lineage has been
  * truncated…"), which `RDD.unpersist` logs before it drops the blocks.
  * The harness releases them after the query that pinned them on purpose,
  * so the line is noise that fills the bench's stdout tail.
  */
object StorageBridge {
  /** `rdd.unpersist(blocking = false)`; a locally checkpointed RDD goes
    * straight to `SparkContext.unpersistRDD`, the call `unpersist` makes
    * after its warning (its lineage is gone, so it is never recomputed and
    * its storage level no longer matters).
    */
  def release(rdd: RDD[_]): Unit =
    if (rdd.checkpointData.exists(_.isInstanceOf[LocalRDDCheckpointData[_]]))
      rdd.sparkContext.unpersistRDD(rdd.id, blocking = false)
    else rdd.unpersist(blocking = false): Unit
}
