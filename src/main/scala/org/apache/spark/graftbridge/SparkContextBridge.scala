package org.apache.spark.graftbridge

import org.apache.spark.rdd.RDD

/** Bridge to `private[spark]` SparkContext plumbing. Lives in the
  * org.apache.spark namespace solely to satisfy the qualifier. */
object SparkContextBridge {

  /** `RDD.unpersist(blocking = false)` minus its per-call
    * lineage-truncation WARN: this engine releases local-checkpoint
    * layouts deterministically at query boundaries
    * ([[graft.operators.GlobalRank.withScope]]), where the
    * truncation is the documented contract — and post-release
    * recomputation is guarded with the operator's own error
    * (`DatasetBridge.guardedLocalCheckpoint`), so the warning protects
    * nothing here. Performs the same work as `unpersist`: drop the
    * blocks and deregister from the persistence registry. */
  def unpersistQuietly(rdd: RDD[_]): Unit =
    rdd.sparkContext.unpersistRDD(rdd.id, blocking = false)
}
