package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.classic

/** Bridge to `private[sql]` Dataset plumbing (Spark 4's classic/connect
  * split hides `ofRows` and `logicalPlan`). Lives in the
  * org.apache.spark.sql namespace solely to satisfy the qualifier; used
  * by custom logical operators ([[graft.plans.TopKPerKey]]) to wrap a
  * plan node back into a DataFrame. The nodes plan because every session
  * comes from [[graft.core.GraftSession.local]], which installs
  * [[graft.core.GraftExtensions]].
  */
object DatasetBridge {
  def logicalPlan(df: DataFrame): LogicalPlan =
    df.asInstanceOf[classic.Dataset[_]].logicalPlan

  /** Column → true catalyst Expression via the session's ColumnNode
    * converter. (`ExpressionUtils.expression` would hand back a lazy
    * `ColumnNodeExpression` adapter whose internal ColumnNode is not
    * serializable and never task-shippable.) */
  def expression(df: DataFrame, c: Column): Expression =
    df.sparkSession.asInstanceOf[classic.SparkSession].expression(c)

  /** The session's unique id: a cache key that keeps no session alive. */
  def sessionId(spark: org.apache.spark.sql.SparkSession): String =
    spark.asInstanceOf[classic.SparkSession].sessionUUID

  def ofRows(df: DataFrame, plan: LogicalPlan): DataFrame =
    classic.Dataset.ofRows(
      df.sparkSession.asInstanceOf[classic.SparkSession], plan)

  /** Eager `localCheckpoint` with an EXECUTABLE release contract: the
    * returned frame computes through a 1:1 guard RDD that, once the
    * release handle has run, fails with `releasedMsg` instead of the
    * opaque missing-checkpoint-block error Spark raises when a
    * truncated-lineage RDD is recomputed. The handle drops the
    * checkpoint blocks without `RDD.unpersist`'s lineage-truncation
    * WARN — deterministic release at a query boundary is this engine's
    * documented lifecycle ([[graft.operators.GlobalRank]]), not a
    * surprise worth a log line per call. The guard preserves the
    * checkpoint's partitioning/ordering metadata (it rebuilds the same
    * `LogicalRDD` with only the RDD swapped), so planner decisions are
    * identical to a plain `localCheckpoint(true)`. */
  def guardedLocalCheckpoint(df: DataFrame, releasedMsg: String)
  : (DataFrame, () => Unit) = {
    import org.apache.spark.sql.execution.LogicalRDD
    val pinned = df.localCheckpoint(eager = true)
    val lr = logicalPlan(pinned) match {
      case l: LogicalRDD => l
      case p => throw new IllegalStateException(
        s"localCheckpoint did not produce a LogicalRDD: ${p.nodeName}")
    }
    val released = new java.util.concurrent.atomic.AtomicBoolean(false)
    val guarded = new GuardRDD(lr.rdd, released, releasedMsg)
    // rebuild the checkpoint's LogicalRDD over the guard via the same
    // helper localCheckpoint itself uses — partitioning/ordering/stats/
    // constraints are re-derived from the pinned dataset, so they are
    // identical to the unguarded checkpoint's
    val plan = LogicalRDD.fromDataset(guarded,
      pinned.asInstanceOf[classic.Dataset[_]], isStreaming = false)
    val release = () => {
      if (released.compareAndSet(false, true)) {
        org.apache.spark.graftbridge.SparkContextBridge
          .unpersistQuietly(lr.rdd)
      }
    }
    (ofRows(df, plan), release)
  }
}

/** 1:1 pass-through over a local checkpoint's materialized RDD that
  * turns post-release recomputation into the owning operator's own
  * error. The flag is serialized into each job's tasks at submission,
  * so a job launched after release observes `released = true` and every
  * task fails fast with `msg` (wrapped in Spark's task-failure chain)
  * before touching the block manager. */
private class GuardRDD(
    parent: org.apache.spark.rdd.RDD[
      org.apache.spark.sql.catalyst.InternalRow],
    released: java.util.concurrent.atomic.AtomicBoolean,
    msg: String)
  extends org.apache.spark.rdd.RDD[
    org.apache.spark.sql.catalyst.InternalRow](
    parent.sparkContext,
    Seq(new org.apache.spark.OneToOneDependency(parent))) {

  override protected def getPartitions: Array[org.apache.spark.Partition] =
    parent.partitions

  override def compute(
      split: org.apache.spark.Partition,
      context: org.apache.spark.TaskContext)
  : Iterator[org.apache.spark.sql.catalyst.InternalRow] = {
    if (released.get()) throw new IllegalStateException(msg)
    parent.iterator(split, context)
  }

  override protected def getPreferredLocations(
      split: org.apache.spark.Partition): Seq[String] =
    parent.preferredLocations(split)
}
