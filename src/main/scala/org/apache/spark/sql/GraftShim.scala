package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan

/** Library shim into the `private[sql]` Dataset factory — the standard way
  * for external Spark libraries to materialize a DataFrame from a custom
  * LogicalPlan (same pattern as public Spark-extension projects; see
  * SNIPPETS.md [3] for a retrieved example). */
object GraftShim {
  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)

  /** A Column over a Catalyst expression built in code (one whose
    * arguments SQL text cannot carry). */
  def column(e: Expression): Column = classic.ExpressionUtils.column(e)

  /** Unpersist the storage blocks behind a `localCheckpoint()`ed DataFrame
    * (or a projection over one). `Dataset.unpersist` only talks to the
    * CacheManager, which knows nothing about checkpoint RDDs — the blocks
    * live on the `LogicalRDD` leaf's RDD, so that is what must be freed.
    * No-op for plans without a LogicalRDD leaf.
    *
    * SCOPE WARNING: this frees EVERY LogicalRDD leaf reachable from the
    * plan, not just the frame's own checkpoint. Do not call it on a frame
    * that still shares a checkpointed input with live frames (e.g.
    * anything derived from a checkpointed edge list another frame reads)
    * — the shared blocks would be silently freed under the survivor. Call
    * it only when ALL checkpoints in the plan are exclusively owned and
    * fully consumed (the connectedComponents round loop is the model). */
  def freeCheckpointBlocks(df: DataFrame): Unit =
    df.queryExecution.analyzed.collect {
      case l: org.apache.spark.sql.execution.LogicalRDD => l.rdd
    }.foreach(_.unpersist(blocking = false))
}
