package org.apache.spark.sql

import org.apache.spark.TaskContext
import org.apache.spark.deploy.SparkHadoopUtil
import org.apache.spark.internal.io.SparkHadoopWriterUtils
import org.apache.spark.memory.TaskMemoryManager
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.unsafe.array.LongArray
import org.apache.spark.util.collection.Sorter
import org.apache.spark.util.collection.unsafe.sort.{RecordPointerAndKeyPrefix, UnsafeSortDataFormat}

import java.util.Comparator

/** Library shim into the `private[sql]` Dataset factory — the standard way
  * for external Spark libraries to materialize a DataFrame from a custom
  * LogicalPlan (same pattern as public Spark-extension projects; see
  * SNIPPETS.md [3] for a retrieved example). */
object GraftShim {
  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)

  /** The running task's memory manager (`private[spark]`), to book
    * memory through a `MemoryConsumer`. */
  def taskMemoryManager(): TaskMemoryManager = TaskContext.get().taskMemoryManager()

  /** From now until the running task completes, count what its thread
    * reads through Hadoop file systems as the task's input bytes, as
    * `HadoopRDD` does (`InputMetrics.setBytesRead` is `private[spark]`). */
  def countInputBytes(): Unit = {
    val task = TaskContext.get()
    val metrics = task.taskMetrics().inputMetrics
    val before = metrics.bytesRead
    val read = SparkHadoopUtil.get.getFSBytesReadOnThreadCallback()
    task.addTaskCompletionListener[Unit](_ => metrics.setBytesRead(before + read()))
  }

  /** A function that sets the running task's output metrics, as Spark's
    * Hadoop writer does: the bytes its thread wrote through Hadoop file
    * systems since this call, and the records given. Call it on the task's
    * thread, once the output's file system is open: only the file systems
    * already open are counted. */
  def outputMetrics(): Long => Unit = {
    val (metrics, written) = SparkHadoopWriterUtils.initHadoopOutputMetrics(TaskContext.get())
    records => {
      metrics.setBytesWritten(written())
      metrics.setRecordsWritten(records)
    }
  }

  /** Spark's TimSort (`private[spark]`) over the (record pointer, key
    * prefix) pairs of a `LongArray`, as `UnsafeInMemorySorter` uses it:
    * the function sorts the pairs `[from, until)` of an array by `order`,
    * with `buffer` (two longs per pair of the longest range sorted) as its
    * scratch space. */
  def pointerSorter(buffer: LongArray,
      order: Comparator[RecordPointerAndKeyPrefix]): (LongArray, Int, Int) => Unit = {
    val sorter = new Sorter(new UnsafeSortDataFormat(buffer))
    (pairs, from, until) => sorter.sort(pairs, from, until, order)
  }

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
