package graft

import org.apache.spark.sql.DataFrame

/** Lineage-cut policy for iterative operators (connected components'
  * round loop is the model consumer). The mode follows the SparkContext.
  *
  * No checkpoint dir: `localCheckpoint()` — blocks live on executors,
  * fast, right for single-node and short jobs. But local checkpoints DIE
  * WITH THEIR EXECUTOR: lineage is truncated, so a lost executor cannot
  * recompute, and one loss kills a long iterative run.
  *
  * A checkpoint dir (Spark's static `spark.checkpoint.dir`, or
  * `SparkContext.setCheckpointDir`; on a cluster point it at HDFS/object
  * storage): the cut goes through a RELIABLE checkpoint instead — data
  * lands in that fault-tolerant dir, so an executor loss costs one
  * re-read, not the whole run. That is the setting a 100 TB
  * dedup-clustering job should run with. The deployment owns the dir;
  * graft never sets one.
  */
object Checkpoints {
  def cut(df: DataFrame): DataFrame =
    // the local cut is lazy: the lineage cut and block caching are
    // identical, but materialization folds into the FIRST consuming action
    // instead of a dedicated job — in the CC round loop that halves the
    // job count (cut+count per round becomes one count job). Loop callers always
    // run an action inside the conf-pinned scope, so blocks still
    // materialize under the pinned shuffle parallelism.
    if (df.sparkSession.sparkContext.getCheckpointDir.isEmpty) df.localCheckpoint(eager = false)
    else df.checkpoint()
}
