package graft.perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._

/** Span recorder for the traced run: a `SparkListener` that keeps every
  * job start and every stage's task metrics in memory. Nothing here runs
  * inside the program; the harness attributes the recorded stages to the
  * operation whose time window contains their submission (see
  * [[Tracer.attribute]]). Event times are epoch milliseconds. */
final class Tracer extends SparkListener {
  final class Stage(val id: Int, val attempt: Int) {
    var name = ""
    var submitted = 0L
    var completed = 0L
    var tasks = 0L
    var cpuNs = 0L
    var inBytes = 0L
    var outBytes = 0L
    var shuffleWrite = 0L
    var shuffleRead = 0L
    var fetchWaitMs = 0L
    var spillDisk = 0L
    var spillMemory = 0L
    def durS: Double = (completed - submitted) / 1000.0
  }

  private val stageMap = mutable.LinkedHashMap[(Int, Int), Stage]()
  private val jobTimes = mutable.ArrayBuffer[Long]()

  private def stage(id: Int, attempt: Int): Stage =
    stageMap.getOrElseUpdate((id, attempt), new Stage(id, attempt))

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    jobTimes += e.time
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    val i = e.stageInfo
    val s = stage(i.stageId, i.attemptNumber())
    s.name = i.name
    s.submitted = i.submissionTime.getOrElse(System.currentTimeMillis())
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    if (m != null) {
      val s = stage(e.stageId, e.stageAttemptId)
      s.tasks += 1
      s.cpuNs += m.executorCpuTime
      s.inBytes += m.inputMetrics.bytesRead
      s.outBytes += m.outputMetrics.bytesWritten
      s.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      s.shuffleRead += m.shuffleReadMetrics.totalBytesRead
      s.fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
      s.spillDisk += m.diskBytesSpilled
      s.spillMemory += m.memoryBytesSpilled
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val i = e.stageInfo
    val s = stage(i.stageId, i.attemptNumber())
    s.name = i.name
    if (s.submitted == 0L) s.submitted = i.submissionTime.getOrElse(0L)
    s.completed = i.completionTime.getOrElse(System.currentTimeMillis())
  }

  def stages: Seq[Stage] = synchronized { stageMap.values.filter(_.completed > 0).toSeq }
  def jobs: Seq[Long] = synchronized { jobTimes.toSeq }
}

object Tracer {
  /** Index of the window holding time `t` (windows are disjoint and in
    * time order: the harness runs one operation at a time), or -1. */
  def windowOf(windows: IndexedSeq[(Long, Long)], t: Long): Int =
    windows.lastIndexWhere { case (a, b) => a <= t && t <= b }

  /** Stages grouped by the window in which they were submitted. A stage
    * submitted outside every window lands under -1. Attribution is by
    * time, not by job group: streaming micro-batch threads and staging
    * builds on other threads do not carry the caller's job group. */
  def attribute(windows: IndexedSeq[(Long, Long)],
      stages: Seq[Tracer#Stage]): Map[Int, Seq[Tracer#Stage]] =
    stages.groupBy(s => windowOf(windows, s.submitted))

  /** Milliseconds of [a, b] covered by at least one stage interval. */
  def busyMs(a: Long, b: Long, stages: Seq[Tracer#Stage]): Long = {
    val iv = stages.map(s => (s.submitted max a, s.completed min b))
      .filter { case (x, y) => y > x }.sortBy(_._1)
    var total = 0L
    var (cs, ce) = (-1L, -1L)
    iv.foreach { case (x, y) =>
      if (x > ce) { if (ce > cs) total += ce - cs; cs = x; ce = y }
      else ce = ce max y
    }
    if (ce > cs) total += ce - cs
    total
  }
}
