package graft.perfbench

import scala.collection.mutable

/** Per-layer metrics of a traced run, named by the program's modules.
  * Every stage the tracer saw is attributed to the operation window it
  * was submitted in; module figures are per pass, TeraSort figures per
  * sort call. All names are always present (0 where a workload does not
  * exercise the layer), so every traced run prints the same set. */
object Layers {
  val Modules = Seq("RelOps", "AggWinOps", "SortOps", "StreamOps", "ScaleOps",
    "GraphOps", "LlmOps", "TextOps", "AnnOps")

  /** TeraSort stage roles: the shuffle-map stage writes shuffle output,
    * the reduce stage reads it (and runs the sink), and the remaining
    * input scans are the range partitioner's sampling jobs. */
  def role(s: Tracer#Stage): String =
    if (s.shuffleWrite > 0) "map"
    else if (s.shuffleRead > 0 || s.outBytes > 0) "reduce"
    else "sample"

  def apply(run: Run, t: Tracer): (Map[String, Double], Map[String, Any]) = {
    val ops = run.ops.toIndexedSeq
    val windows = ops.map(o => (o.startMs, o.endMs))
    val stages = t.stages
    val byWindow = Tracer.attribute(windows, stages)
    val jobsIn = t.jobs.groupBy(Tracer.windowOf(windows, _)).map { case (k, v) => k -> v.size }
    def st(i: Int): Seq[Tracer#Stage] = byWindow.getOrElse(i, Nil)
    val timed = ops.indices.filter(ops(_).kind == "op")
    val passes = (timed.map(ops(_).pass).distinct.size max 1).toDouble
    val m = mutable.LinkedHashMap[String, Double]()

    def perPass(is: Seq[Int])(f: Int => Double): Double = is.map(f).sum / passes
    for (mod <- Modules) {
      val is = timed.filter(ops(_).module == mod)
      val sum = perPass(is) _
      m(s"$mod.build_s") = sum(ops(_).buildS)
      m(s"$mod.plan_s") = sum(ops(_).planS)
      m(s"$mod.exec_s") = sum(ops(_).execS)
      m(s"$mod.jobs") = sum(jobsIn.getOrElse(_, 0).toDouble)
      m(s"$mod.task_cpu_s") = sum(st(_).map(_.cpuNs).sum / 1e9)
      m(s"$mod.gc_s") = sum(ops(_).gcMs / 1000.0)
      m(s"$mod.shuffle_bytes") = sum(st(_).map(_.shuffleWrite).sum.toDouble)
      m(s"$mod.spill_bytes") = sum(st(_).map(_.spillDisk).sum.toDouble)
      m(s"$mod.written_bytes") = sum(st(_).map(_.outBytes).sum.toDouble)
    }
    m("SharedStage.build_s") = run.stagingBuildS / passes
    m("SharedStage.builds") = run.stagingBuilds / passes
    m("codegen.compiles") = perPass(timed)(ops(_).compiles.toDouble)
    m("codegen.compile_s") = perPass(timed)(ops(_).compileNs / 1e9)

    val sorts = timed.filter(ops(_).module == "BinaryRecords")
    def perSort(f: Int => Double): Double =
      if (sorts.isEmpty) 0.0 else sorts.map(f).sum / sorts.size
    def ofRole(i: Int, r: String) = st(i).filter(role(_) == r)
    val oneScan = if (run.inputScanOp >= 0) st(run.inputScanOp).map(_.inBytes).sum else 0L
    m("terasort.sample_s") = perSort(ofRole(_, "sample").map(_.durS).sum)
    m("terasort.map_s") = perSort(ofRole(_, "map").map(_.durS).sum)
    m("terasort.reduce_s") = perSort(ofRole(_, "reduce").map(_.durS).sum)
    m("terasort.map_passes") = perSort(ofRole(_, "map").size.toDouble)
    m("terasort.scan_bytes") = perSort(st(_).map(_.inBytes).sum.toDouble)
    m("terasort.scan_amplification") =
      if (oneScan > 0) m("terasort.scan_bytes") / oneScan else 0.0
    m("terasort.shuffle_bytes") = perSort(st(_).map(_.shuffleWrite).sum.toDouble)
    m("terasort.fetch_wait_s") = perSort(st(_).map(_.fetchWaitMs).sum / 1000.0)
    m("terasort.spill_bytes") = perSort(st(_).map(_.spillDisk).sum.toDouble)
    m("terasort.sink_bytes") = perSort(st(_).map(_.outBytes).sum.toDouble)
    m("terasort.task_cpu_s") = perSort(st(_).map(_.cpuNs).sum / 1e9)
    m("terasort.gc_s") = perSort(ops(_).gcMs / 1000.0)
    val validations = ops.indices.filter(i => ops(i).kind == "check" && ops(i).pass >= 0)
    m("sources.read_s") =
      if (sorts.isEmpty) 0.0 else validations.map(ops(_).wallS).sum / sorts.size

    // attribution quality: stages still running when their window closed,
    // stages submitted after timing began but inside no window, and the
    // share of timed wall time during which no attributed stage ran
    val firstMs = timed.headOption.map(ops(_).startMs).getOrElse(Long.MaxValue)
    val spanning = timed.map(i => st(i).count(_.completed > ops(i).endMs)).sum
    val orphans = byWindow.getOrElse(-1, Nil).count(_.submitted >= firstMs)
    val busy = timed.map(i => i -> Tracer.busyMs(ops(i).startMs, ops(i).endMs, st(i))).toMap
    val wallMs = timed.map(i => ops(i).endMs - ops(i).startMs).sum
    m("trace.spanning_stages") = spanning.toDouble
    m("trace.orphan_stages") = orphans.toDouble
    m("trace.unattributed_share") =
      if (wallMs > 0) 1.0 - busy.values.sum.toDouble / wallMs else 0.0

    val spans = Map(
      "ops" -> ops.indices.map { i =>
        val o = ops(i)
        val wall = (o.endMs - o.startMs) max 1L
        PerfBench.opJson(o) ++ Map(
          "kind" -> o.kind, "jobs" -> jobsIn.getOrElse(i, 0),
          "gc_s" -> o.gcMs / 1000.0, "codegen_compiles" -> o.compiles,
          "unattributed_share" -> (1.0 - Tracer.busyMs(o.startMs, o.endMs, st(i)).toDouble / wall),
          "spanning_stages" -> st(i).count(_.completed > o.endMs),
          "stages" -> st(i).map(stageJson))
      },
      "orphan_stages" -> byWindow.getOrElse(-1, Nil)
        .filter(_.submitted >= firstMs).map(stageJson))
    (m.toMap, spans)
  }

  def stageJson(s: Tracer#Stage): Map[String, Any] = Map(
    "id" -> s.id, "attempt" -> s.attempt, "name" -> s.name, "role" -> role(s),
    "submitted_ms" -> s.submitted, "completed_ms" -> s.completed,
    "tasks" -> s.tasks, "cpu_s" -> s.cpuNs / 1e9, "input_bytes" -> s.inBytes,
    "output_bytes" -> s.outBytes, "shuffle_write_bytes" -> s.shuffleWrite,
    "shuffle_read_bytes" -> s.shuffleRead, "fetch_wait_s" -> s.fetchWaitMs / 1000.0,
    "spill_disk_bytes" -> s.spillDisk, "spill_memory_bytes" -> s.spillMemory)
}
