package graft.perfbench

import java.io.File
import java.lang.management.{ManagementFactory, MemoryType}
import java.nio.file.{Files, Paths, StandardCopyOption}
import javax.management.{NotificationEmitter, NotificationListener}
import javax.management.openmbean.CompositeData

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import com.sun.management.GarbageCollectionNotificationInfo
import org.apache.spark.sql.{DataFrame, PerfBenchShim, SparkSession}
import org.apache.spark.sql.functions._

import graft._
import graft.sources.BinaryRecords

/** One timed operation (a fleet query or a TeraSort call) or one untimed
  * output check. Window bounds are epoch milliseconds, the clock Spark's
  * listener events use; the split into build / plan / exec is in
  * nanoseconds. */
final case class Op(kind: String, name: String, module: String, pass: Int,
    startMs: Long, endMs: Long, buildS: Double, planS: Double, execS: Double,
    rows: Long, error: String, gcMs: Long, compiles: Long, compileNs: Long) {
  def wallS: Double = buildS + planS + execS
}

/** Benchmark harness. Runs one workload against the program's public
  * entry points in one JVM, closed loop with one client, and writes one
  * JSON record (timings, output checks, and with tracing on the per-layer
  * counters) to `--out`. `perfbench/run.py` builds this, launches it, runs
  * the oracle checks and prints the metrics.
  *
  * Workloads:
  *   - terasort: seeded 100-byte records written with
  *     `BinaryRecords.write`, then `BinaryRecords.terasort` calls, each
  *     validated through `BinaryRecords.read`;
  *   - fleet_llm / fleet_analytics: passes over a fixed subset of the
  *     timed `SparkEntry` queries of their modules.
  */
object PerfBench {
  type Query = (SparkSession, String) => DataFrame

  /** Fleet → (stride, modules). Each module's timed queries (its map minus
    * `Bench.untimed`), sorted by name, keep every stride-th one from the
    * first: a fixed, evenly spread subset sized so one pass fits a run. */
  val Fleets: Map[String, (Int, Seq[(String, Map[String, Query])])] = Map(
    "fleet_llm" -> (6, Seq("LlmOps" -> LlmOps.queries,
      "TextOps" -> TextOps.queries, "AnnOps" -> AnnOps.queries)),
    "fleet_analytics" -> (10, Seq("RelOps" -> RelOps.queries,
      "AggWinOps" -> AggWinOps.queries, "SortOps" -> SortOps.queries,
      "StreamOps" -> StreamOps.queries, "ScaleOps" -> ScaleOps.queries,
      "GraphOps" -> GraphOps.queries)))

  val Cpus = 4

  final case class Args(workload: String, seed: Long, seconds: Double,
      trace: Boolean, work: String, data: String, out: String, records: Long)

  def parse(argv: Array[String]): Args = {
    val kv = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    Args(kv("workload"), kv("seed").toLong, kv("seconds").toDouble,
      kv("trace") == "1", kv("work"), kv("data"), kv("out"), kv("records").toLong)
  }

  def gcMs(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime max 0L).sum

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    require(a.workload == "terasort" || Fleets.contains(a.workload),
      s"unknown workload ${a.workload}")
    HeapWatch.start()
    // as the program's mains: staging, checkpoints and state stores follow
    // java.io.tmpdir to the scratch base (SPARK_GRAFT_SCRATCH, which
    // run.py points into the checkout), and shuffle spill stays on the
    // disk-backed tmp dir
    Scratch.init()
    val spark = SparkSession.builder()
      .master(s"local[$Cpus]")
      .config("spark.sql.shuffle.partitions", Cpus.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", Scratch.diskTmp)
      .config("spark.sql.warehouse.dir", s"${a.work}/warehouse")
      // as Bench: the default 100-entry cache evicts shared shapes mid-pass
      .config("spark.sql.codegen.cache.maxEntries", "10000")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val tracer = if (a.trace) {
      val t = new Tracer
      spark.sparkContext.addSparkListener(t)
      Some(t)
    } else None
    spark.range(1000).selectExpr("sum(id)").collect()

    val run = new Run(spark, a)
    val extra =
      if (a.workload == "terasort") run.terasort() else run.fleet(Fleets(a.workload))
    val peakRssMb = rssPeakMb()
    val nonHeapMb =
      ManagementFactory.getMemoryMXBean.getNonHeapMemoryUsage.getCommitted / 1048576.0

    val layers = tracer.map { t =>
      PerfBenchShim.drainListeners(spark.sparkContext)
      Layers(run, t)
    }
    val record = Map(
      "workload" -> a.workload, "seed" -> a.seed, "trace" -> a.trace,
      "seconds" -> a.seconds, "cpus" -> Cpus,
      "setup_s" -> (run.firstOpMs - ManagementFactory.getRuntimeMXBean.getStartTime) / 1000.0,
      "peak_rss_mb" -> peakRssMb,
      "peak_heap_after_gc_mb" -> HeapWatch.peakMb,
      "non_heap_committed_mb" -> nonHeapMb,
      "gc_events" -> HeapWatch.events,
      "ops" -> run.ops.filter(_.kind == "op").map(opJson),
      "checks" -> run.ops.filter(_.kind == "check").map(opJson),
      "layers" -> layers.map(_._1).getOrElse(Map.empty),
      "spans" -> layers.map(_._2).getOrElse(Map.empty)) ++ extra
    Files.write(Paths.get(a.out),
      new ObjectMapper().registerModule(DefaultScalaModule).writeValueAsBytes(record))
    spark.stop()
  }

  def opJson(o: Op): Map[String, Any] = Map(
    "name" -> o.name, "module" -> o.module, "pass" -> o.pass,
    "start_ms" -> o.startMs, "end_ms" -> o.endMs, "wall_s" -> o.wallS,
    "build_s" -> o.buildS, "plan_s" -> o.planS, "exec_s" -> o.execS,
    "rows" -> o.rows, "error" -> o.error)

  /** Peak resident set of this JVM (VmHWM), in MB. */
  def rssPeakMb(): Double =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(0.0)

  /** Heap in use right after each garbage collection, summed over the
    * heap pools: what the program kept live at that moment, plus old-gen
    * garbage no collection has reached yet. The fixed, pre-touched heap
    * keeps VmHWM flat, so this is the figure that shows the program's
    * heap use. */
  object HeapWatch extends NotificationListener {
    private val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == MemoryType.HEAP).map(_.getName).toSet
    private val t0 = System.currentTimeMillis()
    private var peak = 0L
    private val log = ArrayBuffer[Map[String, Any]]()

    def start(): Unit = ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach {
      case e: NotificationEmitter => e.addNotificationListener(this, null, null)
      case _ =>
    }

    override def handleNotification(n: javax.management.Notification, hb: Any): Unit =
      if (n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
        val info = GarbageCollectionNotificationInfo.from(n.getUserData.asInstanceOf[CompositeData])
        val after = info.getGcInfo.getMemoryUsageAfterGc.asScala
        val used = after.collect { case (p, u) if heapPools(p) => u.getUsed }.sum
        synchronized {
          peak = peak max used
          log += Map("t_ms" -> (System.currentTimeMillis() - t0), "gc" -> info.getGcName,
            "action" -> info.getGcAction, "cause" -> info.getGcCause,
            "heap_mb" -> used / 1048576.0,
            "old_mb" -> after.collect { case (p, u) if p.contains("Old") => u.getUsed }.sum / 1048576.0)
        }
      }

    def peakMb: Double = synchronized(peak / 1048576.0)
    def events: Seq[Map[String, Any]] = synchronized(log.toSeq)
  }

  /** Parts of a record directory in name order (what TeraValidate reads). */
  def partFiles(dir: String): Seq[String] =
    Option(new File(dir).listFiles()).toSeq.flatten
      .filter(f => f.getName.startsWith("part-") && f.isFile)
      .map(_.getPath).sorted

  def deleteTree(path: String): Unit = RelOps.deleteRecursively(path)
}

/** Watches the program's staging ledger (`SharedStage.buildLog`) during a
  * traced fleet run. An entry is published when its build ends, so the
  * time it first appears is that end; its recorded duration gives the
  * start. A nested stage builds inside its parent and is booked in both
  * entries, so only outer builds add up to staging time. */
final class LedgerWatch extends Thread("perfbench-ledger") {
  setDaemon(true)
  val endNs = new java.util.concurrent.ConcurrentHashMap[(String, String), Long]()
  @volatile private var running = true

  override def run(): Unit = while (running) {
    if (SharedStage.buildLog.size != endNs.size)
      SharedStage.buildLog.keySet.forEach(k => endNs.putIfAbsent(k, System.nanoTime()))
    Thread.sleep(1)
  }

  def finish(): Unit = { running = false; join() }
}

object LedgerWatch {
  private val ToleranceNs = 5000000L

  /** The builds not inside another build's interval. */
  def outer[K](builds: Seq[(K, Double)],
      endNs: java.util.Map[K, Long]): Seq[(K, Double)] = {
    val iv = builds.map { case (k, secs) =>
      val end = endNs.getOrDefault(k, 0L)
      (k, secs, end - (secs * 1e9).toLong, end)
    }
    iv.filterNot { case (k, secs, s, e) =>
      iv.exists { case (k2, secs2, s2, e2) =>
        k2 != k && secs2 > secs && s2 - ToleranceNs <= s && e <= e2 + ToleranceNs
      }
    }.map { case (k, secs, _, _) => (k, secs) }
  }
}

/** Summary of a record stream read in order: count, order-independent
  * key checksum (wrapping sum of a 64-bit key hash), key inversions. */
final case class Summary(count: Long, checksum: Long, inversions: Long)

final class Run(spark: SparkSession, a: PerfBench.Args) {
  import PerfBench._

  val ops = ArrayBuffer[Op]()
  var firstOpMs = 0L
  var inputScanOp = -1
  var stagingBuilds = 0
  var stagingBuildS = 0.0
  var staging = Seq.empty[Map[String, Any]]

  /** Time `body` as one window. The body calls its two callbacks when the
    * query function has returned and when the plan is forced; a body that
    * calls neither counts wholly as build. */
  private def window(kind: String, name: String, module: String, pass: Int)
      (body: (() => Unit, () => Unit) => Long): Op = {
    val gc0 = gcMs()
    val c0 = PerfBenchShim.codegenCompiles
    val cn0 = PerfBenchShim.codegenCompileNanos
    if (kind == "op" && firstOpMs == 0L) firstOpMs = System.currentTimeMillis()
    val ms0 = System.currentTimeMillis()
    val t0 = System.nanoTime()
    var t1 = -1L
    var t2 = -1L
    var rows = -1L
    var err = ""
    try rows = body(() => t1 = System.nanoTime(), () => t2 = System.nanoTime())
    catch { case t: Throwable => err = t.toString.take(400) }
    val t3 = System.nanoTime()
    val ms1 = System.currentTimeMillis()
    if (t1 < 0) t1 = t3
    if (t2 < 0) t2 = t3
    val op = Op(kind, name, module, pass, ms0, ms1, (t1 - t0) / 1e9,
      (t2 - t1) / 1e9, (t3 - t2) / 1e9, rows, err, gcMs() - gc0,
      PerfBenchShim.codegenCompiles - c0, PerfBenchShim.codegenCompileNanos - cn0)
    ops += op
    op
  }

  // ---------------------------------------------------------------- fleets

  def fleet(spec: (Int, Seq[(String, Map[String, Query])])): Map[String, Any] = {
    val (stride, modules) = spec
    val selected = modules.flatMap { case (module, qs) =>
      qs.keys.toSeq.filterNot(Bench.untimed.contains).sorted.zipWithIndex
        .collect { case (n, i) if i % stride == 0 => (n, module, qs(n)) }
    }.sortBy(_._1)
    val warmDir = s"${a.data}/sf0.001"
    // untimed warmup on the 10x smaller tables, as Bench does: absorbs
    // class loading, janino compilation and JIT of every selected query
    val warmup = selected.map { case (n, _, fn) =>
      val t0 = System.nanoTime()
      try fn(spark, warmDir).queryExecution.toRdd.count()
      catch { case t: Throwable => System.err.println(s"[perfbench] warmup $n: $t") }
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = false))
      n -> (System.nanoTime() - t0) / 1e9
    }
    val ledger = if (a.trace) Some(new LedgerWatch) else None
    ledger.foreach(_.start())
    var measured = 0.0
    var pass = 0
    val dirs = ArrayBuffer[String]()
    while (pass == 0 || measured < a.seconds) {
      // every pass reads its own copy of the tables: SharedStage memoizes
      // by table directory, so a fresh path makes each pass pay its
      // staging builds like the first pass of a new deployment
      val dir = copyTables(s"${a.data}/sf0.01", s"${a.work}/sf0.01-p$pass")
      dirs += dir
      selected.foreach { case (n, module, fn) =>
        SharedStage.consumerLabel = n
        val op = window("op", n, module, pass) { (built, planned) =>
          val df = fn(spark, dir)
          built()
          df.queryExecution.executedPlan
          planned()
          df.queryExecution.toRdd.count()
        }
        SharedStage.consumerLabel = ""
        // free this query's checkpoint blocks, as Bench does between queries
        spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = false))
        measured += op.wallS
      }
      pass += 1
    }
    ledger.foreach { w =>
      w.finish()
      val builds = SharedStage.buildLog.asScala.toSeq
        .filter { case ((d, _), _) => dirs.contains(d) }
        .map { case (k, (secs, _)) => (k, secs) }
      val outer = LedgerWatch.outer(builds, w.endNs).map(_._1).toSet
      stagingBuilds = builds.size
      stagingBuildS = builds.filter(b => outer(b._1)).map(_._2).sum
      staging = builds.map { case ((d, n), secs) =>
        Map("stage" -> n, "dir" -> d, "build_s" -> secs, "outer" -> outer((d, n)))
      }
    }
    Map(
      "passes" -> pass,
      "warmup_s" -> warmup.toMap,
      "staging_builds" -> staging,
      "oracle_sql" -> selected.map { case (n, _, _) =>
        n -> SparkEntry.oracleSql.getOrElse(n, "") }.toMap)
  }

  private def copyTables(from: String, to: String): String = {
    Files.createDirectories(Paths.get(to))
    new File(from).listFiles().filter(_.getName.endsWith(".parquet")).foreach { f =>
      Files.copy(f.toPath, Paths.get(to, f.getName), StandardCopyOption.REPLACE_EXISTING)
    }
    to
  }

  // -------------------------------------------------------------- terasort

  /** gensort-layout records: a 10-byte key of uniform random bytes derived
    * from (seed, row id), and a 90-byte payload holding the row id. */
  def gen(n: Long, seed: Long): DataFrame = {
    def h(salt: Int) =
      s"unhex(lpad(hex(xxhash64(id, ${seed}L, $salt)), 16, '0'))"
    spark.range(0, n, 1, Cpus).select(
      expr(s"substring(concat(${h(0)}, ${h(1)}), 1, ${BinaryRecords.KeyLen})").as("key"),
      expr(s"cast(rpad(lpad(hex(id), 32, '0'), ${BinaryRecords.RecordLen - BinaryRecords.KeyLen}, 'X') as binary)")
        .as("payload"))
  }

  /** Read record files in the given order through `BinaryRecords.read`
    * and summarize them, counting inversions across partition and file
    * boundaries too (the splits of an ordered path list keep its order). */
  def summarize(files: Seq[String]): Summary = {
    val parts = BinaryRecords.read(spark, files.mkString(","))
      .select("key").queryExecution.toRdd
      .mapPartitionsWithIndex { (i, it) =>
        var n, inv, sum = 0L
        var first, prev: Array[Byte] = null
        it.foreach { r =>
          val k = r.getBinary(0)
          if (prev != null && java.util.Arrays.compareUnsigned(prev, k) > 0) inv += 1
          if (first == null) first = k
          prev = k
          n += 1
          sum += (scala.util.hashing.MurmurHash3.bytesHash(k, 0x5eed).toLong << 32) ^
            (scala.util.hashing.MurmurHash3.bytesHash(k, 0x7e4a).toLong & 0xffffffffL)
        }
        Iterator((i, n, inv, sum, first, prev))
      }.collect().sortBy(_._1).filter(_._2 > 0)
    val boundary = parts.sliding(2).count {
      case Array(x, y) => java.util.Arrays.compareUnsigned(x._6, y._5) > 0
      case _ => false
    }
    Summary(parts.map(_._2).sum, parts.map(_._4).sum, parts.map(_._3).sum + boundary)
  }

  private def check(name: String, pass: Int, files: => Seq[String]): Summary = {
    var s = Summary(-1, 0, -1)
    window("check", name, "sources", pass) { (_, _) => s = summarize(files); s.count }
    s
  }

  private def sortAndValidate(in: String, out: String, want: Summary,
      pass: Int, kind: String): Op = {
    deleteTree(out)
    val op = window(kind, "terasort", "BinaryRecords", pass) { (_, _) =>
      BinaryRecords.terasort(spark, in, out, Cpus)
      -1L
    }
    val got = check("validate", pass, partFiles(out))
    val bad = Seq(
      if (got.inversions != 0) s"${got.inversions} key inversions" else "",
      if (got.count != want.count) s"count ${got.count} != ${want.count}" else "",
      if (got.checksum != want.checksum) "key checksum differs from input" else ""
    ).filter(_.nonEmpty)
    deleteTree(out)
    val done = op.copy(rows = got.count,
      error = (Seq(op.error).filter(_.nonEmpty) ++ bad).mkString("; "))
    ops(ops.lastIndexOf(op)) = done
    done
  }

  def terasort(): Map[String, Any] = {
    val in = s"${a.work}/tera_in"
    val out = s"${a.work}/tera_out"
    BinaryRecords.write(gen(a.records, a.seed), in)
    val inFiles = partFiles(in)
    val want = check("input", -1, inFiles)
    inputScanOp = ops.size - 1
    require(want.count == a.records, s"input has ${want.count} records, wanted ${a.records}")
    // two untimed sorts of the same input: codegen and JIT of the whole
    // path (the first timed sort still ran ~20 % slow after only one)
    for (_ <- 1 to 2) sortAndValidate(in, out, want, -1, "warmup")
    var measured = 0.0
    var pass = 0
    while (pass == 0 || measured < a.seconds) {
      measured += sortAndValidate(in, out, want, pass, "op").wallS
      pass += 1
    }
    Map("passes" -> pass, "records" -> a.records,
      "input_bytes" -> inFiles.map(f => new File(f).length).sum,
      "input_checksum" -> want.checksum)
  }
}
