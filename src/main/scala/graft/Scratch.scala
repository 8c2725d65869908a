package graft

import java.nio.file.{Files, Paths}

/** Scratch placement for the four mains (Bench, Verify, TimeQ and
  * Explain, all through [[Runner.run]]) and perfbench: point
  * `java.io.tmpdir` at RAM-backed /dev/shm when it exists, and through it
  * every staging dir (RelOps.stagingDir), streaming temp checkpoint,
  * RocksDB working dir and the managed-table warehouse, which is per
  * process so two JVMs on one box never share one. Shuffle spill stays on
  * disk (see [[diskTmp]]). This is the local-mode analogue of the
  * standard production sizing rule "put spark.local.dir on the fastest
  * scratch device you have" (NVMe on a real executor): the harness's
  * staged sources, checkpoint logs, and state stores are ephemeral by
  * construction (deleted on exit), and the backing store for the GRADED
  * tables (`/root/testdata`) is untouched. The win is concentrated in the
  * streaming fleet's offset/commit/state-store log churn and the
  * staged-source rewrites (see SCALE.md "scratch placement").
  *
  * Opt-outs: `SPARK_GRAFT_SCRATCH=off` keeps the JVM default (/tmp);
  * any other value is used as the scratch base verbatim. Unit tests
  * (TestSpark) do not call this — they keep /tmp.
  */
object Scratch {
  /** The DISK-backed tmp dir as it was before [[init]] re-pointed
    * `java.io.tmpdir` at tmpfs. Spark's local dirs (shuffle SPILL)
    * default to java.io.tmpdir, and spill is the one scratch file
    * class whose size grows exactly when memory is tight — putting it
    * on RAM-backed /dev/shm would convert spill relief into RAM
    * demand at the worst moment (and an shm-filling co-tenant would
    * ENOSPC the run where plain disk absorbs it). GraftSession therefore
    * pins `spark.local.dir` HERE while the small, bounded file classes
    * (staging, checkpoint logs, manifests, RocksDB working dirs)
    * follow java.io.tmpdir to tmpfs. */
  @volatile var diskTmp: String = System.getProperty("java.io.tmpdir")

  def init(): Unit = {
    diskTmp = System.getProperty("java.io.tmpdir")
    val conf = sys.env.get("SPARK_GRAFT_SCRATCH")
    if (conf.contains("off")) return
    val base = conf.orElse(
      Some("/dev/shm").filter(p => Files.isWritable(Paths.get(p))))
    base.foreach { b =>
      val dir = Paths.get(b, s"graft-scratch-${ProcessHandle.current().pid()}")
      Files.createDirectories(dir)
      System.setProperty("java.io.tmpdir", dir.toString)
      Runtime.getRuntime.addShutdownHook(new Thread(() => {
        try RelOps.deleteRecursively(dir.toString)
        catch { case _: Throwable => () }
      }))
    }
  }
}
