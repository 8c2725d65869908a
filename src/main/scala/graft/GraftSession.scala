package graft

import org.apache.logging.log4j.Level
import org.apache.logging.log4j.core.config.Configurator
import org.apache.spark.sql.SparkSession

/** The one way to build a session: every main and the test suite get the
  * configuration Bench measures. */
object GraftSession {
  /** `SPARK_GRAFT_CPUS`, or every available processor when it is unset. */
  def envCpus: Int = envInt("SPARK_GRAFT_CPUS", Runtime.getRuntime.availableProcessors)

  /** The environment variable `name` as a positive Int, `default` when unset. */
  private[graft] def envInt(name: String, default: => Int): Int =
    positiveInt(name, sys.env.get(name), default)

  /** `v` as a positive Int; anything else fails, naming the variable. */
  private[graft] def positiveInt(name: String, v: Option[String], default: => Int): Int =
    v match {
      case None => default
      case Some(s) => s.trim.toIntOption.filter(_ > 0).getOrElse(
        throw new IllegalArgumentException(s"$name must be a positive integer, got '$s'"))
    }

  def apply(cpus: Int = envCpus): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // static conf, must land before the first session: the default cache
      // holds 100 generated classes, but one fleet pass produces ~1.5k, so
      // shared shapes would be evicted and recompiled mid-run
      .config("spark.sql.codegen.cache.maxEntries", "10000")
      // a TIMESTAMP(NANOS) parquet column reads as its raw long, which
      // Tables.normalizeTs turns into microseconds; Spark 4 refuses to
      // read it otherwise
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // shuffle spill stays on disk, not on the tmpfs scratch (see Scratch)
      .config("spark.local.dir", Scratch.diskTmp)
      // managed tables (the ANN index family) are rebuilt per run, so the
      // warehouse follows the scratch placement
      .config("spark.sql.warehouse.dir",
        System.getProperty("java.io.tmpdir") + "/graft-warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // warnings that every run repeats by design, so that a real one shows
    Seq("org.apache.spark.sql.execution.window.WindowExec", // unpartitioned window
      "org.apache.spark.rdd.MapPartitionsRDD", // localCheckpoint truncates lineage
      "org.apache.spark.scheduler.DAGScheduler" // large task binary, cancel at stop
    ).foreach(Configurator.setLevel(_, Level.ERROR))
    spark
  }

  /** Run `body` with `confs` set on the session, then put each key back
    * as it was: its previous value, or unset if it had none. The change
    * is session-global while `body` runs, so a query planned concurrently
    * on the same session would see it; every caller runs sequentially. */
  def withConfs[T](s: SparkSession, confs: (String, String)*)(body: => T): T = {
    val prev = confs.map { case (k, _) => k -> s.conf.getAll.get(k) }
    confs.foreach { case (k, v) => s.conf.set(k, v) }
    try body finally prev.foreach {
      case (k, Some(v)) => s.conf.set(k, v)
      case (k, None) => s.conf.unset(k)
    }
  }
}
