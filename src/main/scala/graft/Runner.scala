package graft

import java.nio.file.Paths

import org.apache.spark.sql.{DataFrame, SparkSession}

/** What the four mains share: the environment, the session and the loop
  * over named queries. Each main supplies only its own action. */
object Runner {
  type Query = (SparkSession, String) => DataFrame

  /** The environment, parsed once before the session starts; a bad number
    * fails there, naming its variable.
    *  - `sfDir`: the dataset Bench and TimeQ read (`SPARK_GRAFT_SF_DIR`);
    *  - `reps`: how often Bench runs its fleet and TimeQ each query;
    *  - `budgetS`: Bench's wall budget for its steady reps;
    *  - `warmupDir`: Bench's untimed warmup dataset, the `sf0.001` next to
    *    `sfDir` unless set; `off` skips the warmup;
    *  - `only`: Verify's dev-only subset, comma-separated name prefixes. */
  final case class Env(sfDir: String, cpus: Int, reps: Int, budgetS: Int,
      warmupDir: Option[String], only: Option[Seq[String]])

  private def env(): Env = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    Env(sfDir, GraftSession.envCpus, GraftSession.envInt("SPARK_GRAFT_REPS", 3),
      GraftSession.envInt("SPARK_GRAFT_BENCH_BUDGET_S", 300),
      sys.env.get("SPARK_GRAFT_WARMUP_DIR") match {
        case Some("off") => None
        case dir => dir.orElse(Some(Paths.get(sfDir).resolveSibling("sf0.001").toString))
      },
      sys.env.get("SPARK_GRAFT_ONLY").map(_.split(",").toSeq))
  }

  /** Run `body` on a session with the scratch placement (see [[Scratch]])
    * after an untimed JVM warmup with no table IO, then stop it. */
  def run(body: (SparkSession, Env) => Unit): Unit = {
    val e = env()
    Scratch.init()
    val spark = GraftSession(e.cpus)
    spark.range(1000).selectExpr("sum(id)").collect()
    try body(spark, e) finally spark.stop()
  }

  /** Each query in order: time building its frame on `dir` plus `act`,
    * report a failure as `failed(name): error` and go on, then, outside
    * the timer, free the blocks it persisted (a leak would inflate every
    * later query's GC). `ok` hears each success with its seconds. */
  def loop(spark: SparkSession, dir: String, queries: Seq[(String, Query)],
      failed: String => String, ok: (String, Double) => Unit = (_, _) => ())(
      act: (String, DataFrame) => Unit): Seq[(String, Double)] =
    queries.map { case (name, fn) =>
      SharedStage.consumerLabel = name
      val t0 = System.nanoTime()
      val passed = try { act(name, fn(spark, dir)); true } catch {
        case t: Throwable => System.err.println(s"${failed(name)}: $t"); false
      }
      val secs = (System.nanoTime() - t0) / 1e9
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = false))
      if (passed) ok(name, secs)
      name -> secs
    }

  /** The registered queries named in `names`, in that order. */
  def named(names: Seq[String]): Seq[(String, Query)] =
    names.map(n => n -> SparkEntry.queries(n))
}
