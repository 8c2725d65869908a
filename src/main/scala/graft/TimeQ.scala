package graft

import org.apache.spark.metrics.source.CodegenMetrics.{METRIC_COMPILATION_TIME => compiles}

/** Dev harness: time named SparkEntry queries (args) on SPARK_GRAFT_SF_DIR,
  * SPARK_GRAFT_REPS runs each, printing per-run seconds — the tool for
  * isolating a single query's cost from Bench's fleet JVM. */
object TimeQ {
  def main(args: Array[String]): Unit = Runner.run { (spark, env) =>
    args.foreach { name =>
      if (AnnOps.publishedAnswerQueries(name))
        System.err.println(s"[timeq] WARNING: $name serves a staged " +
          "published answer after its first call - reps 2+ time a " +
          "<=30-row parquet read, not the pipeline; time the inner " +
          "*Search frame instead (see AnnOps.publishedAnswer)")
      // janino compilations during each run (c<N>): a cold run compiling
      // ~40+ units IS the cold-vs-steady gap; c0 on a repeat proves the
      // cache absorbed all of it
      val ts = Seq.fill(env.reps) {
        val c0 = compiles.getCount
        val secs = Runner.loop(spark, env.sfDir, Runner.named(Seq(name)),
          n => s"[timeq] $n failed")((_, df) => df.count()).head._2
        f"$secs%.2f(c${compiles.getCount - c0}%d)"
      }
      println(f"[timeq] $name%-28s " + ts.mkString(" "))
    }
  }
}
