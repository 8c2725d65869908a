package graft

/** Dev tool: print formatted physical plans for the named queries (all by
  * default) so plan quality — pushdown, pruning, join strategy, codegen
  * spans — can be reviewed. Usage: runMain graft.Explain [sfDir] [q...] */
object Explain {
  def main(args: Array[String]): Unit = Runner.run { (spark, _) =>
    val names = if (args.length > 1) args.drop(1).toSeq
      else SparkEntry.queries.keys.toSeq.sorted
    Runner.loop(spark, args.headOption.getOrElse("/root/testdata/sf0.01"),
      Runner.named(names), n => s"[explain] $n failed") { (n, df) =>
      println(s"\n===================== $n =====================")
      df.explain("formatted")
    }
  }
}
