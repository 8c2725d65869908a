package graft

/** Dev tool: print formatted physical plans for the named queries (all by
  * default) so plan quality — pushdown, pruning, join strategy, codegen
  * spans — can be reviewed. Usage: runMain graft.Explain [sfDir] [q...] */
object Explain {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val names = if (args.length > 1) args.drop(1).toSeq
      else SparkEntry.queries.keys.toSeq.sorted
    val spark = GraftSession()
    names.foreach { n =>
      println(s"\n===================== $n =====================")
      try SparkEntry.queries(n)(spark, sfDir).explain("formatted")
      catch { case e: Throwable => println(s"explain failed: ${e.getMessage}") }
    }
    spark.stop()
  }
}
