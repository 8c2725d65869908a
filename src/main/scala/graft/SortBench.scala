package graft

import graft.sources.BinaryRecords

/** Standalone TeraSort throughput measurement over binary record files —
  * the apples-to-apples shape of the reference benchmark (gen → write
  * unsorted → read → range-partition → sort → write), reported as one
  * JSON line. Usage: runMain graft.SortBench [rows] [partitions] [dir]. */
object SortBench {
  def main(args: Array[String]): Unit = {
    val rows = args.headOption.map(_.toLong).getOrElse(10000000L)
    val parts = if (args.length > 1) args(1).toInt else 16
    val dir = if (args.length > 2) args(2)
      else java.nio.file.Files.createTempDirectory("graft_sortbench").toString
    val spark = GraftSession()

    BinaryRecords.write(
      BinaryRecords.teragen(spark, rows).repartition(parts), s"$dir/in")
    val t0 = System.nanoTime()
    BinaryRecords.terasort(spark, s"$dir/in", s"$dir/out", parts)
    val sec = (System.nanoTime() - t0) / 1e9
    val mb = rows * 100.0 / 1e6
    println(f"""{"metric":"terasort","rows":$rows,"seconds":$sec%.2f,"mb":$mb%.0f,"mb_per_sec":${mb / sec}%.1f,"partitions":$parts}""")
    spark.stop()
  }
}
