package graft

import org.apache.spark.sql.SparkSession

/** One SparkSession shared by every suite (single forked test JVM), with
  * the Catalyst surface installed, so a suite may call query functions
  * directly rather than through their module's `queries` map. */
object TestSpark {
  lazy val spark: SparkSession = {
    val s = GraftSession(cpus = 4)
    functions.Surface.install(s)
    s
  }
  val sf: String = "/root/testdata/sf0.001"
}
