package graft

import org.apache.spark.sql.SparkSession

/** One SparkSession shared by every suite (single forked test JVM). */
object TestSpark {
  lazy val spark: SparkSession = GraftSession(cpus = 4)
  val sf: String = "/root/testdata/sf0.001"
}
