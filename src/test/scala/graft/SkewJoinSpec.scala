package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** AQE skew handling, demonstrated end-to-end: a sort-merge join where one
  * key owns ~99% of the left side must be split by
  * OptimizeSkewedJoin into multiple tasks (the `isSkew=true` marker in the
  * final adaptive plan) — the runtime re-plan a 100 TB job relies on when
  * static salting wasn't applied. */
class SkewJoinSpec extends AnyFunSuite {
  private val spark = TestSpark.spark

  test("AQE splits the skewed partition of a sort-merge join") {
    import spark.implicits._
    GraftSession.withConfs(spark,
      "spark.sql.adaptive.enabled" -> "true",
      "spark.sql.adaptive.skewJoin.enabled" -> "true",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor" -> "2",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> "64KB",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "64KB",
      "spark.sql.adaptive.coalescePartitions.enabled" -> "false",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1") {
      // left: 200k rows, 99% on key 7 (plus payload to give the skewed
      // partition real bytes); right: all keys, small but not broadcast
      val left = spark.range(200000)
        .select(
          when(col("id") % 100 < 99, 7L).otherwise(col("id") % 1000).as("k"),
          concat(lit("payload_"), col("id")).as("p"))
      val right = spark.range(1000).select(col("id").as("k"), (col("id") * 2).as("v"))
      val joined = left.join(right, "k")
      // execute joined's OWN QueryExecution (count() would plan a separate
      // aggregate query and finalize that adaptive plan instead)
      assert(joined.collect().length === 200000)
      val finalPlan = joined.queryExecution.executedPlan.toString
      assert(finalPlan.contains("SortMergeJoin"), s"expected SMJ:\n$finalPlan")
      assert(finalPlan.contains("skew=true"),
        s"AQE did not mark the skewed join:\n$finalPlan")
    }
  }
}
