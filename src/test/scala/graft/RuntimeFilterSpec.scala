package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Runtime row-level filtering: a selective filter on the build side of a
  * shuffle join should inject a bloom filter onto the probe side (Spark's
  * InjectRuntimeFilter), so at 100 TB the big fact scan drops non-joining
  * rows before the exchange instead of shuffling them. */
class RuntimeFilterSpec extends AnyFunSuite {
  private val spark = TestSpark.spark
  private val sf = TestSpark.sf

  test("selective build side injects a bloom filter into the probe side") {
    GraftSession.withConfs(spark,
      "spark.sql.optimizer.runtime.bloomFilter.enabled" -> "true",
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold" -> "0",
      "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold" -> "10MB",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1") {
      val selective = Tables.orders(spark, sf)
        .filter(col("o_orderpriority") === "1-URGENT")
        .select(col("o_orderkey"))
      val probe = Tables.lineitem(spark, sf)
        .select(col("l_orderkey"), col("l_quantity"))
      val joined = probe.join(selective, col("l_orderkey") === col("o_orderkey"))
      val optimized = joined.queryExecution.optimizedPlan.toString
      assert(optimized.contains("might_contain") || optimized.contains("bloom_filter"),
        s"no bloom runtime filter injected:\n$optimized")
      // and it must not change results vs the plain join
      val n = joined.count()
      GraftSession.withConfs(spark,
          "spark.sql.optimizer.runtime.bloomFilter.enabled" -> "false") {
        assert(probe.join(selective,
          col("l_orderkey") === col("o_orderkey")).count() === n)
      }
    }
  }
}
