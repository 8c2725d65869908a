package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Container-bitmap exact-distinct invariants: exactness under the
  * high-bits sharding contract, OR-merge partitioning invariance, and the
  * ignore rules (nulls, negatives). */
class BitmapDistinctSpec extends AnyFunSuite {
  private val spark = TestSpark.spark
  import spark.implicits._

  test("sharded popcounts sum to the exact distinct count") {
    // ids with heavy duplication spanning several 2^16 containers
    val df = spark.range(200000)
      .select(((col("id") * 7919L) % 300000L).as("id"))
    val got = df.groupBy(expr("id div 65536").as("cont"))
      .agg(expr("graft_bitmap_distinct(id)").as("c"))
      .agg(sum(col("c"))).collect()(0).getLong(0)
    val want = df.agg(countDistinct(col("id"))).collect()(0).getLong(0)
    assert(got === want)
  }

  test("popcount is invariant across partitionings (OR merge is order-free)") {
    val base = spark.range(50000).select((col("id") % 40000L).as("id"))
    val counts = Seq(1, 3, 17).map { p =>
      base.repartition(p)
        .groupBy(expr("id div 65536")).agg(expr("graft_bitmap_distinct(id)").as("c"))
        .agg(sum(col("c"))).collect()(0).getLong(0)
    }
    assert(counts.distinct.size === 1)
    assert(counts.head === 40000L)
  }

  test("nulls and negative ids are ignored, not aliased into a container") {
    val df = Seq[java.lang.Long](1L, 2L, null, -5L, 2L, 65535L)
      .toDF("id")
    val got = df.agg(expr("graft_bitmap_distinct(id)")).collect()(0).getLong(0)
    // 1, 2, 65535 — null and -5 contribute nothing (a masked -5 would
    // collide with ordinal 65531 and inflate the count)
    assert(got === 3L)
  }
}
