package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.KmvDistinctAgg

/** KMV distinct-sketch invariants beyond the oracle-gated exact regime. */
class KmvSketchSpec extends AnyFunSuite {
  private val spark = TestSpark.spark
  import spark.implicits._

  test("exact regime: <= K distinct values per group match countDistinct") {
    val df = spark.range(100000)
      .select((col("id") % 7).as("g"), (col("id") % 211).as("v"))
    val got = df.groupBy(col("g"))
      .agg(expr("graft_approx_distinct(v)").as("nd"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val want = df.groupBy(col("g"))
      .agg(countDistinct(col("v")).as("nd"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got === want)
  }

  test("estimator regime: 50k distinct values within ~4 RSE of truth") {
    val n = 50000L
    val est = spark.range(n)
      // spread ids over [0, P) with the stratified-sampling mixer so the
      // permuted minima are uniform
      .select(expr("(id * 2654435761) % 2147483647").as("v"))
      .agg(expr("graft_approx_distinct(v)").as("nd"))
      .collect()(0).getLong(0)
    val rse = 1.0 / math.sqrt(KmvDistinctAgg.K - 2)
    assert(math.abs(est - n).toDouble / n < 4 * rse,
      s"estimate $est too far from $n")
  }

  test("merge-order invariance: estimate is identical across partitionings") {
    val base = spark.range(30000)
      .select(expr("(id * 2654435761) % 2147483647").as("v"))
    val estimates = Seq(1, 3, 17).map { p =>
      base.repartition(p).agg(expr("graft_approx_distinct(v)")).collect()(0).getLong(0)
    }
    assert(estimates.distinct.size === 1, estimates.toString)
  }

  test("buffer: eviction sets the overflow flag exactly at K+1 distinct") {
    val buf = new KmvDistinctAgg.Buffer
    (1 to KmvDistinctAgg.K).foreach(i => buf.add(i.toLong))
    assert(!buf.sawOverflow && buf.mins.size === KmvDistinctAgg.K)
    buf.add(0L) // smaller than the max -> evicts, flags
    assert(buf.sawOverflow && buf.mins.size === KmvDistinctAgg.K)
    assert(!buf.mins.contains(KmvDistinctAgg.K.toLong))
  }
}
