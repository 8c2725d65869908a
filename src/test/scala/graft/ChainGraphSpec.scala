package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The stress graph shape for dedup clustering: a long PATH. Min-label's
  * pointer jump halves label distance per round (measured: 2048 nodes in
  * 12 rounds), so a path converges well under the default cap of 20.
  * This spec pins that behavior. */
class ChainGraphSpec extends AnyFunSuite {
  private val spark = TestSpark.spark

  private def path(n: Int): DataFrame = spark.range(n - 1)
    .select(col("id").as("va"), (col("id") + 1).as("vb"))

  test("min-label's pointer jump halves chains: a 2048-node path converges under the cap") {
    val labels = LlmOps.connectedComponents(path(2048), maxIter = 20)
      .agg(count(lit(1)).as("n"), max(col("label")).as("mx")).collect()(0)
    assert(labels.getLong(0) === 2048L && labels.getLong(1) === 0L,
      "jump-accelerated label propagation should cover a 2048-path in ~12 rounds")
  }
}
