package graft

import scala.util.Random

import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow}
import org.apache.spark.sql.catalyst.expressions.BoundReference
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.unsafe.types.UTF8String
import org.scalatest.funsuite.AnyFunSuite

import graft.functions._

/** The mergeable-summary laws for every registered sketch, on seeded
  * random input driven through its [[SketchAgg]]: the byte codec keeps
  * the result, merging the partials of any split in either order gives
  * the one-buffer result, and an empty buffer has a result. One table row
  * per sketch: a generator of one input row (about 1 field in 20 NULL, so
  * the skeleton's NULL skip runs too). */
class SketchPropertySpec extends AnyFunSuite {
  private val inputs: Map[Sketch[_], Random => Seq[Any]] = Map(
    MinHashSketchAgg -> (r => Seq(r.nextInt(1 << 20).toLong)),
    // the exact regime (at most K distinct values): past K, Misra-Gries
    // partials merge to within the n/(K+1) bound, not to one answer
    MisraGriesAgg -> (r => Seq(UTF8String.fromString(s"v${r.nextInt(MisraGriesAgg.K)}"))),
    KmvDistinctAgg -> (r => Seq(r.nextInt(1000).toLong)),
    HllSketchAgg -> (r => Seq(r.nextLong())),
    // persisted registers: short, long, out-of-domain and NULL elements
    HllMergeAgg -> (r => Seq(new GenericArrayData(Array.fill[Any](r.nextInt(HllSketchAgg.M + 20))(
      if (r.nextInt(30) == 0) null else r.nextInt(50) - 4)))),
    BitmapDistinctAgg -> (r => Seq(r.nextInt(200000).toLong - 1000L)),
    CountMinAgg -> (r => Seq(r.nextLong())),
    QuantileSketchAgg -> (r => Seq[Any](r.nextLong(), r.nextInt(100).toDouble)),
    QuantileMergeAgg -> (r => Seq(new GenericArrayData(Array.fill[Any](r.nextInt(40))(
      InternalRow(r.nextLong(), r.nextInt(100).toDouble))))))

  private def agg[B](s: Sketch[B]): SketchAgg[B] =
    s(s.inputTypes.zipWithIndex.map { case (t, i) => BoundReference(i, t, nullable = true) }: _*)

  private def rowsOf(s: Sketch[_], r: Random, n: Int): Seq[InternalRow] =
    Seq.fill(n)(InternalRow.fromSeq(inputs(s)(r).map(v => if (r.nextInt(20) == 0) null else v)))

  private def sketchOf[B](a: SketchAgg[B], rows: Seq[InternalRow]): B =
    rows.foldLeft(a.createAggregationBuffer())(a.update)

  /** The result as Scala values, copied out of the buffer. */
  private def result[B](a: SketchAgg[B], buf: B): Any =
    CatalystTypeConverters.convertToScala(a.eval(buf), a.dataType)

  private def forEachSketch(trials: Int)(check: (Sketch[_], Random) => Unit): Unit =
    for (s <- VectorFunctions.sketches; seed <- 1 to trials) check(s, new Random(seed))

  test("the table has one row per registered sketch") {
    assert(inputs.keySet === VectorFunctions.sketches.toSet)
  }

  test("fromBytes(toBytes(b)) has the result of b, for every sketch") {
    def roundTrip[B](s: Sketch[B], r: Random): Unit = {
      val a = agg(s)
      val b = sketchOf(a, rowsOf(s, r, r.nextInt(2000)))
      assert(result(a, a.deserialize(a.serialize(b))) == result(a, b), s.name)
    }
    forEachSketch(20)(roundTrip(_, _))
  }

  test("merging a random split forward or in reverse gives the one-buffer result") {
    def mergeOrder[B](s: Sketch[B], r: Random): Unit = {
      val a = agg(s)
      val rows = rowsOf(s, r, r.nextInt(2000))
      val cuts = (Seq(0, rows.length) ++ Seq.fill(r.nextInt(5))(r.nextInt(rows.length + 1))).sorted
      val slices = cuts.zip(cuts.tail).map { case (from, to) => rows.slice(from, to) }
      // partials cross the byte codec, as they do through a shuffle
      def merged(parts: Seq[Seq[InternalRow]]): Any = result(a, parts
        .map(p => a.deserialize(a.serialize(sketchOf(a, p))))
        .foldLeft(a.createAggregationBuffer())(a.merge))
      val whole = result(a, sketchOf(a, rows))
      assert(merged(slices) == whole, s"${s.name} forward")
      assert(merged(slices.reverse) == whole, s"${s.name} reverse")
    }
    forEachSketch(20)(mergeOrder(_, _))
  }

  test("result(zero()) is a value, for every sketch") {
    def empty[B](s: Sketch[B]): Unit = {
      val a = agg(s)
      assert(result(a, a.createAggregationBuffer()) != null, s.name)
    }
    VectorFunctions.sketches.foreach(empty(_))
  }
}
