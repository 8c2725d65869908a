package graft.functions

import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types._

/** MinHash sketch as a native aggregate — the third implementation of
  * the same arithmetic (expression minima in qDedupNear, typed Aggregator
  * in MinHashAggregator), here exercising the imperative-aggregate path:
  * mutable buffer per group, byte partials for the shuffle,
  * merge-associative combine. All three produce identical results, so
  * the same DuckDB oracle checks this one too.
  *
  * Registered in the FunctionRegistry as `graft_minhash(bigint) →
  * array<bigint>[k]` (k = MinHash.K shared constants).
  */
object MinHashSketchAgg extends Sketch[Array[Long]] {
  import MinHash.{A, B, K, P}

  val name = "graft_minhash"
  // non-bigint shingle values coerce (or fail) at analysis time instead
  // of a ClassCastException inside update()
  val inputTypes: Seq[DataType] = Seq(LongType)
  val dataType: DataType = ArrayType(LongType, containsNull = false)

  def zero(): Array[Long] = Array.fill(K)(Long.MaxValue)

  def update(buf: Array[Long], x: Any, y: Any): Array[Long] = {
    val v = x.asInstanceOf[Long]
    var j = 0
    while (j < K) {
      val h = (A(j) * v + B(j)) % P
      if (h < buf(j)) buf(j) = h
      j += 1
    }
    buf
  }

  def merge(a: Array[Long], b: Array[Long]): Array[Long] = {
    var j = 0
    while (j < K) {
      if (b(j) < a(j)) a(j) = b(j)
      j += 1
    }
    a
  }

  def result(buf: Array[Long]): Any = new GenericArrayData(buf)
  def toBytes(buf: Array[Long]): Array[Byte] = Sketch.longsToBytes(buf)
  def fromBytes(bytes: Array[Byte]): Array[Long] = Sketch.longsFromBytes(bytes)
}
