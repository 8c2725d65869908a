package graft.functions

import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types._

/** Count-Min sketch (Cormode & Muthukrishnan): a DEPTH × WIDTH matrix of
  * counters; each input key increments one cell per row (cell h_r(k)),
  * and a key's frequency estimate is the MIN over its DEPTH cells — an
  * upper-biased estimate (est ≥ true count, overcount bounded by
  * collisions).
  *
  * The hash family is the engine's shared LCG family (MinHash.A/B rows
  * 0..DEPTH−1, mod P then mod WIDTH) — explicit integer arithmetic, so a
  * SQL oracle can reproduce every cell EXACTLY: cell(r, i) equals the
  * total count of all keys k with h_r(k) = i, which is a plain GROUP BY.
  * That makes the whole native path (per-partition update, partial
  * serialization, merge, result) hash-gradeable even in the colliding
  * regime — unlike a sketch with an opaque hash, nothing here is
  * approximate-by-nondeterminism, only approximate-by-collision.
  *
  * Merge = elementwise matrix add (counters are linear), so the result is
  * independent of partitioning and merge order, and the fixed
  * DEPTH·WIDTH·8-byte state is map-side combinable — frequency estimation
  * over 100 TB of events shuffles 6 KB per group, never the keys.
  *
  * Registered as `graft_count_min(bigint) → array<bigint>` (row-major
  * DEPTH × WIDTH cells).
  */
object CountMinAgg extends Sketch[Array[Long]] {
  val P: Long = MinHash.P
  /** 3 × 256: small enough that the 1,500-user events fixture actually
    * collides (the estimator regime is exercised, not just the exact
    * one), big enough that min-over-3-rows keeps overcounts small. */
  val Depth: Int = 3
  val Width: Int = 256

  /** Row-r cell index of key k. The key is floorMod-reduced into [0, P)
    * first, so ANY bigint key — negative or wider than 2^31 — lands in a
    * valid cell and the product A·k' stays under 2^62; cellSql applies
    * the IDENTICAL reduction, so native sketch cells and SQL-side
    * probe/oracle arithmetic agree for every key, not just the
    * small-non-negative fixtures. */
  def cell(r: Int, k: Long): Int =
    (((MinHash.A(r) * java.lang.Math.floorMod(k, P) + MinHash.B(r)) % P) % Width).toInt

  /** The Spark/DuckDB SQL expression for cell(r, k): both engines' % is
    * C-style sign-preserving, so floorMod is spelled ((k % P) + P) % P. */
  def cellSql(r: Int, k: String): String =
    s"((${MinHash.A(r)} * ((($k) % $P + $P) % $P) + ${MinHash.B(r)}) % $P) % ${Width}"

  val name = "graft_count_min"
  // non-bigint keys coerce (or fail) at analysis time instead of a
  // ClassCastException inside update()
  val inputTypes: Seq[DataType] = Seq(LongType)
  val dataType: DataType = ArrayType(LongType, containsNull = false)

  def zero(): Array[Long] = new Array[Long](Depth * Width)

  def update(buf: Array[Long], x: Any, y: Any): Array[Long] = {
    val k = x.asInstanceOf[Long]
    var r = 0
    while (r < Depth) { buf(r * Width + cell(r, k)) += 1; r += 1 }
    buf
  }

  def merge(a: Array[Long], b: Array[Long]): Array[Long] = {
    var i = 0
    while (i < a.length) { a(i) += b(i); i += 1 }
    a
  }

  def result(buf: Array[Long]): Any = new GenericArrayData(buf)
  def toBytes(buf: Array[Long]): Array[Byte] = Sketch.longsToBytes(buf)
  def fromBytes(bytes: Array[Byte]): Array[Long] = Sketch.longsFromBytes(bytes)
}
