package graft.functions

import java.nio.ByteBuffer

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, ImplicitCastInputTypes}
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.types.DataType

/** A mergeable summary (Agarwal et al., "Mergeable Summaries", PODS 2012):
  * a zero, a row update, an associative merge, a result and a byte codec
  * for the shuffled partials. That is all a sketch supplies; [[SketchAgg]]
  * turns it into a Catalyst aggregate registered under `name`.
  *
  * Implement a sketch as a Scala `object`: the value rides inside task
  * closures and is compared during canonicalization, and an object
  * deserializes back to the same singleton where an anonymous instance
  * would not. */
trait Sketch[B] extends Serializable {
  /** SQL function name, also the aggregate's name in printed plans. */
  def name: String
  /** Expected argument types; arguments are implicitly cast to them. */
  def inputTypes: Seq[DataType]
  def dataType: DataType
  def zero(): B
  /** Fold one row into `buf`. Inputs are never NULL. A one-input sketch
    * reads `x` (and gets the same value as `y`); `graft_quantile(h, v)`
    * reads both. */
  def update(buf: B, x: Any, y: Any): B
  def merge(a: B, b: B): B
  def result(buf: B): Any
  def toBytes(buf: B): Array[Byte]
  def fromBytes(bytes: Array[Byte]): B

  def apply(children: Expression*): SketchAgg[B] = SketchAgg(this, children)
}

object Sketch {
  /** Big-endian codec shared by the fixed-width `Array[Long]` states. */
  def longsToBytes(a: Array[Long]): Array[Byte] = {
    val bb = ByteBuffer.allocate(8 * a.length)
    bb.asLongBuffer().put(a)
    bb.array()
  }

  def longsFromBytes(bytes: Array[Byte]): Array[Long] = {
    val out = new Array[Long](bytes.length / 8)
    ByteBuffer.wrap(bytes).asLongBuffer().get(out)
    out
  }
}

/** The one Catalyst aggregate behind every [[Sketch]]: it evaluates the
  * children, skips a row when any input is NULL, and delegates the rest.
  * The result is never NULL: an empty group yields `result(zero())`.
  *
  * Plans print an aggregate as `prettyName(flatArguments)`; `stringArgs`
  * leaves the sketch out, so a plan reads `graft_hll(h48#1, 0, 0)` — the
  * children, then the two buffer offsets. */
case class SketchAgg[B](
    sketch: Sketch[B],
    children: Seq[Expression],
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[B] with ImplicitCastInputTypes {

  require(children.length == sketch.inputTypes.length,
    s"${sketch.name} takes ${sketch.inputTypes.length} argument(s), got ${children.length}")

  override def inputTypes: Seq[DataType] = sketch.inputTypes
  override def dataType: DataType = sketch.dataType
  override def nullable: Boolean = false
  override def prettyName: String = sketch.name
  override def stringArgs: Iterator[Any] =
    children.iterator ++ Iterator(mutableAggBufferOffset, inputAggBufferOffset)

  override def createAggregationBuffer(): B = sketch.zero()

  override def update(buf: B, input: InternalRow): B = {
    val x = children.head.eval(input)
    val y = if (children.length == 1) x else children(1).eval(input)
    if (x == null || y == null) buf else sketch.update(buf, x, y)
  }

  override def merge(a: B, b: B): B = sketch.merge(a, b)
  override def eval(buf: B): Any = sketch.result(buf)
  override def serialize(buf: B): Array[Byte] = sketch.toBytes(buf)
  override def deserialize(bytes: Array[Byte]): B = sketch.fromBytes(bytes)

  override def withNewMutableAggBufferOffset(newOffset: Int): SketchAgg[B] =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): SketchAgg[B] =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): SketchAgg[B] =
    copy(children = newChildren)
}
