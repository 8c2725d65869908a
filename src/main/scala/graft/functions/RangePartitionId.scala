package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{BinaryType, DataType, IntegerType}
import org.apache.spark.unsafe.types.ByteArray

/** The range a binary value falls in, given ascending cut points: the
  * number of cuts ≤ the value, found by binary search in Spark's binary
  * order (unsigned bytes, `ByteArray.compareBinary`). A value equal to a
  * cut goes to the range above it. The id is monotone in the value for
  * any ascending cuts, so routing rows by it and sorting each range yields
  * a total order; the cuts decide only how evenly the rows spread. The
  * generated code is one static call, whatever the number of cuts. */
case class RangePartitionId(child: Expression, cuts: Array[Array[Byte]])
    extends UnaryExpression {
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case BinaryType => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(s"$prettyName expects a binary, got $t")
  }
  override def dataType: DataType = IntegerType
  override def prettyName: String = "range_partition_id"
  override def toString: String = s"$prettyName($child, ${cuts.length} cuts)"

  override def nullSafeEval(v: Any): Any =
    RangePartitionId.search(cuts, v.asInstanceOf[Array[Byte]])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("cuts", cuts, "byte[][]")
    defineCodeGen(ctx, ev, v => s"graft.functions.RangePartitionId.search($ref, $v)")
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object RangePartitionId {
  def search(cuts: Array[Array[Byte]], v: Array[Byte]): Int = {
    var lo = 0
    var hi = cuts.length
    while (lo < hi) {
      val mid = (lo + hi) >>> 1
      if (ByteArray.compareBinary(cuts(mid), v) <= 0) lo = mid + 1 else hi = mid
    }
    lo
  }
}
