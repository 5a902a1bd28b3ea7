package graft.functions.expressions

import graft.operators.BlockedBloom
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.types.{BinaryType, BooleanType, DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** The blocked bloom as native Catalyst machinery (SURVEY §4.3's
  * prescribed shape — no RDD, no Scala UDF anywhere in the route). The
  * crawl engine's runtime semi-filter uses both halves to shrink a seen
  * scan before the exact anti-join:
  *
  *  - [[BloomBuildAgg]]: `bloom_agg(key, numBlocks, k)` — a
  *    TypedImperativeAggregate whose buffer IS a [[BlockedBloom]]; partial
  *    aggregation builds per-partition filters executor-side, merge ORs
  *    them — the Dataset/Catalyst replacement for `rdd.treeAggregate`. No
  *    monolithic driver filter is ever materialized.
  *  - [[BloomMightContainExpr]]: codegen'd probe over the serialized
  *    BINARY blob, evaluated inside whole-stage codegen on the scanned
  *    rows; a NULL blob (no filter) is definitively "absent" → false, so
  *    the expression is non-nullable and callers need no extra null guard.
  */
case class BloomBuildAgg(
    child: Expression,
    numBlocks: Int,
    k: Int,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[BlockedBloom] {

  override def children: Seq[Expression] = Seq(child)
  override protected def withNewChildrenInternal(newChildren: IndexedSeq[Expression]): BloomBuildAgg =
    copy(child = newChildren.head)

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"bloom_agg requires STRING, got ${child.dataType.catalogString}")

  override def createAggregationBuffer(): BlockedBloom =
    new BlockedBloom(new Array[Long](numBlocks * 8), numBlocks, k)

  override def update(buffer: BlockedBloom, input: InternalRow): BlockedBloom = {
    val v = child.eval(input)
    if (v != null) buffer.addBytes(v.asInstanceOf[UTF8String].getBytes)
    buffer
  }

  override def merge(b1: BlockedBloom, b2: BlockedBloom): BlockedBloom = b1.merge(b2)

  override def eval(buffer: BlockedBloom): Any = buffer.toBytes

  override def serialize(buffer: BlockedBloom): Array[Byte] = buffer.toBytes
  override def deserialize(bytes: Array[Byte]): BlockedBloom = BlockedBloom.fromBytes(bytes)

  override def withNewMutableAggBufferOffset(newOffset: Int): BloomBuildAgg =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): BloomBuildAgg =
    copy(inputAggBufferOffset = newOffset)

  override def nullable: Boolean = false
  override def dataType: DataType = BinaryType
  override def prettyName: String = "bloom_agg"
}

/** `bloom_might_contain(bits, key)`: codegen'd probe of a serialized blocked
  * bloom. NULL bits → false (empty filter contains nothing).
  */
case class BloomMightContainExpr(left: Expression, right: Expression)
  extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    if (left.dataType == BinaryType && right.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure("bloom_might_contain requires (BINARY, STRING)")

  override def dataType: DataType = BooleanType
  override def nullable: Boolean = false
  override def prettyName: String = "bloom_might_contain"

  override def eval(input: InternalRow): Any = {
    val bits = left.eval(input)
    val key = right.eval(input)
    if (bits == null || key == null) false
    else BlockedBloom.probeBytes(
      bits.asInstanceOf[Array[Byte]], key.asInstanceOf[UTF8String].getBytes)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val b = left.genCode(ctx)
    val s = right.genCode(ctx)
    ev.copy(code =
      code"""
        ${b.code}
        ${s.code}
        boolean ${ev.value} = false;
        if (!${b.isNull} && !${s.isNull}) {
          ${ev.value} = graft.operators.BlockedBloom.probeBytes(${b.value}, ${s.value}.getBytes());
        }""", isNull = FalseLiteral)
  }

  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): BloomMightContainExpr =
    copy(left = newLeft, right = newRight)
}
