package graft.spark.aggs

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, ImplicitCastInputTypes}
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.types.{BinaryType, DataType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

import graft.ext.Hll
import graft.spark.fns.Utf8Fnv

/** HLL aggregate (`TypedImperativeAggregate`): `hll_count` /
  * [[SketchUdafs.hllCount]] when `estimate` (OUT = the Long distinct-count
  * estimate), `hll_agg` / [[SketchUdafs.hll]] otherwise (OUT = HLL bytes):
  *
  *  - the update path reads the `UTF8String` directly ([[Utf8Fnv]]) — for
  *    ASCII values the fnv-1a byte fold equals the reference's codepoint
  *    fold, so no java String is materialized per row (urls are the hot
  *    case); non-ASCII values fall back to the exact codepoint fold;
  *  - buffers serialize in the engine's HLL byte format — the same bytes the
  *    checkpoint table stores.
  *
  * This is the construction Spark's own approx_count_distinct uses
  * (SURVEY.md §1.3), instantiated with our sketch.
  */
case class NativeHllAgg(
    child: Expression,
    p: Int,
    estimate: Boolean,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0
) extends TypedImperativeAggregate[Hll] with ImplicitCastInputTypes {

  override def children: Seq[Expression] = Seq(child)
  // cast-or-reject at analysis time instead of a runtime CCE on non-strings
  override def inputTypes = Seq(StringType) // AbstractDataType is private[sql] — infer
  override def nullable: Boolean = false
  override def dataType: DataType = if (estimate) LongType else BinaryType

  override def createAggregationBuffer(): Hll = Hll(p)

  override def update(buffer: Hll, input: InternalRow): Hll = {
    val v = child.eval(input)
    if (v != null) {
      buffer.addHash64(Utf8Fnv.hash64(v.asInstanceOf[UTF8String], 0))
    }
    buffer
  }

  override def merge(buffer: Hll, input: Hll): Hll = buffer.merge(input)

  override def eval(buffer: Hll): Any = if (estimate) buffer.estimate else buffer.toBytes

  override def serialize(buffer: Hll): Array[Byte] = buffer.toBytes
  override def deserialize(bytes: Array[Byte]): Hll = Hll.fromBytes(bytes)

  override def withNewMutableAggBufferOffset(newOffset: Int): NativeHllAgg =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): NativeHllAgg =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): Expression =
    copy(child = newChildren.head)

  override def prettyName: String = if (estimate) "graft_hll_count" else "graft_hll"
}
