package graft.spark.aggs

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, ImplicitCastInputTypes}
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.types.{BinaryType, DataType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

import graft.core.{CmsQueryType, CountMinSketch}
import graft.spark.fns.Utf8Fnv

/** Weighted Count-Min aggregate (`cms_agg`, [[SketchUdafs.cms]]): reads
  * (key UTF8String, count long) straight off the InternalRow (no tuple
  * materialization per row). ASCII keys hash off the UTF8String bytes
  * ([[Utf8Fnv]]); non-ASCII falls back to the exact codepoint fold.
  * Negative counts are removals (reference remove() semantics); a row with
  * a null key or count is skipped. OUT = reference-format CMS bytes.
  */
case class NativeCmsAgg(
    key: Expression,
    count: Expression,
    width: Int,
    depth: Int,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0
) extends TypedImperativeAggregate[CountMinSketch] with ImplicitCastInputTypes {

  override def children: Seq[Expression] = Seq(key, count)
  // the analyzer casts (or rejects) children, so update() never CCEs on an
  // IntegerType count literal or a non-string key
  override def inputTypes = Seq(StringType, LongType) // AbstractDataType is private[sql] — infer
  override def nullable: Boolean = false
  override def dataType: DataType = BinaryType

  override def createAggregationBuffer(): CountMinSketch =
    CountMinSketch.empty(width, depth, CmsQueryType.Min)

  override def update(buffer: CountMinSketch, input: InternalRow): CountMinSketch = {
    val k = key.eval(input)
    if (k != null) {
      val c = count.eval(input)
      if (c != null) {
        val n = c.asInstanceOf[Long]
        val hs = Utf8Fnv.hashes(k.asInstanceOf[UTF8String], depth)
        if (n >= 0) buffer.addHashes(hs, n) else buffer.removeHashes(hs, -n)
      }
    }
    buffer
  }

  override def merge(buffer: CountMinSketch, input: CountMinSketch): CountMinSketch =
    buffer.join(input)

  override def eval(buffer: CountMinSketch): Any = buffer.toBytes

  override def serialize(buffer: CountMinSketch): Array[Byte] = buffer.toBytes
  override def deserialize(bytes: Array[Byte]): CountMinSketch = CountMinSketch.fromBytes(bytes)

  override def withNewMutableAggBufferOffset(newOffset: Int): NativeCmsAgg =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): NativeCmsAgg =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): Expression =
    copy(key = newChildren(0), count = newChildren(1))

  override def prettyName: String = "graft_cms"
}
