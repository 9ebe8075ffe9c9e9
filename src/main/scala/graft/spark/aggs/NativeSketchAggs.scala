package graft.spark.aggs

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, ImplicitCastInputTypes}
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.util.{ArrayBasedMapData, ArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

import graft.core.{BloomFilter, HeavyHitters}
import graft.ext.Kll
import graft.spark.fns.Utf8Fnv

/** Bloom aggregate (`bloom_agg`, [[SketchUdafs.bloom]]): per row, k seeded
  * hashes folded off the UTF8String bytes ([[Utf8Fnv]]), no java String
  * for an ASCII key.
  * merge = in-place OR (associative + commutative as bytes). OUT =
  * reference-format Bloom bytes. */
case class NativeBloomAgg(
    child: Expression,
    estElements: Long,
    fpr: Double,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0
) extends TypedImperativeAggregate[BloomFilter] with ImplicitCastInputTypes {

  override def children: Seq[Expression] = Seq(child)
  override def inputTypes = Seq(StringType)
  override def nullable: Boolean = false
  override def dataType: DataType = BinaryType

  override def createAggregationBuffer(): BloomFilter = BloomFilter.empty(estElements, fpr)

  override def update(buffer: BloomFilter, input: InternalRow): BloomFilter = {
    val v = child.eval(input)
    if (v != null) {
      buffer.addHashes(Utf8Fnv.hashes(v.asInstanceOf[UTF8String], buffer.numHashes))
    }
    buffer
  }

  override def merge(buffer: BloomFilter, input: BloomFilter): BloomFilter =
    buffer.orInPlace(input)

  override def eval(buffer: BloomFilter): Any = buffer.toBytes
  override def serialize(buffer: BloomFilter): Array[Byte] = buffer.toBytes
  override def deserialize(bytes: Array[Byte]): BloomFilter = BloomFilter.fromBytes(bytes)

  override def withNewMutableAggBufferOffset(newOffset: Int): NativeBloomAgg =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): NativeBloomAgg =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): Expression =
    copy(child = newChildren.head)
  override def prettyName: String = "graft_bloom"
}

/** KLL aggregate over a double column (`kll_agg`, [[SketchUdafs.kll]]): the
  * value is read primitively off the InternalRow (no Double boxing through
  * an Encoder). With no `percentages` OUT = engine KLL bytes. With
  * `percentages` it evaluates straight to the quantile value(s) — the target
  * shape of the percentile_approx -> KLL optimizer rewrite — and returns null
  * on empty input (percentile_approx parity). */
case class NativeKllAgg(
    child: Expression,
    k: Int,
    percentages: Seq[Double] = Nil,
    asArray: Boolean = false,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0
) extends TypedImperativeAggregate[Kll] with ImplicitCastInputTypes {

  private def emitsBytes: Boolean = percentages.isEmpty

  override def children: Seq[Expression] = Seq(child)
  override def inputTypes = Seq(DoubleType)
  override def nullable: Boolean = !emitsBytes
  override def dataType: DataType =
    if (emitsBytes) BinaryType
    else if (asArray) ArrayType(DoubleType, containsNull = false)
    else DoubleType

  override def createAggregationBuffer(): Kll = Kll(k)

  override def update(buffer: Kll, input: InternalRow): Kll = {
    val v = child.eval(input)
    if (v != null) buffer.update(v.asInstanceOf[Double])
    buffer
  }

  override def merge(buffer: Kll, input: Kll): Kll = buffer.merge(input)

  override def eval(buffer: Kll): Any =
    if (emitsBytes) buffer.toBytes
    else if (buffer.n == 0) null
    else if (asArray) ArrayData.toArrayData(percentages.map(buffer.quantile).toArray)
    else buffer.quantile(percentages.head)

  override def serialize(buffer: Kll): Array[Byte] = buffer.toBytes
  override def deserialize(bytes: Array[Byte]): Kll = Kll.fromBytes(bytes)

  override def withNewMutableAggBufferOffset(newOffset: Int): NativeKllAgg =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): NativeKllAgg =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): Expression =
    copy(child = newChildren.head)
  override def prettyName: String = if (emitsBytes) "graft_kll" else "graft_kll_quantile"
}

/** Heavy hitters (`heavy_hitters`, [[SketchUdafs.heavyHitters]]) — zero-copy
  * grid hashing (the key string is materialized only for the candidate dict,
  * which needs it anyway). Each partition tracks extra candidates and merge
  * is the two-phase candidate union of SURVEY.md §7.7.1; OUT is the final
  * top-k map<string,bigint>. A row with a null key or count is skipped. */
case class NativeHhAgg(
    key: Expression,
    count: Expression,
    numHitters: Int,
    width: Int,
    depth: Int,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0
) extends TypedImperativeAggregate[HeavyHitters] with ImplicitCastInputTypes {

  override def children: Seq[Expression] = Seq(key, count)
  override def inputTypes = Seq(StringType, LongType)
  override def nullable: Boolean = false
  override def dataType: DataType = MapType(StringType, LongType, valueContainsNull = false)

  // track extra candidates per partition so the merged top-k is a superset
  // of the exact top-k whenever the per-partition tails don't conspire
  private val slack = math.max(numHitters * 4, numHitters + 16)

  override def createAggregationBuffer(): HeavyHitters =
    HeavyHitters.empty(slack, width, depth)

  override def update(buffer: HeavyHitters, input: InternalRow): HeavyHitters = {
    val k = key.eval(input)
    if (k != null) {
      val c = count.eval(input)
      if (c != null) {
        val s = k.asInstanceOf[UTF8String]
        buffer.addWithHashes(s.toString, Utf8Fnv.hashes(s, depth), c.asInstanceOf[Long])
      }
    }
    buffer
  }

  override def merge(buffer: HeavyHitters, input: HeavyHitters): HeavyHitters =
    buffer.merge(input)

  override def eval(buffer: HeavyHitters): Any = {
    val top = buffer.heavyHitters.toSeq.sortBy { case (k, v) => (-v, k) }.take(numHitters)
    ArrayBasedMapData(
      top.map(e => UTF8String.fromString(e._1)).toArray,
      top.map(_._2).toArray)
  }

  override def serialize(buffer: HeavyHitters): Array[Byte] = buffer.toBytes
  override def deserialize(bytes: Array[Byte]): HeavyHitters = HeavyHitters.fromBytes(bytes)

  override def withNewMutableAggBufferOffset(newOffset: Int): NativeHhAgg =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): NativeHhAgg =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): Expression =
    copy(key = newChildren(0), count = newChildren(1))
  override def prettyName: String = "graft_hh"
}
