package graft.spark.aggs

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, ImplicitCastInputTypes}
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.types.{BinaryType, DataType}

/** The one sketch aggregate: every build and merge aggregate of
  * [[SketchUdafs]], [[SaltedAgg]] and the [[graft.spark.plans.GraftExtensions]]
  * rewrite rules is this `TypedImperativeAggregate` over a [[SketchKind]].
  * The live sketch is the per-partition hash-aggregate buffer (no per-row
  * serialization), crosses the partial -> final shuffle in the sketch's
  * reference byte format (`kind.toBytes` / `kind.fromBytes`; the one
  * exception is a sparse [[BloomPartial]], which is shorter), and partials
  * fold with the sketch's own union, which is associative and commutative,
  * so the partition count cannot change the answer (SparkAggSpec).
  *
  * One null rule: a row with a null input (key, value or count) is skipped.
  * A buffer may be null (a merge aggregate before its first non-null input);
  * it serializes to null, merges as the identity and evaluates to null.
  */
case class SketchAgg[S >: Null](
    children: Seq[Expression],
    kind: SketchKind[S],
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0
) extends TypedImperativeAggregate[S] with ImplicitCastInputTypes {

  // the analyzer casts (or rejects) the inputs, so update() never CCEs
  override def inputTypes: Seq[DataType] = kind.inputTypes
  override def nullable: Boolean = kind.nullable
  override def dataType: DataType = kind.dataType
  override def prettyName: String = kind.prettyName

  // one or two inputs: (key | value | sketch bytes) or (key, count)
  private[this] val first = children.head
  private[this] val second = children.lift(1).orNull

  override def createAggregationBuffer(): S = kind.create()

  override def update(buffer: S, input: InternalRow): S = {
    val a = first.eval(input)
    if (a == null) buffer
    else if (second == null) kind.update(buffer, a, null)
    else {
      val b = second.eval(input)
      if (b == null) buffer else kind.update(buffer, a, b)
    }
  }

  override def merge(buffer: S, input: S): S =
    if (buffer == null) input else if (input == null) buffer else kind.merge(buffer, input)
  override def eval(buffer: S): Any = if (buffer == null) null else kind.eval(buffer)
  override def serialize(buffer: S): Array[Byte] =
    if (buffer == null) null else kind.toBytes(buffer)
  override def deserialize(bytes: Array[Byte]): S =
    if (bytes == null) null else kind.fromBytes(bytes)

  override def withNewMutableAggBufferOffset(newOffset: Int): SketchAgg[S] =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): SketchAgg[S] =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): Expression =
    copy(children = newChildren)
}

/** What one sketch supplies to [[SketchAgg]]: its parameters (a case class),
  * input and output types, pretty name, and the sketch's create / update /
  * union / output / byte format. Must stay Java-serializable: it rides the
  * plan to the executors. */
abstract class SketchKind[S >: Null] extends Serializable {
  def prettyName: String
  def inputTypes: Seq[DataType]
  def dataType: DataType
  /** Spark's default for an aggregate; a kind whose output schema is
    * declared non-null says false. */
  def nullable: Boolean = true
  def create(): S
  /** Fold one row; `a` and `b` are never null, and `b` is null only for a
    * one-input kind. Returns the buffer (usually `sketch` itself). */
  def update(sketch: S, a: Any, b: Any): S
  def merge(sketch: S, other: S): S
  def eval(sketch: S): Any = toBytes(sketch)
  def toBytes(sketch: S): Array[Byte]
  def fromBytes(bytes: Array[Byte]): S
}

/** Folds a binary column of one sketch's reference bytes with the sketch's
  * union: the second level of a two-level aggregate and the reducer of a
  * checkpointed sketch table. The buffer stays null until the first non-null
  * input, so all-null input gives null. */
abstract class MergeKind[S >: Null](val prettyName: String) extends SketchKind[S] {
  def inputTypes: Seq[DataType] = Seq(BinaryType)
  def dataType: DataType = BinaryType
  def create(): S = null
  def update(sketch: S, bytes: Any, unused: Any): S = {
    val in = fromBytes(bytes.asInstanceOf[Array[Byte]])
    if (sketch == null) in else merge(sketch, in)
  }
}

case object BloomUnion extends MergeKind[graft.core.BloomFilter]("bloomunionagg") with BloomBytes
case object HllUnion extends MergeKind[graft.ext.Hll]("hllunionagg") with HllBytes
case object CmsJoin extends MergeKind[graft.core.CountMinSketch]("cmsjoinagg") with CmsBytes
case object KllMerge extends MergeKind[graft.ext.Kll]("kllmergeagg") with KllBytes
case object TDigestMerge extends MergeKind[graft.ext.TDigest]("tdigestmergeagg") with TDigestBytes
