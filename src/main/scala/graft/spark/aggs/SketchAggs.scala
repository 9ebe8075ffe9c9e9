package graft.spark.aggs

import org.apache.spark.sql.{Encoder, Encoders}
import org.apache.spark.sql.expressions.Aggregator

import graft.core._
import graft.ext._
import graft.hash.Fnv1aHasher

/** Mergeable sketch aggregators for the sketches without a Catalyst-native
  * aggregate (cbf, stream threshold, cuckoo, counting cuckoo, QF, EBF,
  * t-digest; Bloom, CMS, heavy hitters, HLL and KLL are the `Native*Agg`
  * `TypedImperativeAggregate`s).
  *
  * Each is a typed `Aggregator[IN, SKETCH, OUT]` exposed through
  * `functions.udaf(...)` (see [[SketchUdafs]]). Spark lowers these to
  * `ScalaAggregator`, a `TypedImperativeAggregate`: the mutable sketch object
  * lives in the hash-aggregate buffer per partition (zero per-row
  * serialization), crosses the partial→final shuffle boundary in the
  * REFERENCE export format (the [[SketchEncoders]] TransformingEncoder
  * codecs), and `merge` is exactly the reference's union/join semantics —
  * associative + commutative, so partition count and ordering cannot change
  * the result (property-tested in SparkAggSpec).
  *
  * `finish` emits the reference-format bytes ([[graft.core]] codecs), so a
  * checkpointed sketch column is directly loadable by the reference library.
  */
/** Buffer encoders that serialize aggregation state in the REFERENCE export
  * format (BASELINE.json: "Catalyst-friendly binary state encoders") — so
  * shuffle bytes == checkpoint bytes == reference-loadable exports. Built on
  * Catalyst's TransformingEncoder over the BinaryEncoder. */
object SketchEncoders {
  import scala.reflect.ClassTag
  import org.apache.spark.sql.catalyst.encoders.{AgnosticEncoders, Codec, ExpressionEncoder}

  def refEncoder[T](enc: T => Array[Byte], dec: Array[Byte] => T)(
      implicit ct: ClassTag[T]): Encoder[T] =
    ExpressionEncoder(
      new AgnosticEncoders.TransformingEncoder[T, Array[Byte]](
        ct,
        AgnosticEncoders.BinaryEncoder,
        () => new Codec[T, Array[Byte]] {
          override def encode(t: T): Array[Byte] = enc(t)
          override def decode(b: Array[Byte]): T = dec(b)
        },
        false))

  implicit val bloomEnc: Encoder[BloomFilter] =
    refEncoder[BloomFilter](_.toBytes, BloomFilter.fromBytes(_))
  implicit val cbfEnc: Encoder[CountingBloomFilter] =
    refEncoder[CountingBloomFilter](_.toBytes, CountingBloomFilter.fromBytes(_))
  implicit val cmsEnc: Encoder[CountMinSketch] =
    refEncoder[CountMinSketch](_.toBytes, CountMinSketch.fromBytes(_))
  implicit val stEnc: Encoder[StreamThreshold] =
    refEncoder[StreamThreshold](_.toBytes, StreamThreshold.fromBytes(_))
  implicit val qfEnc: Encoder[QuotientFilter] =
    refEncoder[QuotientFilter](_.toBytes, QuotientFilter.fromBytes(_))
  implicit val ebfEnc: Encoder[ExpandingBloomFilter] =
    refEncoder[ExpandingBloomFilter](_.toBytes, ExpandingBloomFilter.fromBytes(_))
  implicit val hllEnc: Encoder[Hll] = refEncoder[Hll](_.toBytes, Hll.fromBytes)
  implicit val kllEnc: Encoder[Kll] = refEncoder[Kll](_.toBytes, Kll.fromBytes)
  implicit val tdEnc: Encoder[TDigest] = refEncoder[TDigest](_.toBytes, TDigest.fromBytes)

  /** The cuckoo byte format omits (expansionRate, autoExpand, fp bits) —
    * the per-aggregator encoders below close over those params. */
  def cuckooEncoder(expansionRate: Int, autoExpand: Boolean, fpBits: Int): Encoder[CuckooFilter] =
    refEncoder[CuckooFilter](_.toBytes, CuckooFilter.fromBytes(_, expansionRate, autoExpand, fpBits))
  def ccfEncoder(expansionRate: Int, autoExpand: Boolean, fpBits: Int): Encoder[CountingCuckooFilter] =
    refEncoder[CountingCuckooFilter](_.toBytes, CountingCuckooFilter.fromBytes(_, expansionRate, autoExpand, fpBits))

  val binaryEnc: Encoder[Array[Byte]] = Encoders.BINARY
}

import SketchEncoders._

/** Weighted counting bloom: IN = (key, count); a row with a null key or
  * count is skipped. */
final class CbfAgg(estElements: Long, fpr: Double)
    extends Aggregator[(String, java.lang.Long), CountingBloomFilter, Array[Byte]] {
  def zero: CountingBloomFilter = CountingBloomFilter.empty(estElements, fpr, Fnv1aHasher)
  def reduce(b: CountingBloomFilter, in: (String, java.lang.Long)): CountingBloomFilter = {
    // negative counts are removals (the reference's remove(), with its own
    // clamping rules) — not negative adds
    if (in._1 != null && in._2 != null) {
      val n: Long = in._2
      if (n >= 0) b.add(in._1, n) else b.remove(in._1, -n)
    }
    b
  }
  def merge(a: CountingBloomFilter, b: CountingBloomFilter): CountingBloomFilter = a.addInPlace(b)
  def finish(b: CountingBloomFilter): Array[Byte] = b.toBytes
  def bufferEncoder: Encoder[CountingBloomFilter] = cbfEnc
  def outputEncoder: Encoder[Array[Byte]] = binaryEnc
}

/** IN = (key, count); a row with a null key or count is skipped. */
final class StreamThresholdAgg(threshold: Long, width: Int, depth: Int)
    extends Aggregator[(String, java.lang.Long), StreamThreshold, Map[String, Long]] {
  def zero: StreamThreshold = StreamThreshold.empty(threshold, width, depth, Fnv1aHasher)
  def reduce(b: StreamThreshold, in: (String, java.lang.Long)): StreamThreshold = {
    if (in._1 != null && in._2 != null) b.add(in._1, in._2); b
  }
  def merge(a: StreamThreshold, b: StreamThreshold): StreamThreshold = a.merge(b)
  def finish(b: StreamThreshold): Map[String, Long] = b.meetsThreshold
  def bufferEncoder: Encoder[StreamThreshold] = stEnc
  def outputEncoder: Encoder[Map[String, Long]] =
    org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Map[String, Long]]()
}

final class CuckooAgg(capacity: Int, bucketSize: Int, fingerprintBits: Int)
    extends Aggregator[String, CuckooFilter, Array[Byte]] {
  def zero: CuckooFilter =
    new CuckooFilter(capacity, bucketSize, 500, 2, true, fingerprintBits)
  def reduce(b: CuckooFilter, key: String): CuckooFilter = { if (key != null) b.add(key); b }
  def merge(a: CuckooFilter, b: CuckooFilter): CuckooFilter =
    if (a.elementsAdded >= b.elementsAdded) a.mergeFrom(b) else b.mergeFrom(a)
  def finish(b: CuckooFilter): Array[Byte] = b.toBytes
  def bufferEncoder: Encoder[CuckooFilter] =
    SketchEncoders.cuckooEncoder(2, autoExpand = true, fingerprintBits)
  def outputEncoder: Encoder[Array[Byte]] = binaryEnc
}

final class CountingCuckooAgg(capacity: Int, bucketSize: Int, fingerprintBits: Int)
    extends Aggregator[String, CountingCuckooFilter, Array[Byte]] {
  def zero: CountingCuckooFilter =
    new CountingCuckooFilter(capacity, bucketSize, 500, 2, true, fingerprintBits)
  def reduce(b: CountingCuckooFilter, key: String): CountingCuckooFilter = {
    if (key != null) b.add(key); b
  }
  def merge(a: CountingCuckooFilter, b: CountingCuckooFilter): CountingCuckooFilter =
    if (a.insertedElements >= b.insertedElements) a.mergeFrom(b) else b.mergeFrom(a)
  def finish(b: CountingCuckooFilter): Array[Byte] = b.toBytes
  def bufferEncoder: Encoder[CountingCuckooFilter] =
    SketchEncoders.ccfEncoder(2, autoExpand = true, fingerprintBits)
  def outputEncoder: Encoder[Array[Byte]] = binaryEnc
}

final class QuotientFilterAgg(quotient: Int)
    extends Aggregator[String, QuotientFilter, Array[Byte]] {
  def zero: QuotientFilter = QuotientFilter(quotient, autoExpand = true)
  def reduce(b: QuotientFilter, key: String): QuotientFilter = { if (key != null) b.add(key); b }
  def merge(a: QuotientFilter, b: QuotientFilter): QuotientFilter = {
    if (a.elementsAdded >= b.elementsAdded) { a.merge(b); a } else { b.merge(a); b }
  }
  def finish(b: QuotientFilter): Array[Byte] = b.toBytes
  def bufferEncoder: Encoder[QuotientFilter] = qfEnc
  def outputEncoder: Encoder[Array[Byte]] = binaryEnc
}

/** Expanding bloom built with force=true adds (the commutative mode,
  * SURVEY.md §7.7.1); merge concatenates sub-bloom lists. */
final class EbfAgg(estElements: Long, fpr: Double)
    extends Aggregator[String, ExpandingBloomFilter, Array[Byte]] {
  def zero: ExpandingBloomFilter = ExpandingBloomFilter(estElements, fpr, Fnv1aHasher)
  def reduce(b: ExpandingBloomFilter, key: String): ExpandingBloomFilter = {
    if (key != null) b.add(key, force = true); b
  }
  def merge(a: ExpandingBloomFilter, b: ExpandingBloomFilter): ExpandingBloomFilter = a.mergeFrom(b)
  def finish(b: ExpandingBloomFilter): Array[Byte] = b.toBytes
  def bufferEncoder: Encoder[ExpandingBloomFilter] = ebfEnc
  def outputEncoder: Encoder[Array[Byte]] = binaryEnc
}

/** A null value is skipped. */
final class TDigestAgg(compression: Double)
    extends Aggregator[java.lang.Double, TDigest, Array[Byte]] {
  def zero: TDigest = TDigest(compression)
  def reduce(b: TDigest, v: java.lang.Double): TDigest = { if (v != null) b.update(v); b }
  def merge(a: TDigest, b: TDigest): TDigest = a.merge(b)
  def finish(b: TDigest): Array[Byte] = b.toBytes
  def bufferEncoder: Encoder[TDigest] = tdEnc
  def outputEncoder: Encoder[Array[Byte]] = binaryEnc
}
