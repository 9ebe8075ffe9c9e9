package graft.spark.aggs

import org.apache.spark.sql.catalyst.util.{ArrayBasedMapData, ArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

import graft.core._
import graft.ext.{Hll, Kll, TDigest}
import graft.hash.Fnv1aHasher
import graft.spark.fns.Utf8Fnv

/* The build kinds of [[SketchAgg]], one per SQL aggregate of
 * [[SketchUdafs.sqlAggregates]]. Bloom, CMS, heavy hitters and HLL hash the
 * key's UTF8String bytes in place ([[Utf8Fnv]]: no java String for an ASCII
 * key); the other sketches take the key through their `add(String)`. The
 * *Bytes traits are the byte format and union shared with the merge kinds. */

trait BloomBytes extends SketchKind[BloomFilter] {
  def toBytes(s: BloomFilter): Array[Byte] = s.toBytes
  def fromBytes(b: Array[Byte]): BloomFilter = BloomFilter.fromBytes(b)
  def merge(s: BloomFilter, o: BloomFilter): BloomFilter = s.orInPlace(o)
}

trait CmsBytes extends SketchKind[CountMinSketch] {
  def toBytes(s: CountMinSketch): Array[Byte] = s.toBytes
  def fromBytes(b: Array[Byte]): CountMinSketch = CountMinSketch.fromBytes(b)
  def merge(s: CountMinSketch, o: CountMinSketch): CountMinSketch = s.join(o)
}

trait HllBytes extends SketchKind[Hll] {
  def toBytes(s: Hll): Array[Byte] = s.toBytes
  def fromBytes(b: Array[Byte]): Hll = Hll.fromBytes(b)
  def merge(s: Hll, o: Hll): Hll = s.merge(o)
}

trait KllBytes extends SketchKind[Kll] {
  def toBytes(s: Kll): Array[Byte] = s.toBytes
  def fromBytes(b: Array[Byte]): Kll = Kll.fromBytes(b)
  def merge(s: Kll, o: Kll): Kll = s.merge(o)
}

trait TDigestBytes extends SketchKind[TDigest] {
  def toBytes(s: TDigest): Array[Byte] = s.toBytes
  def fromBytes(b: Array[Byte]): TDigest = TDigest.fromBytes(b)
  def merge(s: TDigest, o: TDigest): TDigest = s.merge(o)
}

/** `bloom_agg`: k seeded hashes per key into a [[BloomPartial]], which
  * stays a list of set-bit positions while that is smaller than the filter;
  * merge = concatenation or in-place OR. OUT = the reference Bloom export. */
case class BloomKind(estElements: Long, fpr: Double) extends SketchKind[BloomPartial] {
  def prettyName: String = "graft_bloom"
  def inputTypes: Seq[DataType] = Seq(StringType)
  def dataType: DataType = BinaryType
  override def nullable: Boolean = false
  def create(): BloomPartial = BloomPartial.empty(estElements, fpr)
  def update(s: BloomPartial, key: Any, unused: Any): BloomPartial = {
    s.addHashes(Utf8Fnv.hashes(key.asInstanceOf[UTF8String], s.numHashes))
    s
  }
  def merge(s: BloomPartial, o: BloomPartial): BloomPartial = s.merge(o)
  override def eval(s: BloomPartial): Any = s.toDense.toBytes
  def toBytes(s: BloomPartial): Array[Byte] = s.toBytes
  def fromBytes(b: Array[Byte]): BloomPartial = BloomPartial.fromBytes(estElements, fpr, b)
}

/** `cms_agg`: weighted Count-Min; a negative count is a removal (the
  * reference's remove(), with its own clamping), not a negative add. */
case class CmsKind(width: Int, depth: Int) extends CmsBytes {
  def prettyName: String = "graft_cms"
  def inputTypes: Seq[DataType] = Seq(StringType, LongType)
  def dataType: DataType = BinaryType
  override def nullable: Boolean = false
  def create(): CountMinSketch = CountMinSketch.empty(width, depth, CmsQueryType.Min)
  def update(s: CountMinSketch, key: Any, count: Any): CountMinSketch = {
    val n = count.asInstanceOf[Long]
    val hs = Utf8Fnv.hashes(key.asInstanceOf[UTF8String], depth)
    if (n >= 0) s.addHashes(hs, n) else s.removeHashes(hs, -n)
    s
  }
}

/** `heavy_hitters`: each partition tracks extra candidates so the merged
  * top-k is a superset of the exact top-k whenever the per-partition tails
  * don't conspire; merge is the two-phase candidate union of SURVEY.md
  * §7.7.1. OUT = the top-k map<string, bigint>. */
case class HeavyHittersKind(numHitters: Int, width: Int, depth: Int)
    extends SketchKind[HeavyHitters] {
  def prettyName: String = "graft_hh"
  def inputTypes: Seq[DataType] = Seq(StringType, LongType)
  def dataType: DataType = MapType(StringType, LongType, valueContainsNull = false)
  override def nullable: Boolean = false
  def create(): HeavyHitters =
    HeavyHitters.empty(math.max(numHitters * 4, numHitters + 16), width, depth)
  def update(s: HeavyHitters, key: Any, count: Any): HeavyHitters = {
    val k = key.asInstanceOf[UTF8String]
    s.addWithHashes(k.toString, Utf8Fnv.hashes(k, depth), count.asInstanceOf[Long])
    s
  }
  def merge(s: HeavyHitters, o: HeavyHitters): HeavyHitters = s.merge(o)
  override def eval(s: HeavyHitters): Any = {
    val top = s.heavyHitters.toSeq.sortBy { case (k, v) => (-v, k) }.take(numHitters)
    ArrayBasedMapData(top.map(e => UTF8String.fromString(e._1)).toArray, top.map(_._2).toArray)
  }
  def toBytes(s: HeavyHitters): Array[Byte] = s.toBytes
  def fromBytes(b: Array[Byte]): HeavyHitters = HeavyHitters.fromBytes(b)
}

/** `hll_count` when `estimate` (OUT = the Long distinct-count estimate),
  * `hll_agg` otherwise (OUT = HLL bytes): the construction Spark's own
  * approx_count_distinct uses (SURVEY.md §1.3), with our sketch. */
case class HllKind(p: Int, estimate: Boolean) extends HllBytes {
  def prettyName: String = if (estimate) "graft_hll_count" else "graft_hll"
  def inputTypes: Seq[DataType] = Seq(StringType)
  def dataType: DataType = if (estimate) LongType else BinaryType
  override def nullable: Boolean = false
  def create(): Hll = Hll(p)
  def update(s: Hll, key: Any, unused: Any): Hll = {
    s.addHash64(Utf8Fnv.hash64(key.asInstanceOf[UTF8String], 0))
    s
  }
  override def eval(s: Hll): Any = if (estimate) s.estimate else s.toBytes
}

/** `kll_agg` over a double column. With no `percentages` OUT = engine KLL
  * bytes; with them it evaluates straight to the quantile value(s), the
  * target of the percentile_approx -> KLL rewrite, and gives null on empty
  * input (percentile_approx parity). */
case class KllKind(k: Int, percentages: Seq[Double] = Nil, asArray: Boolean = false)
    extends KllBytes {
  private def emitsBytes: Boolean = percentages.isEmpty
  def prettyName: String = if (emitsBytes) "graft_kll" else "graft_kll_quantile"
  def inputTypes: Seq[DataType] = Seq(DoubleType)
  def dataType: DataType =
    if (emitsBytes) BinaryType
    else if (asArray) ArrayType(DoubleType, containsNull = false)
    else DoubleType
  override def nullable: Boolean = !emitsBytes
  def create(): Kll = Kll(k)
  def update(s: Kll, v: Any, unused: Any): Kll = { s.update(v.asInstanceOf[Double]); s }
  override def eval(s: Kll): Any =
    if (emitsBytes) s.toBytes
    else if (s.n == 0) null
    else if (asArray) ArrayData.toArrayData(percentages.map(s.quantile).toArray)
    else s.quantile(percentages.head)
}

/** `tdigest_agg` over a double column. */
case class TDigestKind(compression: Double) extends TDigestBytes {
  def prettyName: String = "tdigest_agg"
  def inputTypes: Seq[DataType] = Seq(DoubleType)
  def dataType: DataType = BinaryType
  def create(): TDigest = TDigest(compression)
  def update(s: TDigest, v: Any, unused: Any): TDigest = { s.update(v.asInstanceOf[Double]); s }
}

/** `cbf_agg`: weighted counting Bloom; a negative count is a removal. */
case class CbfKind(estElements: Long, fpr: Double) extends SketchKind[CountingBloomFilter] {
  def prettyName: String = "cbf_agg"
  def inputTypes: Seq[DataType] = Seq(StringType, LongType)
  def dataType: DataType = BinaryType
  def create(): CountingBloomFilter = CountingBloomFilter.empty(estElements, fpr, Fnv1aHasher)
  def update(s: CountingBloomFilter, key: Any, count: Any): CountingBloomFilter = {
    val n = count.asInstanceOf[Long]
    if (n >= 0) s.add(key.toString, n) else s.remove(key.toString, -n)
    s
  }
  def merge(s: CountingBloomFilter, o: CountingBloomFilter): CountingBloomFilter = s.addInPlace(o)
  def toBytes(s: CountingBloomFilter): Array[Byte] = s.toBytes
  def fromBytes(b: Array[Byte]): CountingBloomFilter = CountingBloomFilter.fromBytes(b)
}

/** `stream_threshold`: OUT = map<key, estimate> of the keys whose estimate
  * meets `threshold`. */
case class StreamThresholdKind(threshold: Long, width: Int, depth: Int)
    extends SketchKind[StreamThreshold] {
  def prettyName: String = "stream_threshold"
  def inputTypes: Seq[DataType] = Seq(StringType, LongType)
  def dataType: DataType = MapType(StringType, LongType, valueContainsNull = false)
  def create(): StreamThreshold = StreamThreshold.empty(threshold, width, depth, Fnv1aHasher)
  def update(s: StreamThreshold, key: Any, count: Any): StreamThreshold = {
    s.add(key.toString, count.asInstanceOf[Long])
    s
  }
  def merge(s: StreamThreshold, o: StreamThreshold): StreamThreshold = s.merge(o)
  override def eval(s: StreamThreshold): Any = {
    val meets = s.meetsThreshold.toArray
    ArrayBasedMapData(meets.map(e => UTF8String.fromString(e._1)), meets.map(_._2))
  }
  def toBytes(s: StreamThreshold): Array[Byte] = s.toBytes
  def fromBytes(b: Array[Byte]): StreamThreshold = StreamThreshold.fromBytes(b)
}

/** `cuckoo_agg`. The cuckoo byte format omits (expansion rate, auto
  * expand, fingerprint bits), so `fromBytes` supplies this kind's. Merge
  * re-inserts the smaller filter's fingerprints into the larger. */
case class CuckooKind(capacity: Int, bucketSize: Int, fingerprintBits: Int)
    extends SketchKind[CuckooFilter] {
  def prettyName: String = "cuckoo_agg"
  def inputTypes: Seq[DataType] = Seq(StringType)
  def dataType: DataType = BinaryType
  def create(): CuckooFilter = new CuckooFilter(capacity, bucketSize, 500, 2, true, fingerprintBits)
  def update(s: CuckooFilter, key: Any, unused: Any): CuckooFilter = { s.add(key.toString); s }
  def merge(s: CuckooFilter, o: CuckooFilter): CuckooFilter =
    if (s.elementsAdded >= o.elementsAdded) s.mergeFrom(o) else o.mergeFrom(s)
  def toBytes(s: CuckooFilter): Array[Byte] = s.toBytes
  def fromBytes(b: Array[Byte]): CuckooFilter = CuckooFilter.fromBytes(b, 2, true, fingerprintBits)
}

/** `counting_cuckoo_agg`: as [[CuckooKind]], with counting bins. */
case class CountingCuckooKind(capacity: Int, bucketSize: Int, fingerprintBits: Int)
    extends SketchKind[CountingCuckooFilter] {
  def prettyName: String = "counting_cuckoo_agg"
  def inputTypes: Seq[DataType] = Seq(StringType)
  def dataType: DataType = BinaryType
  def create(): CountingCuckooFilter =
    new CountingCuckooFilter(capacity, bucketSize, 500, 2, true, fingerprintBits)
  def update(s: CountingCuckooFilter, key: Any, unused: Any): CountingCuckooFilter = {
    s.add(key.toString)
    s
  }
  def merge(s: CountingCuckooFilter, o: CountingCuckooFilter): CountingCuckooFilter =
    if (s.insertedElements >= o.insertedElements) s.mergeFrom(o) else o.mergeFrom(s)
  def toBytes(s: CountingCuckooFilter): Array[Byte] = s.toBytes
  def fromBytes(b: Array[Byte]): CountingCuckooFilter =
    CountingCuckooFilter.fromBytes(b, 2, true, fingerprintBits)
}

/** `qf_agg`: merge re-adds the smaller filter's hashes into the larger. */
case class QuotientFilterKind(quotient: Int) extends SketchKind[QuotientFilter] {
  def prettyName: String = "qf_agg"
  def inputTypes: Seq[DataType] = Seq(StringType)
  def dataType: DataType = BinaryType
  def create(): QuotientFilter = QuotientFilter(quotient, autoExpand = true)
  def update(s: QuotientFilter, key: Any, unused: Any): QuotientFilter = { s.add(key.toString); s }
  def merge(s: QuotientFilter, o: QuotientFilter): QuotientFilter =
    if (s.elementsAdded >= o.elementsAdded) { s.merge(o); s } else { o.merge(s); o }
  def toBytes(s: QuotientFilter): Array[Byte] = s.toBytes
  def fromBytes(b: Array[Byte]): QuotientFilter = QuotientFilter.fromBytes(b)
}

/** `ebf_agg`: expanding Bloom built with force=true adds (the commutative
  * mode, SURVEY.md §7.7.1); merge concatenates sub-bloom lists. */
case class EbfKind(estElements: Long, fpr: Double) extends SketchKind[ExpandingBloomFilter] {
  def prettyName: String = "ebf_agg"
  def inputTypes: Seq[DataType] = Seq(StringType)
  def dataType: DataType = BinaryType
  def create(): ExpandingBloomFilter = ExpandingBloomFilter(estElements, fpr, Fnv1aHasher)
  def update(s: ExpandingBloomFilter, key: Any, unused: Any): ExpandingBloomFilter = {
    s.add(key.toString, force = true)
    s
  }
  def merge(s: ExpandingBloomFilter, o: ExpandingBloomFilter): ExpandingBloomFilter =
    s.mergeFrom(o)
  def toBytes(s: ExpandingBloomFilter): Array[Byte] = s.toBytes
  def fromBytes(b: Array[Byte]): ExpandingBloomFilter = ExpandingBloomFilter.fromBytes(b)
}
