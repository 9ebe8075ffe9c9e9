package graft.core

import java.nio.{ByteBuffer, ByteOrder}

import scala.collection.mutable.ArrayBuffer

import graft.hash.{Fnv1aHasher, KeyHasher}

class RotatingBloomFilterException(msg: String) extends ProbablesBaseException(msg)

/** Expanding Bloom filter (/root/reference/probables/blooms/expandingbloom.py):
  * a list of equally-sized plain Blooms that grows when the newest one reaches
  * `estElements`. Adds are check-then-insert: `_added_elements` always
  * increments, but the key is only inserted into the newest bloom when no
  * sub-bloom already claims it (expandingbloom.py:159-169) — this makes plain
  * add order-dependent; `force = true` is the commutative mode used for
  * distributed building (SURVEY.md §7.7.1).
  *
  * Export layout (expandingbloom.py:185-207): per bloom a LE u64 els_added +
  * the raw bit array, then footer `QQQf` = (num_blooms:u64, est:u64,
  * added:u64, fpr:f32).
  */
class ExpandingBloomFilter(
    val estElements: Long,
    val falsePositiveRate: Double,
    val hasher: KeyHasher
) extends Serializable {

  val blooms: ArrayBuffer[BloomFilter] = ArrayBuffer(newBloom())
  var addedElements: Long = 0

  protected def newBloom(): BloomFilter = BloomFilter.empty(estElements, falsePositiveRate, hasher)

  def expansions: Int = blooms.size - 1
  def elementsAdded: Long = addedElements
  def fpr: Float = blooms.head.fpr

  def hashes(key: String): Array[Long] = blooms.head.hashes(key)

  def push(): Unit = blooms += newBloom()

  def check(key: String): Boolean = checkHashes(hashes(key))
  def checkHashes(hs: Array[Long]): Boolean = blooms.exists(_.checkHashes(hs))

  def add(key: String, force: Boolean = false): Unit = addHashes(hashes(key), force)

  def addHashes(hs: Array[Long], force: Boolean = false): Unit = {
    addedElements += 1
    if (force || !checkHashes(hs)) {
      checkForGrowth()
      blooms.last.addHashes(hs)
    }
  }

  private def checkForGrowth(): Unit = {
    if (blooms.last.elsAdded >= estElements) push()
  }

  /** Distributed-merge extension: this filter's non-empty sub-blooms, then
    * the other's (the union of two expanding filters' contents; documented
    * deviation — the reference has no EBF merge), each bit array intact.
    * An empty sub-bloom (no adds, so no bits) answers no probe, so dropping
    * it changes no answer, and merging into a fresh filter gives the other
    * side's bytes; one empty sub-bloom stays when both sides are empty. */
  def mergeFrom(second: ExpandingBloomFilter): ExpandingBloomFilter = {
    blooms.filterInPlace(_.elsAdded > 0)
    blooms ++= second.blooms.iterator.filter(_.elsAdded > 0)
      .map(b => BloomFilter.fromBytes(b.toBytes, hasher))
    if (blooms.isEmpty) blooms += newBloom()
    addedElements += second.addedElements
    this
  }

  def toBytes: Array[Byte] = {
    val bloomLen = blooms.head.bloomLength
    val bb = ByteBuffer.allocate(blooms.size * (8 + bloomLen) + 28).order(ByteOrder.LITTLE_ENDIAN)
    blooms.foreach { b =>
      bb.putLong(b.elsAdded)
      bb.put(b.bloom)
    }
    bb.putLong(blooms.size.toLong)
    bb.putLong(estElements)
    bb.putLong(addedElements)
    bb.putFloat(fpr)
    bb.array()
  }
}

object ExpandingBloomFilter {
  def apply(estElements: Long, falsePositiveRate: Double,
            hasher: KeyHasher = Fnv1aHasher): ExpandingBloomFilter =
    new ExpandingBloomFilter(estElements, falsePositiveRate, hasher)

  def fromBytes(b: Array[Byte], hasher: KeyHasher = Fnv1aHasher): ExpandingBloomFilter = {
    val bb = ByteBuffer.wrap(b, b.length - 28, 28).order(ByteOrder.LITTLE_ENDIAN)
    val size = bb.getLong.toInt
    val est = bb.getLong
    val added = bb.getLong
    val fpr = bb.getFloat
    val ebf = new ExpandingBloomFilter(est, fpr.toDouble, hasher)
    ebf.blooms.clear()
    val bloomLen = BloomFilter.empty(est, fpr.toDouble, hasher).bloomLength
    var off = 0
    var i = 0
    while (i < size) {
      val hdr = ByteBuffer.wrap(b, off, 8).order(ByteOrder.LITTLE_ENDIAN)
      val els = hdr.getLong
      val blm = BloomFilter.empty(est, fpr.toDouble, hasher)
      System.arraycopy(b, off + 8, blm.bloom, 0, bloomLen)
      blm.elsAdded = els
      ebf.blooms += blm
      off += 8 + bloomLen
      i += 1
    }
    ebf.addedElements = added
    ebf
  }
}

/** Rotating Bloom filter (expandingbloom.py:250-370): an expanding bloom with
  * a bounded queue; when the newest bloom is full and the queue is at
  * `maxQueueSize`, the oldest bloom is dropped — a count-based sliding window.
  * The Spark-native analogue for event-time data is `groupBy(window(ts))`
  * with per-window sketches and watermark expiry (see
  * [[graft.spark.SparkQueries]]); this class is the sequential-parity core. */
final class RotatingBloomFilter(
    estElements: Long,
    falsePositiveRate: Double,
    val maxQueueSize: Int,
    hasher: KeyHasher
) extends ExpandingBloomFilter(estElements, falsePositiveRate, hasher) {

  def currentQueueSize: Int = blooms.size

  override def addHashes(hs: Array[Long], force: Boolean = false): Unit = {
    addedElements += 1
    if (force || !checkHashes(hs)) {
      rotate(force = false)
      blooms.last.addHashes(hs)
    }
  }

  def pop(): Unit = {
    if (currentQueueSize == 1)
      throw new RotatingBloomFilterException(
        "Popping a Bloom Filter will result in an unusable system!")
    blooms.remove(0)
  }

  override def push(): Unit = rotate(force = true)

  private def rotate(force: Boolean): Unit = {
    val readyToRotate = blooms.last.elsAdded == blooms.last.estElements
    val noNeedToPop = currentQueueSize < maxQueueSize
    if (force && noNeedToPop) blooms += newBloom()
    else if (force) { blooms.remove(0); blooms += newBloom() }
    else if (readyToRotate && noNeedToPop) blooms += newBloom()
    else if (readyToRotate) { blooms.remove(0); blooms += newBloom() }
  }
}

object RotatingBloomFilter {
  def apply(estElements: Long, falsePositiveRate: Double, maxQueueSize: Int = 10,
            hasher: KeyHasher = Fnv1aHasher): RotatingBloomFilter =
    new RotatingBloomFilter(estElements, falsePositiveRate, maxQueueSize, hasher)

  /** Rebuild from the EBF byte layout (the reference RBF inherits `export`
    * from ExpandingBloom, expandingbloom.py:185-207 — `maxQueueSize` is not
    * part of the export and must be re-supplied). Used as the streaming
    * per-key state codec, so stream state == reference export bytes. */
  def fromBytes(b: Array[Byte], maxQueueSize: Int,
                hasher: KeyHasher = Fnv1aHasher): RotatingBloomFilter = {
    val ebf = ExpandingBloomFilter.fromBytes(b, hasher)
    val rbf = new RotatingBloomFilter(ebf.estElements, ebf.fpr.toDouble, maxQueueSize, hasher)
    rbf.blooms.clear()
    rbf.blooms ++= ebf.blooms
    rbf.addedElements = ebf.addedElements
    rbf
  }
}
