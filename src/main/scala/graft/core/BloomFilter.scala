package graft.core

import java.nio.{ByteBuffer, ByteOrder}

import graft.hash.{Fnv, Fnv1aHasher, Hashers, KeyHasher}

/** Shared Bloom sizing math, replicating the reference byte-for-byte
  * (/root/reference/probables/blooms/bloom.py:463-483):
  *
  *   - the requested false-positive rate is round-tripped through a C `float`
  *     ("to mimic the c version", bloom.py:474-475) — 0.05 becomes
  *     0.05000000074505806;
  *   - `m = ceil(-n * ln(p32) / 0.4804530139182)` (the literal ln(2)^2);
  *   - `k = round(0.6931471805599453 * m / n)` (the literal ln 2).
  */
object BloomMath {
  final case class Params(fpr: Float, numHashes: Int, numBits: Long)

  def optimizedParams(estElements: Long, falsePositiveRate: Double): Params = {
    if (estElements <= 0)
      throw new InitializationError("Bloom: estimated elements must be greater than 0")
    if (falsePositiveRate < 0.0 || falsePositiveRate >= 1.0)
      throw new InitializationError("Bloom: false positive rate must be between 0.0 and 1.0")
    val f32 = falsePositiveRate.toFloat // C-float round-trip (bloom.py:474-475)
    val m = math.ceil((-estElements.toDouble * math.log(f32.toDouble)) / 0.4804530139182).toLong
    val k = math.round(0.6931471805599453 * m / estElements).toInt
    if (k == 0)
      throw new InitializationError("Bloom: Number hashes is zero; unusable parameters provided")
    Params(f32, k, m)
  }

  /** `int(-(m/k) * ln(1 - setBits/m))`, −1 when every slot is set
    * (bloom.py:340-352). Truncation toward zero, as Python `int()`. */
  def estimateElements(setBits: Long, numBits: Long, numHashes: Int): Long = {
    if (setBits >= numBits) return -1L
    val logN = math.log(1.0 - setBits.toDouble / numBits.toDouble)
    (-1.0 * (numBits.toDouble / numHashes.toDouble) * logN).toLong
  }

  /** `(1 - e^{-k*added/m})^k` (bloom.py:361-369). */
  def currentFalsePositiveRate(elsAdded: Long, numBits: Long, numHashes: Int): Double = {
    val dbl = (numHashes.toDouble * -1.0 * elsAdded.toDouble) / numBits.toDouble
    math.pow(1.0 - math.exp(dbl), numHashes.toDouble)
  }
}

/** Mutable Bloom filter, byte-layout compatible with the reference export
  * format (payload byte array + little-endian `QQf` footer of
  * (est_elements:u64, els_added:u64, fpr:f32), bloom.py:107-111, 287-304;
  * hex export uses a big-endian footer, bloom.py:274-285).
  *
  * This is the engine-internal state block; Spark exposure is via
  * [[graft.spark.aggs.NativeBloomAgg]] (mergeable aggregation) and the probe/set-op
  * functions in [[graft.spark.fns.SketchFunctions]].
  */
final class BloomFilter private (
    val estElements: Long,
    val fpr: Float,
    val numHashes: Int,
    val numBits: Long,
    val bloom: Array[Byte],
    var elsAdded: Long,
    val hasher: KeyHasher
) extends Serializable {

  def bloomLength: Int = bloom.length

  def hashes(key: String): Array[Long] = hasher.hashes(key, numHashes)
  def hashes(key: Array[Byte]): Array[Long] = hasher.hashes(key, numHashes)

  def add(key: String): Unit = addHashes(hashes(key))
  def add(key: Array[Byte]): Unit = addHashes(hashes(key))

  def addHashes(hs: Array[Long]): Unit = {
    var i = 0
    while (i < numHashes) {
      val k = java.lang.Long.remainderUnsigned(hs(i), numBits)
      val idx = (k >>> 3).toInt
      bloom(idx) = (bloom(idx) | (1 << (k & 7L).toInt)).toByte
      i += 1
    }
    elsAdded += 1
  }

  /** Membership probe, equal to `checkHashes(hashes(key))`. The default
    * fnv-1a hasher's seeds are independent (hashes.py:71-83), so it hashes
    * one seed at a time and returns at the first clear bit, as Spark's
    * `BloomFilterImpl.mightContain` does: a non-member of a sparse filter
    * costs about one fnv pass instead of `numHashes`. The chained md5/sha256
    * hashers derive each round from the previous one and keep the
    * all-hashes path. */
  def check(key: String): Boolean =
    if (hasher eq Fnv1aHasher) {
      var i = 0
      while (i < numHashes) {
        if (!bitSet(Fnv.fnv1a64(key, i))) return false
        i += 1
      }
      true
    } else checkHashes(hashes(key))

  def check(key: Array[Byte]): Boolean =
    if (hasher eq Fnv1aHasher) {
      var i = 0
      while (i < numHashes) {
        if (!bitSet(Fnv.fnv1a64(key, i))) return false
        i += 1
      }
      true
    } else checkHashes(hashes(key))

  def checkHashes(hs: Array[Long]): Boolean = {
    var i = 0
    while (i < numHashes) {
      if (!bitSet(hs(i))) return false
      i += 1
    }
    true
  }

  /** Whether the bit one hash value maps to is set. */
  def bitSet(h: Long): Boolean = {
    val k = java.lang.Long.remainderUnsigned(h, numBits)
    (bloom((k >>> 3).toInt) & (1 << (k & 7L).toInt)) != 0
  }

  def clear(): Unit = {
    java.util.Arrays.fill(bloom, 0.toByte)
    elsAdded = 0
  }

  def setBitsCount: Long = {
    var cnt = 0L
    var i = 0
    while (i < bloom.length) { cnt += java.lang.Integer.bitCount(bloom(i) & 0xff); i += 1 }
    cnt
  }

  def estimateElements: Long = BloomMath.estimateElements(setBitsCount, numBits, numHashes)

  def currentFalsePositiveRate: Double =
    BloomMath.currentFalsePositiveRate(elsAdded, numBits, numHashes)

  def exportSize: Int = bloomLength + 20

  private def requireSimilar(second: BloomFilter): Unit = {
    val ok = numHashes == second.numHashes && numBits == second.numBits &&
      hasher.name == second.hasher.name
    if (!ok) throw new SimilarityError("Bloom Filters are not similar")
  }

  /** Bitwise OR; the result's elements_added is its own cardinality estimate
    * (bloom.py:401-428). */
  def union(second: BloomFilter): BloomFilter = {
    requireSimilar(second)
    val res = BloomFilter.empty(estElements, fpr.toDouble, hasher)
    var i = 0
    while (i < bloom.length) { res.bloom(i) = (bloom(i) | second.bloom(i)).toByte; i += 1 }
    res.elsAdded = res.estimateElements
    res
  }

  /** In-place OR — the distributed merge primitive (associative+commutative).
    * Keeps `elsAdded` as the running sum of raw adds; callers that need the
    * reference `union` semantics use [[union]]. */
  def orInPlace(second: BloomFilter): BloomFilter = {
    requireSimilar(second)
    var i = 0
    while (i < bloom.length) { bloom(i) = (bloom(i) | second.bloom(i)).toByte; i += 1 }
    elsAdded += second.elsAdded
    this
  }

  def intersection(second: BloomFilter): BloomFilter = {
    requireSimilar(second)
    val res = BloomFilter.empty(estElements, fpr.toDouble, hasher)
    var i = 0
    while (i < bloom.length) { res.bloom(i) = (bloom(i) & second.bloom(i)).toByte; i += 1 }
    res.elsAdded = res.estimateElements
    res
  }

  /** popcount(AND)/popcount(OR); 1.0 when the union is empty (bloom.py:430-460). */
  def jaccardIndex(second: BloomFilter): Double = {
    requireSimilar(second)
    var cntUnion = 0L
    var cntInt = 0L
    var i = 0
    while (i < bloom.length) {
      val a = bloom(i) & 0xff
      val b = second.bloom(i) & 0xff
      cntUnion += java.lang.Integer.bitCount(a | b)
      cntInt += java.lang.Integer.bitCount(a & b)
      i += 1
    }
    if (cntUnion == 0) 1.0 else cntInt.toDouble / cntUnion.toDouble
  }

  /** Reference export format: payload bytes + LE `QQf` footer (bloom.py:287-304). */
  def toBytes: Array[Byte] = {
    val bb = ByteBuffer.allocate(bloomLength + 20).order(ByteOrder.LITTLE_ENDIAN)
    bb.put(bloom)
    bb.putLong(estElements)
    bb.putLong(elsAdded)
    bb.putFloat(fpr)
    bb.array()
  }

  /** Hex export: payload hex + **big-endian** footer hex (bloom.py:274-285). */
  def toHex: String = {
    val footer = ByteBuffer.allocate(20).order(ByteOrder.BIG_ENDIAN)
    footer.putLong(estElements)
    footer.putLong(elsAdded)
    footer.putFloat(fpr)
    Codec.hex(bloom) + Codec.hex(footer.array())
  }

  /** C-header export (bloom.py:306-322): the full hex image as a C byte
    * array plus the sizing constants — dev-tool parity with the reference. */
  def toCHeader: String = {
    val bytes = Codec.unhex(toHex)
    val body = bytes.map(b => f"0x${b & 0xff}%02x").mkString(", ")
      .grouped(80).map(l => "  " + l.trim).mkString("\n")
    s"""/* BloomFilter Export of a standard BloomFilter */
       |#include <inttypes.h>
       |const uint64_t estimated_elements = $estElements;
       |const uint64_t elements_added = $elsAdded;
       |const float false_positive_rate = ${fpr.toDouble};
       |const uint64_t number_bits = $numBits;
       |const unsigned int number_hashes = $numHashes;
       |const unsigned char bloom[] = {
       |$body
       |};
       |""".stripMargin
  }

  override def toString: String = {
    f"BloomFilter:%n" +
      f"\tbits: $numBits%n" +
      f"\testimated elements: $estElements%n" +
      f"\tnumber hashes: $numHashes%n" +
      f"\tmax false positive rate: ${fpr.toDouble}%.6f%n" +
      f"\tbloom length (8 bits): $bloomLength%n" +
      f"\telements added: $elsAdded%n" +
      f"\testimated elements added: $estimateElements%n" +
      f"\tcurrent false positive rate: $currentFalsePositiveRate%.6f%n" +
      f"\texport size (bytes): $exportSize%n" +
      f"\tnumber bits set: $setBitsCount%n" +
      f"\tis on disk: no%n"
  }
}

object BloomFilter {
  def empty(estElements: Long, falsePositiveRate: Double, hasher: KeyHasher = Fnv1aHasher): BloomFilter = {
    val p = BloomMath.optimizedParams(estElements, falsePositiveRate)
    val len = math.ceil(p.numBits / 8.0).toInt
    new BloomFilter(estElements, p.fpr, p.numHashes, p.numBits, new Array[Byte](len), 0L, hasher)
  }

  def fromBytes(b: Array[Byte], hasher: KeyHasher = Fnv1aHasher): BloomFilter = {
    val bb = ByteBuffer.wrap(b, b.length - 20, 20).order(ByteOrder.LITTLE_ENDIAN)
    val est = bb.getLong
    val added = bb.getLong
    val fpr = bb.getFloat
    val blm = empty(est, fpr.toDouble, hasher)
    System.arraycopy(b, 0, blm.bloom, 0, blm.bloomLength)
    blm.elsAdded = added
    blm
  }

  def fromHex(s: String, hasher: KeyHasher = Fnv1aHasher): BloomFilter = {
    val all = Codec.unhex(s)
    val bb = ByteBuffer.wrap(all, all.length - 20, 20).order(ByteOrder.BIG_ENDIAN)
    val est = bb.getLong
    val added = bb.getLong
    val fpr = bb.getFloat
    val blm = empty(est, fpr.toDouble, hasher)
    System.arraycopy(all, 0, blm.bloom, 0, blm.bloomLength)
    blm.elsAdded = added
    blm
  }
}

/** Hex codec helpers shared by the sketch exports. */
object Codec {
  private val digits = "0123456789abcdef".toCharArray

  def hex(b: Array[Byte]): String = {
    val sb = new java.lang.StringBuilder(b.length * 2)
    var i = 0
    while (i < b.length) {
      val v = b(i) & 0xff
      sb.append(digits(v >>> 4)).append(digits(v & 0xf))
      i += 1
    }
    sb.toString
  }

  def unhex(s: String): Array[Byte] = {
    require(s.length % 2 == 0, "hex string must have even length")
    val out = new Array[Byte](s.length / 2)
    var i = 0
    while (i < out.length) {
      out(i) = Integer.parseInt(s.substring(2 * i, 2 * i + 2), 16).toByte
      i += 1
    }
    out
  }
}
