package graft.spark.fns

import org.apache.spark.unsafe.Platform
import org.apache.spark.unsafe.array.ByteArrayMethods
import org.apache.spark.unsafe.types.UTF8String

import graft.hash.{Fnv, Fnv1aHasher}

/** The fnv-1a fold over a key's UTF-8 bytes in place, shared by the native
  * aggregates, SQL `fnv1a64` and the sketch probes' [[KeyFold]]. The
  * reference folds a string per Unicode code point (hashes.py:98); for an
  * all-ASCII string (`isFullAscii`, cached on the instance) each code point
  * is one byte, so the byte fold gives the same hash without building a
  * Java String. The `fnv1a64` and `*Seeds` folds assume an ASCII key;
  * `hash64` and `hashes` check it and fall back to the String fold
  * otherwise. */
object Utf8Fnv {

  /** Seed `seed`'s fnv-1a-64 over the bytes of an all-ASCII `s`. */
  def fnv1a64(s: UTF8String, seed: Int): Long = {
    var h = Fnv.Offset64 + 31L * seed
    val n = s.numBytes()
    var i = 0
    while (i < n) { h = (h ^ s.getByte(i)) * Fnv.Prime64; i += 1 }
    h
  }

  /** `out(d)` = seed `d`'s fnv-1a-64 of the `n` bytes at `(base, offset)`
    * (an all-ASCII key) for every `d` in `[from, until)`. Four seeds share
    * each pass over the bytes in independent accumulators, so the multiply
    * chains overlap instead of running one after another. */
  def fnv1a64Seeds(base: AnyRef, offset: Long, n: Int, out: Array[Long], from: Int,
                   until: Int): Unit = {
    var d = from
    while (d < until) {
      var h0 = Fnv.Offset64 + 31L * d
      var h1 = h0 + 31L
      var h2 = h0 + 62L
      var h3 = h0 + 93L
      var i = 0
      while (i < n) {
        val b = Platform.getByte(base, offset + i).toLong
        h0 = (h0 ^ b) * Fnv.Prime64
        h1 = (h1 ^ b) * Fnv.Prime64
        h2 = (h2 ^ b) * Fnv.Prime64
        h3 = (h3 ^ b) * Fnv.Prime64
        i += 1
      }
      out(d) = h0
      if (d + 1 < until) out(d + 1) = h1
      if (d + 2 < until) out(d + 2) = h2
      if (d + 3 < until) out(d + 3) = h3
      d += 4
    }
  }

  /** Seeds `0 until depth` of an all-ASCII `s`. */
  def asciiHashes(s: UTF8String, depth: Int): Array[Long] = {
    val out = new Array[Long](depth)
    fnv1a64Seeds(s.getBaseObject, s.getBaseOffset, s.numBytes(), out, 0, depth)
    out
  }

  /** `Fnv.fnv1a64(s.toString, seed)`, building the String only for a
    * non-ASCII `s`. */
  def hash64(s: UTF8String, seed: Int): Long =
    if (s.isFullAscii) fnv1a64(s, seed) else Fnv.fnv1a64(s.toString, seed)

  /** `Fnv1aHasher.hashes(s.toString, depth)`, building the String only for a
    * non-ASCII `s`. */
  def hashes(s: UTF8String, depth: Int): Array[Long] =
    if (s.isFullAscii) asciiHashes(s, depth) else Fnv1aHasher.hashes(s.toString, depth)
}

/** One key's fnv-1a folds, shared by the sketch probes of a row. The probes
  * of one row hash the same key, so the fold is keyed by the key's bytes:
  * [[of]] folds a key whose bytes differ from the folded key's and reuses
  * the fold otherwise. Folding a key copies its bytes and, in one pass,
  * computes seed 0's fnv-1a-64 and fnv-1a-32 and the ASCII test; seeds 1 and
  * up are folded on demand off the copy, four seeds per pass. The hashes
  * equal the reference's String fold only for an all-ASCII key (see
  * [[Utf8Fnv]]); the probes check [[of]] first. Not thread-safe: the
  * generated code keeps one per generated class, the interpreted probes one
  * per thread ([[KeyFold.local]]). */
final class KeyFold {
  private var key = new Array[Byte](64)
  private var n = -1 // length of the folded key; -1 before the first fold
  private var ascii = false
  private var h32 = 0
  private var seeds = new Array[Long](8)
  private var folded = 0 // seeds(0 until folded) hold the key's seed-d fnv-1a-64

  /** Folds `s` unless the folded key has its bytes; whether `s` is all ASCII. */
  def of(s: UTF8String): Boolean = {
    val len = s.numBytes()
    if (len != n || !ByteArrayMethods.arrayEquals(
        s.getBaseObject, s.getBaseOffset, key, Platform.BYTE_ARRAY_OFFSET, len)) fold(s, len)
    ascii
  }

  private def fold(s: UTF8String, len: Int): Unit = {
    if (key.length < len) key = new Array[Byte](math.max(len, 2 * key.length))
    s.writeToMemory(key, Platform.BYTE_ARRAY_OFFSET)
    var h = Fnv.Offset64
    var g = Fnv.Offset32
    var bits = 0
    var i = 0
    while (i < len) {
      val b = key(i)
      h = (h ^ b) * Fnv.Prime64
      g = (g ^ b) * Fnv.Prime32
      bits |= b
      i += 1
    }
    n = len
    ascii = (bits & 0x80) == 0
    h32 = g
    seeds(0) = h
    folded = 1
  }

  /** Seed 0's fnv-1a-32 of the folded key. */
  def fnv32: Int = h32

  /** Seed `d`'s fnv-1a-64 of the folded key. */
  def seed(d: Int): Long = {
    if (d >= folded) foldSeeds(d + 1)
    seeds(d)
  }

  /** Seeds `0 until k` of the folded key, in an array of at least `k`
    * hashes that the next fold overwrites. */
  def hashes(k: Int): Array[Long] = {
    if (k > folded) foldSeeds(k)
    seeds
  }

  /** Folds seeds `folded until k`, rounded up to whole passes of four. */
  private def foldSeeds(k: Int): Unit = {
    val until = folded + ((k - folded + 3) & ~3)
    if (seeds.length < until) seeds = java.util.Arrays.copyOf(seeds, until)
    Utf8Fnv.fnv1a64Seeds(key, Platform.BYTE_ARRAY_OFFSET, n, seeds, folded, until)
    folded = until
  }
}

object KeyFold {
  private val perThread = ThreadLocal.withInitial[KeyFold](() => new KeyFold)

  /** This thread's fold, for the interpreted probes. */
  def local: KeyFold = perThread.get()
}
