package graft.spark.fns

import org.apache.spark.unsafe.types.UTF8String

import graft.hash.{Fnv, Fnv1aHasher}

/** The fnv-1a fold over a `UTF8String`'s bytes in place, shared by the
  * sketch probes ([[SketchProbes]]) and the native aggregates. The reference
  * folds a string per Unicode code point (hashes.py:98); for an all-ASCII
  * string (`isFullAscii`, cached on the instance) each code point is one
  * byte, so the byte fold gives the same hash without building a Java
  * String. The `fnv1a*` and `*Seeds` folds assume an ASCII key; `hash64` and
  * `hashes` check it and fall back to the String fold otherwise. */
object Utf8Fnv {

  /** Seed `seed`'s fnv-1a-64 over the bytes of an all-ASCII `s`. */
  def fnv1a64(s: UTF8String, seed: Int): Long = {
    var h = Fnv.Offset64 + 31L * seed
    val n = s.numBytes()
    var i = 0
    while (i < n) { h = (h ^ s.getByte(i)) * Fnv.Prime64; i += 1 }
    h
  }

  /** Seed `seed`'s fnv-1a-32 over the bytes of an all-ASCII `s`. */
  def fnv1a32(s: UTF8String, seed: Int): Int = {
    var h = Fnv.Offset32 + 31 * seed
    val n = s.numBytes()
    var i = 0
    while (i < n) { h = (h ^ s.getByte(i)) * Fnv.Prime32; i += 1 }
    h
  }

  /** `out(d)` = seed `d`'s fnv-1a-64 of an all-ASCII `s` for every `d` in
    * `[from, out.length)`. Four seeds share each pass over the bytes in
    * independent accumulators, so the multiply chains overlap instead of
    * running one after another. */
  def fnv1a64Seeds(s: UTF8String, out: Array[Long], from: Int): Unit = {
    val n = s.numBytes()
    var d = from
    while (d < out.length) {
      var h0 = Fnv.Offset64 + 31L * d
      var h1 = h0 + 31L
      var h2 = h0 + 62L
      var h3 = h0 + 93L
      var i = 0
      while (i < n) {
        val b = s.getByte(i).toLong
        h0 = (h0 ^ b) * Fnv.Prime64
        h1 = (h1 ^ b) * Fnv.Prime64
        h2 = (h2 ^ b) * Fnv.Prime64
        h3 = (h3 ^ b) * Fnv.Prime64
        i += 1
      }
      out(d) = h0
      if (d + 1 < out.length) out(d + 1) = h1
      if (d + 2 < out.length) out(d + 2) = h2
      if (d + 3 < out.length) out(d + 3) = h3
      d += 4
    }
  }

  /** Seeds `0 until depth` of an all-ASCII `s`. */
  def asciiHashes(s: UTF8String, depth: Int): Array[Long] = {
    val out = new Array[Long](depth)
    fnv1a64Seeds(s, out, 0)
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
