package graft.core

import java.nio.{ByteBuffer, ByteOrder}

import scala.collection.mutable

import graft.hash.{Fnv1aHasher, KeyHasher}

/** Query modes of the Count-Min family
  * (/root/reference/probables/countminsketch/countminsketch.py:429-453). */
sealed trait CmsQueryType
object CmsQueryType {
  case object Min extends CmsQueryType      // CountMinSketch default
  case object Mean extends CmsQueryType     // CountMeanSketch
  case object MeanMin extends CmsQueryType  // CountMeanMinSketch
}

/** Count-Min sketch with min / mean / mean-min queries, saturating i32 cells
  * and a saturating i64 total, byte-layout compatible with the reference
  * export (i32-LE grid of width*depth + `IIq` footer = (width:u32, depth:u32,
  * els_added:i64), countminsketch.py:122, 342-354).
  *
  * Replicated quirks:
  *   - `add` computes projected values from pre-update cells and *assigns*
  *     them (so k-hash collisions within one key do NOT double-add —
  *     unlike the counting Bloom), clamping at INT32_MAX (267-288);
  *   - the returned point estimate is the query over the just-updated cells;
  *   - mean query is floor-div by depth; mean-min subtracts the floor-div
  *     noise term and takes the (floor-averaged) median (434-453);
  *   - `join` skips cells already saturated at ±INT32 extremes — saturation
  *     is sticky (381-391); totals saturate at ±INT64 (393-399).
  */
final class CountMinSketch private (
    val width: Int,
    val depth: Int,
    val bins: Array[Int],
    var elementsAdded: Long,
    val queryType: CmsQueryType,
    val hasher: KeyHasher
) extends Serializable {

  def confidence: Double = 1.0 - 1.0 / math.pow(2.0, depth.toDouble)
  def errorRate: Double = 2.0 / width.toDouble

  def hashes(key: String): Array[Long] = hasher.hashes(key, depth)

  // width - 1 when width is a power of two, so that `h mod width` is a mask
  // instead of a 64-bit division; -1 otherwise
  private val widthMask: Long = if (Integer.bitCount(width) == 1) width - 1L else -1L

  /** Cell of hash `h` in row `i`: the unsigned `h mod width`, row-major. */
  private[graft] def binIdx(h: Long, i: Int): Int =
    (if (widthMask >= 0) (h & widthMask).toInt
     else java.lang.Long.remainderUnsigned(h, width.toLong).toInt) + i * width

  def add(key: String, numEls: Long = 1L): Long = addHashes(hashes(key), numEls)

  def addHashes(hs: Array[Long], numEls: Long = 1L): Long = {
    val n = depth
    val vals = new Array[Long](n)
    var i = 0
    while (i < n) {
      val idx = binIdx(hs(i), i)
      val v = satAdd64(bins(idx).toLong, numEls)
      if (v > Int.MaxValue) {
        bins(idx) = Int.MaxValue
        vals(i) = Int.MaxValue
      } else {
        bins(idx) = v.toInt
        vals(i) = v
      }
      i += 1
    }
    elementsAdded = satAdd64(elementsAdded, numEls)
    query(vals)
  }

  def remove(key: String, numEls: Long = 1L): Long = removeHashes(hashes(key), numEls)

  def removeHashes(hs: Array[Long], numEls: Long = 1L): Long = {
    val n = depth
    val vals = new Array[Long](n)
    var i = 0
    while (i < n) {
      val idx = binIdx(hs(i), i)
      val v = satSub64(bins(idx).toLong, numEls)
      if (v > Int.MinValue) {
        bins(idx) = v.toInt
        vals(i) = v
      } else {
        bins(idx) = Int.MinValue
        vals(i) = Int.MinValue
      }
      i += 1
    }
    elementsAdded = satAdd64(elementsAdded, -numEls)
    query(vals)
  }

  def check(key: String): Long = checkHashes(hashes(key))

  def checkHashes(hs: Array[Long]): Long = {
    val vals = new Array[Long](depth)
    var i = 0
    while (i < depth) { vals(i) = bins(binIdx(hs(i), i)).toLong; i += 1 }
    query(vals)
  }

  private def satAdd64(a: Long, b: Long): Long = {
    val s = a + b
    if (((a ^ s) & (b ^ s)) < 0) { if (a > 0) Long.MaxValue else Long.MinValue } else s
  }

  private def satSub64(a: Long, b: Long): Long = {
    val s = a - b
    if (((a ^ b) & (a ^ s)) < 0) { if (a > 0) Long.MaxValue else Long.MinValue } else s
  }

  /** Dispatch on query type over the cell values. Min and Mean don't need the
    * reference's sort (countminsketch.py:288) — min/sum are order-free — so
    * the hot path is allocation-free; MeanMin keeps the exact sorted-median
    * floor-div semantics. */
  private def query(vals: Array[Long]): Long = queryType match {
    case CmsQueryType.Min =>
      var m = vals(0); var i = 1
      while (i < vals.length) { if (vals(i) < m) m = vals(i); i += 1 }
      m
    case CmsQueryType.Mean =>
      var s = 0L; var i = 0
      while (i < vals.length) { s += vals(i); i += 1 }
      Math.floorDiv(s, depth.toLong)
    case CmsQueryType.MeanMin =>
      val sorted = vals.clone()
      java.util.Arrays.sort(sorted)
      if (sorted(0) == 0 && sorted(sorted.length - 1) == 0) 0L
      else {
        val meanmin = sorted.map { v =>
          val diff = elementsAdded - v
          v - Math.floorDiv(diff, (width - 1).toLong)
        }
        java.util.Arrays.sort(meanmin)
        if (depth % 2 == 0)
          Math.floorDiv(meanmin(depth / 2) + meanmin(depth / 2 - 1), 2L)
        else meanmin(depth / 2)
      }
  }

  def clear(): Unit = { java.util.Arrays.fill(bins, 0); elementsAdded = 0 }

  private[core] def requireCompatible(second: CountMinSketch): Unit = {
    if (width != second.width || depth != second.depth || hasher.name != second.hasher.name)
      throw new CountMinSketchError(
        "Unable to merge as the count-min sketches are mismatched")
  }

  /** In-place elementwise join with sticky saturation (countminsketch.py:356-399). */
  def join(second: CountMinSketch): CountMinSketch = {
    requireCompatible(second)
    val size = width * depth
    var i = 0
    while (i < size) {
      val cur = bins(i)
      if (cur != Int.MinValue && cur != Int.MaxValue) {
        val t = cur.toLong + second.bins(i).toLong
        bins(i) =
          if (t > Int.MaxValue) Int.MaxValue
          else if (t < Int.MinValue) Int.MinValue
          else t.toInt
      }
      i += 1
    }
    elementsAdded = satAdd64(elementsAdded, second.elementsAdded)
    this
  }

  def copySketch(): CountMinSketch =
    new CountMinSketch(width, depth, bins.clone(), elementsAdded, queryType, hasher)

  def toBytes: Array[Byte] = {
    val bb = ByteBuffer.allocate(bins.length * 4 + 16).order(ByteOrder.LITTLE_ENDIAN)
    var i = 0
    while (i < bins.length) { bb.putInt(bins(i)); i += 1 }
    bb.putInt(width)
    bb.putInt(depth)
    bb.putLong(elementsAdded)
    bb.array()
  }

  override def toString: String =
    s"Count-Min Sketch:\n\tWidth: $width\n\tDepth: $depth\n\tConfidence: $confidence\n" +
      s"\tError Rate: $errorRate\n\tElements Added: $elementsAdded"
}

object CountMinSketch {
  def empty(width: Int, depth: Int,
            queryType: CmsQueryType = CmsQueryType.Min,
            hasher: KeyHasher = Fnv1aHasher): CountMinSketch = {
    if (width <= 0 || depth <= 0)
      throw new InitializationError("CountMinSketch: width and depth must be greater than 0")
    new CountMinSketch(width, depth, new Array[Int](width * depth), 0L, queryType, hasher)
  }

  /** Sizing from (confidence, error_rate): `w = ceil(2/ε)`,
    * `d = ceil(-ln(1-δ) / ln 2)` (countminsketch.py:102-104). */
  def fromConfidence(confidence: Double, errorRate: Double,
                     queryType: CmsQueryType = CmsQueryType.Min,
                     hasher: KeyHasher = Fnv1aHasher): CountMinSketch = {
    if (confidence <= 0 || errorRate <= 0)
      throw new InitializationError("CountMinSketch: width and depth must be greater than 0")
    val w = math.ceil(2.0 / errorRate).toInt
    val d = math.ceil((-1.0 * math.log(1.0 - confidence)) / 0.6931471805599453).toInt
    empty(w, d, queryType, hasher)
  }

  def fromBytes(b: Array[Byte],
                queryType: CmsQueryType = CmsQueryType.Min,
                hasher: KeyHasher = Fnv1aHasher): CountMinSketch = {
    val bb = ByteBuffer.wrap(b, b.length - 16, 16).order(ByteOrder.LITTLE_ENDIAN)
    val w = bb.getInt
    val d = bb.getInt
    val els = bb.getLong
    val cms = empty(w, d, queryType, hasher)
    val payload = ByteBuffer.wrap(b, 0, w * d * 4).order(ByteOrder.LITTLE_ENDIAN)
    var i = 0
    while (i < w * d) { cms.bins(i) = payload.getInt; i += 1 }
    cms.elementsAdded = els
    cms
  }
}

/** Heavy hitters on top of CMS (countminsketch.py:532-691). The reference's
  * `add` maintains an insertion-ordered top-x dict with evict-smallest
  * semantics; `join` raises NotSupportedError. For distributed use we define
  * the documented mergeable extension (SURVEY.md §7.7.1): join the CMS grids,
  * union the candidate sets, re-estimate every candidate from the merged grid,
  * and trim to the top `numHitters`.
  */
final class HeavyHitters(val numHitters: Int, val cms: CountMinSketch) extends Serializable {
  val topX: mutable.LinkedHashMap[String, Long] = mutable.LinkedHashMap.empty
  private var smallest: Long = 0L

  def heavyHitters: Map[String, Long] = topX.toMap
  def elementsAdded: Long = cms.elementsAdded

  def add(key: String, numEls: Long = 1L): Long =
    addWithHashes(key, cms.hashes(key), numEls)

  /** Add with precomputed grid hashes (the native aggregate's zero-copy
    * entry point — the key string is still needed for the candidate dict). */
  def addWithHashes(key: String, hs: Array[Long], numEls: Long): Long = {
    val res = cms.addHashes(hs, numEls)
    if (topX.size < numHitters) {
      topX.update(key, res) // room left (countminsketch.py:646-650)
    } else if (topX.contains(key)) {
      topX.update(key, res) // easy in-place update (651-652)
    } else if (res > smallest) {
      // insert, evict the current min, recompute smallest (653-660)
      topX.update(key, res)
      topX.remove(firstMinKey())
      smallest = topX(firstMinKey())
    }
    res
  }

  /** First key with the minimal value in insertion order — Python
    * `min(dict, key=dict.get)` semantics (countminsketch.py:656-659). */
  private def firstMinKey(): String = {
    var bestK: String = null
    var bestV = Long.MaxValue
    topX.foreach { case (k, v) => if (v < bestV) { bestV = v; bestK = k } }
    bestK
  }

  /** Mergeable extension: join grids, union candidates, re-estimate, trim. */
  def merge(second: HeavyHitters): HeavyHitters = {
    cms.join(second.cms)
    val candidates = (topX.keysIterator ++ second.topX.keysIterator).toSet
    val reEst = candidates.toSeq.map(k => k -> cms.check(k))
    topX.clear()
    reEst.sortBy { case (k, v) => (-v, k) }.take(numHitters).foreach { case (k, v) => topX.update(k, v) }
    smallest = if (topX.isEmpty) 0L else topX.valuesIterator.min
    this
  }

  def clear(): Unit = { cms.clear(); topX.clear(); smallest = 0L }

  /** Engine codec (extension — the reference HH has no export): CMS bytes +
    * insertion-ordered candidate entries + smallest + numHitters. */
  def toBytes: Array[Byte] = {
    val cmsBytes = cms.toBytes
    val entries = topX.toSeq
    val keysBytes = entries.map(_._1.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    val size = 4 + cmsBytes.length + 8 + 4 + 4 +
      entries.zip(keysBytes).map { case (_, kb) => 4 + kb.length + 8 }.sum
    val bb = java.nio.ByteBuffer.allocate(size).order(java.nio.ByteOrder.LITTLE_ENDIAN)
    bb.putInt(cmsBytes.length)
    bb.put(cmsBytes)
    bb.putLong(smallestValue)
    bb.putInt(numHitters)
    bb.putInt(entries.size)
    entries.zip(keysBytes).foreach { case ((_, v), kb) =>
      bb.putInt(kb.length); bb.put(kb); bb.putLong(v)
    }
    bb.array()
  }

  def smallestValue: Long = smallest
  private[core] def setSmallest(v: Long): Unit = smallest = v
}

object HeavyHitters {
  def empty(numHitters: Int, width: Int, depth: Int,
            hasher: KeyHasher = Fnv1aHasher): HeavyHitters =
    new HeavyHitters(numHitters, CountMinSketch.empty(width, depth, CmsQueryType.Min, hasher))

  def fromBytes(b: Array[Byte], hasher: KeyHasher = Fnv1aHasher): HeavyHitters = {
    val bb = java.nio.ByteBuffer.wrap(b).order(java.nio.ByteOrder.LITTLE_ENDIAN)
    val cmsLen = bb.getInt
    val cmsBytes = new Array[Byte](cmsLen)
    bb.get(cmsBytes)
    val smallest = bb.getLong
    val numHitters = bb.getInt
    val n = bb.getInt
    val hh = new HeavyHitters(numHitters, CountMinSketch.fromBytes(cmsBytes, CmsQueryType.Min, hasher))
    var i = 0
    while (i < n) {
      val kl = bb.getInt
      val kb = new Array[Byte](kl)
      bb.get(kb)
      hh.topX.update(new String(kb, java.nio.charset.StandardCharsets.UTF_8), bb.getLong)
      i += 1
    }
    hh.setSmallest(smallest)
    hh
  }
}

/** Stream threshold on top of CMS (countminsketch.py:694-843): tracks every
  * key whose running estimate meets `threshold`. `join` raises in the
  * reference; the mergeable extension mirrors [[HeavyHitters.merge]]. */
final class StreamThreshold(val threshold: Long, val cms: CountMinSketch) extends Serializable {
  val meets: mutable.LinkedHashMap[String, Long] = mutable.LinkedHashMap.empty

  def meetsThreshold: Map[String, Long] = meets.toMap
  def elementsAdded: Long = cms.elementsAdded

  def add(key: String, numEls: Long = 1L): Long = {
    val res = cms.add(key, numEls)
    if (res >= threshold) meets.update(key, res)
    res
  }

  def remove(key: String, numEls: Long = 1L): Long = {
    val res = cms.remove(key, numEls)
    if (res < threshold) meets.remove(key) else meets.update(key, res)
    res
  }

  def merge(second: StreamThreshold): StreamThreshold = {
    cms.join(second.cms)
    val candidates = (meets.keysIterator ++ second.meets.keysIterator).toSet
    meets.clear()
    candidates.toSeq.sorted.foreach { k =>
      val est = cms.check(k)
      if (est >= threshold) meets.update(k, est)
    }
    this
  }

  def clear(): Unit = { cms.clear(); meets.clear() }

  /** Engine codec (extension): CMS bytes + threshold + tracked entries. */
  def toBytes: Array[Byte] = {
    val cmsBytes = cms.toBytes
    val entries = meets.toSeq
    val keysBytes = entries.map(_._1.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    val size = 4 + cmsBytes.length + 8 + 4 +
      entries.zip(keysBytes).map { case (_, kb) => 4 + kb.length + 8 }.sum
    val bb = java.nio.ByteBuffer.allocate(size).order(java.nio.ByteOrder.LITTLE_ENDIAN)
    bb.putInt(cmsBytes.length)
    bb.put(cmsBytes)
    bb.putLong(threshold)
    bb.putInt(entries.size)
    entries.zip(keysBytes).foreach { case ((_, v), kb) =>
      bb.putInt(kb.length); bb.put(kb); bb.putLong(v)
    }
    bb.array()
  }
}

object StreamThreshold {
  def empty(threshold: Long, width: Int, depth: Int,
            hasher: KeyHasher = Fnv1aHasher): StreamThreshold =
    new StreamThreshold(threshold, CountMinSketch.empty(width, depth, CmsQueryType.Min, hasher))

  def fromBytes(b: Array[Byte], hasher: KeyHasher = Fnv1aHasher): StreamThreshold = {
    val bb = java.nio.ByteBuffer.wrap(b).order(java.nio.ByteOrder.LITTLE_ENDIAN)
    val cmsLen = bb.getInt
    val cmsBytes = new Array[Byte](cmsLen)
    bb.get(cmsBytes)
    val threshold = bb.getLong
    val n = bb.getInt
    val st = new StreamThreshold(threshold, CountMinSketch.fromBytes(cmsBytes, CmsQueryType.Min, hasher))
    var i = 0
    while (i < n) {
      val kl = bb.getInt
      val kb = new Array[Byte](kl)
      bb.get(kb)
      st.meets.update(new String(kb, java.nio.charset.StandardCharsets.UTF_8), bb.getLong)
      i += 1
    }
    st
  }
}
