package graft.ext

import java.nio.{ByteBuffer, ByteOrder}

import scala.collection.mutable.ArrayBuffer

/** KLL quantile sketch over doubles (Karnin–Lang–Liberty, FOCS 2016; see
  * PAPERS.md). Compactor hierarchy with capacity k·c^(H-1-h) (c = 2/3,
  * min 2); a full compactor sorts, keeps every other item (deterministic
  * alternating offset so results are reproducible across runs and partitions),
  * and promotes the survivors one level up, doubling their weight.
  *
  * Rank error is ε·n with ε ≈ O(1/k); k = 200 gives ~1% rank error.
  * Merge = levelwise concatenation + compaction — associative up to the
  * sketch's own error bound (checked by the error-bound specs, not byte
  * equality).
  */
final class Kll(val k: Int) extends Serializable {
  require(k >= 8, s"KLL k must be >= 8; got $k")

  private val c = 2.0 / 3.0
  var n: Long = 0L
  val compactors: ArrayBuffer[ArrayBuffer[Double]] = ArrayBuffer(new ArrayBuffer[Double]())
  var coins: Long = 0L // per-level deterministic alternating coin bits

  private def numLevels: Int = compactors.size

  // per-level capacities and their sum for `capLevels` levels; they depend
  // only on the level count, so they are recomputed only when it changes
  private var capLevels = 0
  private var caps: Array[Int] = Array.emptyIntArray
  private var capTotal = 0

  private def refreshCapacities(): Unit = if (capLevels != numLevels) {
    capLevels = numLevels
    caps = Array.tabulate(capLevels)(h =>
      math.max(2, math.ceil(k * math.pow(c, (capLevels - 1 - h).toDouble)).toInt))
    capTotal = caps.sum
  }

  private def capacity(h: Int): Int = { refreshCapacities(); caps(h) }

  private def totalCapacity: Int = { refreshCapacities(); capTotal }

  def update(v: Double): Unit = {
    compactors(0) += v
    n += 1
    compressIfNeeded()
  }

  private def size: Int = {
    var s = 0; var h = 0
    while (h < numLevels) { s += compactors(h).size; h += 1 }
    s
  }

  private def compressIfNeeded(): Unit = {
    while (size >= totalCapacity) {
      var h = 0
      var done = false
      while (h < numLevels && !done) {
        if (compactors(h).size >= capacity(h)) {
          if (h + 1 >= numLevels) compactors += new ArrayBuffer[Double]()
          compactLevel(h)
          done = true
        }
        h += 1
      }
      if (!done) return
    }
  }

  private def compactLevel(h: Int): Unit = {
    val buf = compactors(h)
    val sorted = buf.toArray
    java.util.Arrays.sort(sorted)
    val offset = ((coins >>> h) & 1L).toInt
    coins ^= (1L << h) // flip this level's coin — deterministic, unbiased over pairs
    val up = compactors(h + 1)
    // only an even count may be promoted at doubled weight (weight
    // conservation: promoting (len+1)/2 items would inflate total weight by
    // 2^h per compaction); with an odd buffer one element keeps its current
    // level — item 0 for offset=1, the last item for offset=0
    val odd = sorted.length % 2 == 1
    val promoteEnd = if (odd && offset == 0) sorted.length - 1 else sorted.length
    var i = offset
    while (i < promoteEnd) { up += sorted(i); i += 2 }
    buf.clear()
    if (odd) buf += (if (offset == 1) sorted(0) else sorted(sorted.length - 1))
  }

  def merge(second: Kll): Kll = {
    require(k == second.k, s"KLL k mismatch: $k vs ${second.k}")
    while (numLevels < second.numLevels) compactors += new ArrayBuffer[Double]()
    var h = 0
    while (h < second.numLevels) { compactors(h) ++= second.compactors(h); h += 1 }
    n += second.n
    compressIfNeeded()
    this
  }

  /** Weighted items: (value, 2^level). */
  private def weighted: Array[(Double, Long)] = {
    val out = new ArrayBuffer[(Double, Long)](size)
    var h = 0
    while (h < numLevels) {
      val w = 1L << h
      compactors(h).foreach(v => out += ((v, w)))
      h += 1
    }
    out.toArray.sortBy(_._1)
  }

  /** Quantile at rank fraction q in [0,1]. */
  def quantile(q: Double): Double = {
    if (n == 0) return Double.NaN
    val items = weighted
    val target = q * n
    var cum = 0L
    var i = 0
    while (i < items.length) {
      cum += items(i)._2
      if (cum >= target) return items(i)._1
      i += 1
    }
    items(items.length - 1)._1
  }

  /** Estimated rank (count of items <= v). */
  def rank(v: Double): Long = {
    var cum = 0L
    var h = 0
    while (h < numLevels) {
      val w = 1L << h
      compactors(h).foreach(x => if (x <= v) cum += w)
      h += 1
    }
    cum
  }

  def toBytes: Array[Byte] = {
    val total = size
    val bb = ByteBuffer.allocate(8 + 4 + 8 + 4 + numLevels * 4 + total * 8).order(ByteOrder.LITTLE_ENDIAN)
    bb.putLong(n)
    bb.putInt(k)
    bb.putLong(coins)
    bb.putInt(numLevels)
    var h = 0
    while (h < numLevels) { bb.putInt(compactors(h).size); h += 1 }
    h = 0
    while (h < numLevels) {
      compactors(h).foreach(bb.putDouble)
      h += 1
    }
    bb.array()
  }
}

object Kll {
  def apply(k: Int = 200): Kll = new Kll(k)

  def fromBytes(b: Array[Byte]): Kll = {
    val bb = ByteBuffer.wrap(b).order(ByteOrder.LITTLE_ENDIAN)
    val n = bb.getLong
    val k = bb.getInt
    val coins = bb.getLong
    val levels = bb.getInt
    val sk = new Kll(k)
    sk.n = n
    val sizes = Array.fill(levels)(bb.getInt)
    sk.compactors.clear()
    var h = 0
    while (h < levels) {
      val buf = new ArrayBuffer[Double](sizes(h))
      var i = 0
      while (i < sizes(h)) { buf += bb.getDouble; i += 1 }
      sk.compactors += buf
      h += 1
    }
    sk.coins = coins
    sk
  }
}
