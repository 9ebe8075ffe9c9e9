package graft.spark.aggs

import java.nio.{ByteBuffer, ByteOrder}

import graft.core.{BloomFilter, BloomMath}

/** `bloom_agg`'s aggregation buffer, sparse until dense (the sparse partial
  * of HLL++, Heule et al., EDBT 2013, applied to a Bloom filter). While
  * sparse it appends the bit position each hash of an add sets
  * (`remainderUnsigned(hash, numBits)`) to one flat `Array[Int]`, as long as
  * the positions take fewer bytes than the dense payload; at that limit, on
  * a dense merge input, and from the start when a position may not fit an
  * Int, it is the reference [[BloomFilter]] itself. Setting a sparse
  * partial's positions in an empty filter gives its dense form, so the
  * output bytes do not depend on which form a partial was in.
  *
  * Across the shuffle a dense partial is the reference export (`bloomLength
  * + 20` bytes) and a sparse one is its elements-added count then its
  * positions, little-endian (`8 + 4 * size` bytes, always shorter), so
  * [[BloomPartial.fromBytes]] tells the two apart by length alone. */
final class BloomPartial private (
    estElements: Long,
    fpr: Double,
    val numHashes: Int,
    numBits: Long,
    limit: Int,
    private var positions: Array[Int],
    private var size: Int,
    private var added: Long,
    private var filter: BloomFilter
) {
  def isDense: Boolean = filter != null

  def elsAdded: Long = if (isDense) filter.elsAdded else added

  /** One key's `numHashes` hashes. */
  def addHashes(hs: Array[Long]): Unit = {
    if (filter == null && size + numHashes > limit) densify()
    if (filter != null) filter.addHashes(hs)
    else {
      reserve(size + numHashes)
      var i = 0
      while (i < numHashes) {
        positions(size + i) = java.lang.Long.remainderUnsigned(hs(i), numBits).toInt
        i += 1
      }
      size += numHashes
      added += 1
    }
  }

  /** The union, in place: two sparse partials concatenate while the sum
    * stays under the limit; otherwise this one densifies and ORs `o` in. */
  def merge(o: BloomPartial): BloomPartial = {
    if (filter == null && o.filter == null && size + o.size <= limit) {
      reserve(size + o.size)
      System.arraycopy(o.positions, 0, positions, size, o.size)
      size += o.size
      added += o.added
    } else {
      densify()
      if (o.filter != null) filter.orInPlace(o.filter)
      else {
        o.setAll(filter)
        filter.elsAdded += o.added
      }
    }
    this
  }

  /** The reference filter this partial stands for (densifies it in place). */
  def toDense: BloomFilter = { densify(); filter }

  def toBytes: Array[Byte] =
    if (filter != null) filter.toBytes
    else {
      val out = new Array[Byte](8 + 4 * size)
      val bb = ByteBuffer.wrap(out).order(ByteOrder.LITTLE_ENDIAN)
      bb.putLong(added)
      bb.asIntBuffer().put(positions, 0, size)
      out
    }

  private def densify(): Unit = if (filter == null) {
    filter = BloomFilter.empty(estElements, fpr)
    setAll(filter)
    filter.elsAdded = added
    positions = null
  }

  private def setAll(b: BloomFilter): Unit = {
    var i = 0
    while (i < size) { b.setBit(positions(i) & 0xffffffffL); i += 1 }
  }

  private def reserve(n: Int): Unit =
    if (n > positions.length)
      positions =
        java.util.Arrays.copyOf(positions, math.min(math.max(n, 2 * positions.length), limit))
}

object BloomPartial {
  /** Whether every bit position `[0, numBits)` fits an Int (a filter of
    * 2^31 bits or fewer). */
  def positionsFitInt(numBits: Long): Boolean = numBits - 1 <= Int.MaxValue

  /** Most positions a sparse partial holds: 4 bytes each, fewer bytes than
    * the dense payload. */
  def sparseLimit(p: BloomMath.Params): Int = (BloomFilter.lengthOf(p) - 1) / 4

  /** A fresh partial is the dense filter when a position may not fit an Int
    * or one add's positions already reach the sparse limit. */
  def startsDense(p: BloomMath.Params): Boolean =
    !positionsFitInt(p.numBits) || sparseLimit(p) < p.numHashes

  def empty(estElements: Long, fpr: Double): BloomPartial = {
    val p = BloomMath.optimizedParams(estElements, fpr)
    if (startsDense(p)) dense(estElements, fpr, p, BloomFilter.empty(estElements, fpr))
    else sparse(estElements, fpr, p, new Array[Int](math.min(256, sparseLimit(p))), 0, 0L)
  }

  /** Reads [[BloomPartial.toBytes]]: the dense export is `bloomLength + 20`
    * bytes, every sparse form is shorter. A dense export written before
    * sparse partials existed reads back as a dense partial. */
  def fromBytes(estElements: Long, fpr: Double, b: Array[Byte]): BloomPartial = {
    val p = BloomMath.optimizedParams(estElements, fpr)
    if (b.length == BloomFilter.lengthOf(p) + 20)
      dense(estElements, fpr, p, BloomFilter.fromBytes(b))
    else {
      require(b.length >= 8 && b.length % 4 == 0 && b.length - 8 <= 4 * sparseLimit(p),
        s"not a bloom_agg partial: ${b.length} bytes")
      val bb = ByteBuffer.wrap(b).order(ByteOrder.LITTLE_ENDIAN)
      val added = bb.getLong
      val positions = new Array[Int]((b.length - 8) / 4)
      bb.asIntBuffer().get(positions)
      sparse(estElements, fpr, p, positions, positions.length, added)
    }
  }

  private def sparse(est: Long, fpr: Double, p: BloomMath.Params, positions: Array[Int],
                     size: Int, added: Long): BloomPartial =
    new BloomPartial(est, fpr, p.numHashes, p.numBits, sparseLimit(p), positions, size, added, null)

  private def dense(est: Long, fpr: Double, p: BloomMath.Params, f: BloomFilter): BloomPartial =
    new BloomPartial(est, fpr, p.numHashes, p.numBits, sparseLimit(p), null, 0, 0L, f)
}
