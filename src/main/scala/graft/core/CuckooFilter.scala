package graft.core

import java.nio.{ByteBuffer, ByteOrder}

import graft.hash.{BitUtil, Fnv}

class CuckooFilterFullException(msg: String) extends ProbablesBaseException(msg)

/** Deterministic splitmix64 stream used for cuckoo kick randomness. The
  * reference uses Python's global `random` (cuckoo.py:373-377); its golden
  * exports are only deterministic because no kick fires at the pinned loads.
  * A seeded counter-based stream keeps the same no-kick byte layouts while
  * making kicks reproducible across partitions and reruns (SURVEY.md §7.7.2).
  */
final class SplitMix64(seed: Long) extends Serializable {
  private var state = seed
  def nextLong(): Long = {
    state += 0x9e3779b97f4a7c15L
    var z = state
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    z ^ (z >>> 31)
  }
  def nextInt(boundExclusive: Int): Int =
    java.lang.Long.remainderUnsigned(nextLong(), boundExclusive.toLong).toInt
  def nextBoolean(): Boolean = (nextLong() & 1L) == 1L
}

/** Cuckoo filter (pyprobables `probables/cuckoo/cuckoo.py`).
  *
  * Layout notes (replicated):
  *   - fingerprint = **low** `fingerprintSizeBits` bits of fnv-1a-64(key)
  *     (cuckoo.py:492-506 via `get_x_bits(..., right_bits=True)`);
  *   - idx1 = fp % capacity; idx2 = fnv-1a-64(decimalString(fp)) % capacity —
  *     both indices derive from the fingerprint alone, which is what makes
  *     expansion (and our distributed merge) possible (cuckoo.py:483-490);
  *   - `add` is a no-op when the fingerprint is already present at either
  *     index (cuckoo.py:300-302) — near-set semantics;
  *   - export: each bin zero-padded to `bucketSize` u32-LE slots, footer
  *     `II` = (bucket_size, max_swaps); capacity is inferred from the file
  *     size on load (cuckoo.py:406-431).
  *
  * Storage is one flat primitive slot array: bucket `i` holds its
  * fingerprints, in insertion order, at `slots[i*bucketSize, i*bucketSize +
  * fill(i))`, and every slot past `fill(i)` is 0 — which is the zero-padded
  * export. A probe expression broadcasts the deserialized filter, which
  * each executor fetches and deserializes once, so its Java-serialized form
  * must stay close to the export size.
  *
  * The reference has no merge; [[mergeFrom]] is the documented extension that
  * re-inserts every fingerprint of `second` (the same mechanism the
  * reference's own `_expand_logic` uses, cuckoo.py:455-481).
  */
final class CuckooFilter(
    var capacity: Int,
    val bucketSize: Int,
    val maxSwaps: Int,
    val expansionRate: Int,
    val autoExpand: Boolean,
    var fingerprintSizeBits: Int
) extends Serializable {
  if (capacity < 1 || bucketSize < 1 || maxSwaps < 1)
    throw new InitializationError(
      "CuckooFilter: capacity, bucket_size, and max_swaps must be an integer greater than 0")

  private var slots: Array[Int] = new Array[Int](capacity * bucketSize)
  private var fill: Array[Int] = new Array[Int](capacity)
  private var mask: Int = CuckooFilter.maskOf(capacity)
  var insertedElements: Int = 0
  private val rng = new SplitMix64(0x5ca1ab1e5eedL)
  // the fingerprint a failed insertFingerprint left without a slot
  @transient private var homeless: Int = 0

  /** Read-only copy of the bins, one array per bucket in insertion order. */
  def buckets: Array[Array[Int]] =
    Array.tabulate(capacity)(i => java.util.Arrays.copyOfRange(slots, i * bucketSize, i * bucketSize + fill(i)))

  def elementsAdded: Int = insertedElements
  def loadFactor: Double = insertedElements.toDouble / (capacity.toDouble * bucketSize)

  /** The reference's 2b/2^f, kept for parity. It does not bound this filter:
    * both bucket indices derive from the fingerprint, so any key whose
    * fingerprint equals a stored one is found, and the realized false
    * positive rate is about n/2^f for n stored fingerprints. */
  def errorRate: Double =
    1.0 / math.pow(2.0, fingerprintSizeBits - (math.log(bucketSize.toDouble) / math.log(2.0) + 1))

  def fingerprint(key: String): Int = fingerprintOf(Fnv.fnv1a64(key, 0))

  /** The fingerprint of a key whose seed-0 fnv-1a-64 is `h`. */
  def fingerprintOf(h: Long): Int =
    BitUtil.getXBits(h, 64, fingerprintSizeBits, rightBits = true).toInt

  def indicesFromFingerprint(fp: Int): (Int, Int) = (index1(fp), index2(fp))

  private def index1(fp: Int): Int = CuckooFilter.index1(fp, capacity, mask)
  private def index2(fp: Int): Int = CuckooFilter.altIndex(fp, capacity, mask)

  def add(key: String): Unit = addFingerprint(fingerprint(key))

  /** Add a bare fingerprint if absent — the merge/expansion primitive. */
  def addFingerprint(fp: Int): Unit = {
    val i1 = index1(fp)
    val i2 = index2(fp)
    if (findSlot(i1, fp) >= 0 || findSlot(i2, fp) >= 0) return // dedup (cuckoo.py:300-302)
    if (!insertFingerprint(fp, i1, i2)) dealWithHomeless()
  }

  def check(key: String): Boolean = checkFingerprint(fingerprint(key))

  /** Whether fingerprint `fp` is stored: `check` after hashing. */
  def checkFingerprint(fp: Int): Boolean = locate(fp) >= 0

  def remove(key: String): Boolean = {
    val s = locate(fingerprint(key))
    if (s < 0) return false
    // shift the bucket's later fingerprints down one slot
    val idx = s / bucketSize
    val last = idx * bucketSize + fill(idx) - 1
    System.arraycopy(slots, s + 1, slots, s, last - s)
    slots(last) = 0
    fill(idx) -= 1
    insertedElements -= 1
    true
  }

  /** Slot of `fp` in bucket `idx`, or -1. */
  private def findSlot(idx: Int, fp: Int): Int = {
    var s = idx * bucketSize
    val end = s + fill(idx)
    while (s < end) {
      if (slots(s) == fp) return s
      s += 1
    }
    -1
  }

  /** Slot of `fp` in its first bucket, else its second, or -1. */
  private def locate(fp: Int): Int = {
    val s = findSlot(index1(fp), fp)
    if (s >= 0) s else findSlot(index2(fp), fp)
  }

  private def insertElement(fp: Int, idx: Int): Boolean = {
    val f = fill(idx)
    if (f < bucketSize) { slots(idx * bucketSize + f) = fp; fill(idx) = f + 1; true } else false
  }

  /** Kick loop (cuckoo.py:361-392); true on success, else false with the
    * fingerprint left without a slot in `homeless`. Success is signalled
    * apart from the fingerprint: every Int is a valid fingerprint. */
  private def insertFingerprint(fp0: Int, i1: Int, i2: Int): Boolean = {
    if (insertElement(fp0, i1)) { insertedElements += 1; return true }
    if (insertElement(fp0, i2)) { insertedElements += 1; return true }
    var fp = fp0
    var idx = if (rng.nextBoolean()) i1 else i2
    var swaps = 0
    while (swaps < maxSwaps) {
      val s = idx * bucketSize + rng.nextInt(bucketSize)
      val swb = slots(s)
      slots(s) = fp
      fp = swb
      val n1 = index1(fp)
      idx = if (idx == n1) index2(fp) else n1
      if (insertElement(fp, idx)) { insertedElements += 1; return true }
      swaps += 1
    }
    homeless = fp
    false
  }

  private def dealWithHomeless(): Unit =
    if (autoExpand) expandLogic(Some(homeless))
    else throw new CuckooFilterFullException("The CuckooFilter is currently full")

  def expand(): Unit = expandLogic(None)

  private def expandLogic(extra: Option[Int]): Unit = {
    val oldSlots = slots
    val oldFill = fill
    val oldCapacity = capacity
    capacity = capacity * expansionRate
    mask = CuckooFilter.maskOf(capacity)
    slots = new Array[Int](capacity * bucketSize)
    fill = new Array[Int](capacity)
    insertedElements = 0
    def reinsert(fp: Int): Unit =
      if (!insertFingerprint(fp, index1(fp), index2(fp)))
        throw new CuckooFilterFullException("The CuckooFilter failed to expand")
    extra.foreach(reinsert)
    var i = 0
    while (i < oldCapacity) {
      var j = 0
      while (j < oldFill(i)) { reinsert(oldSlots(i * bucketSize + j)); j += 1 }
      i += 1
    }
  }

  /** Distributed-merge extension: re-insert every fingerprint of `second`. */
  def mergeFrom(second: CuckooFilter): CuckooFilter = {
    require(bucketSize == second.bucketSize && fingerprintSizeBits == second.fingerprintSizeBits,
      "CuckooFilter merge: bucket size / fingerprint bits mismatch")
    val otherSlots = second.slots
    val otherFill = second.fill
    var i = 0
    while (i < otherFill.length) {
      var j = 0
      while (j < otherFill(i)) { addFingerprint(otherSlots(i * bucketSize + j)); j += 1 }
      i += 1
    }
    this
  }

  def toBytes: Array[Byte] = {
    val bb = ByteBuffer.allocate(slots.length * 4 + 8).order(ByteOrder.LITTLE_ENDIAN)
    bb.asIntBuffer().put(slots).put(bucketSize).put(maxSwaps)
    bb.array()
  }
}

object CuckooFilter {
  def apply(capacity: Int = 10000, bucketSize: Int = 4, maxSwaps: Int = 500,
            expansionRate: Int = 2, autoExpand: Boolean = true,
            fingerSizeBytes: Int = 4): CuckooFilter = {
    require(fingerSizeBytes >= 1 && fingerSizeBytes <= 4,
      "CuckooFilter: fingerprint size must be between 1 and 4")
    new CuckooFilter(capacity, bucketSize, maxSwaps, expansionRate, autoExpand, fingerSizeBytes * 8)
  }

  /** Fingerprint bits from target error rate:
    * `ceil(log2(1/ε) + log2(b) + 1)` (cuckoo.py:522-524). */
  def fingerprintBitsFor(errorRate: Double, bucketSize: Int): Int =
    math.ceil(math.log(1.0 / errorRate) / math.log(2.0) +
      math.log(bucketSize.toDouble) / math.log(2.0) + 1).toInt

  /** `capacity - 1` when the capacity is a power of two, so that an index
    * `mod capacity` is a mask instead of a 64-bit division; -1 otherwise. */
  private[core] def maskOf(capacity: Int): Int =
    if (Integer.bitCount(capacity) == 1) capacity - 1 else -1

  /** idx1 of both cuckoo filters: the unsigned fingerprint mod `capacity`;
    * `mask` is [[maskOf]]`(capacity)`. */
  private[core] def index1(fp: Int, capacity: Int, mask: Int): Int =
    if (mask >= 0) fp & mask else ((fp & 0xffffffffL) % capacity).toInt

  /** idx2 of both cuckoo filters: fnv-1a-64 (seed 0) of the unsigned
    * fingerprint's decimal string, mod `capacity` (cuckoo.py:483-490); `mask`
    * is [[maskOf]]`(capacity)`. The digits are folded most-significant first
    * straight from the number, so a probe builds no string. */
  private[core] def altIndex(fp: Int, capacity: Int, mask: Int): Int = {
    var v = fp & 0xffffffffL
    // at most 10 decimal digits, one per nibble, least-significant digit highest
    var digits = 0L
    var n = 0
    do {
      digits = (digits << 4) | (v % 10)
      v /= 10
      n += 1
    } while (v != 0)
    var h = Fnv.Offset64
    while (n > 0) {
      h ^= '0' + (digits & 0xf)
      h *= Fnv.Prime64
      digits >>>= 4
      n -= 1
    }
    if (mask >= 0) (h & mask).toInt else java.lang.Long.remainderUnsigned(h, capacity.toLong).toInt
  }

  def withErrorRate(errorRate: Double, capacity: Int = 10000, bucketSize: Int = 4,
                    maxSwaps: Int = 500, expansionRate: Int = 2,
                    autoExpand: Boolean = true): CuckooFilter =
    new CuckooFilter(capacity, bucketSize, maxSwaps, expansionRate, autoExpand,
      fingerprintBitsFor(errorRate, bucketSize))

  def fromBytes(b: Array[Byte], expansionRate: Int = 2, autoExpand: Boolean = true,
                fingerprintBits: Int = 32): CuckooFilter = {
    val bb = ByteBuffer.wrap(b, b.length - 8, 8).order(ByteOrder.LITTLE_ENDIAN)
    val bucketSize = bb.getInt
    val maxSwaps = bb.getInt
    val capacity = (b.length - 8) / 4 / bucketSize
    val cf = new CuckooFilter(capacity, bucketSize, maxSwaps, expansionRate, autoExpand, fingerprintBits)
    val payload = ByteBuffer.wrap(b, 0, capacity * bucketSize * 4).order(ByteOrder.LITTLE_ENDIAN)
    var i = 0
    while (i < capacity) {
      var j = 0
      while (j < bucketSize) {
        val fp = payload.getInt
        if (fp != 0) { cf.insertElement(fp, i); cf.insertedElements += 1 }
        j += 1
      }
      i += 1
    }
    cf
  }
}

/** Counting cuckoo filter (pyprobables `probables/cuckoo/countingcuckoo.py`):
  * bins are (fingerprint, count) u32 pairs; a re-add of a present fingerprint
  * increments its count. Bins are packed as a Long (fp in the high 32 bits,
  * count in the low 32) in one flat slot array laid out like
  * [[CuckooFilter]]'s. Export: (fp,count) pairs zero-padded per bin + `II`
  * footer, matching countingcuckoo.py:216-228, 325-334. */
final class CountingCuckooFilter(
    var capacity: Int,
    val bucketSize: Int,
    val maxSwaps: Int,
    val expansionRate: Int,
    val autoExpand: Boolean,
    var fingerprintSizeBits: Int
) extends Serializable {

  // each bin: packed (fp:u32 << 32) | count:u32; bucket i at
  // slots[i*bucketSize, i*bucketSize + fill(i)), 0L past fill(i)
  private var slots: Array[Long] = new Array[Long](capacity * bucketSize)
  private var fill: Array[Int] = new Array[Int](capacity)
  private var mask: Int = CuckooFilter.maskOf(capacity)
  var insertedElements: Long = 0
  var uniqueElements: Int = 0
  private val rng = new SplitMix64(0xc01dc0ffeeL)
  // the packed bin a failed insertFingerprint left without a slot
  @transient private var homeless: Long = 0L

  @inline private def packed(fp: Int, count: Long): Long = ((fp & 0xffffffffL) << 32) | (count & 0xffffffffL)
  @inline private def fpOf(bin: Long): Int = (bin >>> 32).toInt
  @inline private def countOf(bin: Long): Long = bin & 0xffffffffL

  /** Read-only copy of the packed bins, one array per bucket in insertion order. */
  def buckets: Array[Array[Long]] =
    Array.tabulate(capacity)(i => java.util.Arrays.copyOfRange(slots, i * bucketSize, i * bucketSize + fill(i)))

  def loadFactor: Double = uniqueElements.toDouble / (capacity.toDouble * bucketSize)

  def fingerprint(key: String): Int = fingerprintOf(Fnv.fnv1a64(key, 0))

  /** The fingerprint of a key whose seed-0 fnv-1a-64 is `h`. */
  def fingerprintOf(h: Long): Int =
    BitUtil.getXBits(h, 64, fingerprintSizeBits, rightBits = true).toInt

  def indicesFromFingerprint(fp: Int): (Int, Int) = (index1(fp), index2(fp))

  private def index1(fp: Int): Int = CuckooFilter.index1(fp, capacity, mask)
  private def index2(fp: Int): Int = CuckooFilter.altIndex(fp, capacity, mask)

  /** Slot of the bin for `fp` in bucket `idx`, or -1. */
  private def findSlot(idx: Int, fp: Int): Int = {
    var s = idx * bucketSize
    val end = s + fill(idx)
    while (s < end) {
      if (fpOf(slots(s)) == fp) return s
      s += 1
    }
    -1
  }

  private def findPresent(i1: Int, i2: Int, fp: Int): Int = {
    val s = findSlot(i1, fp)
    if (s >= 0) s else findSlot(i2, fp)
  }

  /** Slot of the bin for `fp` in its first bucket, else its second, or -1. */
  private def locate(fp: Int): Int = {
    val s = findSlot(index1(fp), fp)
    if (s >= 0) s else findSlot(index2(fp), fp)
  }

  def add(key: String): Unit = addCount(key, 1L)

  def addCount(key: String, n: Long): Unit = {
    val fp = fingerprint(key)
    val i1 = index1(fp)
    val i2 = index2(fp)
    var remaining = n
    while (remaining > 0) { // reference semantics are per-single-add
      val s = findPresent(i1, i2, fp)
      if (s >= 0) {
        slots(s) = packed(fp, countOf(slots(s)) + 1)
        insertedElements += 1
      } else {
        if (!insertFingerprint(fp, i1, i2, 1L)) dealWithHomeless()
      }
      remaining -= 1
    }
  }

  /** Merge primitive: add `count` occurrences of a bare fingerprint at once. */
  def addFingerprintCount(fp: Int, count: Long): Unit = {
    val i1 = index1(fp)
    val i2 = index2(fp)
    val s = findPresent(i1, i2, fp)
    if (s >= 0) {
      slots(s) = packed(fp, math.min(countOf(slots(s)) + count, 0xffffffffL))
      insertedElements += count
    } else {
      if (!insertFingerprint(fp, i1, i2, count)) dealWithHomeless()
    }
  }

  def check(key: String): Long = checkFingerprint(fingerprint(key))

  /** The count stored for fingerprint `fp`, 0 if absent: `check` after hashing. */
  def checkFingerprint(fp: Int): Long = {
    val s = locate(fp)
    if (s < 0) 0L else countOf(slots(s))
  }

  def remove(key: String): Boolean = {
    val fp = fingerprint(key)
    val s = locate(fp)
    if (s < 0) return false
    val c = countOf(slots(s)) - 1
    insertedElements -= 1
    if (c == 0) {
      // shift the bucket's later bins down one slot
      val idx = s / bucketSize
      val last = idx * bucketSize + fill(idx) - 1
      System.arraycopy(slots, s + 1, slots, s, last - s)
      slots(last) = 0L
      fill(idx) -= 1
      uniqueElements -= 1
    } else slots(s) = packed(fp, c)
    true
  }

  private def insertBin(bin: Long, idx: Int): Boolean = {
    val f = fill(idx)
    if (f < bucketSize) { slots(idx * bucketSize + f) = bin; fill(idx) = f + 1; true } else false
  }

  /** Kick loop carrying (fp,count) bins (countingcuckoo.py:230-265); true on
    * success, else false with the packed bin left without a slot in
    * `homeless`. Every Long is a valid packed bin (fingerprint -1 with count
    * 2^32-1 packs to -1L), so success is signalled apart from it. */
  private def insertFingerprint(fp0: Int, i1: Int, i2: Int, count: Long): Boolean = {
    if (insertBin(packed(fp0, count), i1)) { insertedElements += count; uniqueElements += 1; return true }
    if (insertBin(packed(fp0, count), i2)) { insertedElements += count; uniqueElements += 1; return true }
    var prv = packed(fp0, count)
    var idx = if (rng.nextBoolean()) i1 else i2
    var swaps = 0
    while (swaps < maxSwaps) {
      val s = idx * bucketSize + rng.nextInt(bucketSize)
      val swapped = slots(s)
      slots(s) = prv
      prv = swapped
      val n1 = index1(fpOf(prv))
      idx = if (idx == n1) index2(fpOf(prv)) else n1
      if (insertBin(prv, idx)) {
        // charge the NEW element's count, not the relocated bin's — prv's
        // count was already charged when prv was first inserted; the
        // reference does `_inserted_elements += 1` here for the add call
        // (countingcuckoo.py:259-262), which for count==1 is the same thing.
        // DELIBERATE divergence for count > 1 (reachable only via
        // [[addFingerprintCount]] — the reference-absent merge extension —
        // and via expansion re-inserts): the reference's kick loop seeds
        // `CountingCuckooBin(fingerprint, 1)` (countingcuckoo.py:248), so a
        // multi-count newcomer that kicks LOSES count-1 occurrences and
        // charges +1; the engine keeps the full count in the relocated bin
        // (`prv = packed(fp0, count)` above) and charges `count`, because
        // the distributed merge depends on elements_added staying the total
        // occurrence count (same rationale as the expandLogic divergence
        // below; CuckooSpec pins the engine behavior).
        insertedElements += count
        uniqueElements += 1
        return true
      }
      swaps += 1
    }
    homeless = prv
    false
  }

  private def dealWithHomeless(): Unit =
    if (autoExpand) expandLogic(Some(homeless))
    else throw new CuckooFilterFullException("The CountingCuckooFilter is currently full")

  def expand(): Unit = expandLogic(None)

  /** DELIBERATE divergence from the reference here: countingcuckoo.py's
    * `_expand_logic` resets `_inserted_elements` (via `_setup_expand`) and
    * then re-adds +1 per relocated BIN, so a reference filter holding
    * multi-count bins comes out of an expansion with `elements_added` ==
    * number of unique bins — the count-sum is silently lost. The engine
    * preserves the count-sum across expansion (`+= count` per re-inserted
    * bin after the reset) because the distributed merge extension
    * ([[mergeFrom]]/[[addFingerprintCount]]) depends on `elements_added`
    * staying the total occurrence count. Kick-path and add-path counting
    * match the reference exactly (q_export_parity / q_sketch_removes). */
  private def expandLogic(extra: Option[Long]): Unit = {
    val oldSlots = slots
    val oldFill = fill
    val oldCapacity = capacity
    capacity = capacity * expansionRate
    mask = CuckooFilter.maskOf(capacity)
    slots = new Array[Long](capacity * bucketSize)
    fill = new Array[Int](capacity)
    insertedElements = 0
    uniqueElements = 0
    def reinsert(bin: Long): Unit = {
      val fp = fpOf(bin)
      if (!insertFingerprint(fp, index1(fp), index2(fp), countOf(bin)))
        throw new CuckooFilterFullException("The CountingCuckooFilter failed to expand")
    }
    extra.foreach(reinsert)
    var i = 0
    while (i < oldCapacity) {
      var j = 0
      while (j < oldFill(i)) { reinsert(oldSlots(i * bucketSize + j)); j += 1 }
      i += 1
    }
  }

  def mergeFrom(second: CountingCuckooFilter): CountingCuckooFilter = {
    require(bucketSize == second.bucketSize && fingerprintSizeBits == second.fingerprintSizeBits,
      "CountingCuckooFilter merge: bucket size / fingerprint bits mismatch")
    val otherSlots = second.slots
    val otherFill = second.fill
    var i = 0
    while (i < otherFill.length) {
      var j = 0
      while (j < otherFill(i)) {
        val bin = otherSlots(i * bucketSize + j)
        addFingerprintCount(fpOf(bin), countOf(bin))
        j += 1
      }
      i += 1
    }
    this
  }

  def toBytes: Array[Byte] = {
    val bb = ByteBuffer.allocate(slots.length * 8 + 8).order(ByteOrder.LITTLE_ENDIAN)
    val ib = bb.asIntBuffer()
    var s = 0
    while (s < slots.length) { ib.put(fpOf(slots(s))).put(countOf(slots(s)).toInt); s += 1 }
    ib.put(bucketSize).put(maxSwaps)
    bb.array()
  }
}

object CountingCuckooFilter {
  def apply(capacity: Int = 10000, bucketSize: Int = 4, maxSwaps: Int = 500,
            expansionRate: Int = 2, autoExpand: Boolean = true,
            fingerSizeBytes: Int = 4): CountingCuckooFilter =
    new CountingCuckooFilter(capacity, bucketSize, maxSwaps, expansionRate, autoExpand, fingerSizeBytes * 8)

  def withErrorRate(errorRate: Double, capacity: Int = 10000, bucketSize: Int = 4,
                    maxSwaps: Int = 500, expansionRate: Int = 2,
                    autoExpand: Boolean = true): CountingCuckooFilter =
    new CountingCuckooFilter(capacity, bucketSize, maxSwaps, expansionRate, autoExpand,
      CuckooFilter.fingerprintBitsFor(errorRate, bucketSize))

  def fromBytes(b: Array[Byte], expansionRate: Int = 2, autoExpand: Boolean = true,
                fingerprintBits: Int = 32): CountingCuckooFilter = {
    val bb = ByteBuffer.wrap(b, b.length - 8, 8).order(ByteOrder.LITTLE_ENDIAN)
    val bucketSize = bb.getInt
    val maxSwaps = bb.getInt
    val capacity = (b.length - 8) / 8 / bucketSize
    val cf = new CountingCuckooFilter(capacity, bucketSize, maxSwaps, expansionRate, autoExpand, fingerprintBits)
    val payload = ByteBuffer.wrap(b, 0, capacity * bucketSize * 8).order(ByteOrder.LITTLE_ENDIAN)
    var i = 0
    while (i < capacity) {
      var j = 0
      while (j < bucketSize) {
        val fp = payload.getInt
        val count = payload.getInt & 0xffffffffL
        if (fp != 0) {
          cf.insertBin(cf.packed(fp, count), i)
          cf.insertedElements += count
          cf.uniqueElements += 1
        }
        j += 1
      }
      i += 1
    }
    cf
  }
}
