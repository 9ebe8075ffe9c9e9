package graft.core

import java.nio.{ByteBuffer, ByteOrder, MappedByteBuffer}
import java.nio.channels.FileChannel
import java.nio.file.{Files, Path, StandardCopyOption, StandardOpenOption}

import graft.hash.{Fnv1aHasher, KeyHasher}

/** File-backed Bloom filter, the same-shape equivalent of the reference's
  * `BloomFilterOnDisk` (/root/reference/probables/blooms/bloom.py:571-697):
  * the bit array lives in a memory-mapped file in the reference's on-disk
  * format — payload bytes followed by the little-endian `QQf` footer
  * (est_elements:u64, els_added:u64, fpr:f32) — so a file written here loads
  * in the reference library (and vice versa), including the C `bloom`
  * implementation's format the reference targets.
  *
  * Adds mutate the mapped pages directly; `flush()` forces pages + footer to
  * disk (the reference flushes after every add — call sites that need that
  * durability call `flush()` themselves). `fromHex` is unsupported, matching
  * bloom.py:612-614.
  *
  * In the Spark engine this class is a compatibility surface for local
  * tooling; the distributed equivalent is the checkpoint table
  * ([[graft.spark.io.Checkpoints]], SURVEY.md §7.4).
  */
final class BloomFilterOnDisk private (
    val filepath: Path,
    val estElements: Long,
    val fpr: Float,
    val numHashes: Int,
    val numBits: Long,
    private val channel: FileChannel,
    private val buf: MappedByteBuffer,
    private var elsAddedVar: Long,
    val hasher: KeyHasher
) extends AutoCloseable {

  private val bloomLength: Int = math.ceil(numBits / 8.0).toInt
  private var closed = false

  def elsAdded: Long = elsAddedVar
  def elementsAdded: Long = elsAddedVar

  def hashes(key: String): Array[Long] = hasher.hashes(key, numHashes)

  def add(key: String): Unit = addHashes(hashes(key))

  def addHashes(hs: Array[Long]): Unit = {
    require(!closed, "BloomFilterOnDisk is closed")
    var i = 0
    while (i < numHashes) {
      val k = java.lang.Long.remainderUnsigned(hs(i), numBits)
      val idx = (k >>> 3).toInt
      buf.put(idx, (buf.get(idx) | (1 << (k & 7L).toInt)).toByte)
      i += 1
    }
    elsAddedVar += 1
  }

  def check(key: String): Boolean = checkHashes(hashes(key))

  def checkHashes(hs: Array[Long]): Boolean = {
    require(!closed, "BloomFilterOnDisk is closed")
    var i = 0
    while (i < numHashes) {
      val k = java.lang.Long.remainderUnsigned(hs(i), numBits)
      if ((buf.get((k >>> 3).toInt) & (1 << (k & 7L).toInt)) == 0) return false
      i += 1
    }
    true
  }

  def setBitsCount: Long = {
    var cnt = 0L
    var i = 0
    while (i < bloomLength) { cnt += java.lang.Integer.bitCount(buf.get(i) & 0xff); i += 1 }
    cnt
  }

  def estimateElements: Long = BloomMath.estimateElements(setBitsCount, numBits, numHashes)
  def currentFalsePositiveRate: Double =
    BloomMath.currentFalsePositiveRate(elsAddedVar, numBits, numHashes)

  /** Write els_added into the footer and force everything to disk
    * (bloom.py __update). */
  def flush(): Unit = {
    buf.putLong(bloomLength + 8, elsAddedVar) // els_added field of the QQf footer
    buf.force()
  }

  /** Copy the (flushed) backing file elsewhere (bloom.py:646-656). */
  def `export`(dest: Path): Unit = {
    flush()
    if (dest.toAbsolutePath != filepath.toAbsolutePath)
      Files.copy(filepath, dest, StandardCopyOption.REPLACE_EXISTING)
  }

  /** Snapshot as an in-memory [[BloomFilter]] (same bytes). */
  def toBloomFilter: BloomFilter = {
    flush()
    BloomFilter.fromBytes(toBytes, hasher)
  }

  def toBytes: Array[Byte] = {
    flush()
    Files.readAllBytes(filepath)
  }

  override def close(): Unit = {
    if (!closed) {
      flush()
      channel.close()
      closed = true
    }
  }
}

object BloomFilterOnDisk {

  /** Unsupported, with the reference's exact message (bloom.py:612-614). */
  def fromHex(hexString: String): Nothing =
    throw new NotSupportedError(
      "Loading from hex_string is currently not supported by the on disk Bloom Filter")

  /** Unsupported, with the reference's exact message (bloom.py:676-681). */
  def fromBytes(b: Array[Byte]): Nothing =
    throw new NotSupportedError(
      "Loading from bytes is currently not supported by the on disk Bloom Filter")

  /** Create a new zeroed on-disk filter at `filepath` (bloom.py:616-623). */
  def create(filepath: Path, estElements: Long, falsePositiveRate: Double,
             hasher: KeyHasher = Fnv1aHasher): BloomFilterOnDisk = {
    val p = BloomMath.optimizedParams(estElements, falsePositiveRate)
    val bloomLength = math.ceil(p.numBits / 8.0).toInt
    val footer = ByteBuffer.allocate(20).order(ByteOrder.LITTLE_ENDIAN)
    footer.putLong(estElements)
    footer.putLong(0L)
    footer.putFloat(p.fpr)
    val out = Files.newOutputStream(filepath,
      StandardOpenOption.CREATE, StandardOpenOption.TRUNCATE_EXISTING,
      StandardOpenOption.WRITE)
    try {
      out.write(new Array[Byte](bloomLength))
      out.write(footer.array())
    } finally out.close()
    open(filepath, hasher)
  }

  /** Memory-map an existing exported filter (bloom.py:658-672). */
  def open(filepath: Path, hasher: KeyHasher = Fnv1aHasher): BloomFilterOnDisk = {
    if (!Utilities.isValidFile(filepath.toString))
      throw new InitializationError(
        "Insufecient parameters to set up the On Disk Bloom Filter") // sic, bloom.py:628
    val size = Files.size(filepath)
    val footerBuf = ByteBuffer.allocate(20).order(ByteOrder.LITTLE_ENDIAN)
    val ch = FileChannel.open(filepath, StandardOpenOption.READ, StandardOpenOption.WRITE)
    ch.read(footerBuf, size - 20)
    footerBuf.flip()
    val est = footerBuf.getLong
    val added = footerBuf.getLong
    val fpr = footerBuf.getFloat
    val p = BloomMath.optimizedParams(est, fpr.toDouble)
    val buf = ch.map(FileChannel.MapMode.READ_WRITE, 0, size)
    buf.order(ByteOrder.LITTLE_ENDIAN)
    new BloomFilterOnDisk(filepath.toAbsolutePath, est, p.fpr, p.numHashes, p.numBits,
      ch, buf, added, hasher)
  }
}

/** The reference's small path/hex helpers
  * (/root/reference/probables/utilities.py:13-29). `get_x_bits` lives in
  * [[graft.hash.Hashes]]; `MMap` is JVM `FileChannel.map` (BloomFilterOnDisk). */
object Utilities {
  def isHexString(s: String): Boolean =
    s != null && s.forall(c => Character.digit(c, 16) >= 0)

  def isValidFile(filepath: String): Boolean =
    filepath != null && Files.exists(java.nio.file.Paths.get(filepath))

  def resolvePath(filepath: String): Path =
    java.nio.file.Paths.get(
      if (filepath.startsWith("~" + java.io.File.separator) || filepath == "~")
        filepath.replaceFirst("^~", System.getProperty("user.home"))
      else filepath
    ).toAbsolutePath.normalize()
}
