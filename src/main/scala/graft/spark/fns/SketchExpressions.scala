package graft.spark.fns

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Expression, ImplicitCastInputTypes, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.GraftColumnBridge
import org.apache.spark.sql.types.{BooleanType, DataType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

import graft.core.{BloomFilter, CmsQueryType, CountingBloomFilter, CountingCuckooFilter,
  CountMinSketch, CuckooFilter, ExpandingBloomFilter, QuotientFilter}
import graft.hash.{Fnv1aHasher, KeyHasher}

/** Native Catalyst expressions for the hot per-row paths — codegen'd so they
  * stay inside whole-stage codegen instead of breaking it with a ScalaUDF
  * eval boundary (SURVEY.md §4.3: "a native Catalyst Expression (with
  * doGenCode) beats a Scala UDF").
  */

/** fnv-1a-64 over a string column with a fixed seed — the reference hash
  * kernel (hashes.py:86-103) as a codegen'd scalar. Non-string input is
  * cast to string, as the SQL `fnv1a64(text, seed)` caller expects. */
case class Fnv1a64Expr(child: Expression, seed: Int)
    extends UnaryExpression with ImplicitCastInputTypes {
  override def dataType: DataType = LongType
  override def inputTypes = Seq(StringType) // AbstractDataType is private[sql]
  override def nullIntolerant: Boolean = true

  override protected def nullSafeEval(input: Any): Any =
    Utf8Fnv.hash64(input.asInstanceOf[UTF8String], seed)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.spark.fns.Utf8Fnv.hash64($c, $seed)")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)

  override def prettyName: String = "fnv1a64"
}

/** Per-key probe of a FIXED sketch: the Spark-native analogue of the
  * reference's `check(key)` over an in-process structure, mirroring Spark's
  * own `BloomFilterMightContain` but with the reference-compatible layouts
  * and hashing. The deserialized sketch rides the plan as a codegen
  * reference object: `addReferenceObj` puts it into the stage's task binary,
  * and every task deserializes its own copy, so a sketch's Java-serialized
  * size is a per-task cost (sketch state is kept in flat primitive arrays for
  * that reason). The generated code passes the key's `UTF8String` to
  * [[SketchProbes]]`.check` with the sketch's concrete class. A null key
  * probes to null. */
abstract class SketchProbeExpr extends UnaryExpression {
  def sketch: AnyRef

  /** The interpreted probe; the generated code makes the same call. */
  protected def check(key: UTF8String): Any

  override def nullIntolerant: Boolean = true

  override protected def nullSafeEval(input: Any): Any = check(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj(prettyName, sketch, sketch.getClass.getName)
    defineCodeGen(ctx, ev, c => s"graft.spark.fns.SketchProbes.check($ref, $c)")
  }
}

/** The UTF-8 entry point of the seven sketch probes, one `check` per
  * concrete sketch class, each equal to the sketch's `check(key.toString)`.
  * An all-ASCII key under the default fnv-1a hasher is hashed off its bytes
  * ([[Utf8Fnv]]) and checked at the hash level; a key with any non-ASCII
  * byte, or a sketch with a chained md5/sha256 hasher, takes
  * `check(key.toString)`. */
object SketchProbes {
  private def fnvAscii(hasher: KeyHasher, key: UTF8String): Boolean =
    (hasher eq Fnv1aHasher) && key.isFullAscii

  /** Seed by seed with early exit on the first clear bit: a non-member of a
    * sparse filter costs one fold; past seed 0, the remaining seeds share
    * their passes over the key. */
  def check(b: BloomFilter, key: UTF8String): Boolean =
    if (fnvAscii(b.hasher, key)) {
      b.bitSet(Utf8Fnv.fnv1a64(key, 0)) && (b.numHashes == 1 || {
        val hs = new Array[Long](b.numHashes)
        Utf8Fnv.fnv1a64Seeds(key, hs, 1)
        var i = 1
        while (i < hs.length && b.bitSet(hs(i))) i += 1
        i == hs.length
      })
    } else b.check(key.toString)

  def check(c: CountMinSketch, key: UTF8String): Long =
    if (fnvAscii(c.hasher, key)) c.checkHashes(Utf8Fnv.asciiHashes(key, c.depth))
    else c.check(key.toString)

  def check(c: CountingBloomFilter, key: UTF8String): Long =
    if (fnvAscii(c.hasher, key)) c.checkHashes(Utf8Fnv.asciiHashes(key, c.numHashes))
    else c.check(key.toString)

  def check(e: ExpandingBloomFilter, key: UTF8String): Boolean =
    if (fnvAscii(e.hasher, key)) e.checkHashes(Utf8Fnv.asciiHashes(key, e.blooms.head.numHashes))
    else e.check(key.toString)

  def check(q: QuotientFilter, key: UTF8String): Boolean =
    if (key.isFullAscii) q.checkHash(Utf8Fnv.fnv1a32(key, 0) & 0xffffffffL)
    else q.check(key.toString)

  def check(c: CuckooFilter, key: UTF8String): Boolean =
    if (key.isFullAscii) c.checkFingerprint(c.fingerprintOf(Utf8Fnv.fnv1a64(key, 0)))
    else c.check(key.toString)

  def check(c: CountingCuckooFilter, key: UTF8String): Long =
    if (key.isFullAscii) c.checkFingerprint(c.fingerprintOf(Utf8Fnv.fnv1a64(key, 0)))
    else c.check(key.toString)
}

/** Bloom filter membership. */
case class BloomMightContainExpr(child: Expression, sketch: BloomFilter) extends SketchProbeExpr {
  override def dataType: DataType = BooleanType
  override protected def check(key: UTF8String): Any = SketchProbes.check(sketch, key)
  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
  override def prettyName: String = "bloom_might_contain"
}

/** Count-Min point count, in the query mode the sketch was loaded with. */
case class CmsCountExpr(child: Expression, sketch: CountMinSketch) extends SketchProbeExpr {
  override def dataType: DataType = LongType
  override protected def check(key: UTF8String): Any = SketchProbes.check(sketch, key)
  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
  override def prettyName: String = "cms_count"
}

/** Counting Bloom filter min count. */
case class CbfCountExpr(child: Expression, sketch: CountingBloomFilter) extends SketchProbeExpr {
  override def dataType: DataType = LongType
  override protected def check(key: UTF8String): Any = SketchProbes.check(sketch, key)
  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
  override def prettyName: String = "cbf_count"
}

/** Counting cuckoo filter count. */
case class CcfCountExpr(child: Expression, sketch: CountingCuckooFilter) extends SketchProbeExpr {
  override def dataType: DataType = LongType
  override protected def check(key: UTF8String): Any = SketchProbes.check(sketch, key)
  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
  override def prettyName: String = "ccf_count"
}

/** Cuckoo filter membership. */
case class CuckooContainsExpr(child: Expression, sketch: CuckooFilter) extends SketchProbeExpr {
  override def dataType: DataType = BooleanType
  override protected def check(key: UTF8String): Any = SketchProbes.check(sketch, key)
  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
  override def prettyName: String = "cuckoo_contains"
}

/** Quotient filter membership. */
case class QfContainsExpr(child: Expression, sketch: QuotientFilter) extends SketchProbeExpr {
  override def dataType: DataType = BooleanType
  override protected def check(key: UTF8String): Any = SketchProbes.check(sketch, key)
  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
  override def prettyName: String = "qf_contains"
}

/** Expanding Bloom filter membership. */
case class EbfContainsExpr(child: Expression, sketch: ExpandingBloomFilter)
    extends SketchProbeExpr {
  override def dataType: DataType = BooleanType
  override protected def check(key: UTF8String): Any = SketchProbes.check(sketch, key)
  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
  override def prettyName: String = "ebf_contains"
}

object SketchExpressions {
  private def expr(c: Column): Expression = GraftColumnBridge.expression(c)
  private def column(e: Expression): Column = GraftColumnBridge.column(e)

  /** Codegen'd fnv-1a-64 column. */
  def fnv1a64Native(c: Column, seed: Int = 0): Column = column(Fnv1a64Expr(expr(c), seed))

  /** Codegen'd Bloom probe over serialized reference-format bytes. */
  def bloomMightContainNative(bloomBytes: Array[Byte], key: Column): Column =
    column(BloomMightContainExpr(expr(key), BloomFilter.fromBytes(bloomBytes)))

  /** Codegen'd CMS point-count probe in the given query mode (Min is the
    * Count-Min sketch; Mean and MeanMin the reference's CountMeanSketch and
    * CountMeanMinSketch over the same grid). */
  def cmsCountNative(cmsBytes: Array[Byte], key: Column,
                     mode: CmsQueryType = CmsQueryType.Min): Column =
    column(CmsCountExpr(expr(key), CountMinSketch.fromBytes(cmsBytes, mode)))

  /** Codegen'd counting-Bloom min-count probe. */
  def cbfCountNative(cbfBytes: Array[Byte], key: Column): Column =
    column(CbfCountExpr(expr(key), CountingBloomFilter.fromBytes(cbfBytes)))

  /** Codegen'd counting-cuckoo count probe. */
  def ccfCountNative(bytes: Array[Byte], fingerprintBits: Int, key: Column): Column =
    column(CcfCountExpr(expr(key),
      CountingCuckooFilter.fromBytes(bytes, fingerprintBits = fingerprintBits)))

  /** Codegen'd cuckoo membership probe. */
  def cuckooContainsNative(bytes: Array[Byte], fingerprintBits: Int, key: Column): Column =
    column(CuckooContainsExpr(expr(key),
      CuckooFilter.fromBytes(bytes, fingerprintBits = fingerprintBits)))

  /** Codegen'd quotient-filter membership probe. */
  def qfContainsNative(bytes: Array[Byte], key: Column): Column =
    column(QfContainsExpr(expr(key), QuotientFilter.fromBytes(bytes)))

  /** Codegen'd expanding-Bloom membership probe. */
  def ebfContainsNative(bytes: Array[Byte], key: Column): Column =
    column(EbfContainsExpr(expr(key), ExpandingBloomFilter.fromBytes(bytes)))
}
