package graft.spark.fns

import java.lang.ref.WeakReference

import scala.reflect.ClassTag

import org.apache.spark.SparkContext
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{Expression, ImplicitCastInputTypes}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenContext
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
case class Fnv1a64Expr(child: Expression, seed: Int) extends KernelExpr with ImplicitCastInputTypes {
  override protected def kernel: Kernel = Kernel(Utf8Fnv, "hash64", child, seed)
  override def dataType: DataType = LongType
  override def inputTypes = Seq(StringType) // AbstractDataType is private[sql]
  override def prettyName: String = "fnv1a64"
}

/** Per-key probe of a FIXED sketch: the Spark-native analogue of the
  * reference's `check(key)` over an in-process structure, mirroring Spark's
  * own `BloomFilterMightContain` but with the reference-compatible layouts
  * and hashing. The sketch rides the plan as a broadcast handle (SURVEY.md
  * §4.3: "a scalar expression over a broadcast sketch"): the `*Native`
  * helpers broadcast the deserialized sketch once, a task binary carries
  * only the handle, and every task of an executor probes the one copy the
  * executor fetched. The generated code reads the broadcast's value into a
  * field typed with [[sketchClass]] (which picks the `check` overload) at
  * class init and passes it, the row's shared [[KeyFold]] and the key's
  * `UTF8String` to [[SketchProbes]]`.check`. A null key probes to null. */
abstract class SketchProbeExpr[S <: AnyRef] extends BroadcastKernelExpr {
  def child: Expression
  def sketch: Broadcast[S]
  protected def sketchClass: Class[S]

  override protected def kernel: Kernel =
    Kernel(SketchProbes, "check", broadcastValue(sketchClass), SketchProbeExpr.FoldArg, child)
}

object SketchProbeExpr {
  /** The generated field holding the fold that a generated class's probes share. */
  val Fold = "graftKeyFold"

  /** The shared fold as a kernel argument; interpreted probes use the thread's. */
  private object FoldArg extends KernelArg {
    def javaClass: Class[_] = classOf[KeyFold]
    def value: Any = KeyFold.local
    def code(ctx: CodegenContext): String = {
      ctx.addImmutableStateIfNotExists(classOf[KeyFold].getName, Fold,
        v => s"$v = new ${classOf[KeyFold].getName}();")
      Fold
    }
  }
}

/** The UTF-8 entry point of the seven sketch probes, one `check` per
  * concrete sketch class, each equal to the sketch's `check(key.toString)`.
  * An all-ASCII key under the default fnv-1a hasher takes its hashes from
  * the row's [[KeyFold]] and is checked at the hash level; a key with any
  * non-ASCII byte, or a sketch with a chained md5/sha256 hasher, takes
  * `check(key.toString)`. */
object SketchProbes {
  private def fnvAscii(hasher: KeyHasher, fold: KeyFold, key: UTF8String): Boolean =
    (hasher eq Fnv1aHasher) && fold.of(key)

  /** Seed by seed with early exit on the first clear bit: a non-member of a
    * sparse filter usually needs only the seeds the fold already holds. */
  def check(b: BloomFilter, fold: KeyFold, key: UTF8String): Boolean =
    if (fnvAscii(b.hasher, fold, key)) {
      var i = 0
      while (i < b.numHashes && b.bitSet(fold.seed(i))) i += 1
      i == b.numHashes
    } else b.check(key.toString)

  def check(c: CountMinSketch, fold: KeyFold, key: UTF8String): Long =
    if (fnvAscii(c.hasher, fold, key)) c.checkHashes(fold.hashes(c.depth))
    else c.check(key.toString)

  def check(c: CountingBloomFilter, fold: KeyFold, key: UTF8String): Long =
    if (fnvAscii(c.hasher, fold, key)) c.checkHashes(fold.hashes(c.numHashes))
    else c.check(key.toString)

  def check(e: ExpandingBloomFilter, fold: KeyFold, key: UTF8String): Boolean =
    if (fnvAscii(e.hasher, fold, key)) e.checkHashes(fold.hashes(e.blooms.head.numHashes))
    else e.check(key.toString)

  def check(q: QuotientFilter, fold: KeyFold, key: UTF8String): Boolean =
    if (fold.of(key)) q.checkHash(fold.fnv32 & 0xffffffffL)
    else q.check(key.toString)

  def check(c: CuckooFilter, fold: KeyFold, key: UTF8String): Boolean =
    if (fold.of(key)) c.checkFingerprint(c.fingerprintOf(fold.seed(0)))
    else c.check(key.toString)

  def check(c: CountingCuckooFilter, fold: KeyFold, key: UTF8String): Long =
    if (fold.of(key)) c.checkFingerprint(c.fingerprintOf(fold.seed(0)))
    else c.check(key.toString)
}

/** Bloom filter membership. */
case class BloomMightContainExpr(child: Expression, sketch: Broadcast[BloomFilter])
    extends SketchProbeExpr[BloomFilter] {
  override def dataType: DataType = BooleanType
  override protected def sketchClass: Class[BloomFilter] = classOf[BloomFilter]
  override def prettyName: String = "bloom_might_contain"
}

/** Count-Min point count, in the query mode the sketch was loaded with. */
case class CmsCountExpr(child: Expression, sketch: Broadcast[CountMinSketch])
    extends SketchProbeExpr[CountMinSketch] {
  override def dataType: DataType = LongType
  override protected def sketchClass: Class[CountMinSketch] = classOf[CountMinSketch]
  override def prettyName: String = "cms_count"
}

/** Counting Bloom filter min count. */
case class CbfCountExpr(child: Expression, sketch: Broadcast[CountingBloomFilter])
    extends SketchProbeExpr[CountingBloomFilter] {
  override def dataType: DataType = LongType
  override protected def sketchClass: Class[CountingBloomFilter] = classOf[CountingBloomFilter]
  override def prettyName: String = "cbf_count"
}

/** Counting cuckoo filter count. */
case class CcfCountExpr(child: Expression, sketch: Broadcast[CountingCuckooFilter])
    extends SketchProbeExpr[CountingCuckooFilter] {
  override def dataType: DataType = LongType
  override protected def sketchClass: Class[CountingCuckooFilter] = classOf[CountingCuckooFilter]
  override def prettyName: String = "ccf_count"
}

/** Cuckoo filter membership. */
case class CuckooContainsExpr(child: Expression, sketch: Broadcast[CuckooFilter])
    extends SketchProbeExpr[CuckooFilter] {
  override def dataType: DataType = BooleanType
  override protected def sketchClass: Class[CuckooFilter] = classOf[CuckooFilter]
  override def prettyName: String = "cuckoo_contains"
}

/** Quotient filter membership. */
case class QfContainsExpr(child: Expression, sketch: Broadcast[QuotientFilter])
    extends SketchProbeExpr[QuotientFilter] {
  override def dataType: DataType = BooleanType
  override protected def sketchClass: Class[QuotientFilter] = classOf[QuotientFilter]
  override def prettyName: String = "qf_contains"
}

/** Expanding Bloom filter membership. */
case class EbfContainsExpr(child: Expression, sketch: Broadcast[ExpandingBloomFilter])
    extends SketchProbeExpr[ExpandingBloomFilter] {
  override def dataType: DataType = BooleanType
  override protected def sketchClass: Class[ExpandingBloomFilter] = classOf[ExpandingBloomFilter]
  override def prettyName: String = "ebf_contains"
}

object SketchExpressions {
  private def expr(c: Column): Expression = GraftColumnBridge.expression(c)
  private def column(e: Expression): Column = GraftColumnBridge.column(e)

  /** Broadcasts a probe's sketch once, from the active session. */
  private[fns] def broadcast[S: ClassTag](sketch: S): Broadcast[S] =
    SparkSession.active.sparkContext.broadcast(sketch)

  /** Per SparkContext, the live broadcast of each model object. Both keys
    * are weak (a model compares by identity: [[graft.spark.text
    * .BpeTokenizer]] and [[graft.spark.text.CharLm]] keep `AnyRef`'s
    * equals), and so is the handle: once no plan holds it, the
    * ContextCleaner reclaims the broadcast and the next call makes another. */
  private val models =
    new java.util.WeakHashMap[SparkContext, java.util.WeakHashMap[AnyRef, WeakReference[Broadcast[_]]]]

  /** `model` broadcast once from the active session's context: while one
    * handle is live, every call with the same model returns it, so two
    * calls of `bpe_count(text)` are one expression (GROUP BY, common
    * subexpressions) and analyzing a plan again broadcasts nothing. */
  private[fns] def broadcastModel[M <: AnyRef: ClassTag](model: M): Broadcast[M] =
    models.synchronized {
      val sc = SparkSession.active.sparkContext
      val live = models.computeIfAbsent(sc, _ => new java.util.WeakHashMap)
      Option(live.get(model)).flatMap(r => Option(r.get)) match {
        case Some(b) => b.asInstanceOf[Broadcast[M]]
        case None =>
          val b = sc.broadcast(model)
          live.put(model, new WeakReference[Broadcast[_]](b))
          b
      }
    }

  /** Codegen'd fnv-1a-64 column. */
  def fnv1a64Native(c: Column, seed: Int = 0): Column = column(Fnv1a64Expr(expr(c), seed))

  /** Codegen'd Bloom probe over serialized reference-format bytes. */
  def bloomMightContainNative(bloomBytes: Array[Byte], key: Column): Column =
    column(BloomMightContainExpr(expr(key), broadcast(BloomFilter.fromBytes(bloomBytes))))

  /** Codegen'd CMS point-count probe in the given query mode (Min is the
    * Count-Min sketch; Mean and MeanMin the reference's CountMeanSketch and
    * CountMeanMinSketch over the same grid). */
  def cmsCountNative(cmsBytes: Array[Byte], key: Column,
                     mode: CmsQueryType = CmsQueryType.Min): Column =
    column(CmsCountExpr(expr(key), broadcast(CountMinSketch.fromBytes(cmsBytes, mode))))

  /** Codegen'd counting-Bloom min-count probe. */
  def cbfCountNative(cbfBytes: Array[Byte], key: Column): Column =
    column(CbfCountExpr(expr(key), broadcast(CountingBloomFilter.fromBytes(cbfBytes))))

  /** Codegen'd counting-cuckoo count probe. */
  def ccfCountNative(bytes: Array[Byte], fingerprintBits: Int, key: Column): Column =
    column(CcfCountExpr(expr(key),
      broadcast(CountingCuckooFilter.fromBytes(bytes, fingerprintBits = fingerprintBits))))

  /** Codegen'd cuckoo membership probe. */
  def cuckooContainsNative(bytes: Array[Byte], fingerprintBits: Int, key: Column): Column =
    column(CuckooContainsExpr(expr(key),
      broadcast(CuckooFilter.fromBytes(bytes, fingerprintBits = fingerprintBits))))

  /** Codegen'd quotient-filter membership probe. */
  def qfContainsNative(bytes: Array[Byte], key: Column): Column =
    column(QfContainsExpr(expr(key), broadcast(QuotientFilter.fromBytes(bytes))))

  /** Codegen'd expanding-Bloom membership probe. */
  def ebfContainsNative(bytes: Array[Byte], key: Column): Column =
    column(EbfContainsExpr(expr(key), broadcast(ExpandingBloomFilter.fromBytes(bytes))))
}
