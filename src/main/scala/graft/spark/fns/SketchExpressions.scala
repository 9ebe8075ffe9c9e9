package graft.spark.fns

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.GraftColumnBridge
import org.apache.spark.sql.types.{BooleanType, DataType, LongType}
import org.apache.spark.unsafe.types.UTF8String

import graft.core.BloomFilter
import graft.hash.Fnv

/** Native Catalyst expressions for the hot per-row paths — codegen'd so they
  * stay inside whole-stage codegen instead of breaking it with a ScalaUDF
  * eval boundary (SURVEY.md §4.3: "a native Catalyst Expression (with
  * doGenCode) beats a Scala UDF").
  */

/** fnv-1a-64 over a string column with a fixed seed — the reference hash
  * kernel (hashes.py:86-103) as a codegen'd scalar. */
case class Fnv1a64Expr(child: Expression, seed: Int) extends UnaryExpression {
  override def dataType: DataType = LongType
  override def nullIntolerant: Boolean = true

  override protected def nullSafeEval(input: Any): Any =
    Fnv.fnv1a64(input.asInstanceOf[UTF8String].toString, seed)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.hash.Fnv.fnv1a64($c.toString(), $seed)")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)

  override def prettyName: String = "fnv1a64"
}

/** Membership probe against a FIXED Bloom filter. The deserialized filter
  * rides the plan as a codegen reference object: `addReferenceObj` puts it
  * into the stage's task binary, and every task deserializes its own copy,
  * so a sketch's Java-serialized size is a per-task cost (sketch state is
  * kept in flat primitive arrays for that reason). The Spark-native
  * analogue of the reference's `check(key)` over an in-process structure,
  * mirroring Spark's own `BloomFilterMightContain` but with the
  * reference-compatible layout and fnv-1a hashing. */
case class BloomMightContainExpr(child: Expression, filter: BloomFilter)
    extends UnaryExpression {
  override def dataType: DataType = BooleanType
  override def nullIntolerant: Boolean = true

  override protected def nullSafeEval(input: Any): Any =
    filter.check(input.asInstanceOf[UTF8String].toString)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("graftBloom", filter, classOf[BloomFilter].getName)
    defineCodeGen(ctx, ev, c => s"$ref.check($c.toString())")
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)

  override def prettyName: String = "bloom_might_contain"
}

/** Point-count probe against a FIXED Count-Min sketch — codegen'd like
  * [[BloomMightContainExpr]]; the deserialized sketch is a plan reference
  * object, shipped in each task binary. */
case class CmsCountExpr(child: Expression, sketch: graft.core.CountMinSketch)
    extends UnaryExpression {
  override def dataType: DataType = LongType
  override def nullIntolerant: Boolean = true

  override protected def nullSafeEval(input: Any): Any =
    sketch.check(input.asInstanceOf[UTF8String].toString)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("graftCms", sketch, classOf[graft.core.CountMinSketch].getName)
    defineCodeGen(ctx, ev, c => s"$ref.check($c.toString())")
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
  override def prettyName: String = "cms_count"
}

/** Min-count probe against a FIXED counting Bloom filter. */
case class CbfCountExpr(child: Expression, sketch: graft.core.CountingBloomFilter)
    extends UnaryExpression {
  override def dataType: DataType = LongType
  override def nullIntolerant: Boolean = true

  override protected def nullSafeEval(input: Any): Any =
    sketch.check(input.asInstanceOf[UTF8String].toString)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("graftCbf", sketch,
      classOf[graft.core.CountingBloomFilter].getName)
    defineCodeGen(ctx, ev, c => s"$ref.check($c.toString())")
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
  override def prettyName: String = "cbf_count"
}

/** Count probe against a FIXED counting cuckoo filter — the last sketch
  * probe that was still a ScalaUDF (round-2 verdict #7). */
case class CcfCountExpr(child: Expression, sketch: graft.core.CountingCuckooFilter)
    extends UnaryExpression {
  override def dataType: DataType = LongType
  override def nullIntolerant: Boolean = true

  override protected def nullSafeEval(input: Any): Any =
    sketch.check(input.asInstanceOf[UTF8String].toString)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("graftCcf", sketch,
      classOf[graft.core.CountingCuckooFilter].getName)
    defineCodeGen(ctx, ev, c => s"$ref.check($c.toString())")
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
  override def prettyName: String = "ccf_count"
}

/** Membership probe against a FIXED cuckoo filter (a plan reference object
  * that each task deserializes from its task binary, like
  * [[BloomMightContainExpr]]). */
case class CuckooContainsExpr(child: Expression, filter: graft.core.CuckooFilter)
    extends UnaryExpression {
  override def dataType: DataType = BooleanType
  override def nullIntolerant: Boolean = true

  override protected def nullSafeEval(input: Any): Any =
    filter.check(input.asInstanceOf[UTF8String].toString)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("graftCuckoo", filter, classOf[graft.core.CuckooFilter].getName)
    defineCodeGen(ctx, ev, c => s"$ref.check($c.toString())")
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
  override def prettyName: String = "cuckoo_contains"
}

/** Membership probe against a FIXED quotient filter. */
case class QfContainsExpr(child: Expression, filter: graft.core.QuotientFilter)
    extends UnaryExpression {
  override def dataType: DataType = BooleanType
  override def nullIntolerant: Boolean = true

  override protected def nullSafeEval(input: Any): Any =
    filter.check(input.asInstanceOf[UTF8String].toString)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("graftQf", filter, classOf[graft.core.QuotientFilter].getName)
    defineCodeGen(ctx, ev, c => s"$ref.check($c.toString())")
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
  override def prettyName: String = "qf_contains"
}

/** Membership probe against a FIXED expanding Bloom filter. */
case class EbfContainsExpr(child: Expression, filter: graft.core.ExpandingBloomFilter)
    extends UnaryExpression {
  override def dataType: DataType = BooleanType
  override def nullIntolerant: Boolean = true

  override protected def nullSafeEval(input: Any): Any =
    filter.check(input.asInstanceOf[UTF8String].toString)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("graftEbf", filter,
      classOf[graft.core.ExpandingBloomFilter].getName)
    defineCodeGen(ctx, ev, c => s"$ref.check($c.toString())")
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
  override def prettyName: String = "ebf_contains"
}

object SketchExpressions {
  /** Codegen'd fnv-1a-64 column. */
  def fnv1a64Native(c: Column, seed: Int = 0): Column =
    GraftColumnBridge.column(Fnv1a64Expr(GraftColumnBridge.expression(c), seed))

  /** Codegen'd Bloom probe over serialized reference-format bytes. */
  def bloomMightContainNative(bloomBytes: Array[Byte], key: Column): Column =
    GraftColumnBridge.column(
      BloomMightContainExpr(GraftColumnBridge.expression(key), BloomFilter.fromBytes(bloomBytes)))

  /** Codegen'd CMS point-count probe. */
  def cmsCountNative(cmsBytes: Array[Byte], key: Column): Column =
    GraftColumnBridge.column(
      CmsCountExpr(GraftColumnBridge.expression(key),
        graft.core.CountMinSketch.fromBytes(cmsBytes)))

  /** Codegen'd counting-Bloom min-count probe. */
  def cbfCountNative(cbfBytes: Array[Byte], key: Column): Column =
    GraftColumnBridge.column(
      CbfCountExpr(GraftColumnBridge.expression(key),
        graft.core.CountingBloomFilter.fromBytes(cbfBytes)))

  /** Codegen'd counting-cuckoo count probe. */
  def ccfCountNative(bytes: Array[Byte], fingerprintBits: Int, key: Column): Column =
    GraftColumnBridge.column(
      CcfCountExpr(GraftColumnBridge.expression(key),
        graft.core.CountingCuckooFilter.fromBytes(bytes, fingerprintBits = fingerprintBits)))

  /** Codegen'd cuckoo membership probe. */
  def cuckooContainsNative(bytes: Array[Byte], fingerprintBits: Int, key: Column): Column =
    GraftColumnBridge.column(
      CuckooContainsExpr(GraftColumnBridge.expression(key),
        graft.core.CuckooFilter.fromBytes(bytes, fingerprintBits = fingerprintBits)))

  /** Codegen'd quotient-filter membership probe. */
  def qfContainsNative(bytes: Array[Byte], key: Column): Column =
    GraftColumnBridge.column(
      QfContainsExpr(GraftColumnBridge.expression(key),
        graft.core.QuotientFilter.fromBytes(bytes)))

  /** Codegen'd expanding-Bloom membership probe. */
  def ebfContainsNative(bytes: Array[Byte], key: Column): Column =
    GraftColumnBridge.column(
      EbfContainsExpr(GraftColumnBridge.expression(key),
        graft.core.ExpandingBloomFilter.fromBytes(bytes)))
}
