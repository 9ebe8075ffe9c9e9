package graft.spark.aggs

import org.apache.spark.sql.{Column, Encoder, Encoders, GraftColumnBridge, SparkSession}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.expressions.UserDefinedFunction
import org.apache.spark.sql.functions.udaf

/** The DataFrame- and SQL-facing sketch aggregate registry: one aggregate
  * per sketch.
  *
  * Bloom, CMS, heavy hitters, HLL and KLL are Catalyst-native
  * `TypedImperativeAggregate`s ([[NativeBloomAgg]], [[NativeCmsAgg]],
  * [[NativeHhAgg]], [[NativeHllAgg]], [[NativeKllAgg]]): each reads its
  * input straight off the InternalRow, keeps the live sketch as the
  * per-partition buffer and serializes it in the sketch's reference byte
  * format at the shuffle. They skip a row whose key, value or count is null,
  * as SQL aggregates do. The other sketches are typed Aggregators
  * ([[SketchAggs]]) lowered through `functions.udaf` over boxed input
  * encoders, and skip null rows by the same rule; multi-column inputs
  * ((key, count)) map to the flattened tuple encoder, so
  * `cbf(...)($"key", $"cnt")` works directly.
  */
object SketchUdafs {
  private val keyCountEnc: Encoder[(String, java.lang.Long)] =
    Encoders.tuple(Encoders.STRING, Encoders.LONG)

  private def native(agg: TypedImperativeAggregate[_]): Column =
    GraftColumnBridge.column(agg.toAggregateExpression())
  private def expr(c: Column): Expression = GraftColumnBridge.expression(c)

  def bloom(estElements: Long, fpr: Double)(key: Column): Column =
    native(NativeBloomAgg(expr(key), estElements, fpr))

  def cbf(estElements: Long, fpr: Double): UserDefinedFunction =
    udaf(new CbfAgg(estElements, fpr), keyCountEnc)

  def cms(width: Int, depth: Int)(key: Column, count: Column): Column =
    native(NativeCmsAgg(expr(key), expr(count), width, depth))

  def heavyHitters(numHitters: Int, width: Int, depth: Int)(key: Column, count: Column): Column =
    native(NativeHhAgg(expr(key), expr(count), numHitters, width, depth))

  def streamThreshold(threshold: Long, width: Int, depth: Int): UserDefinedFunction =
    udaf(new StreamThresholdAgg(threshold, width, depth), keyCountEnc)

  def cuckoo(capacity: Int, bucketSize: Int, fingerprintBits: Int): UserDefinedFunction =
    udaf(new CuckooAgg(capacity, bucketSize, fingerprintBits), Encoders.STRING)

  def countingCuckoo(capacity: Int, bucketSize: Int, fingerprintBits: Int): UserDefinedFunction =
    udaf(new CountingCuckooAgg(capacity, bucketSize, fingerprintBits), Encoders.STRING)

  def quotientFilter(quotient: Int): UserDefinedFunction =
    udaf(new QuotientFilterAgg(quotient), Encoders.STRING)

  def ebf(estElements: Long, fpr: Double): UserDefinedFunction =
    udaf(new EbfAgg(estElements, fpr), Encoders.STRING)

  /** HLL sketch bytes. */
  def hll(p: Int)(key: Column): Column =
    native(NativeHllAgg(expr(key), p, estimate = false))

  /** HLL distinct-count estimate (Long). */
  def hllCount(p: Int)(key: Column): Column =
    native(NativeHllAgg(expr(key), p, estimate = true))

  def kll(k: Int)(value: Column): Column =
    native(NativeKllAgg(expr(value), k))

  def tdigest(compression: Double): UserDefinedFunction =
    udaf(new TDigestAgg(compression), Encoders.DOUBLE)

  /** SQL builders of the native aggregates, one `(name, usage, builder)`
    * row each. `registerAll` and [[graft.spark.plans.GraftExtensions]] both
    * register exactly these rows. Trailing size arguments are optional
    * literals; when omitted they take the defaults in the usage string. */
  val sqlAggregates: Seq[(String, String, Seq[Expression] => Expression)] = {
    import SqlArgs._
    Seq(
      sqlAgg("bloom_agg", "(key[, est_elements, fpr])",
          "Bloom filter bytes; defaults 1000000, 0.01") {
        case Seq(k) => NativeBloomAgg(k, 1000000L, 0.01)
        case Seq(k, n, p) =>
          NativeBloomAgg(k, long(n, "bloom_agg", "est_elements"), double(p, "bloom_agg", "fpr"))
      },
      sqlAgg("cms_agg", "(key, count[, width, depth])",
          "Count-Min sketch bytes; defaults 2048, 5") {
        case Seq(k, c) => NativeCmsAgg(k, c, 2048, 5)
        case Seq(k, c, w, d) =>
          NativeCmsAgg(k, c, int(w, "cms_agg", "width"), int(d, "cms_agg", "depth"))
      },
      sqlAgg("heavy_hitters", "(key, count[, k[, width, depth]])",
          "top-k map<key, estimated count>; defaults 10, 4096, 5") {
        case Seq(key, c) => NativeHhAgg(key, c, 10, 4096, 5)
        case Seq(key, c, k) => NativeHhAgg(key, c, int(k, "heavy_hitters", "k"), 4096, 5)
        case Seq(key, c, k, w, d) => NativeHhAgg(key, c, int(k, "heavy_hitters", "k"),
          int(w, "heavy_hitters", "width"), int(d, "heavy_hitters", "depth"))
      },
      sqlAgg("hll_agg", "(key[, p])", "HLL sketch bytes; default p 14") {
        case Seq(k) => NativeHllAgg(k, 14, estimate = false)
        case Seq(k, p) => NativeHllAgg(k, int(p, "hll_agg", "p"), estimate = false)
      },
      sqlAgg("hll_count", "(key[, p])", "HLL distinct-count estimate; default p 14") {
        case Seq(k) => NativeHllAgg(k, 14, estimate = true)
        case Seq(k, p) => NativeHllAgg(k, int(p, "hll_count", "p"), estimate = true)
      },
      sqlAgg("kll_agg", "(value[, k])", "KLL sketch bytes; default k 200") {
        case Seq(v) => NativeKllAgg(v, 200)
        case Seq(v, k) => NativeKllAgg(v, int(k, "kll_agg", "k"))
      })
  }

  private def sqlAgg(name: String, args: String, what: String)(
      build: PartialFunction[Seq[Expression], TypedImperativeAggregate[_]])
      : (String, String, Seq[Expression] => Expression) =
    (name, s"$name$args - $what", (in: Seq[Expression]) =>
      build.applyOrElse(in, (_: Seq[Expression]) =>
        throw new IllegalArgumentException(s"$name takes $args")).toAggregateExpression())

  /** Register every sketch aggregate for SQL use:
    * `SELECT lang, hll_count(url) FROM pages GROUP BY lang`. */
  def registerAll(spark: SparkSession): Unit = {
    sqlAggregates.foreach { case (name, usage, build) =>
      GraftColumnBridge.registerFunction(spark, name, usage, build)
    }
    spark.udf.register("cbf_agg", cbf(1000000, 0.01))
    spark.udf.register("stream_threshold", streamThreshold(100, 4096, 5))
    spark.udf.register("cuckoo_agg", cuckoo(100000, 4, 32))
    spark.udf.register("counting_cuckoo_agg", countingCuckoo(100000, 4, 32))
    spark.udf.register("qf_agg", quotientFilter(18))
    spark.udf.register("ebf_agg", ebf(10000, 0.01))
    spark.udf.register("tdigest_agg", tdigest(100.0))
  }
}

/** Literal arguments of SQL function builders, read at analysis time. */
private[spark] object SqlArgs {
  def long(e: Expression, fn: String, name: String): Long = {
    require(e.foldable, s"$fn: $name must be a literal")
    e.eval() match {
      case d: org.apache.spark.sql.types.Decimal => d.toLong
      case n: Number => n.longValue
      case other => throw new IllegalArgumentException(s"$fn: $name is not numeric: $other")
    }
  }

  def int(e: Expression, fn: String, name: String): Int = Math.toIntExact(long(e, fn, name))

  def double(e: Expression, fn: String, name: String): Double = {
    require(e.foldable, s"$fn: $name must be a literal")
    e.eval() match {
      case d: org.apache.spark.sql.types.Decimal => d.toDouble // SQL 0.01 literal
      case n: Number => n.doubleValue
      case other => throw new IllegalArgumentException(s"$fn: $name is not numeric: $other")
    }
  }
}
