package graft.spark.aggs

import org.apache.spark.sql.{Column, GraftColumnBridge, SparkSession}
import org.apache.spark.sql.catalyst.expressions.Expression

/** The DataFrame- and SQL-facing sketch aggregate registry: one aggregate
  * per sketch, each a [[SketchAgg]] over the sketch's [[SketchKind]]. Each
  * reads its input straight off the InternalRow, keeps the live sketch as
  * the per-partition buffer, serializes it in the sketch's reference byte
  * format at the shuffle, and skips a row whose key, value or count is null,
  * as SQL aggregates do.
  */
object SketchUdafs {
  private[aggs] def agg[S >: Null](kind: SketchKind[S], inputs: Column*): Column =
    GraftColumnBridge.column(
      SketchAgg(inputs.map(GraftColumnBridge.expression), kind).toAggregateExpression())

  def bloom(estElements: Long, fpr: Double)(key: Column): Column =
    agg(BloomKind(estElements, fpr), key)

  /** A negative count removes. */
  def cbf(estElements: Long, fpr: Double)(key: Column, count: Column): Column =
    agg(CbfKind(estElements, fpr), key, count)

  /** A negative count removes. */
  def cms(width: Int, depth: Int)(key: Column, count: Column): Column =
    agg(CmsKind(width, depth), key, count)

  def heavyHitters(numHitters: Int, width: Int, depth: Int)(key: Column, count: Column): Column =
    agg(HeavyHittersKind(numHitters, width, depth), key, count)

  def streamThreshold(threshold: Long, width: Int, depth: Int)(key: Column, count: Column): Column =
    agg(StreamThresholdKind(threshold, width, depth), key, count)

  def cuckoo(capacity: Int, bucketSize: Int, fingerprintBits: Int)(key: Column): Column =
    agg(CuckooKind(capacity, bucketSize, fingerprintBits), key)

  def countingCuckoo(capacity: Int, bucketSize: Int, fingerprintBits: Int)(key: Column): Column =
    agg(CountingCuckooKind(capacity, bucketSize, fingerprintBits), key)

  def quotientFilter(quotient: Int)(key: Column): Column =
    agg(QuotientFilterKind(quotient), key)

  def ebf(estElements: Long, fpr: Double)(key: Column): Column =
    agg(EbfKind(estElements, fpr), key)

  /** HLL sketch bytes. */
  def hll(p: Int)(key: Column): Column = agg(HllKind(p, estimate = false), key)

  /** HLL distinct-count estimate (Long). */
  def hllCount(p: Int)(key: Column): Column = agg(HllKind(p, estimate = true), key)

  def kll(k: Int)(value: Column): Column = agg(KllKind(k), value)

  def tdigest(compression: Double)(value: Column): Column = agg(TDigestKind(compression), value)

  /** The SQL aggregates, one `(name, usage, builder)` row each: the only
    * registry. `registerAll` and [[graft.spark.plans.GraftExtensions]] both
    * register exactly these rows. Trailing size arguments, where a name
    * takes them, are optional literals; when omitted they take the defaults
    * in the usage string. */
  val sqlAggregates: Seq[(String, String, Seq[Expression] => Expression)] = {
    import SqlArgs._
    Seq(
      sqlAgg("bloom_agg", "(key[, est_elements, fpr])",
          "Bloom filter bytes; defaults 1000000, 0.01") {
        case Seq(k) => SketchAgg(Seq(k), BloomKind(1000000L, 0.01))
        case Seq(k, n, p) => SketchAgg(Seq(k),
          BloomKind(long(n, "bloom_agg", "est_elements"), double(p, "bloom_agg", "fpr")))
      },
      sqlAgg("cms_agg", "(key, count[, width, depth])",
          "Count-Min sketch bytes; defaults 2048, 5") {
        case Seq(k, c) => SketchAgg(Seq(k, c), CmsKind(2048, 5))
        case Seq(k, c, w, d) => SketchAgg(Seq(k, c),
          CmsKind(int(w, "cms_agg", "width"), int(d, "cms_agg", "depth")))
      },
      sqlAgg("heavy_hitters", "(key, count[, k[, width, depth]])",
          "top-k map<key, estimated count>; defaults 10, 4096, 5") {
        case Seq(key, c) => SketchAgg(Seq(key, c), HeavyHittersKind(10, 4096, 5))
        case Seq(key, c, k) =>
          SketchAgg(Seq(key, c), HeavyHittersKind(int(k, "heavy_hitters", "k"), 4096, 5))
        case Seq(key, c, k, w, d) => SketchAgg(Seq(key, c), HeavyHittersKind(
          int(k, "heavy_hitters", "k"), int(w, "heavy_hitters", "width"),
          int(d, "heavy_hitters", "depth")))
      },
      sqlAgg("hll_agg", "(key[, p])", "HLL sketch bytes; default p 14") {
        case Seq(k) => SketchAgg(Seq(k), HllKind(14, estimate = false))
        case Seq(k, p) => SketchAgg(Seq(k), HllKind(int(p, "hll_agg", "p"), estimate = false))
      },
      sqlAgg("hll_count", "(key[, p])", "HLL distinct-count estimate; default p 14") {
        case Seq(k) => SketchAgg(Seq(k), HllKind(14, estimate = true))
        case Seq(k, p) => SketchAgg(Seq(k), HllKind(int(p, "hll_count", "p"), estimate = true))
      },
      sqlAgg("kll_agg", "(value[, k])", "KLL sketch bytes; default k 200") {
        case Seq(v) => SketchAgg(Seq(v), KllKind(200))
        case Seq(v, k) => SketchAgg(Seq(v), KllKind(int(k, "kll_agg", "k")))
      },
      sqlAgg("cbf_agg", "(key, count)",
          "counting Bloom filter bytes, est_elements 1000000, fpr 0.01") {
        case Seq(k, c) => SketchAgg(Seq(k, c), CbfKind(1000000L, 0.01))
      },
      sqlAgg("stream_threshold", "(key, count)",
          "map<key, estimate> of the keys meeting threshold 100; width 4096, depth 5") {
        case Seq(k, c) => SketchAgg(Seq(k, c), StreamThresholdKind(100, 4096, 5))
      },
      sqlAgg("cuckoo_agg", "(key)",
          "cuckoo filter bytes, capacity 100000, bucket size 4, 32-bit fingerprints") {
        case Seq(k) => SketchAgg(Seq(k), CuckooKind(100000, 4, 32))
      },
      sqlAgg("counting_cuckoo_agg", "(key)",
          "counting cuckoo filter bytes, capacity 100000, bucket size 4, 32-bit fingerprints") {
        case Seq(k) => SketchAgg(Seq(k), CountingCuckooKind(100000, 4, 32))
      },
      sqlAgg("qf_agg", "(key)", "quotient filter bytes, quotient 18") {
        case Seq(k) => SketchAgg(Seq(k), QuotientFilterKind(18))
      },
      sqlAgg("ebf_agg", "(key)", "expanding Bloom filter bytes, est_elements 10000, fpr 0.01") {
        case Seq(k) => SketchAgg(Seq(k), EbfKind(10000L, 0.01))
      },
      sqlAgg("tdigest_agg", "(value)", "t-digest bytes, compression 100") {
        case Seq(v) => SketchAgg(Seq(v), TDigestKind(100.0))
      })
  }

  private def sqlAgg(name: String, args: String, what: String)(
      build: PartialFunction[Seq[Expression], SketchAgg[_]])
      : (String, String, Seq[Expression] => Expression) =
    SqlArgs.function(name, args, what)(build.andThen(_.toAggregateExpression()))

  /** Register every sketch aggregate for SQL use:
    * `SELECT lang, hll_count(url) FROM pages GROUP BY lang`. */
  def registerAll(spark: SparkSession): Unit =
    sqlAggregates.foreach { case (name, usage, build) =>
      GraftColumnBridge.registerFunction(spark, name, usage, build)
    }
}

/** SQL function rows and the literal arguments of their builders, read at
  * analysis time. */
private[spark] object SqlArgs {
  /** One `(name, usage, builder)` row; the builder rejects any argument list
    * `build` does not match with the usage. */
  def function(name: String, args: String, what: String)(
      build: PartialFunction[Seq[Expression], Expression])
      : (String, String, Seq[Expression] => Expression) =
    (name, s"$name$args - $what", (in: Seq[Expression]) =>
      build.applyOrElse(in, (_: Seq[Expression]) =>
        throw new IllegalArgumentException(s"$name takes $args")))

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
