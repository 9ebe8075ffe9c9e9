package graft.spark.fns

import scala.reflect.runtime.universe.TypeTag

import org.apache.spark.sql.GraftColumnBridge
import org.apache.spark.sql.expressions.UserDefinedFunction
import org.apache.spark.sql.functions.udf

import graft.core._
import graft.ext._

/** Sketch-column algebra and hash functions.
  *
  * The algebra functions (`bfUnion` etc.) operate on serialized sketch
  * columns — the Spark analogue of the reference's union/intersection/
  * jaccard/join driver-side API (bloom.py:371-460, countminsketch.py:356-399).
  * A null sketch gives null, as a SQL function does. Per-key probes of a
  * fixed sketch are the codegen'd expressions in [[SketchExpressions]].
  */
object SketchFunctions extends Serializable {

  /** A function of one sketch column; null when the sketch is null. */
  private def ofSketch[R: TypeTag](f: Array[Byte] => R): UserDefinedFunction =
    udf((b: Array[Byte]) => Option(b).map(f))

  /** A function of two sketch columns; null when either is null. */
  private def ofSketches[R: TypeTag](f: (Array[Byte], Array[Byte]) => R): UserDefinedFunction =
    udf((a: Array[Byte], b: Array[Byte]) => if (a == null || b == null) None else Some(f(a, b)))

  // ---- sketch-column algebra (binary -> value / binary) ----

  val bfEstimate: UserDefinedFunction = ofSketch(BloomFilter.fromBytes(_).estimateElements)

  val bfCurrentFpr: UserDefinedFunction =
    ofSketch(BloomFilter.fromBytes(_).currentFalsePositiveRate)

  val bfUnion: UserDefinedFunction =
    ofSketches((a, b) => BloomFilter.fromBytes(a).union(BloomFilter.fromBytes(b)).toBytes)

  val bfIntersect: UserDefinedFunction =
    ofSketches((a, b) => BloomFilter.fromBytes(a).intersection(BloomFilter.fromBytes(b)).toBytes)

  val bfJaccard: UserDefinedFunction =
    ofSketches((a, b) => BloomFilter.fromBytes(a).jaccardIndex(BloomFilter.fromBytes(b)))

  val cmsJoin: UserDefinedFunction =
    ofSketches((a, b) => CountMinSketch.fromBytes(a).join(CountMinSketch.fromBytes(b)).toBytes)

  val hllEstimate: UserDefinedFunction = ofSketch(Hll.fromBytes(_).estimate)

  val hllMerge: UserDefinedFunction =
    ofSketches((a, b) => Hll.fromBytes(a).merge(Hll.fromBytes(b)).toBytes)

  /** KLL quantiles at the given ranks. */
  val kllQuantiles: UserDefinedFunction =
    udf((b: Array[Byte], qs: Seq[Double]) =>
      if (b == null || qs == null) None else Some(qs.map(Kll.fromBytes(b).quantile)))

  val tdigestQuantiles: UserDefinedFunction =
    udf((b: Array[Byte], qs: Seq[Double]) =>
      if (b == null || qs == null) None else Some(qs.map(TDigest.fromBytes(b).quantile)))

  val tdigestCdf: UserDefinedFunction =
    udf((b: Array[Byte], v: Double) => Option(b).map(TDigest.fromBytes(_).cdf(v)))

  /** The quotient filter's lossless hash enumeration (quotientfilter.py:208-245)
    * — the one generator/UDTF-shaped operator in the reference: sketch → rows.
    * Use with explode(): `df.select(explode(qfHashes($"qf")))`. */
  val qfHashes: UserDefinedFunction = ofSketch(QuotientFilter.fromBytes(_).hashes().toArray)

  /** Reference hash kernel as column functions (golden-vector parity with
    * hashes.py; see HashesSpec). The 64-bit form is the codegen'd
    * [[Fnv1a64Expr]] (`SketchExpressions.fnv1a64Native`, SQL `fnv1a64`). */
  val fnv1a32: UserDefinedFunction =
    udf((s: String, seed: Int) => graft.hash.Fnv.fnv1a32(s, seed) & 0xffffffffL)

  val fnv1a64Depth: UserDefinedFunction =
    udf((s: String, depth: Int) => graft.hash.Fnv1aHasher.hashes(s, depth))

  /** Register the scalar sketch functions for SQL use. */
  def registerAll(spark: org.apache.spark.sql.SparkSession): Unit = {
    spark.udf.register("bf_estimate", bfEstimate)
    spark.udf.register("bf_current_fpr", bfCurrentFpr)
    spark.udf.register("bf_union", bfUnion)
    spark.udf.register("bf_intersect", bfIntersect)
    spark.udf.register("bf_jaccard", bfJaccard)
    spark.udf.register("cms_join", cmsJoin)
    spark.udf.register("hll_estimate", hllEstimate)
    spark.udf.register("hll_merge", hllMerge)
    spark.udf.register("kll_quantiles", kllQuantiles)
    spark.udf.register("tdigest_quantiles", tdigestQuantiles)
    spark.udf.register("tdigest_cdf", tdigestCdf)
    spark.udf.register("qf_hashes", qfHashes)
    GraftColumnBridge.registerFunction(spark, "fnv1a64",
      "fnv1a64(text, seed) - fnv-1a-64 of text; seed is a literal int", {
        case Seq(text, seed) =>
          Fnv1a64Expr(text, graft.spark.aggs.SqlArgs.int(seed, "fnv1a64", "seed"))
        case _ => throw new IllegalArgumentException("fnv1a64 takes (text, seed)")
      })
    spark.udf.register("fnv1a32", fnv1a32)
    spark.udf.register("fnv1a64_depth", fnv1a64Depth)
  }
}
