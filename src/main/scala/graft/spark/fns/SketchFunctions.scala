package graft.spark.fns

import org.apache.spark.sql.{Column, GraftColumnBridge, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{Expression, ImplicitCastInputTypes}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, BinaryType, DataType, DoubleType, IntegerType, LongType,
  StringType}
import org.apache.spark.unsafe.types.UTF8String

import graft.core._
import graft.ext._
import graft.spark.aggs.SqlArgs
import graft.spark.text.{BpeTokenizer, CharLm}

/** The kernels of the sketch-column functions (static, so generated code
  * calls them): the Spark analogue of the reference's union/intersection/
  * jaccard/join driver-side API (bloom.py:371-460,
  * countminsketch.py:356-399) over serialized sketches, and the reference
  * hash kernel (golden-vector parity with hashes.py; see HashesSpec). */
object SketchKernels {
  def bfEstimate(b: Array[Byte]): Long = BloomFilter.fromBytes(b).estimateElements

  def bfCurrentFpr(b: Array[Byte]): Double = BloomFilter.fromBytes(b).currentFalsePositiveRate

  def bfUnion(a: Array[Byte], b: Array[Byte]): Array[Byte] =
    BloomFilter.fromBytes(a).union(BloomFilter.fromBytes(b)).toBytes

  def bfIntersect(a: Array[Byte], b: Array[Byte]): Array[Byte] =
    BloomFilter.fromBytes(a).intersection(BloomFilter.fromBytes(b)).toBytes

  def bfJaccard(a: Array[Byte], b: Array[Byte]): Double =
    BloomFilter.fromBytes(a).jaccardIndex(BloomFilter.fromBytes(b))

  def cmsJoin(a: Array[Byte], b: Array[Byte]): Array[Byte] =
    CountMinSketch.fromBytes(a).join(CountMinSketch.fromBytes(b)).toBytes

  def hllEstimate(b: Array[Byte]): Long = Hll.fromBytes(b).estimate

  def hllMerge(a: Array[Byte], b: Array[Byte]): Array[Byte] =
    Hll.fromBytes(a).merge(Hll.fromBytes(b)).toBytes

  /** KLL quantiles at the given ranks. */
  def kllQuantiles(b: Array[Byte], qs: ArrayData): ArrayData =
    ArrayData.toArrayData(qs.toDoubleArray().map(Kll.fromBytes(b).quantile))

  def tdigestQuantiles(b: Array[Byte], qs: ArrayData): ArrayData =
    ArrayData.toArrayData(qs.toDoubleArray().map(TDigest.fromBytes(b).quantile))

  def tdigestCdf(b: Array[Byte], v: Double): Double = TDigest.fromBytes(b).cdf(v)

  /** The quotient filter's lossless hash enumeration (quotientfilter.py:208-245). */
  def qfHashes(b: Array[Byte]): ArrayData =
    ArrayData.toArrayData(QuotientFilter.fromBytes(b).hashes().toArray)

  def fnv1a32(s: UTF8String, seed: Int): Long = graft.hash.Fnv.fnv1a32(s.toString, seed) & 0xffffffffL

  def fnv1a64Depth(s: UTF8String, depth: Int): ArrayData =
    ArrayData.toArrayData(Utf8Fnv.hashes(s, depth))
}

/** A sketch-column or hash function: the [[SketchKernels]] method of its
  * row in [[SketchFunctions.columnFunctions]] over its arguments, each
  * implicitly cast to the row's input type. A null argument gives null. */
case class SketchColumnExpr(name: String, args: Seq[Expression])
    extends KernelExpr with ImplicitCastInputTypes {
  @transient private lazy val fn = SketchFunctions.columnFunction(name)
  override protected def kernel: Kernel = new Kernel(SketchKernels, fn.kernel, args)
  override def dataType: DataType = fn.dataType
  override def inputTypes: Seq[DataType] = fn.inputTypes
  override def nullable: Boolean = fn.nullable || super.nullable
  override def prettyName: String = name
  override protected def stringArgs: Iterator[Any] = args.iterator
}

/** Sketch-column algebra and hash functions, and the scalar SQL registry.
  *
  * The algebra functions (`bfUnion` etc.) operate on serialized sketch
  * columns; a null sketch gives null, as a SQL function does. Per-key
  * probes of a fixed sketch are the codegen'd expressions in
  * [[SketchExpressions]].
  */
object SketchFunctions {

  /** One sketch-column or hash function: SQL name, [[SketchKernels]]
    * method, output type, argument types, usage, and whether the output is
    * nullable whatever the input (it is for all but `fnv1a32`). */
  private[fns] case class ColumnFunction(name: String, kernel: String, dataType: DataType,
                                         inputTypes: Seq[DataType], args: String, what: String,
                                         nullable: Boolean = true)

  private val ranks = ArrayType(DoubleType)
  private val quantiles = ArrayType(DoubleType, containsNull = false)
  private val longs = ArrayType(LongType, containsNull = false)

  private[fns] val columnFunctions: Seq[ColumnFunction] = Seq(
    ColumnFunction("bf_estimate", "bfEstimate", LongType, Seq(BinaryType), "(bloom)",
      "estimated element count of a Bloom filter"),
    ColumnFunction("bf_current_fpr", "bfCurrentFpr", DoubleType, Seq(BinaryType), "(bloom)",
      "current false-positive rate of a Bloom filter"),
    ColumnFunction("bf_union", "bfUnion", BinaryType, Seq(BinaryType, BinaryType),
      "(bloom, bloom)", "union of two Bloom filters"),
    ColumnFunction("bf_intersect", "bfIntersect", BinaryType, Seq(BinaryType, BinaryType),
      "(bloom, bloom)", "intersection of two Bloom filters"),
    ColumnFunction("bf_jaccard", "bfJaccard", DoubleType, Seq(BinaryType, BinaryType),
      "(bloom, bloom)", "Jaccard index of two Bloom filters"),
    ColumnFunction("cms_join", "cmsJoin", BinaryType, Seq(BinaryType, BinaryType),
      "(cms, cms)", "cell-wise sum of two Count-Min sketches"),
    ColumnFunction("hll_estimate", "hllEstimate", LongType, Seq(BinaryType), "(hll)",
      "distinct-count estimate of an HLL sketch"),
    ColumnFunction("hll_merge", "hllMerge", BinaryType, Seq(BinaryType, BinaryType),
      "(hll, hll)", "union of two HLL sketches"),
    ColumnFunction("kll_quantiles", "kllQuantiles", quantiles, Seq(BinaryType, ranks),
      "(kll, ranks)", "KLL quantiles at the given ranks"),
    ColumnFunction("tdigest_quantiles", "tdigestQuantiles", quantiles, Seq(BinaryType, ranks),
      "(tdigest, ranks)", "t-digest quantiles at the given ranks"),
    ColumnFunction("tdigest_cdf", "tdigestCdf", DoubleType, Seq(BinaryType, DoubleType),
      "(tdigest, value)", "t-digest CDF at the value"),
    ColumnFunction("qf_hashes", "qfHashes", longs, Seq(BinaryType), "(qf)",
      "every hash a quotient filter holds (use with explode)"),
    ColumnFunction("fnv1a32", "fnv1a32", LongType, Seq(StringType, IntegerType),
      "(text, seed)", "unsigned fnv-1a-32 of text", nullable = false),
    ColumnFunction("fnv1a64_depth", "fnv1a64Depth", longs, Seq(StringType, IntegerType),
      "(text, depth)", "fnv-1a-64 of text under seeds 0 until depth"))

  private val byName = columnFunctions.map(f => f.name -> f).toMap

  private[fns] def columnFunction(name: String): ColumnFunction = byName(name)

  private def call(name: String, args: Column*): Column =
    GraftColumnBridge.column(SketchColumnExpr(name, args.map(GraftColumnBridge.expression)))

  // ---- sketch-column algebra (binary -> value / binary) ----

  def bfEstimate(bloom: Column): Column = call("bf_estimate", bloom)
  def bfCurrentFpr(bloom: Column): Column = call("bf_current_fpr", bloom)
  def bfUnion(a: Column, b: Column): Column = call("bf_union", a, b)
  def bfIntersect(a: Column, b: Column): Column = call("bf_intersect", a, b)
  def bfJaccard(a: Column, b: Column): Column = call("bf_jaccard", a, b)
  def cmsJoin(a: Column, b: Column): Column = call("cms_join", a, b)
  def hllEstimate(hll: Column): Column = call("hll_estimate", hll)
  def hllMerge(a: Column, b: Column): Column = call("hll_merge", a, b)

  /** KLL quantiles at the given ranks. */
  def kllQuantiles(kll: Column, ranks: Column): Column = call("kll_quantiles", kll, ranks)
  def tdigestQuantiles(td: Column, ranks: Column): Column = call("tdigest_quantiles", td, ranks)
  def tdigestCdf(td: Column, value: Column): Column = call("tdigest_cdf", td, value)

  /** The quotient filter's lossless hash enumeration — the one
    * generator-shaped operator in the reference: sketch → rows. Use with
    * explode(): `df.select(explode(qfHashes($"qf")))`. */
  def qfHashes(qf: Column): Column = call("qf_hashes", qf)

  /** Reference hash kernel as column functions. The 64-bit form is the
    * codegen'd [[Fnv1a64Expr]] (`SketchExpressions.fnv1a64Native`, SQL
    * `fnv1a64`). */
  def fnv1a32(text: Column, seed: Column): Column = call("fnv1a32", text, seed)
  def fnv1a64Depth(text: Column, depth: Column): Column = call("fnv1a64_depth", text, depth)

  /** The scalar SQL functions, one `(name, usage, builder)` row each: the
    * only registry. `registerAll` and [[graft.spark.plans.GraftExtensions]]
    * both register exactly these rows, next to
    * [[graft.spark.aggs.SketchUdafs.sqlAggregates]]. Size arguments are
    * literals; where a name makes them optional, the usage string gives the
    * defaults. The tokenizer and LM functions share one broadcast of their model per
    * SparkContext, so repeated calls are equal expressions. */
  val sqlFunctions: Seq[(String, String, Seq[Expression] => Expression)] = {
    import SqlArgs.{function, int, long}
    columnFunctions.map { f =>
      function(f.name, f.args, f.what) {
        case args if args.length == f.inputTypes.length => SketchColumnExpr(f.name, args)
      }
    } ++ Seq(
      function("fnv1a64", "(text, seed)", "fnv-1a-64 of text; seed is a literal int") {
        case Seq(t, seed) => Fnv1a64Expr(t, int(seed, "fnv1a64", "seed"))
      },
      function("cosine_f32", "(a, b)", "codegen'd cosine over float arrays") {
        case Seq(a, b) => CosineF32Expr(a, b)
      },
      function("shingles", "(text[, n])", "distinct n-token shingles (default 3)") {
        case Seq(t) => ShinglesExpr(t, 3)
        case Seq(t, n) => ShinglesExpr(t, int(n, "shingles", "n"))
      },
      function("nfc_normalize", "(text)", "Unicode NFC normalization") {
        case Seq(t) => NfcNormalizeExpr(t)
      },
      function("simhash64", "(text)", "64-bit SimHash over whitespace tokens") {
        case Seq(t) => SimHash64Expr(t)
      },
      function("bpe_count", "(text)", "TRUE merged-BPE token count (standard table)") {
        case Seq(t) => BpeCountExpr(t, SketchExpressions.broadcastModel(BpeTokenizer.standard))
      },
      function("bpe_count_bytes", "(text)",
          "byte-level merged-BPE token count (GPT-2 byte alphabet)") {
        case Seq(t) => BpeCountExpr(t, SketchExpressions.broadcastModel(BpeTokenizer.standardBytes))
      },
      function("span_hashes", "(text, n)", "fused non-distinct n-token window hashes") {
        case Seq(t, n) => SpanHashesExpr(t, int(n, "span_hashes", "n"))
      },
      function("lang_id", "(text)", "script + char-n-gram-profile language ID") {
        case Seq(t) => LangIdExpr(t)
      },
      function("lang_confidence", "(text)", "per-mille confidence of the lang_id decision") {
        case Seq(t) => LangConfidenceExpr(t)
      },
      function("deflate_ratio_milli", "(text)",
          "per-mille DEFLATE compression ratio (compressibility signal)") {
        case Seq(t) => DeflateRatioExpr(t)
      },
      function("url_canonicalize", "(url)", "RFC 3986 normalization + tracking-param strip") {
        case Seq(t) => UrlCanonExpr(t)
      },
      function("cjk_segment", "(text)", "greedy maximum-matching CJK segmentation, tokens " +
          "re-joined with spaces (whitespace re-normalization on CJK-free text)") {
        case Seq(t) => CjkSegmentExpr(t)
      },
      function("cjk_token_count", "(text)",
          "CJK-aware token count (== whitespace count on CJK-free text)") {
        case Seq(t) => CjkTokenCountExpr(t)
      },
      function("charlm_bits_milli", "(text)",
          "char-LM perplexity score, milli-bits/char (standard model)") {
        case Seq(t) => CharLmBitsExpr(t, SketchExpressions.broadcastModel(CharLm.standard))
      },
      function("dsir_buckets", "(text, buckets)",
          "DSIR hashed unigram+bigram feature bucket ids; buckets is a literal int") {
        case Seq(t, b) => DsirBucketsExpr(t, int(b, "dsir_buckets", "buckets"))
      },
      function("text_embedding", "(text, dim[, seed])", "deterministic hashed-ngram " +
          "random-projection embedding: unit array<float>[dim] (zero vector for empty " +
          "text); dim and seed (default 42) are literals") {
        case Seq(t, d) => HashEmbedExpr(t, int(d, "text_embedding", "dim"), 42L)
        case Seq(t, d, s) => HashEmbedExpr(t, int(d, "text_embedding", "dim"),
          long(s, "text_embedding", "seed"))
      })
  }

  /** Register every scalar SQL function in the session. */
  def registerAll(spark: SparkSession): Unit =
    sqlFunctions.foreach { case (name, usage, build) =>
      GraftColumnBridge.registerFunction(spark, name, usage, build)
    }
}
