package graft

import java.lang.reflect.Modifier
import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.CatalystTypeConverters
import org.apache.spark.sql.catalyst.expressions.{BindReferences, BoundReference, Expression, Literal}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, GenerateUnsafeProjection}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.functions.{col, lit}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String
import org.scalatest.funsuite.AnyFunSuite

import graft.core.{BloomFilter, CountingBloomFilter, CountingCuckooFilter, CountMinSketch, CuckooFilter,
  ExpandingBloomFilter, QuotientFilter}
import graft.ext.{Hll, Kll, TDigest}
import graft.spark.fns.{KernelExpr, SketchExpressions, SketchFunctions, SortableDoubleBitsExpr,
  TextExpressions, TextKernels, VecExpressions}

/** A session built with [[graft.spark.plans.GraftExtensions]] on the shared
  * SparkContext. */
object GraftExtSession {
  def apply[T](f: SparkSession => T): T = {
    // The SparkContext is shared JVM-wide across suites; clear the
    // active/default session so getOrCreate builds a NEW SparkSession (with
    // extensions) on the existing context, then restore the shared one.
    val prior = SparkSession.getDefaultSession
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    try {
      val spark = SparkSession.builder()
        .master("local[4]")
        .appName("graft-ext-test")
        .config("spark.sql.shuffle.partitions", "4")
        .config("spark.ui.enabled", "false")
        .withExtensions(new graft.spark.plans.GraftExtensions)
        .getOrCreate()
      f(spark)
    } finally {
      prior.foreach { s => SparkSession.setDefaultSession(s); SparkSession.setActiveSession(s) }
    }
  }
}

/** The one scalar SQL table ([[SketchFunctions.sqlFunctions]]): every name
  * resolves in a GraftExtensions session and after `registerAll`, and gives
  * the same answers there and interpreted as codegen'd, over null, empty,
  * ASCII, multi-byte and malformed UTF-8 text and the sketches built from
  * it. The same eval-path check covers every other [[KernelExpr]] class, so
  * a kernel declaration that no longer resolves fails here. */
class ScalarFunctionSpec extends AnyFunSuite {
  // eager: the tokenizer and LM builders broadcast from the active session
  val spark: SparkSession = SparkTestSession.spark

  private val names = Seq("bf_current_fpr", "bf_estimate", "bf_intersect", "bf_jaccard",
    "bf_union", "bpe_count", "bpe_count_bytes", "charlm_bits_milli", "cjk_segment",
    "cjk_token_count", "cms_join", "cosine_f32", "deflate_ratio_milli", "dsir_buckets", "fnv1a32",
    "fnv1a64", "fnv1a64_depth", "hll_estimate", "hll_merge", "kll_quantiles", "lang_confidence",
    "lang_id", "nfc_normalize", "qf_hashes", "shingles", "simhash64", "span_hashes",
    "tdigest_cdf", "tdigest_quantiles", "text_embedding", "url_canonicalize")

  private val texts: Seq[Array[Byte]] = Seq(
    "".getBytes("UTF-8"),
    "The quick brown fox jumps over the lazy dog. https://Example.com:443/a?utm_source=x".getBytes("UTF-8"),
    "Grüße aus 東京 — ключ 😀 café, 我们喜欢学习中文".getBytes("UTF-8"),
    Array(0x61, 0xff, 0x20, 0x62, 0xc3, 0x20, 0xe4, 0xb8).map(_.toByte))

  /** The input columns, in row order. */
  private val schema = Seq("s" -> StringType, "bf" -> BinaryType, "cms" -> BinaryType,
    "hll" -> BinaryType, "kll" -> BinaryType, "td" -> BinaryType, "qf" -> BinaryType,
    "v" -> ArrayType(FloatType, containsNull = false))

  /** One input row per text (all null for a null text): the text and
    * sketches of its space-separated tokens. */
  private def inputRow(text: Option[Array[Byte]]): Seq[Any] = text match {
    case None => Seq.fill(schema.length)(null)
    case Some(b) =>
      val tokens = UTF8String.fromBytes(b).toString.split(" ").toSeq
      val bf = BloomFilter.empty(100, 0.01)
      val cms = CountMinSketch.empty(64, 3)
      val hll = Hll(10)
      val kll = Kll(50)
      val td = TDigest(50.0)
      val qf = QuotientFilter(8)
      tokens.foreach { t =>
        bf.add(t); cms.add(t, 2L); hll.add(t); kll.update(t.length); td.update(t.length); qf.add(t)
      }
      Seq(b, bf.toBytes, cms.toBytes, hll.toBytes, kll.toBytes, td.toBytes, qf.toBytes,
        tokens.map(_.length.toFloat).toArray)
  }

  private val rows: Seq[Seq[Any]] = (None +: texts.map(Some(_))).map(inputRow)

  /** Each name's call over the input columns, in SQL. */
  private val calls: Map[String, String] = Map(
    "bf_estimate" -> "bf_estimate(bf)", "bf_current_fpr" -> "bf_current_fpr(bf)",
    "bf_union" -> "bf_union(bf, bf)", "bf_intersect" -> "bf_intersect(bf, bf)",
    "bf_jaccard" -> "bf_jaccard(bf, bf)", "cms_join" -> "cms_join(cms, cms)",
    "hll_estimate" -> "hll_estimate(hll)", "hll_merge" -> "hll_merge(hll, hll)",
    "kll_quantiles" -> "kll_quantiles(kll, array(0.1D, 0.5D, 0.9D))",
    "tdigest_quantiles" -> "tdigest_quantiles(td, array(0.1D, 0.5D, 0.9D))",
    "tdigest_cdf" -> "tdigest_cdf(td, 4.0D)", "qf_hashes" -> "qf_hashes(qf)",
    "fnv1a32" -> "fnv1a32(s, 3)", "fnv1a64" -> "fnv1a64(s, 7)",
    "fnv1a64_depth" -> "fnv1a64_depth(s, 5)", "cosine_f32" -> "cosine_f32(v, v)",
    "shingles" -> "shingles(s, 2)", "nfc_normalize" -> "nfc_normalize(s)",
    "simhash64" -> "simhash64(s)", "bpe_count" -> "bpe_count(s)",
    "bpe_count_bytes" -> "bpe_count_bytes(s)", "span_hashes" -> "span_hashes(s, 2)",
    "lang_id" -> "lang_id(s)", "lang_confidence" -> "lang_confidence(s)",
    "deflate_ratio_milli" -> "deflate_ratio_milli(s)",
    "url_canonicalize" -> "url_canonicalize(s)", "cjk_segment" -> "cjk_segment(s)",
    "cjk_token_count" -> "cjk_token_count(s)", "charlm_bits_milli" -> "charlm_bits_milli(s)",
    "dsir_buckets" -> "dsir_buckets(s, 64)", "text_embedding" -> "text_embedding(s, 8, 5L)")

  /** The same calls as expressions over the row's bound columns. */
  private def callExprs: Map[String, Expression] = {
    def col(n: String): Expression = {
      val i = schema.indexWhere(_._1 == n)
      BoundReference(i, schema(i)._2, nullable = true)
    }
    val ranks = Literal.create(ArrayData.toArrayData(Array(0.1, 0.5, 0.9)),
      ArrayType(DoubleType, containsNull = false))
    val args = Map[String, Seq[Expression]](
      "bf_estimate" -> Seq(col("bf")), "bf_current_fpr" -> Seq(col("bf")),
      "bf_union" -> Seq(col("bf"), col("bf")), "bf_intersect" -> Seq(col("bf"), col("bf")),
      "bf_jaccard" -> Seq(col("bf"), col("bf")), "cms_join" -> Seq(col("cms"), col("cms")),
      "hll_estimate" -> Seq(col("hll")), "hll_merge" -> Seq(col("hll"), col("hll")),
      "kll_quantiles" -> Seq(col("kll"), ranks), "tdigest_quantiles" -> Seq(col("td"), ranks),
      "tdigest_cdf" -> Seq(col("td"), Literal(4.0)), "qf_hashes" -> Seq(col("qf")),
      "fnv1a32" -> Seq(col("s"), Literal(3)), "fnv1a64" -> Seq(col("s"), Literal(7)),
      "fnv1a64_depth" -> Seq(col("s"), Literal(5)), "cosine_f32" -> Seq(col("v"), col("v")),
      "shingles" -> Seq(col("s"), Literal(2)), "span_hashes" -> Seq(col("s"), Literal(2)),
      "dsir_buckets" -> Seq(col("s"), Literal(64)),
      "text_embedding" -> Seq(col("s"), Literal(8), Literal(5L)))
    SketchFunctions.sqlFunctions.map { case (name, _, build) =>
      name -> build(args.getOrElse(name, Seq(col("s"))))
    }.toMap
  }

  private def normalize(v: Any): Any = v match {
    case b: Array[Byte] => b.toSeq
    case s: scala.collection.Seq[_] => s.map(normalize).toSeq
    case other => other
  }

  /** Every call's answers, one row per input, through SQL. */
  private def sqlAnswers(session: SparkSession): Seq[Seq[Any]] = {
    // the text arrives as bytes: the cast keeps malformed UTF-8 as it is
    val fields = ("b" -> BinaryType) +: schema.tail
    session.createDataFrame(session.sparkContext.parallelize(rows.map(Row.fromSeq), 2),
        StructType(fields.map { case (n, t) => StructField(n, t) }))
      .selectExpr("CAST(b AS STRING) AS s" +: schema.tail.map(_._1): _*)
      .createOrReplaceTempView("scalar_inputs")
    val out = session.sql(s"SELECT ${names.map(calls).mkString(", ")} FROM scalar_inputs")
    out.collect().map(_.toSeq.map(normalize)).sortBy(_.toString).toSeq
  }

  test("the scalar table is the 31 SQL names; each resolves in a GraftExtensions session and after registerAll") {
    val table = SketchFunctions.sqlFunctions.map(_._1)
    assert(table.sorted == names && table.distinct.length == table.length)
    assert(calls.keySet == names.toSet)
    val registered = spark.newSession()
    SketchFunctions.registerAll(registered)
    names.foreach(n => assert(registered.catalog.functionExists(n), n))
    val viaRegister = sqlAnswers(registered)
    val viaExtensions = GraftExtSession { ext =>
      names.foreach(n => assert(ext.catalog.functionExists(n), n))
      sqlAnswers(ext)
    }
    assert(viaRegister.length == rows.length)
    assert(viaExtensions == viaRegister)
    // the all-null input row gives null for every function
    assert(viaRegister.exists(_.forall(_ == null)))
  }

  /** `e`'s answers interpreted == through `GenerateUnsafeProjection` on
    * every input, null exactly on the first (all-null) one; its generated
    * code makes one static call into a graft kernel. */
  private def assertSameEvalPaths(name: String, e: Expression, inputs: Seq[InternalRow]): Unit = {
    assert(e.genCode(new CodegenContext).code.toString.contains("graft."), name)
    val generated = GenerateUnsafeProjection.generate(Seq(e))
    inputs.zipWithIndex.foreach { case (row, i) =>
      val interpreted = CatalystTypeConverters.convertToScala(e.eval(row), e.dataType)
      val out = generated(row)
      val codegend =
        if (out.isNullAt(0)) null
        else CatalystTypeConverters.convertToScala(out.get(0, e.dataType), e.dataType)
      assert(normalize(codegend) == normalize(interpreted), s"$name on input $i")
      assert((interpreted == null) == (i == 0), s"$name on input $i: $row")
    }
  }

  test("each scalar function gives the same answers interpreted and codegen'd") {
    val exprs = callExprs
    assert(exprs.keySet == names.toSet)
    val inputs = rows.map(r => InternalRow.fromSeq(r.zipWithIndex.map {
      case (b: Array[Byte], 0) => UTF8String.fromBytes(b)
      case (v: Array[Float], _) => ArrayData.toArrayData(v)
      case (other, _) => other
    }))
    names.foreach(n => assertSameEvalPaths(n, exprs(n), inputs))
  }

  /** Every concrete [[KernelExpr]] class compiled into `graft.spark.fns`. */
  private def kernelExprClasses: Set[Class[_]] = {
    val root = Paths.get(classOf[KernelExpr].getProtectionDomain.getCodeSource.getLocation.toURI)
    val dir = root.resolve("graft/spark/fns")
    assert(Files.isDirectory(dir), s"$dir: the classes are read from a directory")
    val files = Files.list(dir)
    try files.iterator.asScala.map(_.getFileName.toString).filter(_.endsWith(".class"))
      .map(f => Class.forName("graft.spark.fns." + f.stripSuffix(".class"), false,
        classOf[KernelExpr].getClassLoader))
      .filter(c => classOf[KernelExpr].isAssignableFrom(c) && !c.isInterface &&
        !Modifier.isAbstract(c.getModifiers))
      .toSet
    finally files.close()
  }

  test("every KernelExpr class in graft.spark.fns gives the same answers interpreted and codegen'd") {
    import SketchExpressions._
    import TextExpressions._
    val decoded = texts.map(b => UTF8String.fromBytes(b).toString)
    val bloom = BloomFilter.empty(100, 0.01)
    val cms = CountMinSketch.empty(64, 3)
    val cbf = CountingBloomFilter.empty(100, 0.01)
    val ccf = new CountingCuckooFilter(100, 4, 500, 2, true, 32)
    val cuckoo = new CuckooFilter(100, 4, 500, 2, true, 32)
    val qf = QuotientFilter(8, autoExpand = true)
    val ebf = ExpandingBloomFilter(100, 0.01)
    // the ASCII and multi-byte texts and their tokens are members
    (decoded.slice(1, 3) ++ decoded.flatMap(_.split(" "))).foreach { k =>
      bloom.add(k); cms.add(k); cbf.add(k); ccf.add(k); cuckoo.add(k); qf.add(k); ebf.add(k)
    }
    val sc = spark.sparkContext
    val heavy = sc.broadcast(Array(0L, 8L))
    val spans = sc.broadcast(TextKernels.spanHashes(UTF8String.fromString(decoded(1)), 2)
      .toLongArray().distinct.sorted.take(3))
    val table = sc.broadcast(Array.tabulate(64)(i => (i - 32) * 0.125))
    val cents = sc.broadcast(Array((3, Array(1f, 0f, 0f, 0f)), (9, Array(0f, 1f, 0f, 0.5f))))
    val s = col("s")
    val columns = Seq(
      bloomMightContainNative(bloom.toBytes, s), cmsCountNative(cms.toBytes, s),
      cbfCountNative(cbf.toBytes, s), ccfCountNative(ccf.toBytes, 32, s),
      cuckooContainsNative(cuckoo.toBytes, 32, s), qfContainsNative(qf.toBytes, s),
      ebfContainsNative(ebf.toBytes, s), bloomShingleHitNative(bloom.toBytes, 2, s),
      minhashBandsNative(s, 3, 16, 4), langIdWithConfidenceNative(s), cjkWordNative(s),
      sortedLongContainsNative(col("l"), heavy), removeCoveredSpansNative(s, 2, spans),
      dsirLogWeightNative(s, 64, table), dsirBucketWeightNative(col("ids"), table),
      VecExpressions.sortableDoubleBits(col("d")), VecExpressions.assignCentroid(col("vec"), cents),
      VecExpressions.assignCellF32(col("vec"), cents))

    val fields = Seq("b" -> BinaryType, "d" -> DoubleType, "l" -> LongType,
      "vec" -> ArrayType(FloatType, containsNull = false),
      "ids" -> ArrayType(IntegerType, containsNull = false))
    val inputRows = Row.fromSeq(Seq.fill(fields.length)(null)) +: texts.indices.map { j =>
      Row(texts(j), Seq(0.0, -2.5, 1e300, Double.NaN)(j), Seq(0L, 7L, 8L, Long.MinValue)(j),
        Seq(j.toFloat, 1f, -j.toFloat, 0.5f), Seq(0, j, 63))
    }
    val input = spark.createDataFrame(sc.parallelize(inputRows, 1),
        StructType(fields.map { case (n, t) => StructField(n, t) }))
      .selectExpr("CAST(b AS STRING) AS s", "d", "l", "vec", "ids")
    val inputs = input.queryExecution.toRdd.map(_.copy()).collect().toSeq
    val bound = columns.map { c =>
      val analyzed = input.select(c).queryExecution.analyzed.expressions.head.children.head
      BindReferences.bindReference(analyzed, input.queryExecution.analyzed.output)
    }
    bound.foreach(e => assertSameEvalPaths(e.prettyName, e, inputs))

    val covered: Set[Class[_]] = (bound ++ callExprs.values).map(_.getClass).toSet
    assert(kernelExprClasses.nonEmpty && kernelExprClasses.subsetOf(covered),
      s"not checked: ${(kernelExprClasses -- covered).map(_.getSimpleName)}")
  }

  test("repeated calls of a model function are one expression: GROUP BY bpe_count(s) selects bpe_count(s)") {
    def grouped(session: SparkSession): Seq[Seq[(String, Long)]] = {
      session.createDataFrame(Seq(Tuple1("a b a"), Tuple1("a b a"), Tuple1("x"), Tuple1(null)))
        .toDF("s").createOrReplaceTempView("model_inputs")
      Seq("bpe_count", "bpe_count_bytes", "charlm_bits_milli").map { f =>
        session.sql(s"SELECT $f(s) AS n, count(*) AS c FROM model_inputs GROUP BY $f(s)")
          .collect().map(r => (Option(r.get(0)).fold("")(_.toString), r.getLong(1)))
          .sorted.toSeq
      }
    }
    val registered = spark.newSession()
    SketchFunctions.registerAll(registered)
    val viaRegister = grouped(registered)
    assert(viaRegister.forall(g => g.length == 3 && g.map(_._2).sum == 4))
    assert(GraftExtSession(grouped) == viaRegister)
    // the DataFrame helpers share the one broadcast of each model too
    val df = spark.range(1).select(lit("a b").as("s"))
    Seq(() => TextExpressions.bpeMergedCountNative(col("s")),
        () => TextExpressions.charLmBitsNative(col("s"))).foreach { f =>
      val Seq(a, b) =
        Seq(f(), f()).map(c => df.select(c).queryExecution.analyzed.expressions.head.children.head)
      assert(a.semanticEquals(b), a)
    }
  }

  test("sketch-column DataFrame methods are auto-named like their SQL calls") {
    val df = spark.range(1).select(lit(Array[Byte](1, 2)).as("bf"), lit("x").as("s"))
    assert(df.select(SketchFunctions.bfEstimate(col("bf"))).columns.toSeq == Seq("bf_estimate(bf)"))
    assert(df.select(SketchFunctions.fnv1a32(col("s"), lit(3))).columns.toSeq == Seq("fnv1a32(s, 3)"))
  }

  test("interpreted eval allocates no argument array per row") {
    val mx = java.lang.management.ManagementFactory.getThreadMXBean
      .asInstanceOf[com.sun.management.ThreadMXBean]
    assume(mx.isThreadAllocatedMemorySupported && mx.isThreadAllocatedMemoryEnabled)
    val e = SortableDoubleBitsExpr(BoundReference(0, DoubleType, nullable = true))
    val row = InternalRow(1.5e300)
    def perRow(eval: () => Any): Double = {
      val tid = Thread.currentThread.getId
      val n = 200000
      val before = mx.getThreadAllocatedBytes(tid)
      var i = 0
      while (i < n) { eval(); i += 1 }
      (mx.getThreadAllocatedBytes(tid) - before).toDouble / n
    }
    perRow(() => e.eval(row)) // inflate the reflective call
    // one box: the child's boxed Double (its size depends on the JVM's heap layout)
    val box = perRow(() => e.child.eval(row))
    val bytes = perRow(() => e.eval(row))
    info(f"$bytes%.1f bytes per row, a box is $box%.1f")
    // the child's box and the boxed Long result, nothing else
    assert(box > 0 && bytes <= 2 * box + 1)
  }
}
