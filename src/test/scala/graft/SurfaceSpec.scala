package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.spark.aggs.SketchUdafs
import graft.spark.fns.SketchFunctions

/** The public surfaces: the driver's entry(), the SQL-registered functions,
  * and the generator-shaped qf_hashes. */
class SurfaceSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkTestSession.spark

  test("entry() flagship returns per-lang verified sketch battery rows") {
    val df = SparkEntry.entry(spark)
    val rows = df.collect()
    assert(rows.length == graft.spark.io.PagesGen.langs.length)
    rows.foreach { r =>
      assert(r.getLong(r.fieldIndex("n_pages")) > 0)
      // every sketch-vs-exact check must hold on the deterministic fixture
      Seq("hll_ok", "bloom_ok", "hh_ok", "p50_ok", "p95_ok", "p99_ok").foreach { c =>
        assert(r.getBoolean(r.fieldIndex(c)), s"$c false for ${r.getString(0)}")
      }
      assert(r.getString(r.fieldIndex("top_domain")) == "d0.example.com")
    }
  }

  test("SQL surface: registered aggregates + scalar functions end to end") {
    SketchUdafs.registerAll(spark)
    SketchFunctions.registerAll(spark)
    spark.range(0, 1000, 1, 4)
      .select(concat(lit("u"), col("id") % 300).as("k"))
      .createOrReplaceTempView("keys")
    val row = spark.sql(
      """SELECT hll_count(k) AS distinct_k,
        |       bf_estimate(bloom_agg(k)) AS bloom_est,
        |       fnv1a64('this is a test', 0) AS h
        |FROM keys""".stripMargin).head()
    assert(math.abs(row.getLong(0) - 300L) <= 5)
    assert(math.abs(row.getLong(1) - 300L) <= 10)
    assert(row.getLong(2) == java.lang.Long.parseUnsignedLong("4040040117721899264"))
  }

  test("qf_hashes generator: sketch -> rows, losslessly") {
    val df = spark.range(0, 500, 1, 4).select(concat(lit("v"), col("id")).as("k"))
    val qfBytes = df.agg(SketchUdafs.quotientFilter(14)(col("k"))).head().getAs[Array[Byte]](0)
    val hashes = spark.createDataFrame(Seq(Tuple1(qfBytes))).toDF("qf")
      .select(explode(SketchFunctions.qfHashes(col("qf"))).as("h"))
    val got = hashes.collect().map(_.getLong(0)).toSet
    val expected = (0 until 500).map(i => graft.hash.Fnv.fnv1a32(s"v$i", 0) & 0xffffffffL).toSet
    assert(got == expected)
  }

  test("sketch-column functions give null for a null sketch: SQL and DataFrame") {
    import spark.implicits._
    SketchFunctions.registerAll(spark)
    val built = spark.range(0, 100, 1, 2).select(concat(lit("k"), col("id")).as("k"))
      .agg(SketchUdafs.bloom(1000, 0.01)(col("k")), SketchUdafs.cms(64, 3)(col("k"), lit(1L)),
        SketchUdafs.hll(10)(col("k"))).head()
    val row = Seq((built.getAs[Array[Byte]](0), built.getAs[Array[Byte]](1),
        built.getAs[Array[Byte]](2))).toDF("bf", "cms", "hll")
      .withColumn("n", lit(null).cast("binary"))
    row.createOrReplaceTempView("null_sketch_row")
    // each function over a null sketch; two-sketch functions with one valid side
    val sqlCalls = Seq("bf_estimate(n)", "bf_current_fpr(n)", "bf_union(bf, n)",
      "bf_intersect(n, bf)", "bf_jaccard(bf, n)", "cms_join(n, cms)", "hll_estimate(n)",
      "hll_merge(hll, n)", "kll_quantiles(n, array(0.5D))", "tdigest_quantiles(n, array(0.5D))",
      "tdigest_cdf(n, 1.0D)", "qf_hashes(n)", "hll_estimate(CAST(NULL AS BINARY))")
    val sqlRow = spark.sql(s"SELECT ${sqlCalls.mkString(", ")} FROM null_sketch_row").head()
    sqlCalls.indices.foreach(i => assert(sqlRow.isNullAt(i), sqlCalls(i)))
    import SketchFunctions._
    val (n, bf, qs) = (col("n"), col("bf"), array(lit(0.5)))
    val dfCalls = Seq(bfEstimate(n), bfCurrentFpr(n), bfUnion(bf, n), bfIntersect(n, bf),
      bfJaccard(bf, n), cmsJoin(n, col("cms")), hllEstimate(n), hllMerge(col("hll"), n),
      kllQuantiles(n, qs), tdigestQuantiles(n, qs), tdigestCdf(n, lit(1.0)), qfHashes(n))
    val dfRow = row.select(dfCalls: _*).head()
    dfCalls.indices.foreach(i => assert(dfRow.isNullAt(i), sqlCalls(i)))
    // valid sketches still answer
    val ok = row.select(bfJaccard(bf, bf), hllEstimate(col("hll"))).head()
    assert(ok.getDouble(0) == 1.0)
    assert(math.abs(ok.getLong(1) - 100L) <= 5)
    // a stored sketch column read through an outer join
    val est = Seq(2L).toDF("id")
      .join(row.select(lit(1L).as("id"), col("hll")), Seq("id"), "left")
      .select(hllEstimate(col("hll"))).head()
    assert(est.isNullAt(0))
  }

  test("windowed stream threshold emits keys crossing the threshold") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(java.sql.Timestamp, String)]
    val out = graft.spark.streaming.StreamingSketches.windowedThreshold(
      mem.toDF().toDF("ts", "key"), "ts", "key", threshold = 20, windowDur = "1 hour")
    val q = out.writeStream.format("memory").queryName("st_stream").outputMode("append").start()
    try {
      val t0 = java.time.Instant.parse("2026-01-01T00:00:00Z")
      def ts(min: Long) = java.sql.Timestamp.from(t0.plusSeconds(min * 60))
      // "hot" appears 30x in the first hour, "cold" 5x
      mem.addData((0 until 30).map(i => (ts(i % 50), "hot")) ++ (0 until 5).map(i => (ts(i), "cold")): _*)
      mem.addData((ts(300), "late")) // advance watermark
      q.processAllAvailable()
      val rows = spark.sql("SELECT key, est_count FROM st_stream").collect()
      val keys = rows.map(_.getString(0)).toSet
      assert(keys.contains("hot") && !keys.contains("cold"))
    } finally q.stop()
  }
}

/** Native Catalyst expressions: correctness + they stay inside whole-stage
  * codegen (no ScalaUDF eval boundary). */
class NativeExprSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkTestSession.spark
  import graft.spark.fns.SketchExpressions._

  test("fnv1a64Native matches the kernel and rides WholeStageCodegen") {
    // ASCII keys take the byte fold, non-ASCII keys the code-point fold
    val df = spark.range(0, 100, 1, 2)
      .select(concat(when(col("id") % 2 === 0, lit("key-")).otherwise(lit("ключ-键-")), col("id"))
        .as("k"))
      .select(col("k"), fnv1a64Native(col("k")).as("h"))
    df.collect().foreach { r =>
      assert(r.getLong(1) == graft.hash.Fnv.fnv1a64(r.getString(0), 0))
    }
    // "*(n)" prefixes mark operators inside a WholeStageCodegen stage
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("*(1) Project"), plan)
  }

  test("bloomMightContainNative probes correctly inside codegen") {
    val blm = graft.core.BloomFilter.empty(10000, 0.001)
    (0 until 1000).foreach(i => blm.add(s"u$i"))
    val df = spark.range(0, 3000, 1, 4)
      .select(concat(lit("u"), col("id")).as("k"))
      .filter(bloomMightContainNative(blm.toBytes, col("k")))
    val got = df.collect().map(_.getString(0)).toSet
    (0 until 1000).foreach(i => assert(got.contains(s"u$i"), s"false negative u$i"))
    // FPs possible but bounded: p=0.001 on 2000 absent probes
    assert(got.size <= 1010)
    assert(df.queryExecution.executedPlan.toString.contains("*(1) Filter"),
      df.queryExecution.executedPlan.toString)
  }
}

/** langId on genuinely multilingual inputs (scripts + stopwords). */
class LangIdSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkTestSession.spark
  test("script and stopword detection") {
    import spark.implicits._
    val docs = Seq(
      ("en", "the cat sat on the mat and it was a good day for the cat"),
      ("de", "der hund und die katze sind nicht in der küche mit dem ball"),
      ("fr", "le chat est dans la maison et il est pour les amis du village"),
      ("es", "el perro y la casa son para los amigos que viven en el pueblo"),
      ("ru", "это не так как в прошлом году но что из этого по сути"),
      ("zh", "这是一个关于网络爬虫和数据处理的测试文档内容很长"),
      ("ja", "これはテストのドキュメントですとても長い文章になります"))
      .toDF("expected", "text")
    val out = docs.select(col("expected"),
      graft.spark.fns.TextExpressions.langIdNative(col("text")).as("got")).collect()
    out.foreach(r => assert(r.getString(0) == r.getString(1),
      s"expected ${r.getString(0)} got ${r.getString(1)}"))
  }
}

/** Codegen'd CMS/CBF probes: values match the core sketches inside codegen. */
class NativeProbeSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkTestSession.spark
  import graft.spark.fns.SketchExpressions._

  test("cmsCountNative + cbfCountNative match core counts in codegen") {
    val cms = graft.core.CountMinSketch.empty(2048, 5)
    val cbf = graft.core.CountingBloomFilter.empty(2000, 0.01)
    (0 until 1000).foreach { i => val k = s"k${i % 40}"; cms.add(k); cbf.add(k) }
    val df = spark.range(0, 40, 1, 2)
      .select(concat(lit("k"), col("id")).as("k"))
      .select(col("k"),
        cmsCountNative(cms.toBytes, col("k")).as("cms"),
        cbfCountNative(cbf.toBytes, col("k")).as("cbf"))
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("*(1) Project"), plan)
    df.collect().foreach { r =>
      assert(r.getLong(1) == cms.check(r.getString(0)))
      assert(r.getLong(2) == cbf.check(r.getString(0)))
      assert(r.getLong(1) == 25L)
    }
  }
}
