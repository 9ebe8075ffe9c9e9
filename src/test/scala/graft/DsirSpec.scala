package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.unsafe.types.UTF8String

import graft.spark.fns.TextKernels
import graft.spark.sample.Dsir

/** DSIR (Xie et al. 2023) importance resampling: hashed-feature extraction
  * shape, bounded model fitting with Laplace smoothing, deterministic byte
  * codec, and the Gumbel top-k resample selecting target-like docs without
  * replacement, deterministically. */
class DsirSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkTestSession.spark

  private val B = 512

  private def bucketsOf(text: String): Seq[Int] =
    TextKernels.dsirBuckets(UTF8String.fromString(text), B)
      .toIntArray().toSeq

  test("dsirBuckets: 2t-1 features in document order, range-bounded, case-folded") {
    assert(bucketsOf("") == Seq.empty)
    assert(bucketsOf("   ") == Seq.empty)
    assert(bucketsOf("solo").length == 1)
    val b3 = bucketsOf("alpha beta gamma")
    assert(b3.length == 5, "3 unigrams + 2 bigrams")
    assert(b3.forall(b => b >= 0 && b < B))
    // unigram prefix composes: the first unigram of a longer text is the
    // same feature as the whole shorter text
    assert(b3.take(2) == Seq(bucketsOf("alpha").head, bucketsOf("beta").head))
    // per-char lowercase fold — features are case-insensitive
    assert(bucketsOf("Alpha BETA gamma") == b3)
    // whitespace runs don't create features
    assert(bucketsOf("  alpha\t\nbeta   gamma ") == b3)
  }

  test("fit: a failing raw side leaves no target job running") {
    import spark.implicits._
    val sc = spark.sparkContext
    val started = new java.util.concurrent.atomic.AtomicInteger()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        started.incrementAndGet()
    }
    sc.addSparkListener(listener)
    try {
      val target = spark.range(0, 400000, 1, 4)
        .select(concat(lit("alpha beta "), col("id").cast("string")).as("text"))
      val raw = Seq("gamma delta").toDF("body") // lacks the text column
      intercept[org.apache.spark.sql.AnalysisException](Dsir.fit(target, raw, "text", buckets = B))
      org.apache.spark.GraftTestBridge.drainListenerBus(sc)
      // the target side ran inside fit and has finished
      assert(started.get > 0, "fit returned before the target job started")
      assert(sc.statusTracker.getActiveJobIds().isEmpty)
    } finally sc.removeSparkListener(listener)
  }

  test("fitCounts: exact multiset counts, bounded to the bucket table") {
    import spark.implicits._
    val df = Seq("x x x", "y x").toDF("text")
    val counts = Dsir.fitCounts(df, "text", B)
    assert(counts.length == B)
    val bx = bucketsOf("x").head
    val by = bucketsOf("y").head
    val bxx = bucketsOf("x x").last
    val byx = bucketsOf("y x").last
    // doc1: x,x,x + (x x),(x x); doc2: y,x + (y x)
    val expected = Seq(bx -> 4L, by -> 1L, bxx -> 2L, byx -> 1L)
      .groupMapReduce(_._1)(_._2)(_ + _)
    assert(counts.sum == 8, "total features = (2*3-1) + (2*2-1)")
    expected.foreach { case (b, c) => assert(counts(b) == c, s"bucket $b") }
  }

  test("fit: Laplace smoothing gives unseen buckets the closed-form ratio") {
    import spark.implicits._
    val target = Seq("aa bb").toDF("text")
    val raw = Seq("aa bb", "cc dd cc").toDF("text")
    val m = Dsir.fit(target, raw, "text", buckets = B, alpha = 0.5)
    val st = 3 + 0.5 * B // target features: aa, bb, (aa bb)
    val sr = 8 + 0.5 * B // + cc,dd,cc,(cc dd),(dd cc)
    val seen = (bucketsOf("aa bb") ++ bucketsOf("cc dd cc")).toSet
    val unseen = (0 until B).find(b => !seen.contains(b)).get
    assert(math.abs(m.logRatio(unseen) -
      (math.log(0.5 / st) - math.log(0.5 / sr))) < 1e-12)
    // a target-only feature has a positive log ratio; a raw-only negative
    assert(m.logRatio(bucketsOf("aa").head) > 0)
    assert(m.logRatio(bucketsOf("cc").head) < 0)
  }

  test("model byte codec round-trips; corrupt input raises") {
    val m = Dsir.Model(4, Array(0.1, -2.5, 0.0, 42.0))
    val back = Dsir.Model.fromBytes(m.toBytes)
    assert(back.buckets == 4 && back.logRatio.toSeq == m.logRatio.toSeq)
    assert(java.util.Arrays.equals(back.toBytes, m.toBytes))
    val bad = m.toBytes; bad(0) = 'X'.toByte
    assertThrows[IllegalArgumentException](Dsir.Model.fromBytes(bad))
    assertThrows[IllegalArgumentException](Dsir.Model.fromBytes(m.toBytes.dropRight(8)))
  }

  test("resample: exactly k without replacement, target-like docs win, deterministic") {
    import spark.implicits._
    // target vocabulary A vs distractor vocabulary Z, long docs so the
    // logw gap (tens of nats) dwarfs Gumbel noise (scale 1)
    def doc(words: Seq[String]): String =
      (0 until 30).map(i => words(i % words.size)).mkString(" ")
    val aWords = Seq("apple", "anchor", "amber", "atlas")
    val zWords = Seq("zebra", "zinc", "zephyr", "zodiac")
    val target = (0 until 5).map(i => doc(aWords.drop(i % 2))).toDF("text")
    val docs = ((0L until 10L).map(i => (i, doc(aWords))) ++
      (10L until 20L).map(i => (i, doc(zWords)))).toDF("doc_id", "text")
    val m = Dsir.fit(target, docs, "text", buckets = B)
    val flags = Dsir.resampleFlags(docs, "doc_id", "text", m, k = 10, seed = "s1")
    val sel = flags.filter(col("selected")).select("doc_id")
      .collect().map(_.getLong(0)).toSet
    assert(sel.size == 10, "exactly k selected, no replacement")
    assert(sel == (0L until 10L).toSet, s"target-like docs must win, got $sel")
    // logw separation is strict
    val w = flags.select(col("doc_id"), col("dsir_logw_milli")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert((0L until 10L).map(w).min > (10L until 20L).map(w).max)
    // deterministic run-to-run
    val again = Dsir.resampleFlags(docs, "doc_id", "text", m, k = 10, seed = "s1")
      .orderBy("doc_id").collect().map(_.toSeq).toSeq
    assert(again == flags.orderBy("doc_id").collect().map(_.toSeq).toSeq)
    // a different seed still selects k docs (noise path exercised)
    assert(Dsir.resampleFlags(docs, "doc_id", "text", m, k = 10, seed = "s2")
      .filter(col("selected")).count() == 10)
  }

  test("codegen'd logw column equals the kernel eval") {
    import spark.implicits._
    val texts = Seq("aa bb cc", "", "Mixed CASE tokens here", "aa aa aa aa")
    val m = Dsir.fit(Seq("aa bb").toDF("text"), texts.toDF("text"), "text", buckets = B)
    val got = texts.toDF("text")
      .select(Dsir.logWeightMilli(spark, m)(col("text")))
      .collect().map(_.getLong(0)).toSeq
    val want = texts.map(t =>
      TextKernels.dsirLogWeightMilli(UTF8String.fromString(t), B, m.logRatio))
    assert(got == want)
  }

  test("bucket-array weight kernel is bit-identical to the text kernel") {
    import spark.implicits._
    // the round-7 classifier-training cache scores a precomputed
    // dsirBuckets array; the accumulation order (all unigrams, then all
    // bigrams) must make it bit-for-bit the text kernel's milli score —
    // mixed-sign weights exercise non-associative double addition
    val rnd = new scala.util.Random(3)
    val words = Vector("aa", "Bb", "ccc", "δδ", "x", "longword")
    val texts = "" +: (0 until 50).map(_ =>
      (0 until (1 + rnd.nextInt(12))).map(_ => words(rnd.nextInt(words.size)))
        .mkString(" "))
    val table = Array.fill(B)(rnd.nextGaussian() * 0.37)
    val bc = spark.sparkContext.broadcast(table)
    val got = texts.toDF("text")
      .select(graft.spark.fns.TextExpressions.dsirBucketWeightNative(
        graft.spark.fns.TextExpressions.dsirBucketsNative(col("text"), B), bc))
      .collect().map(_.getLong(0)).toSeq
    val want = texts.map(t =>
      TextKernels.dsirLogWeightMilli(UTF8String.fromString(t), B, table))
    assert(got == want)
  }
}
