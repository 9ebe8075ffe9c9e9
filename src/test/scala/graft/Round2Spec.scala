package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.core.{BloomFilter, BloomFilterOnDisk, QuotientFilter, Utilities}
import graft.spark.fns.TextKernels
import graft.spark.multimodal.ImageHeaders
import org.apache.spark.unsafe.types.UTF8String

/** Round-2 additions: real image-header parsing, on-disk Bloom, codegen'd
  * text kernels, the C(6,3) simhash blocking guarantee, KLL weight
  * conservation, QF debug helpers, path/hex utilities. */
class ImageHeadersSpec extends AnyFunSuite {
  test("generated PNG/JPEG/GIF headers parse to the closed formulas") {
    (0L until 300L).foreach { i =>
      val meta = ImageHeaders.parse(ImageHeaders.mkImage(i)).get
      assert(meta.width == 16 + (i % 64) * 4, s"img $i width")
      assert(meta.height == 16 + ((i / 64) % 64) * 4, s"img $i height")
      val (fmt, ch) = (i % 3) match {
        case 0 => ("png", 3)
        case 1 => ("jpeg", 3)
        case _ => ("gif", 1)
      }
      assert(meta.format == fmt && meta.channels == ch, s"img $i fmt/channels")
    }
  }

  test("hand-built headers: PNG color types, JPEG marker skip, GIF87a") {
    // PNG grayscale+alpha (color type 4 -> 2 channels)
    val png = ImageHeaders.mkImage(0)
    png(25) = 4
    assert(ImageHeaders.parse(png).get.channels == 2)
    // GIF87a variant
    val gif = ImageHeaders.mkImage(2)
    gif(4) = '7'
    val g = ImageHeaders.parse(gif).get
    assert(g.format == "gif" && g.width == 16 + 2 * 4)
    // garbage -> None (stub fallback path)
    assert(ImageHeaders.parse(Array[Byte](1, 2, 3, 4, 5, 6, 7, 8, 9, 10, 11, 12)).isEmpty)
    assert(ImageHeaders.parse(null).isEmpty)
  }
}

class BloomOnDiskSpec extends AnyFunSuite {
  test("create/add/check, reopen, export: bytes == in-memory filter bytes") {
    val dir = java.nio.file.Files.createTempDirectory("graft_ondisk")
    val path = dir.resolve("test.blm")
    val mem = BloomFilter.empty(1000, 0.01)
    val disk = BloomFilterOnDisk.create(path, 1000, 0.01)
    (0 until 500).foreach { i => disk.add(s"key-$i"); mem.add(s"key-$i") }
    (0 until 500).foreach(i => assert(disk.check(s"key-$i"), s"false negative key-$i"))
    assert(disk.toBytes.toSeq == mem.toBytes.toSeq) // byte-format parity
    disk.close()

    val reopened = BloomFilterOnDisk.open(path)
    assert(reopened.elsAdded == 500)
    (0 until 500).foreach(i => assert(reopened.check(s"key-$i")))
    reopened.add("key-500")
    val out = dir.resolve("exported.blm")
    reopened.export(out)
    reopened.close()
    val loaded = BloomFilter.fromBytes(java.nio.file.Files.readAllBytes(out))
    assert(loaded.elsAdded == 501 && loaded.check("key-500"))
  }

  test("open on a missing file raises the reference message") {
    val e = intercept[graft.core.InitializationError] {
      BloomFilterOnDisk.open(java.nio.file.Paths.get("/tmp/definitely_missing.blm"))
    }
    assert(e.getMessage.contains("Insufecient parameters"))
  }

  test("fromHex / fromBytes raise the reference NotSupportedError messages") {
    val eh = intercept[graft.core.NotSupportedError](BloomFilterOnDisk.fromHex("00ff"))
    assert(eh.getMessage ==
      "Loading from hex_string is currently not supported by the on disk Bloom Filter")
    val eb = intercept[graft.core.NotSupportedError](BloomFilterOnDisk.fromBytes(Array[Byte](1)))
    assert(eb.getMessage ==
      "Loading from bytes is currently not supported by the on disk Bloom Filter")
  }
}

class TextKernelsSpec extends AnyFunSuite {
  private def u(s: String) = UTF8String.fromString(s)

  // the round-1 UDF implementations, kept verbatim as the parity oracle
  private def simhashRef(text: String): Long = {
    if (text == null) 0L
    else {
      val acc = new Array[Int](64)
      text.toLowerCase.split("\\s+").filter(_.nonEmpty).foreach { tok =>
        val h = graft.hash.Fnv.fnv1a64(tok, 0)
        var b = 0
        while (b < 64) {
          if (((h >>> b) & 1L) == 1L) acc(b) += 1 else acc(b) -= 1
          b += 1
        }
      }
      var out = 0L
      var b = 0
      while (b < 64) { if (acc(b) > 0) out |= (1L << b); b += 1 }
      out
    }
  }

  private def shinglesRef(text: String, n: Int): Seq[String] = {
    val toks = text.toLowerCase.split("\\s+").filter(_.nonEmpty)
    if (toks.length < n) Seq(toks.mkString(" "))
    else (0 to toks.length - n).map(i => toks.slice(i, i + n).mkString(" "))
  }

  private def minhashRef(text: String, n: Int, numHashes: Int): Seq[Long] = {
    val sig = Array.fill(numHashes)(-1L)
    shinglesRef(text, n).foreach { s =>
      val base = graft.hash.Fnv.fnv1a64(s, 0)
      var i = 0
      while (i < numHashes) {
        var z = base + (i + 1) * 0x9e3779b97f4a7c15L
        z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
        z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
        z = z ^ (z >>> 31)
        if (java.lang.Long.compareUnsigned(z, sig(i)) < 0) sig(i) = z
        i += 1
      }
    }
    sig.toSeq
  }

  private val samples = Seq(
    "The quick Brown Fox jumps over the lazy dog",
    "data page web crawl spark sketch filter count",
    "  leading and   multiple   spaces\ttabs\nnewlines  ",
    "one",
    "two words",
    "")

  test("simhash64 kernel matches the round-1 UDF implementation") {
    samples.foreach(s => assert(TextKernels.simhash64(u(s)) == simhashRef(s), s"'$s'"))
  }

  test("minhashSig kernel matches the round-1 shingle+signature path") {
    samples.foreach { s =>
      assert(TextKernels.minhashSig(u(s), 3, 64).toSeq == minhashRef(s, 3, 64), s"'$s'")
    }
  }

  test("minhashBands equals the band fold over the signature") {
    samples.foreach { s =>
      val sig = TextKernels.minhashSig(u(s), 3, 64)
      val bands = TextKernels.minhashBands(u(s), 3, 64, 16).toLongArray()
      (0 until 16).foreach { b =>
        var h = 0xcbf29ce484222325L ^ b
        (b * 4 until (b + 1) * 4).foreach { i => h ^= sig(i); h *= 1099511628211L }
        assert(bands(b) == h)
      }
    }
  }
}

class SimhashBlockingSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkTestSession.spark

  test("C(6,3) blocking finds EXACTLY the hamming<=3 pairs (vs brute force)") {
    import spark.implicits._
    // random docs + planted near-dup pairs (1-2 token edits on ~40-token docs)
    val rng = new scala.util.Random(20260816)
    val vocab = (0 until 200).map(i => s"w$i")
    def doc(): String = Seq.fill(40)(vocab(rng.nextInt(vocab.size))).mkString(" ")
    val bases = (0 until 120).map(_ => doc())
    val edited = bases.take(40).map { t =>
      val toks = t.split(" ")
      toks(rng.nextInt(toks.length)) = vocab(rng.nextInt(vocab.size))
      toks.mkString(" ")
    }
    val all = (bases ++ edited).zipWithIndex.map { case (t, i) => (i.toLong, t) }
    val df = all.toDF("doc_id", "text")

    val sims = all.map { case (i, t) =>
      i -> TextKernels.simhash64(UTF8String.fromString(t))
    }.toMap
    val expected = (for {
      a <- all.map(_._1); b <- all.map(_._1) if a < b
      if java.lang.Long.bitCount(sims(a) ^ sims(b)) <= 3
    } yield (a, b)).toSet
    assert(expected.nonEmpty, "fixture must contain hamming<=3 pairs")

    val got = graft.spark.dedup.Dedup.simhashPairs(df, "doc_id", "text", maxHamming = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == expected)
  }
}

class EmbedNearDupSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkTestSession.spark

  test("embedding-cosine near-dup finds planted parallel vectors, exact-verified") {
    import spark.implicits._
    val rng = new scala.util.Random(11)
    def vec(): Array[Float] = Array.fill(16)(rng.nextGaussian().toFloat)
    val base = (0 until 100).map(i => (i.toLong, vec()))
    // planted near-dups: a tiny perturbation of base vector i
    val dups = (0 until 10).map { i =>
      (1000L + i, base(i)._2.map(x => x + 0.01f * rng.nextGaussian().toFloat))
    }
    val df = spark.createDataset(base ++ dups).toDF("vec_id", "embedding")
    val pairs = graft.spark.dedup.Dedup
      .embeddingNearDupPairs(df, "vec_id", "embedding", threshold = 0.98, dim = 16)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    (0 until 10).foreach(i => assert(pairs.contains((i.toLong, 1000L + i)), s"missed dup $i"))
    // random gaussians don't pair at cosine >= 0.98
    assert(pairs.forall { case (a, b) => b - a == 1000 })
  }
}

/** The codegen'd cuckoo, quotient and expanding-Bloom probes against the
  * core sketches' own `check`. (The name is from when each probe also had a
  * ScalaUDF twin; the core `check` is the reference both ever had to match.) */
class ProbeParitySpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkTestSession.spark
  import graft.spark.fns.SketchExpressions

  test("cuckoo/qf/ebf UDF probes == native expression probes on hits and misses") {
    val keys = (0 until 500).map(i => s"item-$i")
    val cko = new graft.core.CuckooFilter(10000, 4, 500, 2, true, 32)
    val qf = graft.core.QuotientFilter(14, autoExpand = true)
    val ebf = graft.core.ExpandingBloomFilter(200, 0.01)
    keys.foreach { k => cko.add(k); qf.add(k); ebf.add(k, force = true) }
    val df = spark.range(0, 1500, 1, 4)
      .select(org.apache.spark.sql.functions.concat(
        org.apache.spark.sql.functions.lit("item-"), col("id")).as("k"))
    val out = df.select(col("k"),
      SketchExpressions.cuckooContainsNative(cko.toBytes, 32, col("k")).as("cn"),
      SketchExpressions.qfContainsNative(qf.toBytes, col("k")).as("qn"),
      SketchExpressions.ebfContainsNative(ebf.toBytes, col("k")).as("en")).collect()
    out.foreach { r =>
      val k = r.getString(0)
      assert(r.getBoolean(1) == cko.check(k), s"cuckoo drift at $k")
      assert(r.getBoolean(2) == qf.check(k), s"qf drift at $k")
      assert(r.getBoolean(3) == ebf.check(k), s"ebf drift at $k")
    }
    // and the probes are actually discriminating: all 500 members hit
    val hits = out.filter(_.getBoolean(1))
    assert(hits.length >= 500 && hits.length <= 520) // members + bounded FPs
  }
}

class KllWeightSpec extends AnyFunSuite {
  private def totalWeight(k: graft.ext.Kll): Long = {
    var s = 0L
    k.compactors.zipWithIndex.foreach { case (buf, h) => s += buf.size.toLong << h }
    s
  }

  test("compaction conserves total weight exactly (odd buffers included)") {
    val k = graft.ext.Kll(8) // tiny k -> many compactions, odd buffers likely
    val rng = new scala.util.Random(7)
    (1 to 5000).foreach { i =>
      k.update(rng.nextDouble())
      if (i % 997 == 0) assert(totalWeight(k) == i.toLong, s"weight drift at $i")
    }
    assert(totalWeight(k) == 5000L)
    val k2 = graft.ext.Kll(8)
    (1 to 3000).foreach(_ => k2.update(rng.nextDouble()))
    k.merge(k2)
    assert(totalWeight(k) == 8000L)
  }
}

class QfDebugSpec extends AnyFunSuite {
  test("validateMetadata holds across adds/removes; printLayout emits rows") {
    val qf = QuotientFilter(7, autoExpand = false)
    val rng = new scala.util.Random(3)
    (0 until 80).foreach(i => qf.add(s"k$i"))
    (0 until 30).foreach(i => if (rng.nextBoolean()) qf.remove(s"k$i"))
    assert(qf.validateMetadata())
    val bos = new java.io.ByteArrayOutputStream()
    qf.printLayout(new java.io.PrintStream(bos))
    val lines = bos.toString.split("\n")
    assert(lines.length == qf.size + 2)
    assert(lines.exists(_.contains("Cluster Start")))
  }
}

class UtilitiesSpec extends AnyFunSuite {
  test("isHexString / isValidFile / resolvePath mirror utilities.py") {
    assert(Utilities.isHexString("00deadBEEF"))
    assert(!Utilities.isHexString("xyz"))
    assert(!Utilities.isHexString(null))
    assert(Utilities.isValidFile("/etc/hostname") || Utilities.isValidFile("/etc/hosts"))
    assert(!Utilities.isValidFile("/definitely/not/here"))
    assert(!Utilities.isValidFile(null))
    assert(Utilities.resolvePath("~").toString == System.getProperty("user.home"))
    assert(Utilities.resolvePath("/tmp/../tmp/x").toString == "/tmp/x")
  }
}

class LangFixtureSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkTestSession.spark

  test("every fixture doc classifies to its own language (exact accuracy 1.0)") {
    val rows = graft.spark.text.LangFixture.docs(spark, docsPerLang = 50)
      .select(col("lang"), graft.spark.fns.TextExpressions.langIdNative(col("text")).as("p"))
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n"), sum(when(col("p") === col("lang"), 1L).otherwise(0L)).as("c"))
      .collect()
    assert(rows.length == graft.spark.text.LangFixture.langs.length)
    rows.foreach(r => assert(r.getLong(1) == 50 && r.getLong(2) == 50,
      s"${r.getString(0)}: ${r.getLong(2)}/50"))
  }
}

/** BPE-ish regex pre-tokenizer: hand-computed goldens + codegen check. */
class BpeTokenSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkTestSession.spark
  import graft.spark.text.TextFunctions

  test("token counts match hand-tokenized goldens") {
    import spark.implicits._
    val cases = Seq(
      // it | 's | a | test | - | case | , | 42 | tokens | !
      ("it's a test-case, 42 tokens!", 10),
      // they | 're | won | 't | ... | " | ok | "  (contractions split,
      // symbol runs coalesce, quote breaks on the letter boundary)
      ("they're won't... \"ok\"", 8),
      ("héllo wörld 北京 москва", 4),
      ("a1b2", 4), // a|1|b|2 (letter/digit runs alternate)
      ("", 0),
      ("   ", 0))
    val df = cases.toDF("text", "expected")
      .select(col("expected"), TextFunctions.bpeTokenCount(col("text")).as("got"),
        TextFunctions.bpeTokens(col("text")).as("toks"))
    df.collect().foreach { r =>
      assert(r.getInt(1) == r.getInt(0), s"${r.getSeq[String](2)}")
    }
  }

  test("stays inside whole-stage codegen (no UDF eval boundary)") {
    val df = spark.range(0, 10, 1, 2)
      .select(concat(lit("word"), col("id"), lit(" x it's")).as("text"))
      .select(TextFunctions.bpeTokenCount(col("text")).as("n"))
    assert(df.collect().forall(_.getInt(0) == 5)) // wordN -> word|N, x, it, 's
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("*(1) Project"), plan)
  }
}

/** Count-based rotating-Bloom streaming dedup: custom per-key state via
  * flatMapGroupsWithState (the RBF rotates on ELEMENT COUNT, which windowed
  * aggregation cannot express). */
class RotatingDedupStreamSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkTestSession.spark

  test("cross-batch state dedups; roll-off re-admits; matches sequential RBF") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    val mem = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(String, String)]
    val out = graft.spark.streaming.StreamingSketches.rotatingDedupByCount(
      mem.toDF().toDF("key", "value"), "key", "value",
      estElements = 2L, fpr = 0.01, maxQueueSize = 2)
    val q = out.toDF().writeStream.format("memory").queryName("rbf_dedup_sink")
      .outputMode("append").start()
    // one value per micro-batch -> deterministic order; est=2, maxQueue=2:
    // v1..v5 fill blooms [v1 v2][v3 v4][v5..] -- the 3rd rotation pops v1/v2
    val feed = Seq("v1", "v2", "v3", "v4", "v4", "v5", "v1")
    try {
      feed.foreach { v => mem.addData(("k", v)); q.processAllAvailable() }
    } finally q.stop()
    val got = spark.table("rbf_dedup_sink")
      .select(col("value"), col("first_seen")).collect()
      .map(r => (r.getString(0), r.getBoolean(1)))
    // sequential reference core fed the same order
    val rbf = graft.core.RotatingBloomFilter(2L, 0.01, maxQueueSize = 2)
    val expected = feed.map { v =>
      val seen = rbf.check(v); rbf.add(v); (v, !seen)
    }
    assert(got.toSeq == expected)
    // the semantic milestones, explicitly:
    assert(expected(4) == ("v4", false), "duplicate inside window is suppressed")
    assert(expected(6) == ("v1", true), "v1 rolled off the 2-deep queue -> re-admitted")
  }

  test("large window: streamed first-seen count == exact distinct per key") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    val mem = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(String, String)]
    val out = graft.spark.streaming.StreamingSketches.rotatingDedupByCount(
      mem.toDF().toDF("key", "value"), "key", "value",
      estElements = 10000L, fpr = 1e-4, maxQueueSize = 4)
    val q = out.toDF().writeStream.format("memory").queryName("rbf_dedup_sink2")
      .outputMode("append").start()
    try {
      // 3 batches, values overlap across batches, 2 keys
      (0 until 3).foreach { b =>
        mem.addData((0 until 200).map(i => (s"k${i % 2}", s"u${(i + b * 50) % 150}")): _*)
        q.processAllAvailable()
      }
    } finally q.stop()
    val rows = spark.table("rbf_dedup_sink2")
      .groupBy("key")
      .agg(sum(when(col("first_seen"), 1L).otherwise(0L)).as("n_first"),
        countDistinct(col("value")).as("n_distinct"), count(lit(1)).as("n"))
      .collect()
    assert(rows.length == 2)
    rows.foreach { r =>
      assert(r.getLong(1) == r.getLong(2), s"${r.getString(0)}: first-seen != distinct")
      assert(r.getLong(3) == 300L)
    }
  }
}
