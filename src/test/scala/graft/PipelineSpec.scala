package graft

import java.nio.file.Files

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.spark.dedup.Dedup
import graft.spark.io.{Checkpoints, PagesGen}
import graft.spark.multimodal.Multimodal

/** End-to-end pipeline behaviors: checkpoint/resume equivalence, dedup
  * planted-duplicate recovery, ANN recall, multimodal plumbing, streaming. */
class PipelineSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkTestSession.spark

  test("checkpoint/resume: killed-after-half-partitions resume == full run") {
    val dir = Files.createTempDirectory("graft_ckpt").toString
    val pages = PagesGen.pages(spark, 8000, numPartitions = 8)

    // full run
    val full = Checkpoints.partials(spark, pages, "full")
    Checkpoints.write(full, s"$dir/full")
    val fullFinal = Checkpoints.mergeFinal(spark, s"$dir/full", "full")
      .select("lang", "rows_in", "distinct_urls", "hll", "bloom")
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2),
        r.getAs[Array[Byte]]("hll").toSeq, r.getAs[Array[Byte]]("bloom").toSeq)).toMap

    // "killed" run: only partitions 0..3 checkpointed
    val firstHalf = pages.withColumn("__pid", spark_partition_id()).filter(col("__pid") < 4).drop("__pid")
    Checkpoints.write(Checkpoints.partials(spark, firstHalf, "resumed"), s"$dir/part")
    val done = Checkpoints.completedPartitions(spark, s"$dir/part", "resumed")
    assert(done.nonEmpty && done.size < 8)
    // resume: the other partitions only
    val secondHalf = pages.withColumn("__pid", spark_partition_id())
      .filter(!col("__pid").isin(done.toSeq: _*)).drop("__pid")
    Checkpoints.write(Checkpoints.partials(spark, secondHalf, "resumed"), s"$dir/part")
    val resumedFinal = Checkpoints.mergeFinal(spark, s"$dir/part", "resumed")
      .select("lang", "rows_in", "distinct_urls", "hll", "bloom")
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2),
        r.getAs[Array[Byte]]("hll").toSeq, r.getAs[Array[Byte]]("bloom").toSeq)).toMap

    assert(resumedFinal.keySet == fullFinal.keySet)
    resumedFinal.foreach { case (lang, v) =>
      assert(v._1 == fullFinal(lang)._1, s"rows_in mismatch for $lang")
      assert(v._2 == fullFinal(lang)._2, s"hll estimate mismatch for $lang")
      assert(v._3 == fullFinal(lang)._3, s"hll bytes mismatch for $lang")
      assert(v._4 == fullFinal(lang)._4, s"bloom bytes mismatch for $lang")
    }
  }

  test("minhash LSH finds planted near-duplicates, no false pairs above threshold") {
    import spark.implicits._
    val base = (0 until 200).map(i => (i.toLong,
      s"unique document number $i with content ${"word%d ".format(i * 7)} " +
        (0 until 30).map(j => s"tok${(i * 31 + j * 17) % 997}").mkString(" ")))
    // plant near-dups: docs 1000+i = copy of doc i with one token changed
    val dups = (0 until 20).map(i => (1000L + i, base(i)._2.replace("tok", "tok") + " extraword"))
    val docs = spark.createDataset(base ++ dups).toDF("doc_id", "text")
    val pairs = Dedup.minhashLshPairs(docs, "doc_id", "text", shingleSize = 3,
      numHashes = 64, bands = 16, threshold = 0.6)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    (0 until 20).foreach { i =>
      assert(pairs.contains((i.toLong, 1000L + i)), s"missed planted dup $i")
    }
    // no unrelated base docs paired
    assert(pairs.forall { case (a, b) => b - a == 1000 })
  }

  test("incremental minhash == full pairs restricted to pairs touching the new batch") {
    import spark.implicits._
    val base = (0 until 120).map(i => (i.toLong,
      s"unique document number $i " +
        (0 until 30).map(j => s"tok${(i * 31 + j * 17) % 997}").mkString(" ")))
    // planted dups INSIDE history (600+i ~ i, both even-ish ids), inside the
    // new batch, and across the boundary
    val dups = (0 until 10).map(i => (600L + i, base(i)._2 + " suffix"))
    val docs = spark.createDataset(base ++ dups).toDF("doc_id", "text")
    val isNew = (id: Long) => id % 3 == 0 // an arbitrary batch split
    val full = Dedup.minhashLshPairs(docs, "doc_id", "text", shingleSize = 3,
        numHashes = 64, bands = 16, threshold = 0.6)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val incr = Dedup.minhashLshPairsIncremental(
        docs.filter(col("doc_id") % 3 === 0), docs.filter(col("doc_id") % 3 =!= 0),
        "doc_id", "text", shingleSize = 3, numHashes = 64, bands = 16, threshold = 0.6)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val expected = full.filter { case (a, b) => isNew(a) || isNew(b) }
    assert(incr == expected, s"incr=$incr expected=$expected")
    assert(incr.nonEmpty && expected.size < full.size,
      "fixture must exercise both included and excluded (old-old) pairs")
    // the restricted-equality contract survives bucket TRUNCATION: both
    // operators cap the same sorted prefix, so capped-full restricted ==
    // capped-incremental
    val fullCapped = Dedup.minhashLshPairs(docs, "doc_id", "text", shingleSize = 3,
        numHashes = 64, bands = 16, threshold = 0.6, maxBucket = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val incrCapped = Dedup.minhashLshPairsIncremental(
        docs.filter(col("doc_id") % 3 === 0), docs.filter(col("doc_id") % 3 =!= 0),
        "doc_id", "text", shingleSize = 3, numHashes = 64, bands = 16,
        threshold = 0.6, maxBucket = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(incrCapped == fullCapped.filter { case (a, b) => isNew(a) || isNew(b) })
  }

  test("simhash pairs find planted near-duplicates") {
    import spark.implicits._
    // 300-token docs: a one-token edit flips ~2-3 of 64 simhash bits
    // (per-bit flip prob ≈ P(|N(0,sqrt(300))| < 1)), so hamming<=6 catches it
    // disjoint token ranges per doc, so unrelated docs sit at hamming ~32
    val base = (0 until 100).map(i => (i.toLong,
      (0 until 300).map(j => s"w${i * 1009 + j}").mkString(" ")))
    val exactCopies = (0 until 5).map(i => (1000L + i, base(i)._2))
    val nearCopies = (5 until 10).map(i => (1000L + i, base(i)._2 + " extratoken"))
    val docs = spark.createDataset(base ++ exactCopies ++ nearCopies).toDF("doc_id", "text")
    val pairs = Dedup.simhashPairs(docs, "doc_id", "text", maxHamming = 6)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // exact copies are hamming 0 — must all be found
    (0 until 5).foreach(i => assert(pairs.contains((i.toLong, 1000L + i)), s"missed exact copy $i"))
    // near copies: expect most found
    val nearFound = (5 until 10).count(i => pairs.contains((i.toLong, 1000L + i)))
    assert(nearFound >= 3, s"only $nearFound/5 near copies found")
    // nothing unrelated pairs up at hamming<=6 on random docs
    assert(pairs.forall { case (a, b) => b - a == 1000 })
  }

  test("ANN: LSH recall vs brute force is reasonable on clustered vectors") {
    import spark.implicits._
    val rnd = new scala.util.Random(3)
    val dim = 64
    def vec(center: Int): Array[Float] = {
      val c = Array.tabulate(dim)(j => math.sin(center * 17.0 + j).toFloat * 2f)
      c.map(x => x + rnd.nextFloat() * 0.3f)
    }
    val corpus = (0 until 400).map(i => (i.toLong, vec(i % 20))).toDF("vec_id", "embedding")
    val queries = (0 until 10).map(i => (i.toLong, vec(i % 20))).toDF("query_id", "q_embedding")
    val exact = graft.spark.ann.Ann.bruteForceTopK(corpus, queries, 5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val approx = graft.spark.ann.Ann.lshTopK(corpus, queries, 5, dim, tables = 8, bitsPerTable = 8)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = exact.count(approx.contains).toDouble / exact.size
    assert(recall >= 0.6, s"LSH recall too low: $recall")
    assert(exact.size == 50)
  }

  test("multimodal plumbing: stable stub metadata/features, frame explosion shape") {
    val pages = PagesGen.pages(spark, 200, numPartitions = 4)
      .withColumn("doc_id", xxhash64(col("url")))
    val enriched = Multimodal.enrichImages(pages, "html", dim = 16)
    val rows = enriched.select("image_meta.width", "image_meta.channels", "features").collect()
    assert(rows.length == 200)
    rows.foreach { r =>
      assert(r.getInt(0) >= 64 && r.getInt(1) == 3)
      val f = r.getSeq[Float](2)
      assert(f.length == 16)
      val norm = f.map(x => x * x).sum
      assert(math.abs(norm - 1.0) < 1e-3)
    }
    // determinism: same payload -> same features
    val f2 = Multimodal.enrichImages(pages, "html", dim = 16)
      .select("features").collect().map(_.getSeq[Float](0))
    assert(rows.map(_.getSeq[Float](2)).zip(f2).forall { case (a, b) => a == b })

    val frames = Multimodal.explodeFrames(pages.limit(5), "doc_id", "html", frameSize = 64, everyK = 2)
    assert(frames.count() > 5)
    assert(frames.columns.toSeq == Seq("doc_id", "frame_idx", "frame"))
  }

  test("streaming: windowed sketch aggregation with watermark (MemoryStream)") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(java.sql.Timestamp, String)]
    val events = mem.toDF().toDF("ts", "key")
    val out = graft.spark.streaming.StreamingSketches.windowedSketches(
      events, "ts", "key", windowDur = "1 hour", watermarkDelay = "10 minutes", bloomEst = 1000)
    val q = out.writeStream.format("memory").queryName("sketch_stream")
      .outputMode("append").start()
    try {
      val t0 = java.time.Instant.parse("2026-01-01T00:00:00Z")
      def ts(min: Long) = java.sql.Timestamp.from(t0.plusSeconds(min * 60))
      mem.addData((0 until 100).map(i => (ts(i % 50), s"user-${i % 30}")): _*)
      q.processAllAvailable()
      // advance watermark far past the first window to force emission
      mem.addData((ts(300), "late-user"))
      q.processAllAvailable()
      val got = spark.sql("SELECT * FROM sketch_stream").collect()
      assert(got.nonEmpty, "no windows emitted")
      val first = got.minBy(_.getTimestamp(0).getTime)
      assert(first.getLong(got.head.fieldIndex("distinct_keys")) > 0)
      val bloom = first.getAs[Array[Byte]]("bloom")
      val blm = graft.core.BloomFilter.fromBytes(bloom)
      assert(blm.check("user-1"))
    } finally q.stop()
  }
}

/** IVF ANN: recall on clustered vectors (the coarse-quantizer scale path). */
class IvfSpec extends org.scalatest.funsuite.AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  test("IVF recall vs brute force on clustered vectors") {
    import spark.implicits._
    val rnd = new scala.util.Random(13)
    val dim = 64
    def vec(center: Int): Array[Float] = {
      val c = Array.tabulate(dim)(j => math.cos(center * 23.0 + j).toFloat * 2f)
      c.map(x => x + rnd.nextFloat() * 0.3f)
    }
    val corpus = (0 until 400).map(i => (i.toLong, vec(i % 20))).toDF("vec_id", "embedding")
    val queries = (0 until 10).map(i => (i.toLong, vec(i % 20))).toDF("query_id", "q_embedding")
    val exact = graft.spark.ann.Ann.bruteForceTopK(corpus, queries, 5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    def recallAt(iters: Int): Double = {
      val approx = graft.spark.ann.Ann
        .ivfTopK(corpus, queries, 5, nlist = 16, nprobe = 6, lloydIters = iters)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      exact.count(approx.contains).toDouble / exact.size
    }
    val seeded = recallAt(0) // hashed-id seed centroids only
    val trained = recallAt(3) // + spherical-Lloyd iterations
    assert(trained >= 0.7, s"IVF recall too low: $trained")
    // Lloyd training must not lose recall vs raw seeds on clustered data
    assert(trained >= seeded, s"Lloyd hurt recall: seeded=$seeded trained=$trained")
  }
}
