package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.core._
import graft.ext._
import graft.spark.aggs.SketchUdafs
import graft.spark.io.PagesGen

object SparkTestSession {
  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("graft-test")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.legacy.bucketedTableScan.outputOrdering", "true") // one-file-per-bucket index scans report their written sort (BandIndex)
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()
}

/** Distributed-correctness properties of the sketch aggregators: partition-
  * count invariance (the merge path IS the union/join semantics), reference-
  * format outputs, and error bounds against exact answers on the
  * deterministic pages fixture. */
class SparkAggSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkTestSession.spark

  private def keysDf(n: Int, parts: Int): DataFrame =
    spark.range(0, n, 1, parts).select(concat(lit("key-"), (col("id") % (n / 2)).cast("string")).as("k"))

  test("bloom agg: partition-count invariance, byte-exact vs sequential build") {
    val bytes1 = keysDf(2000, 1).agg(SketchUdafs.bloom(5000, 0.01)(col("k"))).head().getAs[Array[Byte]](0)
    val bytes8 = keysDf(2000, 8).agg(SketchUdafs.bloom(5000, 0.01)(col("k"))).head().getAs[Array[Byte]](0)
    // bit arrays identical regardless of parallelism (els_added too: sum of raw adds)
    assert(bytes1.toSeq == bytes8.toSeq)
    // and identical to a sequential reference-semantics build
    val seq = BloomFilter.empty(5000, 0.01)
    (0 until 2000).foreach(i => seq.add(s"key-${i % 1000}"))
    assert(seq.toBytes.toSeq == bytes1.toSeq)
    // probe: no false negatives
    val blm = BloomFilter.fromBytes(bytes8)
    (0 until 1000).foreach(i => assert(blm.check(s"key-$i")))
  }

  test("cms agg: partition invariance + point counts exact on sparse keys") {
    val df = spark.range(0, 5000, 1, 8)
      .select(concat(lit("k"), (col("id") % 50).cast("string")).as("k"), lit(1L).as("c"))
    val bytes = df.agg(SketchUdafs.cms(2048, 5)(col("k"), col("c"))).head().getAs[Array[Byte]](0)
    val cms = CountMinSketch.fromBytes(bytes)
    assert(cms.elementsAdded == 5000)
    (0 until 50).foreach(i => assert(cms.check(s"k$i") == 100, s"k$i"))
    val bytes1 = spark.range(0, 5000, 1, 1)
      .select(concat(lit("k"), (col("id") % 50).cast("string")).as("k"), lit(1L).as("c"))
      .agg(SketchUdafs.cms(2048, 5)(col("k"), col("c"))).head().getAs[Array[Byte]](0)
    assert(bytes.toSeq == bytes1.toSeq)
  }

  test("hll agg: estimate within 3 standard errors; partition invariant") {
    val est4 = spark.range(0, 30000, 1, 4).select(concat(lit("u"), col("id")).as("k"))
      .agg(SketchUdafs.hllCount(14)(col("k"))).head().getLong(0)
    val est1 = spark.range(0, 30000, 1, 1).select(concat(lit("u"), col("id")).as("k"))
      .agg(SketchUdafs.hllCount(14)(col("k"))).head().getLong(0)
    assert(est4 == est1)
    assert(math.abs(est4 - 30000.0) / 30000.0 < 3 * 1.04 / math.sqrt(16384.0))
  }

  test("kll agg: text-length quantiles within rank error of exact") {
    val pages = PagesGen.pages(spark, 20000, numPartitions = 8)
      .select(length(col("text")).cast("double").as("len"))
    val bytes = pages.agg(SketchUdafs.kll(200)(col("len"))).head().getAs[Array[Byte]](0)
    val kll = Kll.fromBytes(bytes)
    val exact = pages.collect().map(_.getDouble(0)).sorted
    for (q <- Seq(0.5, 0.95, 0.99)) {
      val est = kll.quantile(q)
      val rank = exact.count(_ <= est).toDouble / exact.length
      assert(math.abs(rank - q) < 0.03, s"q=$q rank=$rank")
    }
  }

  test("tdigest agg: quantiles within rank error of exact") {
    val df = spark.range(0, 20000, 1, 8).select((col("id") % 977).cast("double").as("v"))
    val bytes = df.agg(SketchUdafs.tdigest(100.0)(col("v"))).head().getAs[Array[Byte]](0)
    val td = TDigest.fromBytes(bytes)
    val exact = df.collect().map(_.getDouble(0)).sorted
    for (q <- Seq(0.5, 0.95)) {
      val est = td.quantile(q)
      val rank = exact.count(_ <= est).toDouble / exact.length
      assert(math.abs(rank - q) < 0.02, s"q=$q rank=$rank")
    }
  }

  test("heavy hitters agg: recovers exact zipf top-k on pages domains") {
    val pages = PagesGen.pages(spark, 20000, numPartitions = 8)
    val domain = regexp_extract(col("url"), "https://([^/]+)/", 1)
    val hh = pages.select(domain.as("d"))
      .agg(SketchUdafs.heavyHitters(5, 4096, 5)(col("d"), lit(1L)))
      .head().getAs[Map[String, Long]](0)
    val exactTop = pages.select(domain.as("d")).groupBy("d").count()
      .orderBy(col("count").desc, col("d")).limit(5)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    // sketch top-5 must contain the exact top-3 (slack for boundary ties)
    val exactTop3 = exactTop.toSeq.sortBy(-_._2).take(3).map(_._1)
    exactTop3.foreach(d => assert(hh.contains(d), s"missing heavy hitter $d in $hh"))
    // estimates within eps*N of truth
    val n = 20000
    exactTop3.foreach { d =>
      assert(hh(d) >= exactTop(d) && hh(d) <= exactTop(d) + (2.0 / 4096 * n).toLong + 1)
    }
  }

  test("cuckoo + qf aggs: no false negatives after distributed build") {
    val df = spark.range(0, 3000, 1, 8).select(concat(lit("item-"), col("id")).as("k"))
    val ckBytes = df.agg(SketchUdafs.cuckoo(20000, 4, 32)(col("k"))).head().getAs[Array[Byte]](0)
    val ck = CuckooFilter.fromBytes(ckBytes)
    (0 until 3000).foreach(i => assert(ck.check(s"item-$i"), s"cuckoo lost item-$i"))

    val qfBytes = df.agg(SketchUdafs.quotientFilter(14)(col("k"))).head().getAs[Array[Byte]](0)
    val qf = QuotientFilter.fromBytes(qfBytes)
    (0 until 3000).foreach(i => assert(qf.check(s"item-$i"), s"qf lost item-$i"))
  }

  test("sketch outputs parse as reference-format exports") {
    val df = spark.range(0, 500, 1, 4).select(concat(lit("x"), col("id")).as("k"))
    val bloomBytes = df.agg(SketchUdafs.bloom(1000, 0.01)(col("k"))).head().getAs[Array[Byte]](0)
    val blm = BloomFilter.fromBytes(bloomBytes)
    assert(blm.estElements == 1000 && blm.elsAdded == 500)
    val cbfBytes = df.select(col("k"), lit(2L).as("c"))
      .agg(SketchUdafs.cbf(1000, 0.01)(col("k"), col("c"))).head().getAs[Array[Byte]](0)
    assert(CountingBloomFilter.fromBytes(cbfBytes).check("x1") >= 2)
  }

  test("pages generator: deterministic, duplicate urls share byte-identical text") {
    val p1 = PagesGen.pages(spark, 5000, numPartitions = 2)
    val p2 = PagesGen.pages(spark, 5000, numPartitions = 7)
    assert(p1.agg(expr("bit_xor(xxhash64(url, text, warc_ts, lang))")).head().getLong(0) ==
      p2.agg(expr("bit_xor(xxhash64(url, text, warc_ts, lang))")).head().getLong(0))
    // per-url text invariant: every url maps to exactly one distinct text
    val bad = p1.groupBy("url").agg(countDistinct(col("text")).as("nt"))
      .filter(col("nt") > 1).count()
    assert(bad == 0)
    // duplicates exist (dup_frac > 0)
    assert(p1.select(countDistinct(col("url"))).head().getLong(0) < 5000)
  }

  override def afterAll(): Unit = { /* shared session reused across suites */ }
}
