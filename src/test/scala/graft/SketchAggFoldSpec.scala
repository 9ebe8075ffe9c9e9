package graft

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{BinaryType, LongType, MapType, StringType}
import org.scalatest.funsuite.AnyFunSuite

import graft.core._
import graft.ext.{Hll, Kll, TDigest}
import graft.spark.aggs.SketchUdafs

/** Rows and a driver-side fold for checking the sketch aggregates: ASCII
  * keys take the zero-copy byte fold, non-ASCII keys the codepoint fallback,
  * and each shape runs at 1 and 8 partitions. */
trait SketchFoldFixture {
  lazy val spark: SparkSession = SparkTestSession.spark

  /** Zipf-like heavy keys interleaved with a long unique tail. */
  protected def keysOf(ascii: Boolean): Seq[String] = (0 until 8000).map { i =>
    val heavy = math.sqrt(i % 1000 + 1.0).toInt
    if (ascii) {
      if (i % 2 == 0) s"https://d$heavy.example.com/" else s"https://u$i.example.com/p/${i % 97}"
    } else {
      if (i % 2 == 0) s"ключ-$heavy" else s"键-$i-ü"
    }
  }

  /** (key k, value v, count c) rows. */
  protected def rowsOf(ascii: Boolean): Seq[(String, Double, Long)] =
    keysOf(ascii).zipWithIndex.map { case (k, i) =>
      (k, ((i * 2654435761L) % 100000).toDouble, i % 5 + 1L)
    }

  /** Contiguous slices in input order, so one partition folds the rows in
    * exactly the driver's order. */
  protected def df(rows: Seq[(String, Double, Long)], parts: Int): DataFrame = {
    import spark.implicits._
    spark.sparkContext.parallelize(rows, parts).toDF("k", "v", "c")
  }

  protected def bytesOf(d: DataFrame, agg: Column): Array[Byte] =
    d.agg(agg).head().getAs[Array[Byte]](0)

  protected val cases: Seq[(Boolean, Int)] =
    for (ascii <- Seq(true, false); parts <- Seq(1, 8)) yield (ascii, parts)

  /** The aggregate's fold, on the driver: each of `df(rows, parts)`'s
    * slices into a fresh sketch, and the partials, each through its bytes,
    * merged in partition order into one more fresh sketch (the final
    * aggregate's buffer). */
  protected def driverAgg[S](rows: Seq[(String, Double, Long)], parts: Int)(
      create: => S, add: (S, (String, Double, Long)) => Unit, roundTrip: S => S,
      merge: (S, S) => S): S = {
    val n = rows.size
    (0 until parts).map { i =>
      val s = create
      rows.slice(i * n / parts, (i + 1) * n / parts).foreach(add(s, _))
      roundTrip(s)
    }.foldLeft(create)(merge)
  }
}

/** The KLL, heavy-hitters, counting Bloom, stream-threshold, cuckoo,
  * counting-cuckoo, quotient-filter, expanding-Bloom and t-digest aggregates
  * against a driver-side fold into the `graft.ext` / `graft.core` sketch;
  * plus the SQL names against the DataFrame methods, and the null rule
  * through both entry points. */
class SketchAggFoldSpec extends AnyFunSuite with SketchFoldFixture {

  test("kll: bytes == driver fold on one partition; 8 partitions within rank error") {
    for ((ascii, parts) <- cases) {
      val rows = rowsOf(ascii)
      val got = Kll.fromBytes(bytesOf(df(rows, parts), SketchUdafs.kll(200)(col("v"))))
      val fold = Kll(200)
      rows.foreach(r => fold.update(r._2))
      val at = s"ascii=$ascii parts=$parts"
      if (parts == 1) {
        // the final aggregate merges the single partial buffer into a fresh one
        assert(got.toBytes.toSeq == Kll(200).merge(fold).toBytes.toSeq, at)
      }
      assert(got.n == rows.size, at)
      val exact = rows.map(_._2).sorted
      for (q <- Seq(0.1, 0.5, 0.9)) {
        val rank = exact.count(_ <= got.quantile(q)).toDouble / exact.size
        assert(math.abs(rank - q) < 0.03, s"$at q=$q rank=$rank")
      }
    }
  }

  test("heavy hitters: top-k == driver top-k re-estimated from the folded grid") {
    for ((ascii, parts) <- cases) {
      val rows = rowsOf(ascii)
      val grid = CountMinSketch.empty(4096, 5)
      rows.foreach(r => grid.add(r._1, r._3))
      val want = rows.map(_._1).distinct.map(k => k -> grid.check(k))
        .sortBy { case (k, v) => (-v, k) }.take(5).toMap
      val got = df(rows, parts).agg(SketchUdafs.heavyHitters(5, 4096, 5)(col("k"), col("c")))
        .head().getMap[String, Long](0)
      assert(Map(got.toSeq: _*) == want, s"ascii=$ascii parts=$parts")
    }
  }

  test("cbf: bytes == driver fold on 1 and 8 partitions (counter sums commute)") {
    for ((ascii, parts) <- cases) {
      val rows = rowsOf(ascii)
      val want = driverAgg(rows, parts)(CountingBloomFilter.empty(20000, 0.01),
        (s: CountingBloomFilter, r) => s.add(r._1, r._3),
        (s: CountingBloomFilter) => CountingBloomFilter.fromBytes(s.toBytes),
        (a: CountingBloomFilter, b: CountingBloomFilter) => a.addInPlace(b))
      val got = bytesOf(df(rows, parts), SketchUdafs.cbf(20000, 0.01)(col("k"), col("c")))
      assert(got.toSeq == want.toBytes.toSeq, s"ascii=$ascii parts=$parts")
      val whole = CountingBloomFilter.empty(20000, 0.01)
      rows.foreach(r => whole.add(r._1, r._3))
      assert(got.toSeq == whole.toBytes.toSeq, s"ascii=$ascii parts=$parts")
    }
  }

  test("stream threshold: map == driver fold on 1 and 8 partitions") {
    for ((ascii, parts) <- cases) {
      val rows = rowsOf(ascii)
      val want = driverAgg(rows, parts)(StreamThreshold.empty(40, 4096, 5),
        (s: StreamThreshold, r) => s.add(r._1, r._3),
        (s: StreamThreshold) => StreamThreshold.fromBytes(s.toBytes),
        (a: StreamThreshold, b: StreamThreshold) => a.merge(b))
      val got = df(rows, parts).agg(SketchUdafs.streamThreshold(40, 4096, 5)(col("k"), col("c")))
        .head().getMap[String, Long](0)
      val at = s"ascii=$ascii parts=$parts"
      // 40 is low enough that some key meets it within one of 8 slices
      assert(want.meetsThreshold.nonEmpty, at)
      assert(Map(got.toSeq: _*) == want.meetsThreshold, at)
    }
  }

  test("cuckoo and counting cuckoo: bytes == driver fold on one partition; 8 agree") {
    for ((ascii, parts) <- cases) {
      val rows = rowsOf(ascii)
      val at = s"ascii=$ascii parts=$parts"
      val ck = driverAgg(rows, parts)(new CuckooFilter(4096, 4, 500, 2, true, 32),
        (s: CuckooFilter, r) => s.add(r._1),
        (s: CuckooFilter) => CuckooFilter.fromBytes(s.toBytes, 2, true, 32),
        (a: CuckooFilter, b: CuckooFilter) =>
          if (a.elementsAdded >= b.elementsAdded) a.mergeFrom(b) else b.mergeFrom(a))
      val ckGot = bytesOf(df(rows, parts), SketchUdafs.cuckoo(4096, 4, 32)(col("k")))
      val ccf = driverAgg(rows, parts)(new CountingCuckooFilter(4096, 4, 500, 2, true, 32),
        (s: CountingCuckooFilter, r) => s.add(r._1),
        (s: CountingCuckooFilter) => CountingCuckooFilter.fromBytes(s.toBytes, 2, true, 32),
        (a: CountingCuckooFilter, b: CountingCuckooFilter) =>
          if (a.insertedElements >= b.insertedElements) a.mergeFrom(b) else b.mergeFrom(a))
      val ccfGot = bytesOf(df(rows, parts), SketchUdafs.countingCuckoo(4096, 4, 32)(col("k")))
      if (parts == 1) {
        assert(ckGot.toSeq == ck.toBytes.toSeq, at)
        assert(ccfGot.toSeq == ccf.toBytes.toSeq, at)
      }
      val ckBack = CuckooFilter.fromBytes(ckGot, 2, true, 32)
      val ccfBack = CountingCuckooFilter.fromBytes(ccfGot, 2, true, 32)
      assert(ckBack.elementsAdded == ck.elementsAdded, at)
      rows.map(_._1).distinct.foreach { k =>
        assert(ckBack.check(k), s"$at key=$k")
        assert(ccfBack.check(k) == ccf.check(k), s"$at key=$k")
      }
    }
  }

  test("quotient filter and expanding Bloom: bytes == driver fold on one partition; 8 agree") {
    for ((ascii, parts) <- cases) {
      val rows = rowsOf(ascii)
      val at = s"ascii=$ascii parts=$parts"
      val qf = driverAgg(rows, parts)(QuotientFilter(14, autoExpand = true),
        (s: QuotientFilter, r) => s.add(r._1),
        (s: QuotientFilter) => QuotientFilter.fromBytes(s.toBytes),
        (a: QuotientFilter, b: QuotientFilter) =>
          if (a.elementsAdded >= b.elementsAdded) { a.merge(b); a } else { b.merge(a); b })
      val qfGot = bytesOf(df(rows, parts), SketchUdafs.quotientFilter(14)(col("k")))
      val ebf = driverAgg(rows, parts)(ExpandingBloomFilter(2000, 0.01),
        (s: ExpandingBloomFilter, r) => s.add(r._1, force = true),
        (s: ExpandingBloomFilter) => ExpandingBloomFilter.fromBytes(s.toBytes),
        (a: ExpandingBloomFilter, b: ExpandingBloomFilter) => a.mergeFrom(b))
      val ebfGot = bytesOf(df(rows, parts), SketchUdafs.ebf(2000, 0.01)(col("k")))
      if (parts == 1) {
        assert(qfGot.toSeq == qf.toBytes.toSeq, at)
        assert(ebfGot.toSeq == ebf.toBytes.toSeq, at)
      }
      val qfBack = QuotientFilter.fromBytes(qfGot)
      val ebfBack = ExpandingBloomFilter.fromBytes(ebfGot)
      assert(qfBack.elementsAdded == qf.elementsAdded, at)
      assert(ebfBack.elementsAdded == ebf.elementsAdded, at)
      rows.map(_._1).distinct.foreach { k =>
        assert(qfBack.check(k) && ebfBack.check(k), s"$at key=$k")
      }
    }
  }

  test("ebf: one-partition ebf_agg == the plain fold; a fresh filter merges to the other side") {
    for (ascii <- Seq(true, false)) {
      val rows = rowsOf(ascii)
      val fold = ExpandingBloomFilter(2000, 0.01)
      rows.foreach(r => fold.add(r._1, force = true))
      assert(fold.expansions > 0)
      val got = bytesOf(df(rows, 1), SketchUdafs.ebf(2000, 0.01)(col("k")))
      assert(got.toSeq == fold.toBytes.toSeq, s"ascii=$ascii")
      assert(ExpandingBloomFilter(2000, 0.01).mergeFrom(fold).toBytes.toSeq == fold.toBytes.toSeq)
      assert(fold.mergeFrom(ExpandingBloomFilter(2000, 0.01)).toBytes.toSeq == got.toSeq)
      // at 8 partitions every sub-bloom holds adds: no empty head, no empty tails
      val eight = ExpandingBloomFilter.fromBytes(
        bytesOf(df(rows, 8), SketchUdafs.ebf(2000, 0.01)(col("k"))))
      assert(eight.blooms.forall(_.elsAdded > 0), s"ascii=$ascii")
      assert(eight.elementsAdded == rows.size && rows.forall(r => eight.check(r._1)))
    }
    // both sides empty: one empty sub-bloom stays
    val empty = ExpandingBloomFilter(2000, 0.01)
    val merged = ExpandingBloomFilter(2000, 0.01).mergeFrom(ExpandingBloomFilter(2000, 0.01))
    assert(merged.toBytes.toSeq == empty.toBytes.toSeq)
  }

  test("t-digest: bytes == driver fold on one partition; 8 partitions within rank error") {
    for ((ascii, parts) <- cases) {
      val rows = rowsOf(ascii)
      val at = s"ascii=$ascii parts=$parts"
      val want = driverAgg(rows, parts)(TDigest(100.0),
        (s: TDigest, r) => s.update(r._2),
        (s: TDigest) => TDigest.fromBytes(s.toBytes),
        (a: TDigest, b: TDigest) => a.merge(b))
      val got = TDigest.fromBytes(bytesOf(df(rows, parts), SketchUdafs.tdigest(100.0)(col("v"))))
      if (parts == 1) assert(got.toBytes.toSeq == want.toBytes.toSeq, at)
      val exact = rows.map(_._2).sorted
      for (q <- Seq(0.1, 0.5, 0.9)) {
        val rank = exact.count(_ <= got.quantile(q)).toDouble / exact.size
        assert(math.abs(rank - q) < 0.02, s"$at q=$q rank=$rank")
      }
      assert(got.totalWeight == rows.size, at)
    }
  }

  test("SQL names of the cbf, stream-threshold, cuckoo, QF, EBF and t-digest aggregates") {
    SketchUdafs.registerAll(spark)
    val d = df(rowsOf(ascii = false) ++ rowsOf(ascii = true), 1)
    d.createOrReplaceTempView("fold_spec_more")
    val sql = spark.sql(
      """SELECT cbf_agg(k, c), stream_threshold(k, c), cuckoo_agg(k), counting_cuckoo_agg(k),
        |       qf_agg(k), ebf_agg(k), tdigest_agg(v)
        |FROM fold_spec_more""".stripMargin)
    val api = d.agg(
      SketchUdafs.cbf(1000000, 0.01)(col("k"), col("c")),
      SketchUdafs.streamThreshold(100, 4096, 5)(col("k"), col("c")),
      SketchUdafs.cuckoo(100000, 4, 32)(col("k")),
      SketchUdafs.countingCuckoo(100000, 4, 32)(col("k")),
      SketchUdafs.quotientFilter(18)(col("k")),
      SketchUdafs.ebf(10000, 0.01)(col("k")),
      SketchUdafs.tdigest(100.0)(col("v")))
    assert(sql.columns.toSeq == Seq("cbf_agg(k, c)", "stream_threshold(k, c)", "cuckoo_agg(k)",
      "counting_cuckoo_agg(k)", "qf_agg(k)", "ebf_agg(k)", "tdigest_agg(v)"))
    val map = MapType(StringType, LongType, valueContainsNull = false)
    assert(sql.schema.map(_.dataType) == Seq(BinaryType, map) ++ Seq.fill(5)(BinaryType))
    assert(api.schema.map(_.dataType) == sql.schema.map(_.dataType))
    val (s, a) = (sql.head(), api.head())
    Seq(0, 2, 3, 4, 5, 6).foreach { i =>
      assert(s.getAs[Array[Byte]](i).toSeq == a.getAs[Array[Byte]](i).toSeq, s"column $i")
    }
    assert(s.getMap[String, Long](1) == a.getMap[String, Long](1))
    assert(s.getMap[String, Long](1).nonEmpty)
  }

  test("SQL names with default arguments == the SketchUdafs methods") {
    SketchUdafs.registerAll(spark)
    val d = df(rowsOf(ascii = false) ++ rowsOf(ascii = true), 1)
    d.createOrReplaceTempView("fold_spec_rows")
    val sql = spark.sql(
      """SELECT bloom_agg(k), cms_agg(k, c), hll_agg(k), hll_count(k), kll_agg(v),
        |       heavy_hitters(k, c)
        |FROM fold_spec_rows""".stripMargin).head()
    val api = d.agg(
      SketchUdafs.bloom(1000000, 0.01)(col("k")),
      SketchUdafs.cms(2048, 5)(col("k"), col("c")),
      SketchUdafs.hll(14)(col("k")),
      SketchUdafs.hllCount(14)(col("k")),
      SketchUdafs.kll(200)(col("v")),
      SketchUdafs.heavyHitters(10, 4096, 5)(col("k"), col("c"))).head()
    Seq(0, 1, 2, 4).foreach { i =>
      assert(sql.getAs[Array[Byte]](i).toSeq == api.getAs[Array[Byte]](i).toSeq, s"column $i")
    }
    assert(sql.getLong(3) == api.getLong(3))
    assert(sql.getMap[String, Long](5) == api.getMap[String, Long](5))
    assert(sql.getMap[String, Long](5).size == 10)
  }

  test("null key, value or count skips the row: DataFrame and SQL") {
    import spark.implicits._
    SketchUdafs.registerAll(spark)
    val clean = Seq[(Option[String], Option[Double], Option[Long])](
      (Some("a"), Some(1.0), Some(2L)), (Some("b"), Some(3.0), Some(1L)))
    val noisy = clean ++ Seq[(Option[String], Option[Double], Option[Long])](
      (None, None, Some(4L)), (Some("a"), None, None), (Some("c"), None, None))
    def dfAgg(d: DataFrame): Row = d.agg(
      SketchUdafs.bloom(1000, 0.01)(col("k")),
      SketchUdafs.cms(64, 3)(col("k"), col("c")),
      SketchUdafs.hll(10)(col("k")),
      SketchUdafs.kll(200)(col("v")),
      SketchUdafs.heavyHitters(5, 64, 3)(col("k"), col("c")),
      // the udaf aggregates; threshold 0 would keep a key counted as 0
      SketchUdafs.cbf(1000000, 0.01)(col("k"), col("c")),
      SketchUdafs.streamThreshold(0, 4096, 5)(col("k"), col("c") * 100),
      SketchUdafs.tdigest(100.0)(col("v"))).head()
    def sqlAgg(d: DataFrame): Row = {
      d.createOrReplaceTempView("null_rule_rows")
      spark.sql(
        """SELECT bloom_agg(k, 1000, 0.01), cms_agg(k, c, 64, 3), hll_agg(k, 10),
          |       kll_agg(v, 200), heavy_hitters(k, c, 5, 64, 3),
          |       cbf_agg(k, c), stream_threshold(k, c * 100), tdigest_agg(v)
          |FROM null_rule_rows""".stripMargin).head()
    }
    val keysOnly = clean.map(_._1) ++ Seq(Some("a"), Some("c"))
    for (agg <- Seq[DataFrame => Row](dfAgg, sqlAgg)) {
      // one partition each: KLL bytes keep the input order
      val got = agg(noisy.toDF("k", "v", "c").coalesce(1))
      val want = agg(clean.toDF("k", "v", "c").coalesce(1))
      // CMS, KLL, HH, CBF, stream threshold and t-digest see exactly the clean rows
      Seq(1, 3, 5, 7).foreach(i =>
        assert(got.getAs[Array[Byte]](i).toSeq == want.getAs[Array[Byte]](i).toSeq, s"column $i"))
      assert(got.getMap[String, Long](4) == Map("a" -> 2L, "b" -> 1L))
      assert(got.getMap[String, Long](6) == Map("a" -> 200L, "b" -> 100L))
      // Bloom and HLL see every non-null key, with or without a value
      val keys = agg(keysOnly.map(k => (k, Option(0.0), Option(1L))).toDF("k", "v", "c"))
      Seq(0, 2).foreach(i => assert(got.getAs[Array[Byte]](i).toSeq == keys.getAs[Array[Byte]](i).toSeq))
      val kll = Kll.fromBytes(got.getAs[Array[Byte]](3))
      assert(kll.n == 2 && kll.quantile(0.0) == 1.0)
      val cms = CountMinSketch.fromBytes(got.getAs[Array[Byte]](1))
      assert(cms.elementsAdded == 3 && cms.check("c") == 0)
    }
  }
}

/* The suites below keep the names they had when each sketch had both a udaf
 * and a native aggregate. The udaf computed a fold of the core sketch over
 * the string keys (codepoints for non-ASCII); the one remaining aggregate is
 * checked against that fold directly, which also makes its bytes partition
 * invariant. */

/** Bloom: aggregate bytes == driver-side `BloomFilter` fold (OR algebra). */
class NativeParitySpec extends AnyFunSuite with SketchFoldFixture {
  test("native Bloom == udaf Bloom bytes; partition invariant (OR algebra)") {
    for ((ascii, parts) <- cases) {
      val rows = rowsOf(ascii)
      val bloom = BloomFilter.empty(20000, 0.01)
      rows.foreach(r => bloom.add(r._1))
      val got = bytesOf(df(rows, parts), SketchUdafs.bloom(20000, 0.01)(col("k")))
      assert(got.toSeq == bloom.toBytes.toSeq, s"ascii=$ascii parts=$parts")
    }
  }
}

/** HLL: aggregate bytes and estimate == driver-side `Hll` fold. */
class NativeHllSpec extends AnyFunSuite with SketchFoldFixture {
  private def checkHll(ascii: Boolean): Unit =
    for (parts <- Seq(1, 8)) {
      val rows = rowsOf(ascii)
      val d = df(rows, parts)
      val hll = Hll(12)
      rows.foreach(r => hll.add(r._1))
      val at = s"ascii=$ascii parts=$parts"
      assert(bytesOf(d, SketchUdafs.hll(12)(col("k"))).toSeq == hll.toBytes.toSeq, at)
      assert(d.agg(SketchUdafs.hllCount(12)(col("k"))).head().getLong(0) == hll.estimate, at)
    }

  test("native HLL equals udaf HLL on ascii keys; partition invariant") {
    checkHll(ascii = true)
  }

  test("native HLL non-ascii fallback matches codepoint semantics") {
    checkHll(ascii = false)
  }
}

/** CMS: aggregate bytes == driver-side `CountMinSketch` fold. */
class NativeCmsSpec extends AnyFunSuite with SketchFoldFixture {
  test("native CMS == udaf CMS bytes on ascii and non-ascii keys") {
    for ((ascii, parts) <- cases) {
      val rows = rowsOf(ascii)
      val cms = CountMinSketch.empty(1024, 5)
      rows.foreach(r => cms.add(r._1, r._3))
      val got = bytesOf(df(rows, parts), SketchUdafs.cms(1024, 5)(col("k"), col("c")))
      assert(got.toSeq == cms.toBytes.toSeq, s"ascii=$ascii parts=$parts")
    }
  }
}
