package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.core.BloomFilter
import graft.ext.Hll
import graft.spark.aggs.{SaltedAgg, SketchUdafs}
import graft.spark.io.PagesGen

/** Two-level salted aggregation == direct aggregation, byte-exactly — the
  * re-grouping legality that associative+commutative merges buy. */
class SaltedAggSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkTestSession.spark

  test("salted two-level HLL + Bloom equals direct single-level, byte-exact") {
    val pages = PagesGen.pages(spark, 10000, numPartitions = 8)
      .select(col("lang"), col("url"))

    val direct = pages.groupBy(col("lang"))
      .agg(SketchUdafs.hll(14)(col("url")).as("hll"),
        SketchUdafs.bloom(100000, 0.01)(col("url")).as("bloom"))
      .collect().map(r => r.getString(0) ->
        (r.getAs[Array[Byte]]("hll").toSeq, r.getAs[Array[Byte]]("bloom").toSeq)).toMap

    val salted = SaltedAgg.hllBloomTwoLevel(pages, col("lang"), col("url"),
        saltBuckets = 16, hllP = 14, bloomEst = 100000, bloomFpr = 0.01)
      .collect().map(r => r.getString(0) ->
        (r.getAs[Array[Byte]]("hll").toSeq, r.getAs[Array[Byte]]("bloom").toSeq)).toMap

    assert(salted.keySet == direct.keySet)
    salted.foreach { case (lang, (hll, bloom)) =>
      assert(hll == direct(lang)._1, s"HLL bytes differ for $lang")
      assert(bloom == direct(lang)._2, s"Bloom bytes differ for $lang")
      // and the folded sketches answer correctly
      assert(Hll.fromBytes(hll.toArray).estimate > 0)
      assert(BloomFilter.fromBytes(bloom.toArray).elsAdded > 0)
    }
  }

  test("cms/kll/tdigest merge aggregators fold checkpoint columns") {
    import spark.implicits._
    // simulate a checkpoint table: per-partition partial sketches
    val parts = (0 until 6).map { p =>
      val cms = graft.core.CountMinSketch.empty(512, 5)
      val kll = graft.ext.Kll(200)
      val td = graft.ext.TDigest(100)
      (0 until 1000).foreach { i =>
        cms.add(s"k${(p * 1000 + i) % 37}")
        kll.update((p * 1000 + i) % 101)
        td.update((p * 1000 + i) % 101)
      }
      (p, cms.toBytes, kll.toBytes, td.toBytes)
    }
    val df = parts.toDF("pid", "cms", "kll", "td")
    val row = df.agg(
      SaltedAgg.cmsJoin(col("cms")).as("cms"),
      SaltedAgg.kllMerge(col("kll")).as("kll"),
      SaltedAgg.tdigestMerge(col("td")).as("td")).head()
    val cms = graft.core.CountMinSketch.fromBytes(row.getAs[Array[Byte]]("cms"))
    assert(cms.elementsAdded == 6000)
    assert(cms.check("k0") >= 6000 / 37)
    val kll = graft.ext.Kll.fromBytes(row.getAs[Array[Byte]]("kll"))
    assert(kll.n == 6000)
    assert(math.abs(kll.quantile(0.5) - 50.0) < 8)
    val td = graft.ext.TDigest.fromBytes(row.getAs[Array[Byte]]("td"))
    assert(math.abs(td.quantile(0.5) - 50.0) < 8)
  }

  test("merge aggregates skip null sketches; all-null input and all-null partitions give null") {
    val a = BloomFilter.empty(1000, 0.01); a.add("x")
    val b = BloomFilter.empty(1000, 0.01); b.add("y")
    val want = BloomFilter.fromBytes(a.toBytes).orInPlace(b).toBytes.toSeq
    val rows = Seq[Array[Byte]](null, null, a.toBytes, null, b.toBytes, null, null, null)
    val schema = org.apache.spark.sql.types.StructType.fromDDL("b BINARY")
    for (parts <- Seq(1, 4)) { // at 4, the first and last partitions are all null
      val d = spark.createDataFrame(
        spark.sparkContext.parallelize(rows.map(org.apache.spark.sql.Row(_)), parts), schema)
      val got = d.agg(SaltedAgg.bloomUnion(col("b"))).head().getAs[Array[Byte]](0)
      assert(got.toSeq == want, s"parts=$parts")
      val nulls = d.filter(col("b").isNull)
      assert(nulls.agg(SaltedAgg.bloomUnion(col("b"))).head().isNullAt(0), s"parts=$parts")
      assert(nulls.groupBy(lit(1)).agg(SaltedAgg.hllUnion(col("b"))).head().isNullAt(1))
    }
  }
}
