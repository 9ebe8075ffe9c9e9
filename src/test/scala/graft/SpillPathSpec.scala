package graft

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.aggregate.ObjectHashAggregateExec
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.core.ExpandingBloomFilter
import graft.ext.{Kll, TDigest}
import graft.spark.aggs.{SaltedAgg, SketchUdafs}

/** The sort-based fallback of the object hash aggregate: past
  * `spark.sql.objectHashAggregate.sortBased.fallbackThreshold` groups a task
  * serializes its buffers in the middle of the stream, sorts them with the
  * remaining input and re-merges them. With the threshold at 1 every sketch
  * aggregate and merge crosses that path (a sparse `bloom_agg` partial
  * included), and its output must equal the plain hash path's (for the
  * three sketches whose bytes depend on the split, its answers). */
class SpillPathSpec extends AnyFunSuite {
  private val base = SparkTestSession.spark

  private def session(fallbackThreshold: Int): SparkSession = {
    val s = base.newSession()
    s.conf.set("spark.sql.objectHashAggregate.sortBased.fallbackThreshold",
      fallbackThreshold.toString)
    SketchUdafs.registerAll(s)
    s
  }

  private lazy val hashPath = session(1000000)
  private lazy val spillPath = session(1)

  /** 240 groups of 4, 120 or 600 rows: `bloom_agg(k, 2000, 0.01)` partials
    * of the first stay sparse, of the second densify when they merge, of
    * the third inside a partition. */
  private val rows: Seq[(Int, Int, String, Long, Double)] =
    (0 until 240).flatMap { g =>
      val n = Seq(4, 120, 600)(g % 3)
      (0 until n).map { i =>
        val k = if (i % 7 == 0) s"ключ-$g-${i % (n / 2 + 1)}" else s"g$g-k${i % (n / 2 + 1)}"
        (g, i % 3, k, i % 5 + 1L, ((i * 2654435761L) % 1000).toDouble)
      }
    }

  private def input(s: SparkSession, parts: Int): DataFrame = {
    import s.implicits._
    s.sparkContext.parallelize(rows, parts).toDF("g", "salt", "k", "c", "v")
  }

  /** The 13 SQL names. The four whose fixed SQL sizes cannot hold 240
    * groups in a test (cbf_agg's default counters are 38 MB a buffer) run
    * through their DataFrame methods at small sizes: the same kinds. */
  private val all13: Seq[org.apache.spark.sql.Column] = Seq(
    expr("bloom_agg(k, 2000, 0.01)").as("bloom"), expr("cms_agg(k, c, 512, 4)").as("cms"),
    expr("heavy_hitters(k, c, 5, 512, 4)").as("hh"), expr("hll_agg(k, 10)").as("hll_b"),
    expr("hll_count(k, 10)").as("hll"), expr("kll_agg(v, 100)").as("kll"),
    expr("stream_threshold(k, c)").as("st"), expr("ebf_agg(k)").as("ebf"),
    expr("tdigest_agg(v)").as("td"),
    SketchUdafs.cbf(2000, 0.01)(col("k"), col("c")).as("cbf"),
    SketchUdafs.cuckoo(256, 4, 32)(col("k")).as("ck"),
    SketchUdafs.countingCuckoo(256, 4, 32)(col("k")).as("ccf"),
    SketchUdafs.quotientFilter(10)(col("k")).as("qf"))

  private def builds(s: SparkSession, parts: Int): DataFrame =
    input(s, parts).groupBy(col("g")).agg(all13.head, all13.tail: _*)

  /** The five merges over per-(group, salt) partials. */
  private def merges(s: SparkSession, parts: Int): DataFrame =
    input(s, parts).groupBy(col("g"), col("salt"))
      .agg(expr("bloom_agg(k, 2000, 0.01)").as("bloom"), expr("hll_agg(k, 10)").as("hll"),
        expr("cms_agg(k, c, 512, 4)").as("cms"), expr("kll_agg(v, 100)").as("kll"),
        expr("tdigest_agg(v)").as("td"))
      .groupBy(col("g"))
      .agg(SaltedAgg.bloomUnion(col("bloom")).as("bloom"),
        SaltedAgg.hllUnion(col("hll")).as("hll"), SaltedAgg.cmsJoin(col("cms")).as("cms"),
        SaltedAgg.kllMerge(col("kll")).as("kll"), SaltedAgg.tdigestMerge(col("td")).as("td"))

  /** Rows by group (column name -> value, bytes as Seqs and maps as Scala
    * maps), and how many tasks fell back to the sort-based path. */
  private def collect(d: DataFrame): (Map[Int, Map[String, Any]], Long) = {
    val names = d.columns.tail
    val out = d.collect().map { r: Row =>
      r.getInt(0) -> names.zip(r.toSeq.tail.map {
        case b: Array[Byte] => b.toSeq
        case m: scala.collection.Map[_, _] => m.toMap
        case x => x
      }).toMap
    }.toMap
    val fellBack = new AdaptiveSparkPlanHelper {}.collect(d.queryExecution.executedPlan) {
      case a: ObjectHashAggregateExec => a.metrics("numTasksFallBacked").value
    }.sum
    (out, fellBack)
  }

  private lazy val valuesOf: Map[Int, Seq[Double]] = rows.groupBy(_._1).map {
    case (g, rs) => g -> rs.map(_._5).sorted
  }
  private lazy val keysOf: Map[Int, Seq[String]] = rows.groupBy(_._1).map {
    case (g, rs) => g -> rs.map(_._3).distinct
  }

  /** KLL, t-digest and expanding Bloom bytes depend on how the rows were
    * split into partials, and the fallback splits a task's first group into
    * the buffer it spilled and a fresh one: those three must give the same
    * answers (count, quantile ranks within the sketch error, membership),
    * every other sketch the same bytes. */
  private def sameAnswer(col: String, g: Int, want: Any, got: Any): Boolean = {
    def bytes(x: Any) = x.asInstanceOf[Seq[Byte]].toArray
    val exact = valuesOf(g)
    def rank(v: Double) = exact.count(_ <= v).toDouble / exact.size
    def ranksClose(q: Double => Double, r: Double => Double) =
      Seq(0.1, 0.25, 0.5, 0.75, 0.9).forall(p => math.abs(rank(q(p)) - rank(r(p))) <= 0.05)
    col match {
      case "kll" =>
        val (a, b) = (Kll.fromBytes(bytes(want)), Kll.fromBytes(bytes(got)))
        a.n == b.n && ranksClose(a.quantile, b.quantile)
      case "td" =>
        val (a, b) = (TDigest.fromBytes(bytes(want)), TDigest.fromBytes(bytes(got)))
        a.totalWeight == b.totalWeight && a.min == b.min && a.max == b.max &&
          ranksClose(a.quantile, b.quantile)
      case "ebf" =>
        val (a, b) = (ExpandingBloomFilter.fromBytes(bytes(want)),
          ExpandingBloomFilter.fromBytes(bytes(got)))
        a.elementsAdded == b.elementsAdded && keysOf(g).forall(k => a.check(k) && b.check(k))
      case _ => want == got
    }
  }

  for ((name, query) <- Seq("13 sketch aggregates" -> builds _, "5 merges" -> merges _)) {
    test(s"$name over 240 groups: sort-based fallback == hash path, 1 and 4 partitions") {
      for (parts <- Seq(1, 4)) {
        val (want, hashFellBack) = collect(query(hashPath, parts))
        val (got, spillFellBack) = collect(query(spillPath, parts))
        assert(hashFellBack == 0, s"parts=$parts")
        assert(spillFellBack > 0, s"parts=$parts")
        assert(want.size == 240 && got.keySet == want.keySet, s"parts=$parts")
        for (g <- want.keys; (c, w) <- want(g))
          assert(sameAnswer(c, g, w, got(g)(c)), s"parts=$parts group=$g column=$c")
      }
    }
  }
}
