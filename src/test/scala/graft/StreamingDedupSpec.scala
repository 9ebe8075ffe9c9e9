package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.funsuite.AnyFunSuite

import graft.spark.dedup.{BandIndex, Dedup}
import graft.spark.streaming.StreamingDedup

/** Streaming near-dup against the persisted band index: the union of pairs
  * emitted across micro-batches must equal the one-shot batch operator over
  * everything seen (each pair emitted exactly once, by the batch that
  * completes it), and the index must advance batch-by-batch. */
class StreamingDedupSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkTestSession.spark

  /** Near-dup groups spread across arrival waves (the BandIndexSpec corpus
    * shape): within a group texts share a long sentence, across groups
    * disjoint. */
  private def docs: Seq[(Long, String)] =
    for (g <- 0 until 8; j <- 0 until 6) yield {
      val base = s"group $g shared sentence tokens alpha$g beta$g gamma$g " +
        s"delta$g epsilon$g zeta$g eta$g theta$g iota$g kappa$g"
      (g * 10L + j, if (j % 2 == 0) base else s"$base extra$j tail$j")
    }

  private def pairSet(df: DataFrame): Set[(Long, Long)] =
    df.select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet

  test("accumulated streaming pairs == one-shot batch operator; emitted exactly once") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext

    val conf = BandIndex.Conf(shingleSize = 3, numHashes = 64, bands = 16, numBuckets = 8)
    StreamingDedup.init(spark, "graft_sd_idx", "graft_sd_docs", "graft_sd_pairs", conf)
    val mem = MemoryStream[(Long, String)]
    val q = StreamingDedup.nearDupViaIndex(mem.toDF().toDF("doc_id", "text"),
      "doc_id", "text", "graft_sd_idx", "graft_sd_docs", "graft_sd_pairs",
      threshold = 0.5)
    try {
      val waves = docs.groupBy(_._1 % 3).toSeq.sortBy(_._1).map(_._2)
      var seen = Seq.empty[(Long, String)]
      waves.foreach { wave =>
        mem.addData(wave: _*)
        q.processAllAvailable()
        seen ++= wave
        // appends ran through the micro-batch session clone — this reader
        // session must drop its cached file listing (operator scaladoc)
        spark.catalog.refreshTable("graft_sd_pairs")
        val got = pairSet(spark.table("graft_sd_pairs"))
        val want = pairSet(Dedup.minhashLshPairs(seen.toDF("doc_id", "text"),
          "doc_id", "text", shingleSize = 3, numHashes = 64, bands = 16,
          threshold = 0.5))
        assert(got == want, s"after ${seen.size} docs: got ${got.size}, want ${want.size}")
        // exactly-once in the happy path: no duplicate (id_a, id_b) rows
        val rows = spark.table("graft_sd_pairs").count()
        assert(rows == got.size, s"duplicate pair rows: $rows vs ${got.size}")
      }
      assert(pairSet(spark.table("graft_sd_pairs")).nonEmpty,
        "fixture must produce near-dup pairs")
    } finally {
      q.stop()
      BandIndex.drop(spark, "graft_sd_idx")
      graft.spark.io.Bucketing.dropTable(spark, "graft_sd_docs")
      graft.spark.io.Bucketing.dropTable(spark, "graft_sd_pairs")
    }
  }
}
