package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.spark.dedup.SemDedup

/** SemDeDup (Abbas et al. 2023) semantic dedup: the drop flags must satisfy
  * the two defining invariants under ANY clustering (witness: each dropped
  * doc has a better-ranked above-threshold neighbor in its cluster;
  * coverage: no two kept docs in a cluster are above-threshold), the min-id
  * single-cluster mode must equal the brute-force closed form, the keep
  * policy must orient which endpoint of a duplicate pair survives, and the
  * whole operator must be deterministic run-to-run. */
class SemDedupSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkTestSession.spark

  private val threshold = 0.9

  /** Two directions with planted near-dup pairs and distinct satellites. */
  private def vecs: DataFrame = {
    import spark.implicits._
    Seq(
      (0L, Array(1f, 0f, 0f, 0f)),
      (1L, Array(0.99f, 0.141f, 0f, 0f)),     // near-dup of 0
      (2L, Array(0.8f, 0f, 0.6f, 0f)),        // same region, below threshold
      (3L, Array(0f, 1f, 0f, 0f)),
      (4L, Array(0f, 0.995f, 0.0999f, 0f)),   // near-dup of 3
      (5L, Array(0f, 0.7f, 0f, 0.714f)),      // same region, below threshold
      (6L, Array(0.5f, 0.5f, 0.5f, 0.5f))     // isolated
    ).toDF("vec_id", "embedding")
  }

  private def cos(a: Array[Float], b: Array[Float]): Double = {
    var dot = 0.0; var na = 0.0; var nb = 0.0
    var i = 0
    while (i < a.length) {
      dot += a(i).toDouble * b(i); na += a(i).toDouble * a(i)
      nb += b(i).toDouble * b(i); i += 1
    }
    if (na == 0 || nb == 0) 0.0 else dot / (math.sqrt(na) * math.sqrt(nb))
  }

  private def collectFlags(df: DataFrame): Map[Long, (Long, Double, Boolean)] =
    df.collect().map { r =>
      r.getLong(r.fieldIndex("vec_id")) ->
        ((r.getLong(r.fieldIndex("block")), r.getDouble(r.fieldIndex("centroid_sim")),
          r.getBoolean(r.fieldIndex("dropped"))))
    }.toMap

  private def checkInvariants(out: Map[Long, (Long, Double, Boolean)],
                              emb: Map[Long, Array[Float]]): Unit = {
    val rank = (id: Long) => (out(id)._2, id) // (centroid_sim ASC, id ASC)
    val ord = Ordering.Tuple2(Ordering.Double.TotalOrdering, Ordering.Long)
    for ((id, (block, _, dropped)) <- out) {
      val better = out.collect {
        case (o, (b, _, _)) if o != id && b == block && ord.lt(rank(o), rank(id)) => o
      }
      val witness = better.exists(o => cos(emb(id), emb(o)) >= threshold)
      assert(dropped == witness,
        s"doc $id: dropped=$dropped but witness-among-better-ranked=$witness")
    }
  }

  test("witness + coverage invariants hold under a real clustering") {
    val emb = vecs.collect().map(r =>
      r.getLong(0) -> r.getSeq[Float](1).toArray).toMap
    val out = collectFlags(SemDedup.semDedup(vecs, nClusters = 3, threshold = threshold))
    assert(out.size == 7)
    assert(out.values.count(_._3) > 0, "fixture must drop something")
    checkInvariants(out, emb)
  }

  test("skew guard: oversized cells salt into bounded blocks, invariants still hold") {
    val emb = vecs.collect().map(r =>
      r.getLong(0) -> r.getSeq[Float](1).toArray).toMap
    // one cluster, 7 docs, maxCellSize 3 → ceil(7/3) = 3 salt shards
    val out = collectFlags(SemDedup.semDedup(vecs, nClusters = 1,
      threshold = threshold, maxCellSize = 3))
    val blocks = out.values.map(_._1).toSet
    assert(blocks.size > 1, "the oversized cell must split")
    assert(blocks.forall(b => b >> 20 == 0L), "all blocks derive from cell 0")
    assert(blocks.forall(b => (b & ((1L << 20) - 1)) < 3), "salt in [0, ceil(7/3))")
    checkInvariants(out, emb) // pairing is within-block by definition
    // unsplit path: block == cell << 20 exactly
    val noSplit = collectFlags(SemDedup.semDedup(vecs, nClusters = 1, threshold = threshold))
    assert(noSplit.values.map(_._1).toSet == Set(0L))
  }

  test("min-id single-cluster mode equals the brute-force closed form") {
    val emb = vecs.collect().map(r =>
      r.getLong(0) -> r.getSeq[Float](1).toArray).toMap
    val out = collectFlags(SemDedup.semDedup(vecs, nClusters = 1,
      threshold = threshold, policy = SemDedup.KeepMinId))
    for ((id, (_, _, dropped)) <- out) {
      val want = emb.exists { case (o, v) => o < id && cos(emb(id), v) >= threshold }
      assert(dropped == want, s"doc $id: dropped=$dropped want=$want")
    }
    assert(out(1L)._3 && !out(0L)._3, "pair (0,1): higher id drops under min-id")
    assert(out(4L)._3 && !out(3L)._3, "pair (3,4): higher id drops under min-id")
    assert(!out(2L)._3 && !out(5L)._3 && !out(6L)._3)
  }

  test("keep policy orients which endpoint of a duplicate pair survives") {
    for (policy <- Seq(SemDedup.KeepLowCentroidSim, SemDedup.KeepHighCentroidSim)) {
      val out = collectFlags(SemDedup.semDedup(vecs, nClusters = 1,
        threshold = threshold, policy = policy))
      for ((a, b) <- Seq((0L, 1L), (3L, 4L))) {
        val (sa, sb) = (out(a)._2, out(b)._2)
        assert(out(a)._3 != out(b)._3, s"exactly one of ($a,$b) must drop")
        val droppedSim = if (out(a)._3) sa else sb
        val keptSim = if (out(a)._3) sb else sa
        policy match {
          case SemDedup.KeepLowCentroidSim =>
            assert(droppedSim >= keptSim, s"low policy keeps the low-sim endpoint of ($a,$b)")
          case _ =>
            assert(droppedSim <= keptSim, s"high policy keeps the high-sim endpoint of ($a,$b)")
        }
      }
    }
  }

  test("deterministic run-to-run") {
    def run() = SemDedup.semDedup(vecs, nClusters = 3, threshold = threshold)
      .orderBy("vec_id").collect().map(_.toSeq).toSeq
    assert(run() == run())
  }

  test("end-to-end semantic dedup from RAW TEXT (no external embedding column)") {
    // round-6: the in-engine text_embedding kernel makes the semantic
    // surface self-contained — pages in, dedup flags out. Near-dup docs
    // share most n-gram features, so their hashed-projection embeddings
    // sit at high cosine; distinct topics land low.
    import spark.implicits._
    def doc(words: Seq[String], n: Int): String =
      (0 until n).map(i => words(i % words.size)).mkString(" ")
    val a = Seq("solar", "panel", "energy", "grid", "storage", "inverter")
    val b = Seq("whale", "plankton", "ocean", "current", "migration", "krill")
    val docs = Seq(
      (0L, doc(a, 40)),
      (1L, doc(a, 40) + " extra tail"),  // near-dup of 0
      (2L, doc(b, 40)),
      (3L, doc(b, 40) + " extra tail"),  // near-dup of 2
      (4L, doc(a.reverse ++ b, 40))      // mixed, distinct
    ).toDF("doc_id", "text")
    val emb = docs.select(col("doc_id").as("vec_id"),
      graft.spark.fns.TextExpressions.textEmbeddingNative(col("text"), 64).as("embedding"))
    val flags = SemDedup.semDedup(emb, nClusters = 1, threshold = 0.8,
        policy = SemDedup.KeepMinId, maxCellSize = Long.MaxValue)
      .collect().map(r => r.getLong(0) -> r.getBoolean(r.fieldIndex("dropped"))).toMap
    // independent expectation: brute-force cosine over the SAME embeddings
    val collected = emb.collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray).toMap
    def expectDropped(id: Long): Boolean =
      collected.keys.exists(o => o < id && cos(collected(o), collected(id)) >= 0.8)
    collected.keys.foreach { id =>
      assert(flags(id) == expectDropped(id), s"doc $id")
    }
    // and the construction actually separates: the planted pairs drop,
    // the distinct docs survive
    assert(flags(1L) && flags(3L), "near-dup tails must drop against their base docs")
    assert(!flags(0L) && !flags(2L) && !flags(4L), "distinct docs must survive")
  }
}
