package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

import graft.spark.dedup.Dedup

/** Near-dup clustering: connected components assign every doc the min doc
  * id of its cluster, deterministically, in O(log diameter) rounds. */
class ConnectedComponentsSpec extends AnyFunSuite {
  private lazy val spark = SparkSession.builder()
    .master("local[4]").appName("cc")
    .config("spark.sql.shuffle.partitions", 4)
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  /** maxDriverEdges = 0 forces the distributed rounds; the default takes
    * the bounded driver union-find fast path — both must label equally. */
  private def run(pairs: Seq[(Long, Long)], parts: Int,
                  maxDriverEdges: Long = 1L << 20): Map[Long, Long] = {
    import spark.implicits._
    Dedup.connectedComponents(pairs.toDF("id_a", "id_b").repartition(parts),
        maxDriverEdges = maxDriverEdges)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
  }

  test("chains, triangles, stars and pairs all collapse to min-id reps (both paths)") {
    val chain = (1L until 12L).map(i => (i, i + 1))         // diameter 11
    val triangle = Seq((100L, 101L), (101L, 102L), (100L, 102L))
    val star = (301L to 305L).map(i => (300L, i))
    val pair = Seq((201L, 200L))                            // reversed order
    for (maxDriverEdges <- Seq(1L << 20, 0L)) {
      val got = run(chain ++ triangle ++ star ++ pair, parts = 3, maxDriverEdges)
      (1L to 12L).foreach(i => assert(got(i) == 1L, s"chain node $i"))
      (100L to 102L).foreach(i => assert(got(i) == 100L))
      (300L to 305L).foreach(i => assert(got(i) == 300L))
      assert(got(200L) == 200L && got(201L) == 200L)
      assert(got.size == 12 + 3 + 6 + 2)
    }
  }

  test("result is invariant to partitioning") {
    val pairs = Seq((5L, 3L), (3L, 9L), (20L, 21L), (9L, 1L))
    assert(run(pairs, 1) == run(pairs, 7))
    assert(run(pairs, 1) == Map(5L -> 1L, 3L -> 1L, 9L -> 1L, 1L -> 1L,
      20L -> 20L, 21L -> 20L))
  }

  test("driver fast path == distributed rounds on a randomized dup-heavy graph") {
    val rnd = new scala.util.Random(17)
    // random graph with duplicate and reversed edges, self-contained
    // components of many shapes — the two execution paths must agree
    // exactly, including on an edge count just above a tiny forced bound
    val pairs = (0 until 800).map { _ =>
      val a = rnd.nextInt(300).toLong; val b = rnd.nextInt(300).toLong
      if (rnd.nextBoolean()) (a, b + 300L) else (b + 300L, a)
    }
    val fast = run(pairs, 5)
    val dist = run(pairs, 5, maxDriverEdges = 0L)
    assert(fast == dist)
    // a bound smaller than the edge count falls through to the rounds
    assert(run(pairs, 5, maxDriverEdges = 10L) == fast)
  }

  test("a pair with a null id is no edge on either path (no phantom doc 0)") {
    import spark.implicits._
    val pairs = Seq[(Option[Long], Option[Long])]((Some(1L), Some(2L)), (Some(2L), None),
      (None, Some(3L)), (Some(4L), Some(5L)), (None, None)).toDF("id_a", "id_b")
    def labels(maxDriverEdges: Long): Set[(Any, Any)] =
      Dedup.connectedComponents(pairs, maxDriverEdges = maxDriverEdges)
        .collect().map(r => (r.get(0), r.get(1))).toSet
    val fast = labels(1L << 20)
    assert(fast == labels(0L))
    assert(fast == Set((1L, 1L), (2L, 1L), (4L, 4L), (5L, 4L)))
  }
}
