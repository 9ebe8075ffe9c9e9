package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.funsuite.AnyFunSuite

import graft.spark.SparkQueries

/** The timed leaf whose configuration still differs from its oracle-checked
  * twin: q_minhash_pairs benches 64 hashes x 16 bands, the oracle checks
  * 128 x 32. Lower recall may miss pairs, but every pair the timed leaf
  * emits is exact-Jaccard verified, so it must be an oracle pair with the
  * same jaccard. Runs on sf0.001. */
class BenchEquivalenceSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkTestSession.spark
  private val dir = "/root/testdata/sf0.001"

  private def pairs(df: DataFrame): Map[(Long, Long), Double] =
    df.select("id_a", "id_b", "jaccard").collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap

  test("q_minhash_pairs: every timed 64x16 pair is a 128x32 oracle pair with equal jaccard") {
    val timed = pairs(SparkQueries.minhashPairsBench(spark, dir))
    val oracle = pairs(SparkQueries.minhashPairs(spark, dir))
    assert(timed.nonEmpty)
    val missing = timed.filter { case (p, j) => !oracle.get(p).contains(j) }
    assert(missing.isEmpty, s"${missing.size} of ${timed.size} timed pairs: ${missing.take(5)}")
  }
}
