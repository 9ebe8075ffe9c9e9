package graft.spark.aggs

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions.{col, lit, pmod, xxhash64}

/** Explicit two-level (salted) aggregation for skewed keys (SURVEY.md §7.4;
  * the north rule's "salted-key skew handling"). Legal because every sketch
  * merge is associative + commutative:
  *
  *   stage 1: groupBy(key, salt = pmod(xxhash64(saltCol), S)) building
  *            partial sketches — a skewed key's load spreads over S reducers;
  *   stage 2: groupBy(key) folding the S partials with the merge aggregator.
  *
  * Equivalent to the direct single-level aggregate (asserted byte-exactly for
  * Bloom/HLL in SaltedAggSpec), at the cost of one extra small exchange.
  */
object SaltedAgg {
  // the merge aggregates (MergeKind): a column of one sketch's bytes -> one sketch
  def bloomUnion(sketches: Column): Column = SketchUdafs.agg(BloomUnion, sketches)
  def hllUnion(sketches: Column): Column = SketchUdafs.agg(HllUnion, sketches)
  def cmsJoin(sketches: Column): Column = SketchUdafs.agg(CmsJoin, sketches)
  def kllMerge(sketches: Column): Column = SketchUdafs.agg(KllMerge, sketches)
  def tdigestMerge(sketches: Column): Column = SketchUdafs.agg(TDigestMerge, sketches)

  /** Two-level HLL + Bloom battery over a skewed key. `saltCol` should be a
    * high-cardinality column (e.g. the url) so salting splits the hot key. */
  def hllBloomTwoLevel(df: DataFrame, groupKey: Column, valueCol: Column,
                       saltBuckets: Int, hllP: Int = 14,
                       bloomEst: Long = 1000000L, bloomFpr: Double = 0.01): DataFrame = {
    val stage1 = df
      .groupBy(groupKey.as("k"),
        pmod(xxhash64(valueCol), lit(saltBuckets)).as("salt"))
      .agg(
        SketchUdafs.hll(hllP)(valueCol).as("hll_part"),
        SketchUdafs.bloom(bloomEst, bloomFpr)(valueCol).as("bloom_part"))
    stage1
      .groupBy(col("k"))
      .agg(hllUnion(col("hll_part")).as("hll"),
        bloomUnion(col("bloom_part")).as("bloom"))
  }
}
