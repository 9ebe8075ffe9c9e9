package graft.spark.streaming

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

import graft.core.RotatingBloomFilter
import graft.spark.aggs.SketchUdafs

/** Output row of [[StreamingSketches.rotatingDedupByCount]]: `first_seen` is
  * false when the key's rotating Bloom window already claims the value. */
case class RotatingDedupEvent(key: String, value: String, first_seen: Boolean)

/** Structured-Streaming sketch aggregation.
  *
  * The reference's stream-oriented structures map onto event-time windows:
  *   - `RotatingBloomFilter` (count-based sliding window of sub-blooms,
  *     expandingbloom.py:250-370) → one Bloom per event-time window, old
  *     windows expiring via watermark — rotation is window expiry;
  *   - `StreamThreshold` / `HeavyHitters` → windowed CMS-backed aggregates;
  *   - `ExpandingBloomFilter` growth → the aggregator buffer grows inside
  *     the window's state.
  *
  * Because every sketch aggregate is a `SketchAgg` with an
  * associative+commutative merge, it rides Spark's incremental aggregation
  * state store directly — no custom `flatMapGroupsWithState` needed for
  * these shapes.
  */
object StreamingSketches {

  /** Per-window, per-key sketch battery over a stream:
    * tumbling `windowDur` windows on `tsCol` with `watermarkDelay` lateness,
    * building a Bloom (the rotating-bloom analogue), an HLL distinct count,
    * and a CMS heavy-hitter map per window. */
  def windowedSketches(events: DataFrame, tsCol: String, keyCol: String,
                       windowDur: String = "1 hour",
                       watermarkDelay: String = "10 minutes",
                       bloomEst: Long = 100000L): DataFrame =
    events
      .withWatermark(tsCol, watermarkDelay)
      .groupBy(window(col(tsCol), windowDur).as("win"))
      .agg(
        SketchUdafs.bloom(bloomEst, 0.01)(col(keyCol)).as("bloom"),
        SketchUdafs.hllCount(12)(col(keyCol)).as("distinct_keys"),
        SketchUdafs.heavyHitters(5, 2048, 5)(col(keyCol), lit(1L)).as("top_keys"),
        count(lit(1)).as("n_events"))
      .select(col("win.start").as("window_start"), col("win.end").as("window_end"),
        col("bloom"), col("distinct_keys"), col("top_keys"), col("n_events"))

  /** Stream-threshold shape: keys whose running windowed count crosses the
    * threshold (the StreamThreshold dict, per window). */
  def windowedThreshold(events: DataFrame, tsCol: String, keyCol: String,
                        threshold: Long, windowDur: String = "1 hour",
                        watermarkDelay: String = "10 minutes"): DataFrame =
    events
      .withWatermark(tsCol, watermarkDelay)
      .groupBy(window(col(tsCol), windowDur).as("win"))
      .agg(SketchUdafs.streamThreshold(threshold, 4096, 5)(col(keyCol), lit(1L)).as("meets"))
      .select(col("win.start").as("window_start"), explode(col("meets")).as(Seq("key", "est_count")))

  /** COUNT-based rotating-Bloom dedup — the one reference stream semantic a
    * windowed aggregation genuinely cannot express: `RotatingBloomFilter`
    * (expandingbloom.py:250-370) rotates when the newest sub-bloom has seen
    * `estElements` NEW elements, not when event time advances. So this is
    * custom per-key state via `flatMapGroupsWithState`: each key holds one
    * RotatingBloomFilter, serialized in the REFERENCE export byte format
    * (state bytes == `export()` bytes — the buffer-format invariant extends
    * to the state store).
    *
    * Emits every input row with a `first_seen` flag (filter `first_seen` for
    * the deduped stream). Values that roll off the `maxQueueSize`-deep window
    * are re-admitted — "drop URLs seen among the last ~N×queue per key".
    *
    * Scale: state is O(keys × maxQueue × bloomBytes) in the state store,
    * partitioned by key hash across executors; per-row work is k bit-probes.
    * Within a micro-batch the per-key iterator order follows shuffle arrival,
    * so which duplicate of a NEW value gets `first_seen=true` is not
    * guaranteed — the set of values admitted into the filter is order-
    * invariant (check-then-insert), which is what downstream dedup consumes.
    * Also runs on a batch Dataset (single group invocation, empty state). */
  def rotatingDedupByCount(events: DataFrame, keyCol: String, valueCol: String,
                           estElements: Long = 100000L, fpr: Double = 1e-4,
                           maxQueueSize: Int = 4): Dataset[RotatingDedupEvent] = {
    val spark = events.sparkSession
    import spark.implicits._
    val (est, f, mq) = (estElements, fpr, maxQueueSize)
    events
      .select(col(keyCol).cast("string").as("key"), col(valueCol).cast("string").as("value"))
      .as[(String, String)]
      .groupByKey(_._1)
      .flatMapGroupsWithState[Array[Byte], RotatingDedupEvent](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (key: String, rows: Iterator[(String, String)], state: GroupState[Array[Byte]]) =>
          val rbf =
            if (state.exists) RotatingBloomFilter.fromBytes(state.get, mq)
            else RotatingBloomFilter(est, f, mq)
          // materialize before state.update — the iterator is lazy
          val out = rows.map { case (_, v) =>
            val seen = rbf.check(v)
            rbf.add(v) // check-then-insert + count-based rotation inside
            RotatingDedupEvent(key, v, !seen)
          }.toVector
          state.update(rbf.toBytes)
          out.iterator
      }
  }
}
