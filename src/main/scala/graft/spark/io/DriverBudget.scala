package graft.spark.io

import org.apache.spark.sql.{DataFrame, Row}

/** Bounded driver collects for the operators' size-adaptive fast paths. */
object DriverBudget {
  /** All of `df`'s rows when it has at most `max` of them, else None. One
    * `limit(max + 1)` job bounds the driver memory and answers the size
    * question: a result shorter than the limit is the complete set. */
  def collectAtMost(df: DataFrame, max: Long): Option[Array[Row]] = {
    val lim = (math.min(max, (Int.MaxValue - 2).toLong) + 1L).toInt
    val rows = df.limit(lim).collect()
    if (rows.length < lim) Some(rows) else None
  }
}
