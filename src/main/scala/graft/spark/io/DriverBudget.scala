package graft.spark.io

import org.apache.spark.SparkContext
import org.apache.spark.sql.{DataFrame, Row}

/** Bounded driver collects for the operators' size-adaptive fast paths.
  *
  * Every probe logs one line per decision — the asking operator's label,
  * the limit, the rows seen and the path taken — and its Spark jobs carry
  * the call site of the operator that asked ("collect at Dedup.scala:<line>"),
  * so job listeners and the SQL tab attribute them to that operator rather
  * than to this file. */
object DriverBudget {
  private val log = org.slf4j.LoggerFactory.getLogger(getClass)

  /** All of `df`'s rows when it has at most `max` of them, else None (the
    * caller then takes its distributed path). One `limit(max + 1)` probe
    * bounds the driver memory and answers the size question: a result
    * shorter than the limit is the complete set. */
  def collectAtMost(df: DataFrame, max: Long, label: String): Option[Array[Row]] = {
    val lim = (math.min(max, (Int.MaxValue - 2).toLong) + 1L).toInt
    val rows = withCallerSite(df.sparkSession.sparkContext, "collect")(df.limit(lim).collect())
    val fits = rows.length < lim
    decide(label, max, rows.length.toLong, fits)
    if (fits) Some(rows) else None
  }

  /** [[collectAtMost]] for a pinned (checkpointed or cached) `df`, which it
    * reads twice: one job counts the rows and ships only per-partition
    * counts, and a second collects them when they number at most `max`.
    * Past the bound no row reaches the driver, where `collectAtMost`'s
    * `limit(max + 1)` probe ships max + 1 rows only to drop them. */
  def collectPinnedAtMost(df: DataFrame, max: Long, label: String): Option[Array[Row]] = {
    val sc = df.sparkSession.sparkContext
    val n = withCallerSite(sc, "count")(df.queryExecution.toRdd.count())
    decide(label, max, n, n <= max)
    if (n <= max) Some(withCallerSite(sc, "collect")(df.collect())) else None
  }

  private def decide(label: String, max: Long, seen: Long, fits: Boolean): Unit =
    log.info(s"$label: limit $max, rows seen $seen, path " + (if (fits) "driver" else "distributed"))

  // SparkContext's call-site local properties (org.apache.spark.util.CallSite)
  private val ShortForm = "callSite.short"
  private val LongForm = "callSite.long"

  /** Runs `body` with the call site set to `action` at the first stack
    * frame outside this object, then restores whatever call site was set
    * before. */
  private def withCallerSite[T](sc: SparkContext, action: String)(body: => T): T = {
    val frames = Thread.currentThread.getStackTrace.toSeq
      .dropWhile(f => f.getClassName.startsWith("java.") ||
        f.getClassName.startsWith(DriverBudget.getClass.getName.stripSuffix("$")))
    val prev = (sc.getLocalProperty(ShortForm), sc.getLocalProperty(LongForm))
    frames.headOption.foreach { f =>
      sc.setLocalProperty(ShortForm, s"$action at ${f.getFileName}:${f.getLineNumber}")
      sc.setLocalProperty(LongForm, frames.take(20).mkString("\n"))
    }
    try body
    finally {
      sc.setLocalProperty(ShortForm, prev._1)
      sc.setLocalProperty(LongForm, prev._2)
    }
  }
}
