package graft

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.logging.log4j.LogManager
import org.apache.logging.log4j.core.{LogEvent, Logger => CoreLogger}
import org.apache.logging.log4j.core.appender.AbstractAppender
import org.apache.logging.log4j.core.config.Property
import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent, SparkListenerJobStart,
  SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.scalatest.funsuite.AnyFunSuite

import graft.spark.dedup.Dedup
import graft.spark.io.DriverBudget

/** Bounded driver collects: the probe's jobs carry the asking operator's
  * call site, an earlier call site survives the probe, and every decision
  * logs one line naming the label, the limit, the rows seen and the path. */
class DriverBudgetSpec extends AnyFunSuite {
  private lazy val spark = SparkSession.builder()
    .master("local[4]").appName("driverbudget")
    .config("spark.sql.shuffle.partitions", 4)
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  /** The descriptions of the SQL executions `body` starts. */
  private def sqlDescriptions(body: => Unit): Seq[String] = {
    val sc = spark.sparkContext
    val descs = new ConcurrentLinkedQueue[String]()
    val listener = new SparkListener {
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case s: SparkListenerSQLExecutionStart => descs.add(s.description)
        case _ =>
      }
    }
    sc.addSparkListener(listener)
    try {
      body
      org.apache.spark.GraftTestBridge.drainListenerBus(sc)
    } finally sc.removeSparkListener(listener)
    descs.asScala.toSeq
  }

  /** The call sites (last stage names) of the jobs `body` runs, and the
    * bytes their tasks send back to the driver. */
  private def jobsAndResultBytes(body: => Unit): (Seq[String], Long) = {
    val sc = spark.sparkContext
    val sites = new ConcurrentLinkedQueue[String]()
    val bytes = new java.util.concurrent.atomic.AtomicLong()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        sites.add(e.stageInfos.maxBy(_.stageId).name)
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
        Option(e.taskMetrics).foreach(m => bytes.addAndGet(m.resultSize))
    }
    sc.addSparkListener(listener)
    try {
      body
      org.apache.spark.GraftTestBridge.drainListenerBus(sc)
    } finally sc.removeSparkListener(listener)
    (sites.asScala.toSeq, bytes.get)
  }

  /** The messages DriverBudget logs while `body` runs. */
  private def logged(body: => Unit): Seq[String] = {
    val logger = LogManager.getLogger(DriverBudget.getClass.getName).asInstanceOf[CoreLogger]
    val lines = new ConcurrentLinkedQueue[String]()
    val appender = new AbstractAppender("driverbudget-spec", null, null, true,
        Property.EMPTY_ARRAY) {
      override def append(e: LogEvent): Unit = lines.add(e.getMessage.getFormattedMessage)
    }
    appender.start()
    logger.addAppender(appender)
    try body finally {
      logger.removeAppender(appender)
      appender.stop()
    }
    lines.asScala.toSeq
  }

  test("CC's probe runs under Dedup's call site, and an earlier call site is restored") {
    import spark.implicits._
    val sc = spark.sparkContext
    val pairs = Seq((1L, 2L), (2L, 3L), (7L, 8L)).toDF("id_a", "id_b")
    val descs = sqlDescriptions(Dedup.connectedComponents(pairs).collect())
    assert(descs.exists(_.matches("collect at Dedup\\.scala:\\d+")), descs)
    assert(!descs.exists(_.contains("DriverBudget.scala")), descs)
    assert(sc.getLocalProperty("callSite.short") == null, "no call site was set before")
    sc.setCallSite("outer site")
    try {
      val outer = sqlDescriptions(Dedup.connectedComponents(pairs).collect())
      assert(outer.exists(_.contains("Dedup.scala")), outer)
      assert(outer.contains("outer site"), s"the caller's own collect keeps its site: $outer")
      assert(sc.getLocalProperty("callSite.short") == "outer site")
    } finally sc.clearCallSite()
  }

  test("one log line per decision: label, limit, rows seen, path") {
    val df = spark.range(0, 10).toDF("id")
    val lines = logged {
      assert(DriverBudget.collectAtMost(df, 10L, "spec fits").map(_.length).contains(10))
      assert(DriverBudget.collectAtMost(df, 9L, "spec over").isEmpty)
    }
    assert(lines == Seq(
      "spec fits: limit 10, rows seen 10, path driver",
      "spec over: limit 9, rows seen 10, path distributed"), lines)
  }

  test("collectPinnedAtMost counts first and ships no row past the bound") {
    import spark.implicits._
    val text = "x" * 2000
    val df = (0 until 400).map(i => (i.toLong, text)).toDF("id", "t")
      .repartition(4).localCheckpoint(true)
    var got: Option[Array[org.apache.spark.sql.Row]] = None
    val lines = logged {
      val (overSites, overBytes) = jobsAndResultBytes {
        got = DriverBudget.collectPinnedAtMost(df, 399L, "spec pinned over")
      }
      assert(got.isEmpty)
      assert(overSites.size == 1 && overSites.head.matches("count at DriverBudgetSpec\\.scala:\\d+"),
        overSites)
      // four tasks each send back a count, not 100 rows of 2 KB
      assert(overBytes < 100000L, overBytes)
      val (fitSites, _) = jobsAndResultBytes {
        got = DriverBudget.collectPinnedAtMost(df, 400L, "spec pinned fits")
      }
      assert(got.map(_.map(_.getLong(0)).sorted.toSeq).contains((0L until 400L).toSeq))
      assert(fitSites.size == 2 && fitSites.forall(_.contains("DriverBudgetSpec.scala")), fitSites)
    }
    assert(lines == Seq(
      "spec pinned over: limit 399, rows seen 400, path distributed",
      "spec pinned fits: limit 400, rows seen 400, path driver"), lines)
  }
}
