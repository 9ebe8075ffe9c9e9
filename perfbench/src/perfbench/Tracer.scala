package perfbench

import scala.collection.mutable

import org.apache.spark.PerfbenchBridge
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanHelper, QueryStageExec}
import org.apache.spark.sql.execution.exchange.{Exchange, ReusedExchangeExec}
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.execution.window.WindowExec
import org.apache.spark.sql.util.QueryExecutionListener

/** In-memory spans (name, start, end, parent) and per-iteration counts,
  * recorded from outside graft: around the benchmark's own calls, from a
  * `SparkListener` (jobs, stages, task metrics) and from a
  * `QueryExecutionListener` (the executed adaptive plans). Nothing is
  * written until [[json]] is called at the end of the run.
  */
final class Tracer {
  import Tracer._

  private val spans = mutable.ArrayBuffer[Span]()
  @volatile private var open: List[Int] = Nil
  private var counts = mutable.LinkedHashMap[String, Double]()
  private val jobStarts = mutable.HashMap[Int, (Long, String, Int)]()
  private val executionSites = mutable.HashMap[Long, String]()

  /** Spans are recorded with wall-clock milliseconds so that the job spans
    * Spark reports line up with the benchmark's own. */
  val span: SpanFn = new SpanFn {
    def apply[T](name: String)(body: => T): T = {
      val id = Tracer.this.synchronized {
        spans += Span(spans.length, name, System.currentTimeMillis(), -1L, open.headOption.getOrElse(-1))
        spans.length - 1
      }
      open = id :: open
      try body
      finally {
        open = open.tail
        Tracer.this.synchronized(spans(id) = spans(id).copy(endMs = System.currentTimeMillis()))
      }
    }
  }

  private def add(k: String, v: Double): Unit = counts(k) = counts.getOrElse(k, 0.0) + v

  private val sparkListener = new SparkListener {
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case s: SparkListenerSQLExecutionStart =>
        Tracer.this.synchronized(executionSites(s.executionId) = s.description)
      case _ =>
    }
    /** A SQL job's call site is that of the action that started its SQL
      * execution: adaptive execution submits stage jobs from a pool thread,
      * whose own call site names no graft file. */
    override def onJobStart(e: SparkListenerJobStart): Unit = Tracer.this.synchronized {
      val own = if (e.stageInfos.isEmpty) "" else e.stageInfos.maxBy(_.stageId).name
      val site = Option(e.properties).flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
        .flatMap(id => executionSites.get(id.toLong)).getOrElse(own)
      jobStarts(e.jobId) = (e.time, site, open.headOption.getOrElse(-1))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = Tracer.this.synchronized {
      jobStarts.remove(e.jobId).foreach { case (start, site, parent) =>
        spans += Span(spans.length, s"job: $site", start, e.time, parent)
        add("spark.jobs", 1)
        callsiteFile(site).filter(callsiteFiles.contains).foreach { f =>
          add(s"callsite.$f.jobs", 1)
          add(s"callsite.$f.s", (e.time - start) / 1e3)
        }
      }
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = Tracer.this.synchronized {
      add("spark.stages", 1)
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Tracer.this.synchronized {
      add("spark.tasks", 1)
      val m = e.taskMetrics
      if (m != null) {
        add("spark.task_run_s", m.executorRunTime / 1e3)
        add("spark.task_cpu_s", m.executorCpuTime / 1e9)
        add("spark.gc_s", m.jvmGCTime / 1e3)
        add("spark.shuffle_write_bytes", m.shuffleWriteMetrics.bytesWritten.toDouble)
        add("spark.shuffle_read_bytes", m.shuffleReadMetrics.totalBytesRead.toDouble)
        add("spark.spill_bytes", (m.memoryBytesSpilled + m.diskBytesSpilled).toDouble)
        add("spark.input_bytes", m.inputMetrics.bytesRead.toDouble)
        add("spark.result_bytes", m.resultSize.toDouble)
        counts("spark.peak_exec_mem_bytes") =
          math.max(counts.getOrElse("spark.peak_exec_mem_bytes", 0.0), m.peakExecutionMemory.toDouble)
      }
    }
  }

  private val planListener = new QueryExecutionListener with AdaptiveSparkPlanHelper {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
      val kinds = collectWithSubqueries(qe.executedPlan) {
        case p: SparkPlan if isScan(p) => "plan.scans"
        case _: Exchange => "plan.exchanges"
        case _: WindowExec => "plan.windows"
      }
      Tracer.this.synchronized(kinds.foreach(add(_, 1)))
    }
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
  }

  private def isScan(p: SparkPlan): Boolean =
    p.children.isEmpty && !p.isInstanceOf[QueryStageExec] && !p.isInstanceOf[ReusedExchangeExec] &&
      !p.nodeName.startsWith("ReusedSubquery")

  def attach(spark: SparkSession): Unit = {
    spark.sparkContext.addSparkListener(sparkListener)
    spark.listenerManager.register(planListener)
  }

  def detach(spark: SparkSession): Unit = {
    PerfbenchBridge.drainListenerBus(spark.sparkContext)
    spark.sparkContext.removeSparkListener(sparkListener)
    spark.listenerManager.unregister(planListener)
  }

  /** Counts since the last call, once every event of the finished work has
    * been delivered. Every counter is present, zero where nothing happened. */
  def takeCounts(spark: SparkSession): Map[String, Double] = {
    PerfbenchBridge.drainListenerBus(spark.sparkContext)
    synchronized {
      val out = counterNames.map(k => k -> counts.getOrElse(k, 0.0)).toMap
      counts = mutable.LinkedHashMap()
      out
    }
  }

  def json: String = synchronized {
    spans.map(s => s"""{"id":${s.id},"name":${Json.str(s.name)},"start_ms":${s.startMs},""" +
      s""""end_ms":${s.endMs},"parent":${s.parent}}""").mkString("[", ",\n", "]")
  }
}

object Tracer {
  final case class Span(id: Int, name: String, startMs: Long, endMs: Long, parent: Int)

  /** Runs `body` inside a named span. */
  trait SpanFn { def apply[T](name: String)(body: => T): T }

  /** A span function that records nothing, for untraced runs. */
  val noSpans: SpanFn = new SpanFn { def apply[T](name: String)(body: => T): T = body }

  /** graft source files whose jobs `callsite.*` reports. */
  val callsiteFiles: Seq[String] = Seq("Dedup", "Corpus", "Sampling", "DataPipeline")

  val counterNames: Seq[String] = Seq(
    "spark.jobs", "spark.stages", "spark.tasks", "spark.task_run_s", "spark.task_cpu_s",
    "spark.gc_s", "spark.shuffle_write_bytes", "spark.shuffle_read_bytes", "spark.spill_bytes",
    "spark.input_bytes", "spark.result_bytes", "spark.peak_exec_mem_bytes",
    "plan.scans", "plan.exchanges", "plan.windows") ++
    callsiteFiles.flatMap(f => Seq(s"callsite.$f.jobs", s"callsite.$f.s"))

  private val SiteFile = """.* at (\w+)\.scala:\d+.*""".r

  /** The source file Spark names in a job's short call site
    * ("collect at Dedup.scala:304" gives "Dedup"). */
  def callsiteFile(site: String): Option[String] = site match {
    case SiteFile(f) => Some(f)
    case _ => None
  }
}
