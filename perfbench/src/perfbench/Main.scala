package perfbench

import java.io.{File, PrintWriter}

import scala.collection.mutable.ArrayBuffer
import scala.util.Try
import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession

/** The graft benchmark: one workload, one seed, one closed loop that
  * runs one Spark action (one `curate` call for curate) at a time.
  *
  *   perfbench.Main --workload <name> --seed <n> --seconds <s> --trace <0|1> --work <dir>
  *
  * Untraced (`--trace 0`) it reports the end-to-end metrics; traced
  * (`--trace 1`) the per-layer ones. The last stdout line is the result JSON.
  * Working files (Spark local dirs, the trace) go under `--work`.
  */
object Main {
  private final case class Args(workload: Workload, seed: Long, seconds: Double, trace: Boolean,
                                work: String)

  private def parse(argv: Array[String]): Args = {
    val kv = argv.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = kv.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    val w = Workloads.byName(need("workload")).getOrElse(throw new IllegalArgumentException(
      s"unknown workload ${need("workload")}; known: ${Workloads.all.map(_.name).mkString(", ")}"))
    Args(w, need("seed").toLong, need("seconds").toDouble, need("trace") == "1", need("work"))
  }

  /** A local session with `threads` task slots. Shuffles always use
    * `partitions` partitions, so the local[1] pass runs the same plan and
    * the same tasks as the local[nproc] one. */
  def session(threads: Int, partitions: Int, work: String): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$threads]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", partitions.toString)
      .config("spark.default.parallelism", partitions.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  private def stop(spark: SparkSession): Unit = {
    spark.stop()
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
  }

  private def secondsOf[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e9)
  }

  def median(xs: Seq[Double]): Double = {
    if (xs.isEmpty) throw new IllegalStateException("no iteration completed")
    val s = xs.sorted
    if (s.length % 2 == 1) s(s.length / 2) else (s(s.length / 2 - 1) + s(s.length / 2)) / 2
  }

  /** Iteration outcomes of one closed loop. */
  private final class Loop(prepared: Prepared) {
    val seconds = ArrayBuffer[Double]()
    var attempted = 0
    var failed = 0
    var stateBytes = 0L
    /** Realized estimate errors of each iteration that returned output. */
    val errors = ArrayBuffer[Map[String, Double]]()

    /** One iteration: its wall seconds, or None when it threw. An output
      * that fails a check counts as failed but keeps its time. */
    def once(): Option[Double] = {
      attempted += 1
      try {
        val (out, s) = secondsOf(prepared.run())
        val bad = out.failures
        stateBytes = out.stateBytes
        if (bad.nonEmpty) {
          failed += 1
          bad.foreach(b => System.err.println(s"perfbench: check failed: $b"))
        }
        Try(out.errors).foreach(errors += _)
        Some(s)
      } catch {
        case NonFatal(e) =>
          failed += 1
          System.err.println(s"perfbench: iteration threw: $e")
          None
      }
    }

    /** Iterates until the deadline has passed and at least `minIterations` ran. */
    def until(deadlineNs: Long, minIterations: Int): Unit = {
      var n = 0
      while (n < minIterations || System.nanoTime() < deadlineNs) { once().foreach(seconds += _); n += 1 }
    }
  }

  private def deadline(seconds: Double): Long = System.nanoTime() + (seconds * 1e9).toLong

  /** Warm-up: a quarter of the timed length and at least three iterations,
    * so that a workload of few slow iterations (curate) also leaves its
    * first, cold-JIT iterations out of the timing: curate's iteration time
    * still falls by about a fifth from its third iteration to its sixth. */
  private def warmUp(loop: Loop, seconds: Double): Unit = {
    loop.until(deadline(seconds / 4), 3)
    loop.seconds.clear()
  }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    val nproc = Runtime.getRuntime.availableProcessors()
    new File(a.work).mkdirs()
    val result = if (a.trace) traced(a, nproc) else untraced(a, nproc)
    println(result)
  }

  /** End-to-end run: session start, then set-up three times (the median
    * counts), then warm-up, then timed iterations. */
  private def untraced(a: Args, nproc: Int): String = {
    val (spark, sessionS) = secondsOf(session(nproc, nproc, a.work))
    val setups = (1 to 3).map { i =>
      val (p, s) = secondsOf(a.workload.setup(spark, a.seed, nproc, Tracer.noSpans))
      if (i < 3) p.close()
      (p, s)
    }
    val prepared = setups.last._1
    val loop = new Loop(prepared)
    warmUp(loop, a.seconds)
    loop.until(deadline(a.seconds), 4)
    prepared.close()
    stop(spark)
    val metrics = Seq(
      ("rows_per_s", prepared.rows / median(loop.seconds.toSeq), "1/s"),
      ("setup_s", sessionS + median(setups.map(_._2)), "s"),
      ("state_bytes", loop.stateBytes.toDouble, "bytes"),
      ("ok_runs_frac", (loop.attempted - loop.failed).toDouble / loop.attempted, "frac"))
    System.err.println(s"perfbench: ${a.workload.name} seed ${a.seed}: iterations " +
      s"${loop.seconds.map(x => f"$x%.3f").mkString(" ")} s; set-ups ${setups.map(_._2).mkString(" ")} s")
    Json.result(loop.failed == 0, loop.attempted, loop.failed, metrics)
  }

  /** Per-layer run: untraced and traced iterations alternate for `seconds`,
    * then the kernel timings, then the same iterations at local[1] for
    * spark.parallel_eff. Spans and per-iteration counts are written to
    * `<work>/trace-<workload>-<seed>.json` when the run ends. */
  private def traced(a: Args, nproc: Int): String = {
    val tracer = new Tracer
    val span = tracer.span
    val spark = span("session_start")(session(nproc, nproc, a.work))
    val prepared = span("setup")(a.workload.setup(spark, a.seed, nproc, span))
    val loop = new Loop(prepared)
    span("warmup")(warmUp(loop, a.seconds))
    val plain = ArrayBuffer[Double]()
    val withTrace = ArrayBuffer[Double]()
    val counts = ArrayBuffer[Map[String, Double]]()
    span("iterations") {
      val end = deadline(a.seconds)
      var i = 0
      while (i < 6 || System.nanoTime() < end) {
        if (i % 2 == 0) loop.once().foreach(plain += _)
        else {
          tracer.attach(spark)
          tracer.takeCounts(spark) // drop events of the untraced iteration before
          span("traced_iteration")(loop.once()).foreach { s =>
            withTrace += s
            counts += tracer.takeCounts(spark) + ("wall_s" -> s)
          }
          tracer.detach(spark)
        }
        i += 1
      }
    }
    val kernels = span("kernels")(Kernels.measure(prepared.keySample, prepared.valueSample, span))
    prepared.close()
    stop(spark)
    val single = span("local1") {
      val s1 = session(1, nproc, a.work)
      val p1 = a.workload.setup(s1, a.seed, nproc, span)
      val l1 = new Loop(p1)
      l1.until(deadline(a.seconds / 4), 1)
      p1.close()
      stop(s1)
      loop.attempted += l1.attempted; loop.failed += l1.failed
      l1.seconds.toSeq
    }
    val rate = prepared.rows / median(plain.toSeq)
    val layer: Seq[(String, Double, String)] =
      Tracer.counterNames.map { k =>
        val unit = if (k.endsWith("_s") || k.endsWith(".s")) "s" else if (k.endsWith("_bytes")) "bytes" else "count"
        (k, median(counts.map(_(k)).toSeq), unit)
      } ++ Seq(
        ("spark.slot_idle_frac",
          median(counts.map(c => 1.0 - c("spark.task_run_s") / (c("wall_s") * nproc)).toSeq), "frac"),
        ("spark.parallel_eff", rate / (nproc * (prepared.rows / median(single))), "frac"),
        ("trace.overhead_frac", 1.0 - median(plain.toSeq) / median(withTrace.toSeq), "frac")) ++
      Workloads.errorNames.map(k => (k, median(loop.errors.map(_.getOrElse(k, 0.0)).toSeq), "frac")) ++
      kernels.toSeq.sortBy(_._1).map { case (k, v) => (k, v, "ns") }
    val out = new PrintWriter(new File(a.work, s"trace-${a.workload.name}-${a.seed}.json"), "UTF-8")
    try out.print(Json.trace(a.workload.name, a.seed, tracer.json, counts.toSeq, layer))
    finally out.close()
    Json.result(loop.failed == 0, loop.attempted, loop.failed, layer)
  }
}

object Json {
  def str(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""

  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) throw new IllegalStateException(s"non-finite metric $d")
    else d.toString

  def metrics(ms: Seq[(String, Double, String)]): String =
    ms.map { case (n, v, u) => s"""${str(n)}: {"value": ${num(v)}, "unit": ${str(u)}}""" }
      .mkString("{", ", ", "}")

  def result(correct: Boolean, attempted: Int, failed: Int, ms: Seq[(String, Double, String)]): String =
    s"""{"correct": $correct, "attempted": $attempted, "failed": $failed, "metrics": ${metrics(ms)}}"""

  def trace(workload: String, seed: Long, spans: String, counts: Seq[Map[String, Double]],
            ms: Seq[(String, Double, String)]): String = {
    val iters = counts.map(c => c.toSeq.sortBy(_._1).map { case (k, v) => s"${str(k)}: ${num(v)}" }
      .mkString("{", ", ", "}")).mkString("[", ",\n", "]")
    s"""{"workload": ${str(workload)}, "seed": $seed, "metrics": ${metrics(ms)},
       |"traced_iterations": $iters,
       |"spans": $spans}
       |""".stripMargin
  }
}
