package graft.spark.pipeline

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.spark.dedup.Corpus
import graft.spark.io.DriverBudget
import graft.spark.sample.Sampling
import graft.spark.text.TextFunctions

/** End-to-end training-data curation: the library's operators composed into
  * the pipeline a user actually runs —
  *
  *   quality gate -> exact dedup -> benchmark decontamination ->
  *   per-domain cap -> per-lang token budget -> sharded output
  *
  * Two surfaces:
  *   - [[curate]]: the whole pipeline as one composed DataFrame. The
  *     narrow stage-3 survivor relation is pinned via localCheckpoint;
  *     when it holds at most [[DriverCapBudgetRows]] rows the cap and
  *     budget are decided on the driver in one pass, otherwise they run
  *     distributed over a second pin of the stage-4 survivors (round 7:
  *     the multi-consumer cap and budget stages must not re-execute the
  *     upstream pipeline). The q_pipeline driver query checks it
  *     end-to-end against a DuckDB oracle that re-derives every stage in
  *     SQL.
  *   - [[CuratePipeline]]: a spark-submit main that materializes each stage
  *     to parquet with per-stage lineage metrics and stage-level resume
  *     (a killed run re-executes only the stages whose outputs are missing).
  *
  * Scale shape: every stage is a shape already proven individually — the
  * quality gate is a codegen'd filter, exact dedup shuffles (digest) only,
  * decontamination is bloom-prune + broadcast verify, the domain cap windows
  * tiny per-domain partitions, and the token budget sorts only the boundary
  * bucket.
  */
object DataPipeline {
  private val log = org.slf4j.LoggerFactory.getLogger(getClass)

  /** Row limit of [[curate]]'s driver path for the cap and budget stages:
    * 2^16 stage-3 survivors. It bounds driver memory, not time. A survivor
    * is the narrow (doc_id, lang, source, digest, toks) row, about 300
    * bytes as a Row: 2^16 of them measured 19.7 MB on the heap, plus
    * 6.6 MB of UTF-8 sort keys. The driver path was still the faster one
    * at every size measured (4 local cores, no fuzzy stage): curate took
    * 4.8 s against 6.3 s distributed at about 67k survivors and 6.8 s
    * against 8.3 s at about 100k, so no time crossover lies below the
    * bound. Above it the only added cost is the count job, about 30 ms. */
  val DriverCapBudgetRows: Long = 1L << 16

  /** The composed pipeline. `docs` carries (doc_id, lang, source, text);
    * `benchDocs` carries (text). Returns kept docs as
    * (doc_id, lang, source, digest, toks).
    *
    * `tokenCounter` is the budgeting unit — whitespace tokens by default;
    * pass `graft.spark.fns.TextExpressions.bpeMergedCountNative(_)` to
    * budget by TRUE merged-BPE token counts (training realism), or the
    * byte-level `bpeMergedCountNative(_, BpeTokenizer.standardBytes)`, with
    * no other change to the pipeline.
    *
    * `maxLmBitsMilli`: optional CCNet-style perplexity gate — drop docs the
    * standard char LM scores above this many milli-bits/char (the codegen'd
    * [[graft.spark.fns.CharLmBitsExpr]]; fuses into the same stage-1
    * scan/filter as the heuristic quality gate). None = off (the default,
    * and the q_pipeline oracle shape).
    *
    * `classifierGate`: optional TRAINED quality floor — (model,
    * minScoreMilli): drop docs the [[graft.spark.text.QualityClassifier]]
    * scores below the integer milli threshold (the GPT-3 WebText-filter
    * stage; fuses into the same stage-1 codegen'd scan as the heuristic and
    * LM gates). None = off (the default, and the q_pipeline oracle shape).
    *
    * `nearDupThreshold`: optional FUZZY dedup stage after exact dedup (what
    * real curation pipelines run — RefinedWeb/Dolma keep one doc per
    * near-dup cluster): MinHash-LSH pairs at the given Jaccard threshold →
    * connected components → drop every doc whose cluster representative is
    * not itself (one anti-join keyed by doc_id). None = off (the default,
    * and the q_pipeline oracle shape). Connected components is an iterative
    * fixpoint (per-round checkpoints), so this stage runs its jobs at
    * curate() call time, like the stage-3 and stage-4 checkpoints. The
    * stage-1..2 frame is persisted once and read by the LSH stage, CC and
    * the stage-3 losers anti-join; it is unpersisted once the stage-3
    * survivors are checkpointed, or when any of these throws. The quality
    * gate and the digest-dedup window therefore run once per call.
    *
    * `maxDriverRows`: the cap and budget stages run on the driver
    * ([[Sampling.capThenBudgetKeep]]: a count of the pinned stage-3
    * survivors, their collect when they fit, a local result relation)
    * when the survivors number at most this many, hold no null and have
    * string lang and source columns (stage 3 casts doc_id to BIGINT);
    * otherwise they run distributed. Both paths keep the same rows with the same schema. 0
    * forces the distributed path (the specs do). */
  def curate(docs: DataFrame, benchDocs: DataFrame,
             domainCap: Int = 5, tokenBudget: Long = 2000L,
             tokenCounter: org.apache.spark.sql.Column => org.apache.spark.sql.Column =
               TextFunctions.tokenCount(_),
             maxLmBitsMilli: Option[Long] = None,
             nearDupThreshold: Option[Double] = None,
             classifierGate: Option[(graft.spark.text.QualityClassifier.Model, Long)] =
               None,
             maxDriverRows: Long = DriverCapBudgetRows): DataFrame = {
    val base = docs.select(col("doc_id"), col("lang"), col("source"), col("text"),
      md5(col("text")).as("digest"),
      tokenCounter(col("text")).cast("long").as("toks"))
    // 1. per-doc quality gate (pure codegen'd expressions), optionally
    // composed with the char-LM perplexity threshold and/or a trained
    // classifier floor ((model, minScoreMilli)) in the same filter — all
    // three gates fuse into ONE codegen'd scan
    val gateLm = maxLmBitsMilli.foldLeft(TextFunctions.isQuality(col("text"))) {
      (q, maxBits) =>
        q && (graft.spark.fns.TextExpressions.charLmBitsNative(col("text")) <= maxBits)
    }
    val gate = classifierGate.foldLeft(gateLm) { case (q, (model, minMilli)) =>
      q && (graft.spark.text.QualityClassifier
        .scoreMilli(docs.sparkSession, model)(col("text")) >= minMilli)
    }
    val quality = base.filter(gate)
    // 2. exact dedup: keep the min doc_id per content digest
    val w = Window.partitionBy(col("digest")).orderBy(col("doc_id"))
    val deduped = quality
      .withColumn("__rk", row_number().over(w)).filter(col("__rk") === 1).drop("__rk")
    // 2b. optional fuzzy dedup: keep one doc per near-dup cluster (the
    // cluster representative is the min doc_id — connectedComponents'
    // deterministic labeling); exact dedup already ran, so identical-content
    // groups never reach the LSH stage (the documented ordering). The
    // upstream frame is pinned: the LSH stage scans it for banding and joins
    // it twice for the exact-Jaccard verify, CC's iterative rounds run
    // EAGERLY here, and the stage-3 checkpoint below reads it once more for
    // the losers anti-join — without the pin each of these reads would
    // re-execute the quality gate and the digest-dedup window. It stays
    // pinned until stage 3 is checkpointed and is released on every path.
    val pinned = if (nearDupThreshold.isDefined) deduped.persist() else deduped
    val clean = try {
      val fuzzy = nearDupThreshold.fold(pinned) { th =>
        val losers = graft.spark.dedup.Dedup.connectedComponents(
            graft.spark.dedup.Dedup.minhashLshPairs(pinned, "doc_id", "text", threshold = th))
          .filter(col("doc_id") =!= col("rep"))
          .select(col("doc_id")) // CC's labels are already checkpointed
                                 // (or driver-local): no pin of their own
        pinned.join(losers, Seq("doc_id"), "left_anti")
      }
      // 3. benchmark decontamination (drop any doc sharing an 8-token
      // shingle — long n-grams so incidental vocabulary overlap does not
      // count as contamination, GPT-3 App. C style). The NARROW survivor
      // relation (doc_id, lang, source, digest, toks — text is projected
      // away here) is pinned once (round 7): the driver path's count and
      // collect and the distributed domain cap (totals aggregate + join
      // probe — see Sampling.runningSum) each read it, and un-pinned
      // each read re-executed the whole stage-1..3 pipeline.
      Corpus.decontaminate(fuzzy, benchDocs, "doc_id", "text", n = 8,
          passthrough = Seq("lang", "source", "digest", "toks"))
        .filter(!col("contaminated")).drop("contaminated")
        .localCheckpoint(true)
    } finally if (nearDupThreshold.isDefined) pinned.unpersist(blocking = false)
    // 4 + 5 on the driver: count the pinned survivors, collect them when
    // they fit, both rules in one pass, a local relation with clean's schema
    val driverKept = if (maxDriverRows <= 0) None else
      DriverBudget.collectPinnedAtMost(clean, maxDriverRows, "DataPipeline.curate cap+budget")
        .flatMap { rows =>
          val kept = Sampling.capThenBudgetKeep(rows, domainCap, tokenBudget)
          if (kept.isEmpty) log.info("DataPipeline.curate cap+budget: a stage-3 survivor " +
            "holds a null or a non-string lang or source, path distributed")
          kept
        }
    driverKept.fold(distributedCapBudget(clean, domainCap, tokenBudget)) { kept =>
      clean.sparkSession.createDataFrame(java.util.Arrays.asList(kept: _*), clean.schema)
    }
  }

  /** Stages 4 and 5 of [[curate]] as distributed operators over the pinned
    * stage-3 survivors `clean`. */
  private def distributedCapBudget(clean: DataFrame, domainCap: Int,
                                   tokenBudget: Long): DataFrame = {
    // 4. per-domain cap, priority = content digest
    val capped = Sampling.groupCapFlags(clean, Seq("lang", "source"),
        col("digest"), col("doc_id"), domainCap)
      .filter(col("kept")).drop("kept")
      // round 7: pin the NARROW stage-4 survivor relation (doc_id, lang,
      // source, digest, toks — text never reaches this point) ONCE. The
      // token-budget stage reads its input twice (under its bucket-totals
      // aggregate and under the join probe); un-pinned, each read
      // re-executes the stage-4 cap over the stage-3 checkpoint. Dropping
      // the pin once the budget became one running-sum plan gained nothing
      // (forced-distributed curate at sf0.1, local[4], 6 alternating
      // fresh-JVM pairs: 3 won each way, medians 1.79 vs 1.85 s, inside the
      // run-to-run spread), so it stays. The checkpoint makes curate()
      // eager (the optional fuzzy stage already was); on a cluster prefer
      // the staged CuratePipeline main, which materializes every stage to
      // parquet anyway.
      .localCheckpoint(true)
    // 5. per-lang token budget (bucketed running sum)
    Sampling.tokenBudgetKeepFlags(capped, "lang", "toks", "digest", "doc_id", tokenBudget)
      .filter(col("kept")).drop("kept")
      .select(col("doc_id"), col("lang"), col("source"), col("digest"), col("toks"))
  }

  /** Deterministic shard assignment for training output: shard =
    * pmod(xxhash64(digest), nShards) — content-addressed, so reruns and
    * resumes land every doc in the same shard. */
  def withShard(kept: DataFrame, nShards: Int): DataFrame =
    kept.withColumn("shard", pmod(xxhash64(col("digest")), lit(nShards.toLong)))
}

/** spark-submit entry point with stage-level checkpoint/resume + metrics.
  *
  * Usage: CuratePipeline <documentsParquet> <workDir> [nShards]
  *
  * Each stage writes its surviving rows to <workDir>/<stage>/ and appends a
  * lineage row (job stage, rows_in, rows_out, wall ms, finished ts) to
  * <workDir>/metrics/. A rerun skips every stage whose output already has a
  * _SUCCESS marker — kill it anywhere and rerun to resume.
  *
  * Scope: the staged main runs [[DataPipeline.curate]]'s DEFAULT stage set
  * (the q_pipeline oracle shape). The optional curate() stages — perplexity
  * gate (`maxLmBitsMilli`) and fuzzy dedup (`nearDupThreshold`) — are
  * composed-pipeline options; wire them here only together with their own
  * checkpoint dirs if a deployment needs them staged.
  */
object CuratePipeline {
  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: CuratePipeline <documentsParquet> <workDir> [nShards]")
    val docsPath = args(0)
    val workDir = args(1)
    val nShards = if (args.length > 2) args(2).toInt else 16
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(sys.env.getOrElse("SPARK_MASTER", s"local[$cpus]"))
      .appName("graft-curate")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.legacy.bucketedTableScan.outputOrdering", "true") // one-file-per-bucket index scans report their written sort (BandIndex)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    run(spark, docsPath, workDir, nShards)
    spark.stop()
  }

  private def done(spark: SparkSession, dir: String): Boolean = {
    val p = new org.apache.hadoop.fs.Path(dir, "_SUCCESS")
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(p)
  }

  private def metric(spark: SparkSession, workDir: String, stage: String,
                     rowsIn: Long, rowsOut: Long, wallMs: Long): Unit = {
    import spark.implicits._
    Seq((stage, rowsIn, rowsOut, wallMs, System.currentTimeMillis()))
      .toDF("stage", "rows_in", "rows_out", "wall_ms", "finished_ts")
      .write.mode(SaveMode.Append).parquet(s"$workDir/metrics")
  }

  /** Returns the per-stage (rowsIn, rowsOut) it executed (skipped stages
    * excluded) — for tests; the durable record is <workDir>/metrics. */
  def run(spark: SparkSession, docsPath: String, workDir: String,
          nShards: Int): Seq[(String, Long, Long)] = {
    val executed = scala.collection.mutable.ArrayBuffer[(String, Long, Long)]()
    val docs = spark.read.parquet(docsPath)
      .select(col("doc_id"), col("lang"), col("source"), col("text"))
    val bench = docs.filter(col("doc_id") % 17 === 0).select(col("text"))

    /** Materialize one stage with resume + metrics. */
    def stage(name: String, in: => DataFrame)(f: DataFrame => DataFrame): DataFrame = {
      val out = s"$workDir/$name"
      if (done(spark, out)) {
        println(s"[curate] $name: resume (already materialized)")
      } else {
        val t0 = System.currentTimeMillis()
        val inDf = in
        val rowsIn = inDf.count()
        f(inDf).write.mode(SaveMode.Overwrite).parquet(out)
        val result = spark.read.parquet(out)
        val rowsOut = result.count()
        metric(spark, workDir, name, rowsIn, rowsOut, System.currentTimeMillis() - t0)
        executed += ((name, rowsIn, rowsOut))
        println(s"[curate] $name: $rowsIn -> $rowsOut")
      }
      spark.read.parquet(out)
    }

    val base = stage("s1_base", docs) { d =>
      d.select(col("doc_id"), col("lang"), col("source"), col("text"),
        md5(col("text")).as("digest"),
        TextFunctions.tokenCount(col("text")).cast("long").as("toks"))
    }
    val quality = stage("s2_quality", base)(
      _.filter(TextFunctions.isQuality(col("text"))))
    val deduped = stage("s3_dedup", quality) { d =>
      val w = Window.partitionBy(col("digest")).orderBy(col("doc_id"))
      d.withColumn("__rk", row_number().over(w)).filter(col("__rk") === 1).drop("__rk")
    }
    val clean = stage("s4_decontaminate", deduped) { d =>
      Corpus.decontaminate(d, bench, "doc_id", "text", n = 8,
          passthrough = Seq("lang", "source", "digest", "toks"))
        .filter(!col("contaminated")).drop("contaminated")
    }
    val capped = stage("s5_domain_cap", clean) { d =>
      Sampling.groupCapFlags(d, Seq("lang", "source"), col("digest"), col("doc_id"), 5)
        .filter(col("kept")).drop("kept")
    }
    val budgeted = stage("s6_token_budget", capped) { d =>
      Sampling.tokenBudgetKeepFlags(d, "lang", "toks", "digest", "doc_id", 2000L)
        .filter(col("kept")).drop("kept")
    }
    stage("s7_shards", budgeted) { d =>
      DataPipeline.withShard(
        d.select(col("doc_id"), col("lang"), col("source"), col("digest"), col("toks")),
        nShards)
    }
    executed.toSeq
  }
}
