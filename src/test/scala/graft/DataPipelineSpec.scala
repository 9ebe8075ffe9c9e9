package graft

import java.nio.file.Files

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.spark.pipeline.{CuratePipeline, DataPipeline}

/** End-to-end curation: the materialized stage-by-stage main must produce
  * exactly the composed declarative pipeline, and a killed run resumes
  * without recomputing finished stages or changing the result. */
class DataPipelineSpec extends AnyFunSuite {
  private lazy val spark = SparkSession.builder()
    .master("local[4]").appName("datapipeline")
    .config("spark.sql.shuffle.partitions", 4)
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private val sfDir = "/root/testdata/sf0.001"

  private def finalRows(dir: String): Set[(Long, String, Long)] =
    spark.read.parquet(s"$dir/s7_shards")
      .select(col("doc_id"), col("lang"), col("shard"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet

  test("staged main == composed curate(), and resume recomputes nothing") {
    val work = Files.createTempDirectory("graft_curate").toString
    val executed1 = CuratePipeline.run(spark, s"$sfDir/documents.parquet", work, nShards = 8)
    assert(executed1.map(_._1) == Seq("s1_base", "s2_quality", "s3_dedup",
      "s4_decontaminate", "s5_domain_cap", "s6_token_budget", "s7_shards"))
    // monotone non-increasing survivors across filter stages
    val byName = executed1.map { case (n, _, out) => n -> out }.toMap // rows_out per stage
    assert(byName("s2_quality") <= byName("s1_base"))
    assert(byName("s3_dedup") <= byName("s2_quality"))
    assert(byName("s4_decontaminate") <= byName("s3_dedup"))
    assert(byName("s5_domain_cap") <= byName("s4_decontaminate"))
    assert(byName("s6_token_budget") <= byName("s5_domain_cap"))

    // the staged result equals the one-shot declarative composition
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
      .select(col("doc_id"), col("lang"), col("source"), col("text"))
    val bench = docs.filter(col("doc_id") % 17 === 0).select(col("text"))
    val composed = DataPipeline.withShard(DataPipeline.curate(docs, bench), 8)
      .select(col("doc_id"), col("lang"), col("shard"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
    val staged = finalRows(work)
    assert(staged == composed)
    assert(staged.nonEmpty)

    // simulate a mid-run kill: drop the outputs of the last two stages
    import scala.reflect.io.Directory
    new Directory(new java.io.File(s"$work/s6_token_budget")).deleteRecursively()
    new Directory(new java.io.File(s"$work/s7_shards")).deleteRecursively()
    val executed2 = CuratePipeline.run(spark, s"$sfDir/documents.parquet", work, nShards = 8)
    assert(executed2.map(_._1) == Seq("s6_token_budget", "s7_shards"))
    assert(finalRows(work) == staged)

    // a fully-complete workdir reruns nothing
    val executed3 = CuratePipeline.run(spark, s"$sfDir/documents.parquet", work, nShards = 8)
    assert(executed3.isEmpty)

    // metrics table carries one lineage row per executed stage
    val metrics = spark.read.parquet(s"$work/metrics")
    assert(metrics.count() == 9) // 7 first run + 2 resumed
    assert(metrics.filter(col("rows_out") > col("rows_in")).count() == 0)
    new Directory(new java.io.File(work)).deleteRecursively()
  }

  private def sfDocs = spark.read.parquet(s"$sfDir/documents.parquet")
    .select(col("doc_id"), col("lang"), col("source"), col("text"))

  private def rowSet(df: org.apache.spark.sql.DataFrame): Set[org.apache.spark.sql.Row] =
    df.collect().toSet

  private def takesDriverPath(df: org.apache.spark.sql.DataFrame): Boolean =
    df.queryExecution.analyzed
      .isInstanceOf[org.apache.spark.sql.catalyst.plans.logical.LocalRelation]

  test("curate: the driver cap/budget path == the forced distributed path, schema included") {
    val docs = sfDocs
    val bench = docs.filter(col("doc_id") % 17 === 0).select(col("text"))
    for ((cap, budget) <- Seq((5, 2000L), (1, 300L), (0, 2000L), (50, 0L), (3, 1L << 40))) {
      val driver = DataPipeline.curate(docs, bench, cap, budget)
      val dist = DataPipeline.curate(docs, bench, cap, budget, maxDriverRows = 0L)
      assert(takesDriverPath(driver) && !takesDriverPath(dist))
      assert(driver.schema == dist.schema)
      assert(rowSet(driver) == rowSet(dist), s"cap=$cap budget=$budget")
    }
  }

  test("curate: the forced distributed path reads the pinned stage-4 survivors") {
    import org.apache.spark.sql.catalyst.plans.logical.{LocalRelation, Window => WindowNode}
    import org.apache.spark.sql.execution.LogicalRDD
    val docs = sfDocs
    val bench = docs.filter(col("doc_id") % 17 === 0).select(col("text"))
    val plan = DataPipeline.curate(docs, bench, maxDriverRows = 0L).queryExecution.optimizedPlan
    // the budget's branches read ONE checkpointed relation (plus its
    // broadcast decision tables), never parquet or the stage-3 pin
    val rdds = plan.collectLeaves().collect { case r: LogicalRDD => r.rdd.id }
    assert(rdds.nonEmpty && rdds.distinct.size == 1, plan)
    assert(plan.collectLeaves().forall(l => l.isInstanceOf[LogicalRDD] ||
      l.isInstanceOf[LocalRelation]), plan)
    // the cap's (lang, source)-partitioned window ran inside that pin
    val capWindows = plan.collect {
      case w: WindowNode if w.partitionSpec.exists(_.references.exists(_.name == "source")) => w
    }
    assert(capWindows.isEmpty, plan)
  }

  test("curate: a null source or lang takes the distributed path and keeps the same rows") {
    val bench = sfDocs.filter(col("doc_id") % 17 === 0).select(col("text"))
    for (c <- Seq("source", "lang")) {
      val docs = sfDocs.withColumn(c, when(col("doc_id") % 5 === 0, lit(null)).otherwise(col(c)))
      val auto = DataPipeline.curate(docs, bench)
      val dist = DataPipeline.curate(docs, bench, maxDriverRows = 0L)
      assert(!takesDriverPath(auto), c)
      assert(auto.schema == dist.schema)
      assert(rowSet(auto) == rowSet(dist), c)
    }
  }

  test("curate: an INT doc_id takes the driver path, an INT source the distributed path") {
    val bench = sfDocs.filter(col("doc_id") % 17 === 0).select(col("text"))
    // stage 3 casts doc_id to BIGINT, so only a non-string lang or source
    // leaves the kernel's layout
    for ((c, driverPath) <- Seq(("doc_id", true), ("source", false))) {
      val docs = sfDocs.withColumn(c, if (c == "doc_id") col(c).cast("int") else hash(col(c)))
      val auto = DataPipeline.curate(docs, bench)
      val dist = DataPipeline.curate(docs, bench, maxDriverRows = 0L)
      assert(takesDriverPath(auto) == driverPath, c)
      assert(auto.schema == dist.schema, c)
      assert(rowSet(auto) == rowSet(dist), c)
    }
  }

  test("optional perplexity gate drops gibberish the heuristic gate passes") {
    import spark.implicits._
    val natural = "the work is divided between the machines that share it and " +
      "each worker can read its own piece without waiting for the others here"
    val gibberish = "zq xvj qkz wxq jzv qxz kjq vzx qwj zxk vqj xjz qzk wvq " +
      "jqx zvk qjw xkz vjq zxq kwj qvz xjk zqw vkx jzq xwv kqj zvw qxj"
    val docs = Seq((1L, "en", "a.com", natural), (2L, "en", "a.com", gibberish))
      .toDF("doc_id", "lang", "source", "text")
    val bench = Seq.empty[String].toDF("text")
    // both pass the heuristic gate (length/punct/token rules see no difference)
    val off = DataPipeline.curate(docs, bench).select("doc_id")
      .collect().map(_.getLong(0)).toSet
    assert(off == Set(1L, 2L))
    // the LM gate separates them: gibberish scores far above natural prose
    val cut = graft.spark.text.CharLm.standard.bitsMilli(natural) + 1000L
    assert(graft.spark.text.CharLm.standard.bitsMilli(gibberish) > cut)
    val on = DataPipeline.curate(docs, bench, maxLmBitsMilli = Some(cut))
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(on == Set(1L))
  }

  test("optional classifier gate drops off-distribution docs the heuristic gate passes") {
    import spark.implicits._
    import graft.spark.text.QualityClassifier
    def doc(words: Seq[String], salt: Int): String =
      (0 until 16).map(i => words((i + salt) % words.size)).mkString(" ")
    val good = Seq("alpine", "meadow", "stream", "forest", "valley")
    val bad = Seq("zorp", "quux", "blarg", "wibble", "frobnitz")
    val labeled = ((0 until 8).map(i => (doc(good, i), true)) ++
      (0 until 8).map(i => (doc(bad, i), false))).toDF("text", "label")
    val model = QualityClassifier.train(labeled, "text", "label",
      buckets = 512, iters = 20)
    val docs = Seq((1L, "en", "a.com", doc(good, 3)), (2L, "en", "a.com", doc(bad, 3)))
      .toDF("doc_id", "lang", "source", "text")
    val bench = Seq.empty[String].toDF("text")
    // both pass the heuristic gate (same length/shape)
    val off = DataPipeline.curate(docs, bench).select("doc_id")
      .collect().map(_.getLong(0)).toSet
    assert(off == Set(1L, 2L))
    val on = DataPipeline.curate(docs, bench, classifierGate = Some((model, 0L)))
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(on == Set(1L))
  }

  test("optional fuzzy-dedup stage keeps one doc per near-dup cluster") {
    import spark.implicits._
    val base = "the quick brown fox jumps over the lazy dog and keeps running far away today"
    val docs = Seq(
      (1L, "en", "a.com", base),
      (2L, "en", "a.com", base + " extra"),       // near-dup of 1 (not exact)
      (3L, "en", "a.com", base + " extra more"),  // near-dup of 1 and 2
      (4L, "en", "b.com", "a completely different document about boats and rivers with plenty of words in it")
    ).toDF("doc_id", "lang", "source", "text")
    val bench = Seq.empty[String].toDF("text")
    val off = DataPipeline.curate(docs, bench).select("doc_id")
      .collect().map(_.getLong(0)).toSet
    assert(off == Set(1L, 2L, 3L, 4L), "exact dedup alone keeps all four")
    val on = DataPipeline.curate(docs, bench, nearDupThreshold = Some(0.7))
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(on == Set(1L, 4L), s"cluster collapses to its min-id representative: $on")
  }

  test("incremental curate == one-shot stage-1..3 restricted, across two state-appending batches") {
    import spark.implicits._
    import graft.spark.dedup.{Corpus, Dedup}
    import graft.spark.pipeline.IncrementalCurate
    import org.apache.spark.sql.DataFrame
    import org.apache.spark.sql.expressions.Window

    val A = "alpha economy report covers quarterly revenue growth across several regional markets today"
    val C = "gamma wildlife survey tracks coastal bird migration patterns through autumn storm seasons"
    val D = "delta kitchen recipe combines roasted vegetables with fragrant herbs and toasted grains nicely"
    val benchPhrase = "benchmark answer key phrase seven tokens exactly here"
    val history = Seq(
      (0L, "en", "a.com", A),
      (1L, "en", "a.com", A + " tail one"),        // near-dup of 0 within history
      (2L, "en", "b.com", "beta standalone article describes mountain railway construction with detailed engineering notes"),
      (3L, "en", "b.com", "short"),                // fails the quality gate
      (4L, "en", "c.com", C)
    ).toDF("doc_id", "lang", "source", "text")
    val batch1 = Seq(
      (100L, "en", "a.com", A),                    // exact dup of history 0
      (101L, "en", "a.com", A + " extra"),         // near-dup of history -> anchored
      (102L, "en", "d.com", D),                    // fresh, kept
      (103L, "en", "d.com", D + " tail"),          // batch cluster with 102 -> dropped (not min)
      (104L, "en", "c.com", C + " addendum"),      // near-dup of history 4 -> anchored
      // transitive chain: 106 ~ 107 ~ history 4 -> BOTH drop via anchoring
      (106L, "en", "c.com", C + " second addendum note"),
      (107L, "en", "c.com", C + " addendum note"),
      (105L, "en", "e.com", "perfectly reasonable essay text which also contains the " +
        benchPhrase + " inside it somewhere"),      // contaminated
      (108L, "en", "d.com", D)                     // exact IN-BATCH dup of 102
    ).toDF("doc_id", "lang", "source", "text")
    val batch2 = Seq(
      (200L, "en", "d.com", D + " fresh spin"),    // near-dup of KEPT batch1 doc 102
      (201L, "en", "d.com", D + " tail"),          // exact dup of fuzzy-DROPPED 103 (still indexed)
      (202L, "en", "f.com", "zeta closing chapter narrates harbor lighthouse restoration finished by volunteer crews")
    ).toDF("doc_id", "lang", "source", "text")
    val bench = Seq("unrelated benchmark filler sentence then the " + benchPhrase).toDF("text")

    /** One-shot stage-1..3 reference: quality -> union dedup -> fuzzy (128x32
      * verified pairs at 0.5, CC, keep rep) -> decontamination. */
    def oneShotKept(docs: DataFrame): Set[Long] = {
      val base = docs.select(col("doc_id"), col("text"), md5(col("text")).as("digest"))
        .filter(graft.spark.text.TextFunctions.isQuality(col("text")))
      val w = Window.partitionBy(col("digest")).orderBy(col("doc_id"))
      val d = base.withColumn("rk", row_number().over(w)).filter(col("rk") === 1).drop("rk")
      val pairs = Dedup.minhashLshPairs(d, "doc_id", "text",
        shingleSize = 3, numHashes = 128, bands = 32, threshold = 0.5)
      val losers = Dedup.connectedComponents(pairs.select(col("id_a"), col("id_b")))
        .filter(col("doc_id") =!= col("rep")).select(col("doc_id"))
      val f = d.join(losers, Seq("doc_id"), "left_anti")
      Corpus.decontaminate(f, bench, "doc_id", "text", n = 8)
        .filter(!col("contaminated")).select(col("doc_id"))
        .collect().map(_.getLong(0)).toSet
    }

    val prefix = "graft_inc_curate_spec"
    IncrementalCurate.drop(spark, prefix)
    try {
      IncrementalCurate.create(history, prefix)
      def keptOf(df: DataFrame): Set[Long] =
        df.filter(col("kept")).select(col("doc_id")).collect().map(_.getLong(0)).toSet
      val flags1 = IncrementalCurate.curateBatch(batch1, history, bench, prefix)
      val got1 = keptOf(flags1)
      val want1 = oneShotKept(history.unionByName(batch1))
        .filter(_ >= 100L).filter(_ < 200L)
      assert(got1 == want1, s"batch1: got $got1, want $want1")
      assert(got1 == Set(102L), s"fixture sanity: only the fresh cluster rep survives: $got1")
      // flag attribution: quality is per-doc — the in-batch exact dup (108)
      // passed the gate and lost the DEDUP race, not the quality gate
      val f108 = flags1.filter(col("doc_id") === 108L).head()
      assert(f108.getAs[Boolean]("quality_ok") && !f108.getAs[Boolean]("exact_kept"),
        s"in-batch dup must read quality_ok=true, exact_kept=false: $f108")
      // batch2 runs against state that now INCLUDES batch1's survivors
      val hist2 = history.unionByName(batch1)
      val got2 = keptOf(IncrementalCurate.curateBatch(batch2, hist2, bench, prefix))
      val want2 = oneShotKept(hist2.unionByName(batch2)).filter(_ >= 200L)
      assert(got2 == want2, s"batch2: got $got2, want $want2")
      assert(got2 == Set(202L),
        s"near-dup of a kept batch1 doc and exact dup of a fuzzy-dropped doc must both drop: $got2")
      // an EMPTY batch (quiet crawl day) is a defined no-op: zero rows, no
      // state mutation — a later real batch still passes the watermark
      val empty = IncrementalCurate.curateBatch(
        batch2.filter(col("doc_id") < 0), hist2, bench, prefix)
      assert(empty.count() == 0L)
      // monotonicity contract: replaying old ids fails loudly
      val e = intercept[IllegalArgumentException] {
        IncrementalCurate.curateBatch(batch1, hist2, bench, prefix)
      }
      assert(e.getMessage.contains("monotone"))
    } finally IncrementalCurate.drop(spark, prefix)
  }

  test("IncrementalCuratePipeline main: init, process, no-op re-run, crash-resume append") {
    import spark.implicits._
    import graft.spark.pipeline.{IncrementalCurate, IncrementalCuratePipeline}
    val work = Files.createTempDirectory("graft_incr_curate").toString
    val A = "omega committee minutes summarize infrastructure funding allocations approved for riverside bridge repairs"
    val history = Seq(
      (0L, "en", "a.com", A),
      (1L, "en", "a.com", A + " tail marker"),
      (2L, "en", "b.com", "standalone feature story profiles harbor pilots guiding container ships through narrow channels")
    ).toDF("doc_id", "lang", "source", "text")
    val batch1 = Seq(
      (100L, "en", "a.com", A),              // exact dup of history 0
      (101L, "en", "c.com", "entirely novel report reviews alpine observatory telescope commissioning milestones this spring"),
      (102L, "en", "c.com", "short")         // fails quality
    ).toDF("doc_id", "lang", "source", "text")
    val bench = Seq("benchmark text that matches nothing in this fixture corpus at all truly").toDF("text")
    def save(df: org.apache.spark.sql.DataFrame, name: String): String = {
      val p = s"$work/$name"; df.write.mode("overwrite").parquet(p); p
    }
    val historyP = save(history, "history")
    val batch1P = save(batch1, "batch1")
    val benchP = save(bench, "bench")
    val prefix = "graft_incr_pipe_spec"
    IncrementalCurate.drop(spark, prefix)
    try {
      // 1) first run initializes state and exits
      val r0 = IncrementalCuratePipeline.run(spark, batch1P, historyP, benchP,
        prefix, s"$work/out1")
      assert(r0.map(_._1) == Seq("create"))
      // 2) second run processes the batch: flags written, state advanced
      val r1 = IncrementalCuratePipeline.run(spark, batch1P, historyP, benchP,
        prefix, s"$work/out1")
      assert(r1.toMap.apply("batch") == 3L)
      assert(r1.toMap.apply("kept") == 1L, s"only the novel doc survives: $r1")
      assert(IncrementalCurate.indexedMaxId(spark, prefix) == 102L)
      // 3) re-run is a no-op (flags _SUCCESS + state current)
      assert(IncrementalCuratePipeline.run(spark, batch1P, historyP, benchP,
        prefix, s"$work/out1").isEmpty)
      // 4) crash-resume: batch2's flags exist but the state append was lost
      val hist2 = history.unionByName(batch1)
      val batch2 = Seq((200L, "en", "d.com",
        "closing segment recaps coastal marathon results with volunteer aid station highlights")).toDF("doc_id", "lang", "source", "text")
      val batch2P = save(batch2, "batch2")
      val hist2P = save(hist2, "history2")
      IncrementalCurate.curateBatch(batch2, hist2, bench, prefix, updateState = false)
        .write.mode("overwrite").parquet(s"$work/out2/flags")
      val r3 = IncrementalCuratePipeline.run(spark, batch2P, hist2P, benchP,
        prefix, s"$work/out2")
      assert(r3.map(_._1) == Seq("resume_append"), s"must finish the append: $r3")
      assert(IncrementalCurate.indexedMaxId(spark, prefix) == 200L)
      // and now fully processed: no-op
      assert(IncrementalCuratePipeline.run(spark, batch2P, hist2P, benchP,
        prefix, s"$work/out2").isEmpty)
    } finally IncrementalCurate.drop(spark, prefix)
  }

  test("fuzzyDropSet: bounded driver path == distributed path on a randomized pair graph") {
    import spark.implicits._
    // the round-7 fast path resolves the anchored-component decision on
    // the driver from the pair list alone (batch endpoint <=> id above the
    // watermark); it must drop exactly the ids the distributed
    // join/CC/checkpoint machinery drops, on chains, anchors and singletons
    val rnd = new scala.util.Random(23)
    val watermark = 1000L
    val pairs = (0 until 500).map { _ =>
      val (a, b) = rnd.nextInt(3) match {
        case 0 => (1001L + rnd.nextInt(200), 1001L + rnd.nextInt(200)) // batch-batch
        case 1 => (1001L + rnd.nextInt(200), 1L + rnd.nextInt(1000))   // batch-history
        case _ => (1L + rnd.nextInt(1000), 1001L + rnd.nextInt(200))   // history-batch
      }
      (math.min(a, b), math.max(a, b), 0.9)
    }.filter(p => p._1 != p._2).toDF("id_a", "id_b", "jaccard")
    val freshOnly = (1001L to 1200L).toDF("doc_id")
    def drops(bound: Long): Set[Long] =
      graft.spark.pipeline.IncrementalCurate
        .fuzzyDropSet(spark, pairs, freshOnly, watermark, maxDriverEdges = bound)
        .select(col("doc_id")).collect().map(_.getLong(0)).toSet
    val fast = drops(1L << 20)
    val dist = drops(0L)
    assert(fast == dist, s"fast=$fast\ndist=$dist")
    assert(fast.nonEmpty) // the random graph must actually exercise drops
  }

  test("fuzzyDropSet: a pair with a null id is no edge on either path") {
    import spark.implicits._
    // 1001-1002 is a batch-batch edge (1002 drops), 1005-7 anchors 1005 to
    // history; the null-id pairs must neither anchor 1003/1004 nor add a doc 0
    val pairs = Seq[(Option[Long], Option[Long])]((Some(1001L), Some(1002L)),
      (Some(1003L), None), (None, Some(1004L)), (Some(1005L), Some(7L)), (None, None))
      .toDF("id_a", "id_b")
    val freshOnly = (1001L to 1005L).toDF("doc_id")
    def drops(bound: Long): Set[Long] =
      graft.spark.pipeline.IncrementalCurate
        .fuzzyDropSet(spark, pairs, freshOnly, 1000L, maxDriverEdges = bound)
        .select(col("doc_id")).collect().map(_.getLong(0)).toSet
    assert(drops(1L << 20) == Set(1002L, 1005L))
    assert(drops(0L) == Set(1002L, 1005L))
  }

  test("shard assignment is content-addressed and covers all shards") {
    import spark.implicits._
    val df = (0L until 500L).map(i => (i, s"t$i")).toDF("doc_id", "text")
      .withColumn("digest", md5(col("text")))
    val s1 = DataPipeline.withShard(df, 8).select(col("doc_id"), col("shard"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    val s2 = DataPipeline.withShard(df.repartition(7), 8).select(col("doc_id"), col("shard"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(s1 == s2)
    assert(s1.values.toSet == (0L until 8L).toSet)
  }
}
