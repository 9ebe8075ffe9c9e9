package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.funsuite.AnyFunSuite

import graft.spark.SparkQueries

/** Plan-shape regression tests: the physical plans the engine is designed to
  * produce (column-pruned scans, pushed filters, broadcast semi-joins,
  * partial+final object-hash aggregation) asserted so they can't silently
  * regress. Runs on sf0.001.
  */
class PlanShapeSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkTestSession.spark
  private val dir = "/root/testdata/sf0.001"

  private def formatted(df: DataFrame): String =
    df.queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))

  test("docsStats: scan pruned to exactly (lang, n_chars)") {
    val plan = formatted(SparkQueries.docsStats(spark, dir))
    assert(plan.contains("ReadSchema: struct<lang:string,n_chars:bigint>"), plan)
    assert(!plan.contains("text:string"), "fat text column must be pruned")
  }

  test("bloomSemiJoin: filter pushdown reaches both scans; broadcast semi-join") {
    val plan = formatted(SparkQueries.bloomSemiJoin(spark, dir))
    assert(plan.contains("EqualTo(c_mktsegment,BUILDING)"), plan) // pushed to parquet
    assert(plan.contains("BroadcastHashJoin LeftSemi"), plan)
    assert(plan.contains("ReadSchema: struct<o_custkey:bigint,o_orderpriority:string>"), plan)
    // the native bloom probe sits in a codegen'd Filter before the join
    assert(plan.contains("bloom_might_contain"), plan)
  }

  test("q_cms_modes probes the CMS through codegen'd expressions, no ScalaUDF") {
    val df = graft.spark.VerifiedQueries.cmsModesVerified(spark, dir)
    df.collect()
    val plan = df.queryExecution.executedPlan
    assert(PlanUdfs.scalaUdfs(df).isEmpty, plan.toString)
    assert("cms_count\\(".r.findAllIn(plan.toString).length >= 3, plan.toString)
  }

  test("q_ebf_stats probes each lang's expanding Bloom through codegen'd expressions, no ScalaUDF") {
    val df = graft.spark.VerifiedQueries.ebfStatsVerified(spark, dir)
    df.collect()
    val plan = df.queryExecution.executedPlan
    assert(PlanUdfs.scalaUdfs(df).isEmpty, plan.toString)
    assert("ebf_contains\\(".r.findAllIn(plan.toString).nonEmpty, plan.toString)
  }

  test("PlanUdfs finds a ScalaUDF that the plan string never names") {
    import org.apache.spark.sql.functions.{col, udf}
    val plusOne = udf((x: Long) => x + 1)
    val df = spark.range(0, 4, 1, 2).select(plusOne(col("id")).as("y"))
    df.collect()
    assert(!df.queryExecution.executedPlan.toString.contains("ScalaUDF"))
    assert(PlanUdfs.scalaUdfs(df).size == 1, df.queryExecution.executedPlan.toString)
  }

  test("hllDistinct: partial ObjectHashAggregate below the exchange, final above") {
    val plan = formatted(SparkQueries.hllDistinct(spark, dir))
    val firstAgg = plan.indexOf("ObjectHashAggregate")
    val exchange = plan.indexOf("Exchange", firstAgg)
    val finalAgg = plan.indexOf("ObjectHashAggregate", exchange)
    assert(firstAgg >= 0 && exchange > firstAgg && finalAgg > exchange,
      s"expected partial-agg -> exchange -> final-agg:\n$plan")
    assert(plan.contains("ReadSchema: struct<text:string,lang:string>"), plan)
  }

  test("annBruteForce: queries broadcast, corpus scan pruned, pushdown on query filter") {
    val plan = formatted(SparkQueries.annBruteForce(spark, dir))
    assert(plan.contains("BroadcastNestedLoopJoin"), plan)
    assert(plan.contains("LessThan(vec_id,10)"), plan) // pushed to the query-side scan
  }

  test("minhashPairs: ONE signature-kernel pass, bucket grouping (no self-join recompute)") {
    val df = SparkQueries.minhashPairs(spark, dir)
    val plan = formatted(df)
    assert(plan.contains("ReadSchema: struct<doc_id:bigint,text:string>"), plan)
    val tree = df.queryExecution.executedPlan.toString
    // the fused kernel must appear in exactly one Generate — candidates come
    // from groupBy buckets, not a both-sides-recomputed self-join
    val kernelPasses = "minhash_bands".r.findAllIn(tree).length
    assert(kernelPasses == 1, s"expected 1 kernel pass, got $kernelPasses:\n$tree")
    assert(tree.contains("ObjectHashAggregate") || tree.contains("SortAggregate"),
      s"bucket grouping missing:\n$tree") // collect_list per (band, bh)
  }

  test("simhashPairs: one simhash pass, C(6,3) combo keys, bucket grouping") {
    val df = SparkQueries.simhashPairs(spark, dir)
    val tree = df.queryExecution.executedPlan.toString
    val kernelPasses = "simhash64".r.findAllIn(tree).length
    assert(kernelPasses == 1, s"expected 1 simhash pass, got $kernelPasses:\n$tree")
    // hamming filter is pushed inside the pair-generation UDF (before the
    // distinct exchange) — no post-distinct bit_count Filter may reappear
    assert(!tree.contains("bit_count"), tree)
    // exactly 2 exchanges: the (combo,key) bucket groupBy + the pair distinct
    val exchanges = "Exchange hashpartitioning".r.findAllIn(tree).length
    assert(exchanges == 2, s"expected 2 exchanges, got $exchanges:\n$tree")
  }

  test("pagesSketchBattery: native aggs, partial -> exchange -> final") {
    val df = SparkQueries.pagesSketchBattery(spark, 2000L)
    val plan = formatted(df)
    Seq("graft_hll_count", "graft_bloom", "graft_hh", "graft_kll")
      .foreach(agg => assert(plan.contains(agg), s"$agg missing:\n$plan"))
    val firstAgg = plan.indexOf("ObjectHashAggregate")
    val exchange = plan.indexOf("Exchange", firstAgg)
    val finalAgg = plan.indexOf("ObjectHashAggregate", exchange)
    assert(firstAgg >= 0 && exchange > firstAgg && finalAgg > exchange,
      s"expected partial-agg -> exchange -> final-agg:\n$plan")
  }

  test("SQL sketch build runs the native aggregates, no ScalaAggregator") {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.catalyst.expressions.aggregate.Count
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    import org.apache.spark.sql.execution.aggregate.{BaseAggregateExec, ScalaAggregator}
    import graft.spark.aggs.{SaltedAgg, SketchAgg, SketchUdafs}
    SketchUdafs.registerAll(spark)
    graft.spark.io.PagesGen.pages(spark, 2000L)
      .select(col("url"), col("lang"),
        substring_index(substring_index(col("url"), "/", 3), "/", -1).as("domain"),
        length(col("text")).cast("double").as("len"))
      .createOrReplaceTempView("plan_shape_pages")
    val calls = Seq("hll_count(url) AS hll", "bloom_agg(url) AS bloom",
      "heavy_hitters(domain, 1L) AS hh", "kll_agg(len) AS kll", "hll_agg(url) AS hll_b",
      "cms_agg(domain, 1L) AS cms", "cbf_agg(domain, 1L) AS cbf",
      "stream_threshold(domain, 1L) AS st", "cuckoo_agg(url) AS ck",
      "counting_cuckoo_agg(domain) AS ccf", "qf_agg(url) AS qf", "ebf_agg(url) AS ebf",
      "tdigest_agg(len) AS td")
    assert(calls.map(_.takeWhile(_ != '(')).toSet == SketchUdafs.sqlAggregates.map(_._1).toSet)
    val built = spark.sql(
      s"SELECT lang, ${calls.mkString(", ")}, count(1) AS n FROM plan_shape_pages GROUP BY lang")
    val merged = built.agg(SaltedAgg.bloomUnion(col("bloom")), SaltedAgg.hllUnion(col("hll_b")),
      SaltedAgg.cmsJoin(col("cms")), SaltedAgg.kllMerge(col("kll")),
      SaltedAgg.tdigestMerge(col("td")))
    def aggFns(df: DataFrame) = {
      df.collect()
      new AdaptiveSparkPlanHelper {}.collect(df.queryExecution.executedPlan) {
        case a: BaseAggregateExec => a.aggregateExpressions.map(_.aggregateFunction)
      }.flatten
    }
    val fns = aggFns(built)
    assert(!fns.exists(_.isInstanceOf[ScalaAggregator[_, _, _]]), fns.mkString(", "))
    assert(fns.forall(f => f.isInstanceOf[SketchAgg[_]] || f.isInstanceOf[Count]),
      fns.mkString(", "))
    assert(fns.count(_.isInstanceOf[SketchAgg[_]]) >= calls.size, fns.mkString(", "))
    val names = fns.map(_.prettyName).toSet
    Seq("graft_hll_count", "graft_bloom", "graft_hh", "graft_kll")
      .foreach(n => assert(names.contains(n), s"$n missing: $names"))
    val mergeFns = aggFns(merged)
    assert(mergeFns.nonEmpty && mergeFns.forall(_.isInstanceOf[SketchAgg[_]]),
      mergeFns.mkString(", "))
  }

  test("decontaminate: ONE-pass plan — codegen'd bloom gate, no explode, no join, no cache") {
    // round-4 collected path: the bench shingle set lives in a broadcast
    // variable, the bloom kernel gates a candidates-only exact probe inside
    // a lazy CASE branch — the whole operator is a single corpus scan
    val plan = SparkQueries.decontaminateStats(spark, dir)
      .queryExecution.executedPlan.toString
    assert(plan.contains("bloom_shingle_hit("), plan)
    assert(!"\\bGenerate\\b".r.findAllIn(plan).hasNext,
      s"no shingle explode may exist in the one-pass plan:\n$plan")
    assert(!plan.contains("Join"), s"no join may exist in the one-pass plan:\n$plan")
    assert(!plan.contains("InMemoryTableScan"),
      s"nothing stays cached on the collected path:\n$plan")
    assert(plan.contains("CASE WHEN"), plan) // candidates-only exact probe
  }

  test("topKFlags: the executed plan has zero exchanges") {
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    import org.apache.spark.sql.execution.exchange.Exchange
    // the boundary is decided by bounded driver collects while the flags are
    // built; the returned flags are comparisons over one scan
    val df = SparkQueries.topkSelect(spark, dir)
    df.collect()
    val plan = df.queryExecution.executedPlan
    val exchanges = new AdaptiveSparkPlanHelper {}.collectWithSubqueries(plan) {
      case e: Exchange => e
    }
    assert(exchanges.isEmpty, plan.toString)
  }

  test("q_pipeline action plan has zero parquet scans") {
    // curate() decides cap and budget on the driver for sf0.001's few
    // hundred stage-3 survivors: the returned plan reads the local kept
    // rows, never `documents` nor a checkpoint
    val plan = formatted(SparkQueries.pipelineStats(spark, dir))
    assert(!plan.contains("Scan parquet"), s"action plan must not rescan documents:\n$plan")
    assert(plan.contains("LocalTableScan") && !plan.contains("Scan ExistingRDD"), plan)
    // forced distributed, the same query reads the checkpointed stage-4
    // survivors instead
    import org.apache.spark.sql.functions._
    val docs = spark.read.parquet(s"$dir/documents.parquet")
      .select(col("doc_id"), col("lang"), col("source"), col("text"))
    val bench = docs.filter(col("doc_id") % 17 === 0).select(col("text"))
    val distPlan = formatted(graft.spark.pipeline.DataPipeline.curate(docs, bench, maxDriverRows = 0L)
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_kept"), sum(col("toks")).as("tokens_kept")))
    assert(!distPlan.contains("Scan parquet"), s"action plan must not rescan documents:\n$distPlan")
    assert(distPlan.contains("Scan ExistingRDD"), distPlan)
  }

  test("curate with fuzzy dedup: the digest window runs once; stage 3 reads the pinned frame") {
    import org.apache.spark.sql.catalyst.expressions.Attribute
    import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
    import org.apache.spark.sql.execution.window.WindowExec
    import org.apache.spark.sql.functions.col
    import org.apache.spark.sql.util.QueryExecutionListener
    val helper = new AdaptiveSparkPlanHelper {}
    val actions = new java.util.concurrent.ConcurrentLinkedQueue[(String, SparkPlan)]()
    val listener = new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        actions.add(funcName -> qe.executedPlan)
      override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    val docs = spark.read.parquet(s"$dir/documents.parquet")
      .select(col("doc_id"), col("lang"), col("source"), col("text"))
    val bench = docs.filter(col("doc_id") % 17 === 0).select(col("text"))
    spark.listenerManager.register(listener)
    try graft.spark.pipeline.DataPipeline.curate(docs, bench, nearDupThreshold = Some(0.8))
    finally {
      org.apache.spark.GraftTestBridge.drainListenerBus(spark.sparkContext)
      spark.listenerManager.unregister(listener)
    }
    import scala.jdk.CollectionConverters._
    val plans = actions.asScala.toSeq
    def digestWindows(p: SparkPlan): Seq[WindowExec] = helper.collectWithSubqueries(p) {
      case w: WindowExec if w.partitionSpec.collect { case a: Attribute => a.name } == Seq("digest") => w
    }
    def cached(p: SparkPlan): Seq[InMemoryTableScanExec] = helper.collectWithSubqueries(p) {
      case s: InMemoryTableScanExec => s
    }
    val outside = plans.flatMap { case (_, p) => digestWindows(p) }
    assert(outside.isEmpty, s"digest window re-run outside the pinned frame:\n${outside.mkString("\n")}")
    val pinnedFrames = plans.flatMap { case (_, p) => cached(p) }
      .map(_.relation.cacheBuilder).distinct
      .filter(b => digestWindows(b.cachedPlan).nonEmpty)
    assert(pinnedFrames.length == 1, s"${pinnedFrames.length} cached frames hold the digest window")
    val stage3 = plans.collect {
      case ("localCheckpoint", p) if p.toString.contains("bloom_shingle_hit(") => p
    }
    assert(stage3.length == 1, plans.map(_._1).mkString(", "))
    assert(cached(stage3.head).nonEmpty, s"stage 3 must read the pinned frame:\n${stage3.head}")
    assert(helper.collectWithSubqueries(stage3.head) { case w: WindowExec => w }.isEmpty,
      s"stage 3 must run no window:\n${stage3.head}")
  }

  test("lineDedup: count shuffle runs at build time; returned plan is one scan + agg") {
    // round-4 guarded broadcast path: the heavy set is counted/collected
    // EAGERLY when the operator is built (its shuffle never re-runs per
    // query) and flags back through a broadcast-variable probe — the
    // returned plan is a single scan with one final aggregation exchange
    val plan = formatted(SparkQueries.lineDedupStats(spark, dir))
    assert(plan.contains("xxhash64"), plan)
    assert(!plan.contains("Join"), s"no join on the broadcast path:\n$plan")
    val shuffles = "\\+- Exchange\\b".r.findAllIn(plan).length
    assert(shuffles == 1, s"expected the final agg shuffle only:\n$plan")
  }

  test("tokenBudget: single Sort/Window confined to the boundary branch of a Union") {
    val plan = formatted(SparkQueries.tokenBudgetStats(spark, dir))
    assert(plan.contains("Union"), plan)
    // exactly one sort and one window in the whole plan — the wholesale
    // branch is decided by broadcast joins alone
    assert("\\+- Sort\\b".r.findAllIn(plan).length == 1, s"one Sort expected:\n$plan")
    assert("\\+- Window\\b".r.findAllIn(plan).length == 1, s"one Window expected:\n$plan")
    assert("BroadcastExchange".r.findAllIn(plan).length >= 3, plan)
  }

  test("sketch-cube rollup: per-lang merge reads the stored cube, never parquet") {
    import org.apache.spark.sql.functions._
    import graft.spark.aggs.{SaltedAgg, SketchUdafs}
    val docs = spark.read.parquet(s"$dir/documents.parquet")
      .select(col("lang"), col("source"), col("text"))
    val cube = docs.groupBy(col("lang"), col("source"))
      .agg(SketchUdafs.hll(14)(col("text")).as("hll"))
      .localCheckpoint(true)
    val rolled = cube.groupBy(col("lang")).agg(SaltedAgg.hllUnion(col("hll")).as("hll"))
    val plan = formatted(rolled)
    assert(!plan.contains("Scan parquet"), s"rollup must not rescan the source:\n$plan")
    assert(plan.contains("Scan ExistingRDD"), plan)
  }

  test("bpe/lang-id kernels run inside WholeStageCodegen") {
    import org.apache.spark.sql.functions._
    import graft.spark.fns.TextExpressions
    val df = spark.read.parquet(s"$dir/documents.parquet")
      .select(TextExpressions.bpeMergedCountNative(col("text")).as("m"),
        TextExpressions.langIdNative(col("text")).as("l"))
    val plan = formatted(df)
    assert(plan.contains("bpe_count"), plan)
    assert(plan.contains("lang_id"), plan)
    // both kernels sit in a codegen'd Project (the `[codegen id : N]`
    // annotation in formatted mode), not behind a ScalaUDF eval boundary
    assert(!plan.contains("BatchEvalPython"), plan)
    assert(PlanUdfs.scalaUdfs(df).isEmpty, plan)
    assert(plan.matches("(?s).*Project \\[codegen id : \\d+\\].*"), plan)
  }

  test("dsir: codegen'd scoring scan, distributed boundary cut (no O(k) state)") {
    val df = SparkQueries.dsirResample(spark, dir)
    val plan = formatted(df)
    // round-5 verdict top item: the selection must carry NO O(k) state —
    // no TakeOrdered (k-sized bounded priority queue in EVERY task + driver
    // merge) and no k-id broadcast; flags are pure comparisons plus a tie
    // window over only the boundary-key rows
    assert(!plan.contains("TakeOrderedAndProject"),
      "selection must not use O(k)-per-task TakeOrdered:\n" + plan)
    assert(!plan.contains("BroadcastHashJoin"),
      "selection must not broadcast a k-sized id set:\n" + plan)
    // round 7: the flag plan is ONE comparison pass — no union of a tie
    // branch and no window anywhere (the boundary-tie cut is resolved by
    // the bounded driver walk BEFORE the flag plan is built; the old
    // partition-less tie window was a single-task sort over the whole
    // boundary tie class — the round-6 verdict scale cliff)
    assert(!plan.contains("Union"), plan)
    assert(!plan.contains("Window"), plan)
    // the scoring kernel runs as a native codegen'd expression
    assert(plan.contains("dsir_logw_milli"), plan)
    assert(PlanUdfs.scalaUdfs(df).isEmpty, "scoring must not cross a UDF boundary:\n" + plan)
  }

  test("classifier training iteration: ONE bounded gradient exchange, codegen'd margin") {
    import org.apache.spark.sql.functions._
    import graft.spark.fns.TextExpressions
    // one training iteration's gradient aggregate, as built inside
    // QualityClassifier.train: margin scan -> explode -> groupBy(bucket)
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val bc = spark.sparkContext.broadcast(new Array[Double](512))
    val margin = (TextExpressions.dsirLogWeightNative(col("text"), 512, bc)
      .cast("double") / 1000.0)
    val residual = floor((lit(1.0) / (lit(1.0) + exp(-margin)) - lit(0.0)) * 1000.0)
      .cast("long")
    val grad = docs.select(col("text"), residual.as("r"))
      .select(explode(concat(array(lit(-1)),
        TextExpressions.dsirBucketsNative(col("text"), 512))).as("b"), col("r"))
      .groupBy(col("b")).agg(sum(col("r")).as("g"))
    val plan = formatted(grad)
    // partial agg below the single exchange, final above — map-side combine
    // bounds the shuffle to buckets+1 rows per task
    val firstAgg = plan.indexOf("HashAggregate")
    val exchange = plan.indexOf("Exchange", firstAgg)
    val finalAgg = plan.indexOf("HashAggregate", exchange)
    assert(firstAgg >= 0 && exchange > firstAgg && finalAgg > exchange,
      s"expected partial-agg -> exchange -> final-agg:\n$plan")
    // tree entries are "Exchange (N" — the detail header "(N) Exchange"
    // must not double-count
    assert("Exchange \\(".r.findAllIn(plan).length == 1, plan)
    assert(PlanUdfs.scalaUdfs(grad).isEmpty, plan)
    assert(plan.contains("ReadSchema: struct<text:string>"), plan)
    bc.destroy()
  }

  test("salted two-level: two aggregation exchanges, no Expand") {
    val pages = graft.spark.io.PagesGen.pages(spark, 100, numPartitions = 2)
    val df = graft.spark.aggs.SaltedAgg.hllBloomTwoLevel(
      pages, org.apache.spark.sql.functions.col("lang"),
      org.apache.spark.sql.functions.col("url"), saltBuckets = 4)
    val plan = formatted(df)
    val n = "Exchange".r.findAllIn(plan).length
    assert(n >= 2, s"expected stage1+stage2 exchanges:\n$plan")
    assert(!plan.contains("Expand"), "salting must not introduce Expand")
  }
}
