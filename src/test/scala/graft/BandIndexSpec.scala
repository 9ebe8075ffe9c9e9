package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.spark.dedup.{BandIndex, Dedup}

/** The persisted band index (round-5): index-backed incremental pairs must
  * equal the non-indexed incremental operator's pairs on the same split
  * (the restricted-equality contract), across appends, under the STORED
  * LSH parameters; and the index side of the search must cross no shuffle
  * Exchange (the scale property the index exists for).
  */
class BandIndexSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkTestSession.spark

  /** 10 near-dup groups of 6 docs each: within a group texts share a long
    * sentence (pairwise jaccard above 0.5), across groups they are
    * disjoint. */
  private def docs: DataFrame = {
    import spark.implicits._
    (for (g <- 0 until 10; j <- 0 until 6) yield {
      val base = s"group $g shared sentence tokens alpha$g beta$g gamma$g " +
        s"delta$g epsilon$g zeta$g eta$g theta$g iota$g kappa$g"
      (g * 10L + j, if (j % 2 == 0) base else s"$base extra$j tail$j")
    }).toDF("doc_id", "text")
  }

  private def pairs(df: DataFrame): Set[(Long, Long, Double)] =
    df.collect().map(r => (r.getLong(0), r.getLong(1),
      math.round(r.getDouble(2) * 1e9) / 1e9)).toSet

  test("index-backed pairs == incremental operator pairs; appends advance the history") {
    val d = docs
    val history = d.filter(col("doc_id") % 3 === 0)
    val batch1 = d.filter(col("doc_id") % 3 === 1)
    val batch2 = d.filter(col("doc_id") % 3 === 2)
    val conf = BandIndex.Conf(shingleSize = 3, numHashes = 64, bands = 16, numBuckets = 8)
    BandIndex.create(history, "doc_id", "text", "graft_bidx_t1", conf)
    try {
      val got1 = pairs(BandIndex.incrementalPairs(batch1, history, "doc_id", "text",
        "graft_bidx_t1", threshold = 0.5))
      val want1 = pairs(Dedup.minhashLshPairsIncremental(batch1, history, "doc_id", "text",
        shingleSize = 3, numHashes = 64, bands = 16, threshold = 0.5))
      assert(got1 == want1, s"batch1: got ${got1.size}, want ${want1.size}")
      assert(got1.nonEmpty, "fixture must produce near-dup pairs")

      BandIndex.append(batch1, "doc_id", "text", "graft_bidx_t1")
      val hist2 = history.unionByName(batch1)
      val got2 = pairs(BandIndex.incrementalPairs(batch2, hist2, "doc_id", "text",
        "graft_bidx_t1", threshold = 0.5))
      val want2 = pairs(Dedup.minhashLshPairsIncremental(batch2, hist2, "doc_id", "text",
        shingleSize = 3, numHashes = 64, bands = 16, threshold = 0.5))
      assert(got2 == want2, s"batch2 after append: got ${got2.size}, want ${want2.size}")
      // batch2 must see batch1 docs as history (pairs across the two batches)
      assert(got2.exists { case (a, b, _) => a % 3 == 1 || b % 3 == 1 },
        "appended batch1 docs must appear in batch2's pairs")
    } finally BandIndex.drop(spark, "graft_bidx_t1")
  }

  test("search runs under the STORED conf — caller passes no LSH parameters") {
    val d = docs
    val history = d.filter(col("doc_id") % 2 === 0)
    val batch = d.filter(col("doc_id") % 2 === 1)
    // non-default layout: if incrementalPairs did not read the stored conf,
    // candidates would be generated under the wrong band structure
    val conf = BandIndex.Conf(shingleSize = 2, numHashes = 32, bands = 8, numBuckets = 4)
    BandIndex.create(history, "doc_id", "text", "graft_bidx_t2", conf)
    try {
      val got = pairs(BandIndex.incrementalPairs(batch, history, "doc_id", "text",
        "graft_bidx_t2", threshold = 0.5))
      val want = pairs(Dedup.minhashLshPairsIncremental(batch, history, "doc_id", "text",
        shingleSize = 2, numHashes = 32, bands = 8, threshold = 0.5))
      assert(got == want)
      assert(got.nonEmpty)
    } finally BandIndex.drop(spark, "graft_bidx_t2")
  }

  test("searching a table without a conf companion fails with a clear message") {
    val e = intercept[IllegalArgumentException] {
      BandIndex.incrementalPairs(docs, docs, "doc_id", "text", "graft_bidx_missing")
    }
    assert(e.getMessage.contains("BandIndex.create"))
  }

  test("the index side of the search crosses no shuffle Exchange") {
    val d = docs
    val history = d.filter(col("doc_id") % 2 === 0)
    val batch = d.filter(col("doc_id") % 2 === 1)
    BandIndex.create(history, "doc_id", "text", "graft_bidx_t3",
      BandIndex.Conf(numBuckets = 4))
    val prevAqe = spark.conf.get("spark.sql.adaptive.enabled", "true")
    val prevBc = spark.conf.get("spark.sql.autoBroadcastJoinThreshold", "10MB")
    try {
      // deterministic non-adaptive sort-merge plan so the assertion reads
      // the real shape (a broadcast semi-join would ALSO leave the index
      // unshuffled, but SMJ is the 10^12-row regime)
      spark.conf.set("spark.sql.adaptive.enabled", "false")
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val plan = BandIndex.incrementalPairs(batch, history, "doc_id", "text",
        "graft_bidx_t3", threshold = 0.5).queryExecution.executedPlan
      def scansIndex(p: org.apache.spark.sql.execution.SparkPlan): Boolean =
        p.collect { case f: FileSourceScanExec
          if f.tableIdentifier.exists(_.table.contains("graft_bidx_t3")) => f }.nonEmpty
      // the scale property: the path from the index scan UP TO its semi-join
      // must cross no Exchange — the bucketed scan's reported partitioning
      // satisfies the join, so only the tiny batch-key side shuffles.
      // (Exchanges FURTHER downstream are fine and expected: by then the
      // history has been pruned to the touched-bucket rows.)
      val semiJoins = plan.collect {
        case j: org.apache.spark.sql.execution.joins.SortMergeJoinExec
          if j.joinType.sql == "LEFT SEMI" && scansIndex(j.left) => j
      }
      assert(semiJoins.nonEmpty,
        s"plan must semi-join the index table:\n${plan.toString.take(4000)}")
      semiJoins.foreach { j =>
        val shuffled = j.left.collect { case e: ShuffleExchangeExec => e }
        assert(shuffled.isEmpty,
          s"index side of the semi-join must not shuffle:\n${j.toString.take(4000)}")
      }
      // and the scan itself reads the bucketed layout
      val scan = plan.collect { case f: FileSourceScanExec
        if f.tableIdentifier.exists(_.table.contains("graft_bidx_t3")) => f }
      assert(scan.nonEmpty && scan.forall(_.bucketedScan),
        "index scan must be a bucketed scan")
    } finally {
      spark.conf.set("spark.sql.adaptive.enabled", prevAqe)
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevBc)
      BandIndex.drop(spark, "graft_bidx_t3")
    }
  }

  test("appends degrade files-per-bucket and the sort; compactTo restores both") {
    import graft.spark.dedup.IndexIO
    val d = docs
    val history = d.filter(col("doc_id") < 30)
    BandIndex.create(history, "doc_id", "text", "graft_bidx_t4",
      BandIndex.Conf(numBuckets = 4))
    val prevAqe = spark.conf.get("spark.sql.adaptive.enabled", "true")
    val prevBc = spark.conf.get("spark.sql.autoBroadcastJoinThreshold", "10MB")
    val prevOrd = spark.conf.get("spark.sql.legacy.bucketedTableScan.outputOrdering", "false")
    try {
      spark.conf.set("spark.sql.adaptive.enabled", "false")
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      // the conf the runtime sessions set (Verify/Bench/CuratePipeline):
      // bucketed scans only report their written sort under it, and only
      // while every bucket is a single file
      spark.conf.set("spark.sql.legacy.bucketedTableScan.outputOrdering", "true")
      assert(IndexIO.filesPerBucket(spark, "graft_bidx_t4", 4) == 1.0,
        "a fresh index holds exactly one file per bucket")
      def indexSortElided(table: String): Boolean = {
        // a one-file-per-bucket index reports its written sort order, so
        // the semi-join plan needs NO Sort above the index scan
        val batch = d.filter(col("doc_id") >= 50)
        val plan = BandIndex.incrementalPairs(batch, history, "doc_id", "text",
          table, threshold = 0.5).queryExecution.executedPlan
        val semiLefts = plan.collect {
          case j: org.apache.spark.sql.execution.joins.SortMergeJoinExec
            if j.joinType.sql == "LEFT SEMI" && j.left.collect {
              case f: FileSourceScanExec
                if f.tableIdentifier.exists(_.table.contains(table)) => f
            }.nonEmpty => j.left
        }
        assert(semiLefts.nonEmpty, s"no index semi-join in plan for $table")
        semiLefts.forall(_.collect {
          case s: org.apache.spark.sql.execution.SortExec => s
        }.isEmpty)
      }
      assert(indexSortElided("graft_bidx_t4"), "fresh index: sort must be elided")
      // two appends -> multiple files per bucket; the advisory metric moves
      // and the search must now re-sort the index side (the degradation the
      // append-time check exists to surface)
      val fpb1 = BandIndex.append(d.filter(col("doc_id") >= 30 && col("doc_id") < 40),
        "doc_id", "text", "graft_bidx_t4")
      val fpb2 = BandIndex.append(d.filter(col("doc_id") >= 40 && col("doc_id") < 50),
        "doc_id", "text", "graft_bidx_t4")
      assert(fpb1 > 1.0 && fpb2 > fpb1,
        s"each append must raise files-per-bucket (got $fpb1 then $fpb2)")
      assert(!indexSortElided("graft_bidx_t4"),
        "multi-file buckets must cost a per-search sort (the degraded state)")
      // compaction restores the one-file-per-bucket layout AND the plan
      BandIndex.compactTo(spark, "graft_bidx_t4", "graft_bidx_t4c")
      assert(IndexIO.filesPerBucket(spark, "graft_bidx_t4c", 4) == 1.0)
      assert(indexSortElided("graft_bidx_t4c"),
        "compacted index: sort elision must be restored")
    } finally {
      spark.conf.set("spark.sql.adaptive.enabled", prevAqe)
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevBc)
      spark.conf.set("spark.sql.legacy.bucketedTableScan.outputOrdering", prevOrd)
      BandIndex.drop(spark, "graft_bidx_t4")
      BandIndex.drop(spark, "graft_bidx_t4c")
    }
  }

  test("filesPerBucket: a hidden dir is not data; a real data subdirectory still fails") {
    import graft.spark.dedup.IndexIO
    BandIndex.create(docs, "doc_id", "text", "graft_bidx_t5", BandIndex.Conf(numBuckets = 4))
    try {
      val loc = new org.apache.hadoop.fs.Path(spark.sessionState.catalog
        .getTableMetadata(org.apache.spark.sql.catalyst.TableIdentifier("graft_bidx_t5")).location)
      val fs = loc.getFileSystem(spark.sparkContext.hadoopConfiguration)
      val fresh = IndexIO.filesPerBucket(spark, "graft_bidx_t5", 4)
      // what an in-flight or killed overwrite leaves in the table dir
      assert(fs.mkdirs(new org.apache.hadoop.fs.Path(loc, ".spark-staging-0f1e")))
      assert(IndexIO.filesPerBucket(spark, "graft_bidx_t5", 4) == fresh)
      assert(fs.mkdirs(new org.apache.hadoop.fs.Path(loc, "lang=en")))
      val e = intercept[IllegalArgumentException](IndexIO.filesPerBucket(spark, "graft_bidx_t5", 4))
      assert(e.getMessage.contains("lang=en") && !e.getMessage.contains(".spark-staging"),
        e.getMessage)
    } finally BandIndex.drop(spark, "graft_bidx_t5")
  }
}
