package perfbench

import java.security.MessageDigest

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.core.{BloomFilter, CountMinSketch, CuckooFilter, QuotientFilter}
import graft.ext.Kll
import graft.spark.aggs.SketchUdafs
import graft.spark.fns.SketchExpressions
import graft.spark.io.PagesGen
import graft.spark.pipeline.DataPipeline
import graft.spark.text.TextFunctions

/** What one timed iteration returned, checked after the clock stops. */
trait Outcome {
  /** Reasons the output is wrong; empty when every check passes. */
  def failures: Seq[String]
  /** Serialized bytes of the state the workload produces. */
  def stateBytes: Long
  /** Realized estimate errors, named as in `Workloads.errorNames`; a
    * workload leaves out the ones it has no sketch for. */
  def errors: Map[String, Double] = Map.empty
}

/** A workload after set-up: inputs cached, untimed ground truth computed. */
trait Prepared {
  /** Input rows one iteration processes (pages, probe keys or docs). */
  def rows: Long
  /** One closed-loop iteration. */
  def run(): Outcome
  /** Keys and values of this workload's own inputs, for kernel timing. */
  def keySample: Array[String]
  def valueSample: Array[Double]
  def close(): Unit
}

trait Workload {
  def name: String
  /** Caches the inputs, split into `partitions` partitions, and computes the
    * ground truth. */
  def setup(spark: SparkSession, seed: Long, partitions: Int, span: Tracer.SpanFn): Prepared
}

object Workloads {
  val all: Seq[Workload] = Seq(SketchBuild, SketchProbe, Curate)
  /** Per-layer metrics taken from the outputs rather than from timings. */
  val errorNames: Seq[String] = Seq("ext.kll_rank_err")
  def byName(n: String): Option[Workload] = all.find(_.name == n)

  private[perfbench] def sampleStrings(df: DataFrame, c: String, n: Int): Array[String] =
    df.select(col(c)).limit(n).collect().map(_.getString(0))

  private[perfbench] def fail(cond: Boolean, msg: => String): Option[String] =
    if (cond) None else Some(msg)
}

/** One pass over seeded PagesGen pages building the north-rule sketches per
  * lang through the SQL names that `SketchUdafs.registerAll` registers. */
object SketchBuild extends Workload {
  val name = "sketch_build"
  val pages = 200000L
  val topDomains = 3
  /** Checks use z = 5 standard errors: a correct sketch then fails a check
    * with probability under 1e-6, so a failure points at the code, not at
    * the seed. */
  val z = 5.0
  /** KLL normalized rank error: the 3% graft's own SparkAggSpec pins for
    * kll_agg(k = 200) over PagesGen text lengths. This is a known defect, not
    * the published bound: the DataSketches bound for k = 200 is 1.33% at 99%
    * confidence, and graft's sketch does not meet it (1.7-2.2% merged from 4
    * partial sketches, 4.4% in one sketch of 150k lengths). The realized
    * error is reported as the per-layer metric ext.kll_rank_err, so it stays
    * visible below this limit. */
  val kllEps = 0.03
  val quantiles: Seq[Double] = Seq(0.01, 0.05, 0.1, 0.25, 0.5, 0.75, 0.9, 0.95, 0.99)

  val query: String =
    """SELECT lang, hll_count(url) AS hll, bloom_agg(url) AS bloom,
      |       heavy_hitters(domain, 1L) AS hh, kll_agg(len) AS kll, count(1) AS n
      |FROM perfbench_pages GROUP BY lang""".stripMargin

  private final case class Truth(n: Long, distinct: Long, top: Seq[String],
                                 lenHist: Array[(Double, Long)])

  def setup(spark: SparkSession, seed: Long, partitions: Int, span: Tracer.SpanFn): Prepared = {
    SketchUdafs.registerAll(spark)
    val df = span("gen_inputs") {
      val d = PagesGen.pages(spark, pages, seed, numPartitions = partitions)
        .select(col("url"), col("lang"),
          substring_index(substring_index(col("url"), "/", 3), "/", -1).as("domain"),
          length(col("text")).cast("double").as("len"))
        .persist(StorageLevel.MEMORY_ONLY)
      d.count()
      d.createOrReplaceTempView("perfbench_pages")
      d
    }
    val truth: Map[String, Truth] = span("ground_truth") {
      val counts = df.groupBy("lang").agg(count(lit(1)), countDistinct("url")).collect()
        .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
      val doms = df.groupBy("lang", "domain").count().collect()
        .groupBy(_.getString(0)).map { case (l, rs) =>
          l -> rs.map(r => (r.getString(1), r.getLong(2))).sortBy { case (d, c) => (-c, d) }
            .take(topDomains).map(_._1).toSeq
        }
      val lens = df.groupBy("lang", "len").count().collect()
        .groupBy(_.getString(0)).map { case (l, rs) =>
          l -> rs.map(r => (r.getDouble(1), r.getLong(2))).sortBy(_._1)
        }
      counts.map { case (l, (n, d)) => l -> Truth(n, d, doms(l), lens(l)) }
    }
    val keys = Workloads.sampleStrings(df, "url", 1 << 16)
    val values = df.select("len").limit(1 << 16).collect().map(_.getDouble(0))

    new Prepared {
      val rows: Long = pages
      def keySample: Array[String] = keys
      def valueSample: Array[Double] = values
      def close(): Unit = { spark.catalog.dropTempView("perfbench_pages"); df.unpersist(true) }
      def run(): Outcome = {
        val res = spark.sql(query).collect()
        new Outcome {
          def stateBytes: Long = res.map(r =>
            r.getAs[Array[Byte]]("bloom").length.toLong + r.getAs[Array[Byte]]("kll").length).sum
          def failures: Seq[String] = check(res, truth)
          override def errors: Map[String, Double] = Map("ext.kll_rank_err" -> res.map { r =>
            kllRankError(Kll.fromBytes(r.getAs[Array[Byte]]("kll")), truth(r.getString(0)))
          }.max)
        }
      }
    }
  }

  private def check(res: Array[Row], truth: Map[String, Truth]): Seq[String] = {
    val got = res.map(r => r.getString(0) -> r).toMap
    Workloads.fail(got.keySet == truth.keySet, s"langs ${got.keySet} != ${truth.keySet}").toSeq ++
      truth.toSeq.flatMap { case (lang, t) => got.get(lang).toSeq.flatMap { r =>
        val hll = r.getAs[Long]("hll")
        val hllSe = 1.04 / math.sqrt(1 << 14) * t.distinct
        val bloom = BloomFilter.fromBytes(r.getAs[Array[Byte]]("bloom"))
        val x = bloom.numHashes.toDouble * t.distinct / bloom.numBits
        val bloomSe = math.sqrt(bloom.numBits * (math.exp(x) - 1 - x)) / bloom.numHashes
        val hh = r.getAs[scala.collection.Map[String, Long]]("hh")
        val kllErr = kllRankError(Kll.fromBytes(r.getAs[Array[Byte]]("kll")), t)
        Seq(
          Workloads.fail(r.getAs[Long]("n") == t.n, s"$lang: n ${r.getAs[Long]("n")} != ${t.n}"),
          Workloads.fail(math.abs(hll - t.distinct) <= z * hllSe + 1,
            s"$lang: hll_count $hll vs ${t.distinct} distinct urls"),
          Workloads.fail(math.abs(bloom.estimateElements - t.distinct) <= z * bloomSe + 1,
            s"$lang: bloom estimate ${bloom.estimateElements} vs ${t.distinct}"),
          Workloads.fail(t.top.forall(hh.contains),
            s"$lang: heavy hitters ${hh.keys.mkString(",")} miss true top ${t.top.mkString(",")}"),
          Workloads.fail(kllErr <= kllEps, s"$lang: kll rank error $kllErr > $kllEps")
        ).flatten
      }}
  }

  /** The largest rank error of `kll` over the checked quantiles. */
  private def kllRankError(kll: Kll, t: Truth): Double =
    quantiles.map(q => rankError(kll.quantile(q), q, t)).max

  /** Distance from q to the true normalized rank interval of v. */
  private def rankError(v: Double, q: Double, t: Truth): Double = {
    var below = 0L; var atOrBelow = 0L
    t.lenHist.foreach { case (x, c) => if (x < v) below += c; if (x <= v) atOrBelow += c }
    val lo = below.toDouble / t.n; val hi = atOrBelow.toDouble / t.n
    if (q < lo) lo - q else if (q > hi) q - hi else 0.0
  }
}

/** Filters built once in set-up over a member key set, then probed by a much
  * larger seeded stream of member and non-member keys through graft's
  * codegen'd probe expressions. Against a 2 MiB per-core L2, serialized: the
  * Bloom filter is 0.29x L2, the quotient filter 0.57x, the CMS 0.63x and
  * the cuckoo filter 1x; together 2.5x. Each filter holds its member set at
  * 0.57-0.6 of its configured capacity. */
object SketchProbe extends Workload {
  val name = "sketch_probe"
  val members = 300000L
  val probes = 1000000L
  val bloomCap = 500000L
  val bloomFpr = 0.01
  val cuckooBuckets: Int = 1 << 17
  val cuckooFpBits = 32
  val qfQuotient = 19
  val cmsWidth: Int = 1 << 16
  val cmsDepth = 5

  private final case class Filters(bloom: Array[Byte], cuckoo: Array[Byte], qf: Array[Byte],
                                   cms: Array[Byte]) {
    def bytes: Long = bloom.length.toLong + cuckoo.length + qf.length + cms.length
  }

  def setup(spark: SparkSession, seed: Long, partitions: Int, span: Tracer.SpanFn): Prepared = {
    import spark.implicits._
    val probeDf = span("gen_inputs") {
      val d = spark.range(0, probes, 1, partitions).as[Long].map { j =>
        val id = Gen.probeId(seed, j, members)
        (Gen.probeKey(seed, id), id < members)
      }.toDF("key", "member").persist(StorageLevel.MEMORY_ONLY)
      d.count()
      d
    }
    val filters = span("prebuild") {
      val r = spark.range(0, members, 1, partitions).as[Long].map(Gen.probeKey(seed, _)).toDF("key")
        .agg(SketchUdafs.bloom(bloomCap, bloomFpr)(col("key")),
          SketchUdafs.cuckoo(cuckooBuckets, 4, cuckooFpBits)(col("key")),
          SketchUdafs.quotientFilter(qfQuotient)(col("key")),
          SketchUdafs.cms(cmsWidth, cmsDepth)(col("key"), lit(1L)))
        .head()
      Filters(r.getAs[Array[Byte]](0), r.getAs[Array[Byte]](1), r.getAs[Array[Byte]](2),
        r.getAs[Array[Byte]](3))
    }
    /* Non-member probes repeat ids, so false positives come in clumps: sq is
     * the sum over distinct non-member keys of their multiplicity squared. */
    val (nMembers, nOthers, sq) = span("ground_truth") {
      val r = probeDf.agg(sum(col("member").cast("long")), count(lit(1))).head()
      val s = probeDf.filter(!col("member")).groupBy("key").count()
        .agg(sum(col("count") * col("count"))).head().getLong(0)
      (r.getLong(0), r.getLong(1) - r.getLong(0), s)
    }
    val cms = CountMinSketch.fromBytes(filters.cms)
    val cmsBound = math.floor(cms.errorRate * members).toLong
    /* Chance that one distinct non-member key is a false positive, from each
     * filter's actual load: (set bits / bits)^hashes for the Bloom filter. The
     * quotient filter stores a 32-bit hash, so a non-member is a false
     * positive when its hash equals a stored one: stored / 2^32. The cuckoo
     * filter derives both bucket indices from the fingerprint alone, so the
     * same holds for it: stored / 2^f. (`CuckooFilter.errorRate`, the
     * reference's 2b / 2^f, does not bound this design: it reads 1.9e-9
     * here.) */
    val bloomF = BloomFilter.fromBytes(filters.bloom)
    val pBloom = math.pow(bloomF.setBitsCount.toDouble / bloomF.numBits, bloomF.numHashes)
    val pCuckoo = CuckooFilter.fromBytes(filters.cuckoo, fingerprintBits = cuckooFpBits)
      .elementsAdded / math.pow(2.0, cuckooFpBits)
    val pQf = QuotientFilter.fromBytes(filters.qf).elementsAdded / math.pow(2.0, 32)
    /* The most false positives a correct filter gives: the expected count
     * plus z = 5 standard deviations, so a correct filter fails with
     * probability under 1e-6; for the Bloom filter also at most its
     * configured rate. For the CMS, the share of non-members estimated above
     * epsilon * N is at most delta, its published bound. */
    def expectedPlusZ(q: Double): Double = q * nOthers + SketchBuild.z * math.sqrt(q * (1 - q) * sq)
    val fpLimit = Map(
      "bloom" -> math.min(bloomFpr * nOthers, expectedPlusZ(pBloom)),
      "cuckoo" -> expectedPlusZ(pCuckoo),
      "qf" -> expectedPlusZ(pQf),
      "cms" -> (1.0 - cms.confidence) * nOthers)
    System.err.println(s"perfbench: sketch_probe false-positive limits over $nOthers non-member probes: " +
      fpLimit.map { case (n, l) => f"$n $l%.1f" }.mkString(", "))
    val key = col("key")
    val m = col("member")
    val hits = Seq(
      "bloom" -> SketchExpressions.bloomMightContainNative(filters.bloom, key),
      "cuckoo" -> SketchExpressions.cuckooContainsNative(filters.cuckoo, cuckooFpBits, key),
      "qf" -> SketchExpressions.qfContainsNative(filters.qf, key))
    val cmsEst = SketchExpressions.cmsCountNative(filters.cms, key)
    val aggs =
      hits.flatMap { case (n, h) => Seq(
        sum(when(m && h, 1L).otherwise(0L)).as(s"${n}_tp"),
        sum(when(!m && h, 1L).otherwise(0L)).as(s"${n}_fp")) } ++
      Seq(sum(when(m && cmsEst >= 1, 1L).otherwise(0L)).as("cms_tp"),
        sum(when(!m && cmsEst > cmsBound, 1L).otherwise(0L)).as("cms_fp"))
    val keys = Workloads.sampleStrings(probeDf, "key", 1 << 16)

    new Prepared {
      val rows: Long = probes
      def keySample: Array[String] = keys
      def valueSample: Array[Double] = keys.map(_.length.toDouble)
      def close(): Unit = probeDf.unpersist(true)
      def run(): Outcome = {
        val r = probeDf.agg(aggs.head, aggs.tail: _*).head()
        new Outcome {
          def stateBytes: Long = filters.bytes
          def failures: Seq[String] = Seq("bloom", "cuckoo", "qf", "cms").flatMap { n =>
            val tp = r.getAs[Long](s"${n}_tp")
            val fp = r.getAs[Long](s"${n}_fp")
            Seq(
              Workloads.fail(tp == nMembers, s"$n: ${nMembers - tp} false negatives"),
              Workloads.fail(fp <= fpLimit(n),
                s"$n: $fp false positives in $nOthers non-member probes > limit ${fpLimit(n)}")
            ).flatten
          }
        }
      }
    }
  }
}

/** `DataPipeline.curate` with the fuzzy near-dup stage on, over a seeded
  * corpus with planted exact and near duplicates, planted benchmark
  * contamination, Zipf sources and a fixed decontamination set. */
object Curate extends Workload {
  val name = "curate"
  val docs = 2000
  val domainCap = 5
  /** Per-lang token budget. After the cap each lang holds about 22,000 to
    * 66,000 tokens, so the budget binds in every lang. */
  val tokenBudget = 16000L
  val threshold = 0.8
  private val shingle = 3
  private val decontamN = 8

  private final case class Kept(docId: Long, lang: String, source: String, digest: String, toks: Long)

  def setup(spark: SparkSession, seed: Long, partitions: Int, span: Tracer.SpanFn): Prepared = {
    import spark.implicits._
    val corpus = span("gen_inputs")(Gen.corpus(seed, docs))
    val (docsDf, benchDf) = span("load_inputs") {
      val d = corpus.toSeq.map(x => (x.docId, x.lang, x.source, x.text))
        .toDF("doc_id", "lang", "source", "text").repartition(partitions)
        .persist(StorageLevel.MEMORY_ONLY)
      val b = Gen.benchTexts.toSeq.toDF("text").persist(StorageLevel.MEMORY_ONLY)
      d.count(); b.count()
      (d, b)
    }
    val (expected, nearDups) = span("ground_truth") {
      val quality = docsDf.filter(TextFunctions.isQuality(col("text"))).select("doc_id")
        .as[Long].collect().toSet
      val (kept, removed) = reference(corpus, quality)
      System.err.println(s"perfbench: curate reference removes $removed, keeps ${kept.length} docs, tokens per lang " +
        kept.groupBy(_.lang).map { case (l, ks) => l -> ks.map(_.toks).sum })
      val idle = removed.filter(_._2 == 0).keys
      if (idle.nonEmpty) throw new IllegalStateException(
        s"curate input exercises no ${idle.mkString(", ")} rule: $removed")
      /* Planted near-duplicates that must go whatever the reference says:
       * their parent passed the quality gate and their word-3-shingle
       * Jaccard with it is at or over the threshold, so their cluster keeps
       * a lower doc_id. */
      val must = corpus.filter(d => d.nearDup && quality(d.parent) &&
        jaccard(d.text, corpus(d.parent.toInt).text) >= threshold).map(_.docId).toSet
      if (must.isEmpty) throw new IllegalStateException("curate input plants no near-duplicate")
      (kept, must)
    }
    val keys = corpus.take(1 << 16).map(_.source)

    new Prepared {
      val rows: Long = docs.toLong
      def keySample: Array[String] = keys
      def valueSample: Array[Double] = corpus.take(1 << 16).map(_.text.length.toDouble)
      def close(): Unit = { docsDf.unpersist(true); benchDf.unpersist(true) }
      def run(): Outcome = {
        val kept = DataPipeline.curate(docsDf, benchDf, domainCap, tokenBudget,
            nearDupThreshold = Some(threshold))
          .collect()
          .map(r => Kept(r.getLong(0), r.getString(1), r.getString(2), r.getString(3), r.getLong(4)))
          .sortBy(_.docId)
        new Outcome {
          def stateBytes: Long = kept.map(k =>
            16L + k.lang.length + k.source.length + k.digest.length).sum
          def failures: Seq[String] = check(kept, expected, nearDups)
        }
      }
    }
  }

  private def check(kept: Array[Kept], expected: Array[Kept], nearDups: Set[Long]): Seq[String] = {
    val perGroup = kept.groupBy(k => (k.lang, k.source)).map { case (g, ks) => g -> ks.length }
    val perLang = kept.groupBy(_.lang).map { case (l, ks) => l -> ks.map(_.toks).sum }
    Seq(
      Workloads.fail(kept.map(_.digest).distinct.length == kept.length, "repeated digest kept"),
      Workloads.fail(perGroup.values.forall(_ <= domainCap),
        s"(lang, source) over cap: ${perGroup.filter(_._2 > domainCap).keys.take(3).mkString(",")}"),
      Workloads.fail(perLang.values.forall(_ <= tokenBudget),
        s"token budget exceeded: ${perLang.filter(_._2 > tokenBudget)}"),
      Workloads.fail(!kept.exists(k => nearDups(k.docId)),
        s"planted near-duplicates kept: ${kept.filter(k => nearDups(k.docId)).map(_.docId).take(5).mkString(",")}"),
      Workloads.fail(kept.sameElements(expected),
        s"kept ${kept.length} docs, reference keeps ${expected.length}; first difference at doc " +
          kept.map(_.docId).zipAll(expected.map(_.docId), -1L, -1L).find(p => p._1 != p._2))
    ).flatten
  }

  private def md5Hex(s: String): String =
    MessageDigest.getInstance("MD5").digest(s.getBytes("UTF-8")).map(b => f"${b & 0xff}%02x").mkString

  private def shingles(text: String, n: Int): Set[String] = {
    val ws = text.toLowerCase.split("\\s+").filter(_.nonEmpty)
    if (ws.length < n) Set(ws.mkString(" ")) else ws.sliding(n).map(_.mkString(" ")).toSet
  }

  private def jaccard(a: String, b: String): Double = {
    val sa = shingles(a, shingle); val sb = shingles(b, shingle)
    (sa & sb).size.toDouble / (sa | sb).size
  }

  /** The pipeline's documented rules, applied in plain Scala: quality gate
    * (taken from Spark once), exact dedup keeping the min doc_id per digest,
    * one doc per near-dup cluster (planted edges with exact Jaccard at or
    * over the threshold; representative = min doc_id), 8-token-shingle
    * decontamination, per-(lang, source) cap by (digest, doc_id), then a
    * per-lang token budget over the same order. Also returns how many docs
    * each of the last four rules removed. */
  private def reference(corpus: Array[Gen.Doc], quality: Set[Long]): (Array[Kept], Map[String, Int]) = {
    val digest = corpus.map(d => md5Hex(d.text))
    val toks = corpus.map(d => d.text.trim.split("\\s+").length.toLong)
    val firstByDigest = mutable.HashMap[String, Long]()
    corpus.foreach { d =>
      if (quality(d.docId)) firstByDigest.getOrElseUpdate(digest(d.docId.toInt), d.docId)
    }
    val survivor = (i: Long) => quality(i) && firstByDigest(digest(i.toInt)) == i
    val parent = mutable.LongMap[Long]()
    def find(x: Long): Long = { var r = x; while (parent.getOrElse(r, r) != r) r = parent(r); r }
    corpus.foreach { d =>
      if (d.parent >= 0 && quality(d.docId)) {
        val a = firstByDigest(digest(d.docId.toInt))
        val b = firstByDigest.getOrElse(digest(d.parent.toInt), -1L)
        if (b >= 0 && a != b && jaccard(corpus(a.toInt).text, corpus(b.toInt).text) >= threshold) {
            val (ra, rb) = (find(a), find(b))
          if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
        }
      }
    }
    val deduped = corpus.filter(d => survivor(d.docId))
    val clustered = deduped.filter(d => find(d.docId) == d.docId)
    val bench = Gen.benchTexts.flatMap(shingles(_, decontamN)).toSet
    val clean = clustered.filter(d => !shingles(d.text, decontamN).exists(bench))
      .map(d => Kept(d.docId, d.lang, d.source, digest(d.docId.toInt), toks(d.docId.toInt)))
    val order = Ordering.by[Kept, (String, Long)](k => (k.digest, k.docId))
    val capped = clean.groupBy(k => (k.lang, k.source)).values.flatMap(_.sorted(order).take(domainCap))
    val kept = capped.groupBy(_.lang).values.flatMap { ks =>
      var run = 0L
      ks.toSeq.sorted(order).filter { k => run += k.toks; run <= tokenBudget }
    }.toArray.sortBy(_.docId)
    (kept, Map("near-dup" -> (deduped.length - clustered.length),
      "decontamination" -> (clustered.length - clean.length),
      "cap" -> (clean.length - capped.size), "budget" -> (capped.size - kept.length)))
  }
}
