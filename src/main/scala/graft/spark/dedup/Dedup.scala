package graft.spark.dedup

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.expressions.UserDefinedFunction
import org.apache.spark.sql.functions._

import graft.spark.fns.TextExpressions
import graft.spark.io.DriverBudget

/** Deduplication operators for web-scale corpora.
  *
  * Scale shape (the part that matters at 10^12 docs):
  *   - exact dedup is a single hash-aggregate on a digest column — one
  *     shuffle keyed by the digest, never by the full text;
  *   - MinHash-LSH shuffles (band_id, band_hash) buckets — candidate
  *     generation is linear in docs × bands, the quadratic pair join is
  *     confined to within-bucket groups, and the signature/band kernels are
  *     codegen'd Catalyst expressions (no UDF in the hot path);
  *   - SimHash candidates join on C(6,3)=20 three-block keys (~32 bits
  *     each): hamming ≤ 3 flips bits in at most 3 of the 6 blocks, so some
  *     3-block combination is untouched and the pair collides on that key
  *     (Manku/Jain/Sarma, WWW 2007 §3). Buckets hold ~N/2^32 rows — unlike
  *     a bare 16-bit chunk join (2^16 buckets), this survives 10^12 docs.
  */
object Dedup extends Serializable {

  /** The fixed hyperplane-family seed shared by EVERY embedding LSH surface
    * (embeddingNearDupPairs, its incremental variant, and the persisted
    * [[EmbedIndex]]) — one constant so the index-vs-operator
    * restricted-equality contract can't drift on a retuned seed. */
  val EmbedHyperplaneSeed = 2000L

  /** Exact word-shingle Jaccard of two raw texts (the candidate-verify UDF;
    * tokenization mirrors the kernel: lowercase + \s+ split). */
  val jaccardText: UserDefinedFunction = udf((ta: String, tb: String, n: Int) => {
    def sh(t: String): Set[String] = {
      val toks = t.toLowerCase(java.util.Locale.ROOT).split("\\s+").filter(_.nonEmpty)
      if (toks.length < n) Set(toks.mkString(" "))
      else (0 to toks.length - n).map(i => toks.slice(i, i + n).mkString(" ")).toSet
    }
    val sa = sh(ta); val sb = sh(tb)
    if (sa.isEmpty && sb.isEmpty) 1.0
    else sa.intersect(sb).size.toDouble / sa.union(sb).size.toDouble
  })

  /** Truncation telemetry for the LSH bucket caps: a silent cap reads as
    * "covered everything" when it didn't, so every pair generator counts
    * capped buckets and the ids it dropped into named accumulators (visible
    * per-stage in the Spark UI; asserted in Round3Spec). Semantics are
    * AT-LEAST-ONCE — the updates happen inside a transformation, so task
    * retries / speculative copies / stage re-runs can double-count. ZERO is
    * therefore exact evidence of no truncation; a non-zero value means some
    * bucket hit the cap at least once (magnitude is approximate) — raise
    * bits/bands or run exact dedup first. */
  final case class TruncationTelemetry(
      truncatedBuckets: org.apache.spark.util.LongAccumulator,
      droppedIds: org.apache.spark.util.LongAccumulator)

  object TruncationTelemetry {
    def apply(spark: org.apache.spark.sql.SparkSession, label: String): TruncationTelemetry =
      TruncationTelemetry(
        spark.sparkContext.longAccumulator(s"graft.$label.truncated_buckets"),
        spark.sparkContext.longAccumulator(s"graft.$label.dropped_ids"))
  }

  /** All (lo, hi) id pairs within a bucket, ids sorted for determinism.
    * `maxBucket` truncates pathological buckets (sorted prefix): a bucket of
    * B near-identical docs emits B² pairs no matter how candidates are
    * generated — run exact dedup BEFORE near-dup LSH so identical-content
    * clusters never reach this stage (standard pipeline ordering). Truncation
    * is COUNTED, never silent (`tele`). */
  private def bucketPairsUdf(maxBucket: Int, tele: TruncationTelemetry): UserDefinedFunction =
    udf((ids: Seq[Long]) => {
      if (ids.length > maxBucket) {
        tele.truncatedBuckets.add(1L)
        tele.droppedIds.add((ids.length - maxBucket).toLong)
      }
      val sorted = ids.sorted.take(maxBucket).toArray
      val out = scala.collection.mutable.ArrayBuffer[(Long, Long)]()
      var i = 0
      while (i < sorted.length) {
        var j = i + 1
        while (j < sorted.length) { out += ((sorted(i), sorted(j))); j += 1 }
        i += 1
      }
      out
    })

  /** MinHash-LSH near-duplicate pairs.
    *
    * df must carry (idCol BIGINT, textCol). Pipeline: fused
    * shingle→minhash→band kernel (codegen'd, emits only `bands` longs per
    * doc) → explode → ONE shuffle keyed by (band, hash) → within-bucket pair
    * generation → exact-Jaccard verify on candidates. Grouping (rather than
    * a self-join) runs the signature kernel and the banded shuffle once.
    * Returns (id_a, id_b, jaccard) with id_a < id_b, jaccard >= threshold.
    */
  def minhashLshPairs(df: DataFrame, idCol: String, textCol: String,
                      shingleSize: Int = 3, numHashes: Int = 64, bands: Int = 16,
                      threshold: Double = 0.8, maxBucket: Int = 4096,
                      telemetry: Option[TruncationTelemetry] = None): DataFrame = {
    val tele = telemetry.getOrElse(TruncationTelemetry(df.sparkSession, "minhash"))
    val base = df.select(col(idCol).cast("long").as("doc_id"), col(textCol).as("text"))

    // (doc_id, band, band_hash) only — the exploded/shuffled relation stays
    // 3 narrow columns; neither shingles nor the 64-long signature ever
    // cross an exchange
    val banded = base
      .select(col("doc_id"),
        posexplode(TextExpressions.minhashBandsNative(
          col("text"), shingleSize, numHashes, bands)).as(Seq("band", "bh")))

    val candidates = banded
      .groupBy(col("band"), col("bh"))
      .agg(collect_list(col("doc_id")).as("ids"))
      .filter(size(col("ids")) > 1)
      .select(explode(bucketPairsUdf(maxBucket, tele)(col("ids"))).as("p"))
      .select(col("p._1").as("id_a"), col("p._2").as("id_b"))
      .distinct()

    // exact-Jaccard verification only on the (few) candidate pairs
    verifyCandidatePairs(base, candidates, shingleSize, threshold)
  }

  /** INCREMENTAL MinHash-LSH near-dup pairs — the daily-crawl shape: find
    * every near-dup pair that INVOLVES a new-batch doc (new↔old and
    * new↔new), without re-generating the old↔old pairs history already
    * produced. Both sides run the same fused band kernel and share ONE
    * (band, hash) shuffle; the within-bucket pair generator emits only
    * pairs touching a new doc, so a bucket of B_old history docs costs
    * B_old·B_new inspections, never B_old² — at 10^12 indexed docs with a
    * small daily batch that is the whole ballgame. Exact-Jaccard verify on
    * candidates, as in [[minhashLshPairs]]. Ids must be unique ACROSS both
    * frames. Returns (id_a, id_b, jaccard), id_a < id_b — exactly the
    * full-corpus pairs restricted to those touching `newDocs`
    * (q_dedup_incremental pins this against the full DuckDB closure). */
  def minhashLshPairsIncremental(newDocs: DataFrame, oldDocs: DataFrame,
                                 idCol: String, textCol: String,
                                 shingleSize: Int = 3, numHashes: Int = 64,
                                 bands: Int = 16, threshold: Double = 0.8,
                                 maxBucket: Int = 4096,
                                 telemetry: Option[TruncationTelemetry] = None): DataFrame = {
    val tele = telemetry.getOrElse(TruncationTelemetry(newDocs.sparkSession, "minhash_incr"))
    val tag = (df: DataFrame, isNew: Boolean) => df.select(
      col(idCol).cast("long").as("doc_id"), col(textCol).as("text"),
      lit(isNew).as("is_new"))
    val base = tag(newDocs, true).unionByName(tag(oldDocs, false))
    val banded = base
      .select(col("doc_id"), col("is_new"),
        posexplode(TextExpressions.minhashBandsNative(
          col("text"), shingleSize, numHashes, bands)).as(Seq("band", "bh")))
    val pairsUdf = newTouchingPairsUdf(maxBucket, tele)
    val candidates = banded
      .groupBy(col("band"), col("bh"))
      // ONE collect_list of (id, flag) structs: the pairing is explicit in
      // the row, not positional across two aggregates (Spark aligns parallel
      // collect_lists per-execution in practice but guarantees nothing)
      .agg(collect_list(struct(col("doc_id"), col("is_new"))).as("members"))
      // history-only buckets never emit — drop them BEFORE pair generation
      // (the aggregate sees them, but the quadratic loop never runs)
      .filter(size(col("members")) > 1 && exists(col("members"), m => m.getField("is_new")))
      .select(explode(pairsUdf(col("members"))).as("p"))
      .select(col("p._1").as("id_a"), col("p._2").as("id_b"))
      .distinct()
    verifyCandidatePairs(base, candidates, shingleSize, threshold)
  }

  /** Pair generator over a sorted (id, is_new) bucket, shared by the
    * incremental operator and the index-backed [[BandIndex]] search
    * (truncation = the SAME sorted prefix the full operator takes, so the
    * restricted-equality contract holds under caps too): loop NEW docs
    * against everything — a bucket of B_old history docs costs B_old·B_new
    * inspections, never B_old², and both-new pairs dedupe by the
    * id(n) < id(j) guard. */
  private[dedup] def newTouchingPairsUdf(maxBucket: Int,
                                         tele: TruncationTelemetry): UserDefinedFunction =
    udf((members: Seq[Row]) => {
      val z = members.map(r => (r.getLong(0), r.getBoolean(1))).sortBy(_._1).toArray
      val capped = if (z.length > maxBucket) {
        tele.truncatedBuckets.add(1L)
        tele.droppedIds.add((z.length - maxBucket).toLong)
        z.take(maxBucket)
      } else z
      val out = scala.collection.mutable.ArrayBuffer[(Long, Long)]()
      var n = 0
      while (n < capped.length) {
        if (capped(n)._2) {
          var j = 0
          while (j < capped.length) {
            if (j != n && !(capped(j)._2 && capped(j)._1 < capped(n)._1)) {
              val a = capped(n)._1; val b = capped(j)._1
              out += (if (a < b) (a, b) else (b, a))
            }
            j += 1
          }
        }
        n += 1
      }
      out
    })

  /** The exact-Jaccard candidate-verify tail shared by the full and
    * incremental LSH operators (two text joins + the kernel-parity UDF). */
  private[dedup] def verifyCandidatePairs(base: DataFrame, candidates: DataFrame,
                                          shingleSize: Int, threshold: Double): DataFrame =
    candidates
      .join(base.select(col("doc_id").as("id_a"), col("text").as("text_a")), "id_a")
      .join(base.select(col("doc_id").as("id_b"), col("text").as("text_b")), "id_b")
      .withColumn("jaccard", jaccardText(col("text_a"), col("text_b"), lit(shingleSize)))
      .filter(col("jaccard") >= threshold)
      .select(col("id_a"), col("id_b"), col("jaccard"))

  /** Connected components over a near-dup pair list — the stage that turns
    * pairs into a DEDUP DECISION: every doc gets the min doc id of its
    * near-dup cluster as `rep`, so "keep one per cluster" is
    * `filter(doc_id === rep)`.
    *
    * Algorithm: min-label propagation (each round a node adopts the min rep
    * among itself and its neighbors — one narrow (id, rep) shuffle) plus
    * pointer halving (rep := rep's rep, one more narrow self-join), giving
    * O(log diameter) rounds instead of O(diameter) on chains. Each round
    * materializes via localCheckpoint to keep the plan flat (on a cluster,
    * use a reliable checkpoint dir). Scale shape: every round is
    * O(|edges| + |nodes|) shuffled bytes over two-column rows, never text —
    * the DataFrame rendering of the alternating-star CC family (Kiveris et
    * al., "Connected Components in MapReduce and Beyond", SoCC 2014).
    *
    * Input columns: (id_a, id_b). Output: (doc_id, rep) for every doc that
    * appears in at least one pair. A pair with a null id is no edge and is
    * dropped before either path runs.
    *
    * `checkpointDir`: when set, per-round materialization uses RELIABLE
    * checkpoints under that directory (HDFS/S3 on a cluster) instead of
    * `localCheckpoint` — local checkpoints pin the computed blocks to
    * specific executors, so losing one executor mid-job loses the lineage
    * truncation and fails the job (fine on local[*], wrong at 1000
    * executors). ConnectedComponentsSpec runs both modes to identical
    * labels. Throws if the label fixpoint is not reached within `maxIters`
    * (pointer halving converges in O(log diameter), so 25 covers any real
    * graph; an unconverged result would silently mis-cluster).
    *
    * NOTE: `setCheckpointDir` is SparkContext-GLOBAL. To avoid clobbering a
    * directory another concurrent job configured, `checkpointDir` is applied
    * only when the context has none yet — an already-configured session
    * checkpoint dir takes precedence (and is left untouched). */
  def connectedComponents(pairs: DataFrame, maxIters: Int = 25,
                          checkpointDir: Option[String] = None,
                          maxDriverEdges: Long = 1L << 20): DataFrame = {
    // a pair with a null id is no edge: drop it before either path, so the
    // driver path never unboxes a null id (Row.getLong throws on one) and
    // both paths see one edge set
    val edgePairs = pairs.filter(col("id_a").isNotNull && col("id_b").isNotNull)
    // round 7: SIZE-ADAPTIVE fast path, the heavySet limit-probe pattern —
    // when the edge list fits a bounded driver budget (default 2^20 edges
    // ≈ 16 MB of longs), label components with a driver-side union-find
    // and skip the iterative join rounds entirely: each round is 2+ Spark
    // jobs whose fixed overhead dominates small graphs (the incremental
    // pipelines' batch-batch edge sets are tiny by construction; measured
    // ~3 s of q_pipeline_incremental's wall was CC rounds over a few
    // hundred edges). Labels are IDENTICAL (rep = min id of the
    // component); one bounded probe job is the price on the big-graph
    // path, which then runs the unchanged distributed min-label +
    // pointer-halving rounds (the 10^12-doc shape). Pass
    // maxDriverEdges = 0 to force the distributed path (the specs do).
    val driverEdges = if (maxDriverEdges <= 0) None else DriverBudget.collectAtMost(
      edgePairs.select(col("id_a").cast("long").as("src"), col("id_b").cast("long").as("dst")),
      maxDriverEdges, "Dedup.connectedComponents edges")
    if (driverEdges.isDefined) {
      val uf = new LongUnionFind
      driverEdges.get.foreach(e => uf.union(e.getLong(0), e.getLong(1)))
      val spark = pairs.sparkSession
      import spark.implicits._
      return uf.ids.map(n => (n, uf.find(n))).toSeq.toDF("doc_id", "rep")
    }
    val ck: DataFrame => DataFrame = checkpointDir match {
      case Some(dir) =>
        val sc = pairs.sparkSession.sparkContext
        if (sc.getCheckpointDir.isEmpty) sc.setCheckpointDir(dir)
        df => df.checkpoint(eager = true)
      case None => df => df.localCheckpoint(true)
    }
    val edges = ck(edgePairs
      .select(col("id_a").cast("long").as("src"), col("id_b").cast("long").as("dst"))
      .union(edgePairs.select(col("id_b").cast("long").as("src"),
        col("id_a").cast("long").as("dst")))
      .distinct())
    var labels = ck(edges.select(col("src").as("id")).distinct()
      .withColumn("rep", col("id")))
    var it = 0
    var done = false
    while (!done && it < maxIters) {
      // 1) neighbor-min: adopt the smallest rep among self + neighbors
      val nmin = edges
        .join(labels.select(col("id").as("src"), col("rep").as("srep")), "src")
        .groupBy(col("dst").as("id"))
        .agg(min(col("srep")).as("nrep"))
      // carry the pre-round label through the round (round 7): the
      // fixpoint check then reads the materialized round output directly
      // instead of re-joining the previous label table — one fewer
      // shuffle join per round
      val stepped = labels.join(nmin, Seq("id"), "left")
        .select(col("id"), col("rep").as("__old"),
          least(col("rep"), coalesce(col("nrep"), col("rep"))).as("rep"))
      // 2) pointer halving: rep := rep(rep) — collapses label chains
      val repOf = stepped.select(col("id").as("rep_key"), col("rep").as("rep2"))
      val halved = ck(stepped.join(repOf, stepped("rep") === repOf("rep_key"), "left")
        .select(stepped("id"), coalesce(col("rep2"), stepped("rep")).as("rep"),
          col("__old")))
      done = halved.filter(col("rep") =!= col("__old")).isEmpty
      labels = halved.select(col("id"), col("rep"))
      it += 1
    }
    // an unconverged label table would silently mis-cluster downstream
    // "keep one per cluster" decisions — fail loudly instead
    require(done, s"connectedComponents did not converge within $maxIters rounds " +
      "(pointer halving converges in O(log diameter) — raise maxIters)")
    labels.select(col("id").as("doc_id"), col("rep"))
  }

  // 6 simhash blocks over 64 bits: lens 11,11,11,11,10,10 at these offsets
  private val blockOffsets = Array(0, 11, 22, 33, 44, 54)

  /** The 20 (i<j<k) block triples of the C(6,3) pigeonhole. */
  private val blockCombos: Seq[(Int, Int, Int)] =
    for (i <- 0 until 6; j <- (i + 1) until 6; k <- (j + 1) until 6) yield (i, j, k)

  /** Block b of a 64-bit simhash as a Column (pure bit ops, codegen'd). */
  private def blockOf(sim: Column, b: Int): Column = {
    val len = if (b < 4) 11 else 10
    shiftrightunsigned(sim, blockOffsets(b)) bitwiseAND lit((1L << len) - 1)
  }

  /** The 20 combo keys FUSED into single 38-bit longs (combo id in bits
    * 33-37, the 33-bit 3-block key below) — collision-free by construction,
    * so grouping by this single column is EXACTLY grouping by (combo, key);
    * the storage/join key of [[SimHashIndex]]. */
  private[dedup] def comboKeysLong(sim: Column): Column =
    array(blockCombos.zipWithIndex.map { case ((i, j, k), c) =>
      lit(c.toLong << 33) bitwiseOR
        shiftleft(blockOf(sim, i), 22) bitwiseOR
        shiftleft(blockOf(sim, j), 11) bitwiseOR blockOf(sim, k)
    }: _*)

  /** Embedding-cosine near-duplicate pairs: random-hyperplane LSH bucketing
    * (a pair is a candidate if it collides in ANY of `tables` buckets) +
    * exact-cosine verify — the embedding-space sibling of minhashLshPairs.
    * The default 12 bits/table keeps buckets ~N/2^12 per table — the
    * scale-sane setting for real near-dup thresholds (cosine >= 0.9, where
    * p = 1 - theta/pi ~ 0.856 gives per-pair miss (1 - p^12)^32 ~ 0.3%;
    * raise tables for tighter recall). Verification-scale corpora with LOW
    * thresholds need coarser buckets — the q_embed_neardup fixture (cosine
    * 0.4, 500 rows) passes bitsPerTable = 3 explicitly. maxBucket truncates
    * pathological buckets (sorted-prefix, like the minhash path); if buckets
    * routinely hit it, bitsPerTable is too small for the corpus. */
  def embeddingNearDupPairs(df: DataFrame, idCol: String, embCol: String,
                            threshold: Double, dim: Int, tables: Int = 32,
                            bitsPerTable: Int = 12, maxBucket: Int = 4096,
                            telemetry: Option[TruncationTelemetry] = None): DataFrame = {
    import graft.spark.ann.Ann
    val tele = telemetry.getOrElse(TruncationTelemetry(df.sparkSession, "embed_neardup"))
    val base = df.select(col(idCol).cast("long").as("vid"), col(embCol).as("emb"))
    // fused kernel: ONE UDF call emits all table signatures (bit-identical
    // to the per-table hyperplaneSig chain — VecExprSpec)
    val sigsAll = Ann.hyperplaneSigs(tables, bitsPerTable, dim, seedBase = EmbedHyperplaneSeed)
    val bucketed = base
      .select(col("vid"), posexplode(sigsAll(col("emb"))).as(Seq("t", "h")))
    val candidates = bucketed
      .groupBy(col("t"), col("h"))
      .agg(collect_list(col("vid")).as("ids"))
      .filter(size(col("ids")) > 1)
      .select(explode(bucketPairsUdf(maxBucket, tele)(col("ids"))).as("p"))
      .select(col("p._1").as("id_a"), col("p._2").as("id_b"))
      .distinct()
    candidates
      .join(base.select(col("vid").as("id_a"), col("emb").as("emb_a")), "id_a")
      .join(base.select(col("vid").as("id_b"), col("emb").as("emb_b")), "id_b")
      .filter(Ann.cosine(col("emb_a"), col("emb_b")) >= threshold)
      .select(col("id_a"), col("id_b"))
  }

  /** Within-bucket (id, sim) pair generation with the hamming filter PUSHED
    * INSIDE: a bucket of B rows inspects B²/2 pairs but only emits the ones
    * within `maxHamming` — the far-pair majority dies before the dedup
    * `distinct()` exchange instead of being shuffled 20-combos-deep and
    * filtered after. Members arrive as ONE struct list (round 7: explicit
    * (id, sim) pairing in the row, replacing the previous parallel
    * collect_lists whose index alignment Spark does not guarantee). */
  private def bucketSimPairsUdf(maxBucket: Int, maxHamming: Int,
                                tele: TruncationTelemetry): UserDefinedFunction =
    udf((members: Seq[Row]) => {
      if (members.length > maxBucket) {
        tele.truncatedBuckets.add(1L)
        tele.droppedIds.add((members.length - maxBucket).toLong)
      }
      val z = members.map(r => (r.getLong(0), r.getLong(1)))
        .sortBy(_._1).take(maxBucket).toArray
      val out = scala.collection.mutable.ArrayBuffer[(Long, Long, Int)]()
      var i = 0
      while (i < z.length) {
        var j = i + 1
        while (j < z.length) {
          val h = java.lang.Long.bitCount(z(i)._2 ^ z(j)._2)
          if (h <= maxHamming) out += ((z(i)._1, z(j)._1, h))
          j += 1
        }
        i += 1
      }
      out
    })

  /** New-touching pair generator over a sorted (id, sim, is_new) bucket with
    * the hamming filter PUSHED INSIDE — the simhash sibling of
    * [[newTouchingPairsUdf]], shared by [[simhashPairsIncremental]] and the
    * index-backed [[SimHashIndex]] search (same sorted-prefix truncation as
    * the full operator, so the restricted-equality contract holds under
    * caps too). A bucket of B_old history docs costs B_old·B_new hamming
    * inspections, never B_old². */
  private[dedup] def newTouchingSimPairsUdf(maxBucket: Int, maxHamming: Int,
                                            tele: TruncationTelemetry): UserDefinedFunction =
    udf((members: Seq[Row]) => {
      val z = members.map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2)))
        .sortBy(_._1).toArray
      val capped = if (z.length > maxBucket) {
        tele.truncatedBuckets.add(1L)
        tele.droppedIds.add((z.length - maxBucket).toLong)
        z.take(maxBucket)
      } else z
      val out = scala.collection.mutable.ArrayBuffer[(Long, Long, Int)]()
      var n = 0
      while (n < capped.length) {
        if (capped(n)._3) {
          var j = 0
          while (j < capped.length) {
            // skip self; dedupe new↔new by letting only the smaller id drive
            if (j != n && !(capped(j)._3 && capped(j)._1 < capped(n)._1)) {
              val h = java.lang.Long.bitCount(capped(n)._2 ^ capped(j)._2)
              if (h <= maxHamming) {
                val a = capped(n)._1; val b = capped(j)._1
                out += (if (a < b) (a, b, h) else (b, a, h))
              }
            }
            j += 1
          }
        }
        n += 1
      }
      out
    })

  /** INCREMENTAL SimHash near-dup pairs — every pair with hamming <=
    * maxHamming that INVOLVES a `newDocs` doc (new↔old and new↔new),
    * without re-generating history↔history pairs: both sides share ONE
    * (combo, key) shuffle and the within-bucket generator only loops new
    * docs against bucket members. For maxHamming <= 3 the C(6,3) pigeonhole
    * makes recall exact, so the result EQUALS [[simhashPairs]] restricted
    * to new-touching pairs (IncrementalDedupSpec pins this). Ids must be
    * unique across both frames. Returns (id_a, id_b, hamming), id_a < id_b.
    *
    * Like [[minhashLshPairsIncremental]] this still signs the history every
    * call (one cheap kernel pass, but O(history)); the PERSISTED form that
    * signs only the batch is [[SimHashIndex]]. */
  def simhashPairsIncremental(newDocs: DataFrame, oldDocs: DataFrame,
                              idCol: String, textCol: String,
                              maxHamming: Int = 3, maxBucket: Int = 4096,
                              telemetry: Option[TruncationTelemetry] = None): DataFrame = {
    val tele = telemetry.getOrElse(TruncationTelemetry(newDocs.sparkSession, "simhash_incr"))
    val tag = (df: DataFrame, isNew: Boolean) => df.select(
      col(idCol).cast("long").as("doc_id"),
      TextExpressions.simhash64Native(col(textCol)).as("sim"),
      lit(isNew).as("is_new"))
    val keyed = tag(newDocs, true).unionByName(tag(oldDocs, false))
      .select(col("doc_id"), col("sim"), col("is_new"),
        explode(comboKeysLong(col("sim"))).as("skey"))
    keyed
      .groupBy(col("skey"))
      .agg(collect_list(struct(col("doc_id"), col("sim"), col("is_new"))).as("members"))
      .filter(size(col("members")) > 1 && exists(col("members"), m => m.getField("is_new")))
      .select(explode(newTouchingSimPairsUdf(maxBucket, maxHamming, tele)(col("members"))).as("p"))
      .select(col("p._1").as("id_a"), col("p._2").as("id_b"), col("p._3").as("hamming"))
      .distinct()
  }

  /** INCREMENTAL embedding-cosine near-dup pairs — every pair with cosine >=
    * threshold that INVOLVES a `newVecs` vector, without re-generating
    * history↔history pairs: one shared (table, bucket) shuffle, new-touching
    * pair generation within buckets, exact-cosine verify on candidates (the
    * embedding sibling of [[minhashLshPairsIncremental]]; equals
    * [[embeddingNearDupPairs]] restricted to new-touching pairs whenever the
    * bucket settings give full recall — IncrementalDedupSpec pins this on
    * the q_embed_neardup settings). Ids must be unique across both frames.
    * The PERSISTED form that signs only the batch is [[EmbedIndex]]. */
  def embeddingNearDupPairsIncremental(newVecs: DataFrame, oldVecs: DataFrame,
                                       idCol: String, embCol: String,
                                       threshold: Double, dim: Int, tables: Int = 32,
                                       bitsPerTable: Int = 12, maxBucket: Int = 4096,
                                       telemetry: Option[TruncationTelemetry] = None): DataFrame = {
    import graft.spark.ann.Ann
    val tele = telemetry.getOrElse(
      TruncationTelemetry(newVecs.sparkSession, "embed_neardup_incr"))
    val tag = (df: DataFrame, isNew: Boolean) => df.select(
      col(idCol).cast("long").as("vid"), col(embCol).as("emb"), lit(isNew).as("is_new"))
    val base = tag(newVecs, true).unionByName(tag(oldVecs, false))
    val sigsAll = Ann.hyperplaneSigs(tables, bitsPerTable, dim, seedBase = EmbedHyperplaneSeed)
    val bucketed = base
      .select(col("vid"), col("is_new"), posexplode(sigsAll(col("emb"))).as(Seq("t", "h")))
    val candidates = bucketed
      .groupBy(col("t"), col("h"))
      .agg(collect_list(struct(col("vid"), col("is_new"))).as("members"))
      .filter(size(col("members")) > 1 && exists(col("members"), m => m.getField("is_new")))
      .select(explode(newTouchingPairsUdf(maxBucket, tele)(col("members"))).as("p"))
      .select(col("p._1").as("id_a"), col("p._2").as("id_b"))
      .distinct()
    candidates
      .join(base.select(col("vid").as("id_a"), col("emb").as("emb_a")), "id_a")
      .join(base.select(col("vid").as("id_b"), col("emb").as("emb_b")), "id_b")
      .filter(Ann.cosine(col("emb_a"), col("emb_b")) >= threshold)
      .select(col("id_a"), col("id_b"))
  }

  /** SimHash near-duplicate pairs with hamming distance <= maxHamming.
    *
    * Candidate recall is GUARANTEED for maxHamming <= 3 (the C(6,3) block
    * pigeonhole); larger maxHamming still works but recall becomes
    * probabilistic. Bucket keys carry ~32 bits, so bucket sizes stay ~N/2^32
    * at corpus scale (round-1 verdict #3's fix for the 16-bit chunk join);
    * like the minhash path, ONE shuffle keyed by (combo, key), pair
    * generation within buckets, simhash kernel runs once. */
  def simhashPairs(df: DataFrame, idCol: String, textCol: String,
                   maxHamming: Int = 3, maxBucket: Int = 4096,
                   telemetry: Option[TruncationTelemetry] = None): DataFrame = {
    val tele = telemetry.getOrElse(TruncationTelemetry(df.sparkSession, "simhash"))
    val withSim = df.select(col(idCol).cast("long").as("doc_id"),
      TextExpressions.simhash64Native(col(textCol)).as("sim"))
    // round 7: the 20 combo keys ship as single FUSED 38-bit longs
    // ([[comboKeysLong]] — collision-free by construction, so grouping by
    // the one column IS grouping by (combo, key); the incremental operator
    // and SimHashIndex already keyed this way). The shuffle row narrows
    // from (doc_id, sim, combo int, key long) to (doc_id, sim, skey long)
    // and the aggregate carries ONE struct list instead of two parallel
    // collect_lists.
    val keyed = withSim
      .select(col("doc_id"), col("sim"), explode(comboKeysLong(col("sim"))).as("skey"))
    keyed
      .groupBy(col("skey"))
      .agg(collect_list(struct(col("doc_id"), col("sim"))).as("members"))
      .filter(size(col("members")) > 1)
      .select(explode(bucketSimPairsUdf(maxBucket, maxHamming, tele)(col("members"))).as("p"))
      .select(col("p._1").as("id_a"), col("p._2").as("id_b"), col("p._3").as("hamming"))
      .distinct()
  }
}
