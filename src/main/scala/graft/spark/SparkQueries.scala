package graft.spark

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.spark.aggs._
import graft.spark.ann.Ann
import graft.spark.dedup.Dedup
import graft.spark.fns.SketchFunctions
import graft.spark.text.TextFunctions

/** The engine's query surface: each method is one operator pipeline from
  * SURVEY.md §2 re-expressed Spark-first. SparkEntry exposes these to the
  * driver's Verify/Bench harness.
  *
  * Conventions:
  *  - only `doc`/`lineitem`/... columns actually used are selected, so
  *    column pruning reaches the parquet scan;
  *  - sketch builds are single hash-aggregates (partial per partition,
  *    merge at the exchange) — the aggregator IS the distributed algorithm;
  *  - membership queries use sketch-probe → exact-verify, so their output is
  *    deterministic and oracle-checkable while still exercising the sketch
  *    end to end (a lost true member would break the oracle match).
  */
object SparkQueries {

  private def tbl(spark: SparkSession, dir: String, name: String): DataFrame =
    spark.read.parquet(s"$dir/$name.parquet")

  // ---------- exact-oracle queries ----------

  /** Per-lang doc counts + char volume (baseline scan/agg shape). */
  def docsStats(spark: SparkSession, dir: String): DataFrame =
    tbl(spark, dir, "documents")
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("total_chars"))

  /** Exact dedup by content digest — the hash-groupBy dedup operator. */
  def dedupExact(spark: SparkSession, dir: String): DataFrame =
    tbl(spark, dir, "documents")
      .select(col("lang"), md5(col("text")).as("digest"))
      .groupBy(col("lang"))
      .agg(countDistinct(col("digest")).as("n_distinct_texts"))

  /** Benchmark decontamination (the flagship corpus-level Bloom use-case):
    * a deterministic doc-id class stands in for the benchmark corpus; every
    * doc sharing a 3-token shingle with it is flagged. Bloom prunes
    * map-side, the exact semi-join verifies candidates only — so the per-lang
    * counts are exact and oracle-checkable while the Bloom filter carries
    * the real pruning decision. */
  def decontaminateStats(spark: SparkSession, dir: String): DataFrame = {
    import graft.spark.dedup.Corpus
    val docs = tbl(spark, dir, "documents").select(col("doc_id"), col("lang"), col("text"))
    Corpus.decontaminate(docs, docs.filter(col("doc_id") % 17 === 0).select(col("text")),
        "doc_id", "text", n = 8, bloomCapacity = 200000L, passthrough = Seq("lang"))
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("contaminated"), 1L).otherwise(0L)).as("n_contaminated"))
  }

  /** Per-lang rates for the deterministic hash-sampling query (fixed
    * literals so the DuckDB oracle embeds the identical thresholds via
    * [[graft.spark.sample.Sampling.rateThreshold8]] — no float math in the
    * compare; the temperature FORMULA itself is pinned in SamplingSpec). */
  val tempSampleRates: Map[String, Double] = Map(
    "en" -> 0.25, "de" -> 0.4, "es" -> 0.6, "fr" -> 0.8,
    "ja" -> 1.0, "pt" -> 1.0, "ru" -> 1.0, "zh" -> 1.0)

  /** Deterministic temperature-style rebalancing: per-lang keep counts under
    * content-hash sampling (kept iff md5-hex prefix below the lang's
    * threshold) — reproducible across runs/engines/partitionings, unlike
    * rand() sampling. */
  def temperatureSampleStats(spark: SparkSession, dir: String): DataFrame = {
    import graft.spark.sample.Sampling
    Sampling.temperatureSampleFlags(
        tbl(spark, dir, "documents").select(col("lang"), col("doc_id")),
        "lang", col("doc_id").cast("string"), tempSampleRates)
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"), sum(when(col("kept"), 1L).otherwise(0L)).as("n_kept"))
  }

  /** Fractional contamination (Dolma-style): per-lang exact totals of
    * benchmark-shared vs all distinct 8-gram shingles, plus the count of
    * docs at >= 5% overlap (integer cross-multiplied so the oracle is
    * bit-exact). */
  def contaminationOverlapStats(spark: SparkSession, dir: String): DataFrame = {
    import graft.spark.dedup.Corpus
    val docs = tbl(spark, dir, "documents").select(col("doc_id"), col("lang"), col("text"))
    Corpus.contaminationOverlap(docs,
        docs.filter(col("doc_id") % 17 === 0).select(col("text")),
        "doc_id", "text", n = 8, bloomCapacity = 200000L, passthrough = Seq("lang"))
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_shingles")).as("total_shingles"),
        sum(col("n_hit")).as("total_hits"),
        sum(when(col("n_hit") * 20 >= col("n_shingles") && col("n_shingles") > 0, 1L)
          .otherwise(0L)).as("n_frac_5pct"))
  }

  // repeated phrase planted for span-level dedup (apostrophe-free so it
  // embeds into the DuckDB oracle literally; 10 tokens > the 8-token window)
  val spanPlant = "this exact promotional sentence appears in very many crawled documents verbatim"

  /** Span-level repetition (Lee et al. 2022 granularity): per-lang totals of
    * 8-token window occurrences that repeat >= 4 times corpus-wide, plus the
    * count of docs carrying any repeated span. The plant guarantees signal;
    * naturally duplicated fixture docs contribute their own repeats. */
  def spanDedupStats(spark: SparkSession, dir: String): DataFrame = {
    import graft.spark.dedup.Corpus
    val planted = tbl(spark, dir, "documents").select(col("lang"), col("doc_id"),
      concat(col("text"),
        when(col("doc_id") % 5 === 0, lit(" " + spanPlant)).otherwise(lit("")))
        .as("text"))
    // the fused hash-only variant: aggregates don't need span text, so no
    // window string is ever materialized (CorpusSpec pins agreement with
    // the string variant)
    Corpus.spanHashFrequencyFlags(planted, "text", n = 8, minCount = 4L,
        passthrough = Seq("lang", "doc_id"))
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_spans"),
        sum(when(col("repeated"), 1L).otherwise(0L)).as("repeated_spans"),
        countDistinct(when(col("repeated"), col("doc_id"))).as("docs_with_repeats"))
  }

  /** The TRANSFORM stage of span dedup: texts rebuilt with every token
    * inside a corpus-repeated 8-token window dropped (token-sequence
    * semantics — kept tokens joined by single spaces). Same plants as
    * q_span_dedup; verified by changed-doc counts, post-clean char volume
    * and distinct cleaned digests — both engines must produce byte-identical
    * cleaned texts. */
  def spanCleanStats(spark: SparkSession, dir: String): DataFrame = {
    import graft.spark.dedup.Corpus
    val planted = tbl(spark, dir, "documents").select(col("lang"), col("doc_id"),
      concat(col("text"),
        when(col("doc_id") % 5 === 0, lit(" " + spanPlant)).otherwise(lit("")))
        .as("text"))
    Corpus.removeRepeatedSpans(planted, "text", n = 8, minCount = 4L,
        idCol = Some("doc_id"))
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("text_clean") =!= col("text"), 1L).otherwise(0L)).as("n_changed"),
        sum(length(col("text_clean")).cast("long")).as("chars_after"),
        countDistinct(md5(col("text_clean"))).as("n_distinct_clean"))
  }

  // shared boilerplate lines planted for the corpus-frequency line dedup
  // (apostrophe-free so they embed in the DuckDB oracle SQL literally)
  val lineDedupPlantA = "Sign up for our newsletter to get updates"
  val lineDedupPlantB = "(c) example.com - all rights reserved"

  /** Corpus-frequency line dedup (CCNet-style boilerplate removal): lines
    * occurring >= 4 times across the corpus are boilerplate. The fixture
    * docs are unique word-salad, so deterministic shared lines are planted
    * per doc-id class (same transform on the oracle side); natural
    * duplicate-doc lines participate too. */
  def lineDedupStats(spark: SparkSession, dir: String): DataFrame = {
    import graft.spark.dedup.Corpus
    val planted = tbl(spark, dir, "documents").select(col("lang"),
      concat(col("text"),
        when(col("doc_id") % 5 === 0, lit("\n" + lineDedupPlantA)).otherwise(lit("")),
        when(col("doc_id") % 11 === 0, lit("\n" + lineDedupPlantB)).otherwise(lit("")))
        .as("text"))
    Corpus.lineFrequencyFlags(planted, "text", minCount = 4L, passthrough = Seq("lang"))
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_lines"),
        sum(when(col("boilerplate"), 1L).otherwise(0L)).as("boilerplate_lines"),
        sum(when(col("boilerplate"), length(col("line")).cast("long")).otherwise(0L))
          .as("chars_removed"))
  }

  /** The transform stage of line dedup: texts REBUILT with boilerplate
    * lines removed (order preserved), verified by changed-doc counts,
    * post-clean char volume and distinct cleaned digests — both engines
    * must produce byte-identical cleaned texts. Same plants as
    * q_line_dedup. */
  def lineCleanStats(spark: SparkSession, dir: String): DataFrame = {
    import graft.spark.dedup.Corpus
    val planted = tbl(spark, dir, "documents").select(col("lang"),
      concat(col("text"),
        when(col("doc_id") % 5 === 0, lit("\n" + lineDedupPlantA)).otherwise(lit("")),
        when(col("doc_id") % 11 === 0, lit("\n" + lineDedupPlantB)).otherwise(lit("")))
        .as("text"))
    Corpus.removeBoilerplate(planted, "text", minCount = 4L)
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("text_clean") =!= col("text"), 1L).otherwise(0L)).as("n_changed"),
        sum(length(col("text_clean")).cast("long")).as("chars_after"),
        countDistinct(md5(col("text_clean"))).as("n_distinct_clean"))
  }

  /** Per-domain doc cap (data-mixing stage): keep at most 5 docs per
    * (lang, source), deterministic priority = content md5. The window
    * partitions are (domain, priority-prefix bucket) pairs — never a whole
    * domain. */
  def domainCapStats(spark: SparkSession, dir: String): DataFrame = {
    import graft.spark.sample.Sampling
    Sampling.groupCapFlags(
        tbl(spark, dir, "documents")
          .select(col("lang"), col("source"), col("doc_id"), md5(col("text")).as("p")),
        Seq("lang", "source"), col("p"), col("doc_id"), cap = 5)
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"), sum(when(col("kept"), 1L).otherwise(0L)).as("n_kept"))
  }

  /** Per-lang token budget (data-mixing stage): keep docs in content-hash
    * order while the running token sum stays <= 2000 — computed by the
    * bucketed running sum (each sort confined to one (lang, bucket)
    * partition), result identical to the naive windowed definition the
    * oracle runs. */
  def tokenBudgetStats(spark: SparkSession, dir: String): DataFrame = {
    import graft.spark.sample.Sampling
    val d = tbl(spark, dir, "documents").select(col("lang"), col("doc_id"),
      md5(col("text")).as("p"), TextFunctions.tokenCount(col("text")).cast("long").as("toks"))
    Sampling.tokenBudgetKeepFlags(d, "lang", "toks", "p", "doc_id", budget = 2000L)
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("kept"), 1L).otherwise(0L)).as("n_kept"),
        sum(when(col("kept"), col("toks")).otherwise(0L)).as("tokens_kept"))
  }

  /** Distributed EXACT top-k selection (round-6): the longest-docs-first
    * cut over documents via [[graft.spark.sample.Sampling.topKFlags]] —
    * the boundary-bucket refinement with no TakeOrdered and no k-sized
    * broadcast. n_chars is duplicate-HEAVY, so the boundary key carries
    * many ties and the tie-by-id window is on the oracle path (DuckDB's
    * ORDER BY n_chars DESC, doc_id LIMIT k is the definition). */
  def topkSelect(spark: SparkSession, dir: String): DataFrame = {
    import graft.spark.sample.Sampling
    val d = tbl(spark, dir, "documents").select(col("doc_id"), col("n_chars"))
    Sampling.topKFlags(d, "doc_id", col("n_chars").cast("double"), 200L)
      .filter(col("selected"))
      .select(col("doc_id"), col("n_chars"))
  }

  /** The end-to-end curation pipeline (quality -> exact dedup ->
    * decontaminate -> domain cap -> token budget) as ONE declarative
    * DataFrame — every stage is re-derived independently by the DuckDB
    * oracle, so this checks the COMPOSITION, not just the parts. */
  def pipelineStats(spark: SparkSession, dir: String): DataFrame = {
    import graft.spark.pipeline.DataPipeline
    val docs = tbl(spark, dir, "documents")
      .select(col("doc_id"), col("lang"), col("source"), col("text"))
    val bench = docs.filter(col("doc_id") % 17 === 0).select(col("text"))
    DataPipeline.curate(docs, bench)
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_kept"), sum(col("toks")).as("tokens_kept"))
  }

  // build-once guard per (JVM, sfDir) for the incremental-curate state —
  // same rationale/mechanics as the band-index guard below: repeated calls
  // (Verify once, Bench warm-up + min-of-3) must measure the per-batch
  // curation SEARCH, not the O(history) state build
  private val curateStateBuilt = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()

  /** INCREMENTAL curation against persisted pipeline state (round-6): the
    * id-ordered lower half of documents plays the indexed history, the
    * upper half the daily batch. Kept rows must equal the one-shot
    * stage-1..3 pipeline (quality gate -> exact dedup -> fuzzy near-dup at
    * jaccard >= 0.5 -> decontamination) run over the WHOLE table,
    * restricted to the batch — the restricted-equality contract at
    * pipeline level; the DuckDB oracle re-derives every stage including
    * the recursive near-dup closure. State is built once per (JVM, dir)
    * and searched read-only (updateState = false), so repeat calls are
    * idempotent. */
  def pipelineIncremental(spark: SparkSession, dir: String): DataFrame = {
    import graft.spark.pipeline.IncrementalCurate
    val docs = tbl(spark, dir, "documents")
      .select(col("doc_id"), col("lang"), col("source"), col("text"))
    val cut = (docs.agg(max(col("doc_id"))).head().getLong(0) + 1L) / 2L
    val history = docs.filter(col("doc_id") < cut)
    val batch = docs.filter(col("doc_id") >= cut)
    val bench = docs.filter(col("doc_id") % 17 === 0).select(col("text"))
    val prefix = s"graft_q_curate_${dirHash8(dir)}"
    if (curateStateBuilt.add(dir)) {
      // un-mark on failure (see the band-index guard above)
      try {
        IncrementalCurate.drop(spark, prefix)
        IncrementalCurate.create(history, prefix)
      } catch { case t: Throwable => curateStateBuilt.remove(dir); throw t }
    }
    IncrementalCurate.curateBatch(batch, history, bench, prefix, updateState = false)
      .filter(col("kept"))
      .select(col("doc_id"), col("lang"), col("toks"))
  }

  /** Sequence packing (training-prep stage): docs in content-hash order are
    * concatenated conceptually and cut into 512-token bins; a doc's bin is
    * floor(exclusive_prefix_tokens / 512). The prefix sum is the
    * distributed bucket-offset scan (Sampling.groupPrefixSums) — no
    * per-group single-reducer sort — and must equal the naive window the
    * oracle runs. */
  def seqPackStats(spark: SparkSession, dir: String): DataFrame = {
    import graft.spark.sample.Sampling
    val d = tbl(spark, dir, "documents").select(col("lang"), col("doc_id"),
      md5(col("text")).as("p"), TextFunctions.tokenCount(col("text")).cast("long").as("toks"))
    Sampling.groupPrefixSums(d, "lang", "toks", "p", "doc_id")
      .select(col("lang"), col("toks"), floor(col("cum_excl") / 512).as("bin"))
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        (max(col("bin")) + 1).cast("long").as("n_bins"),
        sum(col("toks")).as("total_tokens"))
  }

  /** Unicode NFC normalization accounting (text-cleaning stage). The fixture
    * is already NFC, so decomposed combining sequences are planted per
    * doc-id class (same transform on the oracle side); the codegen'd
    * normalizer and DuckDB's nfc_normalize must then agree on change counts
    * and post-normalization lengths. */
  def normalizeStats(spark: SparkSession, dir: String): DataFrame = {
    import graft.spark.fns.TextExpressions
    val planted = concat(col("text"),
      when(col("doc_id") % 4 === 0, lit(" marke\u0301d")).otherwise(lit("")))
    tbl(spark, dir, "documents")
      .select(col("lang"), planted.as("p"))
      .select(col("lang"), col("p"), TextExpressions.nfcNormalize(col("p")).as("q"))
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("p") === col("q"), 0L).otherwise(1L)).as("n_changed"),
        sum(length(col("p")).cast("long")).as("chars_before"),
        sum(length(col("q")).cast("long")).as("chars_after"))
  }

  /** Token counting over the documents table (pure built-in expressions). */
  def tokenStats(spark: SparkSession, dir: String): DataFrame =
    tbl(spark, dir, "documents")
      .select(col("lang"), TextFunctions.tokenCount(col("text")).cast("long").as("toks"))
      .groupBy(col("lang"))
      .agg(sum(col("toks")).as("total_tokens"), max(col("toks")).as("max_tokens"),
        count(lit(1)).as("n_docs"))

  /** BPE-ish token counting (GPT-2-style pre-tokenizer regex) — the token
    * unit LLM data pipelines budget by, as a pure codegen'd expression. */
  def bpeTokenStats(spark: SparkSession, dir: String): DataFrame =
    tbl(spark, dir, "documents")
      .select(col("lang"), TextFunctions.bpeTokenCount(col("text")).cast("long").as("toks"))
      .groupBy(col("lang"))
      .agg(sum(col("toks")).as("total_bpe_tokens"), max(col("toks")).as("max_bpe_tokens"),
        count(lit(1)).as("n_docs"))

  /** Quality scoring: integer-metric heuristic, count survivors per lang. */
  def qualityStats(spark: SparkSession, dir: String): DataFrame =
    tbl(spark, dir, "documents")
      .select(col("lang"), TextFunctions.isQuality(col("text")).as("q"))
      .groupBy(col("lang"))
      .agg(sum(when(col("q"), 1L).otherwise(0L)).as("n_quality"), count(lit(1)).as("n_docs"))

  /** Gopher-style repetition metrics (duplicate lines / repeated word
    * bigrams) — pure built-in array expressions, no UDF, no explode. */
  def repetitionStats(spark: SparkSession, dir: String): DataFrame =
    tbl(spark, dir, "documents")
      .select(col("lang"),
        TextFunctions.dupLineCount(col("text")).cast("long").as("dl"),
        TextFunctions.dupBigramCount(col("text")).cast("long").as("db"))
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("dl")).as("total_dup_lines"),
        sum(when(col("dl") > 0, 1L).otherwise(0L)).as("docs_with_dup_lines"),
        sum(col("db")).as("total_dup_bigrams"))

  /** Deterministic boilerplate plants shared with the q_gopher oracle:
    * 10 bullet lines flip the <=90%-bullet-lines rule on a 1-line doc;
    * one ellipsis line flips <=30%; 200 numeric tokens flip the
    * alpha-word and mean-word-length rules. */
  val gopherBulletPlant: String = "\n- item" * 10
  val gopherEllipsisPlant: String = "\nread more..."
  val gopherNumericPlant: String = " " + "7 " * 200

  /** Gopher-rule quality gate (word-count/mean-length bounds, ellipsis and
    * bullet line fractions, alpha-word fraction) — integer-exact cross
    * multiplications, so the pass decision itself is oracle-checkable. */
  def gopherStats(spark: SparkSession, dir: String): DataFrame = {
    // the fixture docs are single-line clean text, so every gate branch
    // would be vacuously true; plant deterministic boilerplate per doc-id
    // class (same transform on the oracle side) so the FAIL branches of the
    // bullet/ellipsis/alpha rules carry real decisions
    val planted = concat(col("text"),
      when(col("doc_id") % 7 === 0, lit(SparkQueries.gopherBulletPlant))
        .when(col("doc_id") % 7 === 1, lit(SparkQueries.gopherEllipsisPlant))
        .when(col("doc_id") % 7 === 2, lit(SparkQueries.gopherNumericPlant))
        .otherwise(lit("")))
    tbl(spark, dir, "documents")
      .select(col("lang"),
        when(TextFunctions.gopherPass(planted, minWords = 10), 1L).otherwise(0L).as("p"),
        TextFunctions.ellipsisLineCount(planted).cast("long").as("ne"),
        TextFunctions.bulletLineCount(planted).cast("long").as("nb"),
        TextFunctions.alphaWordCount(planted).cast("long").as("na"))
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"), sum(col("p")).as("n_gopher_pass"),
        sum(col("ne")).as("total_ellipsis_lines"), sum(col("nb")).as("total_bullet_lines"),
        sum(col("na")).as("total_alpha_words"))
  }

  /** The language-bound Gopher STOP-WORD rule (the one gopherStats leaves
    * out): per-lang occurrence counts of the language's stop-word list and
    * the >= 2-hits pass count. The fixture docs are synthetic word-salad, so
    * each lang's own stop words are planted on the doc_id % 3 class (same
    * transform on the oracle side) — pass decisions carry real signal.
    * Round 5: hits run over CJK-SEGMENTED text (identical to whitespace
    * tokens for the Latin langs — the fixture is CJK-free there), and the
    * zh plant is the stop words concatenated WITHOUT separators, so only
    * real segmentation (greedy maximum matching,
    * [[graft.spark.text.CjkSegment]]) can find them — the round-4 honest
    * FAIL for zh becomes an honest PASS. The oracle's zh branch is the
    * closed form: segment(concat(zh words)) == the words themselves
    * (CjkSegmentSpec pins the invariant) and the CJK-free base text can
    * contribute no CJK hits, so planted docs hit exactly |words|. */
  def gopherStopwordStats(spark: SparkSession, dir: String): DataFrame = {
    val byLang = TextFunctions.gopherStopwords.toSeq.sortBy(_._1)
    val plant = byLang.foldLeft(lit("")) { case (acc, (l, ws)) =>
      val p = if (TextFunctions.isCjkStopwordList(ws)) " " + ws.mkString("")
              else " " + ws.mkString(" ")
      when(col("lang") === l, lit(p)).otherwise(acc)
    }
    val planted = concat(col("text"), when(col("doc_id") % 3 === 0, plant).otherwise(lit("")))
    val hits = byLang.foldLeft(lit(0)) { case (acc, (l, ws)) =>
      when(col("lang") === l, TextFunctions.stopwordHitsSegmented(planted, ws)).otherwise(acc)
    }
    tbl(spark, dir, "documents")
      .select(col("lang"), hits.cast("long").as("h"))
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"), sum(col("h")).as("total_hits"),
        sum(when(col("h") >= 2, 1L).otherwise(0L)).as("n_pass"))
  }

  /** PII detection + redaction accounting. The documents fixture carries no
    * PII, so deterministic synthetic PII is appended per doc (same transform
    * on the oracle side); the regex kernels then run over real text + the
    * plants and both engines must count/redact identically. */
  def piiStats(spark: SparkSession, dir: String): DataFrame = {
    val planted = concat(col("text"),
      lit(" contact user"), col("doc_id").cast("string"), lit("@example.com"),
      when(col("doc_id") % 3 === 0,
        concat(lit(" from 10.0."), (col("doc_id") % 256).cast("string"), lit(".7")))
        .otherwise(lit("")))
    tbl(spark, dir, "documents")
      .select(col("lang"),
        TextFunctions.emailCount(planted).cast("long").as("ne"),
        TextFunctions.ipv4Count(planted).cast("long").as("ni"),
        (length(planted) - length(TextFunctions.redactPii(planted))).cast("long").as("delta"))
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"), sum(col("ne")).as("n_emails"),
        sum(col("ni")).as("n_ipv4"), sum(col("delta")).as("redacted_delta"))
  }

  /** Equi-join through the bucketed-table layout (graft.spark.io.Bucketing):
    * both sides are written hash-bucketed by the join key, so the sort-merge
    * join runs with no Exchange on either side (BucketingSpec pins the plan
    * shape) — the co-located-join answer for joins repeated at 100 TB. The
    * merge hint keeps the small side from broadcasting so the bucketed path
    * is the one actually exercised. */
  def bucketedJoin(spark: SparkSession, dir: String): DataFrame = {
    import graft.spark.io.Bucketing
    // per-process table suffix: two concurrent JVMs sharing a warehouse dir
    // (e.g. a test run beside a Verify run) otherwise drop/rewrite each
    // other's fixed-name tables mid-query
    val tok = java.lang.Long.toHexString(ProcessHandle.current().pid())
    // the returned DataFrame reads these tables lazily, so THIS process
    // cannot drop them after the query — and the in-memory catalog forgets
    // other JVMs' tables anyway, leaving orphaned warehouse DIRECTORIES
    // behind. Reap directories whose pid suffix belongs to a dead process
    // so repeated runs don't accumulate bucketed copies forever.
    val stale = "graft_bkt_(?:customer|orders)_([0-9a-f]+)".r
    try {
      val wh = new org.apache.hadoop.fs.Path(spark.conf.get("spark.sql.warehouse.dir"))
      val fs = wh.getFileSystem(spark.sparkContext.hadoopConfiguration)
      if (fs.exists(wh)) fs.listStatus(wh).foreach { st =>
        st.getPath.getName match {
          case stale(pidHex) if pidHex != tok =>
            val alive = try ProcessHandle.of(java.lang.Long.parseLong(pidHex, 16))
              .map[Boolean](_.isAlive).orElse(false)
            catch { case _: NumberFormatException => false }
            if (!alive) fs.delete(st.getPath, true)
          case _ => ()
        }
      }
    } catch { case scala.util.control.NonFatal(_) => () } // reaping is best-effort
    val custTbl = s"graft_bkt_customer_$tok"
    val ordTbl = s"graft_bkt_orders_$tok"
    Bucketing.writeBucketed(
      tbl(spark, dir, "customer").select(col("c_custkey").as("k"), col("c_mktsegment")),
      custTbl, "k", 16)
    Bucketing.writeBucketed(
      tbl(spark, dir, "orders").select(col("o_custkey").as("k")),
      ordTbl, "k", 16)
    Bucketing.readTable(spark, ordTbl)
      .join(Bucketing.readTable(spark, custTbl).hint("merge"), "k")
      .groupBy(col("c_mktsegment"))
      .agg(count(lit(1)).as("n_orders"), countDistinct(col("k")).as("n_custs"))
  }

  /** Document fingerprinting, md5 mode (content-hash fingerprint). */
  def fingerprintMd5(spark: SparkSession, dir: String): DataFrame =
    tbl(spark, dir, "documents").select(col("doc_id"), md5(col("text")).as("fp"))

  /** Exact per-lang top-3 sources — the two-phase top-k the HH sketch
    * approximates, with deterministic tiebreak. */
  def heavyDomainsExact(spark: SparkSession, dir: String): DataFrame = {
    val counts = tbl(spark, dir, "documents")
      .groupBy(col("lang"), col("source")).agg(count(lit(1)).as("n_docs"))
    val w = Window.partitionBy(col("lang")).orderBy(col("n_docs").desc, col("source"))
    counts.withColumn("rk", row_number().over(w).cast("long")).filter(col("rk") <= 3)
  }

  /** Event-time windowed aggregation (the RotatingBloom/window analogue). */
  def eventsHourly(spark: SparkSession, dir: String): DataFrame =
    tbl(spark, dir, "events")
      .groupBy(date_trunc("hour", col("ts")).as("hour"), col("event_type"))
      .agg(count(lit(1)).as("n_events"), countDistinct(col("user_id")).as("n_users"))

  /** TPC-H Q1-shaped pricing summary restricted to exact-integer measures. */
  def lineitemPricing(spark: SparkSession, dir: String): DataFrame =
    tbl(spark, dir, "lineitem")
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(sum(col("l_quantity")).cast("long").as("sum_qty"), count(lit(1)).as("n_rows"))

  /** Bloom-pruned exact semi-join: build a Bloom over BUILDING customers,
    * pre-filter orders map-side with the probe, then exact semi-join to
    * remove false positives. Output == plain semi-join, but at scale the
    * probe prunes the shuffle input (Spark's own InjectRuntimeFilter pattern,
    * with our reference-format Bloom). */
  def bloomSemiJoin(spark: SparkSession, dir: String): DataFrame = {
    val custKeys = tbl(spark, dir, "customer")
      .filter(col("c_mktsegment") === "BUILDING")
      .select(col("c_custkey"))
    val bloomBytes = custKeys
      .agg(SketchUdafs.bloom(200000, 0.01)(col("c_custkey").cast("string")).as("blm"))
      .head().getAs[Array[Byte]]("blm")
    tbl(spark, dir, "orders")
      // map-side bloom prune — native codegen'd probe, stays in WholeStageCodegen
      .filter(graft.spark.fns.SketchExpressions.bloomMightContainNative(
        bloomBytes, col("o_custkey").cast("string")))
      .join(custKeys.hint("broadcast"), col("o_custkey") === col("c_custkey"), "left_semi") // exact
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n_orders"))
  }

  /** Membership, Bloom: build over lang='en' doc ids, probe EVERY doc id
    * map-side, exact-verify the positives. No false negatives ⇒ output is
    * exactly the 'en' ids; a sketch bug breaks the oracle match. */
  def bloomMembers(spark: SparkSession, dir: String): DataFrame = {
    val docs = tbl(spark, dir, "documents").select(col("doc_id"), col("lang"))
    val bytes = docs.filter(col("lang") === "en")
      .agg(SketchUdafs.bloom(100000, 0.001)(col("doc_id").cast("string")).as("b"))
      .head().getAs[Array[Byte]]("b")
    docs.filter(graft.spark.fns.SketchExpressions.bloomMightContainNative(
        bytes, col("doc_id").cast("string")) && col("lang") === "en")
      .select(col("doc_id"))
  }

  /** Membership, Cuckoo filter (distributed build via fingerprint-reinsert merge). */
  def cuckooMembers(spark: SparkSession, dir: String): DataFrame = {
    val docs = tbl(spark, dir, "documents").select(col("doc_id"), col("lang"))
    val bytes = docs.filter(col("lang") === "de")
      .agg(SketchUdafs.cuckoo(100000, 4, 32)(col("doc_id").cast("string")).as("b"))
      .head().getAs[Array[Byte]]("b")
    docs.filter(graft.spark.fns.SketchExpressions.cuckooContainsNative(
        bytes, 32, col("doc_id").cast("string")) && col("lang") === "de")
      .select(col("doc_id"))
  }

  /** Membership, quotient filter (hashes()-based merge). */
  def qfMembers(spark: SparkSession, dir: String): DataFrame = {
    val docs = tbl(spark, dir, "documents").select(col("doc_id"), col("lang"))
    val bytes = docs.filter(col("lang") === "fr")
      .agg(SketchUdafs.quotientFilter(18)(col("doc_id").cast("string")).as("b"))
      .head().getAs[Array[Byte]]("b")
    docs.filter(graft.spark.fns.SketchExpressions.qfContainsNative(
        bytes, col("doc_id").cast("string")) && col("lang") === "fr")
      .select(col("doc_id"))
  }

  /** Membership, expanding Bloom (force-mode commutative build): same
    * probe -> exact-verify pattern; no false negatives => exact output. */
  def ebfMembers(spark: SparkSession, dir: String): DataFrame = {
    val docs = tbl(spark, dir, "documents").select(col("doc_id"), col("lang"))
    val bytes = docs.filter(col("lang") === "es")
      .agg(SketchUdafs.ebf(64, 0.001)(col("doc_id").cast("string")).as("b"))
      .head().getAs[Array[Byte]]("b")
    docs.filter(graft.spark.fns.SketchExpressions.ebfContainsNative(
        bytes, col("doc_id").cast("string")) && col("lang") === "es")
      .select(col("doc_id"))
  }

  // ---------- sketch queries (approximate — rows-only driver check; error
  // bounds are asserted in SparkAggSpec against exact answers) ----------

  /** HLL distinct doc texts per lang + Bloom-estimate cross-check. */
  def hllDistinct(spark: SparkSession, dir: String): DataFrame =
    tbl(spark, dir, "documents")
      .select(col("lang"), col("text"))
      .groupBy(col("lang"))
      .agg(
        SketchUdafs.hllCount(14)(col("text")).as("hll_distinct_texts"),
        SketchFunctions.bfEstimate(
          SketchUdafs.bloom(100000, 0.01)(col("text"))).as("bloom_estimate"))

  /** CMS-backed heavy hitters per lang: top sources with estimated counts. */
  def cmsHeavyHitters(spark: SparkSession, dir: String): DataFrame =
    tbl(spark, dir, "documents")
      .groupBy(col("lang"))
      .agg(SketchUdafs.heavyHitters(3, 2048, 5)(col("source"), lit(1L)).as("hh"))
      .select(col("lang"), explode(col("hh")).as(Seq("source", "est_count")))

  /** KLL text-length quantiles per lang. */
  def kllQuantiles(spark: SparkSession, dir: String): DataFrame =
    tbl(spark, dir, "documents")
      .groupBy(col("lang"))
      .agg(SketchUdafs.kll(200)(col("n_chars").cast("double")).as("kll"))
      .select(col("lang"),
        SketchFunctions.kllQuantiles(col("kll"),
          array(lit(0.5), lit(0.9), lit(0.99))).as("p50_p90_p99"))
      .select(col("lang"),
        element_at(col("p50_p90_p99"), 1).as("p50"),
        element_at(col("p50_p90_p99"), 2).as("p90"),
        element_at(col("p50_p90_p99"), 3).as("p99"))

  /** t-digest value quantiles per event type. */
  def tdigestQuantiles(spark: SparkSession, dir: String): DataFrame =
    tbl(spark, dir, "events")
      .groupBy(col("event_type"))
      .agg(SketchUdafs.tdigest(100.0)(col("value")).as("td"))
      .select(col("event_type"),
        SketchFunctions.tdigestQuantiles(col("td"),
          array(lit(0.5), lit(0.95), lit(0.99))).as("qs"))
      .select(col("event_type"),
        element_at(col("qs"), 1).as("p50"),
        element_at(col("qs"), 2).as("p95"),
        element_at(col("qs"), 3).as("p99"))

  /** Stream-threshold: users with >= threshold events (sketch-tracked). */
  def streamThreshold(spark: SparkSession, dir: String): DataFrame =
    tbl(spark, dir, "events")
      .select(col("user_id").cast("string").as("user"))
      .agg(SketchUdafs.streamThreshold(30, 4096, 5)(col("user"), lit(1L)).as("st"))
      .select(explode(col("st")).as(Seq("user", "est_events")))

  /** MinHash-LSH near-duplicate pairs over documents (exact-Jaccard verified).
    * The oracle demands the EXACT jaccard>=0.5 pair set, so the oracle-facing
    * run uses 128 hashes x 32 bands: per-pair miss probability
    * (1 - j^4)^32 <= 1.3e-2 at the j=0.5 boundary and <= 2e-15 at the
    * fixture's actual minimum (j=0.9). The bench variant keeps the leaner
    * 64x16 configuration ([[minhashPairsBench]]). */
  def minhashPairs(spark: SparkSession, dir: String): DataFrame =
    Dedup.minhashLshPairs(tbl(spark, dir, "documents"), "doc_id", "text",
      shingleSize = 3, numHashes = 128, bands = 32, threshold = 0.5)

  /** Incremental near-dup pairs (the daily-crawl shape): odd doc_ids play
    * the new batch, even ids the indexed history — the result must equal
    * the FULL pair set restricted to pairs touching a new doc (the DuckDB
    * oracle recomputes exactly that from the shared jaccard CTE). Same
    * 128x32 configuration as q_minhash_pairs so candidate recall matches. */
  def minhashPairsIncremental(spark: SparkSession, dir: String): DataFrame = {
    val docs = tbl(spark, dir, "documents")
    Dedup.minhashLshPairsIncremental(
      docs.filter(col("doc_id") % 2 === 1), docs.filter(col("doc_id") % 2 === 0),
      "doc_id", "text", shingleSize = 3, numHashes = 128, bands = 32, threshold = 0.5)
  }

  /** INDEX-BACKED incremental near-dup pairs (the round-5 persisted-band-
    * index path): build the (bkey, doc_id) index over the even-id history,
    * then search the odd-id batch against the STORED index — no history
    * re-signing. Same split, same 128x32 configuration and the same oracle
    * as q_dedup_incremental: the result must equal the full pair set
    * restricted to pairs touching a new doc. The index table stays in the
    * warehouse across the call (the returned plan reads it lazily);
    * create() overwrites it on the next run. */
  // build-once guard per (JVM, sfDir): Bench times the by-name expression
  // 4x (warm-up + min-of-3) — re-running create() inside the timed body
  // would make q_dedup_index measure the O(history) index BUILD, the exact
  // cost the index exists to amortize away (round-5 review finding). The
  // first call (Verify's only call, Bench's warm-up) still builds. The
  // table NAME is derived from the sf dir, so a same-JVM caller switching
  // dirs (or concurrent sessions over a shared warehouse) can never search
  // an index built from a different dir under the same name (round-5
  // advice); the guard set only prevents same-dir rebuilds.
  private val dedupIndexBuilt = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()

  private[spark] def dirHash8(dir: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(dir.getBytes("UTF-8")).take(4).map("%02x".format(_)).mkString

  private def dedupIndexTable(dir: String): String =
    s"graft_q_dedup_index_${dirHash8(dir)}"

  def minhashPairsFromIndex(spark: SparkSession, dir: String): DataFrame = {
    import graft.spark.dedup.BandIndex
    val docs = tbl(spark, dir, "documents")
    val history = docs.filter(col("doc_id") % 2 === 0)
    val table = dedupIndexTable(dir)
    if (dedupIndexBuilt.add(dir)) {
      // un-mark on failure: a guard left set after a failed create() would
      // make every later call in this JVM search a missing/partial index
      try BandIndex.create(history, "doc_id", "text", table,
        BandIndex.Conf(shingleSize = 3, numHashes = 128, bands = 32, numBuckets = 32))
      catch { case t: Throwable => dedupIndexBuilt.remove(dir); throw t }
    }
    BandIndex.incrementalPairs(docs.filter(col("doc_id") % 2 === 1), history,
      "doc_id", "text", table, threshold = 0.5)
  }

  /** INDEX-BACKED incremental embedding near-dup (round-5): persist the
    * [[graft.spark.dedup.EmbedIndex]] hyperplane buckets over the even-id
    * history, search the odd-id batch against the STORED index — only the
    * batch is hashed. Same geometry and oracle shape as q_embed_neardup
    * restricted to new-touching pairs (the index must change the COST, not
    * the answer). */
  def embedIncrementalFromIndex(spark: SparkSession, dir: String): DataFrame = {
    import graft.spark.dedup.EmbedIndex
    val vecs = tbl(spark, dir, "embeddings")
    val history = vecs.filter(col("vec_id") % 2 === 0)
    EmbedIndex.create(history, "vec_id", "embedding", "graft_q_embed_incr",
      dim = 64, tables = 32, bitsPerTable = 3, numBuckets = 16)
    EmbedIndex.incrementalPairs(vecs.filter(col("vec_id") % 2 === 1), history,
      "vec_id", "embedding", "graft_q_embed_incr", threshold = 0.4)
  }

  /** Bench-facing 64x16 variant (the common production configuration). It
    * keeps its own configuration because the oracle's exact pair set needs
    * 128x32's recall; BenchEquivalenceSpec checks its pairs are a subset of
    * [[minhashPairs]] with equal jaccard. */
  def minhashPairsBench(spark: SparkSession, dir: String): DataFrame =
    Dedup.minhashLshPairs(tbl(spark, dir, "documents"), "doc_id", "text",
      shingleSize = 3, numHashes = 64, bands = 16, threshold = 0.5)

  /** Near-dup CLUSTERS: minhash pairs -> connected components -> (doc_id,
    * cluster rep = min doc id). The dedup decision stage; "keep one per
    * cluster" is doc_id == rep. */
  def dedupClusters(spark: SparkSession, dir: String): DataFrame =
    Dedup.connectedComponents(
      minhashPairs(spark, dir).select(col("id_a"), col("id_b")))

  /** SimHash near-duplicate pairs (hamming <= 3 over 64-bit signatures). */
  def simhashPairs(spark: SparkSession, dir: String): DataFrame =
    Dedup.simhashPairs(tbl(spark, dir, "documents"), "doc_id", "text", maxHamming = 3)

  /** Embedding-cosine near-duplicate pairs (LSH buckets + exact verify);
    * threshold 0.4 matches the fixture's neighbor structure — that LOW
    * threshold needs coarse 3-bit buckets for recall (per-pair miss ~1e-4);
    * real >= 0.9 dedup uses the scale-sane 12-bit default. */
  def embeddingNearDup(spark: SparkSession, dir: String): DataFrame =
    Dedup.embeddingNearDupPairs(tbl(spark, dir, "embeddings"), "vec_id", "embedding",
      threshold = 0.4, dim = 64, tables = 32, bitsPerTable = 3)

  /** DSIR importance resampling (Xie et al. 2023) — bench-facing: fit the
    * hashed-ngram model (target = en slice, raw = all), score all docs with
    * the codegen'd kernel, Gumbel top-k select without replacement. */
  def dsirResample(spark: SparkSession, dir: String): DataFrame = dsirFitResample(spark, dir)._2

  /** [[dsirResample]] with the fitted model it scored with. */
  private[spark] def dsirFitResample(spark: SparkSession,
                                     dir: String): (graft.spark.sample.Dsir.Model, DataFrame) = {
    import graft.spark.sample.Dsir
    val docs = tbl(spark, dir, "documents")
    val model = Dsir.fit(docs.filter(col("lang") === "en"), docs, "text", buckets = 4096)
    (model, Dsir.resampleFlags(docs, "doc_id", "text", model, k = 100, seed = "graft-dsir-r5"))
  }

  /** Classifier TRAINING throughput (bench-facing): 5 full-batch GD
    * iterations over the documents table (label = lang=='en' — on this
    * synthetic table the label carries no text signal, so this measures the
    * training plan's cost, not accuracy; the accuracy contract lives in
    * q_classifier over the LangEval fixture), then one scoring pass. */
  def classifierTrain(spark: SparkSession, dir: String): DataFrame = {
    import graft.spark.text.QualityClassifier
    val docs = tbl(spark, dir, "documents")
    val model = QualityClassifier.train(
      docs.withColumn("label", col("lang") === "en"), "text", "label",
      buckets = 4096, iters = 5)
    docs.select(col("doc_id"),
      QualityClassifier.scoreMilli(spark, model)(col("text")).as("score_milli"))
  }

  /** SemDeDup clustered semantic dedup flags (Abbas et al. 2023) — the
    * bench-facing operator call (paper-default keep-low-centroid-sim
    * policy); the flag verification lives in
    * [[VerifiedQueries.semDedupVerified]]. */
  def semDedup(spark: SparkSession, dir: String): DataFrame =
    graft.spark.dedup.SemDedup.semDedup(tbl(spark, dir, "embeddings"),
      nClusters = 8, threshold = 0.4)

  /** The ANN fixture: the corpus (vec_id, embedding) and the first 10
    * vectors as queries (query_id, q_embedding). */
  private[spark] def annInputs(spark: SparkSession, dir: String): (DataFrame, DataFrame) = {
    val emb = tbl(spark, dir, "embeddings")
    val queries = emb.filter(col("vec_id") < 10)
      .select(col("vec_id").as("query_id"), col("embedding").as("q_embedding"))
    (emb.select(col("vec_id"), col("embedding")), queries)
  }

  /** Brute-force cosine top-5 for the first 10 vectors as queries. */
  def annBruteForce(spark: SparkSession, dir: String): DataFrame = {
    val (corpus, queries) = annInputs(spark, dir)
    Ann.bruteForceTopK(corpus, queries, 5)
      .select(col("query_id"), col("vec_id"), col("rank"))
  }

  /** Per-query recall@5 of an approximate top-5 search `approx(corpus,
    * queries)` against the exact brute-force baseline. */
  private def annRecallAt5(spark: SparkSession, dir: String)(
      approx: (DataFrame, DataFrame) => DataFrame): DataFrame = {
    val (corpus, queries) = annInputs(spark, dir)
    val exact = Ann.bruteForceTopK(corpus, queries, 5)
      .select(col("query_id"), col("vec_id"))
    val found = approx(corpus, queries)
      .select(col("query_id").as("aq"), col("vec_id").as("av"))
    exact.join(found, exact("query_id") === col("aq") && exact("vec_id") === col("av"), "left")
      .groupBy(col("query_id"))
      .agg((sum(when(col("av").isNotNull, 1).otherwise(0)) / count(lit(1))).as("recall_at_5"))
  }

  /** LSH ANN recall vs the exact baseline (per query). Weakly-separated
    * neighbors (top-5 cos ~0.32 vs ~0 median) need coarse buckets: 4 bits x
    * 24 tables measures recall@5 ~0.9 on the fixture. */
  def annLshRecall(spark: SparkSession, dir: String): DataFrame =
    annRecallAt5(spark, dir)(Ann.lshTopK(_, _, 5, dim = 64, tables = 24, bitsPerTable = 4))

  /** IVF ANN recall vs the exact baseline (per query). */
  def annIvfRecall(spark: SparkSession, dir: String): DataFrame =
    annRecallAt5(spark, dir)(Ann.ivfTopK(_, _, 5, nlist = 16, nprobe = 8, lloydIters = 3))

  /** Product-quantization ANN recall vs the exact baseline (per query):
    * 64-dim vectors compressed to 16 one-byte codes (16x), ranked purely by
    * the ADC table scan — no exact re-score, so this measures what the
    * compressed representation alone retrieves. */
  def annPqRecall(spark: SparkSession, dir: String): DataFrame =
    annRecallAt5(spark, dir)(Ann.pqTopK(_, _, 5, dim = 64, m = 16, ksub = 256))

  /** [[annPqRecall]] with the OPQ rotation (Ge et al. 2013) learned on the
    * same deterministic sample — measures what the learned rotation buys the
    * pure compressed representation (no refine stage to hide behind). */
  def annPqOpqRecall(spark: SparkSession, dir: String): DataFrame =
    annRecallAt5(spark, dir)(Ann.pqTopK(_, _, 5, dim = 64, m = 16, ksub = 256, opqIters = 8))

  /** IVFPQ recall vs the exact baseline (per query): the composed layout —
    * coarse cells prune the scan AND in-cell candidates rank from byte
    * codes; recall compounds both approximations. */
  def annIvfPqRecall(spark: SparkSession, dir: String): DataFrame =
    annRecallAt5(spark, dir)(Ann.ivfPqTopK(_, _, 5, dim = 64,
      nlist = 16, nprobe = 8, m = 16, ksub = 256))

  /** The host of a generated page url (all are https://host/path). Plain
    * substring splits, not a per-row regex match: the host extraction stays
    * off the regex engine on the battery's hot scan. */
  private[spark] def pageDomain(url: Column): Column =
    substring_index(substring_index(url, "/", 3), "/", -1)

  /** Flagship: one pass over a deterministic synthetic pages table building
    * the full sketch battery per lang — the north-star query shape
    * (distinct urls, heavy domains, text-length quantiles, membership).
    * All four sketches are the Catalyst-native [[SketchUdafs]] aggregates
    * (zero-copy UTF8String folds, no per-row boxing through Encoders). */
  def pagesSketchBattery(spark: SparkSession, nPages: Long): DataFrame = {
    val pages = graft.spark.io.PagesGen.pages(spark, nPages)
    pages
      .select(col("lang"), col("url"), pageDomain(col("url")).as("domain"),
        length(col("text")).cast("double").as("text_len"))
      .groupBy(col("lang"))
      .agg(
        SketchUdafs.hllCount(14)(col("url")).as("distinct_urls_hll"),
        SketchFunctions.bfEstimate(
          SketchUdafs.bloom(2000000, 0.01)(col("url"))).as("distinct_urls_bloom"),
        SketchUdafs.heavyHitters(5, 4096, 5)(col("domain"), lit(1L))
          .as("top_domains"),
        SketchFunctions.kllQuantiles(
          SketchUdafs.kll(200)(col("text_len")),
          array(lit(0.5), lit(0.95), lit(0.99))).as("len_quantiles"),
        count(lit(1)).as("n_pages"))
  }
}
