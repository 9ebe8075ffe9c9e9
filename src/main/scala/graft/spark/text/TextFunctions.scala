package graft.spark.text

import org.apache.spark.sql.Column
import org.apache.spark.sql.expressions.UserDefinedFunction
import org.apache.spark.sql.functions._

import graft.hash.Fnv

/** Text-analysis operators for training-data pipelines.
  *
  * Wherever the semantics fit, these are pure built-in `Column` expressions
  * (whole-stage-codegen'd, no UDF): token counting, punctuation/upper/digit
  * ratios. Only genuinely non-relational logic (language ID, fingerprinting,
  * shingling) uses Scala UDFs.
  */
object TextFunctions extends Serializable {

  /** Whitespace token count; 0 for empty/blank strings. Mirrors the DuckDB
    * oracle `CASE WHEN trim(text)='' THEN 0 ELSE
    * len(regexp_split_to_array(trim(text),'\s+')) END`. */
  def tokenCount(c: Column): Column =
    when(length(trim(c)) === 0, lit(0)).otherwise(size(split(trim(c), "\\s+")))

  /** BPE-ish pre-tokenizer pattern (GPT-2-style, simplified to stay
    * lookahead-free so DuckDB's RE2 evaluates it identically to Java regex):
    * contraction suffixes, letter runs, digit runs, runs of other symbols.
    * Whitespace is an explicit class — Java's `\s` includes `\x0B` while
    * RE2's does not, so `\s` would silently diverge between engine and
    * oracle. Both engines use leftmost-first alternation, so `'s` wins over
    * the symbol-run class. */
  val bpePattern: String = "'(?:s|t|re|ve|m|ll|d)|\\p{L}+|\\p{N}+|[^ \\t\\n\\r\\f\\p{L}\\p{N}]+"

  /** Same pattern with DuckDB string-literal quoting (for oracle SQL). */
  val bpePatternSql: String = "''(?:s|t|re|ve|m|ll|d)|\\p{L}+|\\p{N}+|[^ \\t\\n\\r\\f\\p{L}\\p{N}]+"

  /** BPE-ish tokens as an array column — pure built-in `regexp_extract_all`,
    * whole-stage codegen'd (no UDF). */
  def bpeTokens(c: Column): Column = regexp_extract_all(c, lit(bpePattern), lit(0))

  /** BPE-ish token count per document (the unit LLM data pipelines budget
    * by); empty text → 0, null → null (matches `len(regexp_extract_all(…))`
    * in DuckDB). */
  def bpeTokenCount(c: Column): Column = size(bpeTokens(c))

  def punctCount(c: Column): Column =
    length(c) - length(regexp_replace(c, "[!-/:-@\\[-`{-~]", ""))

  def upperCount(c: Column): Column =
    length(c) - length(regexp_replace(c, "[A-Z]", ""))

  def digitCount(c: Column): Column =
    length(c) - length(regexp_replace(c, "[0-9]", ""))

  /** Quality heuristic used by the q_quality pipeline: integer metrics only so
    * the DuckDB oracle can reproduce it bit-exactly. */
  def isQuality(textCol: Column, minChars: Int = 20, maxChars: Int = 20000,
                maxPunctPerMille: Int = 300): Column = {
    val n = length(textCol)
    (n >= minChars) && (n <= maxChars) &&
      (punctCount(textCol) * 1000 <= n * maxPunctPerMille) &&
      (tokenCount(textCol) >= 3)
  }

  // ---- repetition metrics (Gopher-style repetitive-content filters) ----
  // Pure built-in expressions (codegen'd): integer counts only, so the
  // DuckDB oracle reproduces them bit-exactly.

  /** Non-empty whitespace tokens as an array column. */
  def tokenArray(c: Column): Column =
    filter(split(c, "\\s+"), t => t =!= lit(""))

  /** Duplicate-line count: lines minus distinct lines (split on `\n`). High
    * values flag boilerplate/navigation-heavy pages. */
  def dupLineCount(c: Column): Column = {
    val ls = split(c, "\n")
    size(ls) - size(array_distinct(ls))
  }

  /** Word bigrams via `zip_with` of the token array against its own tail —
    * no UDF, no explode. */
  def wordBigrams(c: Column): Column = {
    val t = tokenArray(c)
    val n = greatest(size(t) - 1, lit(0))
    zip_with(slice(t, lit(1), n), slice(t, lit(2), n), (a, b) => concat(a, lit(" "), b))
  }

  /** Repeated-bigram count: total minus distinct word bigrams (the
    * "duplicate n-gram fraction" numerator of Gopher's repetition filters,
    * kept integer for oracle exactness). */
  def dupBigramCount(c: Column): Column = {
    val g = wordBigrams(c)
    size(g) - size(array_distinct(g))
  }

  // ---- Gopher quality rules (Rae et al. 2021 §A1.1, integer-exact) ----
  // Every fraction test is rewritten as cross-multiplied integer compares so
  // the DuckDB oracle reproduces the pass decision bit-exactly.

  /** Total characters across tokens (= mean word length numerator), as a
    * pure built-in: concat the tokens and take the length. */
  def tokenCharCount(c: Column): Column = length(concat_ws("", tokenArray(c)))

  /** Lines ending in an ellipsis (boilerplate "read more..." signal). */
  def ellipsisLineCount(c: Column): Column =
    size(filter(split(c, "\n"), l => endswith(l, lit("..."))))

  /** Lines starting with a bullet marker. */
  def bulletLineCount(c: Column): Column =
    size(filter(split(c, "\n"), l =>
      startswith(ltrim(l), lit("- ")) || startswith(ltrim(l), lit("* ")) ||
        startswith(ltrim(l), lit("•"))))

  /** Tokens containing at least one ASCII letter. */
  def alphaWordCount(c: Column): Column =
    size(filter(tokenArray(c), t => t.rlike("[A-Za-z]")))

  /** The Gopher repetition-independent quality gate, integer-exact:
    * word count in [minWords, maxWords]; mean word length in [3, 10]
    * (3·nw <= chars <= 10·nw); <= 30% of lines end in ellipsis;
    * <= 90% of lines start with a bullet; >= 80% of words contain a letter.
    * (The stopword rule is reported separately — it is language-bound.) */
  def gopherPass(c: Column, minWords: Int = 50, maxWords: Int = 100000): Column = {
    val nw = size(tokenArray(c))
    val chars = tokenCharCount(c)
    val nlines = size(split(c, "\n"))
    (nw >= minWords) && (nw <= maxWords) &&
      (nw * 3 <= chars) && (chars <= nw * 10) &&
      (ellipsisLineCount(c) * 10 <= nlines * 3) &&
      (bulletLineCount(c) * 10 <= nlines * 9) &&
      (alphaWordCount(c) * 10 >= nw * 8)
  }

  /** The Gopher STOP-WORD rule (Rae et al. 2021 §A1.1), the one rule
    * [[gopherPass]] deliberately left out because it is language-bound: a
    * document passes when at least `minHits` occurrences of its language's
    * stop-word list appear among its (lowercased) tokens. [[gopherStopwords]]
    * carries the en list verbatim from the paper and same-role function
    * words for the other Latin/Cyrillic fixture languages. Round 5 adds the
    * whitespace-free scripts (zh/ja function words) — the rule becomes
    * applicable there through [[stopwordHitsSegmented]], which runs the same
    * token machinery over [[graft.spark.fns.CjkSegmentExpr]]-segmented text
    * (a no-op re-normalization on CJK-free languages).
    * Pure built-in expressions (filter + In), integer-exact. */
  val gopherStopwords: Map[String, Seq[String]] = Map(
    "en" -> Seq("the", "be", "to", "of", "and", "that", "have", "with"),
    "de" -> Seq("der", "die", "das", "und", "zu", "von", "mit", "haben"),
    "es" -> Seq("el", "la", "de", "que", "y", "con", "ser", "haber"),
    "fr" -> Seq("le", "la", "de", "que", "et", "avec", "être", "avoir"),
    "pt" -> Seq("o", "a", "de", "que", "e", "com", "ser", "ter"),
    "ru" -> Seq("и", "в", "не", "на", "что", "быть", "с", "он"),
    // zh/ja function words — every entry is in CjkSegment's lexicon, and
    // CjkSegmentSpec pins that greedy matching recovers exactly these words
    // from their unsegmented concatenation (the oracle-plant invariant)
    "zh" -> Seq("的", "了", "是", "在", "和", "有", "我们", "没有"),
    "ja" -> Seq("の", "は", "です", "ます", "から", "こと", "する", "もの"))

  /** True when a stop-word list is for a whitespace-free (CJK) script —
    * such lists only produce hits through the segmented path. */
  def isCjkStopwordList(words: Seq[String]): Boolean =
    words.exists(_.exists(CjkSegment.isCjkLetter))

  /** Occurrences of `words` among the lowercased whitespace tokens of `c`. */
  def stopwordHits(c: Column, words: Seq[String]): Column =
    size(filter(tokenArray(lower(c)), t => t.isInCollection(words)))

  /** [[stopwordHits]] over CJK-segmented text: identical to the plain
    * variant on CJK-free text (segmentation is whitespace re-normalization
    * there), and the only variant that can hit zh/ja function words in
    * unsegmented running text. Codegen'd segmentation + built-in filter. */
  def stopwordHitsSegmented(c: Column, words: Seq[String]): Column =
    stopwordHits(graft.spark.fns.TextExpressions.cjkSegmentNative(c), words)

  /** The stop-word gate: hits >= minHits (Gopher's threshold is 2). */
  def stopwordPass(c: Column, words: Seq[String], minHits: Int = 2): Column =
    stopwordHits(c, words) >= minHits

  /** CJK-aware token count ([[graft.spark.text.CjkSegment]]; == whitespace
    * [[tokenCount]] on CJK-free text, so safe unconditionally). */
  def cjkTokenCount(c: Column): Column =
    graft.spark.fns.TextExpressions.cjkTokenCountNative(c)

  /** CJK segmentation as a text transform (tokens re-joined with single
    * spaces) — apply before any whitespace-tokenized operator (span hashing,
    * shingles, token budgets) to make it CJK-aware. */
  def cjkSegmented(c: Column): Column =
    graft.spark.fns.TextExpressions.cjkSegmentNative(c)

  /** The RedPajama-V2-style per-document QUALITY-SIGNALS bundle: every
    * signal the library computes, emitted as named columns in ONE pass over
    * the text (all codegen'd expressions or built-ins — one scan, no
    * shuffles; downstream filtering/partitioning picks thresholds per
    * signal). Integer/exact outputs throughout, so decisions are
    * reproducible across engines. The corpus-level signals (line/span
    * frequency, contamination) need corpus context and stay in
    * [[graft.spark.dedup.Corpus]]. */
  def qualitySignals(text: Column): Column = {
    import graft.spark.fns.TextExpressions
    struct(
      length(text).as("n_chars"),
      tokenCount(text).as("n_tokens"),
      bpeTokenCount(text).as("n_bpe_tokens"),
      TextExpressions.bpeMergedCountNative(text).as("n_merged_tokens"),
      punctCount(text).as("n_punct"),
      upperCount(text).as("n_upper"),
      digitCount(text).as("n_digit"),
      dupLineCount(text).as("dup_lines"),
      dupBigramCount(text).as("dup_bigrams"),
      ellipsisLineCount(text).as("ellipsis_lines"),
      bulletLineCount(text).as("bullet_lines"),
      alphaWordCount(text).as("alpha_words"),
      isQuality(text).as("quality_pass"),
      gopherPass(text).as("gopher_pass"),
      TextExpressions.langIdWithConfidenceNative(text).as("lang"),
      TextExpressions.charLmBitsNative(text).as("lm_bits_milli"),
      TextExpressions.deflateRatioNative(text).as("deflate_ratio_pm"),
      emailCount(text).as("n_emails"),
      ipv4Count(text).as("n_ipv4"))
  }

  // ---- PII detection / redaction ----
  // Patterns are deliberately lookaround-free and ASCII-classed so Java
  // regex (engine) and RE2 (DuckDB oracle) match identically.

  val emailPattern: String = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val ipv4Pattern: String = "\\b[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\b"

  def emailCount(c: Column): Column = size(regexp_extract_all(c, lit(emailPattern), lit(0)))
  def ipv4Count(c: Column): Column = size(regexp_extract_all(c, lit(ipv4Pattern), lit(0)))

  /** Redact emails and IPv4 literals (both engines apply the same two
    * passes, so redacted lengths agree exactly). */
  def redactPii(c: Column): Column =
    regexp_replace(regexp_replace(c, lit(emailPattern), lit("<EMAIL>")),
      lit(ipv4Pattern), lit("<IP>"))

  // ---- language ID: script detection + char-trigram profiles ----

  /** Stopword tables — retained as the fast-vote tier of [[classifyText]] (a
    * stopword-dense text is decided without touching the n-gram profiles). */
  private val stopwords: Map[String, Set[String]] = Map(
    "en" -> Set("the", "and", "of", "to", "a", "in", "is", "that", "it", "for", "was", "with"),
    "de" -> Set("der", "die", "das", "und", "ist", "nicht", "ein", "eine", "mit", "für", "von", "zu"),
    "fr" -> Set("le", "la", "les", "et", "est", "une", "un", "pour", "dans", "que", "des", "du"),
    "es" -> Set("el", "la", "los", "las", "y", "es", "una", "un", "para", "que", "de", "por"),
    "pt" -> Set("o", "a", "os", "as", "e", "é", "uma", "um", "para", "que", "de", "não"),
    "ru" -> Set("и", "в", "не", "на", "что", "это", "как", "по", "но", "из"),
    "it" -> Set("che", "di", "e", "il", "la", "per", "un", "della", "anche", "sono",
      "perché", "più", "questo", "lo", "gli", "non"),
    "nl" -> Set("de", "het", "een", "van", "en", "dat", "niet", "aan", "voor", "ook",
      "maar", "zijn", "op", "te"),
    "pl" -> Set("się", "nie", "jest", "że", "być", "jak", "ale", "czy", "dla", "przez",
      "na", "do", "z", "co"),
    "sv" -> Set("och", "att", "det", "som", "en", "är", "på", "av", "för", "med",
      "den", "inte"),
    "cs" -> Set("se", "na", "je", "že", "do", "to", "ale", "jako", "po", "už",
      "při", "aby"),
    "tr" -> Set("ve", "bir", "bu", "da", "de", "için", "ile", "çok", "ama", "gibi",
      "daha", "en"),
  )

  /** Deterministic language ID, three tiers:
    *  1. script detection (kana → ja, Han → zh, Cyrillic-dominant → ru);
    *  2. char-1..4-gram profile rank distance ([[LangProfiles]], Cavnar &
    *     Trenkle 1994) — the primary tier for letter-bearing text, trained
    *     on paragraphs disjoint from every evaluation fixture (a stopword
    *     vote as primary misfires on Romance languages sharing function
    *     words — "una" is both es and it);
    *  3. stopword vote — fallback for text the profiles can't score.
    * "und" when the text carries no signal at all. The body of the codegen'd
    * [[graft.spark.fns.LangIdExpr]] (`TextExpressions.langIdNative`, SQL
    * `lang_id`), and the direct surface LangTruth evaluates without a Spark
    * session. */
  def classifyText(text: String): String = classifyTextWithConfidence(text)._1

  /** Confidence of the [[classifyText]] decision, per mille (the codegen'd
    * [[graft.spark.fns.LangConfidenceExpr]] body): script-tier decisions
    * (ja/zh/ru by character class) are certain → 1000; profile-tier
    * decisions carry the rank-distance margin over the runner-up language
    * ([[LangProfiles.classifyWithConfidence]], integer per-mille, so exactly
    * reproducible); the stopword fallback and "und" carry 0 — a curation
    * pipeline thresholds on this to drop ambiguous-language docs. */
  def classifyConfidence(text: String): Long = classifyTextWithConfidence(text)._2

  /** (language, per-mille confidence) — the single decision kernel both
    * [[classifyText]] and [[classifyConfidence]] project from (one code
    * path, no drift). */
  def classifyTextWithConfidence(text: String): (String, Long) = {
    if (text == null || text.isEmpty) ("und", 0L)
    else {
      var cjk = 0; var kana = 0; var cyr = 0; var total = 0
      var i = 0
      val n = math.min(text.length, 2000)
      while (i < n) {
        val cp = text.codePointAt(i)
        if (!Character.isWhitespace(cp)) {
          total += 1
          if (cp >= 0x4e00 && cp <= 0x9fff) cjk += 1
          else if ((cp >= 0x3040 && cp <= 0x30ff)) kana += 1
          else if (cp >= 0x0400 && cp <= 0x04ff) cyr += 1
        }
        i += Character.charCount(cp)
      }
      if (total == 0) ("und", 0L)
      else if (kana * 10 >= total) ("ja", 1000L)
      else if (cjk * 10 * 3 >= total) ("zh", 1000L)
      else if (cyr * 10 * 3 >= total) ("ru", 1000L)
      else {
        val head = if (text.length <= 2000) text else text.substring(0, 2000)
        LangProfiles.classifyWithConfidence(head) match {
          case (null, _) =>
            // Locale.ROOT: a Turkish/Azeri default locale would lowercase
            // 'I' to dotless ı and silently change classifications
            val toks = head.toLowerCase(java.util.Locale.ROOT).split("\\s+").take(400)
            var best = "und"; var bestScore = 0
            stopwords.foreach { case (lang, words) =>
              val score = toks.count(words.contains)
              if (score > bestScore) { bestScore = score; best = lang }
            }
            (best, 0L)
          case hit => hit
        }
      }
    }
  }

  // ---- fingerprinting ----

  /** 64-bit rolling-window document fingerprint: fnv-1a over each
    * `window`-token shingle, combined with min (a 1-hash minhash) — a compact
    * content fingerprint robust to small edits at the edges. */
  val fingerprint64: UserDefinedFunction = udf((text: String, window: Int) => {
    if (text == null) 0L
    else {
      val toks = text.split("\\s+").filter(_.nonEmpty)
      if (toks.length < window) Fnv.fnv1a64(toks.mkString(" "), 0)
      else {
        var minH = Long.MaxValue
        var i = 0
        while (i + window <= toks.length) {
          val h = Fnv.fnv1a64(toks.slice(i, i + window).mkString(" "), 0)
          // unsigned min, keeping fnv's u64 semantics
          if (java.lang.Long.compareUnsigned(h, minH) < 0 || minH == Long.MaxValue) minH = h
          i += 1
        }
        minH
      }
    }
  })

  /** Word n-gram shingles (distinct), the input unit for minhash/Jaccard. */
  val shingles: UserDefinedFunction = udf((text: String, n: Int) => {
    if (text == null) Array.empty[String]
    else {
      val toks = text.toLowerCase(java.util.Locale.ROOT).split("\\s+").filter(_.nonEmpty)
      if (toks.length < n) Array(toks.mkString(" "))
      else (0 to toks.length - n).map(i => toks.slice(i, i + n).mkString(" ")).distinct.toArray
    }
  })
}
