package perfbench

import graft.core.SplitMix64

/** Seeded input generators: the same seed gives the same inputs. Page inputs
  * come from graft's own [[graft.spark.io.PagesGen]]; the generators here
  * cover what it cannot make. Probe keys, with known membership, are a pure
  * function of (seed, id), so Spark partitions generate them independently.
  * The curation corpus, with planted duplicates, is generated in one pass
  * in doc-id order, because derived docs copy earlier ones.
  */
object Gen extends Serializable {

  def mix(seed: Long, id: Long, stream: Long): Long =
    new SplitMix64(seed ^ (id * 0x9e3779b97f4a7c15L) ^ (stream * 0xbf58476d1ce4e5b9L)).nextLong()

  def unit(seed: Long, id: Long, stream: Long): Double =
    (mix(seed, id, stream) >>> 11) * (1.0 / (1L << 53))

  def below(seed: Long, id: Long, stream: Long, n: Int): Int =
    ((mix(seed, id, stream) >>> 1) % n).toInt

  // ---- probe keys ---------------------------------------------------------

  /** Key of id `id`. Members are ids [0, members); the probe stream draws ids
    * uniformly from [0, 2 * members), so about half its keys are members and
    * the rest are keys of the same shape that were never inserted. */
  def probeKey(seed: Long, id: Long): String =
    "k" + java.lang.Long.toHexString(mix(seed, id, 11))

  def probeId(seed: Long, j: Long, members: Long): Long =
    (mix(seed, j, 12) >>> 1) % (2 * members)

  // ---- curation corpus ----------------------------------------------------

  /** One generated document. `parent` is the earlier doc a duplicate or
    * near-duplicate was derived from, or -1 for an original. */
  final case class Doc(docId: Long, lang: String, source: String, text: String,
                       parent: Long, nearDup: Boolean)

  val corpusLangs: Array[String] = Array("en", "de", "fr", "es", "zh", "ru")

  /** Share of docs that are exact re-crawls of an earlier doc. */
  val exactDupRate = 0.05
  /** Share of docs that are near-duplicates: an earlier doc with one or two
    * words replaced. Texts have at least 100 words, so each such pair has a
    * word-3-shingle Jaccard of at least 92/104 = 0.88. */
  val nearDupRate = 0.10
  /** Share of docs carrying a 12-word run copied from a benchmark text. */
  val contaminationRate = 0.02

  private val vocab: Array[String] = {
    val syl = Array("ka", "lo", "mi", "nu", "re", "sa", "ti", "vo", "be", "du",
      "fe", "gi", "ho", "ja", "ku", "pe", "qi", "ro", "su", "ze")
    Array.tabulate(6000) { i =>
      val a = syl(i % 20); val b = syl((i / 20) % 20); val c = syl((i / 400) % 20)
      if (i < 400) a + b else a + b + c
    }
  }

  private def words(seed: Long, id: Long, stream: Long, n: Int): Array[String] =
    Array.tabulate(n)(w => vocab(below(seed, id * 4096 + w, stream, vocab.length)))

  /** The decontamination set: fixed texts that do not depend on the seed. */
  val benchTexts: Array[String] =
    Array.tabulate(64)(i => words(0x5eedL, i, 21, 40).mkString(" "))

  private def zipf(u: Double, n: Int): Int =
    math.min(n - 1, math.exp(u * math.log(n.toDouble)).toInt - 1).max(0)

  /** The whole corpus, generated in doc-id order (derived docs copy earlier
    * ones). Sources are Zipf-distributed per language, so the popular ones
    * exceed any small per-source cap. */
  def corpus(seed: Long, n: Int): Array[Doc] = {
    val out = new Array[Doc](n)
    var i = 0
    while (i < n) {
      val u = unit(seed, i, 1)
      val source = (lang: String) => s"$lang-s${zipf(unit(seed, i, 2), 400)}.example.org"
      out(i) =
        if (i > 0 && u < exactDupRate) {
          val p = out(below(seed, i, 3, i))
          Doc(i, p.lang, source(p.lang), p.text, p.docId, nearDup = false)
        } else if (i > 0 && u < exactDupRate + nearDupRate) {
          val p = out(below(seed, i, 3, i))
          val ws = p.text.split(' ')
          val edits = 1 + below(seed, i, 4, 2)
          var e = 0
          while (e < edits) {
            ws(below(seed, i * 8 + e, 5, ws.length)) = vocab(below(seed, i * 8 + e, 6, vocab.length))
            e += 1
          }
          Doc(i, p.lang, source(p.lang), ws.mkString(" "), p.docId, nearDup = true)
        } else {
          val lang = corpusLangs(zipf(unit(seed, i, 7), corpusLangs.length))
          val ws = words(seed, i, 8, 100 + below(seed, i, 9, 121))
          if (unit(seed, i, 10) < contaminationRate) {
            val b = benchTexts(below(seed, i, 11, benchTexts.length)).split(' ')
            val from = below(seed, i, 12, b.length - 12)
            val at = below(seed, i, 13, ws.length - 12)
            System.arraycopy(b, from, ws, at, 12)
          }
          Doc(i, lang, source(lang), ws.mkString(" "), -1L, nearDup = false)
        }
      i += 1
    }
    out
  }
}
