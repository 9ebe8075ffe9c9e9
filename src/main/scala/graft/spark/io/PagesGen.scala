package graft.spark.io

import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.core.SplitMix64

/** Deterministic synthetic Common-Crawl-style pages table with the exact
  * shape required by BASELINE.json → input_hint:
  *   (url STRING, warc_ts TIMESTAMP, html BINARY, text STRING, lang STRING)
  *
  * Every column is a pure function of (seed, row id), so any partition can
  * regenerate its rows independently — the property that makes two-parallelism
  * benches and checkpoint/resume byte-reproducible (FIXTURES.md §1).
  *
  * - domains: Zipf-ish via the log-uniform trick (idx = floor(N^u)), so
  *   heavy-hitter ground truth is known by construction;
  * - langs: 8 codes with Zipf weights → skewed groupBy keys;
  * - text length: log-normal-ish, for quantile-sketch verification;
  * - duplicates: a dupFrac slice of rows reuses an earlier row's url
  *   (distinct-count ground truth is exact);
  * - html = "<html><body>" + text + "</body></html>" — the "extractor"
  *   invariant column (byte-identical text per url is checked end-to-end).
  */
object PagesGen extends Serializable {

  val langs: Array[String] = Array("en", "de", "fr", "zh", "es", "ru", "ja", "pt")
  // Zipf weights 1/r over ranks, normalized cumulative
  private val langCdf: Array[Double] = {
    val w = (1 to langs.length).map(r => 1.0 / r)
    val total = w.sum
    w.scanLeft(0.0)(_ + _).tail.map(_ / total).toArray
  }

  @inline private def mix(seed: Long, id: Long, stream: Long): Long = {
    val s = new SplitMix64(seed ^ (id * 0x9e3779b97f4a7c15L) ^ (stream * 0xbf58476d1ce4e5b9L))
    s.nextLong()
  }

  @inline private def unit(seed: Long, id: Long, stream: Long): Double =
    (mix(seed, id, stream) >>> 11) * (1.0 / (1L << 53))

  def domainOf(seed: Long, id: Long, domainPool: Int): Int = {
    // log-uniform → Zipf-ish exponent ~1
    val u = unit(seed, id, 1)
    math.min(domainPool - 1, math.exp(u * math.log(domainPool.toDouble)).toInt - 1).max(0)
  }

  def langOf(seed: Long, id: Long): String = {
    val u = unit(seed, id, 2)
    var i = 0
    while (i < langCdf.length - 1 && u > langCdf(i)) i += 1
    langs(i)
  }

  def textLen(seed: Long, id: Long): Int = {
    // log-normal-ish: exp(4 + 1.2 * z) words, z from Box-Muller
    val u1 = math.max(unit(seed, id, 3), 1e-12)
    val u2 = unit(seed, id, 4)
    val z = math.sqrt(-2.0 * math.log(u1)) * math.cos(2.0 * math.Pi * u2)
    math.max(3, math.min(2000, math.exp(4.0 + 1.2 * z).toInt))
  }

  private val words = Array(
    "data", "page", "web", "crawl", "spark", "sketch", "filter", "count", "text",
    "value", "stream", "merge", "hash", "table", "index", "token", "shard", "link",
    "query", "batch", "scale", "model", "train", "corpus", "dedup", "sample")

  def textOf(seed: Long, id: Long): String = {
    val len = textLen(seed, id)
    val sb = new StringBuilder(len * 6 + 16)
    sb.append("doc ").append(id)
    var i = 0
    while (i < len) {
      // floorMod: .toInt.abs % len is negative for Int.MinValue (abs == MinValue)
      sb.append(' ').append(words(Math.floorMod((mix(seed, id, 5 + i) >>> 7).toInt, words.length)))
      i += 1
    }
    sb.toString
  }

  /** Row id whose url this row duplicates, or `id` itself (no dup). */
  def sourceId(seed: Long, id: Long, dupFracPerMille: Int): Long = {
    if (id == 0) 0L
    else if ((mix(seed, id, 6) >>> 13) % 1000 < dupFracPerMille)
      (mix(seed, id, 7) >>> 1) % id // an earlier row
    else id
  }

  def urlOf(seed: Long, id: Long, domainPool: Int, dupFracPerMille: Int): String = {
    val src = sourceId(seed, id, dupFracPerMille)
    s"https://d${domainOf(seed, src, domainPool)}.example.com/p/$src"
  }

  final case class Page(url: String, warc_ts: Timestamp, html: Array[Byte],
                        text: String, lang: String)

  /** Generate n pages as a DataFrame. Purely map-side over spark.range —
    * scales linearly with partitions, no shuffle. */
  def pages(spark: SparkSession, n: Long, seed: Long = 42L,
            domainPool: Int = 1000, dupFracPerMille: Int = 100,
            numPartitions: Int = 0): DataFrame = {
    import spark.implicits._
    val base = java.time.Instant.parse("2026-01-01T00:00:00Z").getEpochSecond
    val rng = if (numPartitions > 0) spark.range(0, n, 1, numPartitions) else spark.range(n)
    rng.map { id =>
      // duplicates reproduce the source row's url AND text (a re-crawl), so
      // the byte-identical-text-per-url invariant holds by construction
      val src = sourceId(seed, id, dupFracPerMille)
      val text = textOf(seed, src)
      Page(
        url = s"https://d${domainOf(seed, src, domainPool)}.example.com/p/$src",
        warc_ts = new Timestamp((base + (id % 86400)) * 1000L),
        html = ("<html><body>" + text + "</body></html>").getBytes("UTF-8"),
        text = text,
        lang = langOf(seed, src))
    }.toDF()
  }
}
