package graft.spark.io

import java.nio.charset.StandardCharsets.UTF_8

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** WARC/1.0 (ISO 28500) reader/writer — the container Common Crawl actually
  * ships — plus the html -> text extractor whose output must be
  * byte-identical to the reference extraction per url (the north rule's
  * per-row invariant).
  *
  * Record layout (spec §4): a version line, named headers, CRLF CRLF,
  * `Content-Length` octets of payload, CRLF CRLF. The reader is a strict
  * byte-level parser (headers are ASCII; the payload is raw octets — it is
  * NEVER decoded as text, so payload bytes survive exactly).
  *
  * Scale shape: pages serialize per partition into one WARC blob each (pure
  * map-side, no shuffle), the distributed analogue of one WARC file per
  * crawler shard; parsing is flatMap over blobs. At 100 TB, blobs are the
  * unit of parallelism exactly like Common Crawl's ~1 GB warc.gz segments.
  */
object Warc extends Serializable {

  final case class WarcRecord(url: String, ts: String, payload: Array[Byte])

  private val CRLF = "\r\n"

  /** Serialize records into one WARC blob. */
  def write(records: Iterator[WarcRecord]): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream()
    records.foreach { r =>
      val header =
        "WARC/1.0" + CRLF +
          "WARC-Type: response" + CRLF +
          "WARC-Target-URI: " + r.url + CRLF +
          "WARC-Date: " + r.ts + CRLF +
          "Content-Length: " + r.payload.length + CRLF + CRLF
      out.write(header.getBytes(UTF_8))
      out.write(r.payload)
      out.write(CRLF.getBytes(UTF_8)); out.write(CRLF.getBytes(UTF_8))
    }
    out.toByteArray
  }

  /** Strict parse of the single record starting at `from`; returns the
    * record and the offset just past it. Throws on malformed framing. */
  private def parseOne(blob: Array[Byte], from: Int): (WarcRecord, Int) = {
    var pos = from
    def line(): String = {
      val start = pos
      while (pos + 1 < blob.length && !(blob(pos) == '\r' && blob(pos + 1) == '\n')) pos += 1
      require(pos + 1 < blob.length, "unterminated WARC header line")
      val s = new String(blob, start, pos - start, UTF_8)
      pos += 2
      s
    }
    val version = line()
    require(version.startsWith("WARC/"), s"bad WARC version line: $version")
    var url: String = null
    var ts: String = null
    var len = -1
    var h = line()
    while (h.nonEmpty) {
      val i = h.indexOf(':')
      require(i > 0, s"bad WARC header: $h")
      val name = h.substring(0, i)
      val value = h.substring(i + 1).trim
      name match {
        case "WARC-Target-URI" => url = value
        case "WARC-Date" => ts = value
        case "Content-Length" => len = value.toInt
        case _ => () // tolerated extra headers
      }
      h = line()
    }
    require(len >= 0, "missing Content-Length")
    require(pos.toLong + len + 4 <= blob.length, "truncated WARC payload")
    val payload = java.util.Arrays.copyOfRange(blob, pos, pos + len)
    pos += len
    require(blob(pos) == '\r' && blob(pos + 1) == '\n' &&
      blob(pos + 2) == '\r' && blob(pos + 3) == '\n', "missing record separator")
    (WarcRecord(url, ts, payload), pos + 4)
  }

  /** Parse one WARC blob into records (strict: malformed framing throws). */
  def parse(blob: Array[Byte]): Iterator[WarcRecord] = new Iterator[WarcRecord] {
    private var pos = 0
    override def hasNext: Boolean = pos < blob.length
    override def next(): WarcRecord = {
      val (r, p) = parseOne(blob, pos)
      pos = p
      r
    }
  }

  /** Tolerant parse: strict parsing until a record is malformed, then scan
    * forward for the next `WARC/` line-start boundary and resume — one
    * corrupt record costs itself, not the blob (and at one-blob-per-task,
    * not the job). Skipped regions are COUNTED via `onDrop`, never silent
    * (wire a LongAccumulator for per-job telemetry). */
  def parseTolerant(blob: Array[Byte], onDrop: () => Unit = () => ()): Iterator[WarcRecord] =
    new Iterator[WarcRecord] {
      private var pos = 0
      private var nextRec: WarcRecord = null
      advance()

      private def findBoundary(from: Int): Int = {
        // next "WARC/" at a line start (blob start or right after CRLF)
        var i = math.max(from, 0)
        while (i + 5 <= blob.length) {
          if (blob(i) == 'W' && blob(i + 1) == 'A' && blob(i + 2) == 'R' &&
              blob(i + 3) == 'C' && blob(i + 4) == '/' &&
              (i == 0 || (i >= 2 && blob(i - 2) == '\r' && blob(i - 1) == '\n')))
            return i
          i += 1
        }
        blob.length
      }

      private def advance(): Unit = {
        nextRec = null
        while (nextRec == null && pos < blob.length) {
          try {
            val (r, p) = parseOne(blob, pos)
            nextRec = r
            pos = p
          } catch {
            case _: IllegalArgumentException | _: IndexOutOfBoundsException |
                 _: NumberFormatException =>
              onDrop()
              pos = findBoundary(pos + 5) // resync past the bad region
          }
        }
      }

      override def hasNext: Boolean = nextRec != null
      override def next(): WarcRecord = {
        val r = nextRec
        advance()
        r
      }
    }

  /** gzip-member framing (how Common Crawl actually ships: warc.gz is a
    * concatenation of one gzip member PER RECORD, which is what makes the
    * file seekable/splittable at segment boundaries). */
  def writeGzip(records: Iterator[WarcRecord]): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream()
    records.foreach { r =>
      // close() (not just finish()) releases the Deflater's native buffer
      // immediately — one deflater per record otherwise accumulates off-heap
      // memory on a large partition until GC
      val gz = new java.util.zip.GZIPOutputStream(out)
      try { gz.write(write(Iterator(r))); gz.finish() } finally gz.close()
    }
    out.toByteArray
  }

  /** Parse a concatenated-gzip-member WARC blob (GZIPInputStream reads
    * across member boundaries when fed the full stream). */
  def parseGzip(blob: Array[Byte]): Iterator[WarcRecord] = {
    val gz = new java.util.zip.GZIPInputStream(
      new java.io.ByteArrayInputStream(blob))
    val out = new java.io.ByteArrayOutputStream()
    try {
      val buf = new Array[Byte](8192)
      var n = gz.read(buf)
      while (n >= 0) { out.write(buf, 0, n); n = gz.read(buf) }
    } finally gz.close() // release the Inflater eagerly, not at GC
    parse(out.toByteArray)
  }

  /** The reference extractor (PagesGen builds html as exactly
    * `<html><body>` + text + `</body></html>`): byte-level strip of the
    * wrapper, operating on OCTETS so the extracted text is byte-identical
    * to the reference text column for any UTF-8 content. Returns null for
    * payloads that are not wrapped that way. */
  def extractText(html: Array[Byte]): String = {
    if (html == null) return null
    val pre = "<html><body>".getBytes(UTF_8)
    val post = "</body></html>".getBytes(UTF_8)
    if (html.length < pre.length + post.length) return null
    var i = 0
    while (i < pre.length) { if (html(i) != pre(i)) return null; i += 1 }
    var j = 0
    while (j < post.length) {
      if (html(html.length - post.length + j) != post(j)) return null
      j += 1
    }
    new String(html, pre.length, html.length - pre.length - post.length, UTF_8)
  }

  /** pages (url, warc_ts, html, ...) -> one WARC blob per partition
    * (gzip = one gzip member per record, the warc.gz shipping format). */
  def toWarcBlobs(pages: DataFrame, gzip: Boolean = false): DataFrame = {
    val spark = pages.sparkSession
    import spark.implicits._
    pages.select(col("url"), date_format(col("warc_ts"), "yyyy-MM-dd'T'HH:mm:ss'Z'").as("ts"),
        col("html"))
      .as[(String, String, Array[Byte])]
      .mapPartitions { it =>
        val pid = org.apache.spark.TaskContext.getPartitionId()
        val recs = it.map { case (u, t, h) => WarcRecord(u, t, h) }
        val blob = if (gzip) writeGzip(recs) else write(recs)
        if (blob.isEmpty) Iterator.empty else Iterator((pid, blob))
      }.toDF("blob_id", "warc")
  }

  /** WARC blobs -> (url, warc_ts STRING, html BINARY) records. `tolerant`
    * switches to [[parseTolerant]]: corrupt records are skipped and counted
    * into `dropCounter` (pass a LongAccumulator; at 100 TB some corruption
    * is a certainty and a job-killing parse error is the wrong failure
    * mode — but the skips must be visible, so the counter is required in
    * tolerant mode). */
  def fromWarcBlobs(blobs: DataFrame, gzip: Boolean = false, tolerant: Boolean = false,
                    dropCounter: Option[org.apache.spark.util.LongAccumulator] = None): DataFrame = {
    val spark = blobs.sparkSession
    import spark.implicits._
    require(!tolerant || dropCounter.isDefined,
      "tolerant WARC parsing requires a dropCounter — skips must never be silent")
    blobs.select(col("warc")).as[Array[Byte]]
      .flatMap { b =>
        val bytes = if (gzip) {
          val gz = new java.util.zip.GZIPInputStream(new java.io.ByteArrayInputStream(b))
          val out = new java.io.ByteArrayOutputStream()
          try {
            val buf = new Array[Byte](8192)
            var n = gz.read(buf)
            while (n >= 0) { out.write(buf, 0, n); n = gz.read(buf) }
          } finally gz.close()
          out.toByteArray
        } else b
        val it =
          if (tolerant) parseTolerant(bytes, () => dropCounter.get.add(1L))
          else parse(bytes)
        it.map(r => (r.url, r.ts, r.payload))
      }
      .toDF("url", "warc_ts", "html")
  }
}
