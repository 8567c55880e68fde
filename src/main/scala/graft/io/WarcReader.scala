package graft.io

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import java.io.{BufferedInputStream, ByteArrayInputStream, InputStream}
import java.util.zip.GZIPInputStream
import scala.collection.mutable

/** Distributed WARC (Web ARChive, ISO 28500) ingest — the Common Crawl
  * container format, the de-facto source tier of web-scale training-data
  * pipelines.
  *
  * Scale shape: the unit of parallelism is the WARC SEGMENT FILE (Common
  * Crawl ships ~1 GiB gzip segments, tens of thousands per crawl), read via
  * Spark's `binaryFile` source — one task per segment, no cross-file state,
  * so a 1000-executor cluster rips through a crawl embarrassingly parallel.
  * Record-level gzip members (Common Crawl compresses each record as its
  * own gzip member) decompress transparently: `GZIPInputStream` reads
  * concatenated members as one stream. The parse itself is per-partition
  * imperative logic with no Catalyst form (`mapPartitions` territory, the
  * Multimodal.scala justification); everything DOWNSTREAM of this source —
  * text extraction, language id, quality, dedup — is columnar and codegen'd.
  *
  * Payloads above `maxPayloadBytes` are TRUNCATED, not dropped (training
  * pipelines cap document size; a 2 GiB response must not OOM a task), and
  * the pre-truncation length is preserved in `payload_len`.
  */
object WarcReader {

  /** One WARC record. For `response` records wrapping HTTP
    * (`Content-Type: application/http...`), `payload` is the HTTP BODY and
    * `http_status`/`http_content_type` come from the embedded HTTP headers;
    * for every other record type `payload` is the raw block and the two
    * HTTP fields are null/0.
    */
  final case class WarcRecord(
      src_file: String,
      rec_idx: Long,
      warc_type: String,
      url: String,
      warc_date: String,
      content_type: String,
      http_status: Int,
      http_content_type: String,
      payload_len: Long,
      payload: Array[Byte])

  /** Read every record of the `*.warc` / `*.warc.gz` files under `dir`,
    * one Spark task per file.
    */
  def records(spark: SparkSession, dir: String): DataFrame = {
    val pattern = ".*\\.warc(\\.gz)?"
    import spark.implicits._
    val paths = OwlReader.listFilesMatchingPattern(dir, pattern)
    require(paths.nonEmpty, s"No WARC files matching '$pattern' in $dir")
    spark.read.format("binaryFile").load(paths: _*)
      .select(element_at(split(col("path"), "/"), -1).as("name"), col("content"))
      .as[(String, Array[Byte])]
      .flatMap { case (name, bytes) => parse(name, bytes, 1 << 20) }
      .toDF()
  }

  // ---------------------------------------------------------------- parse

  private def isGzip(bytes: Array[Byte]): Boolean =
    bytes.length >= 2 && (bytes(0) & 0xff) == 0x1f && (bytes(1) & 0xff) == 0x8b

  /** Parse one WARC file's bytes (gzip — including concatenated per-record
    * members — or plain). Pure function, runs on executors.
    */
  def parse(fileName: String, bytes: Array[Byte],
            maxPayloadBytes: Int = 1 << 20): Seq[WarcRecord] = {
    val raw: InputStream = new ByteArrayInputStream(bytes)
    val in = new BufferedInputStream(
      if (isGzip(bytes)) new GZIPInputStream(raw) else raw, 1 << 16)
    val out = mutable.ArrayBuffer.empty[WarcRecord]
    var idx = 0L
    var line = readLine(in)
    while (line != null) {
      if (line.startsWith("WARC/")) {
        // WARC header block: Name: value lines up to the empty line
        val hdrs = mutable.Map.empty[String, String]
        var h = readLine(in)
        while (h != null && h.nonEmpty) {
          val colon = h.indexOf(':')
          if (colon > 0)
            hdrs(h.substring(0, colon).trim.toLowerCase) = h.substring(colon + 1).trim
          h = readLine(in)
        }
        // a 100 TB crawl WILL contain garbage: a record with an unparsable
        // Content-Length cannot be skipped reliably (the record boundary
        // is the length), so it is SURFACED as warc_type='_malformed' and
        // the scanner resynchronizes on the next 'WARC/' line — one bad
        // record never kills the task or silently vanishes
        hdrs.get("content-length").map(_.toLongOption) match {
          case Some(Some(len)) =>
            // read a 64 KiB HEADER allowance past the payload cap so a
            // small cap can never chop the embedded HTTP headers — only
            // bodies are truncated; payload_len keeps the true length
            val block = readBlock(in, len, maxPayloadBytes + (1 << 16))
            val cType = hdrs.getOrElse("content-type", null)
            val wType = hdrs.getOrElse("warc-type", null)
            // HTTP-wrapped payloads: split embedded headers from the body
            val (status, httpCt, body1, bodyLen) =
              if (cType != null && cType.startsWith("application/http"))
                splitHttp(block, len)
              else (0, null: String, block, len)
            val body = if (body1.length > maxPayloadBytes)
              java.util.Arrays.copyOf(body1, maxPayloadBytes) else body1
            out += WarcRecord(fileName, idx, wType,
              hdrs.getOrElse("warc-target-uri", null),
              hdrs.getOrElse("warc-date", null),
              cType, status, httpCt, bodyLen, body)
          case _ =>
            out += WarcRecord(fileName, idx, "_malformed",
              hdrs.getOrElse("warc-target-uri", null),
              hdrs.getOrElse("warc-date", null),
              hdrs.getOrElse("content-type", null), 0, null, 0L,
              Array.emptyByteArray)
        }
        idx += 1
      }
      line = readLine(in)
    }
    in.close()
    out.toSeq
  }

  /** CRLF- (or LF-) terminated line as ISO-8859-1, null at EOF. */
  private def readLine(in: InputStream): String = {
    val buf = new java.io.ByteArrayOutputStream(128)
    var b = in.read()
    if (b < 0) return null
    while (b >= 0 && b != '\n') { buf.write(b); b = in.read() }
    val arr = buf.toByteArray
    val n = if (arr.nonEmpty && arr(arr.length - 1) == '\r') arr.length - 1 else arr.length
    new String(arr, 0, n, java.nio.charset.StandardCharsets.ISO_8859_1)
  }

  /** Read exactly `len` block bytes, retaining at most `cap`; EOF mid-block
    * is a malformed record — surface what was read rather than throw.
    */
  private def readBlock(in: InputStream, len: Long, cap: Int): Array[Byte] = {
    val keep = math.min(len, cap.toLong).toInt
    val arr = new Array[Byte](keep)
    var read = 0
    while (read < keep) {
      val n = in.read(arr, read, keep - read)
      if (n < 0) return java.util.Arrays.copyOf(arr, read)
      read += n
    }
    // discard the truncated remainder so the stream stays record-aligned
    var toSkip = len - keep
    while (toSkip > 0) {
      val n = in.skip(toSkip)
      if (n <= 0) { if (in.read() < 0) return arr else toSkip -= 1 }
      else toSkip -= n
    }
    arr
  }

  /** Split an `application/http` block into (status, content-type, body,
    * full body length before truncation accounting).
    */
  private def splitHttp(block: Array[Byte], fullLen: Long): (Int, String, Array[Byte], Long) = {
    val sep = indexOfDoubleCrlf(block)
    if (sep < 0) return (0, null, block, fullLen)
    val head = new String(block, 0, sep, java.nio.charset.StandardCharsets.ISO_8859_1)
    val lines = head.split("\r?\n")
    val status =
      if (lines.nonEmpty && lines(0).startsWith("HTTP/")) {
        val parts = lines(0).split(" ")
        if (parts.length >= 2) parts(1).takeWhile(_.isDigit) match {
          case "" => 0
          case s => s.toInt
        } else 0
      } else 0
    val ct = lines.drop(1)
      .find(_.toLowerCase.startsWith("content-type:"))
      .map(_.substring("content-type:".length).trim)
      .orNull
    val chunked = lines.drop(1)
      .find(_.toLowerCase.startsWith("transfer-encoding:"))
      .exists(_.toLowerCase.contains("chunked"))
    val bodyStart = sep + 4
    val raw = java.util.Arrays.copyOfRange(block, math.min(bodyStart, block.length), block.length)
    // crawlers capture responses verbatim, chunk framing included — decode
    // it here or every downstream text op sees hex size lines mid-document
    val body = if (chunked) dechunk(raw) else raw
    (status, ct, body, math.max(0L, fullLen - bodyStart))
  }

  /** Decode HTTP/1.1 chunked transfer framing: hex-size line (extensions
    * after ';' ignored), chunk bytes, CRLF, ... until the 0 chunk. Best
    * effort — a malformed size line returns what decoded so far plus
    * nothing (never throws, never loops), truncated final chunks yield
    * their available bytes.
    */
  private[graft] def dechunk(raw: Array[Byte]): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream(raw.length)
    var i = 0
    var done = false
    while (!done && i < raw.length) {
      // size line ends at CRLF (tolerate bare LF)
      var j = i
      while (j < raw.length && raw(j) != '\n') j += 1
      if (j >= raw.length) done = true
      else {
        val lineEnd = if (j > i && raw(j - 1) == '\r') j - 1 else j
        val sizeStr = new String(raw, i, lineEnd - i,
          java.nio.charset.StandardCharsets.ISO_8859_1)
          .split(";")(0).trim
        val size = try java.lang.Long.parseLong(sizeStr, 16)
                   catch { case _: NumberFormatException => -1L }
        if (size < 0) done = true // malformed framing: stop decoding
        else if (size == 0) done = true // terminal chunk (trailers ignored)
        else {
          val start = j + 1
          val end = math.min(start + size, raw.length.toLong).toInt
          out.write(raw, start, math.max(0, end - start))
          i = end + 2 // skip the chunk's trailing CRLF
          if (end >= raw.length) done = true
        }
      }
    }
    out.toByteArray
  }

  private def indexOfDoubleCrlf(arr: Array[Byte]): Int = {
    var i = 0
    while (i + 3 < arr.length) {
      if (arr(i) == '\r' && arr(i + 1) == '\n' && arr(i + 2) == '\r' && arr(i + 3) == '\n')
        return i
      i += 1
    }
    -1
  }
}
