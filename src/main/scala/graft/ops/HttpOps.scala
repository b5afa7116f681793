package graft.ops

import graft.core.{ByteSink, Gzip}

import java.io.{ByteArrayInputStream, ByteArrayOutputStream, IOException}
import java.nio.charset.StandardCharsets
import java.util.Locale
import java.util.zip.Inflater

/** HTTP/1.1 payload decoder (reference src/http/h1/ — the "query execution
  * inside a cell"). The reference's sans-IO incremental state machine
  * collapses to a straight parse because a whole payload sits in one row
  * (SURVEY.md §2.9 H1–H3); the FRAMING DECISION TABLE is kept bit-for-bit:
  *
  *   - status 1xx/204/304 → body length 0 (recv.rs:115-124)
  *   - Transfer-Encoding beats Content-Length (recv.rs:134-148);
  *     framing only when the LAST TE is "chunked"; otherwise unframed
  *     (read-to-end) for responses
  *   - else Content-Length (strict u64)
  *   - request with no framing → length 0 (recv.rs:159-162)
  *
  * Codec pipeline (codec.rs:64-135): REVERSED TE list then CE list,
  * "identity" skipped, unsupported name → error. Supported: chunked
  * (TE only), gzip/x-gzip, deflate (zlib wrapper per RFC 9112).
  *
  * Pure executor-side function — called as a kernel by ExtractOp.
  */
object HttpOps {

  final case class HttpParsed(
      ok: Boolean,
      status: Int,
      reason: String,
      headers: Seq[(String, String)],
      body: Array[Byte],
      error: String)

  private val Crlf2 = "\r\n\r\n".getBytes(StandardCharsets.US_ASCII)

  private def indexOfSeq(hay: Array[Byte], needle: Array[Byte]): Int = {
    var i = 0
    while (i + needle.length <= hay.length) {
      var j = 0
      while (j < needle.length && hay(i + j) == needle(j)) j += 1
      if (j == needle.length) return i
      i += 1
    }
    -1
  }

  /** First case-insensitive header value. */
  def headerGet(headers: Seq[(String, String)], name: String): Option[String] =
    headers.find(_._1.equalsIgnoreCase(name)).map(_._2)

  /** Comma-list: lowercased, trimmed, empties dropped
    * (http/h1/header/fields.rs:15-31).
    */
  def commaList(v: String): Seq[String] =
    v.split(',').map(_.trim.toLowerCase(Locale.ROOT)).filter(_.nonEmpty).toSeq

  def parseResponse(payload: Array[Byte]): HttpParsed = {
    val headerEnd = indexOfSeq(payload, Crlf2)
    if (headerEnd < 0)
      return HttpParsed(ok = false, 0, "", Nil, Array.empty, "missing_header_terminator")
    val headText = new String(payload, 0, headerEnd, StandardCharsets.ISO_8859_1)
    val rawBody = payload.slice(headerEnd + 4, payload.length)
    val lines = headText.split("\r\n", -1).toSeq
    val statusLine = lines.head
    // lenient status-line parse (reference http/h1/header.rs:303-403)
    val sl = statusLine.split(" ", 3)
    if (sl.length < 2 || !sl(0).startsWith("HTTP/"))
      return HttpParsed(ok = false, 0, "", Nil, Array.empty, "bad_status_line")
    // toIntOption, not toInt: an oversized digit run ('99999999999 OK')
    // is corrupt input and must yield the error row, not throw
    // NumberFormatException out of the UDF and kill the task
    val status = sl(1).takeWhile(_.isDigit).toIntOption match {
      case None    => return HttpParsed(ok = false, 0, "", Nil, Array.empty, "bad_status_code")
      case Some(d) => d
    }
    val reason = if (sl.length == 3) sl(2) else ""
    val headers = lines.tail.filter(_.nonEmpty).flatMap { l =>
      l.indexOf(':') match {
        case -1 => None
        case i  => Some((l.substring(0, i).trim, l.substring(i + 1).trim))
      }
    }

    // --- framing decision table ---
    val teNames = headerGet(headers, "Transfer-Encoding").map(commaList).getOrElse(Nil)
    val framed: Either[String, Array[Byte]] =
      if (status / 100 == 1 || status == 204 || status == 304) Right(Array.empty[Byte])
      else if (teNames.nonEmpty) {
        if (teNames.last == "chunked") decodeChunked(rawBody).map(_._1)
        else Right(rawBody) // unframed response: read to end
      } else headerGet(headers, "Content-Length") match {
        case Some(cl) if cl.forall(_.isDigit) && cl.nonEmpty &&
            cl.toLongOption.isDefined =>
          // exact-length framing like the reference: a body shorter than
          // the declared Content-Length is a truncation error, not a
          // silent prefix (the reference's recv loop would block on the
          // missing bytes; in whole-payload context that's corruption).
          // toLongOption in the guard: a >Long digit run falls through
          // to invalid_content_length instead of throwing.
          val n = cl.toLong
          if (n > rawBody.length) Left("truncated_body")
          else Right(rawBody.take(n.toInt))
        case Some(_) => Left("invalid_content_length")
        case None    => Right(rawBody) // response without framing: read to end
      }

    framed match {
      case Left(err) => HttpParsed(ok = false, status, reason, headers, Array.empty, err)
      case Right(afterFraming) =>
        // codec pipeline: reversed TE (chunked already applied) then CE
        val codecs =
          teNames.reverse.dropWhile(_ == "chunked") ++
            headerGet(headers, "Content-Encoding").map(commaList).getOrElse(Nil)
        codecs.filter(_ != "identity").foldLeft[Either[String, Array[Byte]]](Right(afterFraming)) {
          case (Right(data), codec) => decompress(codec, data)
          case (l @ Left(_), _)     => l
        } match {
          case Right(body) => HttpParsed(ok = true, status, reason, headers, body, "")
          case Left(err)   => HttpParsed(ok = false, status, reason, headers, Array.empty, err)
        }
    }
  }

  /** Chunked transfer decoding (reference http/h1/codec/chunked.rs:53-214):
    * hex size line (+ ignored extensions after ';'), data, CRLF boundary,
    * 0-chunk, trailer capture. Returns (body, trailers).
    */
  def decodeChunked(data: Array[Byte]): Either[String, (Array[Byte], Seq[String])] = {
    val out = new java.io.ByteArrayOutputStream()
    var pos = 0
    def readLine(): Option[String] = {
      var i = pos
      while (i + 1 < data.length && !(data(i) == '\r' && data(i + 1) == '\n')) i += 1
      if (i + 1 >= data.length) None
      else {
        val s = new String(data, pos, i - pos, StandardCharsets.ISO_8859_1)
        pos = i + 2
        Some(s)
      }
    }
    while (true) {
      readLine() match {
        case None => return Left("chunked_truncated")
        case Some(line) =>
          val sizeHex = line.split(';')(0).trim
          if (sizeHex.isEmpty || !sizeHex.forall(c => isHexDigit(c)))
            return Left("chunked_bad_size")
          // a hex run above Long.MaxValue is attacker-shaped input, not
          // an exception: parseLong would throw out of the UDF
          val size =
            try java.lang.Long.parseLong(sizeHex, 16)
            catch { case _: NumberFormatException => return Left("chunked_bad_size") }
          if (size == 0) {
            // trailer lines until blank
            val trailers = Iterator.continually(readLine())
              .takeWhile(l => l.isDefined && l.get.nonEmpty).flatten.toSeq
            return Right((out.toByteArray, trailers))
          }
          // compare size against the REMAINING length: the additive form
          // (pos + size + 2) can overflow Long for a near-MaxValue size
          // and skip the truncation check into a garbage write
          if (size > data.length.toLong - pos - 2) return Left("chunked_truncated")
          out.write(data, pos, size.toInt)
          pos += size.toInt
          if (!(data(pos) == '\r' && data(pos + 1) == '\n')) return Left("chunked_bad_boundary")
          pos += 2
      }
    }
    Left("unreachable")
  }

  private def isHexDigit(c: Char): Boolean =
    (c >= '0' && c <= '9') || (c >= 'a' && c <= 'f') || (c >= 'A' && c <= 'F')

  /** Content/Transfer-Encoding codecs. Coding names follow the reference's
    * Format::from_str table (compress.rs:84-98): gzip/x-gzip/gz,
    * zstd/zstandard/zst, deflate (zlib wrapper with raw-deflate fallback,
    * lenient like browsers; reference uses flate2 zlib), and brotli
    * (`br`/`brotli`) via the from-spec RFC 7932 decoder in
    * [[graft.ops.Brotli]] — full parity with the reference's codec table.
    */
  def decompress(name: String, data: Array[Byte]): Either[String, Array[Byte]] = name match {
    case "gzip" | "x-gzip" | "gz" =>
      try Right(gunzip(data))
      catch { case e: Exception => Left(s"gzip_error:${e.getClass.getSimpleName}") }
    case "zstd" | "zstandard" | "zst" =>
      try {
        val in = new com.github.luben.zstd.ZstdInputStreamNoFinalizer(
          new ByteArrayInputStream(data))
        try Right(readAll(in)) finally in.close()
      } catch { case e: Exception => Left(s"zstd_error:${e.getClass.getSimpleName}") }
    case "deflate" =>
      val z = inflaters.get
      try Right(inflateAll(z.zlib, data))
      catch {
        case _: Exception =>
          try Right(inflateAll(z.raw, data))
          catch { case e: Exception => Left(s"deflate_error:${e.getClass.getSimpleName}") }
      }
    case "br" | "brotli" =>
      try Right(Brotli.decompress(data))
      catch { case e: Brotli.BrotliException => Left(s"brotli_error:${e.getMessage}") }
    case other => Left(s"unsupported_encoding:$other")
  }

  /** Decompression-bomb guard, same 1 GiB bound the Brotli decoder
    * enforces internally: web payloads are untrusted, and a few-KB
    * gzip/zstd/deflate bomb must fail ITS record with a clean error row
    * (`*_error:OutputTooLarge`) — not OOM the executor and kill every
    * retry of the whole task.
    */
  private[graft] val MaxDecompressedBytes: Long = 1L << 30

  private[graft] final class OutputTooLarge
      extends java.io.IOException("decompressed output exceeds the 1 GiB guard")

  private def readAll(in: java.io.InputStream): Array[Byte] =
    readAll(in, MaxDecompressedBytes)

  private[graft] def readAll(in: java.io.InputStream, max: Long): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream()
    val buf = new Array[Byte](8192)
    var total = 0L
    var n = in.read(buf)
    while (n >= 0) {
      total += n
      if (total > max) throw new OutputTooLarge
      out.write(buf, 0, n)
      n = in.read(buf)
    }
    out.toByteArray
  }

  // ---- gzip and deflate bodies: reused inflaters ----
  //
  // A `GZIPInputStream` or `InflaterInputStream` per body allocates a
  // native zlib stream that is never closed here, so it waits for GC.
  // Each executor thread (one running task) instead keeps one raw and
  // one zlib-wrapped Inflater and resets them per body. The decoders
  // below accept and reject exactly what those streams do, with the
  // same exception classes, because the classes name the error
  // (`gzip_error:ZipException`, `deflate_error:EOFException`, ...).

  private final class Inflaters {
    val raw = new Inflater(true)
    val zlib = new Inflater()
    val buf = new Array[Byte](65536)
  }

  private val inflaters = ThreadLocal.withInitial[Inflaters](() => new Inflaters)

  /** A decoded body, held to the decompression-bomb guard. */
  private final class Body extends ByteArrayOutputStream with ByteSink {
    def append(chunk: Array[Byte], off: Int, n: Int): Unit = {
      if (size.toLong + n > MaxDecompressedBytes) throw new OutputTooLarge
      write(chunk, off, n)
    }
  }

  /** One whole zlib or raw-deflate stream; bytes after its end are ignored. */
  private def inflateAll(inf: Inflater, data: Array[Byte]): Array[Byte] = {
    val out = new Body
    inf.reset()
    inf.setInput(data)
    Gzip.inflate(inf, inflaters.get.buf, out, null)
    out.toByteArray
  }

  /** `GZIPInputStream` read to the end, over a byte array: after each
    * member another member is read when a header parses there; when none
    * does, the stream ends cleanly and the bytes left are ignored.
    */
  private def gunzip(data: Array[Byte]): Array[Byte] = {
    val z = inflaters.get
    val out = new Body
    var pos = Gzip.inflateMember(data, 0, z.raw, z.buf, out)
    while (try { Gzip.headerEnd(data, pos); true } catch { case _: IOException => false })
      pos = Gzip.inflateMember(data, pos, z.raw, z.buf, out)
    out.toByteArray
  }

  /** Chunked ENCODER (send side, for round-trip tests; send.rs:14-79). */
  def encodeChunked(body: Array[Byte], chunkSize: Int = 1024): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream()
    body.grouped(chunkSize).foreach { c =>
      out.write(s"${c.length.toHexString}\r\n".getBytes(StandardCharsets.US_ASCII))
      out.write(c)
      out.write("\r\n".getBytes(StandardCharsets.US_ASCII))
    }
    out.write("0\r\n\r\n".getBytes(StandardCharsets.US_ASCII))
    out.toByteArray
  }
}
