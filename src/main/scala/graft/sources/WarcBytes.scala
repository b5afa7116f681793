package graft.sources

import graft.core.{Field, HeaderSerde, WarcRecord}

import java.io.{ByteArrayOutputStream, EOFException}
import java.nio.charset.StandardCharsets
import java.util.zip.{Deflater, Inflater}

/** WARC byte-level codec — the engine's equivalent of the reference's
  * decoder/encoder cores (/root/reference/src/warc/decode.rs:109-180,
  * src/warc/encode.rs:41-132), as pure executor-side functions consumed by
  * [[WarcSource]] inside `mapPartitions`.
  *
  * Framing (decode.rs:547-668): version line + header fields + CRLF CRLF,
  * then exactly Content-Length block bytes, then "\r\n\r\n". `position` is
  * the record's byte offset in the (uncompressed) stream — boundary
  * offsets are the reference's own integration-test oracle
  * (tests/test_decode.rs:77-78).
  *
  * Compression (compress.rs:62-76): record-at-time concatenated gzip
  * members and zstd frames — each record is its own member or frame, so
  * each decodes independently. [[detectFormat]] tells WARC/ from gzip and
  * zstd magic the same way detect_header does (decode.rs:811-821), and
  * [[decodeMember]] is the one member/frame step every read path takes
  * (the reference's start_next_segment, compress.rs:174-196).
  */
object WarcBytes {

  val GzipMagic: Array[Byte] = Array(0x1f.toByte, 0x8b.toByte)
  val ZstdMagic: Array[Byte] = Array(0x28.toByte, 0xb5.toByte, 0x2f.toByte, 0xfd.toByte)

  /** Magic detection (decode.rs:811-821): "warc" | "gzip" | "zstd" |
    * "unknown". Zstd skippable frames (0x184D2A50..5F little-endian, incl.
    * the dictionary frame 0x184D2A5D) also identify as zstd.
    */
  def detectFormat(bytes: Array[Byte]): String =
    if (bytes.length >= 5 &&
      new String(bytes, 0, 5, StandardCharsets.US_ASCII) == "WARC/") "warc"
    else if (bytes.length >= 2 && bytes(0) == GzipMagic(0) && bytes(1) == GzipMagic(1)) "gzip"
    else if (bytes.length >= 4 && bytes.take(4).sameElements(ZstdMagic)) "zstd"
    else if (isSkippableFrame(bytes, 0)) "zstd"
    else "unknown"

  /** True when a zstd skippable frame (magic 0x184D2A50..5F) starts at `i`. */
  private[sources] def isSkippableFrame(b: Array[Byte], i: Int): Boolean =
    i + 4 <= b.length && (readLe32(b, i) & 0xfffffff0) == 0x184d2a50

  private val HeaderTerminator = "\r\n\r\n".getBytes(StandardCharsets.US_ASCII)

  /** Max header size guard — the reference caps header scan at 32 KiB
    * (decode.rs:15); beyond it the input is malformed, not "need more".
    */
  val MaxHeaderLen = 32768

  /** Where decoded member bytes go: a [[RecordParser]], or a plain byte
    * buffer for [[gunzipConcatenated]].
    */
  trait ByteSink {
    def append(chunk: Array[Byte], off: Int, n: Int): Unit
  }

  /** Incremental record framer: append decompressed chunks, pull complete
    * records. Memory is bounded by one record + one appended chunk — the
    * Spark-side analog of the reference's bounded-buffer push decoder
    * (decode.rs:383-801). `position` = offset in the uncompressed stream.
    *
    * Unconsumed bytes are `buf[pos, len)`: framing a record only moves the
    * read cursor, and the partial record left behind is moved to the
    * front once per [[append]] — so one large append (a whole plain file,
    * a brotli stream) frames in time linear in its size.
    */
  final class RecordParser(file: String) extends ByteSink {
    private var buf = new Array[Byte](64 * 1024)
    private var pos = 0
    private var len = 0
    private var base = 0L // uncompressed offset of buf(pos)
    private val ready = scala.collection.mutable.Queue.empty[WarcRecord]
    /** Total records framed so far (valid mid-stream). */
    var recordsParsed: Long = 0L

    def append(chunk: Array[Byte], off: Int, n: Int): Unit = {
      if (pos > 0) {
        System.arraycopy(buf, pos, buf, 0, len - pos)
        len -= pos
        pos = 0
      }
      if (len + n > buf.length) {
        val grown = new Array[Byte](math.max(buf.length * 2, len + n))
        System.arraycopy(buf, 0, grown, 0, len)
        buf = grown
      }
      System.arraycopy(chunk, off, buf, len, n)
      len += n
      drain()
    }

    def next(): Option[WarcRecord] =
      if (ready.nonEmpty) Some(ready.dequeue()) else None

    /** Start a new stream at offset 0, keeping the buffer: the split
      * read frames every member of its range with one parser.
      */
    def reset(): Unit = {
      pos = 0
      len = 0
      base = 0L
      ready.clear()
    }

    /** True when no partial record is buffered and nothing is queued —
      * i.e. the stream sits exactly on a record boundary.
      */
    def atRecordBoundary: Boolean = pos == len

    /** End of stream: any leftover bytes are a framing error. */
    def finish(): Unit =
      require(pos == len, s"truncated block at offset $base")

    private def indexOfTerminator(from: Int, limit: Int): Int = {
      var i = from
      while (i + 4 <= limit) {
        if (buf(i) == '\r' && buf(i + 1) == '\n' && buf(i + 2) == '\r' && buf(i + 3) == '\n')
          return i
        i += 1
      }
      -1
    }

    private def drain(): Unit = {
      var progress = true
      while (progress) {
        progress = false
        val avail = len - pos
        val at = indexOfTerminator(pos, len)
        if (at < 0) {
          require(avail <= MaxHeaderLen + 4, s"missing header terminator at offset $base")
        } else {
          val headerEnd = at - pos // header length before CRLF CRLF
          // the cap applies even when a terminator IS eventually found —
          // the reference treats any header block past 32 KiB as malformed
          require(headerEnd <= MaxHeaderLen, s"header exceeds $MaxHeaderLen bytes at offset $base")
          val (version, fields) = HeaderSerde.parse(buf, pos, headerEnd + 4)
            .getOrElse(throw new IllegalArgumentException(s"bad header at offset $base"))
          val lenStr = fields.find(_.name.equalsIgnoreCase("Content-Length")).map(_.value)
            .getOrElse(throw new IllegalArgumentException(s"no Content-Length at offset $base"))
          require(lenStr.nonEmpty && lenStr.length <= 18 && lenStr.forall(_.isDigit),
            s"bad Content-Length '$lenStr' at offset $base")
          val blockLenL = lenStr.toLong
          // i32 guard (a declared length >= 2^31 must error, never wrap);
          // headroom for blockStart (≤ MaxHeaderLen+4) + terminator so
          // `blockStart + blockLen + 4` below cannot overflow Int either
          require(blockLenL <= Int.MaxValue.toLong - MaxHeaderLen - 16,
            s"Content-Length $blockLenL exceeds supported block size at offset $base")
          val blockLen = blockLenL.toInt
          val blockStart = headerEnd + 4
          if (blockStart + blockLen + 4 <= avail) {
            val blockAt = pos + blockStart
            val block = java.util.Arrays.copyOfRange(buf, blockAt, blockAt + blockLen)
            var t = 0
            while (t < 4) {
              require(buf(blockAt + blockLen + t) == HeaderTerminator(t),
                s"missing record terminator at offset ${base + blockStart + blockLen}")
              t += 1
            }
            ready += WarcRecord(base, file, version, fields, block)
            recordsParsed += 1
            val consumed = blockStart + blockLen + 4
            pos += consumed
            base += consumed
            progress = true
          }
          // else: need more input for the block
        }
      }
      if (pos == len) { pos = 0; len = 0 }
    }
  }

  /** Streaming decoder for one WARC file (plain / record-at-time gzip /
    * zstd, auto-detected like detect_header, decode.rs:811-821). Gzip
    * members and zstd frames are decoded ONE at a time by [[decodeMember]],
    * so peak memory is one record + one member — never the decompressed
    * file (the reference's own bounded-memory contract, io.rs:4).
    *
    * `recordAtTimeOk` (valid once exhausted) is the RecordAtTimeCompression
    * verify flag (decode.rs:700-711, surfaced app/verify.rs:79-82): for
    * the concatenation-capable formats (gzip and zstd), every member or
    * frame must contain exactly one record ending on its boundary. Plain
    * files are trivially ok.
    *
    * `presetDict`: a zstd dictionary obtained OUT of band (e.g. the
    * archive's head frame parsed by a caller decoding from a mid-file
    * offset, where the leading dictionary frame is not in `bytes`). A
    * dictionary frame found in-band takes precedence.
    *
    * `formatOverride`: whole-file container wrappers the reference also
    * accepts (compress.rs:43-58) that magic detection cannot identify —
    * "deflate" (one zlib stream around the whole WARC) and "brotli"
    * (one raw brotli stream; brotli has no magic at all) — selected by
    * filename extension or an explicit caller flag, like the
    * reference's `--compression-format` / app/format.rs:5-22. These
    * wrappers do not support record-at-time concatenation
    * (compress.rs:68-76), so `recordAtTimeOk` stays trivially true and
    * `position` is the uncompressed-stream offset exactly as for plain.
    */
  final class WarcFileDecoder(bytes: Array[Byte], file: String,
                              presetDict: Option[Array[Byte]] = None,
                              formatOverride: Option[String] = None)
      extends Iterator[WarcRecord] {
    // a zero-byte file is the degenerate EMPTY archive (what writing an
    // empty dataset produces), not an unsupported format: decode it as
    // zero records in any format. Truncated files are unaffected — they
    // carry partial content and still fail their format's own checks.
    private val format =
      if (bytes == null || bytes.isEmpty) "warc"
      else formatOverride.getOrElse(detectFormat(bytes))
    private val parser = new RecordParser(file)
    private var ratFault = false
    private var pos = 0 // compressed cursor (member loop / plain feed)
    private var pending: Option[WarcRecord] = None
    private var finished = false
    private var dict: Option[Array[Byte]] = None
    private var scratch: DecodeScratch = null // built once dict is known
    private var zlibInf: Inflater = null // lazy, "deflate" wrapper only
    private var brotliFed = false // "brotli" wrapper: whole-buffer fed?
    private val chunk = new Array[Byte](65536)

    def recordAtTimeOk: Boolean = !ratFault

    override def hasNext: Boolean = {
      while (pending.isEmpty && !finished) {
        parser.next() match {
          case some @ Some(_) => pending = some
          case None           => feedMore()
        }
      }
      pending.nonEmpty
    }

    override def next(): WarcRecord = {
      if (!hasNext) throw new NoSuchElementException("end of WARC stream")
      val r = pending.get
      pending = None
      r
    }

    /** Feed the parser more decompressed bytes, or mark end-of-stream. */
    private def feedMore(): Unit = format match {
      case "warc" =>
        if (pos >= bytes.length) { parser.finish(); finished = true }
        else {
          val n = math.min(chunk.length, bytes.length - pos)
          parser.append(bytes, pos, n)
          pos += n
        }
      case "gzip" | "zstd" =>
        if (scratch == null) {
          // a leading zstd dictionary frame sits before the first member
          val (d, start) = if (format == "zstd") zstdDictFrame(bytes) else (None, 0)
          dict = d.orElse(presetDict)
          pos = start
          scratch = new DecodeScratch(dict)
        }
        if (pos >= bytes.length) { parser.finish(); finished = true }
        else {
          val before = parser.recordsParsed
          pos = decodeMember(bytes, pos, format, parser, dict, scratch)
          // record-at-time contract: one record per member, boundary-
          // aligned; a step over trailing skippable frames at EOF adds none
          val added = parser.recordsParsed - before
          if (!parser.atRecordBoundary || added > 1 || (added == 0 && pos < bytes.length))
            ratFault = true
        }
      case "deflate" =>
        // whole-file zlib wrapper (compress.rs:46): ONE continuous
        // stream inflated in 64 KiB chunks — bounded memory like gzip
        if (zlibInf == null) { zlibInf = new Inflater(); zlibInf.setInput(bytes) }
        if (zlibInf.finished()) {
          zlibInf.end(); parser.finish(); finished = true
        } else {
          val n = zlibInf.inflate(chunk)
          if (n > 0) parser.append(chunk, 0, n)
          else if (zlibInf.finished()) { zlibInf.end(); parser.finish(); finished = true }
          else if (zlibInf.needsInput())
            throw new EOFException(s"$file: truncated zlib stream")
          else if (zlibInf.needsDictionary())
            throw new IllegalArgumentException(s"$file: zlib preset dictionary unsupported")
        }
      case "brotli" =>
        // whole-file raw brotli wrapper (compress.rs:52): the in-repo
        // RFC 7932 decoder is whole-buffer (1 GiB output guard inside)
        // — acceptable for this rare-path container; the mainline
        // formats (gzip/zstd) stay streaming. Decode and finish are
        // SEPARATE feedMore calls: feedMore's contract is "either add
        // bytes or mark end-of-stream", never both — hasNext checks
        // `finished` before re-polling the parser queue, so a call that
        // appends AND finishes would strand every queued record.
        if (!brotliFed) {
          brotliFed = true
          val out = graft.ops.Brotli.decompress(bytes)
          parser.append(out, 0, out.length)
        } else { parser.finish(); finished = true }
      case other =>
        throw new IllegalArgumentException(s"$file: unsupported format $other")
    }
  }

  /** Reusable decode scratch for one file or byte range: one native
    * Inflater, one 64 KiB output buffer, and one zstd decompression
    * context with the dictionary digested ONCE. A record-at-time archive
    * holds one member per record — a fresh Inflater (a native zlib stream
    * init/free) and buffer per member cost more than the inflation itself
    * at ~2 KiB members (150k members/archive at bench sf), and the static
    * `Zstd.decompress*` helpers create and free a native ZSTD_DCtx (and
    * re-digest the dictionary) per call, which dominates ~500 B frames.
    * A file's dictionary never changes mid-file, so the ctx is bound to it
    * up front. The Inflater and the ctx are built on first use only.
    */
  private[sources] final class DecodeScratch(dict: Option[Array[Byte]]) {
    lazy val inf = new Inflater(true)
    val buf = new Array[Byte](65536)
    lazy val zstd = {
      val c = new com.github.luben.zstd.ZstdDecompressCtx()
      dict.foreach(c.loadDict)
      c
    }
  }

  /** Decode ONE record-at-time member at `buf(rel)` into `sink` and return
    * the offset just past it — the one member/frame step of every read
    * path (the reference's start_next_segment, compress.rs:174-196).
    * `format` "gzip" inflates one gzip member; "zstd" skips any skippable
    * frames, sizes the next frame and decompresses it, returning
    * `buf.length` when only skippable frames remain. A member the buffer
    * ends inside throws EOFException, so a byte-range caller can re-read a
    * larger window.
    */
  private[sources] def decodeMember(buf: Array[Byte], rel: Int, format: String,
                                    sink: ByteSink, dict: Option[Array[Byte]],
                                    scratch: DecodeScratch): Int =
    if (format == "gzip") inflateMember(buf, rel, sink, scratch)
    else {
      var pos = rel
      // skippable frames carry no records. Their size is an UNSIGNED le32
      // (a signed read of a corrupt high-bit size moved pos BACKWARDS, an
      // infinite decode loop), so every skip moves strictly forward
      while (isSkippableFrame(buf, pos)) {
        if (pos + 8 > buf.length) throw new EOFException(s"truncated skippable frame at offset $pos")
        val next = pos + 8L + (readLe32(buf, pos + 4) & 0xffffffffL)
        if (next > buf.length) throw new EOFException(
          s"skippable frame at offset $pos runs past the buffer (size ${next - pos - 8})")
        pos = next.toInt
      }
      if (pos >= buf.length) buf.length
      else {
        val fsize =
          try com.github.luben.zstd.Zstd.findFrameCompressedSize(buf, pos, buf.length - pos)
          catch { case _: RuntimeException => -1L }
        if (fsize <= 0 || pos + fsize > buf.length)
          throw new EOFException(s"truncated/invalid zstd frame at offset $pos")
        decompressZstdFrame(buf, pos, fsize.toInt, dict, sink, scratch)
        pos + fsize.toInt
      }
    }

  /** Inflate exactly one gzip member starting at `pos0`, streaming 64 KiB
    * chunks into `sink`; returns the offset just past the member's
    * trailer (the reference's start_next_segment bookkeeping,
    * compress.rs:174-196, decode.rs:733-753).
    */
  private[sources] def inflateMember(bytes: Array[Byte], pos0: Int, sink: ByteSink,
                                     scratch: DecodeScratch): Int = {
    require(pos0 + 2 <= bytes.length &&
      bytes(pos0) == GzipMagic(0) && bytes(pos0 + 1) == GzipMagic(1),
      s"bad gzip magic at offset $pos0")
    var pos = skipGzipHeader(bytes, pos0 + 2)
    val inf = scratch.inf
    inf.reset() // clean stream state even after a prior member threw
    inf.setInput(bytes, pos, bytes.length - pos)
    while (!inf.finished()) {
      val n = inf.inflate(scratch.buf)
      if (n > 0) sink.append(scratch.buf, 0, n)
      else if (inf.needsInput()) throw new EOFException(s"truncated deflate data at $pos")
    }
    pos += inf.getBytesRead.toInt
    require(pos + 8 <= bytes.length, s"truncated gzip trailer at offset $pos")
    pos + 8 // CRC32 + ISIZE
  }

  /** Decode a plain (uncompressed) WARC byte stream into records with
    * exact byte-offset positions. Malformed input throws
    * IllegalArgumentException with the byte offset (the decoder's
    * typestate errors, decode.rs:217-303). Non-streaming convenience over
    * [[RecordParser]] — [[WarcFileDecoder]] is the bounded-memory path.
    */
  def decodeRecords(bytes: Array[Byte], file: String): Seq[WarcRecord] = {
    val p = new RecordParser(file)
    p.append(bytes, 0, bytes.length)
    p.finish()
    Iterator.continually(p.next()).takeWhile(_.isDefined).flatten.toVector
  }

  /** Decode a whole archive in any format [[WarcFileDecoder]] detects
    * (plain, record-at-time gzip or zstd, dictionary frame honored) into
    * records with uncompressed-stream positions.
    */
  def decode(bytes: Array[Byte], file: String): Seq[WarcRecord] =
    new WarcFileDecoder(bytes, file).toVector

  /** Encode records back to WARC bytes (encode.rs:41-132): header +
    * exactly Content-Length block bytes + CRLF CRLF. The Content-Length
    * header must equal the block length (ContentLengthMismatch,
    * encode.rs:119-132).
    */
  def encodeRecords(records: Seq[WarcRecord]): Array[Byte] = {
    val out = new ByteArrayOutputStream()
    records.foreach { r =>
      val declared = r.fields.find(_.name.equalsIgnoreCase("Content-Length")).map(_.value)
      require(declared.contains(r.bytes.length.toString),
        s"Content-Length mismatch at position ${r.position}: " +
          s"declared ${declared.orNull}, block ${r.bytes.length}")
      out.write(HeaderSerde.serialize(r.version, r.fields))
      out.write(r.bytes)
      out.write(HeaderTerminator)
    }
    out.toByteArray
  }

  // ---- whole-file container wrappers (compress.rs:43-58): one zlib or
  //      raw-brotli stream around the WHOLE record stream; these formats
  //      do not support concatenation (compress.rs:68-76), so there is
  //      no record-at-time form and no byte-range splitting ----

  /** Whole-file zlib-deflate container (compress.rs:46). */
  def encodeDeflateWhole(records: Seq[WarcRecord]): Array[Byte] = {
    val plain = encodeRecords(records)
    val d = new Deflater()
    d.setInput(plain)
    d.finish()
    val out = new ByteArrayOutputStream(plain.length / 2 + 64)
    val buf = new Array[Byte](65536)
    while (!d.finished()) out.write(buf, 0, d.deflate(buf))
    d.end()
    out.toByteArray
  }

  /** Whole-file raw-brotli container (compress.rs:52) via the in-repo
    * stored-mode RFC 7932 encoder (every conforming decoder accepts it;
    * decode-side richness is pinned by BrotliSpec's real-encoder
    * vectors).
    */
  def encodeBrotliWhole(records: Seq[WarcRecord]): Array[Byte] =
    graft.ops.Brotli.compressStored(encodeRecords(records))

  // ---- record-at-time gzip (one member per record, compress.rs:62-76) ----

  /** Gzip-compress each record as its own member and concatenate —
    * record-at-time compression (encode.rs:108-113 → compress.rs:174-196).
    */
  def encodeGzip(records: Seq[WarcRecord]): Array[Byte] = {
    val out = new ByteArrayOutputStream()
    records.foreach(r => writeGzipMember(out, encodeRecords(Seq(r))))
    out.toByteArray
  }

  /** Write `plain` to `out` as ONE gzip member. finish() flushes the
    * member but only close() would end the native Deflater — and close()
    * would also close the shared sink — so end it explicitly: 150k
    * members per task must not strand 150k native zlib contexts on the
    * Cleaner.
    */
  private[sources] def writeGzipMember(out: java.io.OutputStream, plain: Array[Byte]): Unit = {
    val gz = new GzipMemberStream(out)
    gz.write(plain)
    gz.finish()
    gz.end()
  }

  private final class GzipMemberStream(out: java.io.OutputStream)
      extends java.util.zip.GZIPOutputStream(out) {
    `def`.setLevel(Deflater.BEST_SPEED)
    def end(): Unit = `def`.end()
  }

  /** Inflate ALL concatenated gzip members, one [[decodeMember]] step
    * each over one reused Inflater (GZIPInputStream can desync at member
    * boundaries because its internal buffering overshoots).
    */
  def gunzipConcatenated(bytes: Array[Byte]): Array[Byte] =
    decodeConcatenated(bytes, "gzip")

  /** Decompress ALL zstd frames after the optional dictionary frame, one
    * [[decodeMember]] step each over one reused context; skippable
    * frames decode to nothing, and a truncated frame throws.
    */
  def unzstdConcatenated(bytes: Array[Byte]): Array[Byte] =
    decodeConcatenated(bytes, "zstd")

  private def decodeConcatenated(bytes: Array[Byte], format: String): Array[Byte] = {
    val out = new ByteArrayOutputStream( // clamp: * 3 overflows Int past ~715 MiB input
      math.min(bytes.length.toLong * 3, (Int.MaxValue - 8).toLong).toInt) with ByteSink {
      def append(chunk: Array[Byte], off: Int, n: Int): Unit = write(chunk, off, n)
    }
    val (dict, start) = if (format == "zstd") zstdDictFrame(bytes) else (None, 0)
    val scratch = new DecodeScratch(dict)
    try {
      var pos = start
      while (pos < bytes.length) pos = decodeMember(bytes, pos, format, out, dict, scratch)
    } finally if (format == "zstd") scratch.zstd.close() else scratch.inf.end()
    out.toByteArray
  }

  /** Decompress ONE zstd frame `bytes[pos, pos+fsize)` into `sink`.
    *
    * Fast path (the frame header pledges its content size — which our
    * record-at-time encoder always does, since one-shot
    * `ZstdCompressCtx.compress` pledges): a single JNI decompress call on
    * the scratch context. A fresh `ZstdInputStream` per frame costs a
    * native stream-context init plus several JNI crossings per RECORD,
    * which at one-frame-per-record archives is the dominant decode cost:
    * the 150k-record q67 bench archive split 17 s via streams vs ~3 s for
    * the SAME records as gzip members. The scratch ctx decodes with the
    * same dictionary semantics as a per-call one (a dict-free frame never
    * back-references dict content, so a loaded dict is inert for it).
    * Unknown-size and oversized (>1 GiB pledged — don't trust a corrupt
    * header with an allocation) frames keep the streaming path.
    */
  private[sources] def decompressZstdFrame(bytes: Array[Byte], pos: Int,
      fsize: Int, dict: Option[Array[Byte]], sink: ByteSink,
      scratch: DecodeScratch): Unit = {
    val contentSize =
      try com.github.luben.zstd.Zstd.getFrameContentSize(bytes, pos, fsize)
      catch { case _: RuntimeException => -1L }
    if (contentSize >= 0 && contentSize <= (1L << 30)) {
      val dst = new Array[Byte](contentSize.toInt)
      val n = scratch.zstd.decompressByteArray(dst, 0, dst.length, bytes, pos, fsize)
      if (n > 0) sink.append(dst, 0, n)
    } else {
      val in = new com.github.luben.zstd.ZstdInputStreamNoFinalizer(
        new java.io.ByteArrayInputStream(bytes, pos, fsize))
      try {
        dict.foreach(in.setDict)
        var n = in.read(scratch.buf)
        while (n >= 0) {
          if (n > 0) sink.append(scratch.buf, 0, n)
          n = in.read(scratch.buf)
        }
      } finally in.close()
    }
  }

  // ---- record-at-time zstd (one frame per record; dictionary in a
  //      skippable frame, reference src/compress/zstd.rs:13-58) ----

  /** The reference's dictionary skippable-frame magic (zstd.rs:13). */
  val ZstdDictFrameMagic = 0x184d2a5d

  private def le32(v: Int): Array[Byte] =
    Array((v & 0xff).toByte, ((v >> 8) & 0xff).toByte,
      ((v >> 16) & 0xff).toByte, ((v >> 24) & 0xff).toByte)

  private[sources] def readLe32(b: Array[Byte], pos: Int): Int =
    (b(pos) & 0xff) | ((b(pos + 1) & 0xff) << 8) |
      ((b(pos + 2) & 0xff) << 16) | ((b(pos + 3) & 0xff) << 24)

  /** Zstd-compress each record as its own frame; optional dictionary is
    * written first inside skippable frame 0x184D2A5D (itself optionally
    * zstd-compressed, like the reference's compressed-dictionary mode).
    */
  def encodeZstd(records: Seq[WarcRecord], level: Int = 3,
                 dict: Option[Array[Byte]] = None,
                 compressDict: Boolean = false): Array[Byte] = {
    import com.github.luben.zstd.{Zstd, ZstdCompressCtx}
    val out = new ByteArrayOutputStream()
    dict.foreach { d =>
      val payload = if (compressDict) Zstd.compress(d, level) else d
      out.write(le32(ZstdDictFrameMagic))
      out.write(le32(payload.length))
      out.write(payload)
    }
    // ONE native context for the whole batch (level + dict persist
    // across one-shot compress calls; each call still emits an
    // independent frame): a fresh ZstdCompressCtx per record paid a
    // native init per frame, the same per-record JNI tax the decode
    // side had (see decompressZstdFrame)
    val ctx = new ZstdCompressCtx()
    try {
      ctx.setLevel(level)
      dict.foreach(ctx.loadDict)
      records.foreach { r => out.write(ctx.compress(encodeRecords(Seq(r)))) }
    } finally ctx.close()
    out.toByteArray
  }

  /** Parse the optional leading dictionary skippable frame (zstd.rs:13-58):
    * returns (dictionary, offset of the first content frame). A dictionary
    * payload that itself starts with zstd magic is a COMPRESSED dictionary
    * and is inflated first.
    */
  private[sources] def zstdDictFrame(bytes: Array[Byte]): (Option[Array[Byte]], Int) = {
    import com.github.luben.zstd.Zstd
    if (bytes.length >= 8 && readLe32(bytes, 0) == ZstdDictFrameMagic) {
      // unsigned size: a signed read of a corrupt high-bit size would
      // pass the bound check with a negative value and yield an empty dict
      val len = readLe32(bytes, 4) & 0xffffffffL
      require(8 + len <= bytes.length, "truncated zstd dictionary frame")
      val payload = bytes.slice(8, (8 + len).toInt)
      val dict =
        if (payload.length >= 4 && payload.take(4).sameElements(ZstdMagic)) {
          val size = Zstd.getFrameContentSize(payload)
          // upper bound like decompressZstdFrame: never trust a corrupt
          // pledged size with a near-2 GiB allocation
          require(size > 0 && size <= (1L << 30),
            s"compressed dictionary content size $size out of range")
          Zstd.decompress(payload, size.toInt)
        } else payload
      (Some(dict), (8 + len).toInt)
    } else (None, 0)
  }

  /** Skip a gzip member header starting AFTER the 2 magic bytes; returns
    * the offset of the deflate data.
    */
  private[sources] def skipGzipHeader(bytes: Array[Byte], start: Int): Int = {
    def u8(i: Int): Int = {
      if (i >= bytes.length) throw new EOFException("truncated gzip header")
      bytes(i) & 0xff
    }
    var pos = start
    val cm = u8(pos); require(cm == 8, "unsupported gzip compression method")
    val flg = u8(pos + 1)
    pos += 8 // CM FLG MTIME(4) XFL OS
    if ((flg & 0x04) != 0) { // FEXTRA
      val xlen = u8(pos) | (u8(pos + 1) << 8)
      pos += 2 + xlen
    }
    if ((flg & 0x08) != 0) { while (u8(pos) != 0) pos += 1; pos += 1 } // FNAME
    if ((flg & 0x10) != 0) { while (u8(pos) != 0) pos += 1; pos += 1 } // FCOMMENT
    if ((flg & 0x02) != 0) pos += 2 // FHCRC
    pos
  }
}
