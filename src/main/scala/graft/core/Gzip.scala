package graft.core

import java.io.EOFException
import java.util.zip.{CRC32, DataFormatException, Inflater, ZipException}

/** Where decoded bytes go: a WARC record framer, a whole-stream buffer,
  * an HTTP body.
  */
trait ByteSink {
  def append(chunk: Array[Byte], off: Int, n: Int): Unit
}

/** The engine's one gzip member decoder (RFC 1952), for record-at-time
  * `.warc.gz` members and HTTP `gzip` bodies alike. Over a byte array it
  * accepts and rejects one member as `GZIPInputStream` does, with the
  * same exception classes: EOFException when the input ends inside the
  * member; ZipException on a bad magic or method, a header CRC (FHCRC)
  * that does not match, corrupt deflate data, or a CRC32/ISIZE trailer
  * that does not match the inflated bytes. What follows a member (another
  * member, trailing bytes) is the caller's rule.
  */
object Gzip {

  private def le16(d: Array[Byte], i: Int): Int = (d(i) & 0xff) | (d(i + 1) & 0xff) << 8

  private def le32(d: Array[Byte], i: Int): Long = (le16(d, i) | le16(d, i + 2) << 16) & 0xffffffffL

  /** `GZIPInputStream.readHeader` at `p0`: the offset just past the
    * header. FEXTRA, FNAME and FCOMMENT are skipped; FHCRC is checked.
    */
  def headerEnd(d: Array[Byte], p0: Int): Int = {
    var p = p0
    def need(n: Int): Unit = if (d.length - p < n) throw new EOFException("truncated gzip header")
    need(2)
    if (le16(d, p) != 0x8b1f) throw new ZipException("Not in GZIP format")
    p += 2
    need(1)
    if (d(p) != 8) throw new ZipException("Unsupported compression method")
    need(2)
    val flg = d(p + 1)
    p += 2
    need(6)
    p += 6 // MTIME, XFL, OS
    if ((flg & 4) != 0) { need(2); val xlen = le16(d, p); p += 2; need(xlen); p += xlen }
    def skipZeroTerminated(): Unit = { need(1); while (d(p) != 0) { p += 1; need(1) }; p += 1 }
    if ((flg & 8) != 0) skipZeroTerminated()
    if ((flg & 16) != 0) skipZeroTerminated()
    if ((flg & 2) != 0) {
      val crc = new CRC32
      crc.update(d, p0, p - p0)
      need(2)
      if (le16(d, p) != (crc.getValue & 0xffff)) throw new ZipException("Corrupt GZIP header")
      p += 2
    }
    p
  }

  /** Inflate the inflater's input to the end of its stream into `sink`
    * in `buf`-sized chunks, as `InflaterInputStream.read` does: stop at
    * the stream end (or a preset-dictionary request), EOFException when
    * the input runs out first, ZipException on corrupt data. Adds the
    * output to `crc` unless it is null.
    */
  def inflate(inf: Inflater, buf: Array[Byte], sink: ByteSink, crc: CRC32): Unit = {
    def ended = inf.finished() || inf.needsDictionary()
    while (!ended) {
      val n =
        try inf.inflate(buf)
        catch {
          case e: DataFormatException =>
            throw new ZipException(Option(e.getMessage).getOrElse("Invalid ZLIB data format"))
        }
      if (n > 0) {
        if (crc != null) crc.update(buf, 0, n)
        sink.append(buf, 0, n)
      } else if (!ended && inf.needsInput())
        throw new EOFException("Unexpected end of ZLIB input stream")
    }
  }

  /** Inflate the one member at `d(p0)` — header, deflate data, CRC32 and
    * ISIZE trailer — into `sink` through the raw (`nowrap`) inflater
    * `inf`, which is reset first, and return the offset just past the
    * trailer. After an EOFException, `inf.finished()` tells a cut
    * trailer from a cut header or deflate stream.
    */
  def inflateMember(d: Array[Byte], p0: Int, inf: Inflater, buf: Array[Byte],
                    sink: ByteSink): Int = {
    inf.reset()
    val start = headerEnd(d, p0)
    val crc = new CRC32
    inf.setInput(d, start, d.length - start)
    inflate(inf, buf, sink, crc)
    val end = start + inf.getBytesRead.toInt
    def need(n: Int): Unit =
      if (d.length - end < n) throw new EOFException(s"truncated gzip trailer at offset $end")
    need(4)
    if (le32(d, end) != crc.getValue) throw new ZipException("Corrupt GZIP trailer")
    need(8)
    if (le32(d, end + 4) != (inf.getBytesWritten & 0xffffffffL))
      throw new ZipException("Corrupt GZIP trailer")
    end + 8
  }
}
