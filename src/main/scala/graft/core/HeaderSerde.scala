package graft.core

import java.nio.ByteBuffer
import java.nio.charset.{CharacterCodingException, CodingErrorAction, StandardCharsets}
import java.util.regex.Pattern
import scala.collection.immutable.ArraySeq

/** WARC header serialization (reference src/header.rs:114-128): version
  * line + `name: value` CRLF pairs in insertion order + blank line.
  * Byte-exact round-trip is a reference test (header.rs:131-152); ours is
  * a ScalaTest property test.
  */
object HeaderSerde {

  def serialize(version: String, fields: Seq[Field]): Array[Byte] = {
    val sb = new StringBuilder
    sb.append(version).append("\r\n")
    fields.foreach(f => sb.append(f.name).append(": ").append(f.value).append("\r\n"))
    sb.append("\r\n")
    sb.toString.getBytes(StandardCharsets.UTF_8)
  }

  /** `(?:\r\n|\n)[ \t]+`: a line break followed by continuation
    * whitespace. It matches exactly where some LF is followed by SP or
    * HT, so [[parse]] runs it only when its byte scan saw such a pair.
    */
  private val Fold = Pattern.compile("(?:\r\n|\n)[ \t]+")

  /** Parse bytes back into (version, fields). Rejects non-UTF8 the same
    * way the reference does (header.rs:67,72-73) by replacement-char
    * detection; folded lines unfolded per parse.rs:65-68.
    */
  def parse(bytes: Array[Byte]): Option[(String, Seq[Field])] =
    parse(bytes, 0, bytes.length)

  /** [[parse]] over `bytes[off, off+len)`. Per record this is the record
    * framer's hot path, so it works like the reference's hand-written
    * header scanner (header.rs:63-79): one byte scan decides whether the
    * text is pure ASCII and whether any line is folded, and lines are cut
    * with `indexOf`. The fold regex runs only on folded headers.
    */
  def parse(bytes: Array[Byte], off: Int, len: Int): Option[(String, Seq[Field])] = {
    var ascii = true
    var folded = false
    var i = off
    val end = off + len
    while (i < end) {
      val b = bytes(i)
      if (b < 0) ascii = false
      else if (b == '\n' && i + 1 < end && (bytes(i + 1) == ' ' || bytes(i + 1) == '\t'))
        folded = true
      i += 1
    }
    // every byte below 0x80: Latin-1 gives exactly the chars a strict
    // UTF-8 decode would. Otherwise decode strictly
    // (CodingErrorAction.REPORT) so malformed UTF-8 is REJECTED
    // (reference behavior, header.rs:67,72-73) while a header that
    // legitimately encodes a literal U+FFFD still parses — the lenient
    // String constructor can't tell the two apart because it substitutes
    // U+FFFD for invalid sequences.
    val text =
      if (ascii) new String(bytes, off, len, StandardCharsets.ISO_8859_1)
      else
        try StandardCharsets.UTF_8.newDecoder()
          .onMalformedInput(CodingErrorAction.REPORT)
          .onUnmappableCharacter(CodingErrorAction.REPORT)
          .decode(ByteBuffer.wrap(bytes, off, len)).toString
        catch { case _: CharacterCodingException => return None }
    val unfolded = if (folded) Fold.matcher(text).replaceAll(" ") else text
    // lines are cut on CRLF exactly as `split("\r\n", -1)` cuts them;
    // the version line needs a CRLF after it, and the fields run up to
    // the first empty line (or the end of the text)
    val first = unfolded.indexOf("\r\n")
    if (first < 0 || !unfolded.startsWith("WARC/")) return None
    val fields = Array.newBuilder[Field]
    var from = first + 2
    var more = true
    while (more) {
      val lineEnd = unfolded.indexOf("\r\n", from) match {
        case -1 => unfolded.length
        case e  => e
      }
      if (lineEnd == from) more = false
      else {
        val colon = unfolded.indexOf(':', from)
        if (colon < 0 || colon >= lineEnd) return None
        fields += Field(unfolded.substring(from, colon).trim,
          unfolded.substring(colon + 1, lineEnd).trim)
        if (lineEnd == unfolded.length) more = false else from = lineEnd + 2
      }
    }
    Some((unfolded.substring(0, first), ArraySeq.unsafeWrapArray(fields.result())))
  }

  /** Serialized record length: header + block + CRLF CRLF terminator
    * (encode.rs:108-113) — drives the synthetic `position` offsets.
    */
  def recordLength(version: String, fields: Seq[Field], blockLen: Long): Long =
    serialize(version, fields).length.toLong + blockLen + 4
}
