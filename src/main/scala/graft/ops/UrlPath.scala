package graft.ops

import java.nio.charset.StandardCharsets
import java.util.Locale

/** URL → filesystem path components (reference src/extract.rs:166-289).
  *
  * Deterministic pure functions (unit-tested against the reference's own
  * golden cases, extract.rs:295-307) + thin UDF wrappers. Executed
  * per-row on executors — no state, no I/O.
  *
  * Component pipeline (escape_component, extract.rs:224-250):
  *   percent-decode (UTF-8 lossy) → "."/".."→"_"/"__" → Windows reserved
  *   device name prefixed "_" → trailing "."/" " replaced with "_" →
  *   percent-encode controls + `/\:*?"<>|` + non-ASCII → truncate to 200
  *   bytes. Authority skips the decode/encode steps (escape_authority,
  *   extract.rs:209-221).
  */
object UrlPath {

  val MaxComponentLen = 200

  /** extract.rs:262-267 */
  val ReservedWindowsFilenames: Set[String] = Set(
    "CON", "PRN", "AUX", "NUL", "COM0", "COM1", "COM2", "COM3", "COM4",
    "COM5", "COM6", "COM7", "COM8", "COM9", "COM¹", "COM²",
    "COM³", "LPT0", "LPT1", "LPT2", "LPT3", "LPT4", "LPT5", "LPT6",
    "LPT7", "LPT8", "LPT9", "LPT¹", "LPT²", "LPT³")

  /** %XX → bytes → UTF-8 (lossy: invalid sequences → U+FFFD). */
  def percentDecodeLossy(s: String): String = {
    val raw = s.getBytes(StandardCharsets.UTF_8)
    val out = new java.io.ByteArrayOutputStream(raw.length)
    var i = 0
    while (i < raw.length) {
      val c = raw(i)
      if (c == '%' && i + 2 < raw.length && isHex(raw(i + 1)) && isHex(raw(i + 2))) {
        out.write(hexVal(raw(i + 1)) * 16 + hexVal(raw(i + 2)))
        i += 3
      } else { out.write(c.toInt); i += 1 }
    }
    new String(out.toByteArray, StandardCharsets.UTF_8)
  }

  private def isHex(b: Byte): Boolean =
    (b >= '0' && b <= '9') || (b >= 'a' && b <= 'f') || (b >= 'A' && b <= 'F')
  private def hexVal(b: Byte): Int =
    if (b <= '9') b - '0' else (b | 0x20) - 'a' + 10

  /** CONTROLS + / \ : * ? " < > | ; non-ASCII bytes always encoded. */
  private def needsEscape(b: Int): Boolean =
    b < 0x20 || b == 0x7f || b >= 0x80 ||
      b == '/' || b == '\\' || b == ':' || b == '*' || b == '?' ||
      b == '"' || b == '<' || b == '>' || b == '|'

  def percentEncode(s: String): String = {
    val sb = new StringBuilder
    s.getBytes(StandardCharsets.UTF_8).foreach { b =>
      val v = b & 0xff
      if (needsEscape(v)) sb.append(f"%%$v%02X") else sb.append(v.toChar)
    }
    sb.toString
  }

  /** extract.rs:252-260 */
  def escapeDirectoryReference(c: String): String =
    if (c == ".") "_" else if (c == "..") "__" else c

  /** extract.rs:269-280: first '.'-segment matches a reserved name
    * (ASCII-case-insensitive) → prefix '_'.
    */
  def escapeWindowsReserved(c: String): String = {
    val first = c.split('.').headOption.getOrElse(c)
    if (ReservedWindowsFilenames.exists(_.equalsIgnoreCase(first))) "_" + c else c
  }

  /** extract.rs:282-289: trailing '.' or ' ' REPLACED by '_' (pop+push). */
  def escapeTrailing(c: String): String =
    if (c.endsWith(".") || c.endsWith(" ")) c.dropRight(1) + "_" else c

  /** Byte-length truncation to 200, kept on a char boundary. */
  private def truncateBytes(s: String): String = {
    val bytes = s.getBytes(StandardCharsets.UTF_8)
    if (bytes.length <= MaxComponentLen) s
    else {
      var n = MaxComponentLen
      while (n > 0 && (bytes(n) & 0xc0) == 0x80) n -= 1
      new String(bytes, 0, n, StandardCharsets.UTF_8)
    }
  }

  /** escape_component (extract.rs:224-250). */
  def escapeComponent(c: String): String = {
    var x = percentDecodeLossy(c)
    x = escapeDirectoryReference(x)
    x = escapeWindowsReserved(x)
    x = escapeTrailing(x)
    truncateBytes(percentEncode(x))
  }

  /** escape_authority (extract.rs:209-221): no decode/encode. */
  def escapeAuthority(a: String): String = {
    var x = escapeDirectoryReference(a)
    x = escapeWindowsReserved(x)
    x = escapeTrailing(x)
    truncateBytes(x)
  }

  /** url_to_path_components (extract.rs:168-196): scheme, authority,
    * non-empty escaped path segments, escaped query; unparseable URL →
    * one escaped component.
    */
  // compiled once: this runs once per extracted record inside a UDF —
  // a per-call "...".r paid a Pattern.compile per row
  private val SchemeRest = "^([A-Za-z][A-Za-z0-9+.-]*):(.*)$".r

  def urlToPathComponents(url: String): Seq[String] = {
    val m = SchemeRest
    url match {
      case m(scheme, rest) =>
        val out = scala.collection.mutable.ArrayBuffer(scheme.toLowerCase(Locale.ROOT))
        if (rest.startsWith("//")) {
          val afterAuth = rest.drop(2)
          val authEnd = afterAuth.indexWhere(ch => ch == '/' || ch == '?' || ch == '#') match {
            case -1 => afterAuth.length
            case i  => i
          }
          val authority = afterAuth.substring(0, authEnd)
          if (authority.nonEmpty) out += escapeAuthority(authority)
          val tail = afterAuth.substring(authEnd)
          val (pathPart, queryPart) = splitPathQuery(tail)
          pathPart.split('/').filter(_.nonEmpty).foreach(out += escapeComponent(_))
          queryPart.foreach(out += escapeComponent(_))
        } else {
          // cannot-be-a-base (e.g. mailto:, urn:): whole path is one component
          val (pathPart, queryPart) = splitPathQuery(rest)
          out += escapeComponent(pathPart)
          queryPart.foreach(out += escapeComponent(_))
        }
        out.toSeq
      case _ => Seq(escapeComponent(url))
    }
  }

  private def splitPathQuery(s: String): (String, Option[String]) = {
    val noFrag = s.indexOf('#') match { case -1 => s; case i => s.substring(0, i) }
    noFrag.indexOf('?') match {
      case -1 => (noFrag, None)
      case i  => (noFrag.substring(0, i), Some(noFrag.substring(i + 1)))
    }
  }

  // ---- filesystem-tree conflict markers (reference
  //      src/extract.rs:12 FILENAME_CONFLICT_MARKER = '⬧';
  //      src/app/extract.rs:186-221 create_target_path) ----

  /** The reference's conflict marker char (extract.rs:12). */
  val ConflictMarker = '⬧'

  /** Truncated-record marker on the final component
    * (app/extract.rs:194-197).
    */
  def markTruncated(component: String): String =
    s"$component${ConflictMarker}truncated"

  /** Conversion-record marker on the final component
    * (extract.rs:104-107: conversion records extract next to the original
    * response under `name⬧conversion`).
    */
  def markConversion(component: String): String =
    s"$component${ConflictMarker}conversion"

  /** Name-taken marker: append the 16-hex xxh3 conflict id
    * (app/extract.rs:199-208; hashed with from-spec XXH3-64, matching
    * the reference's conflict names bit-for-bit).
    */
  def markConflict(component: String, conflictId: Long): String =
    f"$component$ConflictMarker$conflictId%016x"

  /** File-in-place-of-directory marker (app/extract.rs:210-216). */
  def markDirectory(component: String): String =
    s"$component${ConflictMarker}d"

  /** app/extract.rs:186-221 create_target_path, modeled as a pure
    * resolution over predicates of the already-written tree: walk the
    * components; intermediate components that collide with an existing
    * FILE get `⬧d`; the final component gets `⬧truncated` when the record
    * was truncated, and the `⬧<id>` suffix when its target path already
    * exists. Returns the resolved component list.
    */
  def resolveTargetPath(components: Seq[String], isTruncated: Boolean,
                        conflictId: Long,
                        pathExists: Seq[String] => Boolean,
                        pathIsFile: Seq[String] => Boolean): Seq[String] = {
    val resolved = scala.collection.mutable.ArrayBuffer.empty[String]
    components.zipWithIndex.foreach { case (component, i) =>
      val isLast = i == components.length - 1
      if (isLast) {
        val base = if (isTruncated) markTruncated(component) else component
        resolved += (if (pathExists(resolved.toSeq :+ base))
          markConflict(base, conflictId)
        else base)
      } else {
        resolved += (if (pathIsFile(resolved.toSeq :+ component))
          markDirectory(component)
        else component)
      }
    }
    resolved.toSeq
  }
}
