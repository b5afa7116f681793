package graft.frontier

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StringType

import java.util.Locale

/** URL canonicalization + frontier key derivation (north rule F16).
  *
  * Canonical form, applied as pure Catalyst column expressions so the whole
  * derivation stays in whole-stage codegen:
  *   1. strip fragment (`#...`)
  *   2. lowercase scheme and host (path/query case preserved)
  *   3. strip default ports (`:80` for http, `:443` for https)
  *   4. remove trailing `.` on host
  *   5. empty path → `/`
  *   6. sort query parameters bytewise (stable dedupe key; the reference has
  *      no URL canonicalizer — this is the engine's own contract, fixed here
  *      and mirrored in the DuckDB oracle)
  *
  * Keys: `url_key = xxhash64(canonical_url)` — the partitioned-bloom probe
  * key; `host_hash = xxhash64(host)` — the range-partition component
  * (BASELINE.json north_rule).
  */
object Canonical {

  /** The slow (allocating) canonicalizer — the contract's reference
    * implementation; the byte fast path in [[canonicalizeUtf8]] must
    * agree with it exactly (property-tested in PropertySpec).
    */
  private[graft] def canonicalizeSlow(url: String): String = {
    val hashIdx = url.indexOf('#')
    val noFrag = if (hashIdx >= 0) url.substring(0, hashIdx) else url
    val schemeEnd = noFrag.indexOf(':')
    if (schemeEnd < 0) return noFrag // no scheme: pass through sans fragment
    val scheme = noFrag.substring(0, schemeEnd).toLowerCase(Locale.ROOT)
    if (!noFrag.regionMatches(schemeEnd, "://", 0, 3))
      return scheme + noFrag.substring(schemeEnd)
    val authStart = schemeEnd + 3
    var i = authStart
    while (i < noFrag.length && noFrag.charAt(i) != '/' && noFrag.charAt(i) != '?') i += 1
    val authority = noFrag.substring(authStart, i)
    val rest = noFrag.substring(i)
    val at = authority.lastIndexOf('@')
    val hostPort = if (at >= 0) authority.substring(at + 1) else authority
    val colon = hostPort.lastIndexOf(':')
    val portDigits = colon >= 0 && hostPort.substring(colon + 1).forall(_.isDigit)
    val (rawHost, port) =
      if (portDigits && colon + 1 < hostPort.length)
        (hostPort.substring(0, colon), hostPort.substring(colon))
      else if (portDigits) (hostPort.substring(0, colon), "") // bare trailing ':'
      else (hostPort, "")
    val host = {
      val h = rawHost.toLowerCase(Locale.ROOT)
      if (h.endsWith(".")) h.substring(0, h.length - 1) else h
    }
    val keepPort =
      if ((scheme == "http" && port == ":80") || (scheme == "https" && port == ":443")) ""
      else port
    val qIdx = rest.indexOf('?')
    val path = if (qIdx >= 0) rest.substring(0, qIdx) else rest
    val normPath = if (path.isEmpty) "/" else path
    val query = if (qIdx >= 0) rest.substring(qIdx + 1) else ""
    val sortedQuery =
      if (query.isEmpty) ""
      else "?" + query.split("&", -1).sorted.mkString("&")
    scheme + "://" + host + keepPort + normPath + sortedQuery
  }

  /** Scala-side host extraction (lowercased, userinfo/port/trailing-dot
    * stripped); empty string when the URL has no authority.
    */
  def hostOfString(url: String): String = {
    if (url == null) return null
    // index-based single pass: exactly one substring allocation (plus
    // toLowerCase only when the host actually has uppercase) — the
    // narrow pre-exchange stage runs this once per frontier row
    val hashIdx = url.indexOf('#')
    val end0 = if (hashIdx >= 0) hashIdx else url.length
    val schemeEnd = url.indexOf(':')
    if (schemeEnd < 0 || schemeEnd >= end0 ||
        end0 - schemeEnd < 3 || !url.regionMatches(schemeEnd, "://", 0, 3)) return ""
    val authStart = schemeEnd + 3
    var i = authStart
    var lastAt = -1
    var lastColon = -1
    while (i < end0 && url.charAt(i) != '/' && url.charAt(i) != '?') {
      val c = url.charAt(i)
      if (c == '@') { lastAt = i; lastColon = -1 }
      else if (c == ':') lastColon = i
      i += 1
    }
    val hpStart = if (lastAt >= 0) lastAt + 1 else authStart
    var hostEnd = i
    if (lastColon >= hpStart) {
      var j = lastColon + 1
      var digits = true
      while (j < i && digits) {
        if (!Character.isDigit(url.charAt(j))) digits = false
        j += 1
      }
      if (digits) hostEnd = lastColon // ":" + digits (or bare ":") = port
    }
    if (hostEnd > hpStart && url.charAt(hostEnd - 1) == '.') hostEnd -= 1
    url.substring(hpStart, hostEnd).toLowerCase(Locale.ROOT)
  }

  private val hostUdf = udf((u: String) => hostOfString(u))

  /** The one fast path: a zero-copy canonicalizer over Spark's native
    * string representation (the kernel behind [[canonicalUrl]]). One
    * allocation-free byte scan proves the URL is ALREADY canonical and
    * returns the INPUT `UTF8String` object itself — no
    * UTF8→String→UTF8 round trip, no allocation. Most real crawl
    * URLs (and all synthetic bench URLs) are already canonical, and the
    * slow path allocates ~8 intermediate substrings per row — at 8
    * threads over 10^7 rows that allocation rate was a measured
    * memory-bandwidth/GC pressure source in the frontier round
    * (BENCH.md). The scan is CONSERVATIVE: any case it cannot cheaply
    * prove canonical (non-ASCII bytes, IPv6-ish colons, userinfo,
    * unsorted query) materializes through [[canonicalizeSlow]], so the
    * output is bit-identical to the reference. Any non-ASCII byte routes
    * to the slow path because UTF-8 byte order ≠ UTF-16 code-unit order
    * beyond ASCII, and the slow path sorts query params as Strings.
    */
  def canonicalizeUtf8(u: org.apache.spark.unsafe.types.UTF8String)
      : org.apache.spark.unsafe.types.UTF8String = {
    if (u == null) null
    else if (isCanonicalAscii(u)) u
    else org.apache.spark.unsafe.types.UTF8String.fromString(
      canonicalizeSlow(u.toString))
  }

  /** True only if [[canonicalizeSlow]] would return `u` unchanged
    * (false negatives allowed, false positives not); any high byte →
    * false (conservative, slow path decides).
    */
  private[graft] def isCanonicalAscii(
      u: org.apache.spark.unsafe.types.UTF8String): Boolean = {
    val n = u.numBytes
    var i = 0
    // ASCII-only and no fragment anywhere
    while (i < n) {
      val b = u.getByte(i)
      if (b < 0 || b == '#') return false
      i += 1
    }
    // scheme: chars before the FIRST ':' must be [a-z0-9+.-]
    var schemeEnd = -1
    i = 0
    while (i < n && schemeEnd < 0) {
      if (u.getByte(i) == ':') schemeEnd = i else i += 1
    }
    if (schemeEnd < 0) return true
    i = 0
    while (i < schemeEnd) {
      val c = u.getByte(i)
      val ok = (c >= 'a' && c <= 'z') || (c >= '0' && c <= '9') ||
        c == '+' || c == '.' || c == '-'
      if (!ok) return false
      i += 1
    }
    if (!(schemeEnd + 2 < n && u.getByte(schemeEnd + 1) == '/' &&
        u.getByte(schemeEnd + 2) == '/')) return true
    val authStart = schemeEnd + 3
    var authEnd = authStart
    var lastColon = -1
    while (authEnd < n && u.getByte(authEnd) != '/' && u.getByte(authEnd) != '?') {
      val c = u.getByte(authEnd)
      if (c == '@') return false // userinfo would be stripped
      if (c == ':') lastColon = authEnd
      if (c >= 'A' && c <= 'Z') return false // host lowercasing
      authEnd += 1
    }
    // empty path would become "/"
    if (authEnd >= n || u.getByte(authEnd) != '/') return false
    val hostEnd = if (lastColon >= 0) lastColon else authEnd
    // trailing host dot would be stripped
    if (hostEnd > authStart && u.getByte(hostEnd - 1) == '.') return false
    if (lastColon >= 0) {
      // port: non-empty digits, and not the scheme default
      if (lastColon + 1 >= authEnd) return false
      i = lastColon + 1
      while (i < authEnd) {
        val c = u.getByte(i)
        if (c < '0' || c > '9') return false
        i += 1
      }
      val portLen = authEnd - lastColon - 1
      if (portLen == 2 && u.getByte(lastColon + 1) == '8' &&
          u.getByte(lastColon + 2) == '0' && schemeEnd == 4 &&
          u.getByte(0) == 'h' && u.getByte(1) == 't' &&
          u.getByte(2) == 't' && u.getByte(3) == 'p') return false
      if (portLen == 3 && u.getByte(lastColon + 1) == '4' &&
          u.getByte(lastColon + 2) == '4' && u.getByte(lastColon + 3) == '3' &&
          schemeEnd == 5 && u.getByte(0) == 'h' && u.getByte(1) == 't' &&
          u.getByte(2) == 't' && u.getByte(3) == 'p' &&
          u.getByte(4) == 's') return false
    }
    // query: '&'-separated params must already be in sorted order
    var qIdx = -1
    i = authEnd
    while (i < n && qIdx < 0) { if (u.getByte(i) == '?') qIdx = i else i += 1 }
    if (qIdx < 0) return true
    if (qIdx == n - 1) return false // bare trailing '?' is dropped
    var prevStart = qIdx + 1
    var prevEnd = prevStart
    while (prevEnd < n && u.getByte(prevEnd) != '&') prevEnd += 1
    while (prevEnd < n) { // prevEnd sits on '&'
      val curStart = prevEnd + 1
      var curEnd = curStart
      while (curEnd < n && u.getByte(curEnd) != '&') curEnd += 1
      val la = prevEnd - prevStart
      val lb = curEnd - curStart
      var k = 0
      val m = math.min(la, lb)
      var cmp = 0
      while (k < m && cmp == 0) {
        cmp = u.getByte(prevStart + k) - u.getByte(curStart + k)
        k += 1
      }
      if (cmp == 0) cmp = la - lb
      if (cmp > 0) return false
      prevStart = curStart
      prevEnd = curEnd
    }
    true
  }

  /** Extract the host (lowercased, trailing dot + default port stripped). */
  def hostOf(url: Column): Column = hostUdf(url)

  /** Canonicalize a URL column per the contract above — a kernel call
    * to [[canonicalizeUtf8]]: stays inside whole-stage codegen (the udf
    * form broke the round's hottest pipeline into two codegen stages)
    * and the already-canonical fast path is ZERO-COPY (returns the
    * scan's UTF8String as-is — the udf form paid a UTF8→String→UTF8
    * round trip per row even when the value was unchanged).
    */
  def canonicalUrl(url: Column): Column =
    graft.functions.GraftFunctions.kernel(Canonical, StringType, "canonicalizeUtf8", Seq(url))

  /** Bloom-probe / dedupe key. */
  def urlKey(canonical: Column): Column = xxhash64(canonical)

  /** Range-partition component for (priority_band, host_hash). */
  def hostHash(host: Column): Column = xxhash64(host)
}
