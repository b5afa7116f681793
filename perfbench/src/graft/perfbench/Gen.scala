package graft.perfbench

import java.io.ByteArrayOutputStream
import java.nio.charset.StandardCharsets.UTF_8
import java.security.MessageDigest

import org.apache.spark.sql.catalyst.expressions.XXH64
import org.apache.spark.unsafe.Platform

import scala.collection.mutable

/** The benchmark's own seeded input generator and its output oracle.
  *
  * Everything here is plain JVM code that calls nothing in `graft.*`, so
  * the expected outputs cannot inherit a defect of the code under test:
  * the generator builds every URL from its canonical form, so it knows the
  * canonical form, the host and the robots verdict of every row without
  * asking the engine; and it builds every WARC record, so it knows which
  * problems it injected and how many payload bytes extract must return.
  */
object Gen {

  /** Bump when the generated inputs change; part of every input key. */
  val Version = 1

  def mix(x0: Long): Long = {
    var z = x0 + 0x9e3779b97f4a7c15L
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    z ^ (z >>> 31)
  }

  final class Rng(seed: Long) {
    private var s = seed
    def nextLong(): Long = { s += 0x9e3779b97f4a7c15L; mix(s) }
    def nextInt(bound: Int): Int = ((nextLong() >>> 1) % bound).toInt
    def nextDouble(): Double = (nextLong() >>> 11) * 1.1102230246251565e-16
  }

  /** Spark's `xxhash64(string)` (seed 42): the engine's url_key. */
  def xxhash64(s: String): Long = {
    val b = s.getBytes(UTF_8)
    XXH64.hashUnsafeBytes(b, Platform.BYTE_ARRAY_OFFSET, b.length, 42L)
  }

  def xxhash64(b: Array[Byte]): Long =
    XXH64.hashUnsafeBytes(b, Platform.BYTE_ARRAY_OFFSET, b.length, 42L)

  // ------------------------------------------------------------------
  // crawl inputs
  // ------------------------------------------------------------------

  /** `perRound` stream URLs per round; round r reads stream elements
    * [r·perRound/2, r·perRound/2 + perRound), so each round half-overlaps
    * the previous one. `hotPerRound` > 0 adds one image-CDN host with that
    * many rows per round, half-overlapping the same way.
    */
  final case class CrawlSpec(seed: Long, perRound: Int, rounds: Int, nHosts: Int,
                             hotPerRound: Int) {
    def key(workload: String): String =
      s"$workload-s$seed-n$perRound-k$rounds-h$nHosts-x$hotPerRound-v$Version"
    def rowsPerRound: Int = perRound + hotPerRound
  }

  /** One frontier row as the generator wrote it, plus what it knows. */
  final case class Row(url: String, band: Int, host: String, canonical: String)

  val HotHost = "img.cdn.example.test"

  private def hostName(h: Int): String = f"h$h%05d.example.test"

  /** Stream element i. About 10% of elements repeat one of the previous
    * ten elements' URL, and about 20% of rows are written in a
    * non-canonical spelling (upper-case scheme or host, default port,
    * fragment, unsorted query). Host skew is squared-uniform over
    * `nHosts`, the same shape as the engine's own fixture.
    */
  def streamRow(seed: Long, i: Long, nHosts: Int): Row = {
    val r = new Rng(mix(seed * 0x5bd1e995L) ^ i)
    val dup = i >= 16 && r.nextInt(10) == 0
    val base = if (dup) i - 1 - r.nextInt(10) else i
    val band = r.nextInt(4)
    val form = if (dup || r.nextInt(8) == 0) 1 + r.nextInt(5) else 0
    val b = new Rng(mix(seed * 0x1b873593L) ^ base)
    val u = b.nextDouble()
    val host = hostName((u * u * nHosts).toInt)
    val dir = if (b.nextInt(25) == 0) "private0" else "p"
    val query = b.nextInt(3) == 0
    val (qa, qb) = (s"a=${base % 7}", s"b=${base % 13}")
    val path = s"/$dir/$base"
    val canonical = s"https://$host$path" + (if (query) s"?$qa&$qb" else "")
    val url = form match {
      case 0 => canonical
      case 1 => s"HTTPS://$host$path" + (if (query) s"?$qa&$qb" else "")
      case 2 => s"https://${host.toUpperCase}$path" + (if (query) s"?$qa&$qb" else "")
      case 3 => s"https://$host:443$path" + (if (query) s"?$qa&$qb" else "")
      case 4 => canonical + s"#f$i"
      case _ => s"https://$host$path" + (if (query) s"?$qb&$qa" else "#top")
    }
    Row(url, band, host, canonical)
  }

  def hotRow(seed: Long, j: Long): Row = {
    val r = new Rng(mix(seed * 0x27d4eb2fL) ^ j)
    val canonical = s"https://$HotHost/i/$j.jpg"
    Row(canonical, r.nextInt(4), HotHost, canonical)
  }

  def roundRows(spec: CrawlSpec, round: Int): Iterator[Row] = {
    val s0 = round.toLong * spec.perRound / 2
    val h0 = round.toLong * spec.hotPerRound / 2
    Iterator.range(0, spec.perRound).map(k => streamRow(spec.seed, s0 + k, spec.nHosts)) ++
      Iterator.range(0, spec.hotPerRound).map(k => hotRow(spec.seed, h0 + k))
  }

  /** Robots rule for a host: (crawl delay ms, disallowed path prefixes).
    * One host in ten has no rule (the engine's default delay applies); a
    * third of the rest disallow `/private0`.
    */
  def robotsFor(seed: Long, h: Int): Option[(Long, Seq[String])] = {
    val r = new Rng(mix(seed * 0x85ebca6bL) ^ h)
    if (h % 10 == 9) None
    else Some((250L * (1 + r.nextInt(4)),
      if (r.nextInt(3) == 0) Seq("/private0") else Seq.empty))
  }

  def robots(spec: CrawlSpec): Seq[(String, Long, Seq[String])] =
    (0 until spec.nHosts).flatMap(h =>
      robotsFor(spec.seed, h).map { case (d, p) => (hostName(h), d, p) }) :+
      ((HotHost, 100L, Seq("/private0")))

  /** The scheduling contract the engine documents, restated independently:
    * dedupe on the canonical URL (winner = least (band, url)), drop keys
    * already scheduled, drop robots-disallowed paths, then per host order
    * by (band, canonical url), keep the first `cap`, number them 1..n, and
    * space them by the host's crawl delay; batch = (seq-1) / budget.
    */
  final case class Sched(url: String, band: Int, host: String, urlKey: Long,
                         hostSeq: Long, scheduledMs: Long, batchId: Long)

  val DefaultDelayMs = 1000L

  def pathOf(url: String): String = {
    val s = url.indexOf("://")
    val slash = url.indexOf('/', s + 3)
    if (s < 0 || slash < 0) ""
    else {
      val q = url.indexOf('?', slash)
      if (q < 0) url.substring(slash) else url.substring(slash, q)
    }
  }

  def expectRound(spec: CrawlSpec, round: Int, seenKeys: collection.Set[Long],
                  cap: Int, budget: Int): Seq[Sched] = {
    val robotsMap = robots(spec).map { case (h, d, p) => h -> (d, p) }.toMap
    val winners = mutable.HashMap.empty[String, Row]
    roundRows(spec, round).foreach { r =>
      winners.get(r.canonical) match {
        case Some(w) if w.band < r.band || (w.band == r.band && w.url.compareTo(r.url) <= 0) =>
        case _ => winners.update(r.canonical, r)
      }
    }
    winners.valuesIterator
      .filter(r => !seenKeys.contains(xxhash64(r.canonical)))
      .filter { r =>
        val prefixes = robotsMap.get(r.host).map(_._2).getOrElse(Nil)
        val p = pathOf(r.canonical)
        !prefixes.exists(p.startsWith)
      }
      .toSeq.groupBy(_.host).toSeq.flatMap { case (host, rows) =>
        val delay = robotsMap.get(host).map(_._1).getOrElse(DefaultDelayMs)
        rows.sortWith((a, b) => a.band < b.band ||
            (a.band == b.band && a.canonical.compareTo(b.canonical) < 0))
          .take(cap).zipWithIndex.map { case (r, i) =>
            Sched(r.url, r.band, host, xxhash64(r.canonical), i + 1L,
              i * delay, (i / budget).toLong)
          }
      }
  }

  /** Order-independent fingerprint of a round's scheduled rows. */
  def rowHash(s: Sched): Long =
    mix(s.urlKey ^ mix(s.hostSeq * 31 + s.band) ^ mix(s.scheduledMs + 17) ^
      mix(s.batchId * 7 + 3) ^ mix(s.url.hashCode.toLong << 1) ^ mix(s.host.hashCode.toLong))

  def fingerprint(rows: Iterable[Sched]): (Long, Long) =
    (rows.size.toLong, rows.foldLeft(0L)((h, s) => h + rowHash(s)))

  // ------------------------------------------------------------------
  // WARC inputs
  // ------------------------------------------------------------------

  /** `exchanges` request/response pairs split over one record-at-time
    * `.warc.gz` and one `.warc.zst` archive (even exchanges in the gzip
    * one). Responses are chunked and gzip content-encoded (every fifth is
    * identity with Content-Length framing) and carry block and payload
    * digests. Injected faults, every one counted in [[WarcExpect]]:
    * dangling WARC-Concurrent-To targets, wrong block digests, wrong
    * payload digests, invalid dates, and segmented responses whose chains
    * are complete, miss a segment, or declare a wrong total length.
    */
  final case class WarcSpec(seed: Long, exchanges: Int) {
    def key: String = s"warc-verify-extract-s$seed-e$exchanges-v$Version"
  }

  final case class Field(name: String, value: String)
  final case class Rec(fields: Seq[Field], block: Array[Byte])

  final case class WarcExpect(problems: Map[String, Long], records: Long,
                              extractRecords: Long, extractBytes: Long,
                              extractXor: Long, httpRecords: Long, httpOk: Long)

  private val Words = Vector("table", "scan", "merge", "row", "batch", "key", "value",
    "crawl", "frontier", "image", "caption", "fetch", "host", "archive", "record")

  def sha1(b: Array[Byte]): Array[Byte] = MessageDigest.getInstance("SHA-1").digest(b)

  private val B32 = "ABCDEFGHIJKLMNOPQRSTUVWXYZ234567"

  /** RFC 4648 base32, as WARC `sha1:` digests are written. */
  def base32(data: Array[Byte]): String = {
    val sb = new StringBuilder
    var buf = 0L; var bits = 0
    data.foreach { b =>
      buf = (buf << 8) | (b & 0xff); bits += 8
      while (bits >= 5) { sb.append(B32(((buf >> (bits - 5)) & 31).toInt)); bits -= 5 }
    }
    if (bits > 0) sb.append(B32(((buf << (5 - bits)) & 31).toInt))
    while (sb.length % 8 != 0) sb.append('=')
    sb.toString
  }

  def sha1Text(b: Array[Byte]): String = "sha1:" + base32(sha1(b))

  private def gzip(b: Array[Byte]): Array[Byte] = {
    val bos = new ByteArrayOutputStream()
    val gz = new java.util.zip.GZIPOutputStream(bos)
    gz.write(b); gz.close()
    bos.toByteArray
  }

  private def chunked(b: Array[Byte], size: Int): Array[Byte] = {
    val out = new ByteArrayOutputStream()
    b.grouped(size).foreach { c =>
      out.write(s"${c.length.toHexString}\r\n".getBytes(UTF_8)); out.write(c)
      out.write("\r\n".getBytes(UTF_8))
    }
    out.write("0\r\n\r\n".getBytes(UTF_8))
    out.toByteArray
  }

  /** Records of one exchange, in file order, plus what they contribute to
    * the expected totals (added into `acc`).
    */
  private def exchange(spec: WarcSpec, e: Int, acc: Acc): Seq[Rec] = {
    val r = new Rng(mix(spec.seed * 0x3c6ef372L) ^ e)
    val uri = s"https://${hostName(r.nextInt(500))}/p/$e"
    val respId = f"<urn:uuid:00000000-0000-4000-8000-$e%012d>"
    val reqId = f"<urn:uuid:00000000-0000-4000-9000-$e%012d>"
    val date = "2025-01-01T00:00:00Z"
    val text = Iterator.fill(80 + r.nextInt(160))(Words(r.nextInt(Words.size)))
      .mkString(" ").getBytes(UTF_8)
    val identity = e % 5 == 4
    val http = if (identity)
      s"HTTP/1.1 200 OK\r\nContent-Type: text/html\r\nContent-Length: ${text.length}\r\n\r\n"
        .getBytes(UTF_8) ++ text
    else
      "HTTP/1.1 200 OK\r\nContent-Type: text/html\r\nContent-Encoding: gzip\r\nTransfer-Encoding: chunked\r\n\r\n"
        .getBytes(UTF_8) ++ chunked(gzip(text), 256 + r.nextInt(512))
    val segmented = e % 200 == 100
    val resp: Seq[Rec] =
      if (!segmented) {
        val badBlock = e % 97 == 3
        val badPayload = e % 89 == 5
        if (badBlock) acc.problem("block_digest_mismatch")
        if (badPayload) acc.problem("payload_digest_mismatch")
        acc.extract(text)
        acc.records += 1
        Seq(Rec(Seq(
          Field("WARC-Type", "response"), Field("WARC-Record-ID", respId),
          Field("WARC-Date", date), Field("WARC-Target-URI", uri),
          Field("Content-Type", "application/http;msgtype=response"),
          Field("WARC-Block-Digest", sha1Text(if (badBlock) http :+ 'x'.toByte else http)),
          Field("WARC-Payload-Digest", sha1Text(if (badPayload) text :+ 'x'.toByte else text)),
          Field("Content-Length", http.length.toString)), http))
      } else {
        // three segments; chain 1 (of every 3) loses its middle segment,
        // chain 2 declares a total one byte too long
        val chain = e / 200
        val third = http.length / 3
        val parts = Seq(http.take(third), http.slice(third, 2 * third), http.drop(2 * third))
        val declared = http.length + (if (chain % 3 == 2) 1 else 0)
        val kept = if (chain % 3 == 1) Seq(0, 2) else Seq(0, 1, 2)
        if (chain % 3 == 1) acc.problem("missing_segment")
        if (chain % 3 != 0) acc.problem("mismatched_segment_length")
        kept.map { k =>
          acc.records += 1
          val p = parts(k)
          val id = if (k == 0) respId
            else f"<urn:uuid:00000000-0000-4000-a00$k-$e%012d>"
          val head =
            if (k == 0) Seq(Field("WARC-Type", "response"), Field("WARC-Record-ID", id),
              Field("WARC-Date", date), Field("WARC-Target-URI", uri),
              Field("Content-Type", "application/http;msgtype=response"),
              Field("WARC-Segment-Number", "1"))
            else Seq(Field("WARC-Type", "continuation"), Field("WARC-Record-ID", id),
              Field("WARC-Date", date), Field("WARC-Target-URI", uri),
              Field("WARC-Segment-Origin-ID", respId),
              Field("WARC-Segment-Number", (k + 1).toString)) ++
              (if (k == 2) Seq(Field("WARC-Segment-Total-Length", declared.toString))
               else Nil)
          Rec(head ++ Seq(Field("WARC-Block-Digest", sha1Text(p)),
            Field("Content-Length", p.length.toString)), p)
        }
      }
    val dangling = e % 50 == 7
    val badDate = e % 83 == 11
    if (dangling) acc.problem("referenced_record_missing")
    if (badDate) acc.problem("invalid_date")
    acc.records += 1
    val reqBlock = s"GET /p/$e HTTP/1.1\r\nHost: ${uri.split('/')(2)}\r\n\r\n".getBytes(UTF_8)
    val req = Rec(Seq(
      Field("WARC-Type", "request"), Field("WARC-Record-ID", reqId),
      Field("WARC-Date", if (badDate) "2025-02-30T00:00:00Z" else date),
      Field("WARC-Target-URI", uri),
      Field("WARC-Concurrent-To",
        if (dangling) f"<urn:uuid:00000000-0000-4000-b000-$e%012d>" else respId),
      Field("Content-Type", "application/http;msgtype=request"),
      Field("WARC-Block-Digest", sha1Text(reqBlock)),
      Field("Content-Length", reqBlock.length.toString)), reqBlock)
    req +: resp
  }

  private final class Acc {
    val problems = mutable.Map.empty[String, Long].withDefaultValue(0L)
    var records, extractRecords, extractBytes, extractXor = 0L
    def problem(k: String): Unit = problems(k) += 1
    def extract(body: Array[Byte]): Unit = {
      extractRecords += 1; extractBytes += body.length; extractXor ^= xxhash64(body)
    }
  }

  /** One record as WARC/1.1 bytes: header lines, blank line, block, CRLF CRLF. */
  def recordBytes(r: Rec): Array[Byte] = {
    val head = new StringBuilder("WARC/1.1\r\n")
    r.fields.foreach(f => head.append(f.name).append(": ").append(f.value).append("\r\n"))
    head.append("\r\n")
    head.toString.getBytes(UTF_8) ++ r.block ++ "\r\n\r\n".getBytes(UTF_8)
  }

  /** Record-at-time gzip: one gzip member per record. */
  def gzipArchive(recs: Seq[Rec]): Array[Byte] = {
    val out = new ByteArrayOutputStream()
    recs.foreach(r => out.write(gzip(recordBytes(r))))
    out.toByteArray
  }

  /** Record-at-time zstd: one zstd frame per record. */
  def zstdArchive(recs: Seq[Rec]): Array[Byte] = {
    val out = new ByteArrayOutputStream()
    recs.foreach(r => out.write(com.github.luben.zstd.Zstd.compress(recordBytes(r), 3)))
    out.toByteArray
  }

  /** (gzip-archive records, zstd-archive records, expected results). */
  def warc(spec: WarcSpec): (Seq[Rec], Seq[Rec], WarcExpect) = {
    val acc = new Acc
    val gz = Vector.newBuilder[Rec]
    val zst = Vector.newBuilder[Rec]
    (0 until spec.exchanges).foreach { e =>
      (if (e % 2 == 0) gz else zst) ++= exchange(spec, e, acc)
    }
    (gz.result(), zst.result(), WarcExpect(acc.problems.toMap, acc.records,
      acc.extractRecords, acc.extractBytes, acc.extractXor,
      acc.extractRecords, acc.extractRecords))
  }
}
