package graft

import graft.ops.HttpOps
import org.scalatest.funsuite.AnyFunSuite
import java.nio.charset.StandardCharsets.ISO_8859_1

/** HTTP receiver scenarios ported from the reference
  * (src/http/h1/recv.rs:296-527 + framing table recv.rs:111-165,
  * chunked codec chunked.rs:216-293).
  */
class HttpOpsSpec extends AnyFunSuite {

  private def resp(s: String) = HttpOps.parseResponse(s.getBytes(ISO_8859_1))

  test("content-length framing") {
    val p = resp("HTTP/1.1 200 OK\r\nContent-Length: 5\r\n\r\nhelloEXTRA")
    assert(p.ok && p.status == 200 && new String(p.body) == "hello")
  }

  test("204/304/1xx → zero body regardless of headers (recv.rs:115-124)") {
    for (code <- Seq(204, 304, 100)) {
      val p = resp(s"HTTP/1.1 $code X\r\nContent-Length: 5\r\n\r\nhello")
      assert(p.ok && p.body.isEmpty, s"code $code")
    }
  }

  test("response without framing reads to end (recv.rs:159-165)") {
    val p = resp("HTTP/1.1 200 OK\r\n\r\nunframed body")
    assert(p.ok && new String(p.body) == "unframed body")
  }

  test("chunked transfer decoding with trailer (chunked.rs:216-293)") {
    val p = resp("HTTP/1.1 200 OK\r\nTransfer-Encoding: chunked\r\n\r\n" +
      "5\r\nhello\r\n6;ext=1\r\n world\r\n0\r\nX-Trailer: t\r\n\r\n")
    assert(p.ok && new String(p.body) == "hello world")
  }

  test("TE beats Content-Length (recv.rs:134-148)") {
    val p = resp("HTTP/1.1 200 OK\r\nContent-Length: 999\r\n" +
      "Transfer-Encoding: chunked\r\n\r\n2\r\nok\r\n0\r\n\r\n")
    assert(p.ok && new String(p.body) == "ok")
  }

  test("last TE not chunked → unframed response (recv.rs:136-146)") {
    val body = "raw-until-eof"
    val gz = gzipBytes(body.getBytes(ISO_8859_1))
    val payload = "HTTP/1.1 200 OK\r\nTransfer-Encoding: gzip\r\n\r\n".getBytes(ISO_8859_1) ++ gz
    val p = HttpOps.parseResponse(payload)
    assert(p.ok && new String(p.body) == body)
  }

  test("chunked + gzip content-encoding pipeline (recv.rs:428-470 shape)") {
    val body = "the compressed payload body"
    val gz = gzipBytes(body.getBytes(ISO_8859_1))
    val chunked = HttpOps.encodeChunked(gz, 7)
    val payload = ("HTTP/1.1 200 OK\r\nContent-Encoding: gzip\r\n" +
      "Transfer-Encoding: chunked\r\n\r\n").getBytes(ISO_8859_1) ++ chunked
    val p = HttpOps.parseResponse(payload)
    assert(p.ok && new String(p.body) == body)
  }

  test("deflate content-encoding (zlib wrapper)") {
    val body = "deflated".getBytes(ISO_8859_1)
    val out = new java.io.ByteArrayOutputStream()
    val d = new java.util.zip.DeflaterOutputStream(out)
    d.write(body); d.close()
    val payload = ("HTTP/1.1 200 OK\r\nContent-Encoding: deflate\r\n" +
      s"Content-Length: ${out.size}\r\n\r\n").getBytes(ISO_8859_1) ++ out.toByteArray
    val p = HttpOps.parseResponse(payload)
    assert(p.ok && p.body.sameElements(body))
  }

  test("body shorter than Content-Length → truncated_body error") {
    val p = resp("HTTP/1.1 200 OK\r\nContent-Length: 50\r\n\r\nonly-15-bytes..")
    assert(!p.ok && p.error == "truncated_body" && p.body.isEmpty)
    // exact length still fine; 204 ignores Content-Length entirely
    assert(resp("HTTP/1.1 200 OK\r\nContent-Length: 2\r\n\r\nok").ok)
    assert(resp("HTTP/1.1 204 No Content\r\nContent-Length: 50\r\n\r\n").ok)
  }

  test("unsupported encoding → error (error.rs:388-390)") {
    val p = resp("HTTP/1.1 200 OK\r\nContent-Encoding: bzip2\r\nContent-Length: 2\r\n\r\nxx")
    assert(!p.ok && p.error == "unsupported_encoding:bzip2")
  }

  test("brotli content-encoding: real-encoder stream and stored-mode stream") {
    // a reference-encoder (q9) stream from the BrotliSpec vector set
    val in = getClass.getResourceAsStream("/graft/brotli_vectors.txt")
    val line = try scala.io.Source.fromInputStream(in, "UTF-8").getLines()
      .find(_.startsWith("text-q9-w22 ")).get finally in.close()
    val Array(_, p64, c64) = line.split(" ", 3)
    val b64 = java.util.Base64.getDecoder
    val plain = b64.decode(p64)
    val comp = b64.decode(c64)
    val payload = ("HTTP/1.1 200 OK\r\nContent-Encoding: br\r\n" +
      s"Content-Length: ${comp.length}\r\n\r\n").getBytes(ISO_8859_1) ++ comp
    val parsed = HttpOps.parseResponse(payload)
    assert(parsed.ok && parsed.body.sameElements(plain))
    // stored-mode (the q35 synthesis path) round-trips through the pipeline
    val body = "stored-mode brotli body é漢".getBytes("UTF-8")
    val stored = graft.ops.Brotli.compressStored(body)
    val payload2 = ("HTTP/1.1 200 OK\r\nContent-Encoding: br\r\n" +
      s"Content-Length: ${stored.length}\r\n\r\n").getBytes(ISO_8859_1) ++ stored
    val parsed2 = HttpOps.parseResponse(payload2)
    assert(parsed2.ok && parsed2.body.sameElements(body))
    // truncated stream → loud error, not silent wrong bytes
    val bad = comp.take(comp.length / 2)
    val p3 = HttpOps.parseResponse(("HTTP/1.1 200 OK\r\nContent-Encoding: br\r\n" +
      s"Content-Length: ${bad.length}\r\n\r\n").getBytes(ISO_8859_1) ++ bad)
    assert(!p3.ok && p3.error.startsWith("brotli_error:"))
  }

  test("lenient status line, bad inputs") {
    assert(resp("HTTP/1.1 200\r\n\r\n").ok)       // no reason phrase
    assert(!resp("GARBAGE\r\n\r\n").ok)
    assert(!resp("no terminator at all").ok)
    val trunc = resp("HTTP/1.1 200 OK\r\nTransfer-Encoding: chunked\r\n\r\n5\r\nhel")
    assert(!trunc.ok && trunc.error == "chunked_truncated")
    // attacker-shaped numerics must yield error rows, never throw out of
    // the UDF: oversized status code, >Long Content-Length, >Long hex
    // chunk size
    val bigStatus = resp("HTTP/1.1 99999999999 OK\r\n\r\n")
    assert(!bigStatus.ok && bigStatus.error == "bad_status_code")
    val bigCl = resp("HTTP/1.1 200 OK\r\nContent-Length: 99999999999999999999\r\n\r\nx")
    assert(!bigCl.ok && bigCl.error == "invalid_content_length")
    val bigChunk = resp(
      "HTTP/1.1 200 OK\r\nTransfer-Encoding: chunked\r\n\r\nFFFFFFFFFFFFFFFF\r\nx")
    assert(!bigChunk.ok && bigChunk.error == "chunked_bad_size")
  }

  test("comma-list split: lowercase, trim, order (h1/header/fields.rs:15-31)") {
    assert(HttpOps.commaList(" Gzip , CHUNKED ,, x ") == Seq("gzip", "chunked", "x"))
  }

  private def gzipBytes(data: Array[Byte]): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream()
    val g = new java.util.zip.GZIPOutputStream(out)
    g.write(data); g.close()
    out.toByteArray
  }

  test("decompression bomb guard: output past the cap fails the record " +
    "cleanly (OutputTooLarge), never materializes") {
    // 64 KiB of zeros gzips to ~80 bytes; decode through a 1000-byte cap
    // exercises exactly the guard the 1 GiB production bound uses
    val bomb = gzipBytes(new Array[Byte](65536))
    val e = intercept[Exception](HttpOps.readAll(
      new java.util.zip.GZIPInputStream(new java.io.ByteArrayInputStream(bomb)), 1000L))
    // decompress() reports errors as "<codec>_error:<SimpleName>" — pin
    // the name the error row will carry
    assert(e.getClass.getSimpleName == "OutputTooLarge")
    // sanity: the same stream under the real cap decodes fine
    assert(HttpOps.decompress("gzip", bomb).exists(_.length == 65536))
  }

  /** One gzip member around `body` with header flags `flg` (FTEXT 1,
    * FHCRC 2, FEXTRA 4, FNAME 8, FCOMMENT 16; reserved bits pass through).
    */
  private def gzipMember(body: Array[Byte], flg: Int, level: Int = 6): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream()
    out.write(Array[Byte](0x1f, 0x8b.toByte, 8, flg.toByte, 1, 2, 3, 4, 0, 3))
    if ((flg & 4) != 0) { out.write(5); out.write(0); out.write("extra".getBytes(ISO_8859_1)) }
    if ((flg & 8) != 0) { out.write("name.txt".getBytes(ISO_8859_1)); out.write(0) }
    if ((flg & 16) != 0) { out.write("a comment".getBytes(ISO_8859_1)); out.write(0) }
    if ((flg & 2) != 0) {
      val c = new java.util.zip.CRC32
      c.update(out.toByteArray)
      out.write(c.getValue.toInt & 0xff); out.write((c.getValue.toInt >> 8) & 0xff)
    }
    out.write(deflateBytes(body, level, raw = true))
    val c = new java.util.zip.CRC32
    c.update(body)
    for (v <- Seq(c.getValue.toInt, body.length); k <- 0 until 4) out.write(v >>> (8 * k))
    out.toByteArray
  }

  private def deflateBytes(body: Array[Byte], level: Int, raw: Boolean): Array[Byte] = {
    val d = new java.util.zip.Deflater(level, raw)
    d.setInput(body); d.finish()
    val out = new java.io.ByteArrayOutputStream()
    val buf = new Array[Byte](4096)
    while (!d.finished()) out.write(buf, 0, d.deflate(buf))
    d.end()
    out.toByteArray
  }

  /** What the stream-per-body decoder returned: the JDK streams themselves. */
  private def viaStreams(codec: String, data: Array[Byte]): Either[String, Seq[Byte]] = {
    import java.io.ByteArrayInputStream
    import java.util.zip.{GZIPInputStream, Inflater, InflaterInputStream}
    def all(in: java.io.InputStream) = HttpOps.readAll(in, HttpOps.MaxDecompressedBytes).toSeq
    if (codec == "gzip")
      try Right(all(new GZIPInputStream(new ByteArrayInputStream(data))))
      catch { case e: Exception => Left(s"gzip_error:${e.getClass.getSimpleName}") }
    else
      try Right(all(new InflaterInputStream(new ByteArrayInputStream(data))))
      catch {
        case _: Exception =>
          try Right(all(new InflaterInputStream(new ByteArrayInputStream(data), new Inflater(true))))
          catch { case e: Exception => Left(s"deflate_error:${e.getClass.getSimpleName}") }
      }
  }

  private def assertParity(codec: String, data: Array[Byte], what: String): Unit = {
    val (got, want) = (HttpOps.decompress(codec, data).map(_.toSeq), viaStreams(codec, data))
    def show(r: Either[String, Seq[Byte]]) = r.map(b => s"${b.length} bytes, hash ${b.hashCode}")
    assert(got == want, s"$what: ${show(got)} != ${show(want)}")
  }

  test("gzip and deflate decode as GZIPInputStream / InflaterInputStream do: " +
    "same body or same error") {
    val rnd = new scala.util.Random(7)
    val text = ("the quick brown fox " * 300).getBytes(ISO_8859_1)
    val noise = Array.fill(5000)(rnd.nextInt(256).toByte)
    val bodies = Seq(Array.emptyByteArray, "x".getBytes(ISO_8859_1), text, noise)
    val ok = bodies.map(gzipMember(_, 0))
    // every header flag and combination, reserved bits included
    for (flg <- (0 until 32) :+ 0xe0 :+ 0xff; b <- bodies)
      assertParity("gzip", gzipMember(b, flg), s"flags $flg")
    // concatenated members
    assertParity("gzip", ok(2) ++ ok(0) ++ gzipMember(noise, 30), "three members")
    assertParity("gzip", ok(3) ++ ok(3), "two noise members")
    val one = ok(2)
    val n = one.length
    def flip(at: Int) = { val c = one.clone(); c(at) = (c(at) ^ 1).toByte; c }
    assertParity("gzip", flip(n - 8), "bad CRC")
    assertParity("gzip", flip(n - 1), "bad ISIZE")
    assertParity("gzip", flip(12), "corrupt deflate data")
    val hcrc = gzipMember(text, 2)
    assertParity("gzip", { val c = hcrc.clone(); c(10) = (c(10) ^ 1).toByte; c }, "bad header CRC")
    for (k <- 1 to 12) assertParity("gzip", one.dropRight(k), s"truncated by $k")
    for (k <- 0 to 12) assertParity("gzip", one.take(k), s"first $k bytes")
    assertParity("gzip", { val c = one.clone(); c(2) = 9; c }, "method 9")
    // bytes after the last member: ignored unless a member header parses
    val headerOnly = one.take(10)
    for (m <- Seq(one, ok(3)); k <- 0 to 40; junk <- Seq(
      Array.fill(k)(0.toByte), Array.fill(k)(rnd.nextInt(256).toByte),
      (headerOnly ++ Array.fill(k)(0.toByte)), (headerOnly ++ noise.take(k))))
      assertParity("gzip", m ++ junk, s"trailing ${junk.length} bytes")

    val zlib = deflateBytes(text, 6, raw = false)
    val raw = deflateBytes(noise, 6, raw = true)
    val withDict = {
      val d = new java.util.zip.Deflater()
      d.setDictionary("the quick".getBytes(ISO_8859_1))
      d.setInput(text); d.finish()
      val buf = new Array[Byte](65536)
      buf.take(d.deflate(buf))
    }
    for ((data, what) <- Seq(zlib -> "zlib", raw -> "raw deflate fallback",
      (zlib ++ noise.take(30)) -> "zlib + trailing bytes", zlib.dropRight(1) -> "bad adler",
      zlib.dropRight(5) -> "truncated zlib", raw.dropRight(3) -> "truncated raw",
      Array.emptyByteArray -> "empty", noise.take(64) -> "noise", withDict -> "preset dictionary",
      { val c = zlib.clone(); c(c.length - 1) = (c(c.length - 1) ^ 1).toByte; c } -> "adler flip"))
      assertParity("deflate", data, what)
  }

  test("gzip parity on generated member chains, tails and cuts") {
    val rnd = new scala.util.Random(11)
    for (i <- 0 until 300) {
      val members = Seq.fill(1 + rnd.nextInt(3)) {
        val body = rnd.nextInt(4) match {
          case 0 => Array.emptyByteArray
          case 1 => Array.fill(1 + rnd.nextInt(100))(rnd.nextInt(256).toByte)
          case 2 => Array.fill(500 + rnd.nextInt(3000))(rnd.nextInt(256).toByte)
          case _ => Array.fill(2000 + rnd.nextInt(20000))((97 + rnd.nextInt(3)).toByte)
        }
        gzipMember(body, rnd.nextInt(32), level = rnd.nextInt(10))
      }
      var data = members.reduce(_ ++ _) ++ Array.fill(rnd.nextInt(3) * rnd.nextInt(30))(
        (if (rnd.nextBoolean()) 0 else rnd.nextInt(256)).toByte)
      if (rnd.nextInt(4) == 0) data = data.dropRight(rnd.nextInt(12))
      if (rnd.nextInt(4) == 0 && data.nonEmpty) {
        val at = rnd.nextInt(data.length)
        data(at) = (data(at) ^ (1 << rnd.nextInt(8))).toByte
      }
      assertParity("gzip", data, s"case $i")
    }
  }

  test("WARC gzip members decode as GZIPInputStream does on generated member chains: " +
    "same bytes or the same failure") {
    // a cut trailer is the one malformed-framing error the WARC reader
    // reports as IllegalArgumentException; everything else keeps its class
    def viaWarc(data: Array[Byte]): Either[String, Seq[Byte]] =
      try Right(graft.sources.WarcBytes.gunzipConcatenated(data).toSeq)
      catch {
        case e: IllegalArgumentException if e.getMessage.contains("truncated gzip trailer") =>
          Left("gzip_error:EOFException")
        case e: Exception => Left(s"gzip_error:${e.getClass.getSimpleName}")
      }
    val rnd = new scala.util.Random(17)
    for (i <- 0 until 300) {
      val members = Seq.fill(1 + rnd.nextInt(3)) {
        val body = rnd.nextInt(3) match {
          case 0 => Array.emptyByteArray
          case 1 => Array.fill(1 + rnd.nextInt(3000))(rnd.nextInt(256).toByte)
          case _ => Array.fill(2000 + rnd.nextInt(20000))((97 + rnd.nextInt(3)).toByte)
        }
        gzipMember(body, rnd.nextInt(32), level = rnd.nextInt(10))
      }
      // only the last member is damaged: a member GZIPInputStream decodes
      // alone is the reference for every member
      val last = members.last.clone()
      val n = last.length
      def flip(at: Int): Unit = last(at) = (last(at) ^ (1 << rnd.nextInt(8))).toByte
      val (damaged, what) = rnd.nextInt(7) match {
        case 0 => (last, "intact")
        case 1 => flip(n - 1 - rnd.nextInt(4)); (last, "ISIZE")
        case 2 => flip(n - 5 - rnd.nextInt(4)); (last, "CRC32")
        case 3 if (last(3) & 2) != 0 =>
          // the header's length: an empty member adds 2 deflate + 8 trailer bytes
          val headerLen = gzipMember(Array.emptyByteArray, last(3)).length - 10
          flip(headerLen - 1 - rnd.nextInt(2)); (last, "FHCRC")
        case 4 => (last.dropRight(1 + rnd.nextInt(8)), "cut trailer")
        case 5 => (last.take(1 + rnd.nextInt(n - 9)), "cut member")
        case _ => flip(rnd.nextInt(n)); (last, "any bit")
      }
      val alone = (members.init :+ damaged).map(viaStreams("gzip", _))
      val want = alone.collectFirst { case l @ Left(_) => l }
        .getOrElse(Right(alone.flatMap(_.toOption.get)))
      assert(viaWarc((members.init :+ damaged).reduce(_ ++ _)) == want, s"case $i ($what)")
    }
  }
}
