package graft

import graft.core.{Digests, Field, HeaderSerde}
import graft.ops.{HttpOps, UrlPath}
import graft.sources.WarcBytes
import graft.synth.Synth
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite

/** Seeded property tests (FIXTURES.md §6 generalizations of the
  * reference's point tests). Raw scalacheck Gen + fixed seeds — fully
  * deterministic, no scalatestplus bridge needed.
  */
class PropertySpec extends AnyFunSuite {

  private def sample[A](g: Gen[A], seed: Long): A =
    g.pureApply(Gen.Parameters.default, Seed(seed))

  private val bytesGen: Gen[Array[Byte]] =
    Gen.chooseNum(0, 5000).flatMap(n => Gen.listOfN(n, Gen.choose(-128, 127))
      .map(_.map(_.toByte).toArray))

  test("chunked transfer encode ⇄ decode round-trips any payload and chunk size") {
    for (i <- 0 until 50) {
      val body = sample(bytesGen, i.toLong)
      val chunkSize = 1 + sample(Gen.chooseNum(0, 2000), i + 1000L)
      val encoded = HttpOps.encodeChunked(body, chunkSize)
      val decoded = HttpOps.decodeChunked(encoded)
      assert(decoded.isRight, s"i=$i")
      assert(decoded.toOption.get._1.sameElements(body), s"i=$i")
    }
  }

  test("gzip member codec round-trips any block content") {
    for (i <- 0 until 20) {
      val recs = (0 until 3).map { j =>
        val block = sample(bytesGen, i * 10L + j)
        graft.core.WarcRecord(0L, "p", "WARC/1.1", Seq(
          Field("WARC-Record-ID", s"<urn:p:$i-$j>"),
          Field("Content-Length", block.length.toString)), block)
      }
      // fix positions to the exact serialized offsets
      var pos = 0L
      val fixed = recs.map { r =>
        val out = r.copy(position = pos)
        pos += HeaderSerde.recordLength(r.version, r.fields, r.bytes.length.toLong)
        out
      }
      val decoded = WarcBytes.decode(WarcBytes.encodeGzip(fixed), "p")
      assert(decoded.map(_.position) == fixed.map(_.position))
      decoded.zip(fixed).foreach { case (d, r) => assert(d.bytes.sameElements(r.bytes)) }
    }
  }

  test("base32 encode ⇄ decode round-trips; digest parse ∘ format = identity") {
    for (i <- 0 until 100) {
      val data = sample(bytesGen, 7000L + i)
      val enc = Digests.base32Encode(data)
      val dec = Digests.base32Decode(enc.replace("=", ""))
      assert(dec.exists(_.sameElements(data)), s"i=$i len=${data.length}")
    }
    for (i <- 0 until 50; algo <- Seq("md5", "sha1", "sha256", "crc32c")) {
      val data = sample(bytesGen, 9000L + i)
      val v = Digests.compute(algo, data).get
      val parsed = Digests.parseDigest(Digests.formatDigest(algo, v))
      assert(parsed.exists { case (a, b) => a == algo && b.sameElements(v) },
        s"$algo i=$i")
    }
  }

  test("canonicalization is idempotent over generated URLs") {
    import TestSpark.spark
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val urls = (0 until 400).map { i =>
      val rng = new Synth.Rng(i.toLong)
      val scheme = if (rng.nextInt(2) == 0) "http" else "HTTPS"
      val host = s"H${rng.nextInt(50)}.Example.TEST" + ("." * rng.nextInt(2))
      val port = Seq("", ":80", ":443", ":8080")(rng.nextInt(4))
      val path = Seq("", "/", s"/p/${rng.nextInt(100)}", "/A/B")(rng.nextInt(4))
      val q = Seq("", "?b=2&a=1", "?z=9&y=8&x=7")(rng.nextInt(3))
      val frag = Seq("", "#f")(rng.nextInt(2))
      s"$scheme://$host$port$path$q$frag"
    }
    val once = urls.toDF("url")
      .select(graft.frontier.Canonical.canonicalUrl(col("url")).as("c"))
      .as[String].collect()
    val twice = once.toSeq.toDF("url")
      .select(graft.frontier.Canonical.canonicalUrl(col("url")).as("c"))
      .as[String].collect()
    assert(once.toSeq == twice.toSeq)
  }

  test("canonicalize fast path agrees with the slow reference on adversarial URLs") {
    import graft.frontier.Canonical
    // structured generator biased toward fast-path boundaries: default
    // ports, trailing dots/colons, userinfo, unsorted/empty query params,
    // fragments, uppercase in every position, IPv6-ish colons
    val pieces = for (i <- 0 until 4000) yield {
      val rng = new Synth.Rng(202600L + i)
      def pick(xs: Seq[String]) = xs(rng.nextInt(xs.size))
      pick(Seq("http", "https", "HTTP", "ftp", "a+b-c.1", "")) +
        pick(Seq("://", ":", "")) +
        pick(Seq("", "user@", "u:p@")) +
        pick(Seq("h0.example.test", "H0.Example.Test", "h0.example.test.",
          "xn--bcher-kva.test", "[::1]", "127.0.0.1", "h0..", "")) +
        pick(Seq("", ":80", ":443", ":8080", ":", ":0080", ":a1", ":٨٠")) +
        pick(Seq("", "/", "/p/1", "/P/1?", "/p?b=2&a=1", "/p?a=1&b=2",
          "/p?a=1&a=1", "/p?", "/p?&", "/p?x", "?q=1")) +
        pick(Seq("", "#f", "#", "#x#y"))
    }
    // plus raw adversarial strings
    val raw = Seq("", ":", "://", ":///", "a:b:c", "https://", "http://:80/",
      "http://h:80", "scheme+x://h/", "https://h.:443/p", "x\u0000://h/")
    import org.apache.spark.unsafe.types.UTF8String
    for (u <- pieces ++ raw) {
      val slow = Canonical.canonicalizeSlow(u)
      // the UTF8String byte path (the codegen Expression's runtime) must
      // agree with the String contract on every input, and its fast path
      // must never fire on a non-identity URL
      val u8 = UTF8String.fromString(u)
      assert(Canonical.canonicalizeUtf8(u8).toString == slow,
        s"utf8 path diverges on <$u>")
      if (Canonical.isCanonicalAscii(u8))
        assert(slow == u, s"utf8 fast path false-positive on <$u> (slow=<$slow>)")
      // idempotence: the canonical form must itself be canonical-stable
      assert(Canonical.canonicalizeUtf8(UTF8String.fromString(slow)).toString ==
        Canonical.canonicalizeSlow(slow), s"second pass diverges on <$slow>")
    }
  }

  test("hostOfString matches the allocating reference implementation") {
    import graft.frontier.Canonical
    def ref(url: String): String = { // the pre-round-4 implementation, verbatim
      if (url == null) return null
      val hashIdx = url.indexOf('#')
      val noFrag = if (hashIdx >= 0) url.substring(0, hashIdx) else url
      val schemeEnd = noFrag.indexOf(':')
      if (schemeEnd < 0 || !noFrag.regionMatches(schemeEnd, "://", 0, 3)) return ""
      val authStart = schemeEnd + 3
      var i = authStart
      while (i < noFrag.length && noFrag.charAt(i) != '/' && noFrag.charAt(i) != '?') i += 1
      val authority = noFrag.substring(authStart, i)
      val at = authority.lastIndexOf('@')
      val hostPort = if (at >= 0) authority.substring(at + 1) else authority
      val colon = hostPort.lastIndexOf(':')
      val host0 =
        if (colon >= 0 && hostPort.substring(colon + 1).forall(_.isDigit))
          hostPort.substring(0, colon)
        else hostPort
      val h = host0.toLowerCase
      if (h.endsWith(".")) h.substring(0, h.length - 1) else h
    }
    for (i <- 0 until 4000) {
      val rng = new Synth.Rng(909100L + i)
      def pick(xs: Seq[String]) = xs(rng.nextInt(xs.size))
      val u = pick(Seq("http", "HTTPS", "", "a.b")) + pick(Seq("://", ":", "")) +
        pick(Seq("", "u@", "u:p@", "@")) +
        pick(Seq("h.Test", "h.test.", "[::1]", "", ".", "h:x")) +
        pick(Seq("", ":80", ":", ":9x", ":٨٠")) +
        pick(Seq("", "/p", "?q", "#f", "/p#f", "#:zz@"))
      assert(Canonical.hostOfString(u) == ref(u), s"host diverges on <$u>")
    }
  }

  test("percent encode ⇄ decode round-trips %-free strings") {
    val strGen = Gen.listOf(Gen.oneOf(Gen.asciiPrintableChar, Gen.alphaChar,
      Gen.oneOf('/', '\\', ':', '?', '"', '<', '>', '|', 'ÿ', '漢')))
      .map(_.mkString.replace("%", ""))
    for (i <- 0 until 100) {
      val s = sample(strGen, 333L + i)
      assert(UrlPath.percentDecodeLossy(UrlPath.percentEncode(s)) == s, s"i=$i")
    }
  }

  test("splitter: split == whole for random records, codecs, split sizes (incl. dict)") {
    import graft.sources.WarcSplit
    def le32(b: Array[Byte], p: Int): Long =
      ((b(p) & 0xffL)) | ((b(p + 1) & 0xffL) << 8) |
        ((b(p + 2) & 0xffL) << 16) | ((b(p + 3) & 0xffL) << 24)
    for (i <- 0 until 12) {
      val n = 5 + sample(Gen.chooseNum(0, 12), 9000L + i)
      val recs = (0 until n).map { j =>
        val block = sample(bytesGen, i * 100L + j)
        graft.core.WarcRecord(0L, "s", "WARC/1.1", Seq(
          Field("WARC-Record-ID", s"<urn:s:$i-$j>"),
          Field("Content-Length", block.length.toString)), block)
      }
      val mode = i % 3 // 0 gzip, 1 zstd, 2 zstd + dictionary
      val dict = if (mode == 2) Some(("prop dict " * 30).getBytes("UTF-8")) else None
      val bytes = mode match {
        case 0 => WarcBytes.encodeGzip(recs)
        case _ => WarcBytes.encodeZstd(recs, dict = dict, compressDict = i % 2 == 0)
      }
      val format = if (mode == 0) "gzip" else "zstd"
      // dict frame = magic(4) + size(4) + payload — content starts after it
      val contentStart = if (mode == 2) 8L + le32(bytes, 4) else 0L
      val fileLen = bytes.length.toLong
      def readRange(off: Long, len: Int): Array[Byte] =
        java.util.Arrays.copyOfRange(bytes, off.toInt, off.toInt + len)
      val splitBytes = sample(Gen.chooseNum(100L, 4000L), 9100L + i)
      val nSplits = math.max(1L, (fileLen + splitBytes - 1) / splitBytes).toInt
      val got = (0 until nSplits).flatMap { k =>
        WarcSplit.decodeRange(readRange, fileLen, k * splitBytes,
          math.min((k + 1L) * splitBytes, fileLen), "s",
          format = format, dict = dict, contentStart = contentStart).toSeq
      }
      val whole = WarcBytes.decode(bytes, "s")
      def key(r: graft.core.WarcRecord) =
        (r.fields.find(_.name == "WARC-Record-ID").get.value,
          r.bytes.toSeq.hashCode)
      assert(got.map(key).sorted == whole.map(key).sorted,
        s"i=$i mode=$mode split=$splitBytes n=$n")
      assert(got.map(_.position).distinct.length == got.length, s"i=$i")
    }
  }

  test("header serialize ⇄ parse round-trips generated multimaps with duplicates") {
    val nameGen = Gen.nonEmptyListOf(Gen.alphaNumChar).map(_.mkString)
    val valueGen = Gen.listOf(Gen.asciiPrintableChar).map(_.mkString.trim)
    for (i <- 0 until 100) {
      val base = sample(Gen.listOf(Gen.zip(nameGen, valueGen)), 555L + i)
        .map { case (n, v) => Field(n, v) }
      val fields = base ++ base.take(2) // force duplicate names (multimap)
      val parsed = HeaderSerde.parse(HeaderSerde.serialize("WARC/1.1", fields))
      assert(parsed.contains(("WARC/1.1", fields)), s"i=$i")
    }
  }

  test("AVI encode ⇄ decode round-trips random geometry, fps, frame count, " +
    "stream layout, and exact pixels") {
    import graft.pipeline.Avi
    // sweeps BOTH encoder layouts (video-only and audio-first) across the
    // full size-arithmetic space: odd widths (row padding), fractional
    // fps (scale 1001), 1..6 frames — any header-size miscount in the
    // audio-first branch would misalign the walk and fail decode
    for (i <- 0 until 30) {
      val w = 1 + sample(Gen.chooseNum(0, 40), 9000L + i * 7)
      val h = 1 + sample(Gen.chooseNum(0, 24), 9001L + i * 7)
      val rate = 1 + sample(Gen.chooseNum(0, 59999), 9002L + i * 7)
      val scale = Vector(1, 2, 3, 1001)(sample(Gen.chooseNum(0, 3), 9003L + i * 7))
      val nF = 1 + sample(Gen.chooseNum(0, 5), 9004L + i * 7)
      val audioFirst = i % 2 == 1
      val frames = (0 until nF).map { f =>
        sample(Gen.listOfN(w * h * 3, Gen.choose(-128, 127))
          .map(_.map(_.toByte).toArray), 9100L + i * 10 + f)
      }
      val clip = Avi.decode(Avi.encode(w, h, rate, scale, frames, audioFirst))
        .getOrElse(fail(s"i=$i w=$w h=$h nF=$nF audioFirst=$audioFirst: decode failed"))
      assert((clip.width, clip.height, clip.fpsMilli, clip.frames.size) ==
        ((w, h, rate * 1000L / scale, nF)), s"i=$i")
      val imgs = Avi.sampleFrames(clip, 1)
      for (f <- 0 until nF; y <- 0 until h; x <- 0 until w) {
        val p = (y * w + x) * 3
        val want = ((frames(f)(p) & 0xff) << 16) |
          ((frames(f)(p + 1) & 0xff) << 8) | (frames(f)(p + 2) & 0xff)
        assert((imgs(f).getRGB(x, y) & 0xffffff) == want,
          s"i=$i f=$f ($x,$y) audioFirst=$audioFirst")
      }
    }
  }
}
