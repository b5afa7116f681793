package graft

import graft.core.Digests
import graft.ops.VerifyOp
import graft.sources.{WarcBytes, WarcSource}
import graft.synth.Synth
import org.scalatest.funsuite.AnyFunSuite

/** WARC byte codec + Spark source/sink, against the reference's own
  * integration oracle: seeded records decode with EXACT boundary offsets
  * and ZERO verify problems (/root/reference/tests/test_decode.rs:77-78,
  * 122-125 over tests/warc_generator.rs:41-81 semantics).
  */
class WarcCodecSpec extends AnyFunSuite {
  import TestSpark.spark

  test("plain encode -> decode round-trips with exact boundary offsets") {
    val records = Synth.warcRecords(round = 1, n = 100)
    val bytes = WarcBytes.encodeRecords(records)
    val decoded = WarcBytes.decodeRecords(bytes, "synth.warc")
    assert(decoded.size == 100)
    decoded.zip(records).foreach { case (d, r) =>
      assert(d.position == r.position) // the reference's offset oracle
      assert(d.version == r.version)
      assert(d.fields == r.fields)
      assert(d.bytes.sameElements(r.bytes))
    }
  }

  test("a multi-MiB block framed from 1-byte, 7-byte and 64 KiB appends " +
    "== one append") {
    val big = Array.tabulate(3 << 20)(i => (i * 31 + (i >> 9)).toByte)
    val recs = Synth.warcRecords(round = 1, n = 3).zipWithIndex.map { case (r, i) =>
      val block = if (i == 1) big else r.bytes
      r.copy(fields = r.fields.map(f =>
        if (f.name == "Content-Length") f.copy(value = block.length.toString) else f),
        bytes = block)
    }
    val bytes = WarcBytes.encodeRecords(recs)
    def frame(step: Int): Seq[graft.core.WarcRecord] = {
      val p = new WarcBytes.RecordParser("big.warc")
      var off = 0
      while (off < bytes.length) {
        val n = math.min(step, bytes.length - off)
        p.append(bytes, off, n)
        off += n
      }
      p.finish()
      Iterator.continually(p.next()).takeWhile(_.isDefined).flatten.toVector
    }
    val whole = frame(bytes.length)
    assert(whole.size == 3 && whole(1).bytes.length == big.length)
    for (step <- Seq(1, 7, 65536)) {
      val got = frame(step)
      assert(got.map(r => (r.position, r.version, r.fields)) ==
        whole.map(r => (r.position, r.version, r.fields)), s"step $step")
      got.zip(whole).foreach { case (g, w) => assert(g.bytes.sameElements(w.bytes), s"step $step") }
    }
  }

  test("record-at-time gzip members round-trip (concatenated-member decode)") {
    val records = Synth.warcRecords(round = 2, n = 50)
    val gz = WarcBytes.encodeGzip(records)
    assert(WarcBytes.detectFormat(gz) == "gzip")
    val decoded = WarcBytes.decode(gz, "synth.warc.gz")
    assert(decoded.size == 50)
    decoded.zip(records).foreach { case (d, r) =>
      assert(d.position == r.position)
      assert(d.fields == r.fields)
      assert(d.bytes.sameElements(r.bytes))
    }
    // the whole-stream helper inflates the same members byte for byte
    assert(WarcBytes.gunzipConcatenated(gz).sameElements(WarcBytes.encodeRecords(records)))
    // the last member's 8-byte trailer cut short is an error, not a
    // silently shorter stream
    val et = intercept[IllegalArgumentException](
      WarcBytes.gunzipConcatenated(gz.dropRight(3)))
    assert(et.getMessage.contains("truncated gzip trailer"), et.getMessage)
  }

  test("a stored gzip member with one flipped payload byte is rejected by decode, " +
    "readSplit and gunzipConcatenated") {
    // level 0 stores the record bytes verbatim, so a flipped block byte
    // still inflates and frames: only the CRC32 trailer can catch it
    val records = Synth.warcRecords(n = 6)
    val members = records.map { r =>
      val out = new java.io.ByteArrayOutputStream()
      val gz = new java.util.zip.GZIPOutputStream(out) {
        `def`.setLevel(java.util.zip.Deflater.NO_COMPRESSION)
      }
      gz.write(WarcBytes.encodeRecords(Seq(r)))
      gz.close()
      out.toByteArray
    }
    val block = records(3).bytes
    val at = members(3).indexOfSlice(block.toSeq)
    assert(at > 0, "the block is stored verbatim")
    val bad = members(3).clone()
    bad(at + block.length / 2) = (bad(at + block.length / 2) ^ 1).toByte
    val file = members.updated(3, bad).reduce(_ ++ _)
    assert(WarcBytes.decode(members.reduce(_ ++ _), "ok.warc.gz").size == 6)
    def corrupt(e: Throwable): Boolean =
      Iterator.iterate(e)(_.getCause).takeWhile(_ != null).exists(t =>
        t.isInstanceOf[java.util.zip.ZipException] &&
          String.valueOf(t.getMessage).contains("Corrupt GZIP trailer"))
    assert(corrupt(intercept[Exception](WarcBytes.decode(file, "bad.warc.gz"))))
    assert(corrupt(intercept[Exception](WarcBytes.gunzipConcatenated(file))))
    val path = java.nio.file.Files.createTempFile("graft-flipped", ".warc.gz")
    try {
      java.nio.file.Files.write(path, file)
      assert(corrupt(intercept[Exception](
        graft.sources.WarcSplit.readSplit(spark, path.toString, splitBytes = 4096L).collect())))
    } finally java.nio.file.Files.delete(path)
  }

  test("zstd members round-trip: plain, dict, and compressed dict " +
    "(reference test matrix, test_decode.rs:13-52)") {
    val records = Synth.warcRecords(round = 1, n = 40)
    // raw-content dictionary: the first record's bytes (valid zstd dict)
    val dict = records.head.bytes
    val variants = Seq(
      WarcBytes.encodeZstd(records),
      WarcBytes.encodeZstd(records, dict = Some(dict)),
      WarcBytes.encodeZstd(records, dict = Some(dict), compressDict = true))
    variants.zipWithIndex.foreach { case (z, i) =>
      assert(WarcBytes.detectFormat(z) == "zstd", s"variant $i")
      val decoded = WarcBytes.decode(z, "synth.warc.zst")
      assert(decoded.size == 40, s"variant $i")
      decoded.zip(records).foreach { case (d, r) =>
        assert(d.position == r.position)
        assert(d.fields == r.fields)
        assert(d.bytes.sameElements(r.bytes))
      }
      val plain = WarcBytes.encodeRecords(records)
      assert(WarcBytes.unzstdConcatenated(z).sameElements(plain), s"variant $i")
      // a trailing skippable frame (magic 0x184D2A50, 3-byte payload)
      // carries no content
      val skippable = Array[Byte](0x50, 0x2a, 0x4d, 0x18, 3, 0, 0, 0, 1, 2, 3)
      assert(WarcBytes.unzstdConcatenated(z ++ skippable).sameElements(plain),
        s"variant $i + skippable frame")
      // a last frame cut short is an error, not a silently shorter stream
      val et = intercept[java.io.EOFException](WarcBytes.unzstdConcatenated(z.dropRight(3)))
      assert(et.getMessage.contains("truncated/invalid zstd frame"), et.getMessage)
    }
  }

  test("decoded records verify clean: zero problems + block digests match") {
    val df = Synth.warcRecordsDf(spark, round = 0, n = 100)
    assert(VerifyOp.problems(df).isEmpty) // test_decode.rs:122-125 analog
    // A2 digest compare: declared sha1 base32 vs recomputed
    val rows = Synth.warcRecords(round = 0, n = 100)
    rows.foreach { r =>
      val declared = r.fields.find(_.name == "WARC-Block-Digest").get.value
      assert(declared == Digests.computeText("sha1", r.bytes).get)
    }
  }

  test("malformed inputs fail with offsets (typestate error parity)") {
    val records = Synth.warcRecords(n = 2)
    val bytes = WarcBytes.encodeRecords(records)
    val truncated = bytes.dropRight(10)
    val e = intercept[IllegalArgumentException](
      WarcBytes.decodeRecords(truncated, "x"))
    assert(e.getMessage.contains("offset") || e.getMessage.contains("truncated"))
    assert(WarcBytes.detectFormat("not a warc".getBytes) == "unknown")
    assert(WarcBytes.detectFormat("WARC/1.1\r\n".getBytes) == "warc")

    // header block past the 32 KiB cap is malformed even when its
    // terminator IS present (the reference's scan cap, decode.rs:15)
    val bigHeader = ("WARC/1.1\r\nContent-Length: 0\r\nX-Pad: " +
      "a" * (WarcBytes.MaxHeaderLen + 10) + "\r\n\r\n\r\n\r\n").getBytes
    val eh = intercept[IllegalArgumentException](
      WarcBytes.decodeRecords(bigHeader, "x"))
    assert(eh.getMessage.contains("header exceeds"), eh.getMessage)

    // Content-Length near 2^31: `blockStart + blockLen + 4` must not wrap
    // Int and pass the have-enough-bytes check — clean guard error instead
    val hugeLen = ("WARC/1.1\r\nWARC-Record-ID: <urn:a>\r\nContent-Length: " +
      (Int.MaxValue - 20) + "\r\n\r\nxxxx\r\n\r\n").getBytes
    val el = intercept[IllegalArgumentException](
      WarcBytes.decodeRecords(hugeLen, "x"))
    assert(el.getMessage.contains("exceeds supported block size"), el.getMessage)
  }

  test("Spark source/sink: write .warc.gz per partition, read back exact") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-warc").toString
    val records = Synth.warcRecords(round = 3, n = 60)
    val ds = spark.createDataset(records).coalesce(1)
    WarcSource.write(ds, dir, "gzip")
    val back = WarcSource.read(spark, dir, "*.warc.gz")
      .collect().sortBy(_.position)
    assert(back.length == 60)
    back.zip(records).foreach { case (d, r) =>
      assert(d.position == r.position)
      assert(d.fields == r.fields)
      assert(d.bytes.sameElements(r.bytes))
    }
    // per-file stats: record-at-time members → rat_ok
    val stats = WarcSource.fileStats(spark, dir).collect()
    assert(stats.length == 1 && stats.head.getLong(1) == 60 && stats.head.getBoolean(2))
  }

  test("writeSingleFile of an EMPTY dataset: valid zero-record archive, " +
    "every codec (no NPE on the missing parts glob, empty file reads back)") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-warc-empty").toString
    val empty = spark.createDataset(Seq.empty[graft.core.WarcRecord])
    for ((codec, ext) <- Seq("none" -> "a.warc", "gzip" -> "b.warc.gz",
        "zstd" -> "c.warc.zst", "deflate" -> "d.warc.zz", "brotli" -> "e.warc.br")) {
      val path = s"$dir/$ext"
      WarcSource.writeSingleFile(empty, path, codec)
      assert(new java.io.File(path).isFile, s"$codec: no output file")
      val bytes = java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(path))
      val dec = new WarcBytes.WarcFileDecoder(bytes, path,
        formatOverride = if (bytes.isEmpty) None
          else Some(codec match { case "none" => "warc"; case c => c }))
      assert(dec.toVector.isEmpty, s"$codec: expected zero records")
    }
    // the directory read sees the empty archives and yields zero records
    assert(WarcSource.read(spark, dir, "*.warc*").isEmpty)
  }

  test("RecordAtTimeCompression flag: multi-record member is a fault " +
    "(decode.rs:700-711, app/verify.rs:79-82)") {
    val records = Synth.warcRecords(round = 4, n = 6)
    // record-at-time: one member per record → ok
    val ok = new WarcBytes.WarcFileDecoder(WarcBytes.encodeGzip(records), "ok.warc.gz")
    assert(ok.toVector.size == 6 && ok.recordAtTimeOk)
    // whole stream as ONE gzip member → records decode fine, flag trips
    val oneMember = {
      val out = new java.io.ByteArrayOutputStream()
      val gz = new java.util.zip.GZIPOutputStream(out)
      gz.write(WarcBytes.encodeRecords(records)); gz.finish()
      out.toByteArray
    }
    val fault = new WarcBytes.WarcFileDecoder(oneMember, "fault.warc.gz")
    val decoded = fault.toVector
    assert(decoded.size == 6)
    assert(decoded.map(_.position) == records.map(_.position))
    assert(!fault.recordAtTimeOk)
    // plain (identity) format: concatenation not applicable → never a fault
    val plain = new WarcBytes.WarcFileDecoder(WarcBytes.encodeRecords(records), "p.warc")
    assert(plain.toVector.size == 6 && plain.recordAtTimeOk)
    // zstd: one frame per record → ok; all records in ONE frame → fault
    val zOk = new WarcBytes.WarcFileDecoder(WarcBytes.encodeZstd(records), "ok.warc.zst")
    assert(zOk.toVector.size == 6 && zOk.recordAtTimeOk)
    val oneFrame = com.github.luben.zstd.Zstd.compress(WarcBytes.encodeRecords(records), 3)
    val zFault = new WarcBytes.WarcFileDecoder(oneFrame, "fault.warc.zst")
    val zDecoded = zFault.toVector
    assert(zDecoded.size == 6 && zDecoded.map(_.position) == records.map(_.position))
    assert(!zFault.recordAtTimeOk)
  }

  test("streaming decode is incremental: records come out before the " +
    "whole stream is consumed (bounded-memory contract)") {
    val records = Synth.warcRecords(round = 5, n = 40)
    val dec = new WarcBytes.WarcFileDecoder(WarcBytes.encodeGzip(records), "s.warc.gz")
    // pulling the first record must NOT require decoding all 40
    val first = dec.next()
    assert(first.position == 0L)
    assert(dec.toVector.size == 39)
  }

  test("byte-seek get: one record at a raw file offset, id guard " +
    "(app/get.rs:24-92)") {
    val records = Synth.warcRecords(round = 7, n = 5)
    val dir = java.nio.file.Files.createTempDirectory("graft-get").toString
    // gzip record-at-time: member start offsets = cumulative member sizes
    val members = records.map(r => WarcBytes.encodeGzip(Seq(r)))
    val gzPath = java.nio.file.Paths.get(dir, "g.warc.gz")
    java.nio.file.Files.write(gzPath, members.toArray.flatten)
    val gzOffsets = members.scanLeft(0L)(_ + _.length).init
    // plain: offsets are the records' own positions
    val plainPath = java.nio.file.Paths.get(dir, "p.warc")
    java.nio.file.Files.write(plainPath, WarcBytes.encodeRecords(records))
    records.zipWithIndex.foreach { case (r, i) =>
      val viaGz = WarcSource.get(spark, gzPath.toString, gzOffsets(i))
      val viaPlain = WarcSource.get(spark, plainPath.toString, r.position)
      for (got <- Seq(viaGz, viaPlain)) {
        assert(got.isDefined, s"record $i not found")
        assert(got.get.fields == r.fields && got.get.bytes.sameElements(r.bytes))
      }
    }
    val recId = records(2).fields
      .collectFirst { case f if f.name.equalsIgnoreCase("WARC-Record-ID") => f.value }.get
    assert(WarcSource.get(spark, gzPath.toString, gzOffsets(2), Some(recId)).isDefined)
    assert(WarcSource.get(spark, gzPath.toString, gzOffsets(2), Some("<urn:other>")).isEmpty)
    assert(WarcSource.get(spark, gzPath.toString, 1L << 40).isEmpty) // past EOF
  }

  test("get's id guard matches the header name by lower(name) = lower(target)") {
    // "WARC-Record-\u0131D" (dotless i) equalsIgnoreCase "WARC-Record-ID",
    // but fieldGet and verify see no id in such a record
    val r = Synth.warcRecords(round = 3, n = 1).head
    val id = r.fields.collectFirst { case f if f.name == "WARC-Record-ID" => f.value }.get
    val dotless = r.copy(fields = r.fields.map(f =>
      if (f.name == "WARC-Record-ID") f.copy(name = "WARC-Record-\u0131D") else f))
    val path = java.nio.file.Files.createTempFile("graft-get-name", ".warc")
    java.nio.file.Files.write(path, WarcBytes.encodeRecords(Seq(dotless)))
    assert(WarcSource.get(spark, path.toString, 0L).isDefined)
    assert(WarcSource.get(spark, path.toString, 0L, Some(id)).map(_.position).isEmpty)
  }

  test("a Content-Length of non-ASCII decimal digits does not frame a block") {
    // fullwidth "\uff11\uff12" parses as 12 through isDigit and toLong
    val fullwidth = ("WARC/1.1\r\nWARC-Record-ID: <urn:a>\r\n" +
      "Content-Length: \uff11\uff12\r\n\r\n0123456789ab\r\n\r\n")
      .getBytes(java.nio.charset.StandardCharsets.UTF_8)
    val e = intercept[IllegalArgumentException](WarcBytes.decodeRecords(fullwidth, "x"))
    assert(e.getMessage.contains("bad Content-Length"), e.getMessage)
  }

  test("fuzz: random single-byte corruption never mis-frames silently " +
    "(decode terminates; positions stay strictly increasing)") {
    val records = Synth.warcRecords(round = 9, n = 8)
    val plain = WarcBytes.encodeRecords(records)
    val gz = WarcBytes.encodeGzip(records)
    val zst = WarcBytes.encodeZstd(records,
      dict = Some("crawl frontier dict".getBytes("UTF-8")))
    var threw = 0
    for (seed <- 1 to 150;
         (bytes, name) <- Seq((plain, "p.warc"), (gz, "g.warc.gz"), (zst, "z.warc.zst"))) {
      val c = bytes.clone()
      val pos = math.floorMod(
        graft.frontier.CuckooFilter.mix(seed.toLong), c.length.toLong).toInt
      c(pos) = (c(pos) ^ (1 << (seed % 8))).toByte
      try {
        val out = new WarcBytes.WarcFileDecoder(c, name).toVector
        // decoded despite the flip (header junk value, payload byte, …):
        // framing invariants must still hold
        assert(out.map(_.position) == out.map(_.position).sorted.distinct,
          s"seed $seed $name: non-monotonic positions")
        assert(out.size <= records.size, s"seed $seed $name: phantom records")
      } catch {
        case _: Exception => threw += 1 // typestate-style hard error: fine
      }
    }
    assert(threw > 0, "corruption never produced a decode error — checks inert?")
  }

  test("zstd skippable frame with high-bit size fails cleanly, never loops") {
    val records = Synth.warcRecords(n = 2)
    val frames = WarcBytes.encodeZstd(records)
    // splice a skippable frame between the two content frames with a
    // corrupt size whose high bit is set: a signed parse moved pos
    // BACKWARDS and decoded forever; must now fail as truncated/invalid
    val firstLen = com.github.luben.zstd.Zstd
      .findFrameCompressedSize(frames, 0, frames.length).toInt
    def le32(v: Long): Array[Byte] =
      Array(v, v >> 8, v >> 16, v >> 24).map(x => (x & 0xff).toByte)
    val evil = frames.take(firstLen) ++
      le32(0x184d2a50L) ++ le32(0xfffffff0L) ++ frames.drop(firstLen)
    val t = new Thread(() => {
      val e = intercept[Exception](new WarcBytes.WarcFileDecoder(evil, "e.warc.zst").toVector)
      assert(e.getMessage.contains("skippable frame"))
    })
    t.setDaemon(true)
    t.start()
    t.join(30000)
    assert(!t.isAlive, "decoder still running after 30 s — infinite skip loop")
    // a VALID zero-length mid-stream skippable frame still skips fine
    val benign = frames.take(firstLen) ++
      le32(0x184d2a50L) ++ le32(0L) ++ frames.drop(firstLen)
    val out = new WarcBytes.WarcFileDecoder(benign, "b.warc.zst").toVector
    assert(out.size == records.size)
  }

  test("encode rejects Content-Length mismatch (encode.rs:119-132)") {
    val r = Synth.warcRecords(n = 1).head
    val bad = r.copy(bytes = r.bytes ++ Array[Byte](1))
    val e = intercept[IllegalArgumentException](WarcBytes.encodeRecords(Seq(bad)))
    assert(e.getMessage.contains("Content-Length mismatch"))
  }

  test("whole-file deflate/brotli container wrappers round-trip " +
    "(compress.rs:43-58; no record-at-time, positions = plain offsets)") {
    val records = Synth.warcRecords(round = 5, n = 30)
    // zlib-deflate wrapper
    val zz = WarcBytes.encodeDeflateWhole(records)
    val dDec = new WarcBytes.WarcFileDecoder(zz, "synth.warc.zz",
      formatOverride = Some("deflate"))
    val dBack = dDec.toVector
    assert(dBack.size == 30 && dDec.recordAtTimeOk)
    dBack.zip(records).foreach { case (d, r) =>
      assert(d.position == r.position)
      assert(d.fields == r.fields)
      assert(d.bytes.sameElements(r.bytes))
    }
    // raw-brotli wrapper (stored-mode encoder, decoded by the RFC 7932
    // decoder — spans multiple 65,520-byte stored blocks)
    val br = WarcBytes.encodeBrotliWhole(records)
    assert(WarcBytes.encodeRecords(records).length > 65520, "fixture too small")
    val bDec = new WarcBytes.WarcFileDecoder(br, "synth.warc.br",
      formatOverride = Some("brotli"))
    val bBack = bDec.toVector
    assert(bBack.size == 30 && bDec.recordAtTimeOk)
    bBack.zip(records).foreach { case (d, r) =>
      assert(d.position == r.position)
      assert(d.bytes.sameElements(r.bytes))
    }
    // truncated zlib stream fails loudly, not silently short
    intercept[Exception] {
      new WarcBytes.WarcFileDecoder(zz.dropRight(8), "t.warc.zz",
        formatOverride = Some("deflate")).toVector
    }
  }

  test("Spark source reads wrapper files by extension; single-file sink " +
    "writes them (.warc.zz / .warc.br)") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-wrap").toString
    val records = Synth.warcRecords(round = 6, n = 25)
    val ds = spark.createDataset(records).coalesce(2)
    WarcSource.writeSingleFile(ds, s"$dir/a.warc.zz", "deflate")
    WarcSource.writeSingleFile(ds, s"$dir/b.warc.br", "brotli")
    for (glob <- Seq("a.warc.zz", "b.warc.br")) {
      val back = WarcSource.read(spark, dir, glob).collect().sortBy(_.position)
      assert(back.length == 25, glob)
      back.zip(records.sortBy(_.position)).foreach { case (d, r) =>
        assert(d.fields == r.fields, glob)
        assert(d.bytes.sameElements(r.bytes), glob)
      }
    }
  }
}
