package graft

import graft.sources.{WarcBytes, WarcSource, WarcSplit}
import graft.synth.Synth
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Record-boundary splitter: one record-at-time .warc.gz decoded by N
  * byte-range tasks must yield exactly the whole-file record set, with
  * positions that are genuine byte-seek member offsets.
  */
class WarcSplitSpec extends AnyFunSuite {
  import TestSpark.spark

  private def writeOne(records: Seq[graft.core.WarcRecord]): String = {
    val dir = java.nio.file.Files.createTempDirectory("graft-split").toString
    import spark.implicits._
    WarcSource.write(spark.createDataset(records).coalesce(1), dir, "gzip")
    new java.io.File(dir).listFiles().filter(_.getName.endsWith(".warc.gz")).head.toString
  }

  private def key(r: graft.core.WarcRecord): (String, String) =
    (r.fields.collectFirst { case f if f.name == "WARC-Record-ID" => f.value }.get,
      graft.core.Digests.computeText("sha1", r.bytes).get)

  test("split read == whole-file read at every split size; >1 task") {
    val records = Synth.warcRecords(round = 2, n = 60)
    val file = writeOne(records)
    val whole = WarcSource.read(spark, new java.io.File(file).getParent).collect()
      .map(key).sorted.toSeq
    assert(whole == records.map(key).sorted)
    val fileLen = new java.io.File(file).length()
    for (splitBytes <- Seq(1000L, 4096L, fileLen / 3, fileLen * 2)) {
      val ds = WarcSplit.readSplit(spark, file, splitBytes)
      val nTasks = ds.select(spark_partition_id()).distinct().count()
      val got = ds.collect()
      assert(got.map(key).sorted.toSeq == whole, s"splitBytes=$splitBytes")
      if (splitBytes < fileLen) assert(nTasks > 1, s"splitBytes=$splitBytes: one task")
      // positions unique and strictly increasing in file order
      val pos = got.map(_.position).sorted
      assert(pos.distinct.length == pos.length)
    }
  }

  test("split positions are byte-seek offsets: get(position) returns the record") {
    val records = Synth.warcRecords(round = 1, n = 20)
    val file = writeOne(records)
    val got = WarcSplit.readSplit(spark, file, splitBytes = 2000L)
      .collect().sortBy(_.position)
    assert(got.length == 20)
    for (r <- got.take(3) ++ got.takeRight(3)) {
      val viaGet = WarcSource.get(spark, file, r.position)
      assert(viaGet.isDefined, s"get miss at ${r.position}")
      assert(viaGet.get.fields == r.fields && viaGet.get.bytes.sameElements(r.bytes))
    }
  }

  test("a member larger than the split straddles ranges and decodes once") {
    // one huge record (~200 KB) between small ones, split every 4 KB:
    // the member starting in range k runs through k+1..k+n — exactly one
    // task (the one owning its START) must emit it
    val big = Synth.warcRecords(round = 0, n = 5).zipWithIndex.map { case (r, i) =>
      if (i == 2) {
        val bytes = Array.tabulate(200000)(j => ((j * 31 + 7) % 251).toByte)
        r.copy(
          fields = r.fields.map(f =>
            if (f.name == "Content-Length") f.copy(value = bytes.length.toString)
            else if (f.name == "WARC-Block-Digest")
              f.copy(value = graft.core.Digests.formatDigest("sha1",
                graft.core.Digests.compute("sha1", bytes).get))
            else f),
          bytes = bytes)
      } else r
    }
    val file = writeOne(big)
    val got = WarcSplit.readSplit(spark, file, splitBytes = 4096L).collect()
    assert(got.length == 5)
    assert(got.map(key).sorted.toSeq == big.map(key).sorted)
  }

  test("writeSingleFile (parallel members + concat) decodes to the same record set") {
    import spark.implicits._
    val recs = Synth.warcRecords(round = 3, n = 60)
    val dir = java.nio.file.Files.createTempDirectory("graft-wsf").toString
    val single = s"$dir/one.warc.gz"
    WarcSource.writeSingleFile(spark.createDataset(recs).repartition(7), single, "gzip")
    def ids(path: String) = WarcSplit.readSplit(spark, path, 4096L)
      .collect().map(r => (
        r.fields.find(_.name == "WARC-Record-ID").map(_.value).getOrElse(""),
        r.bytes.toSeq)).sortBy(_._1)
    val seqDir = s"$dir/seq"
    WarcSource.write(spark.createDataset(recs).coalesce(1), seqDir, "gzip")
    val seqFile = new java.io.File(seqDir).listFiles()
      .filter(_.getName.endsWith(".warc.gz")).head.toString
    assert(ids(single).sameElements(ids(seqFile)))
  }

  test("zstd: split read == whole-file read at every split size; >1 task; get() works") {
    val records = Synth.warcRecords(round = 5, n = 60)
    val dir = java.nio.file.Files.createTempDirectory("graft-split-zstd").toString
    import spark.implicits._
    WarcSource.write(spark.createDataset(records).coalesce(1), dir, "zstd")
    val file = new java.io.File(dir).listFiles()
      .filter(_.getName.endsWith(".warc.zst")).head.toString
    val whole = WarcSource.read(spark, dir).collect().map(key).sorted.toSeq
    assert(whole == records.map(key).sorted)
    val fileLen = new java.io.File(file).length()
    for (splitBytes <- Seq(1000L, 4096L, fileLen / 3, fileLen * 2)) {
      val ds = WarcSplit.readSplit(spark, file, splitBytes)
      val nTasks = ds.select(spark_partition_id()).distinct().count()
      val got = ds.collect()
      assert(got.map(key).sorted.toSeq == whole, s"splitBytes=$splitBytes")
      if (splitBytes < fileLen) assert(nTasks > 1, s"splitBytes=$splitBytes: one task")
      val pos = got.map(_.position).sorted
      assert(pos.distinct.length == pos.length)
    }
    // positions are byte-seek offsets for the point lookup too
    val got = WarcSplit.readSplit(spark, file, splitBytes = 2000L)
      .collect().sortBy(_.position)
    for (r <- got.take(2) ++ got.takeRight(2)) {
      val viaGet = WarcSource.get(spark, file, r.position)
      assert(viaGet.isDefined && viaGet.get.bytes.sameElements(r.bytes),
        s"get miss at ${r.position}")
    }
  }

  test("zstd: writeSingleFile round-trips and splits") {
    val records = Synth.warcRecords(round = 6, n = 40)
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("graft-split-zstd1").toString
    val file = s"$tmp/one.warc.zst"
    WarcSource.writeSingleFile(spark.createDataset(records), file, "zstd")
    val got = WarcSplit.readSplit(spark, file, splitBytes = 3000L).collect()
    assert(got.map(key).sorted.toSeq == records.map(key).sorted)
  }

  test("zstd: dictionaried archive splits — dict parsed once, shipped to tasks") {
    // frames compressed against a raw content dictionary do NOT decode
    // without it (the window references dictionary bytes), so split ==
    // whole equality proves the head-frame dictionary actually reaches
    // every range task — including ones whose range starts mid-file
    val records = Synth.warcRecords(round = 8, n = 40)
    val dictBytes = ("shared WARC prefix material " * 40).getBytes("UTF-8")
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("graft-split-zdict").toString
    for ((compressDict, name) <- Seq(false -> "plain.warc.zst",
                                     true -> "cdict.warc.zst")) {
      val file = s"$tmp/$name"
      val bytes = WarcBytes.encodeZstd(records, dict = Some(dictBytes),
        compressDict = compressDict)
      java.nio.file.Files.write(java.nio.file.Paths.get(file), bytes)
      val whole = WarcBytes.decode(bytes, file).map(key).sorted
      assert(whole == records.map(key).sorted)
      val fileLen = bytes.length.toLong
      for (splitBytes <- Seq(1000L, fileLen / 3, fileLen * 2)) {
        val ds = WarcSplit.readSplit(spark, file, splitBytes)
        val nTasks = ds.select(spark_partition_id()).distinct().count()
        val got = ds.collect()
        assert(got.map(key).sorted.toSeq == whole,
          s"$name splitBytes=$splitBytes")
        if (splitBytes < fileLen)
          assert(nTasks > 1, s"$name splitBytes=$splitBytes: one task")
        // positions are distinct compressed offsets past the dict frame
        val pos = got.map(_.position).sorted
        assert(pos.distinct.length == pos.length)
        assert(pos.head > 0, "first member must start after the dict frame")
      }
      // the byte-seek point lookup honors the head dictionary too
      val got = WarcSplit.readSplit(spark, file, splitBytes = 1500L)
        .collect().sortBy(_.position)
      for (r <- Seq(got.head, got.last)) {
        val viaGet = WarcSource.get(spark, file, r.position)
        assert(viaGet.isDefined && viaGet.get.bytes.sameElements(r.bytes),
          s"$name: get miss at ${r.position}")
      }
    }
  }

  test("zstd: boundary scan ignores frame magic inside compressed data and skippable frames") {
    // payload containing the zstd magic bytes: the validator must not
    // treat an in-frame (compressed-literal) match as a member start
    val magicPayload = Array.fill(64)(WarcBytes.ZstdMagic).flatten
    val records = Synth.warcRecords(round = 7, n = 12).map { r =>
      val b = r.bytes ++ magicPayload
      r.copy(
        fields = r.fields.map(f =>
          if (f.name.equalsIgnoreCase("Content-Length")) f.copy(value = b.length.toString)
          else f),
        bytes = b)
    }
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("graft-split-zstd2").toString
    val file = s"$tmp/m.warc.zst"
    WarcSource.writeSingleFile(spark.createDataset(records).coalesce(1), file, "zstd")
    val got = WarcSplit.readSplit(spark, file, splitBytes = 1500L).collect()
    assert(got.map(key).sorted.toSeq == records.map(key).sorted)
  }

  test("readSplitDir: one task cloud over a mixed fleet (gzip + zstd + dictionaried)") {
    val tmp = java.nio.file.Files.createTempDirectory("graft-split-dir").toString
    import spark.implicits._
    val a = Synth.warcRecords(round = 11, n = 25)
    val b = Synth.warcRecords(round = 12, n = 25)
    val c = Synth.warcRecords(round = 13, n = 25)
    val d = Synth.warcRecords(round = 14, n = 25)
    WarcSource.writeSingleFile(spark.createDataset(a), s"$tmp/a.warc.gz", "gzip")
    WarcSource.writeSingleFile(spark.createDataset(b), s"$tmp/b.warc.zst", "zstd")
    java.nio.file.Files.write(java.nio.file.Paths.get(s"$tmp/c.warc.zst"),
      WarcBytes.encodeZstd(c, dict = Some(("dict " * 100).getBytes("UTF-8"))))
    // a SECOND dictionaried archive with a DIFFERENT dictionary: frames
    // compressed against one raw dict do not decode against another, so
    // split == whole here proves each task binds ITS file's dictionary
    // out of the shared broadcast map, not some other file's
    java.nio.file.Files.write(java.nio.file.Paths.get(s"$tmp/d.warc.zst"),
      WarcBytes.encodeZstd(d, dict = Some(("other material " * 60).getBytes("UTF-8"))))
    // an EMPTY archive in the fleet (what writeSingleFile of an empty
    // dataset produces) contributes zero splits, not a format error
    java.nio.file.Files.write(java.nio.file.Paths.get(s"$tmp/e.warc.gz"),
      Array.empty[Byte])
    val all = (a ++ b ++ c ++ d).map(key).sorted
    val ds = WarcSplit.readSplitDir(spark, tmp, splitBytes = 1500L)
    assert(ds.collect().map(key).sorted.toSeq == all)
    // splits from different files land in different tasks of ONE job
    val nTasks = ds.select(spark_partition_id()).distinct().count()
    assert(nTasks > 4, s"expected >4 range tasks, got $nTasks")
    // records keep their source file
    assert(ds.collect().map(_.file).distinct.sorted.length == 4)
  }

  test("plain (uncompressed) input is rejected with a clear error") {
    val records = Synth.warcRecords(n = 3)
    val dir = java.nio.file.Files.createTempDirectory("graft-split-plain").toString
    import spark.implicits._
    WarcSource.write(spark.createDataset(records).coalesce(1), dir, "none")
    val plain = new java.io.File(dir).listFiles().filter(_.getName.endsWith(".warc")).head
    val e = intercept[Exception](
      WarcSplit.readSplit(spark, plain.toString, 1000L).collect())
    val messages = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .map(t => Option(t.getMessage).getOrElse("")).mkString("\n")
    assert(messages.contains("WarcSource.read"), messages.take(500))
  }

  test("boundary scan ignores gzip magic inside deflate data") {
    // payload containing the 1f 8b 08 magic: the validator must reject it
    val evil = Synth.warcRecords(n = 4).map { r =>
      val bytes = Array.fill(300)(Array(0x1f.toByte, 0x8b.toByte, 0x08.toByte)).flatten
      r.copy(
        fields = r.fields.map(f =>
          if (f.name == "Content-Length") f.copy(value = bytes.length.toString)
          else if (f.name == "WARC-Block-Digest")
            f.copy(value = graft.core.Digests.formatDigest("sha1",
              graft.core.Digests.compute("sha1", bytes).get))
          else f),
        bytes = bytes)
    }
    val gz = WarcBytes.encodeGzip(evil)
    // stored-block fallback can embed the magic VERBATIM in the stream;
    // decodeRange must still frame exactly 4 records
    def readRange(off: Long, n: Int): Array[Byte] =
      java.util.Arrays.copyOfRange(gz, off.toInt, off.toInt + n)
    val mid = gz.length / 2L
    val out = (WarcSplit.decodeRange(readRange, gz.length.toLong, 0L, mid, "e.warc.gz") ++
      WarcSplit.decodeRange(readRange, gz.length.toLong, mid, gz.length.toLong, "e.warc.gz"))
      .toVector
    assert(out.length == 4)
    assert(out.map(key).sorted == evil.map(key).sorted)
  }
}
