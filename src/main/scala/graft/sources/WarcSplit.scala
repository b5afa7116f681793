package graft.sources

import graft.core.{ByteSink, Gzip, WarcRecord}
import org.apache.spark.sql.{Dataset, SparkSession}

import java.io.EOFException
import java.util.zip.Inflater

/** Record-boundary splitter for ONE large record-at-time `.warc.gz` or
  * `.warc.zst` file (SURVEY §2.1 near-miss closed): N byte-range tasks per
  * file instead of one task per file. The enabler is the record-at-time
  * contract — each record is its own gzip member or zstd frame (reference
  * compress.rs:62-76), so member starts ARE record boundaries (the
  * reference's record_boundary_position bookkeeping, decode.rs:51-56) and
  * any task can start decoding at the first member magic at-or-after its
  * range start with zero coordination.
  *
  * Split protocol (the classic Hadoop input-split convention): a member
  * whose START offset lies in [start, end) belongs to that task, even when
  * its bytes run past `end` — so every member is decoded by exactly one
  * task and the union over tasks is the whole file.
  *
  * Boundary detection: gzip magic `1f 8b 08` is validated by inflating a
  * small prefix and checking it yields `WARC/` — a magic inside deflate
  * data fails validation (and even a pathological false positive would
  * fail record framing loudly, never silently misparse).
  *
  * `position` here is the member's COMPRESSED file offset — the byte-seek
  * offset [[WarcSource.get]] accepts — because a mid-file task cannot know
  * cumulative UNCOMPRESSED offsets without decoding everything before it.
  * Whole-file [[WarcSource.read]] keeps the uncompressed-offset semantics;
  * the two are documented twins.
  *
  * Record-at-time ZSTD archives (one frame per record,
  * reference compress.rs:174-196) split the same way: frame magic
  * `28 b5 2f fd` validated by decoding the frame's first plaintext bytes
  * to `WARC/`; mid-file skippable frames are skipped. Archives led by a
  * skippable DICTIONARY frame (the reference's convention,
  * compress/zstd.rs:13-58) ARE splittable: the driver reads the head
  * frame once, BROADCASTS the dictionary (once per executor, not once
  * per task), and each task decodes (and boundary-validates) its frames
  * against it — the dictionary is crawl-shared state exactly like a
  * robots broadcast, not a reason to serialize the file.
  *
  * Memory per task: one range buffer (≤ splitBytes + the format's
  * validation tail: 1 KiB gzip, 256 KiB zstd) + one record. Plain files
  * fall back to [[WarcSource.read]] (per-file parallelism).
  */
object WarcSplit {

  /** Pad read past a range end so a boundary just before `end` can be
    * VALIDATED (gzip header + enough deflate to prove "WARC/").
    */
  private val ValidationTail = 1024

  /** Zstd needs a LARGER validation tail: the streaming decoder emits
    * plaintext only on complete blocks (up to 128 KiB), so proving
    * "WARC/" for a member that starts just before a range end can need
    * the member's whole first block past the boundary — 1 KiB of
    * deflate-style lookahead would silently SKIP such members (losing
    * their records from every task). 256 KiB covers any legal block
    * plus frame header at negligible cost vs the ≥2 MiB split size.
    */
  private val ZstdValidationTail = 256 << 10

  private def tailFor(format: String): Int =
    if (format == "zstd") ZstdValidationTail else ValidationTail

  /** True when `buf(i)` starts a genuine record-at-time member: a gzip
    * header parses there, and the member's first plaintext bytes,
    * inflated by [[Gzip.inflateMember]] five at a time, are `WARC/`.
    * Insufficient bytes to prove it → false (caller re-reads with more
    * tail if it matters).
    */
  private[graft] def isMemberStart(buf: Array[Byte], i: Int): Boolean = {
    val inf = new Inflater(true)
    val head = new java.io.ByteArrayOutputStream()
    val prefix: ByteSink = (chunk, off, n) => {
      head.write(chunk, off, n)
      if (head.size >= 5) throw PrefixRead
    }
    try { Gzip.inflateMember(buf, i, inf, new Array[Byte](5), prefix); false }
    catch {
      case PrefixRead => head.toString("US-ASCII").startsWith("WARC/")
      case _: Exception => false
    } finally inf.end()
  }

  /** Ends a member inflate once [[isMemberStart]] holds its prefix. */
  private object PrefixRead extends scala.util.control.ControlThrowable

  /** [[isMemberStart]] twin for record-at-time zstd: content-frame magic
    * + the frame's first plaintext bytes prove `WARC/` (a magic inside
    * compressed data, or a dictionary payload inside a skippable frame,
    * fails the decode-prefix check). Insufficient bytes → false.
    */
  private[graft] def isZstdMemberStart(buf: Array[Byte], i: Int,
                                       dict: Option[Array[Byte]] = None): Boolean =
    i + 4 <= buf.length &&
      buf(i) == WarcBytes.ZstdMagic(0) && buf(i + 1) == WarcBytes.ZstdMagic(1) &&
      buf(i + 2) == WarcBytes.ZstdMagic(2) && buf(i + 3) == WarcBytes.ZstdMagic(3) && {
        val in = new com.github.luben.zstd.ZstdInputStreamNoFinalizer(
          new java.io.ByteArrayInputStream(buf, i, buf.length - i))
        try {
          dict.foreach(in.setDict)
          val out = new Array[Byte](5)
          var got = 0
          var n = 0
          while (got < 5 && n >= 0) {
            n = in.read(out, got, 5 - got)
            if (n > 0) got += n
          }
          got == 5 && new String(out, "US-ASCII") == "WARC/"
        } catch { case _: Exception => false }
        finally in.close()
      }

  /** Index of the first validated member start at-or-after `from`;
    * -1 when none exists in the buffer.
    */
  private[graft] def findMemberStart(buf: Array[Byte], from: Int,
                                     format: String = "gzip",
                                     dict: Option[Array[Byte]] = None): Int = {
    var i = math.max(from, 0)
    if (format == "zstd") {
      while (i + 4 <= buf.length) {
        if (buf(i) == WarcBytes.ZstdMagic(0) && buf(i + 1) == WarcBytes.ZstdMagic(1) &&
          buf(i + 2) == WarcBytes.ZstdMagic(2) && buf(i + 3) == WarcBytes.ZstdMagic(3) &&
          isZstdMemberStart(buf, i, dict)) return i
        i += 1
      }
    } else {
      while (i + 3 <= buf.length) {
        if (buf(i) == 0x1f.toByte && buf(i + 1) == 0x8b.toByte && buf(i + 2) == 8 &&
          isMemberStart(buf, i)) return i
        i += 1
      }
    }
    -1
  }

  /** Decode every member whose start offset lies in [start, end).
    * `readRange(off, n)` must return exactly the file bytes [off, off+n).
    * A member extending past the buffered range triggers a targeted
    * re-read from the member start with geometric growth up to
    * `maxRecordBytes` (the [[WarcSource.get]] window discipline).
    */
  private[graft] def decodeRange(readRange: (Long, Int) => Array[Byte], fileLen: Long,
                                   start: Long, end: Long, file: String,
                                   maxRecordBytes: Int = 64 << 20,
                                   format: String = "gzip",
                                   dict: Option[Array[Byte]] = None,
                                   contentStart: Long = 0L): Iterator[WarcRecord] = {
    // ranges are laid out over the whole file; content begins after any
    // leading dictionary frame, so a task whose range starts earlier
    // clamps (a range entirely inside the head frame owns nothing)
    val startC = math.max(start, contentStart)
    if (startC >= fileLen || startC >= end) return Iterator.empty
    val endB = math.min(end, fileLen)
    var bufStart = startC
    var buf = readRange(startC,
      (math.min(endB + tailFor(format), fileLen) - startC).toInt)

    val first =
      if (start == 0L && contentStart == 0L) {
        require(buf.length >= 2 && WarcBytes.detectFormat(buf) == format,
          s"$file: head magic is not $format (use WarcSource.read)")
        0L
      } else if (startC == contentStart && startC > start) {
        // first content byte: trust the driver's head-frame parse — the
        // first member starts exactly here (validated on decode anyway)
        startC
      } else {
        val rel = findMemberStart(buf, 0, format, dict)
        if (rel < 0 || startC + rel >= endB) -1L else startC + rel
      }

    new Iterator[WarcRecord] {
      private var abs = first
      private val pending = scala.collection.mutable.Queue.empty[WarcRecord]
      // one Inflater / zstd context (dictionary digested once) for the
      // whole range: per-member native init/free dominated small members
      private val scratch = new WarcBytes.DecodeScratch(dict)
      // one framer for the range too, reset per member (and per retry)
      private val parser = new WarcBytes.RecordParser(file)

      private def decodeMemberAt(offset: Long): Unit = {
        var window = (bufStart + buf.length - offset).toInt
        var done = false
        while (!done) {
          val rel = (offset - bufStart).toInt
          parser.reset()
          try {
            // the LEADING dictionary frame sits before contentStart, so
            // no task decodes through it; later skippables are skipped
            val relNext = WarcBytes.decodeMember(buf, rel, format, parser, dict, scratch)
            parser.finish() // record-at-time: member ends ON a boundary
            var r = parser.next()
            require(r.nonEmpty || bufStart + relNext >= fileLen,
              s"$file: empty member at offset $offset")
            while (r.nonEmpty) { // tolerate multi-record members like read()
              pending += r.get.copy(position = offset)
              r = parser.next()
            }
            abs = bufStart + relNext
            done = true
          } catch {
            case e @ (_: EOFException | _: IllegalArgumentException) =>
              // truncated by the buffer edge vs genuinely malformed: only
              // a re-read with more bytes can tell — grow geometrically
              val atFileEnd = bufStart + buf.length >= fileLen
              if (atFileEnd || window >= maxRecordBytes) throw e
              window = math.min(math.max(window * 2, 1 << 20),
                math.min(fileLen - offset, maxRecordBytes.toLong).toInt)
              buf = readRange(offset, window)
              bufStart = offset
          }
        }
      }

      override def hasNext: Boolean = {
        while (pending.isEmpty && abs >= 0 && abs < endB) decodeMemberAt(abs)
        pending.nonEmpty
      }

      override def next(): WarcRecord = {
        if (!hasNext) throw new NoSuchElementException("end of split")
        pending.dequeue()
      }
    }
  }

  /** One planned byte-range task: everything a mid-file executor needs
    * to decode independently (format, head dictionary, content start).
    */
  private case class Split(file: String, fileLen: Long, start: Long,
                           end: Long, format: String,
                           dict: Option[Array[Byte]], contentStart: Long)

  /** File bytes [off, off+n) of `path`, one positioned read per call —
    * the ranged read of every split task, the split planner and
    * [[WarcSource.get]].
    */
  private[sources] def rangeReader(fs: org.apache.hadoop.fs.FileSystem,
                                   path: org.apache.hadoop.fs.Path): (Long, Int) => Array[Byte] =
    (off, n) => {
      val a = new Array[Byte](n)
      val in = fs.open(path)
      try { in.seek(off); in.readFully(a) } finally in.close()
      a
    }

  /** The archive's leading skippable frame, if any: (dictionary, offset of
    * the first content frame). A non-dictionary skippable frame yields
    * (None, its end); no skippable frame yields (None, 0). A frame whose
    * unsigned size runs past the file or exceeds `maxBytes` is an error.
    */
  private[sources] def headFrame(readAt: (Long, Int) => Array[Byte], fileLen: Long,
                                 file: String, maxBytes: Int): (Option[Array[Byte]], Long) = {
    val head = readAt(0L, math.min(8L, fileLen).toInt)
    if (head.length < 8 || !WarcBytes.isSkippableFrame(head, 0)) (None, 0L)
    else {
      val frameLen = WarcBytes.readLe32(head, 4) & 0xffffffffL
      require(8 + frameLen <= fileLen, s"$file: truncated leading skippable frame")
      require(frameLen <= maxBytes,
        s"$file: leading skippable frame of $frameLen bytes exceeds maxRecordBytes=$maxBytes")
      val (d, start) = WarcBytes.zstdDictFrame(readAt(0L, (8 + frameLen).toInt))
      (d, if (start > 0) start.toLong else 8L + frameLen)
    }
  }

  /** Driver-side split planning for ONE archive: one 8-byte head read
    * classifies it (record-at-time gzip and zstd are both splittable —
    * member/frame starts are record boundaries). A zstd archive LED by
    * the skippable dictionary frame (compress/zstd.rs:13-58) is
    * splittable too: parse the head frame ONCE here; [[runSplits]]
    * strips it out of the per-task spec and broadcasts it (shared
    * crawl state, read once, used by every task).
    */
  private def planSplits(fs: org.apache.hadoop.fs.FileSystem,
                         path: org.apache.hadoop.fs.Path, fileLen: Long,
                         splitBytes: Long, maxRecordBytes: Int): Seq[Split] = {
    val file = path.toString
    // a zero-byte file is the valid EMPTY archive (what writeSingleFile
    // of an empty dataset produces, and what WarcFileDecoder decodes as
    // zero records) — zero splits, not a format error that would kill a
    // whole readSplitDir fleet over one empty member
    if (fileLen == 0) return Seq.empty
    val readAt = rangeReader(fs, path)
    val format = WarcBytes.detectFormat(readAt(0L, math.min(8L, fileLen).toInt)) match {
      case "gzip" => "gzip"
      case "zstd" => "zstd"
      case other => throw new IllegalArgumentException(
        s"$file: format $other is not record-at-time splittable " +
          "(use WarcSource.read)")
    }
    val (dict, contentStart) =
      if (format == "zstd") headFrame(readAt, fileLen, file, maxRecordBytes) else (None, 0L)
    val nSplits = math.max(1L, (fileLen + splitBytes - 1) / splitBytes).toInt
    (0 until nSplits).map { i =>
      Split(file, fileLen, i * splitBytes,
        math.min((i + 1L) * splitBytes, fileLen), format, dict, contentStart)
    }
  }

  /** The executor side's Hadoop conf: the cluster's fs.* settings from
    * the classpath (local defaults when none are configured), built once
    * per JVM. Building one parses the default XML resources, which a
    * per-task `new Configuration()` paid again on every split. Tasks
    * only read it, so every executor-side reader and writer shares it.
    */
  private[graft] lazy val executorConf: org.apache.hadoop.conf.Configuration =
    new org.apache.hadoop.conf.Configuration()

  private def runSplits(spark: SparkSession, splits: Seq[Split],
                        maxRecordBytes: Int): Dataset[WarcRecord] = {
    import spark.implicits._
    // the head dictionary is per-FILE shared state: ship it ONCE per
    // executor via a broadcast instead of a copy inside every split's
    // task payload — a multi-GB archive at 128 MB splitBytes has
    // thousands of splits per file, and a dict embedded in each Split
    // would serialize (dict bytes × splits) of duplicate task bytes
    // from the driver. No split with a dictionary, no broadcast.
    val dictByFile = splits.iterator
      .flatMap(s => s.dict.map(d => s.file -> d)).toMap
    val dictBc =
      if (dictByFile.isEmpty) None else Some(spark.sparkContext.broadcast(dictByFile))
    val bare = splits.map(_.copy(dict = None))
    val rdd = spark.sparkContext
      .parallelize(bare, math.max(1, bare.size))
      .flatMap { s =>
        val p = new org.apache.hadoop.fs.Path(s.file)
        val efs = p.getFileSystem(executorConf)
        decodeRange(rangeReader(efs, p), s.fileLen, s.start, s.end, s.file,
          maxRecordBytes, s.format, dictBc.flatMap(_.value.get(s.file)), s.contentStart)
      }
    spark.createDataset(rdd)
  }

  /** Each task buffers its whole range (+ validation tail) in one array:
    * fail with the sizing story, not a negative-array-size surprise.
    */
  private def checkSplitBytes(splitBytes: Long): Unit = {
    require(splitBytes > 0, "splitBytes must be positive")
    require(splitBytes <= Int.MaxValue.toLong - ZstdValidationTail - 8,
      s"splitBytes=$splitBytes exceeds the per-task buffer limit " +
        "(one JVM array per range); use more, smaller splits")
  }

  /** Read ONE record-at-time `.warc.gz` or `.warc.zst` file with
    * `ceil(len/splitBytes)` parallel range tasks. Each task scans for its
    * first member boundary and decodes members starting inside its
    * range — per-RANGE parallelism where [[WarcSource.read]] only has
    * per-FILE parallelism, so a single multi-GB archive saturates a
    * cluster instead of one core. `position` = compressed member offset
    * (see object doc).
    */
  def readSplit(spark: SparkSession, file: String, splitBytes: Long = 128L << 20,
                maxRecordBytes: Int = 64 << 20): Dataset[WarcRecord] = {
    checkSplitBytes(splitBytes)
    val path = new org.apache.hadoop.fs.Path(file)
    val fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val fileLen = fs.getFileStatus(path).getLen
    runSplits(spark, planSplits(fs, path, fileLen, splitBytes, maxRecordBytes),
      maxRecordBytes)
  }

  /** Directory form: every record-at-time archive under `dir` matching
    * `glob`, split into byte-range tasks in ONE task cloud — the
    * bounded-memory fleet reader. [[WarcSource.read]] buffers each whole
    * file (Spark `binaryFile`, capped at 2 GiB and one task per file);
    * this path holds at most `splitBytes` + a validation tail + one
    * record per task regardless of archive size, and a directory of
    * multi-GB archives saturates a cluster instead of |files| cores.
    * `position` is the compressed member offset per the object doc.
    */
  def readSplitDir(spark: SparkSession, dir: String, glob: String = "*.warc*",
                   splitBytes: Long = 128L << 20,
                   maxRecordBytes: Int = 64 << 20): Dataset[WarcRecord] = {
    checkSplitBytes(splitBytes)
    val base = new org.apache.hadoop.fs.Path(dir)
    val fs = base.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val files = fs.globStatus(new org.apache.hadoop.fs.Path(base, glob))
    // Hadoop hidden-file convention ('.'/'_' prefixes): globStatus does
    // NOT apply FileInputFormat's hidden filter, and a checksummed local
    // FS leaves `.x.warc.gz.crc` sidecars next to every archive — those
    // must never be classified as archives
    val splits = Option(files).toSeq.flatten.filter(_.isFile)
      .filterNot { st =>
        val n = st.getPath.getName
        n.startsWith(".") || n.startsWith("_")
      }
      .sortBy(_.getPath.toString)
      .flatMap(st => planSplits(fs, st.getPath, st.getLen, splitBytes,
        maxRecordBytes))
    runSplits(spark, splits, maxRecordBytes)
  }
}
