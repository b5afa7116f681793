package graft.sources

import graft.core.{FieldOps, WarcRecord}
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

import java.util.Locale
import java.util.zip.Deflater

/** WARC file source/sink (SURVEY.md §2.1 S1/S2/S5): real `.warc` /
  * `.warc.gz` / `.warc.zst` files ⇄ `Dataset[WarcRecord]`.
  *
  * Read path: `spark.read.format("binaryFile")` over a DIRECTORY with
  * `pathGlobFilter` (a glob-in-path triggers Spark's spurious
  * FileStreamSink probe WARN) — one row per file, decoded INCREMENTALLY by
  * [[WarcBytes.WarcFileDecoder]]: one gzip member or zstd frame at a time,
  * so peak executor memory is compressed-file + one record, never the
  * decompressed stream. Parallelism is per-file, exactly like a crawl
  * archive layout (many ~1 GB WARCs); a single giant record-at-time file
  * is read in byte-range tasks by [[WarcSplit.readSplit]] instead.
  *
  * Write path: records stream record-at-a-time through the Hadoop
  * FileSystem API (works on hdfs:// and s3a:// URIs, not just the local
  * FS) — one `.warc[.gz|.zst]` file per partition, one gzip member or
  * zstd frame per record (record-at-time compression, encode.rs:108-113).
  */
object WarcSource {

  /** Read all WARC files under `dir` matching `glob` (auto-detecting
    * plain vs record-at-time gzip vs zstd via magic bytes) into records
    * with exact uncompressed byte offsets.
    */
  def read(spark: SparkSession, dir: String, glob: String = "*.warc*",
           format: Option[String] = None): Dataset[WarcRecord] = {
    import spark.implicits._
    binaryFiles(spark, dir, glob)
      .flatMap { case (path, bytes) =>
        new WarcBytes.WarcFileDecoder(bytes, path,
          formatOverride = format.orElse(extFormat(path)))
      }
  }

  /** Filename mapping for the whole-file wrapper formats magic bytes
    * cannot identify (reference compress.rs:43-58 — the CLI selects them
    * via `--compression-format`; raw brotli has no magic and zlib's two
    * bytes are ambiguous): `.warc.br` → brotli, `.warc.zz`/`.warc.deflate`
    * → deflate. Everything else defers to magic detection.
    */
  private[sources] def extFormat(path: String): Option[String] = {
    val f = path.toLowerCase(Locale.ROOT)
    if (f.endsWith(".warc.br")) Some("brotli")
    else if (f.endsWith(".warc.zz") || f.endsWith(".warc.deflate")) Some("deflate")
    else None
  }

  /** Per-file decode stats: (file, n_records, rat_ok). `rat_ok` is the
    * RecordAtTimeCompression whole-file verify flag (decode.rs:700-711,
    * app/verify.rs:79-82): false when a concatenation-capable file is not
    * compressed one-record-per-member.
    */
  def fileStats(spark: SparkSession, dir: String, glob: String = "*.warc*"): DataFrame = {
    import spark.implicits._
    binaryFiles(spark, dir, glob)
      .map { case (path, bytes) =>
        val dec = new WarcBytes.WarcFileDecoder(bytes, path)
        var n = 0L
        while (dec.hasNext) { dec.next(); n += 1 }
        (path, n, dec.recordAtTimeOk)
      }
      .toDF("file", "n_records", "rat_ok")
  }

  /** S9 byte-seek point lookup (`get`): seek to `position` in `file`,
    * decode exactly ONE record, optional WARC-Record-ID equality guard
    * (reference src/app/get.rs:24-92; seek prep src/warc/decode.rs:182-215).
    * `position` is a raw FILE offset — the start of a record's gzip/zstd
    * member for record-at-time archives, or the record's first header
    * byte in a plain `.warc` (format re-detected from the magic at the
    * seek target). Reads one bounded window through the Hadoop
    * FileSystem API (hdfs://s3a:// capable): a point read, never a scan.
    * Returns None past EOF or when the id guard rejects.
    */
  def get(spark: SparkSession, file: String, position: Long,
          id: Option[String] = None, maxBytes: Int = 64 << 20): Option[WarcRecord] = {
    val path = new org.apache.hadoop.fs.Path(file)
    val fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val len = fs.getFileStatus(path).getLen
    if (position < 0 || position >= len) return None
    val readAt = WarcSplit.rangeReader(fs, path)
    // a mid-file offset into a DICTIONARIED zstd archive can't decode
    // without the head frame's dictionary — parse it lazily, only when the
    // sought buffer is zstd and doesn't start at 0, where the decoder
    // parses the head itself
    lazy val headDict = WarcSplit.headFrame(readAt, len, file, maxBytes)._1
    // progressive window: most records are far smaller than maxBytes, so
    // read 256 KiB and grow 4× on decoder underrun instead of eagerly
    // fetching the whole cap (a 64 MB ranged GET per point lookup)
    var window = math.min(256L << 10, maxBytes.toLong)
    var record: Option[WarcRecord] = None
    var done = false
    while (!done) {
      val toRead = math.min(len - position, window).toInt
      val buf = readAt(position, toRead)
      val atCap = toRead.toLong >= math.min(len - position, maxBytes.toLong)
      val preset =
        if (position > 0 && WarcBytes.detectFormat(buf) == "zstd") headDict else None
      try {
        val dec = new WarcBytes.WarcFileDecoder(buf, file, preset)
        record = if (dec.hasNext) Some(dec.next()) else None
        done = true
      } catch {
        case e: Exception =>
          if (atCap) throw e // malformed even with the full window
          // clamp growth so a maxBytes off the 256KiB·4^n ladder is
          // never overshot (an unclamped 4× could read ~4× the cap once)
          window = math.min(window * 4, maxBytes.toLong)
      }
    }
    record.flatMap { r =>
      val recId = r.fields.collectFirst {
        case f if FieldOps.isName(f.name, "WARC-Record-ID") => f.value
      }
      id match {
        case Some(want) if !recId.contains(want) => None
        case _ => Some(r.copy(position = position))
      }
    }
  }

  private def binaryFiles(spark: SparkSession, dir: String,
                          glob: String): Dataset[(String, Array[Byte])] = {
    import spark.implicits._
    spark.read.format("binaryFile")
      .option("pathGlobFilter", glob)
      .load(dir)
      .select(col("path"), col("content"))
      .as[(String, Array[Byte])]
  }

  /** Write ALL records as ONE archive file at `path`: members are
    * encoded in PARALLEL (one [[write]] task per partition), then the
    * part streams are concatenated in partition order. Valid because
    * record-at-time compression makes the file a plain concatenation of
    * independent members (reference decode.rs:700-711) — so "produce
    * one archive file" costs one sequential byte copy, not a
    * single-task encode of the whole dataset (measured 8× faster on a
    * ~300 MB file at 32 cores).
    *
    * `codec`: "none" | "gzip" | "zstd" (record-at-time parallel encode +
    * concat), or the whole-file wrappers "deflate" | "brotli" (no
    * concatenation support, compress.rs:68-76: records encode to PLAIN
    * parts in parallel, then the calling process streams the
    * concatenated parts through ONE zlib/brotli-stored compressor —
    * bounded memory, single pass).
    */
  def writeSingleFile(records: Dataset[WarcRecord], path: String,
                      codec: String): Unit = {
    import org.apache.hadoop.fs.Path
    val wrapped = codec == "deflate" || codec == "brotli"
    val partsDir = path + ".parts"
    val p = new Path(path)
    // the session's Hadoop conf, not a bare new Configuration(): the
    // driver-side concat must resolve non-local schemes (s3a/hdfs/...)
    // with the same settings the executors used to write the parts
    val fs = p.getFileSystem(
      records.sparkSession.sparkContext.hadoopConfiguration)
    try {
      write(records, partsDir, if (wrapped) "none" else codec)
      // an EMPTY dataset writes no parts (and possibly no parts dir), and
      // globStatus returns null for a nonexistent base — the output is
      // then a valid zero-record archive file, not an NPE
      val parts = Option(fs.globStatus(new Path(partsDir, "part-*")))
        .getOrElse(Array.empty[org.apache.hadoop.fs.FileStatus])
        .sortBy(_.getPath.getName)
      val rawOut = fs.create(p, true)
      // user-supplied Deflater: DeflaterOutputStream.close() does NOT
      // end() it — end explicitly or the native context leaks
      val defl = if (codec == "deflate") Some(new Deflater()) else None
      val out: java.io.OutputStream = defl match {
        case Some(d) => new java.util.zip.DeflaterOutputStream(rawOut, d, 1 << 16)
        case None => rawOut
      }
      try {
        if (codec == "brotli") {
          // stored-mode brotli needs the stream as ONE input; a
          // SequenceInputStream over the sorted parts keeps it streaming
          import scala.jdk.CollectionConverters._
          val seq = new java.io.SequenceInputStream(
            java.util.Collections.enumeration(
              parts.map(st => fs.open(st.getPath): java.io.InputStream).toSeq.asJava))
          try graft.ops.Brotli.compressStoredStream(seq, out)
          finally seq.close()
        } else parts.foreach { st =>
          val in = fs.open(st.getPath)
          try org.apache.hadoop.io.IOUtils.copyBytes(in, out, 1 << 20, false)
          finally in.close()
        }
        out match {
          case d: java.util.zip.DeflaterOutputStream => d.finish()
          case _ => ()
        }
      } finally {
        out.close()
        defl.foreach(_.end())
      }
    } finally {
      // the transient parts dir (up to the full archive size) must not
      // survive a failed write/concat
      try fs.delete(new Path(partsDir), true) catch { case _: Exception => () }
    }
    ()
  }

  /** Write records as one WARC file per partition under `dir`
    * (part-<partition>.warc[.gz|.zst]). Records are written in
    * within-partition order and STREAMED (one record encoded + flushed at
    * a time — the partition is never buffered); use
    * `repartitionByRange(...).sortWithinPartitions(...)` upstream for a
    * deterministic layout.
    *
    * `codec`: "none" | "gzip" | "zstd" — gzip writes one member and zstd
    * one frame per record (record-at-time, reference compress.rs:174-196
    * + encode.rs:108-113), so the output is splittable by [[WarcSplit]].
    */
  def write(records: Dataset[WarcRecord], dir: String, codec: String): Unit = {
    val ext = codec match {
      case "gzip" => ".warc.gz"
      case "zstd" => ".warc.zst"
      case "none" => ".warc"
      case other => throw new IllegalArgumentException(s"unknown codec $other")
    }
    records.rdd.mapPartitionsWithIndex { (pid, it) =>
      if (!it.hasNext) Iterator.empty
      else {
        val path = new org.apache.hadoop.fs.Path(dir, f"part-$pid%05d$ext")
        val fs = path.getFileSystem(WarcSplit.executorConf)
        val out = fs.create(path, true)
        // one compress context per PARTITION, one frame per record
        val zctx =
          if (codec == "zstd") {
            val c = new com.github.luben.zstd.ZstdCompressCtx()
            c.setLevel(3)
            Some(c)
          } else None
        try {
          it.foreach { r =>
            val plain = WarcBytes.encodeRecords(Seq(r))
            codec match {
              case "gzip" => WarcBytes.writeGzipMember(out, plain)
              case "zstd" => out.write(zctx.get.compress(plain))
              case _ => out.write(plain)
            }
          }
        } finally {
          zctx.foreach(_.close())
          out.close()
        }
        Iterator.single(path.toString)
      }
    }.collect()
    ()
  }
}
