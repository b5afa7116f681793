package graft.pipeline

import java.awt.image.BufferedImage
import java.io.{ByteArrayInputStream, ByteArrayOutputStream}
import java.util.Locale
import javax.imageio.ImageIO

import graft.core.FieldOps.{MediaTypeRe, firstValue, target}
import graft.functions.GraftFunctions.kernel
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StringType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String

/** Multimodal (image) column operators over opaque `binary` cells with
  * typed metadata — the BASELINE.json image/caption payload axis.
  *
  * Decode/encode is REAL for png/bmp/jpeg (JDK ImageIO, headless-safe,
  * per-row on executors); the audio/video decode path is a clearly-marked
  * deterministic stub (those libs are not in the container). The Spark
  * plumbing — binary columns, batch-shaped UDFs, schema, partitioning —
  * is real and tested.
  *
  * Fidelity gate (BASELINE.json per-row invariant): decoded-pixel
  * allclose via PSNR ≥ 40 dB for lossy formats, exact for lossless,
  * plus caption equality.
  */
object Multimodal {

  java.lang.System.setProperty("java.awt.headless", "true")
  // in-memory ImageIO streams: the default file-backed cache spools a
  // temp file per read/write — tens of thousands of per-row temp files
  // at bench scale (measured: dominated q59's wall time)
  ImageIO.setUseCache(false)

  def decode(bytes: Array[Byte]): Option[BufferedImage] =
    Option(bytes).flatMap(b => Option(ImageIO.read(new ByteArrayInputStream(b))))

  def encode(img: BufferedImage, fmt: String): Array[Byte] = {
    val out = new ByteArrayOutputStream()
    if (fmt == "jpeg" || fmt == "jpg") {
      // explicit high quality: the fidelity gate is PSNR ≥ 40 dB and
      // ImageIO's default (~0.75) lands in the mid-30s
      val writer = ImageIO.getImageWritersByFormatName("jpg").next()
      val params = writer.getDefaultWriteParam
      params.setCompressionMode(javax.imageio.ImageWriteParam.MODE_EXPLICIT)
      params.setCompressionQuality(0.95f)
      val ios = ImageIO.createImageOutputStream(out)
      writer.setOutput(ios)
      writer.write(null, new javax.imageio.IIOImage(img, null, null), params)
      writer.dispose(); ios.close()
    } else {
      val ok = ImageIO.write(img, fmt, out)
      require(ok, s"no ImageIO writer for $fmt")
    }
    out.toByteArray
  }

  /** One bulk sRGB conversion of the whole image. Per-pixel
    * `img.getRGB(x, y)` routes every call through the ColorModel
    * (~0.5µs each — it DOMINATED the decode+hash path, q59); the bulk
    * form returns the identical ints in one call.
    */
  private def rgbArray(img: BufferedImage): Array[Int] =
    img.getRGB(0, 0, img.getWidth, img.getHeight, null, 0, img.getWidth)

  /** Peak signal-to-noise ratio over RGB channels; Infinity when equal. */
  def psnr(a: BufferedImage, b: BufferedImage): Double = {
    if (a.getWidth != b.getWidth || a.getHeight != b.getHeight) return 0.0
    val pa = rgbArray(a); val pb = rgbArray(b)
    var se = 0.0
    var i = 0
    while (i < pa.length) {
      val va = pa(i); val vb = pb(i)
      var shift = 0
      while (shift <= 16) {
        val d = ((va >> shift) & 0xff) - ((vb >> shift) & 0xff)
        se += d.toDouble * d
        shift += 8
      }
      i += 1
    }
    val n = pa.length * 3
    if (se == 0.0) Double.PositiveInfinity
    else 10.0 * math.log10(255.0 * 255.0 * n / se)
  }

  /** 64-bit average-hash: 8×8 block-mean grayscale, bit set when block
    * mean > global mean. Pure arithmetic (no Graphics2D scaling) so the
    * hash is bit-stable across JVMs.
    */
  def phash64(img: BufferedImage): Long = {
    val gw = 8; val gh = 8
    val iw = img.getWidth; val ih = img.getHeight
    val px = rgbArray(img) // one bulk conversion instead of w*h getRGB calls
    val means = new Array[Double](gw * gh)
    var gy = 0
    while (gy < gh) {
      var gx = 0
      while (gx < gw) {
        val x0 = gx * iw / gw; val x1 = math.max((gx + 1) * iw / gw, x0 + 1)
        val y0 = gy * ih / gh; val y1 = math.max((gy + 1) * ih / gh, y0 + 1)
        var sum = 0.0; var cnt = 0
        var y = y0
        while (y < y1 && y < ih) {
          var x = x0
          while (x < x1 && x < iw) {
            val p = px(y * iw + x)
            sum += ((p >> 16) & 0xff) * 0.299 + ((p >> 8) & 0xff) * 0.587 + (p & 0xff) * 0.114
            cnt += 1
            x += 1
          }
          y += 1
        }
        means(gy * gw + gx) = if (cnt == 0) 0.0 else sum / cnt
        gx += 1
      }
      gy += 1
    }
    val global = means.sum / means.length
    means.zipWithIndex.foldLeft(0L) { case (acc, (m, i)) =>
      if (m > global) acc | (1L << i) else acc
    }
  }

  def hamming64(a: Long, b: Long): Int = java.lang.Long.bitCount(a ^ b)

  /** Nearest-neighbor resize — deterministic, library-free. Bulk
    * sRGB in/out (see [[rgbArray]]): identical pixels to the per-pixel
    * getRGB/setRGB form without the per-call ColorModel round-trips.
    */
  def resize(img: BufferedImage, w: Int, h: Int): BufferedImage = {
    val iw = img.getWidth; val ih = img.getHeight
    val src = rgbArray(img)
    val dst = new Array[Int](w * h)
    var y = 0
    while (y < h) {
      val sy = y * ih / h
      var x = 0
      while (x < w) {
        dst(y * w + x) = src(sy * iw + x * iw / w)
        x += 1
      }
      y += 1
    }
    val out = new BufferedImage(w, h, BufferedImage.TYPE_INT_RGB)
    out.setRGB(0, 0, w, h, dst, 0, w)
    out
  }

  /** REAL audio feature extraction for WAV (RIFF PCM) via pure-JVM
    * `javax.sound.sampled` — the audio half of the media path, no
    * container libraries needed. 16-bit signed PCM only (other
    * encodings → None, like [[decode]] for non-image bytes). Features:
    * `(sample_rate_hz, channels, bits, frames, peak_i16, rms_i16)` —
    * peak |sample| and RMS in int16 units (rounded), pooled over all
    * channels. RMS/peak in integer sample units keeps the values
    * exactly re-derivable by an oracle from the synthesis parameters.
    */
  def wavFeatures(bytes: Array[Byte]): Option[(Int, Int, Int, Long, Int, Int)] =
    if (bytes == null) None
    else try {
      val ais = javax.sound.sampled.AudioSystem.getAudioInputStream(
        new ByteArrayInputStream(bytes))
      try {
        val fmt = ais.getFormat
        if (fmt.getEncoding != javax.sound.sampled.AudioFormat.Encoding.PCM_SIGNED ||
            fmt.getSampleSizeInBits != 16) None
        else {
          val ch = fmt.getChannels
          val be = fmt.isBigEndian
          val data = ais.readAllBytes()
          val n = data.length / 2
          var i = 0
          var peak = 0
          var sumSq = 0.0
          while (i < n) {
            val s =
              if (be) (data(2 * i) << 8) | (data(2 * i + 1) & 0xff)
              else (data(2 * i + 1) << 8) | (data(2 * i) & 0xff)
            val a = if (s < 0) -s else s
            if (a > peak) peak = a
            val v = s / 32768.0
            sumSq += v * v
            i += 1
          }
          val rms =
            if (n == 0) 0
            else math.round(math.sqrt(sumSq / n) * 32768.0).toInt
          Some((math.round(fmt.getSampleRate), ch, 16, n.toLong / ch, peak, rms))
        }
      } finally ais.close()
    } catch { case scala.util.control.NonFatal(_) => None }

  /** Minimal RIFF/WAVE PCM16 little-endian encoder for the synthetic
    * audio corpus (tests + gate fixtures): `samples` are interleaved
    * int16 frames × channels. Library-free and deterministic.
    */
  def encodeWavPcm16(sampleRate: Int, channels: Int,
                     samples: Array[Short]): Array[Byte] = {
    val dataLen = samples.length * 2
    val bb = java.nio.ByteBuffer.allocate(44 + dataLen)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    bb.put("RIFF".getBytes("US-ASCII")).putInt(36 + dataLen)
      .put("WAVE".getBytes("US-ASCII")).put("fmt ".getBytes("US-ASCII"))
      .putInt(16).putShort(1).putShort(channels.toShort)
      .putInt(sampleRate).putInt(sampleRate * channels * 2)
      .putShort((channels * 2).toShort).putShort(16)
      .put("data".getBytes("US-ASCII")).putInt(dataLen)
    var i = 0
    while (i < samples.length) { bb.putShort(samples(i)); i += 1 }
    bb.array()
  }

  /** STUB — deterministic fake for COMPRESSED-codec video only (no
    * codec libs in this container). Everything else is REAL: images via
    * [[decode]], audio via [[wavFeatures]], and — since round 5 — video
    * in the AVI container with uncompressed DIB frames via
    * [[graft.pipeline.Avi]] (demux + exact frame decode + frame
    * sampling, gate q77). This fallback returns a fixed-length feature
    * vector derived from content hashes so the Spark plumbing (schema,
    * batching, partitioning) stays exercised for the codecs that would
    * need an external decoder.
    */
  def stubMediaFeatures(bytes: Array[Byte], dims: Int = 16): Array[Float] = {
    val md = java.security.MessageDigest.getInstance("SHA-256").digest(
      if (bytes == null) Array.empty[Byte] else bytes)
    (0 until dims).map(i => ((md(i * 2 % 32) & 0xff) * 256 + (md((i * 2 + 1) % 32) & 0xff))
      / 65535.0f).toArray
  }

  // ---- column-level API ----

  val imageMetaUdf = udf { (bytes: Array[Byte]) =>
    decode(bytes).map(img => (img.getWidth, img.getHeight))
  }

  val phashUdf = udf { (bytes: Array[Byte]) => decode(bytes).map(phash64) }

  /** ONE decode yielding (w, h, phash64): the per-row ImageIO decode is
    * the dominant cost of the crawl→table bridge (q59), and calling
    * [[imageMetaUdf]] + [[phashUdf]] separately paid it twice.
    */
  val imageMetaPhashUdf = udf { (bytes: Array[Byte]) =>
    decode(bytes).map(img => (img.getWidth, img.getHeight, phash64(img)))
  }

  val psnrUdf = udf { (a: Array[Byte], b: Array[Byte]) =>
    for (ia <- decode(a); ib <- decode(b)) yield psnr(ia, ib)
  }

  val resizeUdf = udf { (bytes: Array[Byte], w: Int, h: Int, fmt: String) =>
    decode(bytes).map(img => encode(resize(img, w, h), fmt))
  }

  val mediaFeaturesUdf = udf { (bytes: Array[Byte]) => stubMediaFeatures(bytes) }

  /** (sample_rate, channels, bits, frames, peak_i16, rms_i16) or null. */
  val wavFeaturesUdf = udf { (bytes: Array[Byte]) => wavFeatures(bytes) }

  /** Deterministic pixel corruption (paints the upper-left quadrant black,
    * re-encodes in the same format) — drives the fidelity gate's FAIL path
    * in tests: the damage is far beyond any 40 dB budget.
    */
  def corruptPixels(bytes: Array[Byte], fmt: String): Array[Byte] =
    decode(bytes).map { img =>
      var y = 0
      while (y < img.getHeight / 2) {
        var x = 0
        while (x < img.getWidth / 2) { img.setRGB(x, y, 0); x += 1 }
        y += 1
      }
      encode(img, fmt)
    }.getOrElse(bytes)

  val corruptPixelsUdf = udf { (bytes: Array[Byte], fmt: String) => corruptPixels(bytes, fmt) }

  private val ImageHeadersType = StructType(Seq(StructField("fmt", StringType),
    StructField("image_id", StringType), StructField("caption", StringType)))

  /** One kernel call per row for the three header lookups + the
    * media-type parse. The Column form (mediaType + two fieldGets)
    * re-inlined the `fields` construction into every interpreted HOF
    * lookup after filter pushdown — the same pathology
    * [[graft.ops.ExtractOp]]'s route kernel documents; names are looked
    * up through the `FieldOps` kernels and the media type parses with
    * the [[graft.core.FieldOps.mediaType]] grammar; oracle-gated (q59).
    * Returns null when Content-Type is absent/invalid or its type is not
    * `image` — the `where` below drops those rows exactly like the old
    * `mt.ok && mt.type === "image"`.
    */
  def imageHeaders(fields: ArrayData): InternalRow =
    Option(firstValue(fields, target("Content-Type"))).map(_.toString) match {
      case Some(MediaTypeRe(t, s, _, _)) if t.equalsIgnoreCase("image") =>
        InternalRow(UTF8String.fromString(s.toLowerCase(Locale.ROOT)),
          firstValue(fields, target("WARC-Record-ID")),
          firstValue(fields, target("WARC-Target-URI")))
      case _ => null
    }

  /** Crawl→training-table bridge: turn an extracted-records table
    * ([[graft.ops.ExtractOp.extract]] output) into the BASELINE.json
    * input_hint row shape (image_id, bytes, w, h, fmt, caption, phash).
    * Rows whose Content-Type parses with type `image` decode via ImageIO; rows
    * that fail to decode are DROPPED with the `decode_ok=false` flag
    * available upstream via [[imageMetaUdf]]. Caption carries the
    * record's WARC-Target-URI here — a production pipeline joins
    * alt-text/metadata sibling records into the same column; the table
    * shape is identical either way. All narrow (no shuffle).
    */
  def imagesFromExtracted(extracted: DataFrame): DataFrame = {
    extracted
      // pinned like the decode below: one header kernel call per row
      .withColumn("hdr", kernel(Multimodal, ImageHeadersType, "imageHeaders", Seq(col("fields")),
        pinned = true))
      .where(col("hdr").isNotNull)
      // nondeterministic marking (guide §4.4): the pushed-down
      // `meta IS NOT NULL` filter otherwise duplicates the decode UDF —
      // every image decoded TWICE per row. The function is in fact
      // deterministic; the marking only pins one evaluation.
      .withColumn("meta", imageMetaPhashUdf.asNondeterministic()(col("extracted")))
      .where(col("meta").isNotNull)
      .select(
        col("hdr.image_id").as("image_id"),
        col("extracted").as("bytes"),
        col("meta._1").as("w"),
        col("meta._2").as("h"),
        col("hdr.fmt").as("fmt"),
        col("hdr.caption").as("caption"),
        col("meta._3").as("phash"))
  }

  /** Banded-LSH near-duplicate pairs on the 64-bit phash: 8 bands × 8 bits;
    * any pair at hamming ≤ 7 collides on ≥1 exact band (pigeonhole), so the
    * band join finds every such pair without an n² cross join — the band
    * join is an equi-join Catalyst shuffles on (band, band_value), which
    * scales to 10^10 rows where brute force cannot. Pairs are then
    * confirmed by exact hamming ≤ maxHamming (cheap, bit_count).
    */
  def phashNearDupPairs(images: DataFrame, maxHamming: Int = 7): DataFrame = {
    require(maxHamming <= 7, "8x8 banding only guarantees recall up to hamming 7")
    val bands = (0 until 8).map(b =>
      struct(lit(b).as("band"), shiftright(col("phash"), b * 8).bitwiseAND(lit(0xffL)).as("bv")))
    val banded = images
      .select(col("image_id"), col("phash"), explode(array(bands: _*)).as("bs"))
      .select(col("image_id"), col("phash"), col("bs.band"), col("bs.bv"))
    val a = banded.as("a")
    val b = banded.as("b")
    a.join(b,
        col("a.band") === col("b.band") && col("a.bv") === col("b.bv") &&
          col("a.image_id") < col("b.image_id"))
      .select(col("a.image_id").as("id_a"), col("b.image_id").as("id_b"),
        call_function("bit_count",
          col("a.phash").bitwiseXOR(col("b.phash"))).cast("int").as("hamming"))
      .distinct()
      .where(col("hamming") <= maxHamming)
  }

  /** Per-row fidelity gate between two image tables (BASELINE.json
    * invariant): PSNR ≥ 40 dB for lossy formats, exact bytes for
    * lossless, caption equality. One row per image with pass flags.
    */
  def fidelityFlags(a: DataFrame, b: DataFrame): DataFrame = {
    val l = a.select(col("image_id"), col("bytes").as("bytes_a"),
      col("fmt"), col("caption").as("caption_a"))
    val r = b.select(col("image_id"), col("bytes").as("bytes_b"),
      col("caption").as("caption_b"))
    // flags are COALESCED to false: an undecodable image yields null
    // psnr, and three-valued logic would otherwise let the null slip
    // through fidelityProblems' WHERE — the most-broken payload (can't
    // decode at all) must fail the gate, not vanish from it. Null
    // captions likewise. "jpg" is the same lossy codec as "jpeg"
    // (encode() handles both); byte-exact comparison would blanket-fail
    // it at any PSNR.
    l.join(r, Seq("image_id"))
      .withColumn("psnr", psnrUdf(col("bytes_a"), col("bytes_b")))
      .withColumn("pixel_ok", coalesce(
        when(col("fmt").isin("jpeg", "jpg"), col("psnr") >= 40.0)
          .otherwise(col("bytes_a") === col("bytes_b")), lit(false)))
      .withColumn("caption_ok", col("caption_a") <=> col("caption_b"))
      .select(col("image_id"), col("psnr"), col("pixel_ok"), col("caption_ok"))
  }

  /** Rows that FAIL the fidelity gate. */
  def fidelityProblems(a: DataFrame, b: DataFrame): DataFrame =
    fidelityFlags(a, b).where(!col("pixel_ok") || !col("caption_ok"))
}
