package graft.ops

import graft.core.Cbor
import graft.core.Cbor._
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** CBOR variant of the message interchange — the reference offers CBOR as
  * a dataseq format alongside JSON-seq/JSONL/CSV (src/dataseq.rs), with
  * the same externally-tagged message set as the JSON path
  * ([[MessageJson]], src/app/model.rs:5-15). Two CBOR-specific
  * differences, both per RFC:
  *
  *  - chunk data is a genuine CBOR byte string (major type 2), not
  *    base64 text — binary payloads ship at 1× size;
  *  - a CBOR sequence is plain concatenation of self-delimiting items
  *    (RFC 8742) — no RS/LF framing bytes.
  *
  * Serde here is per-row scalar work with no columnar shortcut (each
  * message is a self-contained binary item), so the codec runs in scalar
  * UDFs around the pure [[graft.core.Cbor]] kernel; everything around it
  * (chunking, ordering, reassembly, checksum handshake) stays in codegen
  * columns exactly like the JSON path. One narrow generate per export,
  * one hash aggregation per id for framing and for import — no extra
  * shuffles vs the JSON path at any scale.
  */
object MessageCbor {

  /** One decoded message, flattened across variants (exactly one variant
    * populated; `variant` names it).
    */
  case class DecodedMsg(variant: String, file: String, position: Option[Long],
                        version: String, fields: Seq[Seq[String]],
                        data: Array[Byte], crc32: Option[Long],
                        crc32c: Option[Long], xxh3: Option[Long],
                        has_content: Option[Boolean],
                        file_path_components: Seq[String],
                        is_truncated: Option[Boolean])

  private def tagged(tag: String, body: Vector[(Val, Val)]): Array[Byte] =
    Cbor.encode(CMap(Vector(CText(tag) -> CMap(body))))

  private val encMetadata = udf((file: String, position: Long) =>
    tagged("Metadata", Vector(CText("file") -> CText(file),
      CText("position") -> CInt(position))))

  private val encHeader = udf((version: String, fields: Seq[Seq[String]]) =>
    tagged("Header", Vector(
      CText("version") -> CText(version),
      CText("fields") -> CArr(fields.toVector.map(p =>
        CArr(p.toVector.map(CText)))))))

  private val encBlockChunk = udf((data: Array[Byte]) =>
    tagged("BlockChunk", Vector(CText("data") -> CBytes(data))))

  private val encBlockEnd = udf((c32: Long, c32c: Long, x64: Long) =>
    tagged("BlockEnd", Vector(CText("crc32") -> CInt(c32),
      CText("crc32c") -> CInt(c32c), CText("xxh3") -> CInt(x64))))

  /** The stream-tail EndOfFile item (empty map body). */
  val endOfFile: Array[Byte] = tagged("EndOfFile", Vector.empty)

  /** Export (id, payload) rows into each record's message run —
    * Metadata, Header, BlockChunk*, BlockEnd — as CBOR items:
    * (id, msg_seq, msg: binary). Same run shape as
    * [[MessageJson.exportJsonMessages]].
    */
  def exportCborMessages(df: DataFrame, idCol: String, payloadCol: String,
                         file: String = "graft.seq"): DataFrame = {
    val base = df.select(col(idCol).as("id"), col(payloadCol).as("payload"))
    val nChunks = greatest(
      ceil(length(col("payload")) / lit(ExportImportOp.ChunkSize.toDouble)).cast("long"),
      lit(1L))
    val meta = base.select(col("id"), lit(0L).as("msg_seq"),
      encMetadata(lit(file), col("id").cast("long")).as("msg"))
    val header = base.select(col("id"), lit(1L).as("msg_seq"),
      encHeader(lit("WARC/1.1"),
        array(
          array(lit("WARC-Record-ID"),
            concat(lit("<urn:graft:"), col("id").cast("string"), lit(">"))),
          array(lit("WARC-Type"), lit("resource")),
          // octets, not chars: importValidate compares against
          // length(payload_bin) — the BYTE count of the reassembled
          // binary — and WARC Content-Length is octets; a char count
          // here broke round-trips of non-ASCII payloads
          array(lit("Content-Length"), octet_length(col("payload")).cast("string"))))
        .as("msg"))
    val chunks = ExportImportOp.exportChunks(df, idCol, payloadCol)
      .select(col("id"), (col("chunk_idx") + 2L).as("msg_seq"),
        encBlockChunk(col("chunk").cast("binary")).as("msg"))
    val blockEnd = base.select(col("id"), (nChunks + 2L).as("msg_seq"),
      encBlockEnd(
        crc32(col("payload").cast("binary")),
        graft.functions.GraftFunctions.crc32c(col("payload").cast("binary")),
        graft.functions.GraftFunctions.xxh3(col("payload").cast("binary"))).as("msg"))
    meta.unionByName(header).unionByName(chunks).unionByName(blockEnd)
  }

  private val concatBinaries = udf((parts: Seq[Array[Byte]]) => {
    val total = parts.iterator.map(_.length).sum
    val out = new Array[Byte](total)
    var off = 0
    parts.foreach { p => System.arraycopy(p, 0, out, off, p.length); off += p.length }
    out
  })

  /** RFC 8742 framing: one row per id, the record's message run
    * concatenated in msg_seq order → (id, seq: binary).
    */
  def toCborSeq(messages: DataFrame): DataFrame =
    messages.groupBy("id").agg(
      concatBinaries(
        transform(array_sort(collect_list(struct(col("msg_seq"), col("msg")))),
          s => s.getField("msg"))).as("seq"))

  private val decodeSeqUdf = udf((seq: Array[Byte]) =>
    Cbor.decodeSeq(seq).map { item =>
      val (tag, body) = item match {
        case CMap(Vector((CText(t), b))) => (t, b)
        case other => throw new IllegalArgumentException(s"not externally tagged: $other")
      }
      def text(k: String) = mapGet(body, k).flatMap(asText).orNull
      def long(k: String) = mapGet(body, k).flatMap(asLong)
      DecodedMsg(tag,
        file = text("file"),
        position = long("position"),
        version = text("version"),
        fields = mapGet(body, "fields") match {
          case Some(CArr(fs)) => fs.map {
            case CArr(pair) => pair.flatMap(asText)
            case _ => Seq.empty[String]
          }
          case _ => null
        },
        data = mapGet(body, "data").flatMap(asBytes).orNull,
        crc32 = long("crc32"), crc32c = long("crc32c"), xxh3 = long("xxh3"),
        has_content = mapGet(body, "has_content").collect { case CBool(b) => b },
        file_path_components = mapGet(body, "file_path_components") match {
          case Some(CArr(cs)) => cs.flatMap(asText)
          case _ => null
        },
        is_truncated = mapGet(body, "is_truncated").collect { case CBool(b) => b })
    })

  /** Unframe + decode a CBOR sequence: (id, msg_seq, m) with `m` the
    * flattened [[DecodedMsg]] struct.
    */
  def fromCborSeq(seqDf: DataFrame): DataFrame =
    seqDf.select(col("id"), posexplode(decodeSeqUdf(col("seq"))))
      .select(col("id"), col("pos").cast("long").as("msg_seq"), col("col").as("m"))

  /** Reassemble decoded runs and validate the handshake — the CBOR twin
    * of [[MessageJson.importValidate]]: payload from byte-string chunks
    * in order, recomputed crc32/crc32c/xxh3 vs BlockEnd, declared
    * Content-Length vs actual, Metadata/Header lead positions.
    * Returns (id, n_messages, payload, roundtrip_ok).
    */
  def importValidate(parsed: DataFrame): DataFrame = {
    val chunkRow = when(col("m.variant") === "BlockChunk",
      struct(col("msg_seq"), col("m.data").as("data")))
    val agg = parsed.groupBy("id").agg(
      count(lit(1)).as("n_messages"),
      min(when(col("m.variant") === "Metadata", col("msg_seq"))).as("meta_seq"),
      min(when(col("m.variant") === "Header", col("msg_seq"))).as("header_seq"),
      min(when(col("m.variant") === "Header",
        try_element_at(filter(col("m.fields"),
          f => try_element_at(f, lit(1)) === "Content-Length"), lit(1))))
        .as("cl_field"),
      min(when(col("m.variant") === "BlockEnd",
        struct(col("m.crc32"), col("m.crc32c"), col("m.xxh3")))).as("be"),
      concatBinaries(transform(array_sort(collect_list(chunkRow)),
        s => s.getField("data"))).as("payload_bin"))
    agg.select(col("id"), col("n_messages"),
        col("payload_bin").cast("string").as("payload"),
        (col("meta_seq") === 0L && col("header_seq") === 1L &&
          try_element_at(col("cl_field"), lit(2)) ===
            length(col("payload_bin")).cast("string") &&
          col("be.crc32") === crc32(col("payload_bin")) &&
          col("be.crc32c") === graft.functions.GraftFunctions.crc32c(col("payload_bin")) &&
          col("be.xxh3") === graft.functions.GraftFunctions.xxh3(col("payload_bin")))
          .as("roundtrip_ok"))
  }
}
