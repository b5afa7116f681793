package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** F15 — the reference's externally-tagged JSON message interchange
  * (variant set /root/reference/src/app/model.rs:5-15; flow contract
  * doc/export_import.md:163-178) plus RFC 7464 JSON-text-sequence framing
  * (dataseq.rs:21-104: each message is RS (0x1E) + json + LF).
  *
  * Faithful shapes: messages are externally tagged ({"Header": {...}});
  * header fields serialize as [[name, value], ...] pairs (serde
  * Vec<(String,String)>); chunk data is base64 (model.rs:31-34); EndOfFile
  * is the empty object. BlockEnd carries the reference's exact crc32 +
  * crc32c + xxh3 checksum triple (digest.rs:195), xxh3 via the from-spec
  * kernel [[graft.functions.GraftFunctions.xxh3]].
  *
  * Scale: export is a narrow generate (no shuffle); framing/unframing is
  * one hash aggregation per record id; parsing is `from_json` — all
  * codegen, no UDFs.
  */
object MessageJson {

  /** `from_json` schema: one nullable field per variant; external tagging
    * means exactly one is non-null per parsed message. EndOfFile's empty
    * object parses as an empty map (non-null ⇒ present).
    */
  val messageSchema: StructType = StructType(Seq(
    StructField("Metadata", StructType(Seq(
      StructField("file", StringType), StructField("position", LongType)))),
    StructField("Header", StructType(Seq(
      StructField("version", StringType),
      StructField("fields", ArrayType(ArrayType(StringType)))))),
    StructField("BlockChunk", StructType(Seq(StructField("data", StringType)))),
    StructField("BlockEnd", StructType(Seq(
      StructField("crc32", LongType), StructField("crc32c", LongType),
      StructField("xxh3", LongType)))),
    StructField("ExtractMetadata", StructType(Seq(
      StructField("has_content", BooleanType),
      StructField("file_path_components", ArrayType(StringType)),
      StructField("is_truncated", BooleanType)))),
    StructField("ExtractChunk", StructType(Seq(StructField("data", StringType)))),
    StructField("ExtractEnd", StructType(Seq(
      StructField("crc32", LongType), StructField("crc32c", LongType),
      StructField("xxh3", LongType)))),
    StructField("EndOfFile", MapType(StringType, StringType))))

  /** Export (id, payload) rows into each record's message run —
    * Metadata, Header, BlockChunk*, BlockEnd — as externally-tagged JSON
    * lines: (id, msg_seq, msg). The per-FILE EndOfFile terminator is
    * appended by [[endOfFile]] at the stream tail (export.rs:208-212).
    */
  def exportJsonMessages(df: DataFrame, idCol: String, payloadCol: String,
                         file: String = "graft.seq"): DataFrame = {
    val base = df.select(col(idCol).as("id"), col(payloadCol).as("payload"))
    val nChunks = greatest(
      ceil(length(col("payload")) / lit(ExportImportOp.ChunkSize.toDouble)).cast("long"),
      lit(1L))
    val meta = base.select(col("id"), lit(0L).as("msg_seq"),
      to_json(struct(struct(
        lit(file).as("file"), col("id").cast("long").as("position")).as("Metadata"))).as("msg"))
    val header = base.select(col("id"), lit(1L).as("msg_seq"),
      to_json(struct(struct(
        lit("WARC/1.1").as("version"),
        array(
          array(lit("WARC-Record-ID"),
            concat(lit("<urn:graft:"), col("id").cast("string"), lit(">"))),
          array(lit("WARC-Type"), lit("resource")),
          // octet_length, not length: Content-Length is a BYTE count and
          // a char count breaks round-trips of non-ASCII payloads — the
          // same fix MessageCbor.scala:87 already carries
          array(lit("Content-Length"), octet_length(col("payload")).cast("string")))
          .as("fields")).as("Header"))).as("msg"))
    val chunks = ExportImportOp.exportChunks(df, idCol, payloadCol)
      .select(col("id"), (col("chunk_idx") + 2L).as("msg_seq"),
        to_json(struct(struct(
          base64(col("chunk").cast("binary")).as("data")).as("BlockChunk"))).as("msg"))
    val blockEnd = base.select(col("id"), (nChunks + 2L).as("msg_seq"),
      to_json(struct(struct(
        crc32(col("payload").cast("binary")).as("crc32"),
        graft.functions.GraftFunctions.crc32c(col("payload").cast("binary")).as("crc32c"),
        graft.functions.GraftFunctions.xxh3(col("payload").cast("binary"))
          .as("xxh3")).as("BlockEnd"))).as("msg"))
    meta.unionByName(header).unionByName(chunks).unionByName(blockEnd)
  }

  /** The stream-tail EndOfFile message (empty object, model.rs:65). */
  val endOfFile: String = """{"EndOfFile":{}}"""

  /** Export an EXTRACTED table ([[ExtractOp.extract]] output) into each
    * record's extract-message run — ExtractMetadata, ExtractChunk*,
    * ExtractEnd — the reference's `get extract` / extract flow
    * (app/model.rs:10-13): (id, msg_seq, msg). Chunking runs on the raw
    * BYTES (binary substr), base64 in the chunk JSON.
    */
  def exportExtractMessages(extracted: DataFrame): DataFrame = {
    val base = extracted.select(col("position").as("id"),
      col("extracted").as("payload"), col("path_components"), col("is_truncated"))
    val nChunks = greatest(
      ceil(length(col("payload")) / lit(ExportImportOp.ChunkSize.toDouble)).cast("long"),
      lit(1L))
    val meta = base.select(col("id"), lit(0L).as("msg_seq"),
      to_json(struct(struct(
        (col("payload").isNotNull && length(col("payload")) > 0).as("has_content"),
        col("path_components").as("file_path_components"),
        col("is_truncated")).as("ExtractMetadata"))).as("msg"))
    val chunks = ExportImportOp.exportChunks(base, "id", "payload")
      .select(col("id"), (col("chunk_idx") + 1L).as("msg_seq"),
        to_json(struct(struct(
          base64(col("chunk").cast("binary")).as("data")).as("ExtractChunk"))).as("msg"))
    val end = base.select(col("id"), (nChunks + 1L).as("msg_seq"),
      to_json(struct(struct(
        crc32(col("payload").cast("binary")).as("crc32"),
        graft.functions.GraftFunctions.crc32c(col("payload").cast("binary")).as("crc32c"),
        graft.functions.GraftFunctions.xxh3(col("payload").cast("binary"))
          .as("xxh3")).as("ExtractEnd"))).as("msg"))
    meta.unionByName(chunks).unionByName(end)
  }

  /** RFC 7464 framing: one row per id with the record's message run as a
    * JSON-text-sequence (RS json LF, repeated, in msg_seq order).
    */
  def toJsonSeq(messages: DataFrame): DataFrame =
    messages.groupBy("id").agg(
      array_join(
        transform(array_sort(collect_list(struct(col("msg_seq"), col("msg")))),
          s => concat(lit("\u001e"), s.getField("msg"), lit("\n"))), "").as("seq"))

  /** Unframe + parse a JSON-text-sequence: (id, msg_seq, m) where `m` is
    * the [[messageSchema]] struct with exactly one non-null variant.
    */
  def fromJsonSeq(seqDf: DataFrame): DataFrame =
    seqDf.select(col("id"),
        posexplode(filter(split(col("seq"), "\u001e"), s => length(s) > 0)))
      .select(col("id"), col("pos").cast("long").as("msg_seq"),
        from_json(trim(col("col")), messageSchema).as("m"))

  /** Reassemble parsed message runs back into records and validate the
    * handshake (import.rs:122-222 as columns): payload from base64 chunks
    * in order, recomputed crc32/crc32c/xxh3 vs the declared BlockEnd,
    * declared Content-Length vs actual, Metadata/Header lead positions.
    * Returns (id, n_messages, payload, roundtrip_ok).
    */
  def importValidate(parsed: DataFrame): DataFrame = {
    val chunkRow = when(col("m.BlockChunk").isNotNull,
      struct(col("msg_seq"), col("m.BlockChunk.data").as("data")))
    val agg = parsed.groupBy("id").agg(
      count(lit(1)).as("n_messages"),
      min(when(col("m.Metadata").isNotNull, col("msg_seq"))).as("meta_seq"),
      min(when(col("m.Header").isNotNull, col("msg_seq"))).as("header_seq"),
      min(when(col("m.Header").isNotNull,
        try_element_at(filter(col("m.Header.fields"),
          f => try_element_at(f, lit(1)) === "Content-Length"), lit(1))))
        .as("cl_field"),
      min(when(col("m.BlockEnd").isNotNull, col("m.BlockEnd"))).as("be"),
      array_join(transform(array_sort(collect_list(chunkRow)),
        s => unbase64(s.getField("data")).cast("string")), "").as("payload"))
    agg.select(col("id"), col("n_messages"), col("payload"),
      (col("meta_seq") === 0L && col("header_seq") === 1L &&
        // byte count, mirroring the export side (octet_length)
        try_element_at(col("cl_field"), lit(2)) === octet_length(col("payload")).cast("string") &&
        col("be.crc32") === crc32(col("payload").cast("binary")) &&
        col("be.crc32c") === graft.functions.GraftFunctions.crc32c(col("payload").cast("binary")) &&
        col("be.xxh3") === graft.functions.GraftFunctions.xxh3(
          col("payload").cast("binary"))).as("roundtrip_ok"))
  }
}
