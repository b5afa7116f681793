package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** export/import — record ⇄ message-stream conversion
  * (reference src/app/export.rs:107-206 and src/app/import.rs:122-222;
  * flow contract doc/export_import.md:163-178).
  *
  * Export explodes each record into `Header` + `BlockChunk*` + `BlockEnd`
  * message rows (chunked at [[ChunkSize]]); `BlockEnd` carries the block
  * checksums — the reference's exact crc32/crc32c/xxh3 triple
  * (src/app/model.rs:37-41; xxh3 via [[graft.functions.GraftFunctions.xxh3]]).
  *
  * Import reassembles: chunks grouped per record, ordered by chunk index,
  * concatenated, and the recomputed checksum must equal the declared one
  * (the import.rs:190-222 mismatch bail-out becomes a boolean column).
  *
  * Scale: export is a narrow generate (posexplode) — no shuffle; import is
  * one groupBy(record key) whose ordered reassembly uses array_sort over
  * collected (idx, chunk) structs — hash-partitioned, spill-safe.
  */
object ExportImportOp {

  val ChunkSize = 64

  /** Explode (id, payload) rows into chunk messages:
    * (id, chunk_idx, chunk). Always at least one chunk (empty payload →
    * one empty chunk), mirroring the reference's empty-chunk end sentinel
    * (src/app/common.rs:171).
    */
  def exportChunks(df: DataFrame, idCol: String, payloadCol: String): DataFrame = {
    val n = greatest(ceil(length(col(payloadCol)) / lit(ChunkSize.toDouble)).cast("int"), lit(1))
    df.select(col(idCol).as("id"), col(payloadCol).as("payload"), n.as("n_chunks"))
      .select(col("id"),
        posexplode(transform(sequence(lit(0), col("n_chunks") - 1), i =>
          col("payload").substr(i * ChunkSize + 1, lit(ChunkSize)))))
      .select(col("id"), col("pos").cast("long").as("chunk_idx"), col("col").as("chunk"))
  }

  /** BlockEnd rows: per-id checksums of the whole payload — the
    * reference's exact crc32/crc32c/xxh3 triple (src/app/model.rs:37-41),
    * crc32c and xxh3 as graft kernels so the export stays in whole-stage
    * codegen.
    */
  def exportBlockEnd(df: DataFrame, idCol: String, payloadCol: String): DataFrame = {
    df.select(col(idCol).as("id"),
      crc32(col(payloadCol).cast("binary")).as("crc32"),
      graft.functions.GraftFunctions.crc32c(col(payloadCol).cast("binary")).as("crc32c"),
      graft.functions.GraftFunctions.xxh3(col(payloadCol).cast("binary")).as("xxh3"),
      md5(col(payloadCol).cast("binary")).as("payload_md5"))
  }

  /** Reassemble chunk messages back into whole payloads (ordered concat). */
  def importReassemble(chunks: DataFrame): DataFrame =
    chunks.groupBy("id")
      .agg(array_join(
        transform(array_sort(collect_list(struct(col("chunk_idx"), col("chunk")))),
          s => s.getField("chunk")), "").as("payload"))

  /** Full round-trip with checksum handshake: explode, reassemble, compare
    * against the original (id, ok, payload_md5). `ok` is the
    * import-side checksum equality (import.rs:190-222).
    */
  def roundTrip(df: DataFrame, idCol: String, payloadCol: String): DataFrame = {
    val declared = exportBlockEnd(df, idCol, payloadCol)
    val rebuilt = importReassemble(exportChunks(df, idCol, payloadCol))
    rebuilt.join(declared, Seq("id"))
      .select(col("id"),
        (md5(col("payload").cast("binary")) === col("payload_md5")).as("ok"),
        col("payload_md5"))
  }
}
