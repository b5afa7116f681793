package graft.ops

import graft.core.FieldOps
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import java.util.Locale

/** `list` projection (reference src/app/list.rs:28-43): per record emit the
  * chosen header fields plus the pseudo-columns `:position` and `:file`;
  * a missing field projects as the empty string (list.rs:38-41).
  *
  * Spark-side this is a single `select` over the fields array — column
  * pruning keeps the scan away from the `bytes` column entirely (the
  * reference's "Block event ignored" fast path, list.rs:44-47, is free
  * here via Parquet column pruning).
  */
object ListOp {

  /** Reference default field set (src/app/arg.rs:129). */
  val DefaultFields: Seq[String] =
    Seq(":position", "WARC-Record-ID", "WARC-Type", "Content-Type", "WARC-Target-URI")

  def projectField(name: String): Column = name match {
    case ":position" => col("position")
    case ":file"     => col("file")
    case other       => FieldOps.fieldGetOrEmpty(col("fields"), other)
  }

  /** Project `names` from a records DataFrame(position, file, fields, ...).
    * Output column names: pseudo-cols lose the ':', header names are
    * lowercased with '-' → '_' (parquet/SQL-safe).
    */
  def list(records: DataFrame, names: Seq[String] = DefaultFields): DataFrame =
    records.select(names.map(n =>
      projectField(n).as(n.stripPrefix(":").toLowerCase(Locale.ROOT).replace("-", "_"))): _*)
}
