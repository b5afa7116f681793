package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** `extract` — payload extraction with decoder routing
  * (reference src/extract.rs + src/app/extract.rs).
  *
  * Eligibility / routing (extract.rs:66-113): segmented records rejected;
  * `response` with Content-Type application/http (msgtype=response or
  * absent) and a target URI → HTTP decoder; `resource`/`conversion` with
  * a URI → identity. Everything else is skipped.
  *
  * The routing rule is one scalar UDF over the header array
  * (`decoder_kind` plus the headers `extract` consumes); the HTTP body
  * decode is a second UDF (whole payload in one cell — SURVEY.md §2.9).
  */
object ExtractOp {

  /** decoder_kind: 'http' | 'identity' | 'none' (extract.rs:66-113).
    * HTTP routing requires Content-Type application/http WITH parameter
    * msgtype=response — absent or different msgtype is NOT an HTTP
    * response (extract.rs:78-85: unwrap_or_default() == "response").
    */
  def decoderKind(fields: Column): Column = routeUdf(fields).getField("_1")

  private val parseHttpUdf = udf { (payload: Array[Byte]) =>
    if (payload == null) null
    else {
      val p = HttpOps.parseResponse(payload)
      (p.ok, p.status, p.body, p.error)
    }
  }

  /** Public column form: parse an HTTP/1.1 response payload cell →
    * struct(ok, status, body, error) — the H1–H3 pipeline of SURVEY.md §2.9.
    */
  def parseHttp(payload: Column): Column = {
    val p = parseHttpUdf(payload)
    struct(p.getField("_1").as("ok"), p.getField("_2").as("status"),
      p.getField("_3").as("body"), p.getField("_4").as("error"))
  }

  private val pathComponentsUdf = udf { (url: String) =>
    if (url == null) null else UrlPath.urlToPathComponents(url)
  }

  /** Public column form of F8: URL → escaped path components. */
  def pathComponents(url: Column): Column = pathComponentsUdf(url)

  /** Path components with the conversion marker applied: conversion
    * records extract next to the original under `name⬧conversion`
    * (reference extract.rs:104-107).
    */
  private val pathComponentsMarkedUdf = udf { (url: String, isConversion: Boolean) =>
    if (url == null) null
    else {
      val pc = UrlPath.urlToPathComponents(url)
      if (isConversion && pc.nonEmpty) pc.init :+ UrlPath.markConversion(pc.last)
      else pc
    }
  }

  private val MediaTypeRe = ("^([!#$%&'*+.^_`|~0-9A-Za-z-]+)/([!#$%&'*+.^_`|~0-9A-Za-z-]+)" +
    "((\\s*;\\s*[!#$%&'*+.^_`|~0-9A-Za-z-]+=[!#$%&'*+.^_`|~0-9A-Za-z-]+)*)$").r

  /** The routing decision + every header `extract` consumes, in ONE
    * array traversal per row: (decoder_kind, WARC-Target-URI,
    * is-conversion, has WARC-Truncated). The one routing rule —
    * [[decoderKind]] is its first field. A Column formulation (a `when`
    * chain over fieldGet/fieldContains lookups) planned as ~15
    * interpreted higher-order-function subtrees per row after filter
    * pushdown — CollapseProject/PushDownPredicates re-inline the `fields`
    * construction into EVERY lookup, and HOF lambdas are CodegenFallback
    * — measured as the dominant cost of the crawl→table bridge (q59:
    * ~1.4 ms/row of a 43 KB inlined filter condition). Same rule-engine-
    * as-one-UDF treatment as [[VerifyOp.checkFields]]: first
    * case-insensitive header match; the media-type grammar and the
    * case-sensitive msgtype compare mirror
    * [[graft.core.FieldOps.mediaType]]; oracle-gated end to end (q33,
    * q59, q64).
    */
  private val routeUdf = udf { (fields: Seq[org.apache.spark.sql.Row]) =>
    def get(n: String): Option[String] =
      fields.find(r => r.getString(0).equalsIgnoreCase(n)).map(_.getString(1))
    def has(n: String): Boolean =
      fields.exists(r => r.getString(0).equalsIgnoreCase(n))
    val recType = get("WARC-Type").map(_.toLowerCase).getOrElse("")
    val uri = get("WARC-Target-URI")
    val isHttpResponse = get("Content-Type").exists {
      case MediaTypeRe(t, s, params, _) =>
        t.equalsIgnoreCase("application") && s.equalsIgnoreCase("http") && {
          // first occurrence wins, case-sensitive compare — the
          // str_to_map + try_element_at semantics of FieldOps.mediaTypeParam
          val msgtype = params.split(";").iterator.map(_.trim).filter(_.nonEmpty)
            .map { kv => val i = kv.indexOf('='); (kv.substring(0, i), kv.substring(i + 1)) }
            .collectFirst { case ("msgtype", v) => v }
          msgtype.contains("response")
        }
      case _ => false
    }
    val kind =
      if (has("WARC-Segment-Number")) "none"
      else if (recType == "response" && uri.isDefined && isHttpResponse) "http"
      else if ((recType == "resource" || recType == "conversion") && uri.isDefined) "identity"
      else "none"
    (kind, uri.orNull, recType == "conversion", has("WARC-Truncated"))
  }

  /** Extract eligible records: adds decoder_kind, extracted bytes,
    * path_components, http status/ok, and the xxh3 conflict id
    * (app/extract.rs:104-167 — bit-matching the reference's conflict
    * naming via the from-spec [[graft.functions.Xxh3_64]]).
    */
  def extract(records: DataFrame): DataFrame = {
    graft.functions.GraftFunctions.register(records.sparkSession)
    val routed = records.withColumn("__route", routeUdf(col("fields")))
      .where(col("__route._1") =!= "none")
      .withColumn("decoder_kind", col("__route._1"))
    routed
      .withColumn("http", when(col("decoder_kind") === "http", parseHttpUdf(col("bytes"))))
      .withColumn("extracted",
        when(col("decoder_kind") === "http", col("http._3")).otherwise(col("bytes")))
      .withColumn("http_ok", col("http._1"))
      .withColumn("http_status", col("http._2"))
      .withColumn("decode_error", col("http._4"))
      .withColumn("path_components",
        pathComponentsMarkedUdf(col("__route._2"), col("__route._3")))
      .withColumn("is_truncated", col("__route._4"))
      .withColumn("conflict_id",
        graft.functions.GraftFunctions.xxh3(col("extracted").cast("binary")))
      .drop("http").drop("__route")
  }

  /** S8 filesystem sink: write the extracted table as a REAL file tree
    * under `dir`, applying the reference's conflict resolution
    * (app/extract.rs:186-221 via [[UrlPath.resolveTargetPath]]) against
    * the live tree through the Hadoop FileSystem API.
    *
    * Distribution contract: rows are repartitioned by their FIRST path
    * component (the host directory), so each host subtree is written by
    * exactly one task in (position) order — conflict markers are then
    * deterministic and race-free, matching the reference's sequential
    * semantics per subtree while hosts write in parallel. Returns the
    * lineage table (resolved_path, n_bytes).
    */
  def writeTree(extracted: DataFrame, dir: String): DataFrame = {
    val spark = extracted.sparkSession
    import spark.implicits._
    val rows = extracted
      .select(col("position"), col("path_components"), col("extracted"),
        col("is_truncated"), col("conflict_id"))
      .where(col("path_components").isNotNull && size(col("path_components")) > 0)
      // [scheme, host] prefix = the disjoint subtree root (the first
      // component alone is just the scheme — 2 values, no parallelism)
      .repartition(slice(col("path_components"), 1, 2))
      .sortWithinPartitions(col("position"))
      .as[(Long, Seq[String], Array[Byte], Boolean, Long)]
    rows.mapPartitions { it =>
      val base = new org.apache.hadoop.fs.Path(dir)
      val scheme = base.toUri.getScheme
      // Local trees write through java.io, skipping the per-file
      // pathologies of the stock LocalFileSystem (thread-dumped on a
      // 150k-file write, which took minutes):
      //  - every create() FORKS A chmod SHELL (RawLocalFileSystem
      //    .setPermission falls back to Shell.execCommand when the
      //    libhadoop native lib is absent);
      //  - the checksummed wrapper writes a .crc sidecar per file,
      //    doubling creates (payload integrity is the digest columns'
      //    job, not the sink's);
      //  - RawLocalFileSystem.create() stats the parent and re-runs
      //    mkdirs on EVERY create and wraps the stream in
      //    FSDataOutputStream bookkeeping — measured ~3x the cost of the
      //    three raw syscalls (open, write, close) the write needs.
      // Non-local schemes keep the stock FileSystem — the sink stays
      // HDFS/S3-swappable.
      val isRawLocal = scheme == null || scheme == "file"
      val localBase: java.io.File =
        if (isRawLocal) new java.io.File(base.toUri.getPath) else null
      val fs: org.apache.hadoop.fs.FileSystem =
        if (isRawLocal) null else base.getFileSystem(graft.sources.WarcSplit.executorConf)
      // per-directory: did it exist BEFORE this task touched it? Only a
      // pre-existing directory can hold stale .crc sidecars from an
      // earlier checksummed write — fresh directories skip the per-file
      // unlink attempt entirely (150k wasted metadata ops measured as
      // ~2x the whole sink's cost on a fresh tree)
      val dirPreExisted = scala.collection.mutable.HashMap.empty[String, Boolean]
      def toPath(cs: Seq[String]) =
        cs.foldLeft(base)((p, c) => new org.apache.hadoop.fs.Path(p, c))
      // conflict resolution against an IN-MEMORY tree built from the
      // row set in position order, NOT the live filesystem: a task
      // retry / speculative copy / second action replays the identical
      // resolution, and fs.create(overwrite=true) makes the replay
      // idempotent (live-FS predicates made every retry mint fresh
      // ⬧-marked duplicates)
      val files = scala.collection.mutable.HashSet.empty[Seq[String]]
      val dirs = scala.collection.mutable.HashSet.empty[Seq[String]]
      it.map { case (_, components, bytes, truncated, conflictId) =>
        val resolved = UrlPath.resolveTargetPath(components, truncated, conflictId,
          pathExists = cs => files.contains(cs) || dirs.contains(cs),
          pathIsFile = files.contains)
        files += resolved
        resolved.inits.drop(1).takeWhile(_.nonEmpty).foreach(dirs += _)
        if (isRawLocal) {
          val target = resolved.foldLeft(localBase)(new java.io.File(_, _))
          // one exists+mkdirs per DIRECTORY, not per row (a stat per row
          // on a large tree was the other half of the slow sink)
          val parent = target.getParentFile
          val preExisted = dirPreExisted.getOrElseUpdate(parent.getPath, {
            val existed = parent.isDirectory
            if (!existed) parent.mkdirs()
            existed
          })
          // overwriting a tree previously written through the CHECKSUMMED
          // LocalFileSystem would leave its .crc sidecar stale (a later
          // checksummed read then fails with ChecksumException) — drop any
          // sibling sidecar; one unlink attempt per file, only in
          // directories that pre-existed (fresh ones cannot hold sidecars)
          if (preExisted)
            new java.io.File(parent, "." + target.getName + ".crc").delete()
          val out = new java.io.FileOutputStream(target) // truncates = overwrite
          try out.write(bytes) finally out.close()
        } else {
          val target = toPath(resolved)
          val parent = target.getParent
          dirPreExisted.getOrElseUpdate(parent.toString, {
            val existed = fs.exists(parent)
            if (!existed) fs.mkdirs(parent)
            existed
          })
          val out = fs.create(target, true)
          try out.write(bytes) finally out.close()
        }
        (resolved.mkString("/"), bytes.length.toLong)
      }
    }.toDF("resolved_path", "n_bytes")
  }
}
