package graft.ops

import graft.core.Field
import graft.core.FieldOps._
import graft.functions.GraftFunctions.kernel
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, BooleanType, LongType, StringType, StructField,
  StructType}
import org.apache.spark.unsafe.types.UTF8String

import java.util.Locale
import java.util.regex.Pattern

/** The verify rule engine (reference src/verify.rs): per-record checks run
  * as ONE kernel over the header multimap (see the note on the rule
  * engine below for why not per-check Columns);
  * cross-record checks are the two joins the reference hides in redb
  * cursor batches: reference integrity as one window over target ids
  * (J1, verify.rs:230-264) and segment reassembly aggregation (J2,
  * verify.rs:266-319). Neither caches anything.
  *
  * Problem kinds mirror verify.rs:77-110 (snake_cased).
  */
object VerifyOp {

  val KnownTypes: Seq[String] = Seq(
    "warcinfo", "response", "resource", "request", "metadata",
    "revisit", "conversion", "continuation")

  // ---- scalar rule engine ----------------------------------------------
  // One kernel call per row, in plain JVM code over the header array. The
  // all-Catalyst formulation (every check as a Column over higher-order
  // field lookups) measured ~175µs/row: HOF lambdas are CodegenFallback
  // (interpreted) and CollapseProject re-inlines each lookup per consumer
  // (62 element_at(filter(...)) subtrees in the final plan). One kernel
  // (a static call from the generated code, `GraftFunctions.kernel`)
  // keeps the identical rule semantics (oracle-checked in q31) at JVM
  // speed, and the whole plan (scan -> project -> explode) stays in
  // whole-stage codegen.

  private val DatePattern = Pattern.compile(
    "^\\d{4}-\\d{2}-\\d{2}T\\d{2}:\\d{2}:\\d{2}(\\.\\d{1,9})?(Z|[+-]\\d{2}:\\d{2})$")
  private val DigitsPattern = Pattern.compile("^[0-9]+$")
  private val MediaTypePattern = Pattern.compile(
    "^[!#$%&'*+.^_`|~0-9A-Za-z-]+/[!#$%&'*+.^_`|~0-9A-Za-z-]+(\\s*;.*)?$")
  // IP validity delegates to FieldOps.isValidIp — ONE grammar for the
  // verify rule and the typed getter (the old local v6 stand-in
  // accepted ':::::' and rejected valid IPv4-mapped addresses)
  private val UriPattern = Pattern.compile("^[A-Za-z][A-Za-z0-9+.-]*:\\S*$")

  private def dateParses(s: String): Boolean =
    DatePattern.matcher(s).matches() && (try {
      java.time.OffsetDateTime.parse(s); true
    } catch { case _: java.time.format.DateTimeParseException => false })

  /** The reference's per-record check set (verify.rs:358-412 dispatch over
    * Check::all(), verify.rs:52-75) over a `Seq[Field]` header; see
    * [[checkHeader]].
    */
  def checkFields(fields: Seq[Field]): Seq[(String, String)] =
    checkHeader(new GenericArrayData(fields.map(f =>
      if (f == null) null
      else InternalRow(UTF8String.fromString(f.name), UTF8String.fromString(f.value))
    ).toArray[Any]))

  /** The per-record rules as a pure function over the header array,
    * names looked up as every `FieldOps` lookup does them: first match of
    * `lower(name) = lower(target)`, a null entry or name never matches.
    * Returns (kind, detail) problems.
    */
  private def checkHeader(fields: ArrayData): Seq[(String, String)] = {
    def get(n: String): Option[String] = Option(firstValue(fields, target(n))).map(_.toString)
    def has(n: String): Boolean = hasName(fields, target(n))

    val recTypeOpt = get("WARC-Type").map(_.toLowerCase(Locale.ROOT))
    val recType = recTypeOpt.getOrElse("")
    def isType(ts: String*): Boolean = ts.contains(recType)
    val clen = get("Content-Length")
    val date = get("WARC-Date")
    val ctype = get("Content-Type")
    val uri = get("WARC-Target-URI")
    val ip = get("WARC-IP-Address")
    val truncated = get("WARC-Truncated")
    val filename = get("WARC-Filename")
    val segNum = get("WARC-Segment-Number")
    val segOrigin = get("WARC-Segment-Origin-ID")
    val segTotal = get("WARC-Segment-Total-Length")

    val out = Seq.newBuilder[(String, String)]
    // MandatoryFields (verify.rs:414-437)
    if (!has("WARC-Record-ID")) out += (("missing_mandatory_field", "WARC-Record-ID"))
    if (clen.isEmpty) out += (("missing_mandatory_field", "Content-Length"))
    if (date.isEmpty) out += (("missing_mandatory_field", "WARC-Date"))
    if (recTypeOpt.isEmpty) out += (("missing_mandatory_field", "WARC-Type"))
    if (recTypeOpt.isDefined && !KnownTypes.contains(recType))
      out += (("unknown_record_type", recType))
    clen.foreach(v =>
      if (!DigitsPattern.matcher(v).matches()) out += (("invalid_content_length", v)))
    date.foreach(v => if (!dateParses(v)) out += (("invalid_date", v)))
    // ContentType: media-type must parse (verify.rs:439-445)
    ctype.foreach(v =>
      if (!MediaTypePattern.matcher(v).matches()) out += (("invalid_content_type", v)))
    // ConcurrentTo prohibited on warcinfo/conversion/continuation (447-468)
    if (has("WARC-Concurrent-To") && isType("warcinfo", "conversion", "continuation"))
      out += (("prohibited_field", "WARC-Concurrent-To"))
    // IpAddress prohibited + must parse (470-480)
    ip.foreach { v =>
      if (isType("warcinfo", "conversion", "continuation"))
        out += (("prohibited_field", "WARC-IP-Address"))
      if (!graft.core.FieldOps.isValidIp(v))
        out += (("invalid_ip_address", v))
    }
    // RefersTo prohibited on 5 types (482-508)
    if (has("WARC-Refers-To") &&
      isType("warcinfo", "response", "resource", "request", "continuation"))
      out += (("prohibited_field", "WARC-Refers-To"))
    // TargetUri: prohibited on warcinfo; required on 6 types; <> = bad spec (552-581)
    uri match {
      case Some(v) =>
        if (isType("warcinfo")) out += (("prohibited_field", "WARC-Target-URI"))
        if (v.startsWith("<") && v.endsWith(">")) out += (("bad_spec_uri", v))
        else if (!v.startsWith("<") && !UriPattern.matcher(v).matches())
          out += (("invalid_uri", v))
      case None =>
        if (isType("response", "resource", "request", "revisit",
          "conversion", "continuation")) out += (("missing_target_uri", recType))
    }
    // RefersToTargetUri / RefersToDate only on revisit (510-550)
    if (!isType("revisit")) {
      if (has("WARC-Refers-To-Target-URI"))
        out += (("prohibited_field", "WARC-Refers-To-Target-URI"))
      if (has("WARC-Refers-To-Date"))
        out += (("prohibited_field", "WARC-Refers-To-Date"))
    } else {
      get("WARC-Refers-To-Target-URI").foreach(v =>
        if (!UriPattern.matcher(v).matches()) out += (("invalid_uri", v)))
      get("WARC-Refers-To-Date").foreach(v =>
        if (!dateParses(v)) out += (("invalid_date", v)))
    }
    // Profile: required on revisit; <>-wrapped = bad spec (620-629)
    get("WARC-Profile") match {
      case Some(v) =>
        if (v.startsWith("<") && v.endsWith(">")) out += (("bad_spec_profile", v))
      case None =>
        if (isType("revisit")) out += (("missing_profile", recType))
    }
    // Truncated reason whitelist (583-591)
    truncated.foreach(v =>
      if (!Seq("length", "time", "disconnect", "unspecified").contains(v.toLowerCase(Locale.ROOT)))
        out += (("invalid_truncated_reason", v)))
    // Filename only on warcinfo (612-618)
    if (filename.isDefined && !isType("warcinfo"))
      out += (("prohibited_field", "WARC-Filename"))
    // Segment: continuation requires all three; others prohibit (631-726)
    if (isType("continuation")) {
      if (segNum.isEmpty) out += (("missing_segment_number", recType))
      if (segOrigin.isEmpty) out += (("missing_segment_origin", recType))
    } else {
      if (segNum.exists(_ != "1")) out += (("prohibited_field", "WARC-Segment-Number"))
      if (segTotal.isDefined) out += (("prohibited_field", "WARC-Segment-Total-Length"))
    }
    out.result()
  }

  private def pairsType(a: String, b: String) = ArrayType(StructType(Seq(
    StructField(a, StringType), StructField(b, StringType))))

  private val CheckedType = StructType(Seq(StructField("record_id", StringType),
    StructField("problems", pairsType("kind", "detail"))))

  private def utf8Pairs(pairs: Seq[(String, String)]): ArrayData =
    new GenericArrayData(pairs.map { case (a, b) =>
      InternalRow(UTF8String.fromString(a), UTF8String.fromString(b))
    }.toArray[Any])

  /** Kernel of [[problems]]: record_id and [[checkHeader]]'s problems
    * in one call per row. A separate `fieldGet(record_id)` Column would
    * re-inline the caller's whole `fields` construction a second time per
    * row, so the id lookup rides along.
    */
  def checkRecord(fields: ArrayData): InternalRow = {
    val rid = firstValue(fields, target("WARC-Record-ID"))
    InternalRow(if (rid == null) UTF8String.EMPTY_UTF8 else rid, // like coalesce(id, "")
      utf8Pairs(checkHeader(fields)))
  }

  /** Explode to a Problem dataset (position, record_id, kind, detail).
    * The kernel is pinned to one evaluation per row (it is in fact pure —
    * guide §4.4's pin-one-evaluation marking): InferFiltersFromGenerate
    * otherwise derives a `size(rp.problems)>0 AND isnotnull(...)` filter,
    * pushes it below the projection, and the whole rule engine runs
    * THREE times per row — measured as the dominant cost of the
    * records-verified/sec headline.
    */
  def problems(records: DataFrame): DataFrame =
    records
      .select(col("position"),
        kernel(VerifyOp, CheckedType, "checkRecord", Seq(col("fields")), pinned = true).as("rp"))
      .select(col("position"), col("rp.record_id").as("record_id"),
        explode(col("rp.problems")).as("p"))
      .select(col("position"), col("record_id"),
        col("p.kind").as("kind"), col("p.detail").as("detail"))

  private val IdRefsType = StructType(Seq(StructField("record_id", StringType),
    StructField("refs", pairsType("via", "target_id"))))

  /** Kernel of [[missingReferences]]: the record's id, and its
    * references as (via, target) pairs in `refFields` order, insertion
    * order within a field (like fieldGetAll), led by (null, id) when the
    * record has an id.
    */
  def idRefs(fields: ArrayData, refFields: ArrayData): InternalRow = {
    val rid = firstValue(fields, target("WARC-Record-ID"))
    val pairs = Array.newBuilder[Any]
    if (rid != null) pairs += InternalRow(null, rid)
    for (i <- 0 until refFields.numElements()) {
      val via = refFields.getUTF8String(i)
      val ids = allValues(fields, target(via.toString))
      for (j <- 0 until ids.numElements()) pairs += InternalRow(via, ids.getUTF8String(j))
    }
    InternalRow(rid, new GenericArrayData(pairs.result()))
  }

  /** J1 — reference integrity (verify.rs:230-264): every
    * (record → target id) reference whose target is not a known record id
    * is a `referenced_record_missing` problem. `refFields` lists the
    * reference-carrying headers (Concurrent-To / Refers-To / Warcinfo-ID).
    */
  def missingReferences(records: DataFrame,
                        refFields: Seq[String] = Seq(
                          "WARC-Concurrent-To", "WARC-Refers-To", "WARC-Warcinfo-ID")): DataFrame = {
    // ONE fields traversal per row for the id AND every reference field.
    // The union-of-three-scans form evaluated four interpreted HOF
    // lookups, each re-inlining the caller's fields construction — 4
    // full scans of the record set for one anti-join probe side.
    //
    // Each row emits its references as (via, target) pairs and its own
    // id as one more pair with a null `via`, so one scan of `records`
    // feeds one window over target_id: a reference is missing when its
    // target has no id row. A null target has no id row either, so it
    // is reported, as a left-anti join on target_id reports it.
    // The kernel is pinned to one evaluation per row (see [[problems]]).
    val pairs = records
      .select(col("position"), kernel(VerifyOp, IdRefsType, "idRefs",
        Seq(col("fields"), typedLit(refFields)), pinned = true).as("ir"))
      .select(col("position"), col("ir.record_id").as("record_id"),
        explode(col("ir.refs")).as("r"))
      .select(col("position"), col("record_id"),
        col("r.target_id").as("target_id"), col("r.via").as("via"))
    pairs
      .withColumn("has_id", max(col("via").isNull).over(Window.partitionBy("target_id")))
      .where(col("via").isNotNull && !col("has_id"))
      .select(col("position"), col("record_id"),
        lit("referenced_record_missing").as("kind"),
        concat(col("via"), lit(" -> "), col("target_id")).as("detail"))
  }

  private val SegmentType = StructType(Seq(StructField("origin_id", StringType),
    StructField("n", LongType), StructField("len", LongType),
    StructField("total_len", LongType)))

  private val One = UTF8String.fromString("1")

  private def u64OrNull(v: UTF8String): java.lang.Long =
    if (v == null) null else u64Strict(v)

  /** Kernel of [[segmentProblems]], each header looked up once: the
    * chain's origin id (the record's own id on segment 1 without an
    * origin), and the strict-u64 segment number, Content-Length and
    * declared total length.
    */
  def segmentFields(fields: ArrayData): InternalRow = {
    val number = firstValue(fields, target("WARC-Segment-Number"))
    val origin = firstValue(fields, target("WARC-Segment-Origin-ID")) match {
      case null if One == number => firstValue(fields, target("WARC-Record-ID"))
      case o => o
    }
    InternalRow(origin, u64OrNull(number),
      u64OrNull(firstValue(fields, target("Content-Length"))),
      u64OrNull(firstValue(fields, target("WARC-Segment-Total-Length"))))
  }

  /** J2 — segment reassembly check (verify.rs:266-319): group continuation
    * chains by origin id; numbers must be contiguous 1..n
    * (`missing_segment`) and sum(len) must equal the declared total on the
    * last segment (`mismatched_segment_length`).
    */
  def segmentProblems(records: DataFrame): DataFrame = {
    // pinned (see [[problems]]): otherwise the filter below is pushed
    // under the projection with copies of the origin_id and n lookups,
    // and each header is looked up twice per row
    val segs = records
      .select(kernel(VerifyOp, SegmentType, "segmentFields", Seq(col("fields")),
        pinned = true).as("s"))
      .select("s.*")
      .where(col("origin_id").isNotNull && col("n").isNotNull)
    // one row per chain, then both optional problems from that row
    def problem(kind: String, detail: Column) =
      struct(lit(kind).as("kind"), detail.as("detail"))
    segs.groupBy("origin_id").agg(
      count(lit(1)).as("n_segs"),
      max("n").as("max_n"),
      sum("len").as("sum_len"),
      max("total_len").as("total_len"))
      .select(col("origin_id"), explode(array(
        when(col("max_n") =!= col("n_segs"), problem("missing_segment",
          concat(lit("have "), col("n_segs"), lit(" of "), col("max_n")))),
        when(col("total_len").isNotNull && col("sum_len") =!= col("total_len"),
          problem("mismatched_segment_length",
            concat(col("sum_len"), lit(" != "), col("total_len")))))).as("p"))
      .where(col("p").isNotNull)
      .select(col("origin_id"), col("p.kind").as("kind"), col("p.detail").as("detail"))
  }

  /** BlockDigest check (reference verify.rs:747-785): the declared
    * `WARC-Block-Digest` against the record's block. Null when no digest
    * is declared (check not applicable), false on an unparseable digest
    * text (UnknownDigest) or a mismatch. A kernel, like
    * [[payloadDigestOkUdf]].
    */
  def blockDigestOk(declared: Column, bytes: Column): Column =
    kernel(VerifyOp, BooleanType, "blockDigestOk", Seq(declared, bytes))

  def blockDigestOk(declared: UTF8String, bytes: Array[Byte]): Boolean =
    graft.core.Digests.parseDigest(declared.toString).exists { case (algo, want) =>
      graft.core.Digests.compute(algo, bytes).exists(_.sameElements(want))
    }

  /** PayloadDigest check (reference verify.rs:747-785 + block_data
    * payload hashing): decode the record's PAYLOAD — the HTTP body for
    * `application/http` records, the block itself otherwise — and
    * compare it against the declared `WARC-Payload-Digest`. Returns
    * null when no digest is declared (check not applicable) or any
    * argument is null, false on an unparseable digest text (the
    * reference's UnknownDigest problem) or a mismatch. A kernel like
    * the rule engine; the name is the one its callers have always used.
    */
  def payloadDigestOkUdf(declared: Column, bytes: Column, isHttp: Column): Column =
    kernel(VerifyOp, BooleanType, "payloadDigestOk", Seq(declared, bytes, isHttp))

  def payloadDigestOk(declared: UTF8String, bytes: Array[Byte],
                      isHttp: Boolean): Boolean =
    graft.core.Digests.parseDigest(declared.toString) match {
      case None => false // UnknownDigest
      case Some((algo, want)) =>
        val payload =
          if (isHttp) {
            val p = graft.ops.HttpOps.parseResponse(bytes)
            if (p.ok) p.body else null
          } else bytes
        payload != null &&
          graft.core.Digests.compute(algo, payload).exists(_.sameElements(want))
    }
}
