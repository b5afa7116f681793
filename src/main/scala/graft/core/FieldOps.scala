package graft.core

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Column-level operations over the ordered, case-insensitive header
  * multimap (`array<struct<name:string, value:string>>`).
  *
  * Semantics follow the reference exactly:
  *   - `get` = FIRST case-insensitive match (src/fields.rs:111-120)
  *   - `getAll` = all matches in insertion order (src/fields.rs:122-134)
  *   - `contains` = case-insensitive existence (src/fields.rs:101-109)
  *   - missing field in a projection → empty string (src/app/list.rs:38-41)
  *
  * Everything here is built from Catalyst higher-order functions
  * (`filter`/`exists`/`transform`) so the whole lookup stays inside
  * whole-stage codegen — no Scala UDF on the hot path.
  */
object FieldOps {

  private def nameMatches(f: Column, name: String): Column =
    lower(f.getField("name")) === lit(name.toLowerCase)

  /** First value for `name`, case-insensitive; null when absent.
    * (`try_element_at`: ANSI-safe on no-match — returns null, never errors.)
    */
  def fieldGet(fields: Column, name: String): Column =
    try_element_at(filter(fields, f => nameMatches(f, name)), lit(1)).getField("value")

  /** First value for `name`, or empty string (list-projection semantics,
    * src/app/list.rs:38-41).
    */
  def fieldGetOrEmpty(fields: Column, name: String): Column =
    coalesce(fieldGet(fields, name), lit(""))

  /** All values for `name`, insertion order preserved. */
  def fieldGetAll(fields: Column, name: String): Column =
    transform(filter(fields, f => nameMatches(f, name)), f => f.getField("value"))

  /** Case-insensitive existence. */
  def fieldContains(fields: Column, name: String): Column =
    exists(fields, f => nameMatches(f, name))

  /** Count of entries for `name` (multimap cardinality). */
  def fieldCount(fields: Column, name: String): Column =
    size(filter(fields, f => nameMatches(f, name)))

  // ---- typed getters (lazily-typed access, reference src/fields.rs:142-150,
  //      src/header/fields.rs:75-125) ----

  /** Strict u64 parse: digits only — rejects `+`, whitespace, hex
    * (src/parse.rs:56-62). Null when invalid/absent.
    */
  def getU64Strict(fields: Column, name: String): Column = {
    val v = fieldGet(fields, name)
    // try_cast, not cast: an all-digit run above Long.MaxValue passes
    // the regex, and under default ANSI mode a plain cast would throw
    // instead of honoring the documented null-when-invalid contract
    when(v.rlike("^[0-9]+$"), v.try_cast("long"))
  }

  /** RFC-3339 date (WARC-Date, src/header/fields.rs:80-86). Null when invalid. */
  def getDate(fields: Column, name: String): Column =
    try_to_timestamp(fieldGet(fields, name), lit("yyyy-MM-dd'T'HH:mm:ss[.SSSSSSSSS]XXX"))

  /** URL with `<...>` angle-bracket stripping (src/header/fields.rs:108-120).
    * Returns struct(bad_spec: boolean, url: string). `bad_spec` is the
    * reference's BadSpecUri condition (verify.rs:560-565): the value was
    * wrapped in angle brackets where a bare URI is required.
    */
  def getUrl(fields: Column, name: String): Column = {
    val v = fieldGet(fields, name)
    val wrapped = v.startsWith("<") && v.endsWith(">")
    val inner = substring_rel(v)
    struct(
      coalesce(wrapped, lit(false)).as("bad_spec"),
      when(wrapped, inner).otherwise(v).as("url")
    )
  }

  private def substring_rel(v: Column): Column =
    v.substr(lit(2), length(v) - 2)

  private val Ip4Pat = java.util.regex.Pattern.compile(
    "^((25[0-5]|2[0-4][0-9]|1?[0-9]?[0-9])\\.){3}(25[0-5]|2[0-4][0-9]|1?[0-9]?[0-9])$")

  def isValidIp4(s: String): Boolean = Ip4Pat.matcher(s).matches()

  /** Real bracketless-IPv6 grammar (the reference parses with an actual
    * IpAddr parser, src/header/fields.rs:122-125): at most one `::`,
    * 1–4 hex digits per group, exactly 8 units without `::` and at most
    * 7 with, optional trailing IPv4-mapped dotted quad counting as two
    * units. The old `[0-9A-Fa-f:]+:[0-9A-Fa-f:]*` stand-in accepted
    * `:::::` and rejected valid `::ffff:192.0.2.128`.
    */
  def isValidIp6(s: String): Boolean = {
    if (s == null || !s.contains(':')) return false
    val dc = s.indexOf("::")
    if (dc >= 0 && s.indexOf("::", dc + 1) >= 0) return false
    def groups(part: String): Option[Seq[String]] =
      if (part.isEmpty) Some(Nil)
      else {
        val g = part.split(":", -1).toSeq
        if (g.exists(_.isEmpty)) None else Some(g)
      }
    val (headOpt, tailOpt) =
      if (dc >= 0) (groups(s.substring(0, dc)), groups(s.substring(dc + 2)))
      else (groups(s), Some(Seq.empty[String]))
    (headOpt, tailOpt) match {
      case (Some(h), Some(t)) =>
        val all = h ++ t
        def isHexGroup(g: String) = g.nonEmpty && g.length <= 4 &&
          g.forall(c => Character.digit(c, 16) >= 0)
        val v4Tail = all.nonEmpty && all.last.contains('.') &&
          isValidIp4(all.last)
        val hexGroups = if (v4Tail) all.init else all
        if (!hexGroups.forall(isHexGroup)) return false
        val units = hexGroups.length + (if (v4Tail) 2 else 0)
        if (dc >= 0) units <= 7 else units == 8
      case _ => false
    }
  }

  def isValidIp(s: String): Boolean = isValidIp4(s) || isValidIp6(s)

  private val ipUdf = udf { (s: String) =>
    if (s == null) null.asInstanceOf[java.lang.Boolean]
    else java.lang.Boolean.valueOf(isValidIp(s))
  }

  /** IP address validity (v4 dotted-quad or bracketless v6,
    * src/header/fields.rs:122-125). Null in, null out — like the rlike
    * form it replaces.
    */
  def ipParses(v: Column): Column = ipUdf(v)

  /** Media-type parse (type/subtype with ;attr=value parameters, grammar
    * src/parse/fields.rs:87-126: token "/" token then many0 of
    * space* ";" space* token "=" token; quoted-string values are
    * unimplemented in the reference too, parse/fields.rs:125)
    * → struct(type, subtype, ok, parameters: map<string,string>).
    * Parameter names/values keep their case (the reference compares
    * `msgtype=response` case-sensitively, extract.rs:78-85).
    */
  def mediaType(v: Column): Column = {
    val tchar = "[!#$%&'*+.^_`|~0-9A-Za-z-]+"
    val ok = v.rlike(s"^$tchar/$tchar(\\s*;\\s*$tchar=$tchar)*$$")
    // strip "type/subtype" + the first separator, normalize the rest to
    // "k=v;k=v" for str_to_map (tokens never contain whitespace or ';')
    val paramsBody = regexp_replace(
      regexp_replace(v, s"^$tchar/$tchar\\s*;?\\s*", ""), "\\s*;\\s*", ";")
    // duplicate parameter names (legal-shaped, attacker-common:
    // ';msgtype=a;msgtype=b') would make str_to_map THROW under the
    // default EXCEPTION map-key policy — dedupe to the FIRST occurrence
    // explicitly, then build the map from the surviving entries. The
    // arrays are per-row tiny (a handful of params), so the
    // array_position scan is O(params²) on single digits.
    val kvs = filter(split(paramsBody, ";"), e => length(e) > 0)
    val entries = transform(kvs, e => struct(
      substring_index(e, "=", 1).as("key"),
      substring_index(e, "=", -1).as("value")))
    val keys = transform(entries, e => e.getField("key"))
    val dedup = filter(entries, (e, i) =>
      array_position(keys, e.getField("key")) === (i + 1).cast("long"))
    struct(
      when(ok, lower(regexp_extract(v, s"^($tchar)/", 1))).as("type"),
      when(ok, lower(regexp_extract(v, s"^$tchar/($tchar)", 1))).as("subtype"),
      ok.as("ok"),
      when(ok && length(paramsBody) > 0, map_from_entries(dedup))
        .when(ok, map())
        .as("parameters")
    )
  }

  /** First media-type parameter value by (case-sensitive) name; null when
    * absent or the media type is invalid.
    */
  def mediaTypeParam(mt: Column, name: String): Column =
    try_element_at(mt.getField("parameters"), lit(name))

  /** Comma-list header split: lowercased, trimmed, deduped, order kept
    * (src/http/h1/header/fields.rs:15-31).
    */
  def commaList(v: Column): Column =
    array_distinct(transform(split(v, ","), s => trim(lower(s))))

  /** Line-folding removal: CRLF/NL + leading whitespace → single space
    * (src/parse.rs:65-68).
    */
  def unfold(v: Column): Column =
    regexp_replace(v, "(?:\r\n|\n)[ \t]+", " ")

  /** Field-name validity: HTTP tchar set (src/parse/fields.rs:36-50). */
  def validFieldName(v: Column): Column =
    v.rlike("^[!#$%&'*+.^_`|~0-9A-Za-z-]+$")
}
