package graft.core

import graft.functions.GraftFunctions.kernel
import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.util.{ArrayData, CollationFactory, CollationSupport, GenericArrayData}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types.{ArrayType, BooleanType, DataType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

import java.util.Locale

/** Column-level operations over the ordered, case-insensitive header
  * multimap (`array<struct<name:string, value:string>>`, the shape of
  * `Seq[Field]`).
  *
  * Semantics follow the reference exactly:
  *   - `get` = FIRST case-insensitive match (src/fields.rs:111-120)
  *   - `getAll` = all matches in insertion order (src/fields.rs:122-134)
  *   - `contains` = case-insensitive existence (src/fields.rs:101-109)
  *   - missing field in a projection → empty string (src/app/list.rs:38-41)
  *
  * Every lookup is one field-lookup kernel ([[indexOfName]]) called as a
  * static method from the generated code (`GraftFunctions.kernel`), so
  * the operator that uses it stays in whole-stage codegen. The
  * higher-order form it replaces, `filter`/`exists` with a lambda, is
  * CodegenFallback and takes its whole operator out of codegen. A name
  * matches when `lower(name) = lower(target)`: ASCII names compare
  * case-folded on their UTF-8 bytes, other names through Spark's own
  * `lower`. A null array gives null; an entry with a null name never
  * matches.
  */
object FieldOps {

  private def lookup(fields: Column, name: String, method: String,
                     dataType: DataType): Column =
    kernel(FieldOps, dataType, method, Seq(fields, lit(name.toLowerCase(Locale.ROOT))))

  /** First value for `name`, case-insensitive; null when absent. */
  def fieldGet(fields: Column, name: String): Column =
    lookup(fields, name, "firstValue", StringType)

  /** First value for `name`, or empty string (list-projection semantics,
    * src/app/list.rs:38-41).
    */
  def fieldGetOrEmpty(fields: Column, name: String): Column =
    coalesce(fieldGet(fields, name), lit(""))

  /** All values for `name`, insertion order preserved. */
  def fieldGetAll(fields: Column, name: String): Column =
    lookup(fields, name, "allValues", ArrayType(StringType, containsNull = true))

  /** Case-insensitive existence, with `exists`' three-valued result:
    * true on a match, else null when some entry or its name is null,
    * else false.
    */
  def fieldContains(fields: Column, name: String): Column =
    lookup(fields, name, "containsName", BooleanType)

  /** Count of entries for `name` (multimap cardinality). */
  def fieldCount(fields: Column, name: String): Column =
    size(fieldGetAll(fields, name))

  // ---- typed getters (lazily-typed access, reference src/fields.rs:142-150,
  //      src/header/fields.rs:75-125) ----

  /** Strict u64 parse: digits only — rejects `+`, whitespace, hex
    * (src/parse.rs:56-62). Null when invalid/absent.
    */
  def getU64Strict(fields: Column, name: String): Column =
    kernel(FieldOps, LongType, "u64Strict", Seq(fieldGet(fields, name)))

  // ---- kernels: static methods over Catalyst's internal values, public
  //      because the generated code calls them; the per-record rule
  //      engines (`VerifyOp`, `ExtractOp`, `Multimodal`) look names up
  //      through them too ----

  private val targets = new java.util.concurrent.ConcurrentHashMap[String, UTF8String]

  /** `name` as a lookup target of the kernels below: lowercased, built
    * once per name. `get` first: `computeIfAbsent` locks the bin of a key
    * that is not first in it, on every call.
    */
  def target(name: String): UTF8String = {
    val t = targets.get(name)
    if (t != null) t
    else targets.computeIfAbsent(name, n => UTF8String.fromString(n.toLowerCase(Locale.ROOT)))
  }

  /** `lower(n) = t` for a lowercased target `t`: byte compare with ASCII
    * case folding, Spark's `lower` for a name with any non-ASCII byte
    * (U+212A KELVIN SIGN lowers to `k`, so such a name can equal an
    * ASCII target).
    */
  private def nameIs(n: UTF8String, t: UTF8String): Boolean = {
    val len = n.numBytes
    var eq = len == t.numBytes
    var i = 0
    while (i < len) {
      val b = n.getByte(i)
      if (b < 0) return sparkLower(n) == t
      if (eq) {
        val lb = if (b >= 'A' && b <= 'Z') (b + 32).toByte else b
        eq = lb == t.getByte(i)
      }
      i += 1
    }
    eq
  }

  /** [[nameIs]] for a decoded [[Field]] name: the same rule where the
    * record parser, the writer and `get` look a header up.
    */
  def isName(name: String, targetName: String): Boolean =
    name != null && nameIs(UTF8String.fromString(name), target(targetName))

  private def sparkLower(n: UTF8String): UTF8String =
    CollationSupport.Lower.exec(n, CollationFactory.UTF8_BINARY_COLLATION_ID,
      SQLConf.get.getConf(SQLConf.ICU_CASE_MAPPINGS_ENABLED))

  /** Index of the first entry at or after `from` whose name is `t`, or -1. */
  private def indexOfName(fields: ArrayData, t: UTF8String, from: Int): Int = {
    val n = fields.numElements()
    var i = from
    while (i < n) {
      if (!fields.isNullAt(i)) {
        val f = fields.getStruct(i, 2)
        if (!f.isNullAt(0) && nameIs(f.getUTF8String(0), t)) return i
      }
      i += 1
    }
    -1
  }

  private def valueAt(fields: ArrayData, i: Int): UTF8String = {
    val f = fields.getStruct(i, 2)
    if (f.isNullAt(1)) null else f.getUTF8String(1)
  }

  def firstValue(fields: ArrayData, t: UTF8String): UTF8String = {
    val i = indexOfName(fields, t, 0)
    if (i < 0) null else valueAt(fields, i)
  }

  def allValues(fields: ArrayData, t: UTF8String): ArrayData = {
    val out = Array.newBuilder[Any]
    var i = indexOfName(fields, t, 0)
    while (i >= 0) {
      out += valueAt(fields, i)
      i = indexOfName(fields, t, i + 1)
    }
    new GenericArrayData(out.result())
  }

  /** True when some entry's name is `t`: [[containsName]] without the null. */
  def hasName(fields: ArrayData, t: UTF8String): Boolean = indexOfName(fields, t, 0) >= 0

  def containsName(fields: ArrayData, t: UTF8String): java.lang.Boolean = {
    if (hasName(fields, t)) return java.lang.Boolean.TRUE
    var i = 0
    while (i < fields.numElements()) {
      if (fields.isNullAt(i) || fields.getStruct(i, 2).isNullAt(0)) return null
      i += 1
    }
    java.lang.Boolean.FALSE
  }

  /** ASCII digits, as `rlike("^[0-9]+$")` accepts them (`$` also matches
    * before one final line terminator), then `try_cast` to long: null
    * when the text does not match, or the number is above Long.MaxValue.
    */
  def u64Strict(v: UTF8String): java.lang.Long = {
    val len = v.numBytes
    var i = 0
    while (i < len && v.getByte(i) >= '0' && v.getByte(i) <= '9') i += 1
    if (i == 0 || (i < len && !isFinalLineTerminator(v, i))) return null
    val w = new UTF8String.LongWrapper
    if (v.toLong(w)) java.lang.Long.valueOf(w.value) else null
  }

  private def isFinalLineTerminator(v: UTF8String, from: Int): Boolean =
    v.numBytes - from match {
      case 1 => val b = v.getByte(from); b == '\n' || b == '\r'
      case 2 => v.getByte(from) == '\r' && v.getByte(from + 1) == '\n' ||
        v.getByte(from) == 0xc2.toByte && v.getByte(from + 1) == 0x85.toByte // U+0085
      case 3 => v.getByte(from) == 0xe2.toByte && v.getByte(from + 1) == 0x80.toByte &&
        (v.getByte(from + 2) == 0xa8.toByte || v.getByte(from + 2) == 0xa9.toByte) // U+2028/9
      case _ => false
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

  /** The [[mediaType]] grammar as one regex over a whole value: type,
    * subtype, then the `;name=value` parameter list (group 3).
    */
  private[graft] val MediaTypeRe =
    ("^([!#$%&'*+.^_`|~0-9A-Za-z-]+)/([!#$%&'*+.^_`|~0-9A-Za-z-]+)" +
      "((\\s*;\\s*[!#$%&'*+.^_`|~0-9A-Za-z-]+=[!#$%&'*+.^_`|~0-9A-Za-z-]+)*)$").r

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
