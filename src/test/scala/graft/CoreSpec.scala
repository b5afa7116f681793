package graft

import graft.core._
import graft.ops.{FilterOp, UrlPath}
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Golden/table tests ported from the reference's own embedded tests —
  * values copied verbatim, logic re-implemented (SURVEY.md §5).
  */
class FieldOpsSpec extends AnyFunSuite {
  import TestSpark.spark
  import spark.implicits._

  private val df = Seq(
    (1L, Seq(Field("Name-A", "v1"), Field("name-a", "v2"), Field("Other", "x")))
  ).toDF("id", "fields")

  test("fieldGet is first-match case-insensitive (fields.rs:111-120)") {
    val r = df.select(FieldOps.fieldGet($"fields", "NAME-A")).head.getString(0)
    assert(r == "v1")
  }

  test("fieldGetAll preserves order and duplicates (fields.rs:122-134)") {
    val r = df.select(FieldOps.fieldGetAll($"fields", "name-a")).head.getSeq[String](0)
    assert(r == Seq("v1", "v2"))
  }

  test("fieldContains / fieldCount") {
    val r = df.select(FieldOps.fieldContains($"fields", "other"),
      FieldOps.fieldCount($"fields", "NAME-a"),
      FieldOps.fieldContains($"fields", "missing")).head
    assert(r.getBoolean(0) && r.getInt(1) == 2 && !r.getBoolean(2))
  }

  test("fieldGetOrEmpty on missing → empty string (list.rs:38-41)") {
    assert(df.select(FieldOps.fieldGetOrEmpty($"fields", "nope")).head.getString(0) == "")
  }

  test("getU64Strict rejects +, whitespace, hex (parse.rs:56-62)") {
    val d = Seq(
      (Seq(Field("n", "123")), 1), (Seq(Field("n", "+123")), 2),
      (Seq(Field("n", " 123")), 3), (Seq(Field("n", "0x1f")), 4))
      .toDF("fields", "k")
    val rows = d.select($"k", FieldOps.getU64Strict($"fields", "n")).collect()
      .map(r => r.getInt(0) -> (if (r.isNullAt(1)) None else Some(r.getLong(1)))).toMap
    assert(rows(1).contains(123L) && rows(2).isEmpty && rows(3).isEmpty && rows(4).isEmpty)
  }

  test("lookup kernels equal the higher-order-function formulation on generated headers") {
    import org.apache.spark.sql.Column
    import org.scalacheck.Gen
    // the lambda formulation the kernels replace, kept as the reference
    def matches(f: Column, name: String) = lower(f.getField("name")) === lit(name.toLowerCase)
    def refGet(fs: Column, n: String) =
      try_element_at(filter(fs, f => matches(f, n)), lit(1)).getField("value")
    def refU64(fs: Column, n: String) = {
      val v = refGet(fs, n)
      when(v.rlike("^[0-9]+$"), v.try_cast("long"))
    }
    def reference(fs: Column, n: String): Seq[Column] = Seq(
      refGet(fs, n), coalesce(refGet(fs, n), lit("")), refU64(fs, n),
      exists(fs, f => matches(f, n)),
      transform(filter(fs, f => matches(f, n)), f => f.getField("value")),
      size(filter(fs, f => matches(f, n))))
    def kernels(fs: Column, n: String): Seq[Column] = Seq(
      FieldOps.fieldGet(fs, n), FieldOps.fieldGetOrEmpty(fs, n), FieldOps.getU64Strict(fs, n),
      FieldOps.fieldContains(fs, n), FieldOps.fieldGetAll(fs, n), FieldOps.fieldCount(fs, n))

    val names = Seq("WARC-Type", "warc-type", "WARC-TYPE", "Content-Length",
      "content-length", "Key", "\u212Aey", "KEY", "Stra\u00dfe", "STRASSE", "\u0130d", "id",
      "\u03a3\u03c3", "", null)
    val values = Seq("response", "123", "0", "+1", " 12", "12 ", "0x1f", "12\n", "12\r\n",
      "12\r", "12\u0085", "12\u2028", "12\n\n", "\u0661\u0662", "9223372036854775807",
      "9223372036854775808", "99999999999999999999", "", null)
    val field: Gen[Field] = for {
      n <- Gen.oneOf(names); v <- Gen.oneOf(values)
    } yield if (n == "id" && v == null) null else Field(n, v) // some null entries
    val rows = FieldOpsSpec.headers(field, 400).zipWithIndex.map { case (h, i) =>
      (i, if (i % 50 == 7) null else h) // and null arrays
    }
    // a local table runs the kernels interpreted (the optimizer folds
    // the projection into the relation); an RDD-backed one runs them in
    // generated code
    val local = rows.toDF("i", "fields")
    val generated = spark.createDataFrame(local.rdd, local.schema)
    val targets = Seq("warc-type", "KEY", "Content-Length", "stra\u00dfe", "strasse",
      "i\u0307d", "\u0130d", "ID", "\u03c3\u03c2", "")
    for (d <- Seq(local, generated); t <- targets) {
      val cols = reference($"fields", t) ++ kernels($"fields", t)
      val got = d.select($"i" +: cols: _*).collect()
      assert(got.length == rows.length)
      got.foreach { r =>
        val (ref, ker) = (0 until 6).map(k => (r.get(1 + k), r.get(7 + k))).unzip
        assert(ker == ref, s"target=$t row=${r.getInt(0)} fields=${rows(r.getInt(0))._2}")
      }
    }
  }

  test("null entries and null names change no verify, reference, extract or image row; " +
    "a name is present iff fieldContains says so") {
    import graft.ops.{ExtractOp, VerifyOp}
    import graft.pipeline.Multimodal
    import org.apache.spark.sql.DataFrame
    import org.scalacheck.Gen
    // names the per-record kernels look up, with case variants and the
    // letters whose case mappings differ between String.equalsIgnoreCase
    // and lower(): U+0130 İ, U+0131 ı, U+017F ſ, U+212A KELVIN SIGN
    val typeValues = Seq("resource", "RESOURCE", "conversion", "response", "continuation",
      "warcinfo")
    val idValues = Seq("<urn:id:1>", "<urn:id:2>")
    val uriValues = Seq("http://example.com/a.png", "urn:example:x")
    val ctypeValues = Seq("image/png", "IMAGE/PNG; q=1", "application/http; msgtype=response",
      "text/plain")
    val truncValues = Seq("length", "bogus")
    val segValues = Seq("1", "2")
    val refValues = Seq("<urn:ref:1>", "<urn:ref:2>")
    // the names extract and the image bridge route on are drawn 4x as often
    val namesWithValues = Seq(
      "WARC-Type" -> typeValues, "warc-TYPE" -> typeValues,
      "WARC-Record-ID" -> idValues, "WARC-RECORD-id" -> idValues,
      "WARC-Record-\u0130D" -> idValues, "WARC-Record-\u0131D" -> idValues,
      "WARC-Target-URI" -> uriValues, "WARC-Target-UR\u0130" -> uriValues,
      "Content-Type" -> ctypeValues, "CONTENT-TYPE" -> ctypeValues,
      "Content-Length" -> Seq("12", "+1"), "WARC-Date" -> Seq("2025-01-01T00:00:00Z"),
      "WARC-Truncated" -> truncValues, "warc-truncated" -> truncValues,
      "WARC-Segment-Number" -> segValues, "WARC-\u017Fegment-Number" -> segValues,
      "WARC-Refers-To" -> refValues, "WARC-Refer\u017F-To" -> refValues,
      "X-Link" -> refValues, "X-Lin\u212A" -> refValues, "X-L\u0131nk" -> refValues,
      "X-L\u0130NK" -> refValues)
    val routed = Set("WARC-Type", "WARC-Target-URI", "Content-Type")
    val field: Gen[Field] = Gen.frequency(namesWithValues.map { case (n, vs) =>
      (if (routed(n)) 4 else 1, Gen.oneOf(vs).map(Field(n, _)))
    }: _*)
    val clean = FieldOpsSpec.headers(field, 600)
    val rnd = new scala.util.Random(5)
    val noisy = clean.map { h =>
      (0 until 1 + rnd.nextInt(3)).foldLeft(h) { (acc, _) =>
        val at = rnd.nextInt(acc.length + 1)
        acc.patch(at, Seq(if (rnd.nextBoolean()) null else Field(null, "x")), 0)
      }
    }
    val png = Multimodal.encode(
      new java.awt.image.BufferedImage(8, 8, java.awt.image.BufferedImage.TYPE_INT_RGB), "png")
    // RDD-backed, so the kernels run in generated code
    def table(headers: Seq[Seq[Field]]): DataFrame = {
      val local = headers.zipWithIndex.map { case (h, i) => (i.toLong, h, png) }
        .toDF("position", "fields", "bytes")
      spark.createDataFrame(local.rdd, local.schema)
    }
    val refFields = Seq("WARC-Refers-To", "X-Link")
    def outputs(d: DataFrame): Seq[Seq[String]] = {
      val extracted = ExtractOp.extract(d)
      Seq(VerifyOp.problems(d), VerifyOp.missingReferences(d, refFields),
        extracted.drop("fields", "bytes"), Multimodal.imagesFromExtracted(extracted))
        .map(_.collect().toSeq.map(_.toSeq.map {
          case b: Array[Byte] => b.toSeq.hashCode.toString
          case x => String.valueOf(x)
        }.mkString("|")).sorted)
    }
    val got = outputs(table(clean))
    assert(got.forall(_.nonEmpty), got.map(_.size))
    assert(outputs(table(noisy)) == got)

    val t = table(noisy)
    def contains(n: String) = coalesce(FieldOps.fieldContains($"fields", n), lit(false))
    val present = t.select($"position", contains("WARC-Record-ID"),
      FieldOps.fieldCount($"fields", "WARC-Refers-To"), FieldOps.fieldCount($"fields", "X-Link"),
      contains("WARC-Truncated"), contains("WARC-Segment-Number"))
      .collect().map(r => r.getLong(0) -> r).toMap
    val noId = VerifyOp.problems(t)
      .where($"kind" === "missing_mandatory_field" && $"detail" === "WARC-Record-ID")
      .select($"position").as[Long].collect().toSet
    assert(noId == present.collect { case (p, r) if !r.getBoolean(1) => p }.toSet)
    val refs = VerifyOp.missingReferences(t, refFields).select($"position", $"detail")
      .as[(Long, String)].collect()
    for ((p, r) <- present; (via, k) <- refFields.zip(Seq(2, 3)))
      assert(refs.count { case (q, d) => q == p && d.startsWith(s"$via -> ") } == r.getInt(k),
        s"$via at $p: ${noisy(p.toInt)}")
    val ex = ExtractOp.extract(t).select($"position", $"is_truncated").as[(Long, Boolean)]
      .collect()
    assert(ex.nonEmpty)
    ex.foreach { case (p, truncated) =>
      assert(truncated == present(p).getBoolean(4) && !present(p).getBoolean(5), noisy(p.toInt))
    }
  }
}

object FieldOpsSpec {
  import org.scalacheck.Gen
  import org.scalacheck.rng.Seed

  /** `n` generated headers of 0–8 `field`s each; header i comes from seed i. */
  def headers(field: Gen[Field], n: Int): IndexedSeq[Seq[Field]] = {
    val header = Gen.chooseNum(0, 8).flatMap(Gen.listOfN(_, field))
    (0 until n).map(i => header.pureApply(Gen.Parameters.default, Seed(i.toLong)))
  }
}

class FilterOpSpec extends AnyFunSuite {
  import TestSpark.spark
  import spark.implicits._

  private def allow(fields: Seq[Field], includes: Seq[FilterOp.Rule],
                    excludes: Seq[FilterOp.Rule]): Boolean =
    Seq(Tuple1(fields)).toDF("fields")
      .select(FilterOp.compile(includes, excludes)).head.getBoolean(0)

  test("exact include/exclude truth table (filter.rs:109-129)") {
    val inc = Seq(FilterOp.parseRule("n:dog"))
    val exc = Seq(FilterOp.parseRule("n:cat"))
    assert(!allow(Seq(Field("n", "cat")), inc, exc))
    assert(allow(Seq(Field("n", "dog")), inc, exc))
    assert(!allow(Seq(Field("n", "bird")), inc, exc))
    assert(!allow(Seq(Field("n", "cat-and-dog")), inc, exc)) // exact ≠ substring
  }

  test("bare name vs empty value (filter.rs:131-144)") {
    val inc = Seq(FilterOp.parseRule("a"))
    val exc = Seq(FilterOp.parseRule("b"))
    assert(allow(Seq(Field("a", "")), inc, exc))
    assert(!allow(Seq(Field("b", "")), inc, exc))
  }

  test("regex rules with word boundaries (filter.rs:146-167)") {
    val inc = Seq(FilterOp.parseRule("n:\\bdog\\b", regex = true))
    val exc = Seq(FilterOp.parseRule("n:\\bcat\\b", regex = true))
    assert(!allow(Seq(Field("n", "cat")), inc, exc))
    assert(allow(Seq(Field("n", "dog")), inc, exc))
    assert(!allow(Seq(Field("n", "bird")), inc, exc))
    assert(!allow(Seq(Field("n", "cat-and-dog")), inc, exc)) // exclude beats include
  }

  test("no includes → keep unless excluded (filter.rs:92-100)") {
    assert(allow(Seq(Field("x", "1")), Nil, Seq(FilterOp.parseRule("y"))))
    assert(!allow(Seq(Field("y", "1")), Nil, Seq(FilterOp.parseRule("y"))))
  }
}

class UrlPathSpec extends AnyFunSuite {
  import UrlPath._

  test("escape_component goldens (extract.rs:295-307)") {
    assert(escapeComponent("") == "")
    assert(escapeComponent(" ") == "_")
    assert(escapeComponent(".") == "_")
    assert(escapeComponent("..") == "__")
    assert(escapeComponent("/") == "%2F")
    assert(escapeComponent("nul") == "_nul")
    assert(escapeComponent("nul.tar.gz") == "_nul.tar.gz")
    assert(escapeComponent("?") == "%3F")
    assert(escapeComponent("\u00ff") == "%C3%BF")
    assert(escapeComponent("a" * 300) == "a" * 200)
  }

  test("url_to_path_components structure (extract.rs:168-196)") {
    assert(urlToPathComponents("https://example.com/a/b/c.html?q=1") ==
      Seq("https", "example.com", "a", "b", "c.html", "q=1"))
    assert(urlToPathComponents("https://example.com//x//") == Seq("https", "example.com", "x"))
    assert(urlToPathComponents("mailto:user@example.com") == Seq("mailto", "user@example.com"))
    assert(urlToPathComponents("not a url") == Seq(escapeComponent("not a url")))
    assert(urlToPathComponents("https://example.com/%2e%2e/x") ==
      Seq("https", "example.com", "__", "x"))
  }
}

class DigestsSpec extends AnyFunSuite {
  import Digests._

  private val md5Bytes = Array(0xb1, 0x94, 0x6a, 0xc9, 0x24, 0x92, 0xd2, 0x34,
    0x7c, 0x62, 0x35, 0xb4, 0xd2, 0x61, 0x11, 0x84).map(_.toByte)
  private val sha1Bytes = Array(0xaa, 0xf4, 0xc6, 0x1d, 0xdc, 0xc5, 0xe8, 0xa2,
    0xda, 0xbe, 0xde, 0x0f, 0x3b, 0x48, 0x2c, 0xd9, 0xae, 0xa9, 0x43, 0x4d).map(_.toByte)

  test("md5 parse: hex / padded base32 / lowercase nopad base32 (digest.rs:352-374)") {
    for (s <- Seq("md5:b1946ac92492d2347c6235b4d2611184",
      "MD5:WGKGVSJESLJDI7DCGW2NEYIRQQ======",
      "md5:wgkgvsjesljdi7dcgw2neyirqq")) {
      val Some((a, v)) = parseDigest(s)
      assert(a == "md5" && v.sameElements(md5Bytes), s)
    }
  }

  test("sha1 parse: compat label + base32, hex (digest.rs:376-390)") {
    val Some((a1, v1)) = parseDigest("Sha-1:VL2MMHO4YXUKFWV63YHTWSBM3GXKSQ2N")
    assert(a1 == "sha1" && v1.sameElements(sha1Bytes))
    val Some((a2, v2)) = parseDigest("sha1:aaf4c61ddcc5e8a2dabede0f3b482cd9aea9434d")
    assert(a2 == "sha1" && v2.sameElements(sha1Bytes))
  }

  test("canonical format: sha1 → base32 upper (digest.rs:392-400)") {
    assert(formatDigest("sha1", sha1Bytes) == "sha1:VL2MMHO4YXUKFWV63YHTWSBM3GXKSQ2N")
    assert(formatDigest("md5", md5Bytes) == "md5:b1946ac92492d2347c6235b4d2611184")
  }

  test("sha1 hash vector (digest.rs:402-414)") {
    val out = compute("sha1",
      "abcdbcdecdefdefgefghfghighijhijkijkljklmklmnlmnomnopnopq".getBytes).get
    assert(hexEncode(out) == "84983e441c3bd26ebaae4aa1f95129e5e54670f1")
  }

  test("crc32 / crc32c / sha3 compute") {
    assert(hexEncode(compute("crc32", "hello".getBytes).get) == "3610a686")
    assert(computeText("sha256", "".getBytes).get ==
      "sha256:e3b0c44298fc1c149afbf4c8996fb92427ae41e4649b934ca495991b7852b855")
    assert(compute("sha3-256", "x".getBytes).isDefined)
    assert(compute("blake3", "x".getBytes).isDefined) // vectors in Blake3Spec
    assert(hexEncode(compute("xxh3", "".getBytes).get) == "2d06800538d394c2") // vectors in Xxh3Spec
  }
}

class HeaderSerdeSpec extends AnyFunSuite {
  import org.scalacheck.Gen

  test("serialize is byte-exact (header.rs:114-128)") {
    val bytes = HeaderSerde.serialize("WARC/1.1",
      Seq(Field("WARC-Type", "resource"), Field("Content-Length", "0")))
    assert(new String(bytes, "UTF-8") ==
      "WARC/1.1\r\nWARC-Type: resource\r\nContent-Length: 0\r\n\r\n")
  }

  test("parse ∘ serialize = identity (header.rs:131-152 as a property)") {
    val nameGen = Gen.nonEmptyListOf(Gen.alphaNumChar).map(_.mkString)
    val valueGen = Gen.listOf(Gen.asciiPrintableChar).map(_.mkString.trim)
    val fieldsGen = Gen.listOf(Gen.zip(nameGen, valueGen).map { case (n, v) => Field(n, v) })
    (0 until 200).foreach { i =>
      val fields = fieldsGen.pureApply(Gen.Parameters.default,
        org.scalacheck.rng.Seed(i.toLong))
      val rt = HeaderSerde.parse(HeaderSerde.serialize("WARC/1.1", fields))
      assert(rt.contains(("WARC/1.1", fields)), s"seed $i: $fields")
    }
  }

  test("line folding removal (parse.rs:65-68)") {
    val folded = "WARC/1.1\r\nA: one\r\n\ttwo\r\n\r\n".getBytes("UTF-8")
    assert(HeaderSerde.parse(folded).get._2 == Seq(Field("A", "one two")))
  }

  private def parseText(text: String) = HeaderSerde.parse(text.getBytes("UTF-8"))

  test("a non-ASCII UTF-8 value round-trips") {
    val fields = Seq(Field("WARC-Target-URI", "http://example.com/ünïcödé/日本"))
    assert(HeaderSerde.parse(HeaderSerde.serialize("WARC/1.1", fields))
      .contains(("WARC/1.1", fields)))
  }

  test("malformed UTF-8 is rejected, a literal U+FFFD is accepted") {
    val head = "WARC/1.1\r\nA: ".getBytes("UTF-8")
    val tail = "\r\n\r\n".getBytes("UTF-8")
    Seq(Array(0xff.toByte), Array(0xc3.toByte), Array(0xe6.toByte, 0x97.toByte))
      .foreach(bad => assert(HeaderSerde.parse(head ++ bad ++ tail).isEmpty))
    assert(parseText("WARC/1.1\r\nA: x\uFFFDy\r\n\r\n").get._2 ==
      Seq(Field("A", "x\uFFFDy")))
  }

  test("LF-only and multi-whitespace folds each become one space") {
    assert(parseText("WARC/1.1\r\nA: one\n two\r\n\r\n").get._2 ==
      Seq(Field("A", "one two")))
    assert(parseText("WARC/1.1\r\nA: one\r\n \t \ttwo\r\nB: b\r\n\r\n").get._2 ==
      Seq(Field("A", "one two"), Field("B", "b")))
  }

  test("a bare LF not followed by SP/HT stays in the value") {
    assert(parseText("WARC/1.1\r\nA: one\ntwo\r\n\r\n").get._2 ==
      Seq(Field("A", "one\ntwo")))
  }

  test("a field line without ':' and a non-WARC first line are rejected") {
    assert(parseText("WARC/1.1\r\nA: a\r\nno colon\r\n\r\n").isEmpty)
    assert(parseText("HTTP/1.1\r\nA: a\r\n\r\n").isEmpty)
    assert(parseText("WARC/1.1").isEmpty)
  }
}
