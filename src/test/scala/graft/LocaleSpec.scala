package graft

import graft.core.{Field, FieldOps}
import graft.frontier.Canonical
import graft.ops.VerifyOp
import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite

import java.util.Locale

/** Protocol text (hosts, schemes, header names, digest labels) folds case
  * the same whatever the JVM's default locale: under `tr-TR`,
  * `"I".toLowerCase` is a dotless `ı`.
  */
class LocaleSpec extends AnyFunSuite {
  import TestSpark.spark
  import spark.implicits._

  test("hosts, URLs, header lookups and verify rows are the same under a tr-TR default locale") {
    val saved = Locale.getDefault
    Locale.setDefault(Locale.forLanguageTag("tr-TR"))
    try {
      assert("I".toLowerCase == "ı", "the default locale folds I to a dotless i")
      assert(Canonical.hostOfString("http://WIKI.ORG/") == "wiki.org")
      assert(Seq("HTTP://WIKI.ORG:80/Index#x").toDF("u")
        .select(Canonical.canonicalUrl(col("u"))).as[String].head() == "http://wiki.org/Index")
      val records = Seq(
        (0L, Seq(Field("WARC-Record-ID", "<urn:x:1>"), Field("WARC-Type", "WARCINFO"),
          Field("WARC-Date", "2025-01-01T00:00:00Z"), Field("Content-Length", "0"),
          Field("WARC-Truncated", "DISCONNECT"))),
        (1L, Seq(Field("WARC-Record-ID", "<urn:x:2>"), Field("WARC-Type", "warcinfo"),
          Field("WARC-Date", "2025-01-01T00:00:00Z"), Field("Content-Length", "0"),
          Field("WARC-Truncated", "BOGUS")))).toDF("position", "fields")
      assert(records.select(FieldOps.fieldGet(col("fields"), "WARC-Record-ID")).as[String]
        .collect().toSeq == Seq("<urn:x:1>", "<urn:x:2>"))
      assert(VerifyOp.problems(records).as[(Long, String, String, String)].collect().toSeq ==
        Seq((1L, "<urn:x:2>", "invalid_truncated_reason", "BOGUS")))
    } finally Locale.setDefault(saved)
  }

  test("every toLowerCase/toUpperCase under src/main/scala names its Locale") {
    // Character.toLowerCase(c) maps one char without a locale
    val call = """(?<!Character)\.to(?:Lower|Upper)Case\b(?!\s*\(\s*(?:java\.util\.)?Locale\.)""".r
    val root = java.nio.file.Paths.get("src/main/scala")
    val files = java.nio.file.Files.walk(root).toArray.toSeq.map(_.asInstanceOf[java.nio.file.Path])
      .filter(_.toString.endsWith(".scala"))
    assert(files.nonEmpty, s"no sources under ${root.toAbsolutePath}")
    val unlocalized = for {
      f <- files
      (line, i) <- java.nio.file.Files.readAllLines(f).toArray.toSeq.map(_.toString).zipWithIndex
      if call.findFirstIn(line).nonEmpty
    } yield s"$f:${i + 1}: ${line.trim}"
    assert(unlocalized.isEmpty, unlocalized.mkString("\n"))
  }
}
