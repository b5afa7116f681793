package graft

import graft.functions.GraftFunctions
import org.apache.spark.sql.AnalysisException
import org.scalatest.funsuite.AnyFunSuite

/** Every graft per-row function in generated code is a
  * `GraftFunctions.kernel`: one static call into a Scala object, not a
  * hand-written Catalyst `Expression`.
  */
class KernelSpec extends AnyFunSuite {
  import TestSpark.spark

  test("no class under src/main/scala extends a Catalyst Expression") {
    val expression = """\b(?:extends|with)\s+(?:[\w.]+\.)?\w*Expression\b""".r
    val root = java.nio.file.Paths.get("src/main/scala")
    val files = java.nio.file.Files.walk(root).toArray.toSeq.map(_.asInstanceOf[java.nio.file.Path])
      .filter(_.toString.endsWith(".scala"))
    assert(files.nonEmpty, s"no sources under ${root.toAbsolutePath}")
    val found = for {
      f <- files
      (line, i) <- java.nio.file.Files.readAllLines(f).toArray.toSeq.map(_.toString).zipWithIndex
      if expression.findFirstIn(line).nonEmpty
    } yield s"$f:${i + 1}: ${line.trim}"
    assert(found.isEmpty, found.mkString("\n"))
  }

  test("the SQL digests cast a string argument to binary and reject other types, " +
    "as crc32 does") {
    GraftFunctions.register(spark)
    val r = spark.sql("SELECT crc32c('123456789'), crc32('123456789'), " +
      "xxh3_64('abc') = xxh3_64(CAST('abc' AS BINARY))").head
    assert(r.getLong(0) == 0xe3069283L)
    assert(r.getLong(1) != r.getLong(0))
    assert(r.getBoolean(2))
    for (sql <- Seq("SELECT crc32(1)", "SELECT crc32c(1)", "SELECT xxh3_64(1)"))
      intercept[AnalysisException](spark.sql(sql).collect())
  }
}
