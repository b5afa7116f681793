package graft.perfbench

import graft.core.{Digests, FieldOps}
import graft.ops.{ExtractOp, VerifyOp}
import graft.sources.{WarcBytes, WarcSplit}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** warc-verify-extract: one iteration is a verify pass (per-record
  * checks ∪ missing references ∪ segment problems ∪ block and payload
  * digest checks) and then an extract pass, each reading the archives
  * afresh through `WarcSplit.readSplitDir`. Touches sources, core and ops
  * only; no frontier code runs.
  */
final class WarcBench(spark: SparkSession, spec: Gen.WarcSpec, root: String)
    extends Workload {
  import WarcBench._
  import spark.implicits._

  private val dir = s"$root/${spec.key}"
  private var gen: (Seq[Gen.Rec], Seq[Gen.Rec], Gen.WarcExpect) = _
  private def expect = gen._3

  def generate(): Unit = {
    gen = Gen.warc(spec)
    Fs.delete(dir)
    new java.io.File(dir).mkdirs()
    Fs.write(s"$dir/archive-0.warc.gz", Gen.gzipArchive(gen._1))
    Fs.write(s"$dir/archive-1.warc.zst", Gen.zstdArchive(gen._2))
  }

  private def records(): DataFrame =
    WarcSplit.readSplitDir(spark, dir, splitBytes = SplitBytes).toDF()

  private val blockDigestOk = udf { (declared: String, bytes: Array[Byte]) =>
    if (declared == null) null.asInstanceOf[java.lang.Boolean]
    else java.lang.Boolean.valueOf(Digests.parseDigest(declared).exists {
      case (algo, want) => Digests.compute(algo, bytes).exists(_.sameElements(want))
    })
  }

  private def digestProblems(recs: DataFrame): DataFrame = {
    val f = col("fields")
    val isHttp = lower(FieldOps.fieldGet(f, "WARC-Type")) === "response"
    recs.select(explode(array(
      when(!blockDigestOk(FieldOps.fieldGet(f, "WARC-Block-Digest"), col("bytes")),
        lit("block_digest_mismatch")),
      when(!VerifyOp.payloadDigestOkUdf(FieldOps.fieldGet(f, "WARC-Payload-Digest"),
        col("bytes"), isHttp), lit("payload_digest_mismatch")))).as("kind"))
      .where(col("kind").isNotNull)
  }

  /** Problem counts by kind, and the number of records read. */
  private def verify(): (Map[String, Long], Long) = {
    val recs = records().persist(StorageLevel.MEMORY_AND_DISK)
    try {
      val n = recs.count()
      val all = VerifyOp.problems(recs).select("kind")
        .unionByName(VerifyOp.missingReferences(recs).select("kind"))
        .unionByName(VerifyOp.segmentProblems(recs).select("kind"))
        .unionByName(digestProblems(recs))
      (all.groupBy("kind").count().as[(String, Long)].collect().toMap, n)
    } finally { recs.unpersist(false); () }
  }

  private final case class Extracted(n: Long, bytes: Long, xor: Long, http: Long, ok: Long)

  private def extractTotals(recs: DataFrame): Extracted = {
    val e = ExtractOp.extract(recs)
    val r = e.agg(count(lit(1)), coalesce(sum(length(col("extracted"))), lit(0L)),
      coalesce(bit_xor(xxhash64(col("extracted"))), lit(0L)),
      coalesce(sum(when(col("decoder_kind") === "http", 1L)), lit(0L)),
      coalesce(sum(when(col("http_ok"), 1L)), lit(0L))).head()
    Extracted(r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))
  }

  private def checkVerify(got: (Map[String, Long], Long)): Option[String] = {
    val (problems, n) = got
    if (n != expect.records) Some(s"verify read $n records, generator wrote ${expect.records}")
    else if (problems != expect.problems)
      Some(s"verify problems $problems != injected ${expect.problems}")
    else None
  }

  private def checkExtract(x: Extracted): Option[String] = {
    val want = Extracted(expect.extractRecords, expect.extractBytes, expect.extractXor,
      expect.httpRecords, expect.httpOk)
    if (x != want) Some(s"extract totals $x != generated $want") else None
  }

  /** The passes take several iterations to reach steady speed. */
  def warmUp(): Unit = (1 to 2).foreach { _ => verify(); extractTotals(records()) }

  /** Three, so the medians drop the slowest pass. */
  val minIterations = 3

  /** Closed loop of verify + extract iterations. */
  def measure(seconds: Double, stored: Option[Vector[(Long, Long)]], atLeast: Int,
              before: Int => Unit): Measured = {
    val vs, xs = Vector.newBuilder[Double]
    var total = 0.0
    var n = 0
    val failures = Vector.newBuilder[String]
    val recs = expect.records.toDouble
    val rates = Vector.newBuilder[Double]
    while (total < seconds || n < atLeast) {
      before(n)
      val (v, vr) = HeapPeak(Trace.timed(verify()))
      val (x, xr) = HeapPeak(Trace.timed(extractTotals(records())))
      n += 1
      total += v + x
      vs += v; xs += x
      rates += recs / (v + x)
      failures ++= checkVerify(vr) ++ checkExtract(xr)
    }
    val v = vs.result(); val x = xs.result()
    val bad = failures.result()
    Measured(
      itemsPerS = n * recs / total,
      phase1PerS = recs / Stats.median(v),
      phase2PerS = recs / Stats.median(x),
      perIteration = rates.result(),
      attempted = 2L * n, failed = bad.size.toLong, failures = bad,
      report = Seq(
        "iterations" -> n.toDouble,
        "verify_records_per_s" -> recs / Stats.median(v),
        "extract_records_per_s" -> recs / Stats.median(x)),
      samples = Seq("verify_pass_s" -> v, "extract_pass_s" -> x))
  }

  /** Single-thread codec rates over the generated archives, and each ops
    * function timed alone over a persisted copy of the decoded records.
    */
  def layers(trace: Trace): Seq[(String, Double, String)] = {
    val mb = 1024.0 * 1024.0
    def rate(work: Double)(body: => Unit): Double =
      work / Stats.median((1 to 3).map(_ => Trace.timed(body)._1))
    val gz = Fs.read(s"$dir/archive-0.warc.gz")
    val zst = Fs.read(s"$dir/archive-1.warc.zst")
    val plain = WarcBytes.gunzipConcatenated(gz)
    val inflate = rate(plain.length / mb)(WarcBytes.gunzipConcatenated(gz))
    val zstd = rate(WarcBytes.unzstdConcatenated(zst).length / mb)(
      WarcBytes.unzstdConcatenated(zst))
    val parse = rate(gen._1.size.toDouble)(WarcBytes.decodeRecords(plain, "archive-0"))
    val blocks = (gen._1 ++ gen._2).map(_.block)
    val digest = rate(blocks.map(_.length.toLong).sum / mb)(
      blocks.foreach(b => Digests.compute("sha1", b)))

    val (splitS, _) = trace.phase("split_decode")(Trace.timed(Trace.drain(records())))
    val splitTasks = records().rdd.getNumPartitions.toDouble
    val recs = records().persist(StorageLevel.MEMORY_AND_DISK)
    recs.count()
    val (checksS, _) = trace.phase("verify_checks")(Trace.timed(
      VerifyOp.problems(recs).groupBy("kind").count().collect()))
    val (refsS, _) = trace.phase("verify_refs")(Trace.timed(
      Trace.drain(VerifyOp.missingReferences(recs))))
    val (segS, _) = trace.phase("verify_segments")(Trace.timed(
      Trace.drain(VerifyOp.segmentProblems(recs))))
    val (extractS, x) = trace.phase("extract")(Trace.timed(extractTotals(recs)))
    recs.unpersist(false)
    Seq(
      ("sources.inflate_mb_per_s", inflate, "MB/s"),
      ("sources.zstd_mb_per_s", zstd, "MB/s"),
      ("sources.parse_records_per_s", parse, "1/s"),
      ("sources.split_decode_s", splitS, "s"),
      ("sources.split_tasks", splitTasks, "count"),
      ("core.digest_mb_per_s", digest, "MB/s"),
      ("ops.verify_checks_s", checksS, "s"),
      ("ops.verify_refs_s", refsS, "s"),
      ("ops.verify_segments_s", segS, "s"),
      ("ops.extract_s", extractS, "s"),
      ("ops.http_ok_ratio", if (x.http == 0) 0.0 else x.ok.toDouble / x.http, "ratio"))
  }

  def cleanup(): Unit = Fs.delete(dir)
}

object WarcBench {
  /** Byte range per decode task: several tasks per archive at 4 cores. */
  val SplitBytes: Long = 1L << 20
}
