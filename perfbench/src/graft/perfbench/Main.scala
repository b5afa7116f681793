package graft.perfbench

import org.apache.spark.sql.SparkSession

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

import scala.concurrent.{ExecutionContext, Future}

/** What one workload exposes to [[Main]]. */
trait Workload {
  /** Build the workload's inputs on disk (repeatable; set-up work). */
  def generate(): Unit
  def warmUp(): Unit
  /** Iterations one measurement needs at least, however long they take. */
  def minIterations: Int
  /** Closed loop until `seconds` of measured wall time and `atLeast`
    * iterations, outputs checked; `before(i)` runs ahead of iteration i.
    */
  def measure(seconds: Double, stored: Option[Vector[(Long, Long)]], atLeast: Int,
              before: Int => Unit): Measured
  /** Per-layer metrics of the traced run. */
  def layers(trace: Trace): Seq[(String, Double, String)]
  def cleanup(): Unit
}

/** items: frontier URLs fed (crawl) or records read (warc) per second of
  * iteration wall time; phase 1 and 2: round 1 and the median steady
  * round (crawl), or the median verify and extract pass (warc).
  */
final case class Measured(itemsPerS: Double, phase1PerS: Double, phase2PerS: Double,
                          perIteration: Vector[Double],
                          attempted: Long, failed: Long, failures: Vector[String],
                          report: Seq[(String, Double)],
                          samples: Seq[(String, Vector[Double])])

/** One benchmark run: `--workload W --seed N --seconds S --trace 0|1
  * --root DIR [--fingerprints FILE] [--commit SHA]`. Prints every metric as
  * `metric <name> <value> <unit>` and, last, one JSON result line.
  */
object Main {

  val Workloads = Seq("crawl-fused", "crawl-probe", "warc-verify-extract")

  /** Sizes per workload; see README.md for how they were chosen. */
  def crawlSpec(workload: String, seed: Long): Gen.CrawlSpec =
    if (workload == "crawl-probe")
      Gen.CrawlSpec(seed, perRound = 60000, rounds = 3, nHosts = 2000, hotPerRound = 45000)
    else Gen.CrawlSpec(seed, perRound = 100000, rounds = 3, nHosts = 2000, hotPerRound = 0)

  def warcSpec(seed: Long): Gen.WarcSpec = Gen.WarcSpec(seed, exchanges = 6000)

  val SetupRepeats = 3

  val LayerPhases = Seq("canonicalize", "seen_filter", "bloom_build", "hot_leg", "robots",
    "schedule", "fetch_batches", "checkpoint", "seen_append",
    "split_decode", "verify_checks", "verify_refs", "verify_segments", "extract")

  /** Every per-layer metric of the traced run; a layer a workload does not
    * run reads 0.
    */
  val PerLayer: Seq[(String, String)] = Seq(
    "frontier.canonicalize_s" -> "s", "frontier.seen_filter_s" -> "s",
    "frontier.seen_filter_rows_in" -> "count", "frontier.seen_filter_rows_out" -> "count",
    "frontier.round_exchanges" -> "count", "frontier.bloom_build_s" -> "s",
    "frontier.bloom_bytes" -> "B", "frontier.bloom_fp_rate" -> "ratio",
    "frontier.bloom_useful_ratio" -> "ratio", "frontier.hot_rows" -> "count",
    "frontier.hot_leg_s" -> "s", "frontier.hosts_capped" -> "count",
    "frontier.rows_capped" -> "count", "frontier.robots_s" -> "s",
    "frontier.schedule_s" -> "s", "frontier.fetch_batches_s" -> "s",
    "frontier.checkpoint_s" -> "s", "frontier.checkpoint_bytes" -> "B",
    "frontier.seen_append_s" -> "s", "frontier.seen_rows" -> "count",
    "frontier.ckpt_bytes_per_url" -> "B",
    "sources.inflate_mb_per_s" -> "MB/s", "sources.zstd_mb_per_s" -> "MB/s",
    "sources.parse_records_per_s" -> "1/s", "sources.split_decode_s" -> "s",
    "sources.split_tasks" -> "count", "core.digest_mb_per_s" -> "MB/s",
    "ops.verify_checks_s" -> "s", "ops.verify_refs_s" -> "s",
    "ops.verify_segments_s" -> "s", "ops.extract_s" -> "s", "ops.http_ok_ratio" -> "ratio",
    "trace.items_per_s_untraced" -> "1/s", "trace.items_per_s_traced" -> "1/s",
    "trace.overhead_frac" -> "ratio") ++
    LayerPhases.flatMap(p => Seq("shuffle_write_mb" -> "MB", "shuffle_read_mb" -> "MB",
      "spill_mb" -> "MB", "task_skew" -> "ratio", "gc_s" -> "s", "tasks" -> "count")
      .map { case (m, u) => s"spark.$p.$m" -> u })

  private def arg(args: Array[String], name: String): Option[String] =
    args.sliding(2).collectFirst { case Array(`name`, v) => v }

  private def procStatCpu(): Array[Long] = {
    val line = new String(Files.readAllBytes(Paths.get("/proc/stat")), UTF_8)
      .linesIterator.next()
    line.trim.split("\\s+").drop(1).map(_.toLong)
  }

  private def num(x: Double): String = {
    require(!x.isNaN && !x.isInfinite, s"non-finite metric value $x")
    java.lang.Double.toString(x)
  }

  private def storedFingerprints(file: Option[String], key: String): Option[Vector[(Long, Long)]] =
    file.filter(f => Files.exists(Paths.get(f))).flatMap { f =>
      new String(Files.readAllBytes(Paths.get(f)), UTF_8).linesIterator
        .map(_.trim.split("\\s+")).find(_.head == key)
        .map(_.tail.toVector.map { p =>
          val Array(n, h) = p.split(":"); (n.toLong, h.toLong)
        })
    }

  def main(args: Array[String]): Unit = {
    val workload = arg(args, "--workload").getOrElse("")
    require(Workloads.contains(workload),
      s"--workload must be one of ${Workloads.mkString(", ")}")
    val seed = arg(args, "--seed").map(_.toLong).getOrElse(1L)
    val seconds = arg(args, "--seconds").map(_.toDouble).getOrElse(5.0)
    val traced = arg(args, "--trace").contains("1")
    val root = arg(args, "--root").getOrElse(".perfbench/data")
    val commit = arg(args, "--commit").getOrElse("unknown")
    val cpu0 = procStatCpu()
    val crawlRef = Option.when(workload != "warc-verify-extract") {
      val spec = crawlSpec(workload, seed)
      Future(CrawlBench.reference(spec))(ExecutionContext.global)
    }

    val (sessionS, spark) = Trace.timed {
      val cores = Runtime.getRuntime.availableProcessors()
      val s = SparkSession.builder().master(s"local[$cores]").appName("perfbench")
        .config("spark.sql.shuffle.partitions", CrawlBench.Buckets.toString)
        // skew is handled explicitly by the round (hot-host split); AQE
        // off like the engine's own round benchmark
        .config("spark.sql.adaptive.enabled", "false")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.catalogImplementation", "in-memory")
        .config("spark.local.dir", s"$root/spark-local")
        .config("spark.sql.warehouse.dir", s"$root/warehouse")
        // inputs here are a few MB: without this, the default 4 MB
        // per-file open cost packs each round's frontier into 1-2 scan
        // tasks and leaves cores idle
        .config("spark.sql.files.openCostInBytes", (64L << 10).toString)
        .getOrCreate()
      s.sparkContext.setLogLevel("ERROR")
      s
    }
    val w: Workload =
      if (workload == "warc-verify-extract") new WarcBench(spark, warcSpec(seed), root)
      else new CrawlBench(spark, workload, crawlSpec(workload, seed), root, crawlRef.get)
    val genS = Stats.median((1 to SetupRepeats).map(_ => Trace.timed(w.generate())._1))
    val (warmS, _) = Trace.timed(w.warmUp())
    val setupS = sessionS + genS + warmS

    val stored = w match {
      case c: CrawlBench =>
        val line = c.fingerprintLine
        val s = storedFingerprints(arg(args, "--fingerprints"), line.split(" ").head)
        println(s"fingerprint $line (${if (s.isDefined) "stored: checked" else "none stored"})")
        s
      case _ => None
    }
    val (run, metrics) =
      if (!traced) {
        val m = w.measure(seconds, stored, w.minIterations, _ => ())
        (m, Seq(
          ("setup_s", setupS, "s"),
          ("items_per_s", m.itemsPerS, "1/s"),
          ("phase1_per_s", m.phase1PerS, "1/s"),
          ("phase2_per_s", m.phase2PerS, "1/s"),
          ("peak_heap_mb", HeapPeak.mb, "MB")))
      } else {
        // untraced and traced iterations alternate, so both see the same
        // point of the JVM's warm-up
        val trace = new Trace(spark)
        val t = w.measure(seconds, stored, math.max(2, w.minIterations),
          i => if (i % 2 == 0) trace.detach() else trace.attach())
        trace.attach()
        val layers = w.layers(trace)
        val sparkM = LayerPhases.flatMap(trace.sparkMetrics)
        trace.detach()
        val plainRate = Stats.median(t.perIteration.indices.collect {
          case i if i % 2 == 0 => t.perIteration(i) })
        val tracedRate = Stats.median(t.perIteration.indices.collect {
          case i if i % 2 == 1 => t.perIteration(i) })
        val fromLoop = t.report.collect {
          case ("ckpt_bytes_per_url", v) => ("frontier.ckpt_bytes_per_url", v, "B")
          case ("seen_rows", v) => ("frontier.seen_rows", v, "count")
        }
        val given = (layers ++ sparkM ++ fromLoop ++
          Seq(("trace.items_per_s_untraced", plainRate, "1/s"),
            ("trace.items_per_s_traced", tracedRate, "1/s"),
            ("trace.overhead_frac", 1.0 - tracedRate / plainRate, "ratio")))
          .map(m => m._1 -> m).toMap
        require(given.keySet.subsetOf(PerLayer.map(_._1).toSet),
          s"undeclared per-layer metrics: ${given.keySet -- PerLayer.map(_._1)}")
        (t, PerLayer.map { case (n, u) => given.getOrElse(n, (n, 0.0, u)) })
      }
    val cpu1 = procStatCpu()
    val steal = cpu1(7) - cpu0(7)
    val totalJiffies = cpu1.take(8).sum - cpu0.take(8).sum
    val loadavg = new String(Files.readAllBytes(Paths.get("/proc/loadavg")), UTF_8)
      .split(" ").take(3).mkString(",")
    println(s"run workload=$workload seed=$seed seconds=$seconds trace=${if (traced) 1 else 0} " +
      s"nproc=${Runtime.getRuntime.availableProcessors()} commit=$commit loadavg=$loadavg " +
      s"steal_s=${steal / 100.0} steal_frac=${if (totalJiffies > 0) steal.toDouble / totalJiffies else 0.0}")
    println(s"setup session_s=$sessionS generate_s=$genS warmup_s=$warmS")
    run.report.foreach { case (k, v) => println(s"report $k $v") }
    run.samples.foreach { case (k, v) => println(s"samples $k ${v.mkString(",")}") }
    run.failures.foreach(f => println(s"FAILED $f"))
    metrics.foreach { case (n, v, u) => println(s"metric $n $v $u") }

    println(s"failed_frac ${run.failed.toDouble / run.attempted}")
    val body = metrics.map { case (n, v, u) =>
      s""""$n": {"value": ${num(v)}, "unit": "$u"}"""
    }.mkString(", ")
    w.cleanup()
    spark.stop()
    println(s"""{"correct": ${run.failed == 0}, "attempted": ${run.attempted}, "failed": ${run.failed}, """ +
      s""""metrics": {$body}}""")
    System.out.flush()
  }
}

/** Local-filesystem helpers for the benchmark's own scratch files. */
object Fs {
  def bytes(p: String): Long = {
    val f = Paths.get(p)
    if (!Files.exists(f)) 0L
    else {
      val s = Files.walk(f)
      try s.filter(x => Files.isRegularFile(x) && !x.getFileName.toString.startsWith("."))
        .mapToLong(x => Files.size(x)).sum()
      finally s.close()
    }
  }

  def delete(p: String): Unit = {
    val f = Paths.get(p)
    if (Files.exists(f)) {
      val s = Files.walk(f)
      try s.sorted(java.util.Comparator.reverseOrder()).forEach(x => Files.delete(x))
      finally s.close()
    }
  }

  def read(p: String): Array[Byte] = Files.readAllBytes(Paths.get(p))

  def write(p: String, b: Array[Byte]): Unit = { Files.write(Paths.get(p), b); () }
}
