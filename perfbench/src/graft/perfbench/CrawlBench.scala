package graft.perfbench

import graft.frontier.{Politeness, Scheduler, SeenSet}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel
import org.apache.spark.util.sketch.BloomFilter

import scala.concurrent.{Await, Future}
import scala.concurrent.duration.Duration

/** crawl-fused and crawl-probe: K rounds over a half-overlapping URL
  * stream, each round `runRoundCached` → `checkpointRound` (→
  * `appendSeenClustered` on the fused path), one round in flight.
  *
  *  - crawl-fused stores frontier and seen host-clustered (bucketed
  *    parquet), so steady rounds take the co-located anti-join and the
  *    fused schedule+cap scan;
  *  - crawl-probe stores the frontier unclustered, reads seen with
  *    `loadSeen`, and adds one image-CDN host over the spread threshold,
  *    so steady rounds take the bloom build + probe + exact confirm, the
  *    url_key-then-host exchanges and the salted spread leg.
  */
final class CrawlBench(spark: SparkSession, workload: String, spec: Gen.CrawlSpec,
                       root: String, reference: Future[Vector[(Long, Long)]])
    extends Workload {
  import CrawlBench._
  import spark.implicits._

  private val fused = workload == "crawl-fused"
  private val data = s"$root/${spec.key(workload)}"
  private lazy val robotsBc = Politeness.robotsBroadcast(
    Gen.robots(spec).toDF("host", "crawl_delay_ms", "disallow_prefixes"))
  private var crawls = 0

  private val table = "perfbench_frontier"
  private val path = s"$data/frontier"

  /** Every round's rows, tagged with their round. */
  private def generated(): DataFrame = {
    val s = spec
    spark.range(0, s.rounds.toLong * s.rowsPerRound, 1, 8).mapPartitions { it =>
      it.map { i =>
        val r = (i / s.rowsPerRound).toInt
        val k = i % s.rowsPerRound
        val row =
          if (k < s.perRound) Gen.streamRow(s.seed, r.toLong * s.perRound / 2 + k, s.nHosts)
          else Gen.hotRow(s.seed, r.toLong * s.hotPerRound / 2 + k - s.perRound)
        (r, row.url, row.band, row.host)
      }
    }.toDF("round", "url", "priority_band", "host")
  }

  /** Write the frontier table, partitioned by round: host-clustered
    * (bucketed) for crawl-fused, plain parquet for crawl-probe.
    */
  def generate(): Unit =
    if (fused)
      generated().repartition(Buckets, col("host")).write.mode("overwrite")
        .partitionBy("round").bucketBy(Buckets, "host").option("path", path)
        .saveAsTable(table)
    else generated().write.mode("overwrite").partitionBy("round").parquet(path)

  /** Round r's frontier (url, priority_band, host) as the crawl scans it. */
  private def frontier(r: Int): DataFrame =
    (if (fused) spark.table(table) else spark.read.parquet(path))
      .where(col("round") === r).select("url", "priority_band", "host")

  private def noSeen(dir: String) = Scheduler.loadSeen(spark, s"$dir/none")

  private def round(r: Int, dir: String): DataFrame = {
    val seen =
      if (r == 0) noSeen(dir)
      else if (fused) Scheduler.loadSeenClustered(spark, s"$dir/seen_clustered", Buckets)
      else Scheduler.loadSeen(spark, s"$dir/out")
    Scheduler.runRoundCached(frontier(r), seen, robotsBc, numBloomBuckets = BloomBuckets,
      frontierHostClustered = fused, seenHostClustered = fused,
      hotSpreadRows = SpreadRows)
  }

  private def commit(batches: DataFrame, r: Int, dir: String): Unit = {
    Scheduler.checkpointRound(batches, s"$dir/out", r)
    if (fused)
      Scheduler.appendSeenClustered(spark.read.parquet(s"$dir/out/seen/round=$r"),
        s"$dir/seen_clustered", Buckets)
  }

  /** One crawl of `rounds` rounds into a fresh directory; round wall times. */
  private def crawl(rounds: Int = spec.rounds): (String, Vector[Double]) = {
    crawls += 1
    val dir = s"$data/crawl$crawls"
    val times = (0 until rounds).map { r =>
      Trace.timed(commit(round(r, dir), r, dir))._1
    }.toVector
    (dir, times)
  }

  // ---- oracle -------------------------------------------------------

  private lazy val expected = Await.result(reference, Duration.Inf)

  /** Check every round of the crawl in `dir`; returns the failed rounds'
    * reasons (empty when all pass).
    */
  private def check(dir: String, stored: Option[Vector[(Long, Long)]]): Vector[String] = {
    val out = spark.read.parquet(s"$dir/out/rounds")
      .select(col("round").cast("int"), col("url"), col("priority_band").cast("int"),
        col("host"), col("url_key"), col("host_seq"), col("scheduled_ms"), col("batch_id"))
      .as[(Int, String, Int, String, Long, Long, Long, Long)].collect()
      .groupBy(_._1)
    val seenRows = spark.read.parquet(s"$dir/out/seen")
      .select(col("round").cast("int"), col("url_key")).as[(Int, Long)].collect()
    val scheduled = scala.collection.mutable.HashSet.empty[Long]
    (0 until spec.rounds).flatMap { r =>
      val got = out.getOrElse(r, Array.empty).toVector.map { case (_, u, b, h, k, s, ms, bid) =>
        Gen.Sched(u, b, h, k, s, ms, bid)
      }
      val keys = got.map(_.urlKey)
      val seenAtStart = seenRows.iterator.filter(_._1 < r).map(_._2).toSet
      val seqOk = got.groupBy(_.host).values.forall { rows =>
        val seqs = rows.map(_.hostSeq).sorted
        seqs == (1L to seqs.size.toLong) && seqs.size <= Cap
      }
      val fp = Gen.fingerprint(got)
      val problems = Seq(
        (keys.distinct.size != keys.size || keys.exists(scheduled.contains)) ->
          "a url_key was scheduled twice",
        keys.exists(seenAtStart.contains) -> "a scheduled key was already seen",
        !seqOk -> "host_seq is not 1..n with n <= cap",
        (fp != expected(r)) -> s"rows/hash $fp != reference ${expected(r)}",
        stored.exists(_.lift(r) != Some(fp)) -> s"rows/hash $fp != stored fingerprint")
        .collect { case (true, why) => s"round ${r + 1}: $why" }
      scheduled ++= keys
      problems.headOption
    }.toVector
  }

  // ---- runs ---------------------------------------------------------

  /** Rounds 1 and 2 of a crawl: both plan shapes (empty and non-empty
    * seen set) compiled and JIT-warmed before anything is timed.
    */
  def warmUp(): Unit = { val (dir, _) = crawl(rounds = 2); Fs.delete(dir) }

  def fingerprintLine: String =
    s"${spec.key(workload)} " + expected.map { case (n, h) => s"$n:$h" }.mkString(" ")

  /** Closed loop of crawls until `seconds` of crawl wall time. */
  val minIterations = 1

  def measure(seconds: Double, stored: Option[Vector[(Long, Long)]], atLeast: Int,
              before: Int => Unit): Measured = {
    val firsts, steadies = Vector.newBuilder[Double]
    var total = 0.0
    var n = 0
    var attempted, failed = 0L
    val bytesPerUrl, seenRows = Vector.newBuilder[Double]
    val failures = Vector.newBuilder[String]
    val rates = Vector.newBuilder[Double]
    while (total < seconds || n < atLeast) {
      before(n)
      val (dir, times) = HeapPeak(crawl())
      rates += spec.rounds * spec.rowsPerRound / times.sum
      n += 1
      total += times.sum
      firsts += times.head
      steadies ++= times.tail
      val bad = check(dir, stored)
      attempted += spec.rounds
      failed += bad.size
      failures ++= bad
      seenRows += (if (fused) Scheduler.loadSeenClustered(spark, s"$dir/seen_clustered", Buckets)
        else Scheduler.loadSeen(spark, s"$dir/out")).count().toDouble
      val scheduled = expected.map(_._1).sum
      bytesPerUrl += (Fs.bytes(s"$dir/out") + Fs.bytes(s"$dir/seen_clustered")).toDouble /
        math.max(1L, scheduled)
      Fs.delete(dir)
    }
    val perRound = spec.rowsPerRound.toDouble
    val f = firsts.result(); val st = steadies.result()
    Measured(
      itemsPerS = n * spec.rounds * perRound / total,
      phase1PerS = perRound / Stats.median(f),
      phase2PerS = perRound / Stats.median(st),
      perIteration = rates.result(),
      attempted = attempted, failed = failed, failures = failures.result(),
      report = Seq(
        "crawls" -> n.toDouble,
        "urls_per_s" -> n * spec.rounds * perRound / total,
        "first_round_s" -> Stats.median(f),
        "steady_round_s" -> Stats.median(st),
        "ckpt_bytes_per_url" -> Stats.median(bytesPerUrl.result()),
        "seen_rows" -> Stats.median(seenRows.result())),
      samples = Seq("first_round_s" -> f, "steady_round_s" -> st))
  }

  /** Per-layer self times: each layer's public function timed alone over
    * a persisted copy of its round-2 input, in its own job group.
    */
  def layers(trace: Trace): Seq[(String, Double, String)] = {
    val dir = s"$data/layers"
    val out = s"$dir/out"
    val seenPath = s"$dir/seen_clustered"
    commit(round(0, dir), 0, dir)
    val seen0 = spark.read.parquet(s"$out/seen/round=0").select("host", "url_key")
      .persist(StorageLevel.MEMORY_AND_DISK)
    val nSeen = seen0.count()
    val rawP = persist(frontier(1))

    val (canonS, _) = trace.phase("canonicalize")(Trace.timed(
      Trace.drain(Scheduler.canonicalize(rawP))))

    // seen filter, the way each path's round plans it
    var bloomS, bloomBytes, fpRate, useful = 0.0
    val (candidates, seenFilterS, fresh) =
      if (fused) {
        Scheduler.saveSeenClustered(seen0, seenPath, Buckets)
        val seenC = Scheduler.loadSeenClustered(spark, seenPath, Buckets)
        val keyed = Scheduler.canonicalize(frontier(1)).drop("host_hash")
        val filtered = keyed.join(
          seenC.select(col("host").as("__h"), col("url_key").as("__k")),
          col("host") <=> col("__h") && col("url_key") === col("__k"), "left_anti")
        val (s, _) = trace.phase("seen_filter")(Trace.timed(Trace.drain(filtered)))
        (keyed, s, persist(filtered))
      } else {
        val cand = persist(Scheduler.dedupeWithinBatch(Scheduler.canonicalize(rawP)))
        val perBucket = math.max(1024L, nSeen * 5L / (4L * BloomBuckets) + 1L)
        val (bs, buckets) = trace.phase("bloom_build")(Trace.timed {
          val b = SeenSet.buildBuckets(seen0, "url_key", BloomBuckets,
            expectedPerBucket = perBucket).persist(StorageLevel.MEMORY_AND_DISK)
          b.count(); b
        })
        bloomS = bs
        val blooms = buckets.as[(Long, Array[Byte])].collect().map { case (b, bytes) =>
          b -> BloomFilter.readFrom(new java.io.ByteArrayInputStream(bytes))
        }.toMap
        bloomBytes = buckets.agg(sum(length(col("bloom")))).as[Long].head().toDouble
        val filtered = SeenSet.probeAndConfirm(cand, seen0, "url_key", buckets, BloomBuckets,
          buildBytesHint = SeenSet.estimatedBloomBytes(perBucket, BloomBuckets))
        val (s, _) = trace.phase("seen_filter")(Trace.timed(Trace.drain(filtered)))
        val seenKeys = seen0.select("url_key").as[Long].collect().toSet
        val keys = cand.select("url_key").as[Long].collect()
        val positive = keys.count(k => blooms.get(math.floorMod(k, BloomBuckets.toLong))
          .exists(_.mightContainLong(k)))
        val confirmed = keys.count(seenKeys.contains)
        fpRate = (positive - confirmed).toDouble / math.max(1, keys.length - confirmed)
        useful = if (positive == 0) 0.0 else confirmed.toDouble / positive
        buckets.unpersist(false)
        (cand, s, persist(filtered))
      }
    val rowsIn = candidates.count().toDouble
    val rowsOut = fresh.count().toDouble

    // hot hosts: raw rows per host over the spread threshold
    val hot = rawP.groupBy("host").count().where(col("count") > SpreadRows)
      .as[(String, Long)].collect()
    val hotRows = hot.map(_._2).sum.toDouble
    val deduped = persist(if (fused) Scheduler.dedupeWithinBatch(fresh) else fresh)
    val hotLegS =
      if (hot.isEmpty) 0.0
      else trace.phase("hot_leg")(Trace.timed(Trace.drain(Politeness.schedule(
        Politeness.capPerHost(Politeness.applyRobotsMap(
          deduped.where(col("host").isin(hot.map(_._1): _*)), robotsBc), Cap)))))._1

    val (robotsS, _) = trace.phase("robots")(Trace.timed(
      Trace.drain(Politeness.applyRobotsMap(deduped, robotsBc))))
    val robotted = persist(Politeness.applyRobotsMap(deduped, robotsBc))
    val capped = robotted.groupBy("host").count().where(col("count") > Cap)
      .as[(String, Long)].collect()
    val (scheduleS, _) = trace.phase("schedule")(Trace.timed(
      Trace.drain(Politeness.schedule(robotted).where(col("host_seq") <= Cap))))
    val sched = persist(Politeness.schedule(robotted).where(col("host_seq") <= Cap))
    val (batchesS, _) = trace.phase("fetch_batches")(Trace.timed(
      Trace.drain(Politeness.fetchBatches(sched, Budget))))

    val batches1 = round(1, dir)
    val exchanges = Trace.exchanges(batches1).toDouble
    val b1 = persist(batches1)
    val (ckptS, _) = trace.phase("checkpoint")(Trace.timed(
      Scheduler.checkpointRound(b1, out, 1)))
    val ckptBytes = (Fs.bytes(s"$out/rounds/round=1") + Fs.bytes(s"$out/seen/round=1")).toDouble
    val appendS =
      if (!fused) 0.0
      else trace.phase("seen_append")(Trace.timed(Scheduler.appendSeenClustered(
        spark.read.parquet(s"$out/seen/round=1"), seenPath, Buckets)))._1

    Seq(seen0, rawP, fresh, deduped, robotted, sched, b1).foreach(_.unpersist(false))
    if (!fused) candidates.unpersist(false)
    Fs.delete(dir)

    Seq(
      ("frontier.canonicalize_s", canonS, "s"),
      ("frontier.seen_filter_s", seenFilterS, "s"),
      ("frontier.seen_filter_rows_in", rowsIn, "count"),
      ("frontier.seen_filter_rows_out", rowsOut, "count"),
      ("frontier.round_exchanges", exchanges, "count"),
      ("frontier.bloom_build_s", bloomS, "s"),
      ("frontier.bloom_bytes", bloomBytes, "B"),
      ("frontier.bloom_fp_rate", fpRate, "ratio"),
      ("frontier.bloom_useful_ratio", useful, "ratio"),
      ("frontier.hot_rows", hotRows, "count"),
      ("frontier.hot_leg_s", hotLegS, "s"),
      ("frontier.hosts_capped", capped.length.toDouble, "count"),
      ("frontier.rows_capped", capped.map(_._2 - Cap).sum.toDouble, "count"),
      ("frontier.robots_s", robotsS, "s"),
      ("frontier.schedule_s", scheduleS, "s"),
      ("frontier.fetch_batches_s", batchesS, "s"),
      ("frontier.checkpoint_s", ckptS, "s"),
      ("frontier.checkpoint_bytes", ckptBytes, "B"),
      ("frontier.seen_append_s", appendS, "s"))
  }

  private def persist(df: DataFrame): DataFrame = {
    val p = df.persist(StorageLevel.MEMORY_AND_DISK)
    p.count()
    p
  }

  def cleanup(): Unit = Fs.delete(data)
}

object CrawlBench {
  val Buckets = 8
  val BloomBuckets = 16
  val Budget = 100
  val Cap: Int = Budget * Scheduler.DefaultMaxBatchesPerHost
  /** Raw rows per round above which a host takes the salted spread leg.
    * The engine's automatic threshold is floored at 1M rows, which a
    * 10-second run cannot feed every round; the benchmark passes 4 × cap
    * instead, on both crawl workloads.
    */
  val SpreadRows: Long = 4L * Cap

  /** Per round (rows, hash) of the generator's restatement of the
    * scheduling contract; pure JVM code, so it can run while Spark starts.
    */
  def reference(spec: Gen.CrawlSpec): Vector[(Long, Long)] = {
    val seen = scala.collection.mutable.HashSet.empty[Long]
    (0 until spec.rounds).map { r =>
      val rows = Gen.expectRound(spec, r, seen, Cap, Budget)
      seen ++= rows.map(_.urlKey)
      Gen.fingerprint(rows)
    }.toVector
  }
}
