package graft

import graft.frontier.Scheduler
import graft.synth.Synth
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Checkpoint/resume (north rule; SURVEY §7.4 #7): rounds append to
  * parquet round dirs (the sandbox stand-in for Iceberg snapshots);
  * resuming from disk must equal an uninterrupted run.
  */
class CheckpointSpec extends AnyFunSuite {
  import TestSpark.spark
  import spark.implicits._

  private def frontier(seed: Long, n: Int) =
    Synth.frontierSeed(spark, n, nHosts = 20, seed = seed).toDF()
      .select($"url", $"priority_band")

  test("kill-and-resume mid-crawl equals the uninterrupted run") {
    val dir = java.nio.file.Files.createTempDirectory("graft-ckpt").toString
    val robots = Synth.robots(spark, 20).toDF()

    // round 1: fresh seen set; checkpoint it
    val r1 = Scheduler.runRound(frontier(1, 800), Scheduler.loadSeen(spark, dir), robots)
    Scheduler.checkpointRound(r1, dir, 1)

    // "crash": a NEW process would reload seen from disk. Simulate both:
    val seenFromDisk = Scheduler.loadSeen(spark, dir)
    val seenInMemory = r1.select("url_key").distinct()

    val round2Input = frontier(1, 800).unionByName(frontier(2, 500))
    def urls(df: org.apache.spark.sql.DataFrame): Seq[String] =
      df.select("canonical_url").as[String].collect().sorted.toSeq

    val resumed = urls(Scheduler.runRound(round2Input, seenFromDisk, robots))
    val continuous = urls(Scheduler.runRound(round2Input, seenInMemory, robots))
    assert(resumed == continuous)

    // all round-1 urls are excluded from round 2 (seen-set semantics)
    val r1Urls = urls(r1).toSet
    assert(resumed.forall(u => !r1Urls.contains(u)))
    // and round 2 does schedule genuinely new urls
    assert(resumed.nonEmpty)
  }

  test("multi-round seen set accumulates across checkpoints") {
    val dir = java.nio.file.Files.createTempDirectory("graft-ckpt2").toString
    val robots = Synth.robots(spark, 20).toDF()
    var totalSeen = 0L
    for (round <- 1 to 3) {
      val f = frontier(round.toLong, 400)
      val out = Scheduler.runRound(f, Scheduler.loadSeen(spark, dir), robots)
      Scheduler.checkpointRound(out, dir, round)
      val seenNow = Scheduler.loadSeen(spark, dir).distinct().count()
      assert(seenNow > totalSeen) // each round contributes new keys
      totalSeen = seenNow
    }
    // replaying round 3's input against the full seen set yields nothing new
    val replay = Scheduler.runRound(frontier(3, 400),
      Scheduler.loadSeen(spark, dir), robots)
    assert(replay.isEmpty)
  }

  test("per-partition lineage metrics cover every scheduled host") {
    val robots = Synth.robots(spark, 20).toDF()
    val out = Scheduler.runRound(frontier(7, 600),
      Scheduler.loadSeen(spark, "/tmp/graft-ckpt-none"), robots)
    val metrics = Scheduler.partitionMetrics(out)
    val hostsOut = out.select("host").distinct().count()
    assert(metrics.select("host").distinct().count() == hostsOut)
    assert(metrics.agg(sum("n_urls")).head.getLong(0) == out.count())
  }

  test("two clustered seen tables in one session stay bound to their own " +
    "paths (catalog identity is a 64-bit path hash, not hashCode)") {
    val base = java.nio.file.Files.createTempDirectory("graft-seenc").toString
    val a = Seq(("h1.test", 11L), ("h2.test", 12L)).toDF("host", "url_key")
    val b = Seq(("h9.test", 91L)).toDF("host", "url_key")
    Scheduler.saveSeenClustered(a, s"$base/a", buckets = 2)
    Scheduler.saveSeenClustered(b, s"$base/b", buckets = 2)
    // interleaved appends: each delta must land in ITS path's directory
    Scheduler.appendSeenClustered(
      Seq(("h3.test", 13L)).toDF("host", "url_key"), s"$base/a", buckets = 2)
    Scheduler.appendSeenClustered(
      Seq(("h8.test", 92L)).toDF("host", "url_key"), s"$base/b", buckets = 2)
    val gotA = Scheduler.loadSeenClustered(spark, s"$base/a", buckets = 2)
      .select("url_key").as[Long].collect().sorted.toSeq
    val gotB = Scheduler.loadSeenClustered(spark, s"$base/b", buckets = 2)
      .select("url_key").as[Long].collect().sorted.toSeq
    assert(gotA == Seq(11L, 12L, 13L))
    assert(gotB == Seq(91L, 92L))
    // a stale registration pointing elsewhere is re-registered, not
    // appended into: register the A-name manually at B's location, then
    // append to A — A's rows must still land under a, not b
    val tblA = f"graft_seen_c${graft.core.Xxh3.hash(s"$base/a".getBytes("UTF-8"))}%016x"
    spark.sql(s"DROP TABLE IF EXISTS $tblA")
    spark.sql(s"CREATE TABLE $tblA (host STRING, url_key BIGINT) USING parquet " +
      s"CLUSTERED BY (host) INTO 2 BUCKETS LOCATION '$base/b'")
    Scheduler.appendSeenClustered(
      Seq(("h4.test", 14L)).toDF("host", "url_key"), s"$base/a", buckets = 2)
    assert(Scheduler.loadSeenClustered(spark, s"$base/a", buckets = 2)
      .select("url_key").as[Long].collect().sorted.toSeq == Seq(11L, 12L, 13L, 14L))
    assert(Scheduler.loadSeenClustered(spark, s"$base/b", buckets = 2)
      .select("url_key").as[Long].collect().sorted.toSeq == Seq(91L, 92L))
  }

  test("a failing snapshot write returns only after the seen write, with no cache left") {
    val dir = java.nio.file.Files.createTempDirectory("graft-ckpt-fail").toString
    // `rounds` is a plain file, so the snapshot write cannot create its
    // directory; the seen write is unaffected
    java.nio.file.Files.write(java.nio.file.Paths.get(dir, "rounds"), Array[Byte](1))
    val robots = Synth.robots(spark, 20).toDF()
    val batches = Scheduler.runRound(frontier(5, 600), Scheduler.loadSeen(spark, dir), robots)
    intercept[Exception](Scheduler.checkpointRound(batches, dir, 1))
    assert(new java.io.File(s"$dir/seen/round=1/_SUCCESS").exists(),
      "checkpointRound returned before its seen write finished")
    assert(batches.storageLevel == org.apache.spark.storage.StorageLevel.NONE)
    assert(spark.read.parquet(s"$dir/seen/round=1").count() ==
      batches.select("host", "url_key").distinct().count())
  }

  test("concurrent saveSeenClustered calls on different paths keep their own rows") {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration.Duration
    implicit val ec: scala.concurrent.ExecutionContext =
      scala.concurrent.ExecutionContext.global
    val base = java.nio.file.Files.createTempDirectory("graft-seen-conc").toString
    val sets = (0 until 4).map { i =>
      s"$base/s$i" -> (0 until 50).map(k => (s"h${k % 5}.test", i * 1000L + k))
    }
    val writes = sets.map { case (path, rows) =>
      Future(Scheduler.saveSeenClustered(rows.toDF("host", "url_key"), path, buckets = 2))
    }
    writes.foreach(Await.result(_, Duration.Inf))
    sets.foreach { case (path, rows) =>
      val got = Scheduler.loadSeenClustered(spark, path, buckets = 2)
        .select("url_key").as[Long].collect().sorted.toSeq
      assert(got == rows.map(_._2).sorted, path)
    }
  }
}
