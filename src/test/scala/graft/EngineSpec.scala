package graft

import graft.core.Field
import graft.frontier.{Canonical, Politeness, Scheduler, SeenSet}
import graft.ops.{ExportImportOp, VerifyOp}
import graft.synth.Synth
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class CanonicalSpec extends AnyFunSuite {
  import TestSpark.spark
  import spark.implicits._

  private def canon(url: String): String =
    Seq(Tuple1(url)).toDF("url").select(Canonical.canonicalUrl($"url")).head.getString(0)

  test("canonicalization contract") {
    assert(canon("https://EX.com:443/a?b=2&a=1#f") == "https://ex.com/a?a=1&b=2")
    assert(canon("http://ex.com:80/a") == "http://ex.com/a")
    assert(canon("http://ex.com:8080/a") == "http://ex.com:8080/a")
    assert(canon("https://ex.com.") == "https://ex.com/")
    assert(canon("HTTP://User@Ex.Com/P?z=1") == "http://ex.com/P?z=1") // path case kept
  }
}

class SeenSetSpec extends AnyFunSuite {
  import TestSpark.spark
  import spark.implicits._

  test("bloom probe + anti-join confirm ≡ exact anti-join at any fpp") {
    val candidates = (0L until 2000L).map(k => (k, s"url-$k")).toDF("url_key", "url")
    val seen = (0L until 2000L by 3).toDF("url_key")
    val expected = SeenSet.dedupeExact(candidates, seen, "url_key")
      .select("url_key").as[Long].collect().sorted
    for (fpp <- Seq(0.5, 0.01)) { // even absurd fpp must not change results
      val buckets = SeenSet.buildBuckets(seen, "url_key", 8, 1000, fpp)
      val got = SeenSet.probeAndConfirm(candidates, seen, "url_key", buckets, 8)
        .select("url_key").as[Long].collect().sorted
      assert(got.sameElements(expected), s"fpp=$fpp")
    }
  }

  test("probeAndConfirm leaves no cached bucket table on any path") {
    val candidates = (0L until 600L).map(k => (k, s"url-$k")).toDF("url_key", "url")
    val seen = (0L until 600L by 4).toDF("url_key")
    val expected = SeenSet.dedupeExact(candidates, seen, "url_key")
      .select("url_key").as[Long].collect().sorted
    for (maxBytes <- Seq(0L, 256L << 20); hint <- Seq(-1L, 1L << 20)) {
      val buckets = SeenSet.buildBuckets(seen, "url_key", 8, 1000)
      val got = SeenSet.probeAndConfirm(candidates, seen, "url_key", buckets, 8,
          maxBroadcastBytes = maxBytes, buildBytesHint = hint)
        .select("url_key").as[Long].collect().sorted
      assert(got.sameElements(expected), s"maxBytes=$maxBytes hint=$hint")
      assert(buckets.storageLevel == org.apache.spark.storage.StorageLevel.NONE,
        s"bucket table left cached: maxBytes=$maxBytes hint=$hint")
    }
  }
}

class PolitenessSpec extends AnyFunSuite {
  import TestSpark.spark
  import spark.implicits._

  test("schedule is deterministic across partitioning (north rule W3)") {
    val frontier = Scheduler.canonicalize(
      Synth.frontierSeed(spark, 3000, nHosts = 50).toDF()
        .select($"url", $"priority_band"))
    val robots = Synth.robots(spark, 50).toDF()
    def run(parts: Int) =
      Politeness.schedule(Politeness.applyRobots(frontier.repartition(parts), robots))
        .select("canonical_url", "host_seq", "scheduled_ms")
        .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).sortBy(_._1)
    assert(run(1).sameElements(run(16)))
  }

  test("robots disallow prefixes drop URLs; delay defaults when no entry") {
    val f = Scheduler.canonicalize(Seq(
      ("https://h1.example.test/private0/x", 0),
      ("https://h1.example.test/ok", 0),
      ("https://unknown.example.test/ok", 0)).toDF("url", "priority_band"))
    val robots = Seq(("h1.example.test", 100, Seq("/private0")))
      .toDF("host", "crawl_delay_ms", "disallow_prefixes")
    val out = Politeness.applyRobots(f, robots)
      .select("canonical_url", "crawl_delay_ms").collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(out.size == 2)
    assert(out("https://h1.example.test/ok") == 100L)
    assert(out("https://unknown.example.test/ok") == Politeness.DefaultDelayMs)
  }

  test("applyRobotsMap (crawl-lifetime broadcast) == applyRobots (join), runRoundCached == runRound") {
    val raw = Synth.frontierSeed(spark, 3000, nHosts = 40).toDF()
      .select($"url", $"priority_band")
    val robots = Synth.robots(spark, 40).toDF()
    val bc = Politeness.robotsBroadcast(robots)
    val f = Scheduler.canonicalize(raw)
    val a = Politeness.applyRobots(f, robots)
      .select("canonical_url", "crawl_delay_ms")
    val b = Politeness.applyRobotsMap(f, bc)
      .select("canonical_url", "crawl_delay_ms")
    assert(a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty)
    val seen = Scheduler.loadSeen(spark, "/tmp/none")
    val r1 = Scheduler.runRound(raw, seen, robots)
      .select("canonical_url", "host_seq", "scheduled_ms", "batch_id")
    val r2 = Scheduler.runRoundCached(raw, seen, bc)
      .select("canonical_url", "host_seq", "scheduled_ms", "batch_id")
    assert(r1.exceptAll(r2).isEmpty && r2.exceptAll(r1).isEmpty)
  }

  test("fused probe-free round == agg-dedupe composition, incl. a hot host") {
    // half the frontier on one degenerate host → the hot leg is active;
    // the fused round must equal capPerHost over the plain composition
    val raw = Synth.frontierSeed(spark, 3000, nHosts = 40).toDF()
      .select($"url", $"priority_band")
      .unionByName(spark.range(900).toDF("i").select(
        concat(lit("https://hot.example.test/u/"), $"i").as("url"),
        lit(0).as("priority_band")))
    val robots = Synth.robots(spark, 40).toDF()
    val cols = Seq("canonical_url", "host_seq", "scheduled_ms", "batch_id")
    val got = Scheduler.runRound(raw, Scheduler.loadSeen(spark, "/tmp/none"),
        robots, maxPerHostPerRound = 500)
      .select(cols.map(col): _*)
    val want = Politeness.fetchBatches(Politeness.schedule(Politeness.capPerHost(
        Politeness.applyRobots(
          Scheduler.dedupeWithinBatch(Scheduler.canonicalize(raw)), robots), 500)), 100)
      .select(cols.map(col): _*)
    assert(got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty)
  }

  test("clustered round on a bucketed frontier == repartitioned round, fewer exchanges") {
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    val raw = Synth.frontierSeed(spark, 3000, nHosts = 40).toDF()
      .select($"url", $"priority_band")
      .withColumn("host", Canonical.hostOf($"url"))
    val dir = java.nio.file.Files.createTempDirectory("graft-bucketed").toString
    spark.sql("DROP TABLE IF EXISTS graft_test_frontier")
    raw.repartition(4, $"host").write.mode("overwrite").bucketBy(4, "host")
      .option("path", s"$dir/frontier").saveAsTable("graft_test_frontier")
    val table = spark.table("graft_test_frontier")
    val robots = Synth.robots(spark, 40).toDF()
    val seen = Scheduler.loadSeen(spark, "/tmp/none")
    val cols = Seq("canonical_url", "host_seq", "scheduled_ms", "batch_id")
    val clustered = Scheduler.runRound(table, seen, robots,
      frontierHostClustered = true)
    val plain = Scheduler.runRound(raw, seen, robots)
    val a = clustered.select(cols.map(col): _*)
    val b = plain.select(cols.map(col): _*)
    assert(a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty)
    // the bucketed scan's hashpartitioning(host) must eliminate the
    // round's full-frontier exchange;
    // AQE off for the inspection — AdaptiveSparkPlanExec hides the
    // exchanges until execution
    val aqeBefore = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      def nEx(df: org.apache.spark.sql.DataFrame, clustered: Boolean) =
        Scheduler.runRound(df, seen, robots, frontierHostClustered = clustered)
          .queryExecution.executedPlan
          .collect { case e: ShuffleExchangeExec => e }.size
      assert(nEx(table, true) < nEx(raw, false),
        s"clustered=${nEx(table, true)} plain=${nEx(raw, false)}")
    } finally spark.conf.set("spark.sql.adaptive.enabled", aqeBefore)
  }

  test("frontierHostClustered stays a performance contract when it LIES") {
    // the flag's doc promises: if the input is NOT actually clustered,
    // the output is unchanged (the fused scan declares its clustering on
    // host, so Catalyst adds the exchange the skipped repartition left
    // out). A round-robin-partitioned frontier with the flag set must
    // equal the honest run — with hosts straddling partitions, a scan
    // would emit duplicate host_seq values and uncollapsed dups.
    val raw = Synth.frontierSeed(spark, 2500, nHosts = 30).toDF()
      .select($"url", $"priority_band")
      .withColumn("host", Canonical.hostOf($"url"))
    val lying = raw.repartition(13) // round-robin: hosts straddle
    val robots = Synth.robots(spark, 30).toDF()
    val seen = Scheduler.loadSeen(spark, "/tmp/none")
    val cols = Seq("canonical_url", "host_seq", "scheduled_ms", "batch_id")
    val a = Scheduler.runRound(lying, seen, robots, frontierHostClustered = true)
      .select(cols.map(col): _*)
    val b = Scheduler.runRound(raw, seen, robots)
      .select(cols.map(col): _*)
    assert(a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty)
  }

  test("fused pass survives null priority_band rows") {
    // a nullable band must not crash the Option[Int] encoder, and the
    // null band orders FIRST within its host — same as the window form
    val raw = Synth.frontierSeed(spark, 800, nHosts = 10).toDF()
      .select($"url", $"priority_band")
      .unionByName(Seq(("https://h00001.example.test/nullband", null.asInstanceOf[Integer]))
        .toDF("url", "priority_band").select($"url", $"priority_band".cast("int")))
    val robots = Synth.robots(spark, 10).toDF()
    val seen = Scheduler.loadSeen(spark, "/tmp/none")
    val out = Scheduler.runRound(raw, seen, robots)
    val nullRow = out.where($"canonical_url".contains("nullband"))
      .select($"priority_band", $"host_seq").collect()
    assert(nullRow.length == 1 && nullRow.head.isNullAt(0))
    // nulls-first politeness order: the null-band row is its host's seq 1
    assert(nullRow.head.getLong(1) == 1L)
  }

  test("fused pass accepts a LONG priority_band column (pre-fusion parity)") {
    // a spark.range/pmod-derived frontier carries a BIGINT band; the
    // pre-fusion agg/window dedupe paths accepted it, so the fused scan
    // must too — and keep it BIGINT (no narrowing cast that could
    // overflow), on the bare and on an extra-column frontier alike
    import org.apache.spark.sql.types.{IntegerType, LongType}
    val raw = Synth.frontierSeed(spark, 600, nHosts = 8).toDF()
      .select($"url", $"priority_band")
    val robots = Synth.robots(spark, 8).toDF()
    val seen = Scheduler.loadSeen(spark, "/tmp/none")
    val cols = Seq("canonical_url", "host_seq", "scheduled_ms", "batch_id")
    for (frontier <- Seq(raw, raw.withColumn("depth", (xxhash64($"url") % 5).cast("int")))) {
      val long = Scheduler.runRound(frontier.withColumn("priority_band",
        $"priority_band".cast("long")), seen, robots)
      val int = Scheduler.runRound(frontier, seen, robots)
      assert(long.schema("priority_band").dataType == LongType)
      assert(int.schema("priority_band").dataType == IntegerType)
      val a = long.select(cols.map(col): _*)
      val b = int.select(cols.map(col): _*)
      assert(a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty)
    }
  }

  test("warm host over the cap: exactly cap rows, batch_id from host_seq") {
    // one warm host (800 rows, cap 300) + small hosts + a null-url row
    val raw = Synth.frontierSeed(spark, 1500, nHosts = 25).toDF()
      .select($"url", $"priority_band")
      .unionByName((1 to 800).toDF("i").select(
        concat(lit("https://warm.example.test/u/"), $"i").as("url"),
        ($"i" % 3).as("priority_band")))
      .unionByName(Seq((null.asInstanceOf[String], 1)).toDF("url", "priority_band"))
    val robots = Synth.robots(spark, 25).toDF()
    val seen = Scheduler.loadSeen(spark, "/tmp/none")
    val cap = 300
    val warm = Scheduler.runRound(raw, seen, robots, maxPerHostPerRound = cap)
      .where($"host" === "warm.example.test")
      .select("host_seq", "batch_id").as[(Long, Long)].collect().sorted.toSeq
    assert(warm.map(_._1) == (1L to cap.toLong))
    // batch_id = (host_seq - 1) / perHostBudget (default budget 100)
    assert(warm.forall { case (seq, batch) => batch == (seq - 1) / 100 })
  }

  test("fused seen round (both tables host-clustered) == probe path, zero exchanges") {
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    // skewed frontier + a hot host + null-url rows
    val raw = Synth.frontierSeed(spark, 3000, nHosts = 40).toDF()
      .select($"url", $"priority_band")
      .unionByName((1 to 900).toDF("i").select(
        concat(lit("https://hot.example.test/u/"), $"i").as("url"),
        lit(0).as("priority_band")))
      .unionByName(Seq((null.asInstanceOf[String], 2), (null.asInstanceOf[String], 5))
        .toDF("url", "priority_band"))
      .withColumn("host", Canonical.hostOf($"url"))
    // seen set = every other canonical the frontier contains (has host)
    val seenPlain = Scheduler.canonicalize(raw.drop("host"))
      .where(xxhash64($"canonical_url") % 2 === 0)
      .select($"host", $"url_key").distinct()
    val dir = java.nio.file.Files.createTempDirectory("graft-fused").toString
    spark.sql("DROP TABLE IF EXISTS graft_test_fused_frontier")
    raw.repartition(4, $"host").write.mode("overwrite").bucketBy(4, "host")
      .option("path", s"$dir/frontier").saveAsTable("graft_test_fused_frontier")
    Scheduler.saveSeenClustered(seenPlain, s"$dir/seen", buckets = 4)
    val table = spark.table("graft_test_fused_frontier")
    val seenTable = Scheduler.loadSeenClustered(spark, s"$dir/seen", buckets = 4)
    val robots = Synth.robots(spark, 40).toDF()
    val cols = Seq("canonical_url", "host_seq", "scheduled_ms", "batch_id")
    val fused = Scheduler.runRound(table, seenTable, robots,
        maxPerHostPerRound = 500, frontierHostClustered = true,
        seenHostClustered = true)
      .select(cols.map(col): _*)
    val probe = Scheduler.runRound(raw, seenPlain, robots,
        maxPerHostPerRound = 500)
      .select(cols.map(col): _*)
    assert(fused.exceptAll(probe).isEmpty && probe.exceptAll(fused).isEmpty)
    // plan: with a high cap and AQE off, the
    // fused round over two host-clustered tables must plan ZERO shuffle
    // exchanges — the anti-join, dedupe agg and politeness window are
    // all satisfied by the storage layout
    val aqeBefore = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val nEx = Scheduler.runRound(table, seenTable, robots,
          maxPerHostPerRound = 100000, frontierHostClustered = true,
          seenHostClustered = true)
        .queryExecution.executedPlan
        .collect { case e: ShuffleExchangeExec => e }.size
      assert(nEx == 0, s"expected zero exchanges, got $nEx")
    } finally spark.conf.set("spark.sql.adaptive.enabled", aqeBefore)
  }

  test("fused seen round preserves extra frontier columns (hot host included)") {
    // a frontier carrying columns beyond (url, band, host) — e.g. depth —
    // must keep them through the FUSED round's cold leg exactly like the
    // probe path does: the agg dedupe would silently drop extras and the
    // hot-leg union would then throw on the schema mismatch
    val raw = Synth.frontierSeed(spark, 1200, nHosts = 20).toDF()
      .select($"url", $"priority_band")
      .unionByName((1 to 400).toDF("i").select(
        concat(lit("https://hot.example.test/u/"), $"i").as("url"),
        lit(0).as("priority_band")))
      .withColumn("host", Canonical.hostOf($"url"))
      .withColumn("depth", (xxhash64($"url") % 5).cast("int"))
    val seenPlain = Scheduler.canonicalize(raw.drop("host", "depth"))
      .where(xxhash64($"canonical_url") % 2 === 0)
      .select($"host", $"url_key").distinct()
    val dir = java.nio.file.Files.createTempDirectory("graft-fused-extra").toString
    spark.sql("DROP TABLE IF EXISTS graft_test_fused_extra")
    raw.repartition(4, $"host").write.mode("overwrite").bucketBy(4, "host")
      .option("path", s"$dir/frontier").saveAsTable("graft_test_fused_extra")
    Scheduler.saveSeenClustered(seenPlain, s"$dir/seen", buckets = 4)
    val robots = Synth.robots(spark, 20).toDF()
    val fused = Scheduler.runRound(spark.table("graft_test_fused_extra"),
      Scheduler.loadSeenClustered(spark, s"$dir/seen", buckets = 4), robots,
      maxPerHostPerRound = 200, frontierHostClustered = true,
      seenHostClustered = true)
    assert(fused.columns.contains("depth"), "extra column dropped by fused round")
    val cols = Seq("canonical_url", "depth", "host_seq", "scheduled_ms")
    val probe = Scheduler.runRound(raw.drop("depth")
        .withColumn("depth", (xxhash64($"url") % 5).cast("int")),
      seenPlain, robots, maxPerHostPerRound = 200)
    val f = fused.select(cols.map(col): _*)
    val p = probe.select(cols.map(col): _*)
    assert(f.exceptAll(p).isEmpty && p.exceptAll(f).isEmpty)
  }

  test("appendSeenClustered grows the seen table in place, fused round stays zero-exchange") {
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    val raw = Synth.frontierSeed(spark, 2500, nHosts = 30).toDF()
      .select($"url", $"priority_band")
      .withColumn("host", Canonical.hostOf($"url"))
    val canon = Scheduler.canonicalize(raw.drop("host"))
    // round-1 seen = xxhash%3==0 third; round-2 delta = %3==1 third
    val seen1 = canon.where(xxhash64($"canonical_url") % 3 === 0)
      .select($"host", $"url_key").distinct()
    val delta = canon.where(xxhash64($"canonical_url") % 3 === 1)
      .select($"host", $"url_key").distinct()
    val dir = java.nio.file.Files.createTempDirectory("graft-append").toString
    spark.sql("DROP TABLE IF EXISTS graft_test_append_frontier")
    raw.repartition(4, $"host").write.mode("overwrite").bucketBy(4, "host")
      .option("path", s"$dir/frontier").saveAsTable("graft_test_append_frontier")
    Scheduler.saveSeenClustered(seen1, s"$dir/seen", buckets = 4)
    // append includes some already-seen keys (overlap is harmless dupes)
    Scheduler.appendSeenClustered(delta.unionByName(seen1.limit(50)),
      s"$dir/seen", buckets = 4)
    val table = spark.table("graft_test_append_frontier")
    val seenTable = Scheduler.loadSeenClustered(spark, s"$dir/seen", buckets = 4)
    val robots = Synth.robots(spark, 30).toDF()
    val cols = Seq("canonical_url", "host_seq", "scheduled_ms", "batch_id")
    val fused = Scheduler.runRound(table, seenTable, robots,
        maxPerHostPerRound = 500, frontierHostClustered = true,
        seenHostClustered = true)
      .select(cols.map(col): _*)
    val probe = Scheduler.runRound(raw, seen1.unionByName(delta),
        robots, maxPerHostPerRound = 500)
      .select(cols.map(col): _*)
    assert(fused.exceptAll(probe).isEmpty && probe.exceptAll(fused).isEmpty)
    val aqeBefore = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val nEx = Scheduler.runRound(table, seenTable, robots,
          maxPerHostPerRound = 100000, frontierHostClustered = true,
          seenHostClustered = true)
        .queryExecution.executedPlan
        .collect { case e: ShuffleExchangeExec => e }.size
      assert(nEx == 0, s"append broke bucketed co-location: $nEx exchanges")
    } finally spark.conf.set("spark.sql.adaptive.enabled", aqeBefore)
  }

  test("robotsBroadcast refuses a table past the size guard") {
    val robots = Synth.robots(spark, 50).toDF()
    val e = intercept[IllegalArgumentException] {
      Politeness.robotsBroadcast(robots, maxHosts = 10L)
    }
    assert(e.getMessage.contains("per-round broadcast join"))
  }

  test("fusedScheduleCap keeps dedupeWithinBatch's winner: ties, bands, nulls, extra columns") {
    // band ties (min url wins), band differences (min band wins), equal
    // (url, band) rows told apart only by an extra column (min depth
    // wins, whatever the input order), several hosts, and null-url rows:
    // the all-null canonical group collapses to ONE row with the min band
    val rows = Seq(
      ("https://a.test/x?v=1", 3, "a.test", "https://a.test/x", 0),
      ("https://a.test/x?v=0", 3, "a.test", "https://a.test/x", 0), // tie: min url
      ("https://a.test/x", 7, "a.test", "https://a.test/x", 0),     // loses on band
      ("https://a.test/y", 2, "a.test", "https://a.test/y", 3),
      ("https://a.test/y", 2, "a.test", "https://a.test/y", 1),     // min depth
      ("https://b.test/x", 0, "b.test", "https://b.test/x", 0),     // same path, other host
      (null, 9, null, null, 0),
      (null, 5, null, null, 0), // null group winner: band 5
      ("https://b.test/z", 1, "b.test", "https://b.test/z", 0)
    ).toDF("url", "priority_band", "host", "canonical_url", "depth").coalesce(1)
    val cols = Seq("url", "priority_band", "host", "canonical_url", "depth").map(col)
    val win = Scheduler.fusedScheduleCap(rows.withColumn("crawl_delay_ms", lit(1000L)),
      Int.MaxValue).select(cols: _*)
    val batch = Scheduler.dedupeWithinBatch(
      rows.withColumn("url_key", Canonical.urlKey($"canonical_url"))).select(cols: _*)
    assert(win.exceptAll(batch).isEmpty && batch.exceptAll(win).isEmpty)
    assert(win.count() == 5)
    val nullRow = win.where(col("url").isNull).collect()
    assert(nullRow.length == 1 && nullRow.head.getInt(1) == 5)
  }

  test("same URL at two depths: every path keeps dedupeWithinBatch's winner") {
    // the larger depth is stored FIRST in the bucket file: a window
    // dedupe ordered only by (canonical_url, band, url) keeps the row it
    // meets first, the batch dedupe keeps the minimum over all columns
    val x = "https://dup.example.test/x"
    val raw = (Seq((x, 1, 3), (x, 1, 1)) ++
        (1 to 40).map(i => (s"https://h${i % 5}.example.test/p$i", i % 3, i % 4)))
      .toDF("url", "priority_band", "depth")
      .withColumn("host", Canonical.hostOf($"url"))
      .select("url", "priority_band", "host", "depth")
    val seenPlain = Scheduler.canonicalize(raw.drop("host", "depth"))
      .where($"url".endsWith("p7") || $"url".endsWith("p8"))
      .select($"host", $"url_key").distinct()
    val dir = java.nio.file.Files.createTempDirectory("graft-dup-depth").toString
    spark.sql("DROP TABLE IF EXISTS graft_test_dup_depth")
    raw.coalesce(1).write.mode("overwrite").bucketBy(4, "host")
      .option("path", s"$dir/frontier").saveAsTable("graft_test_dup_depth")
    Scheduler.saveSeenClustered(seenPlain, s"$dir/seen", buckets = 4)
    val robots = Seq.empty[(String, Long, Seq[String])]
      .toDF("host", "crawl_delay_ms", "disallow_prefixes")
    def depthOf(df: org.apache.spark.sql.DataFrame): Seq[Int] =
      df.where($"url" === x).select("depth").as[Int].collect().toSeq
    val want = depthOf(Scheduler.dedupeWithinBatch(Scheduler.canonicalize(raw)))
    assert(want == Seq(1))
    val fused = Scheduler.runRound(spark.table("graft_test_dup_depth"),
      Scheduler.loadSeenClustered(spark, s"$dir/seen", buckets = 4), robots,
      frontierHostClustered = true, seenHostClustered = true)
    val probe = Scheduler.runRound(raw, seenPlain.select("url_key"), robots)
    assert(depthOf(fused) == want, "fused path")
    assert(depthOf(probe) == want, "probe path")
  }

  /** Shuffle exchanges over frontier rows: the frontier is the plan's
    * only file scan (the seen sets below are local relations).
    */
  private def frontierExchanges(plan: org.apache.spark.sql.execution.SparkPlan) =
    plan.collect {
      case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
          if e.exists(_.isInstanceOf[org.apache.spark.sql.execution.FileSourceScanExec]) => e
    }

  private def partitionedOn(e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec) =
    e.outputPartitioning match {
      case h: org.apache.spark.sql.catalyst.plans.physical.HashPartitioning =>
        h.expressions.flatMap(_.references.map(_.name))
      case _ => Nil
    }

  private def withoutAqe[T](body: => T): T = {
    val aqeBefore = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try body finally spark.conf.set("spark.sql.adaptive.enabled", aqeBefore)
  }

  /** A parquet frontier (plus an optional hot host) and a url_key-only
    * seen set holding a third of its keys, as a local relation.
    */
  private def parquetFrontierAndSeen(name: String, hotRows: Int) = {
    val dir = java.nio.file.Files.createTempDirectory(name).toString
    Synth.frontierSeed(spark, 2000, nHosts = 30).toDF()
      .select($"url", $"priority_band")
      .unionByName((1 to hotRows).toDF("i").select(
        concat(lit("https://hot.example.test/u/"), $"i").as("url"),
        lit(0).as("priority_band")))
      .write.mode("overwrite").parquet(s"$dir/frontier")
    val raw = spark.read.parquet(s"$dir/frontier")
    val seen = Scheduler.canonicalize(raw).where(xxhash64($"url") % 3 === 0)
      .select("url_key").as[Long].collect().toSeq.toDF("url_key")
    (raw, seen)
  }

  test("seen round on an unclustered frontier: one frontier exchange, on host") {
    val (raw, seen) = parquetFrontierAndSeen("graft-seen-plan", hotRows = 0)
    val robots = Synth.robots(spark, 30).toDF()
    withoutAqe {
      val ex = frontierExchanges(
        Scheduler.runRound(raw, seen, robots).queryExecution.executedPlan)
      assert(ex.map(partitionedOn) == Seq(Seq("host")),
        s"frontier exchanges: ${ex.map(partitionedOn)}")
    }
  }

  test("an extra-columns round plans as many sorts as a bare round, with and without seen") {
    val (raw, seen) = parquetFrontierAndSeen("graft-sort-plan", hotRows = 0)
    val extra = raw.withColumn("depth", (xxhash64($"url") % 5).cast("int"))
    val robots = Synth.robots(spark, 30).toDF()
    val empty = Scheduler.loadSeen(spark, "/tmp/none")
    def sorts(frontier: org.apache.spark.sql.DataFrame, seenKeys: org.apache.spark.sql.DataFrame) =
      Scheduler.runRound(frontier, seenKeys, robots).queryExecution.executedPlan
        .collect { case s: org.apache.spark.sql.execution.SortExec => s }.size
    withoutAqe {
      for (seenKeys <- Seq(empty, seen))
        assert(sorts(extra, seenKeys) == sorts(raw, seenKeys),
          s"extra-columns sorts ${sorts(extra, seenKeys)}, bare ${sorts(raw, seenKeys)}")
    }
  }

  test("probe path with a hot host: one frontier scan, one frontier exchange on host, no Union") {
    val (raw, seen) = parquetFrontierAndSeen("graft-hot-plan", hotRows = 600)
    val robots = Synth.robots(spark, 30).toDF()
    withoutAqe {
      val plan = Scheduler.runRound(raw, seen, robots, maxPerHostPerRound = 200)
        .queryExecution.executedPlan
      val scans = plan.collect {
        case s: org.apache.spark.sql.execution.FileSourceScanExec => s
      }
      assert(scans.size == 1, s"frontier scans: ${scans.size}")
      assert(plan.collect { case u: org.apache.spark.sql.execution.UnionExec => u }.isEmpty,
        "the round plans a Union")
      val ex = frontierExchanges(plan)
      assert(ex.map(partitionedOn) == Seq(Seq("host")),
        s"frontier exchanges: ${ex.map(partitionedOn)}")
    }
  }

  test("fused round over clustered tables runs no job while it is built") {
    // bucketed frontier + a non-empty clustered seen table: the
    // co-located anti-join needs no seen count and the round no host
    // count, so building the DataFrame must not start a Spark job
    val raw = Synth.frontierSeed(spark, 1500, nHosts = 20).toDF()
      .select($"url", $"priority_band")
      .withColumn("host", Canonical.hostOf($"url"))
    val dir = java.nio.file.Files.createTempDirectory("graft-no-jobs").toString
    spark.sql("DROP TABLE IF EXISTS graft_test_no_jobs")
    raw.repartition(4, $"host").write.mode("overwrite").bucketBy(4, "host")
      .option("path", s"$dir/frontier").saveAsTable("graft_test_no_jobs")
    Scheduler.saveSeenClustered(Scheduler.canonicalize(raw.drop("host"))
      .where(xxhash64($"url") % 2 === 0), s"$dir/seen", buckets = 4)
    val table = spark.table("graft_test_no_jobs")
    val seenTable = Scheduler.loadSeenClustered(spark, s"$dir/seen", buckets = 4)
    val bc = Politeness.robotsBroadcast(Synth.robots(spark, 20).toDF())
    val sc = spark.sparkContext
    val jobs = new java.util.concurrent.atomic.AtomicInteger()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    org.apache.spark.graft.ListenerBus.drain(sc)
    sc.addSparkListener(listener)
    try {
      val round = Scheduler.runRoundCached(table, seenTable, bc,
        frontierHostClustered = true, seenHostClustered = true)
      org.apache.spark.graft.ListenerBus.drain(sc)
      assert(jobs.get == 0, s"${jobs.get} jobs ran while the round was built")
      assert(round.count() > 0)
    } finally sc.removeSparkListener(listener)
  }

  test("maxPerHostPerRound = 0 on a seen round keeps every unseen row") {
    // unique URLs, half on one host far over the default cap
    val raw = (0 until 3000).map { i =>
      val host = if (i % 2 == 0) "hot" else s"h${i % 7}"
      (f"https://$host.example.test/p/$i%04d", i % 4)
    }.toDF("url", "priority_band")
    val seen = Scheduler.canonicalize(raw).where(xxhash64($"url") % 3 === 0)
      .select("url_key")
    val nSeen = seen.count()
    assert(nSeen > 0)
    val robots = Seq.empty[(String, Long, Seq[String])]
      .toDF("host", "crawl_delay_ms", "disallow_prefixes")
    val out = Scheduler.runRound(raw, seen, robots, perHostBudget = 5,
      maxPerHostPerRound = 0)
    assert(out.count() == 3000L - nSeen)
    assert(out.where($"host" === "hot.example.test").count() > 500L)
  }

  test("full round: dedupe removes injected ~10% duplicates; batches respect budget") {
    val raw = Synth.frontierSeed(spark, 2000, nHosts = 30).toDF()
      .select($"url", $"priority_band")
    val robots = Synth.robots(spark, 30).toDF()
    val out = Scheduler.runRound(raw, Scheduler.loadSeen(spark, "/tmp/none"), robots,
      perHostBudget = 5)
    val n = out.count()
    val distinctCanon = out.select("canonical_url").distinct().count()
    assert(n == distinctCanon) // deduped
    assert(n < 2000)           // duplicates actually existed and were removed
    val maxPerBatch = out.groupBy("host", "batch_id").count()
      .agg(max("count")).head.getLong(0)
    assert(maxPerBatch <= 5)
  }
}

class ExportImportSpec extends AnyFunSuite {
  import TestSpark.spark
  import spark.implicits._

  test("export → import round-trip incl. empty and exact-multiple payloads") {
    val df = Seq((1L, "x" * 200), (2L, ""), (3L, "y" * 64), (4L, "short"))
      .toDF("id", "payload")
    val rt = ExportImportOp.roundTrip(df, "id", "payload")
    assert(rt.count() == 4)
    assert(rt.where(!col("ok")).count() == 0)
  }

  test("corrupted chunk fails the checksum handshake (import.rs:190-222)") {
    val df = Seq((1L, "hello world payload")).toDF("id", "payload")
    val chunks = ExportImportOp.exportChunks(df, "id", "payload")
      .withColumn("chunk", concat(col("chunk"), lit("CORRUPT")))
    val declared = ExportImportOp.exportBlockEnd(df, "id", "payload")
    val rebuilt = ExportImportOp.importReassemble(chunks)
    val ok = rebuilt.join(declared, Seq("id"))
      .select(md5(col("payload").cast("binary")) === col("payload_md5")).head.getBoolean(0)
    assert(!ok)
  }
}

class VerifyOpSpec extends AnyFunSuite {
  import TestSpark.spark
  import spark.implicits._

  test("seeded generator records verify clean (reference functional baseline, " +
    "test_decode.rs:122-125)") {
    val records = Synth.warcRecordsDf(spark, round = 0)
    assert(VerifyOp.problems(records).count() == 0)
    assert(VerifyOp.missingReferences(records).count() == 0)
    assert(VerifyOp.segmentProblems(records).count() == 0)
  }

  test("positions are exact cumulative serialized offsets (test_decode.rs:77-78)") {
    val recs = Synth.warcRecords(round = 1, n = 20)
    var expect = 0L
    recs.foreach { r =>
      assert(r.position == expect)
      expect += graft.core.HeaderSerde.recordLength(r.version, r.fields, r.bytes.length.toLong)
    }
  }

  test("block digest comparison catches corruption (verify.rs:813-832)") {
    val recs = Synth.warcRecords(round = 0, n = 10)
    val bad = recs.head.copy(bytes = recs.head.bytes :+ 0x00.toByte)
    val all = bad +: recs.tail
    val mismatches = all.count { r =>
      val declared = r.fields.find(_.name == "WARC-Block-Digest").get.value
      !graft.core.Digests.computeText("sha1", r.bytes).contains(declared)
    }
    assert(mismatches == 1)
  }

  test("segment gap and total-length checks (verify.rs:266-319)") {
    def seg(pos: Long, origin: String, n: Long, len: Long, total: Option[Long],
            tpe: String = "continuation") = {
      val base = Seq(Field("WARC-Record-ID", s"<urn:s:$pos>"), Field("WARC-Type", tpe),
        Field("WARC-Date", "2025-01-01T00:00:00Z"), Field("Content-Length", len.toString),
        Field("WARC-Segment-Number", n.toString),
        Field("WARC-Segment-Origin-ID", origin)) ++
        total.map(t => Field("WARC-Segment-Total-Length", t.toString))
      (pos, "f", "WARC/1.1", base)
    }
    val df = Seq(
      seg(1, "<o:good>", 1, 10, None), seg(2, "<o:good>", 2, 20, Some(30L)),
      seg(3, "<o:gap>", 1, 10, None), seg(4, "<o:gap>", 3, 10, Some(20L)),
      seg(5, "<o:len>", 1, 10, None), seg(6, "<o:len>", 2, 10, Some(99L))
    ).toDF("position", "file", "version", "fields")
    val p = VerifyOp.segmentProblems(df).collect()
      .map(r => (r.getString(0), r.getString(1))).toSet
    assert(p.contains(("<o:gap>", "missing_segment")))
    assert(p.contains(("<o:len>", "mismatched_segment_length")))
    assert(!p.exists(_._1 == "<o:good>"))
  }

  test("missing references and segment problems leave nothing cached") {
    def rec(pos: Long, id: String, extra: (String, String)*) =
      (pos, "f", "WARC/1.1", (Seq("WARC-Record-ID" -> id, "WARC-Type" -> "response",
        "Content-Length" -> "1") ++ extra).map { case (n, v) => Field(n, v) })
    val df = Seq(
      rec(1, "<urn:a>"),
      rec(2, "<urn:b>", "WARC-Concurrent-To" -> "<urn:a>", "WARC-Refers-To" -> "<urn:gone>"),
      rec(3, "<urn:c>", "WARC-Segment-Number" -> "2", "WARC-Segment-Origin-ID" -> "<o:x>")
    ).toDF("position", "file", "version", "fields")
    spark.catalog.clearCache()
    val missing = VerifyOp.missingReferences(df).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(3))).toSet
    val segments = VerifyOp.segmentProblems(df).collect()
      .map(r => (r.getString(0), r.getString(1))).toSet
    assert(missing == Set((2L, "<urn:b>", "WARC-Refers-To -> <urn:gone>")))
    assert(segments == Set(("<o:x>", "missing_segment")))
    assert(spark.sharedState.cacheManager.isEmpty)
  }
}

class SynthAndMultimodalSpec extends AnyFunSuite {
  import graft.pipeline.Multimodal

  test("synthesizer is deterministic (same seed → identical rows)") {
    val a = Synth.makeImage(42, 7)
    val b = Synth.makeImage(42, 7)
    assert(a.bytes.sameElements(b.bytes) && a.caption == b.caption && a.phash == b.phash)
    assert(!Synth.makeImage(43, 7).bytes.sameElements(a.bytes))
  }

  test("images decode; jpeg meets the PSNR≥40dB gate vs source pixels " +
    "(BASELINE.json per-row invariant)") {
    for (i <- 0L until 12L) {
      val row = Synth.makeImage(42, i)
      val img = Multimodal.decode(row.bytes)
      assert(img.isDefined, s"row $i (${row.fmt}) must decode")
      assert(img.get.getWidth == row.w && img.get.getHeight == row.h)
      if (row.fmt == "jpeg") {
        // re-encode decoded pixels and compare round-trip stability
        val re = Multimodal.encode(img.get, "jpeg")
        val p = Multimodal.psnr(img.get, Multimodal.decode(re).get)
        assert(p >= 40.0, s"jpeg row $i psnr=$p")
      }
    }
  }

  test("fidelity gate: identical tables pass, corrupted caption fails") {
    import TestSpark.spark
    val imgs = Synth.images(spark, 30).toDF()
    assert(Multimodal.fidelityProblems(imgs, imgs).count() == 0)
    val broken = imgs.withColumn("caption",
      when(col("image_id") === "img-00000003", lit("WRONG")).otherwise(col("caption")))
    val probs = Multimodal.fidelityProblems(imgs, broken).collect()
    assert(probs.length == 1 && probs.head.getString(0) == "img-00000003")
  }

  test("phash: stable under jpeg re-encode, far for different images") {
    val a = Synth.makeImage(42, 0) // png
    val img = Multimodal.decode(a.bytes).get
    val jpeg = Multimodal.decode(Multimodal.encode(img, "jpeg")).get
    assert(Multimodal.hamming64(Multimodal.phash64(img), Multimodal.phash64(jpeg)) <= 4)
    val other = Multimodal.decode(Synth.makeImage(42, 9).bytes).get
    assert(Multimodal.hamming64(Multimodal.phash64(img), Multimodal.phash64(other)) > 4)
  }

  test("frontier seed has injected duplicates and host skew") {
    import TestSpark.spark
    import spark.implicits._
    val seeds = Synth.frontierSeed(spark, 5000, nHosts = 200)
    val urls = seeds.select("url").as[String].collect()
    assert(urls.distinct.length < urls.length) // dups exist
    val hostCounts = urls.groupBy(u => u.split('/')(2)).view.mapValues(_.length).toMap
    assert(hostCounts.values.max > 3 * (urls.length / hostCounts.size)) // skew exists
  }
}
