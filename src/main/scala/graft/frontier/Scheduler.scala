package graft.frontier

import org.apache.spark.sql.{DataFrame, Encoders, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

/** The priority frontier round: canonicalize → seen filter →
  * politeness-gated schedule → fetch-batch emit, with per-partition
  * lineage + metrics and parquet-checkpointed resume (north rule; Iceberg
  * snapshots stand in as partitioned parquet round directories
  * in-sandbox — same append-only contract).
  *
  * A round is one pipeline ([[Scheduler.runRound]]):
  *   1. derive `host`; one hash(host) exchange (none when the frontier is
  *      stored host-clustered);
  *   2. derive canonical_url and url_key after the exchange and
  *      seen-filter: identity (empty seen set), the co-located
  *      (host, url_key) anti-join (both tables host-clustered), or a
  *      bloom probe + exact confirm;
  *   3. robots, then one per-host scan over rows sorted in politeness
  *      order does dedupe, schedule and cap ([[Scheduler.fusedScheduleCap]],
  *      the same scan for every frontier schema);
  *   4. one fetch-batch emit closes the round.
  *
  * Seen-filtering before dedupe is exact: every duplicate of a canonical
  * URL shares its (host, url_key), so a duplicate group is seen whole or
  * not at all.
  *
  * Shuffle plan at 10^10 URLs:
  *   - canonicalization is narrow (zero shuffle);
  *   - the round's one full-frontier exchange is hash(host), and the seen
  *     filter, robots, dedupe and the politeness schedule all reuse it:
  *     each output partition owns whole hosts, so scheduling is
  *     partition-local (a range write layout is applied at the sink);
  *   - a degenerate host sorts on one reducer; the sort spills and the
  *     per-host scan keeps O(cap) state (measured cost: [[runRound]]);
  *   - robots and the bloom table are broadcast (host- and
  *     filter-cardinality).
  */
object Scheduler {

  /** Canonicalize + key a raw frontier(url, priority_band, ...) — narrow.
    * A pre-materialized `host` column (the north-rule frontier table
    * stores one — its layout is keyed on host_hash) is trusted as-is;
    * deriving it from the url is the fallback for raw seed lists.
    *
    * PRECONDITION on a stored host column: `host IS NULL` iff
    * `url IS NULL` (automatic when the writer derived host from url,
    * as checkpointRound and the bench table writer do). A non-null host
    * paired with a null url would make the host-partitioned dedupe keep
    * one null row PER HOST where the batch dedupe keeps one globally —
    * the host/batch dedupe equivalence assumes the writer invariant.
    */
  def canonicalize(frontier: DataFrame): DataFrame =
    withHost(frontier)
      .withColumn("canonical_url", Canonical.canonicalUrl(col("url")))
      .withColumn("url_key", Canonical.urlKey(col("canonical_url")))
      .withColumn("host_hash", Canonical.hostHash(col("host")))

  /** `frontier` with its stored `host` column, or one derived from url. */
  private def withHost(frontier: DataFrame): DataFrame =
    if (frontier.columns.contains("host")) frontier
    else frontier.withColumn("host", Canonical.hostOf(col("url")))

  /** In-batch dedupe: first sighting wins. Deterministic winner = the
    * lexicographic minimum of (priority_band, url, …rest) per canonical
    * key — partial aggregation collapses duplicates before the shuffle,
    * and ties are totally ordered (the row_number formulation sorts
    * every partition and breaks ties arbitrarily).
    *
    * Plan note: `min(struct)` cannot hash-aggregate (struct agg buffers
    * are immutable), so Catalyst plans partial+final SortAggregate. A
    * packed-string variant (`min(lpad(band) || url)` → HashAggregate,
    * re-deriving the other columns from the winner url) was built and
    * A/B-measured at 16M URLs / 8 cores: 16.5 s vs 14.9 s — SLOWER,
    * because recomputing the canonicalize UDF on 15.6M winners costs
    * more than the two sorts save. Kept the struct form.
    */
  def dedupeWithinBatch(canonical: DataFrame): DataFrame = {
    val cols = canonical.columns.toSeq
    val orderedFirst = Seq("priority_band", "url")
    val rest = cols.filterNot(orderedFirst.contains)
    val packed = struct((orderedFirst ++ rest).map(col): _*)
    canonical
      .groupBy(col("url_key").as("k"))
      .agg(min(packed).as("m"))
      .select(cols.map(c => col(s"m.$c").as(c)): _*)
  }

  /** Batches a host may fill in one round before the default cap holds
    * back its tail: default cap = perHostBudget × this. At the default
    * budget (100) that is 10k URLs/host/round — far above any polite
    * per-round fetch capacity, so the cap only ever trims DEGENERATE
    * hosts (the 10^8-URL host that would otherwise tail-stall the
    * politeness window's one reducer); trimmed URLs simply stay in the
    * frontier for later rounds.
    */
  val DefaultMaxBatchesPerHost = 100

  /** One full scheduling round. `seenKeys` may be empty (first round).
    * Returns the batch-ready frontier, hash-partitioned by host (whole
    * hosts per partition) and sorted within partitions by
    * (priority_band, scheduled_ms, host_hash, canonical_url). Row CONTENT
    * (host_seq, scheduled_ms, batch_id) is a deterministic function of the
    * input at any parallelism; only the partition file layout varies with
    * the partition count.
    *
    * `maxPerHostPerRound`: -1 (default) = skew-safe auto cap of
    * perHostBudget × [[DefaultMaxBatchesPerHost]] URLs per host per
    * round; 0 = explicit opt-OUT (uncapped: a degenerate host then
    * schedules in full on one reducer); >0 = exact cap. Every host is
    * capped inside [[fusedScheduleCap]]'s scan, which keeps exactly the
    * first `cap` rows per host in the politeness order
    * (priority_band, canonical_url), row-identical to
    * [[Politeness.capPerHost]]-then-schedule.
    *
    * The round has one leg. A salted spread leg used to route hot
    * hosts away from one reducer; without it, a host that is a large
    * share of an unclustered frontier sorts in one task. Measured on a
    * 4M-row unclustered stream plus one host (local[4], AQE off, 8
    * shuffle partitions, median of 6; BENCH.md): the round's wall fell
    * (1.2M-row host 17.2 s → 10.8 s, 4M-row host 23.9 s → 12.4 s), but
    * the schedule stage's slowest task grew with the host — for the
    * 4M-row host, half the frontier, 3.4 s → 10.2 s, 3.2× the stage's
    * median task. That straggler is the cost of the single leg.
    * [[runRoundCached]] still accepts its old `hotSpreadRows` and ignores
    * it, because the steady-state benchmark (`perfbench`) passes it by
    * name; `Politeness.schedule` and `capPerHost` stay for the same
    * benchmark until its per-layer trace times this round instead of
    * re-implementing it.
    *
    * `frontierHostClustered`: set true when `rawFrontier` scans a table
    * whose STORAGE LAYOUT already clusters rows by host — a Spark
    * bucketed table `CLUSTERED BY (host)`, or an Iceberg table with a
    * `bucket(N, host)` partition transform. The round then skips its
    * explicit repartition: the bucketed scan reports
    * hashpartitioning(host), which satisfies the seen filter, robots and
    * the fused schedule scan — the round runs with ZERO
    * full-frontier exchanges (storage paid the shuffle once, every round
    * reuses it; at cluster scale this is the per-round network bill).
    * The flag is a performance contract only: if the input is NOT
    * actually clustered, Catalyst inserts the exchanges the plan needs
    * and the output is unchanged (see EngineSpec).
    */
  def runRound(rawFrontier: DataFrame, seenKeys: DataFrame, robots: DataFrame,
               perHostBudget: Int = 100, numBloomBuckets: Int = 64,
               maxPerHostPerRound: Int = -1,
               frontierHostClustered: Boolean = false,
               seenHostClustered: Boolean = false): DataFrame =
    runRoundImpl(rawFrontier, seenKeys, Politeness.applyRobots(_, robots),
      perHostBudget, numBloomBuckets, maxPerHostPerRound, frontierHostClustered,
      seenHostClustered)

  /** [[runRound]] over a crawl-lifetime robots cache
    * ([[Politeness.robotsBroadcast]]): identical output, but the robots
    * stage is a narrow map-side lookup with no per-round broadcast
    * build — the form a long-running crawl loop (and the bench) uses.
    */
  def runRoundCached(rawFrontier: DataFrame, seenKeys: DataFrame,
                     robotsBc: org.apache.spark.broadcast.Broadcast[
                       Map[String, (Long, Array[String])]],
                     perHostBudget: Int = 100, numBloomBuckets: Int = 64,
                     maxPerHostPerRound: Int = -1,
                     frontierHostClustered: Boolean = false,
                     seenHostClustered: Boolean = false,
                     hotSpreadRows: Long = -1): DataFrame =
    runRoundImpl(rawFrontier, seenKeys, Politeness.applyRobotsMap(_, robotsBc),
      perHostBudget, numBloomBuckets, maxPerHostPerRound, frontierHostClustered,
      seenHostClustered)

  /** Dedupe + politeness schedule + per-host cap in ONE sort and ONE
    * per-host scan, for a robotted frontier of any schema.
    *
    * The declarative form pays TWO full sorts of the frontier — the
    * dedupe SortAggregate's (host, canonical_url) sort and the
    * politeness window's (host, priority_band, canonical_url) sort —
    * because no single column order serves both (dedupe groups by
    * canonical, the schedule is band-major). Measured at 40M rows / 4
    * cores (since-removed FullGapProbe, count() pruning defeated): 46.5 s vs 17.7 s
    * for the same pipeline without the window — the second sort IS the
    * round's dominant cost, exactly the case the round-4 review said
    * should trigger this fusion. One sort in the schedule's own order
    * plus a per-host hash-set scan does all three jobs:
    *
    *  - dedupe: within a host sorted by (band, canonical_url, url, …rest),
    *    the FIRST occurrence of a canonical_url is its minimum over
    *    (band, url, …rest) — the same winner as [[dedupeWithinBatch]]'s
    *    minimum over every column; later occurrences are skipped via the
    *    set. Robots runs BEFORE this pass (it commutes: all duplicates of
    *    a canonical share (host, canonical_url), so the whole group passes
    *    or fails together and the surviving winner is unchanged);
    *  - host_seq: a running counter over kept rows reproduces
    *    row_number() over (host ORDER BY band, canonical_url) — kept
    *    rows arrive in exactly that order;
    *    scheduled_ms = (host_seq − 1) × crawl_delay_ms, which is constant
    *    per host;
    *  - cap: the scan stops a host after `cap` kept rows, which also
    *    BOUNDS the set at `cap` entries per host regardless of host size —
    *    per-task state is O(cap), not O(host rows).
    *
    * `flatMapSortedGroups` plans as `MapGroupsExec` (`MapGroups` in
    * explain output), which DECLARES its child distribution (clustered on
    * host) and ordering (host, then the sort above):
    * `EnsureRequirements` adds the exchange and the sort
    * only when the child does not already provide them, so a bucketed
    * scan or a host-keyed join output runs with no exchange, and a
    * frontier that is wrongly flagged host-clustered still gets one.
    * Grouping on the existing `host` attribute appends no key column.
    * Null url/canonical/host rows are one group under a sentinel, like
    * every other dedupe form. Output columns are the input's, in input
    * order and types, plus host_seq and scheduled_ms.
    */
  private[graft] def fusedScheduleCap(robotted: DataFrame, cap: Int): DataFrame = {
    val schema = robotted.schema
    val first = Seq("priority_band", "canonical_url", "url")
    val order = first ++ robotted.columns.filterNot(c => c == "host" || first.contains(c))
    val canonAt = schema.fieldIndex("canonical_url")
    val delayAt = schema.fieldIndex("crawl_delay_ms")
    val out = schema.add("host_seq", LongType, nullable = false)
      .add("scheduled_ms", LongType, nullable = false)
    robotted.groupBy(col("host")).as[String, Row](Encoders.STRING, Encoders.row(schema))
      .flatMapSortedGroups(order.map(col(_).asc): _*) { (_, rows) =>
        val seenCanon = new java.util.HashSet[String]()
        def canon(r: Row) = if (r.isNullAt(canonAt)) "\u0000" else r.getString(canonAt)
        rows.filter(r => seenCanon.add(canon(r)))
          .take(cap).zipWithIndex.map { case (r, i) =>
            Row.fromSeq(r.toSeq :+ (i + 1L) :+ i * r.getLong(delayAt))
          }
      }(Encoders.row(out))
  }

  /** Dedupe + schedule + cap over seen-filtered rows ([[fusedScheduleCap]]),
    * then the round's url_key and host_hash.
    */
  private def scheduleAndCap(fresh: DataFrame,
                             robotsStage: DataFrame => DataFrame,
                             cap: Int): DataFrame =
    fusedScheduleCap(robotsStage(fresh), cap)
      .withColumn("url_key", Canonical.urlKey(col("canonical_url")))
      .withColumn("host_hash", Canonical.hostHash(col("host")))

  /** Round cap: -1 = perHostBudget × [[DefaultMaxBatchesPerHost]],
    * 0 = uncapped, >0 = exact. The cap is the round's only guard against
    * a degenerate host: it bounds the host's scheduled rows and the fused
    * scan's per-host state, while the sort before the scan spills.
    */
  private def roundCap(perHostBudget: Int, maxPerHostPerRound: Int): Int =
    if (maxPerHostPerRound < 0) perHostBudget * DefaultMaxBatchesPerHost
    else if (maxPerHostPerRound == 0) Int.MaxValue
    else maxPerHostPerRound

  private def runRoundImpl(rawFrontier: DataFrame, seenKeys: DataFrame,
                           robotsStage: DataFrame => DataFrame,
                           perHostBudget: Int, numBloomBuckets: Int,
                           maxPerHostPerRound: Int, frontierHostClustered: Boolean,
                           seenHostClustered: Boolean): DataFrame = {
    val hosted = withHost(rawFrontier)
    // the shuffle carries only the input columns: canonical_url and
    // url_key derive from url after the exchange, in the stage that
    // filters and sorts
    val keyed =
      (if (frontierHostClustered) hosted else hosted.repartition(col("host")))
        .withColumn("canonical_url", Canonical.canonicalUrl(col("url")))
        .withColumn("url_key", Canonical.urlKey(col("canonical_url")))
    val fresh = seenFilter(keyed, seenKeys, numBloomBuckets,
      coLocated = frontierHostClustered && seenHostClustered).drop("url_key")
    val cap = roundCap(perHostBudget, maxPerHostPerRound)
    Politeness.fetchBatches(scheduleAndCap(fresh, robotsStage, cap), perHostBudget)
      .sortWithinPartitions("priority_band", "scheduled_ms", "host_hash", "canonical_url")
  }

  /** The round's seen filter — rows of `keyed` whose url_key is not in
    * `seenKeys`, columns unchanged: the (host, url_key) anti-join when
    * both tables are stored host-clustered, which is co-located
    * (hash(host) on both sides is a subset of the join keys, so neither
    * side exchanges, and an empty seen table keeps every row); otherwise
    * identity for an empty seen set, else a bloom filter sized from the
    * seen count ([[SeenSet.sizedBloomFilter]]). Only the bloom path's
    * sizing runs a job (the count) while the round is built.
    */
  private def seenFilter(keyed: DataFrame, seenKeys: DataFrame, numBloomBuckets: Int,
                         coLocated: Boolean): DataFrame =
    if (coLocated && seenKeys.columns.contains("host")) {
      // null-SAFE host equality: url_key is total (xxhash64 maps null
      // canonicals to a constant), so the all-null group's membership is
      // decided by key equality, as the bloom path decides it
      val seenSide = seenKeys
        .select(col("host").as("__seen_host"), col("url_key").as("__seen_key"))
      keyed.join(seenSide,
        col("host") <=> col("__seen_host") && col("url_key") === col("__seen_key"),
        "left_anti")
    } else {
      val nSeen = seenKeys.count()
      if (nSeen == 0L) keyed
      else {
        require(!coLocated,
          "seenHostClustered requires a (host, url_key) seen table — " +
            "write it with saveSeenClustered / checkpointRound")
        SeenSet.sizedBloomFilter(seenKeys, nSeen, "url_key", numBloomBuckets)(keyed)
      }
    }

  /** Per-partition lineage + fetch metrics (north rule observability):
    * one row per (partition, host) with URL counts and schedule span.
    */
  def partitionMetrics(batches: DataFrame): DataFrame =
    batches
      .withColumn("partition_id", spark_partition_id().cast("long"))
      .groupBy("partition_id", "host")
      .agg(count(lit(1)).as("n_urls"),
        max("scheduled_ms").as("span_ms"),
        countDistinct("batch_id").as("n_batches"))

  /** Two-phase salted host aggregation: phase 1 groups on
    * (host, salt = pmod(xxhash64(url), nSalt)) so a hot host fans across
    * nSalt reducers; phase 2 merges the per-salt partials. Result is
    * identical to a plain groupBy(host).count() — the salt only reshapes
    * the shuffle.
    */
  def saltedHostCounts(canonical: DataFrame, nSalt: Int = 16): DataFrame =
    canonical
      .groupBy(col("host"), pmod(xxhash64(col("url")), lit(nSalt.toLong)).as("salt"))
      .agg(count(lit(1)).as("c"))
      .groupBy("host").agg(sum("c").as("n_urls"))

  /** Checkpoint a round: append batches + newly-seen keys as parquet round
    * dirs (the sandbox stand-in for Iceberg snapshot append).
    */
  def checkpointRound(batches: DataFrame, outDir: String, round: Int): Unit = {
    // TWO writes consume `batches` (the round snapshot and the seen-key
    // delta) — without a persist the entire round pipeline executes
    // twice per checkpoint (guide §5: reused and expensive to
    // recompute). The cache lives exactly as long as this call: it
    // unpersists once both writes have finished, failed or not.
    val cached = batches.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      // The two writes are independent consumers of the cached batch, so
      // they run CONCURRENTLY (guide §2.6: actions are only sequential
      // because driver code calls them sequentially) — the second job's
      // tasks back-fill executors freed by the first job's tail instead
      // of waiting for its commit. Concurrent first-touch of the cache is
      // safe: the block manager's per-partition locks make one job
      // compute each partition while the other blocks on it.
      import scala.concurrent.{Await, Future}
      import scala.concurrent.duration.Duration
      implicit val ec: scala.concurrent.ExecutionContext =
        scala.concurrent.ExecutionContext.global
      // the STORED frontier snapshot is range-partitioned on
      // (priority_band, host_hash) — the north rule's table layout: band
      // pruning reads only the files of the bands a consumer wants, and
      // host ranges spread hot hosts across files. Compute stages keep
      // the hash(host) layout (see runRound); the range exchange happens
      // exactly once, at the write.
      val snapshotW = Future {
        cached
          .repartitionByRange(col("priority_band"), col("host_hash"))
          .sortWithinPartitions("priority_band", "host_hash", "scheduled_ms", "canonical_url")
          .write.mode("overwrite").parquet(s"$outDir/rounds/round=$round")
      }
      // (host, url_key) so the seen set can also be stored host-clustered
      // (saveSeenClustered) and feed the fused zero-exchange seen round;
      // url_key-only consumers (bloom build, exact confirm) just ignore
      // the extra column
      val seenW = Future {
        cached.select("host", "url_key").distinct()
          .write.mode("overwrite").parquet(s"$outDir/seen/round=$round")
      }
      // wait for BOTH writes before surfacing a failure: neither may
      // outlive the call or run on after the cache is dropped
      val outcomes = Seq(snapshotW, seenW).map(f => Await.ready(f, Duration.Inf).value.get)
      outcomes.foreach(_.get)
    } finally { cached.unpersist(false); () }
  }

  /** Write a (host, url_key) seen snapshot as a host-clustered table
    * (Spark bucketed parquet standing in for an Iceberg
    * `bucket(buckets, host)` partition transform) — the storage layout
    * [[runRound]]'s `seenHostClustered = true` fused path joins against
    * with ZERO exchanges. Bucket count must match the frontier table's.
    */
  def saveSeenClustered(seen: DataFrame, path: String, buckets: Int = 64): Unit = {
    val spark = seen.sparkSession
    // the write registers the table under its per-path catalog name, so
    // saves to different paths never share a table identity
    val tbl = seenTableName(path)
    spark.sql(s"DROP TABLE IF EXISTS $tbl")
    // ONE exchange, not two: `.distinct().repartition(host)` shuffled
    // every row twice (once on (host, url_key), once on host). The
    // repartition-then-dedupe order needs only the host exchange —
    // hashpartitioning(host) already clusters equal (host, url_key)
    // rows, so the aggregate runs in place (and its map-side partial
    // collapse still shrinks duplicates before the shuffle). Same rows,
    // same bucket-aligned file layout.
    seen.select(col("host"), col("url_key"))
      .repartition(buckets, col("host"))
      .dropDuplicates("host", "url_key")
      .write.mode("overwrite").bucketBy(buckets, "host")
      .option("path", path).saveAsTable(tbl)
  }

  /** Append a round's newly-seen `(host, url_key)` keys to an existing
    * [[saveSeenClustered]] table WITHOUT rewriting it — each appended
    * file still belongs to exactly one host bucket, so the scan keeps
    * reporting hashpartitioning(host) (Spark coalesces all files of a
    * bucket into one scan partition) and the fused zero-exchange round
    * is undisturbed. This is the steady-state write at 10^10 keys:
    * O(new keys this round), not O(seen set) — the Iceberg analogue is
    * a snapshot append to the `bucket(N, host)` partitioning. Appending
    * a key that is already present just duplicates a seen row, which a
    * left-anti join ignores; re-run [[saveSeenClustered]] occasionally
    * as compaction if scan cost matters. Creates the table when absent.
    */
  def appendSeenClustered(seen: DataFrame, path: String, buckets: Int = 64): Unit = {
    val spark = seen.sparkSession
    // existence through the Hadoop FileSystem, NOT java.io.File: on
    // hdfs://-/s3a://-style paths a local-File check is always false,
    // which would silently OVERWRITE the accumulated seen table with
    // just this round's delta every round
    val p = new org.apache.hadoop.fs.Path(path)
    val exists = p.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(p)
    if (!exists)
      saveSeenClustered(seen, path, buckets)
    else {
      // write through the registered table identity so saveAsTable
      // validates the bucket spec instead of clobbering it
      val tbl = seenTableName(path)
      // a stale registration (same name, different location — possible
      // only if the name scheme ever changes, but cheap to defend) would
      // silently append this delta into the WRONG path's directory;
      // verify the catalog entry actually points at `path`
      val ok = spark.catalog.tableExists(tbl) && {
        val loc = spark.sql(s"DESCRIBE TABLE EXTENDED $tbl")
          .where(col("col_name") === "Location")
          .select("data_type").collect().headOption.map(_.getString(0))
        // compare fully-QUALIFIED URIs, not bare paths: hdfs://nn/x and
        // file:/x share a path string but are different tables, and
        // appending across that confusion is exactly the silent
        // cross-binding this check exists to stop
        val conf = spark.sparkContext.hadoopConfiguration
        def qualified(s: String): java.net.URI = {
          val q = new org.apache.hadoop.fs.Path(s)
          q.getFileSystem(conf).makeQualified(q).toUri
        }
        loc.exists(l => qualified(l) == qualified(path))
      }
      if (!ok) loadSeenClustered(spark, path, buckets)
      // one exchange instead of two — see saveSeenClustered
      seen.select(col("host"), col("url_key"))
        .repartition(buckets, col("host"))
        .dropDuplicates("host", "url_key")
        .write.mode("append").bucketBy(buckets, "host")
        .option("path", path).saveAsTable(tbl)
    }
  }

  /** Catalog identity for a [[saveSeenClustered]] table at `path`: a
    * 64-bit content hash of the full path (not `String.hashCode` — a
    * 32-bit collision between two live seen paths in one session would
    * bind one path's appends to the other's directory, silently
    * corrupting persistent crawl state). xxh3 collision odds at 64 bits
    * are ~n²/2^65 — negligible for any plausible number of seen tables.
    */
  private def seenTableName(path: String): String = {
    val h = graft.core.Xxh3.hash(path.getBytes("UTF-8"))
    f"graft_seen_c$h%016x"
  }

  /** Register + scan a [[saveSeenClustered]] table so the scan reports
    * hashpartitioning(host) to the planner.
    */
  def loadSeenClustered(spark: SparkSession, path: String,
                        buckets: Int = 64): DataFrame = {
    val tbl = seenTableName(path)
    spark.sql(s"DROP TABLE IF EXISTS $tbl")
    spark.sql(s"CREATE TABLE $tbl (host STRING, url_key BIGINT) " +
      s"USING parquet CLUSTERED BY (host) INTO $buckets BUCKETS " +
      s"LOCATION '$path'")
    spark.table(tbl)
  }

  /** Resume: union all checkpointed seen keys (empty DataFrame when no
    * rounds exist yet).
    */
  def loadSeen(spark: SparkSession, outDir: String): DataFrame = {
    // existence through the Hadoop FileSystem, NOT java.io.File (the
    // appendSeenClustered rule): a local-File check on an hdfs://-/
    // s3a://-style outDir is always false, which would silently resume
    // the crawl with an EMPTY seen set and re-fetch everything
    val p = new org.apache.hadoop.fs.Path(s"$outDir/seen")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(p) && fs.listStatus(p).nonEmpty)
      spark.read.parquet(s"$outDir/seen")
    else {
      import org.apache.spark.sql.types._
      spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        StructType(Seq(StructField("url_key", LongType))))
    }
  }
}
