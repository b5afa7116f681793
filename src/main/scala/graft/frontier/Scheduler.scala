package graft.frontier

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The priority frontier round: canonicalize → seen filter →
  * politeness-gated schedule → fetch-batch emit, with per-partition
  * lineage + metrics and parquet-checkpointed resume (north rule; Iceberg
  * snapshots stand in as partitioned parquet round directories
  * in-sandbox — same append-only contract).
  *
  * A round is one pipeline ([[Scheduler.runRound]]):
  *   1. derive `host`; one broadcast flag join splits the rows of hosts
  *      over the spread threshold (hot) from the rest (cold);
  *   2. each leg seen-filters right after its first exchange — the hot
  *      leg's url_key dedupe exchange, the cold leg's hash(host)
  *      exchange (none when the frontier is stored host-clustered). The
  *      filter is identity (empty seen set), the co-located
  *      (host, url_key) anti-join (both tables host-clustered), or a
  *      bloom probe + exact confirm;
  *   3. hot leg: robots → salted two-phase cap → schedule; cold leg: one
  *      sort + one per-host scan does dedupe, schedule and cap;
  *   4. one fetch-batch emit closes the round.
  *
  * Seen-filtering before the cold leg's dedupe is exact: every duplicate
  * of a canonical URL shares its (host, url_key), so a duplicate group is
  * seen whole or not at all.
  *
  * Shuffle plan at 10^10 URLs:
  *   - canonicalization is narrow (zero shuffle);
  *   - the cold leg's one full-frontier exchange is hash(host), and the
  *     seen filter, robots, dedupe and the politeness schedule all reuse
  *     it: each output partition owns whole hosts, so scheduling is
  *     partition-local (a range write layout is applied at the sink);
  *   - hot hosts never sort on one reducer: their leg dedupes on url_key
  *     and caps with two-phase salted top-k ([[Politeness.capPerHost]]);
  *   - robots and the bloom table are broadcast (host- and
  *     filter-cardinality).
  */
/** Columns of [[Scheduler.fusedScheduleCap]]'s single-sort pipeline: the
  * bare frontier after canonicalization + robots (crawl_delay_ms is the
  * robots stage's per-host delay). Top-level (not object-nested private)
  * because the Dataset encoder's generated deserializer must reach the
  * class — a private nested case class fails Janino compilation at
  * runtime ("Private member cannot be accessed").
  */
private[frontier] case class FusedIn(url: String, priority_band: Option[Int],
                                     host: String, canonical_url: String,
                                     crawl_delay_ms: Long)
private[frontier] case class FusedOut(url: String, priority_band: Option[Int],
                                      host: String, canonical_url: String,
                                      crawl_delay_ms: Long,
                                      host_seq: Long, scheduled_ms: Long)

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
    * the hot/cold leg equivalence assumes the writer invariant.
    */
  def canonicalize(frontier: DataFrame): DataFrame = {
    val withHost =
      if (frontier.columns.contains("host")) frontier
      else frontier.withColumn("host", Canonical.hostOf(col("url")))
    withHost
      .withColumn("canonical_url", Canonical.canonicalUrl(col("url")))
      .withColumn("url_key", Canonical.urlKey(col("canonical_url")))
      .withColumn("host_hash", Canonical.hostHash(col("host")))
  }

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
    * round; 0 = explicit opt-OUT (uncapped, and no host takes the spread
    * leg unless `hotSpreadRows` or `knownHotHosts` names it — one
    * degenerate host can serialize a cold-leg reducer); >0 = exact cap.
    *
    * `hotSpreadRows`: raw-row threshold above which a host leaves the
    * cold pipeline for the salted spread leg (dedupeWithinBatch → seen
    * filter → robots → two-phase [[Politeness.capPerHost]] → schedule, a few
    * exchanges over just those hosts' rows). -1 (default) =
    * [[hotSpreadAuto]]. The CAP itself no longer depends on this split:
    * every cold-leg host is capped inside [[fusedScheduleCap]]'s scan
    * (or, on the extra-columns path, by a post-schedule
    * `host_seq <= cap` filter) — both row-identical to
    * capPerHost-then-schedule because each keeps exactly the first
    * `cap` rows per host in the politeness order (priority_band,
    * canonical_url) and crawl_delay_ms is constant per host — so
    * `knownHotHosts` (and this threshold) are PURE performance hints:
    * any hot set, including an undercounting one, yields the same
    * output. Warm hosts (over cap, under the spread threshold — the 40M
    * probe measured 401 such hosts carrying 20% of the frontier) stay
    * in the exchange-free leg instead of paying the spread leg's
    * url_key exchange + salted top-k + re-exchange, which cost 42% of
    * the 40M round's wall (28.4 s vs 16.4 s at c4, measured with the
    * since-removed FullGapProbe).
    *
    * `frontierHostClustered`: set true when `rawFrontier` scans a table
    * whose STORAGE LAYOUT already clusters rows by host — a Spark
    * bucketed table `CLUSTERED BY (host)`, or an Iceberg table with a
    * `bucket(N, host)` partition transform. The cold leg then skips its
    * explicit repartition: the bucketed scan reports
    * hashpartitioning(host), which satisfies the seen filter, robots and
    * the fused schedule scan — the cold leg runs with ZERO
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
               knownHotHosts: Option[Array[String]] = None,
               seenHostClustered: Boolean = false,
               hotSpreadRows: Long = -1): DataFrame =
    runRoundImpl(rawFrontier, seenKeys, Politeness.applyRobots(_, robots),
      perHostBudget, numBloomBuckets, maxPerHostPerRound, frontierHostClustered,
      knownHotHosts, seenHostClustered, hotSpreadRows)

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
                     knownHotHosts: Option[Array[String]] = None,
                     seenHostClustered: Boolean = false,
                     hotSpreadRows: Long = -1): DataFrame =
    runRoundImpl(rawFrontier, seenKeys, Politeness.applyRobotsMap(_, robotsBc),
      perHostBudget, numBloomBuckets, maxPerHostPerRound, frontierHostClustered,
      knownHotHosts, seenHostClustered, hotSpreadRows)

  /** Dedupe with the SAME winner as [[dedupeWithinBatch]] — the first
    * row per canonical_url in (canonical_url, priority_band, url, …rest)
    * order, i.e. the minimum over every column — but expressed as a
    * window over hash(host) partitioning, so the politeness window
    * downstream REUSES the exchange instead of adding a second
    * full-frontier shuffle. Only safe where per-host row counts are
    * bounded (the hot-host split keeps degenerate hosts out); url_key
    * hash collisions across distinct canonical urls are kept (2^-64),
    * where the agg form would collapse them — both deterministic.
    */
  private[graft] def dedupeWithinHost(canonical: DataFrame): DataFrame = {
    // lag-based adjacent-dup filter: one window pass, no rank recompute.
    // (A row_number()==1 over (host, canonical_url) formulation was
    // built and interleave-A/B'd at 8M rows: Spark inserts a
    // WindowGroupLimit pre-pass over the sorted 8M rows that costs ~4%
    // wall at 2 cores for a ~10%-duplicate input — the lag form keeps
    // the single pass.)
    // The lag compares a null-COALESCED surrogate so the all-null
    // canonical group (null url rows) collapses to ONE row like
    // dedupeWithinBatch does — plain lag(canonical) === canonical is
    // null for null inputs and silently kept every null row. The
    // sentinel cannot collide with a real canonical_url: canonical_url
    // is null iff url is null iff host is null, so a window partition
    // either holds only null canonicals or none.
    val first = Seq("canonical_url", "priority_band", "url")
    val order = first ++ canonical.columns.filterNot(first.contains)
    val w = org.apache.spark.sql.expressions.Window.partitionBy("host")
      .orderBy(order.map(c => col(c).asc): _*)
    val surr = coalesce(col("canonical_url"), lit("\u0000"))
    canonical
      .withColumn("__dup", lag(surr, 1).over(w) === surr)
      .where(col("__dup").isNull || !col("__dup")).drop("__dup")
  }

  /** Raw-rows-per-host threshold above which a host takes the salted
    * spread leg when the caller gives no explicit `hotSpreadRows`:
    * 64 × cap, floored at 1M rows. The spread leg exists for STRAGGLER
    * mitigation only (a 10^8-row host would otherwise sort on one
    * cold-leg reducer); correctness of the cap never depends on it (the
    * cold leg's post-schedule `host_seq <= cap` filter caps every
    * host). A 1M-row host inside a cold partition is a ~150 MB
    * spillable sort — tolerable; the floor keeps small explicit caps
    * (q72 uses 40) from routing merely-warm hosts through the spread
    * leg's three extra exchanges.
    */
  def hotSpreadAuto(cap: Int): Long = math.max(64L * cap, 1L << 20)

  /** Dedupe + politeness schedule + per-host cap in ONE sort and ONE
    * per-host scan, for the bare robotted frontier.
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
    *  - dedupe: within a host sorted by (band, canonical_url, url), the
    *    FIRST occurrence of a canonical_url is its min-(band, url) row —
    *    the same winner every dedupe form picks; later occurrences are
    *    skipped via the set. Robots runs BEFORE this pass (it commutes:
    *    all duplicates of a canonical share (host, canonical_url), so
    *    the whole group passes or fails together and the surviving
    *    winner is unchanged);
    *  - host_seq: a running counter over kept rows reproduces
    *    row_number() over (host ORDER BY band, canonical_url) — kept
    *    rows arrive in exactly that order;
    *  - cap: counter >= cap skips the host's tail, which also BOUNDS the
    *    set at `cap` entries per host regardless of host size (inserts
    *    stop once the cap is hit) — per-task state is O(cap), not
    *    O(host rows).
    *
    * Correctness needs each host's rows contiguous in one partition:
    * callers pass a host-clustered scan, an explicit repartition(host),
    * or a host-keyed join's output (every robots form preserves one of
    * these). Null url/canonical/host rows are one group under a
    * sentinel, like every other dedupe form. Ordering ties beyond
    * (band, canonical_url, url) are impossible within a host: equal
    * there means equal rows in this bare schema.
    */
  private[graft] def fusedScheduleCap(robotted: DataFrame, cap: Int): DataFrame = {
    val spark = robotted.sparkSession
    import spark.implicits._
    // priority_band decodes as Option[Int]: a nullable band column must
    // not crash the encoder — the window form this pass replaces ordered
    // null bands first, and the sort below does the same.
    val bare = robotted
      .select(col("url"),
        // cast like crawl_delay_ms below: a LONG band column (e.g. a
        // spark.range/pmod-derived frontier) must not fail `.as[FusedIn]`
        // when the pre-fusion agg/window paths accepted it
        col("priority_band").cast("int").as("priority_band"),
        col("host"), col("canonical_url"),
        col("crawl_delay_ms").cast("long").as("crawl_delay_ms"))
    // SELF-HEALING distribution check: the declarative forms this pass
    // replaces DECLARED their hash(host) requirements, so a lying
    // frontierHostClustered flag, a disabled bucketing conf, or a
    // bucket-count-mismatched seen join (whose SMJ exchanges on
    // (host, url_key) — hosts straddle partitions) only cost an extra
    // exchange. A mapPartitions declares nothing, so it enforces host
    // contiguity itself: inspect the PLANNED physical partitioning and
    // insert one explicit repartition unless it already clusters on
    // host. False negatives (an unrecognized-but-contiguous layout)
    // only cost that same exchange — never correctness. Planning the
    // subtree here costs milliseconds; no job runs.
    val contiguous = try {
      import org.apache.spark.sql.catalyst.plans.physical.ClusteredDistribution
      val hostAttr = bare.queryExecution.analyzed.output.find(_.name == "host").get
      bare.queryExecution.executedPlan.outputPartitioning
        .satisfies(ClusteredDistribution(Seq(hostAttr)))
    } catch { case _: Exception => false }
    (if (contiguous) bare else bare.repartition(col("host")))
      .sortWithinPartitions(col("host").asc, col("priority_band").asc,
        col("canonical_url").asc, col("url").asc)
      .as[FusedIn]
      .mapPartitions { it =>
        var started = false
        var curHost: String = null
        var seq = 0L
        val seenCanon = new java.util.HashSet[String]()
        it.flatMap { r =>
          if (!started || !java.util.Objects.equals(r.host, curHost)) {
            started = true; curHost = r.host; seq = 0L; seenCanon.clear()
          }
          val canonKey = if (r.canonical_url == null) "\u0000" else r.canonical_url
          if (seq >= cap || !seenCanon.add(canonKey)) Iterator.empty
          else {
            seq += 1
            Iterator.single(FusedOut(r.url, r.priority_band, r.host,
              r.canonical_url, r.crawl_delay_ms, seq, (seq - 1) * r.crawl_delay_ms))
          }
        }
      }
      .toDF()
  }

  /** Cold-leg schedule over seen-filtered, host-contiguous rows. Bare
    * (url, priority_band, host, canonical_url) schema → the fused
    * single-sort pipeline; extra frontier columns → whole-row window
    * dedupe + window schedule with the cap as a post-schedule filter
    * (row-identical to capPerHost-then-schedule; see the runRound doc).
    */
  private def coldLegSchedule(coldCanon: DataFrame,
                              robotsStage: DataFrame => DataFrame,
                              cap: Int): DataFrame =
    (if (coldCanon.columns.toSet ==
         Set("url", "priority_band", "host", "canonical_url"))
      fusedScheduleCap(robotsStage(coldCanon), cap)
    else
      Politeness.schedule(robotsStage(dedupeWithinHost(coldCanon)))
        .where(col("host_seq") <= cap))
      .withColumn("url_key", Canonical.urlKey(col("canonical_url")))
      .withColumn("host_hash", Canonical.hostHash(col("host")))

  /** Round cap: -1 = perHostBudget × [[DefaultMaxBatchesPerHost]],
    * 0 = uncapped, >0 = exact.
    */
  private def roundCap(perHostBudget: Int, maxPerHostPerRound: Int): Int =
    if (maxPerHostPerRound < 0) perHostBudget * DefaultMaxBatchesPerHost
    else if (maxPerHostPerRound == 0) Int.MaxValue
    else maxPerHostPerRound

  private def runRoundImpl(rawFrontier: DataFrame, seenKeys: DataFrame,
                           robotsStage: DataFrame => DataFrame,
                           perHostBudget: Int, numBloomBuckets: Int,
                           maxPerHostPerRound: Int, frontierHostClustered: Boolean,
                           knownHotHosts: Option[Array[String]],
                           seenHostClustered: Boolean, hotSpreadRows: Long): DataFrame = {
    val cap = roundCap(perHostBudget, maxPerHostPerRound)
    val spread = if (hotSpreadRows >= 0) hotSpreadRows else hotSpreadAuto(cap)
    val fresh = seenFilter(seenKeys, numBloomBuckets,
      coLocated = frontierHostClustered && seenHostClustered)
    val withHost =
      if (rawFrontier.columns.contains("host")) rawFrontier
      else rawFrontier.withColumn("host", Canonical.hostOf(col("url")))
    // hot-host selection counts RAW rows: dedupe, the seen filter and
    // robots only remove rows, and capping a below-cap host is a no-op,
    // so an overcount never changes the output
    val (hot, cold) = hotFlagSplit(withHost, hotRowSet(rawFrontier, spread, knownHotHosts))
    val hotSched = hot.map { h =>
      val deduped = dedupeWithinBatch(canonicalize(h))
      Politeness.schedule(Politeness.capPerHost(robotsStage(fresh(deduped)), cap))
    }
    // the cold leg's shuffle carries only the input columns: canonical_url
    // and url_key derive from url after the exchange, in the stage that
    // filters and sorts
    val coldCanon =
      (if (frontierHostClustered) cold else cold.repartition(col("host")))
        .withColumn("canonical_url", Canonical.canonicalUrl(col("url")))
    val coldFresh =
      fresh(coldCanon.withColumn("url_key", Canonical.urlKey(col("canonical_url"))))
        .drop("url_key")
    val coldSched = coldLegSchedule(coldFresh, robotsStage, cap)
    Politeness.fetchBatches(hotSched.fold(coldSched)(_.unionByName(coldSched)), perHostBudget)
      .sortWithinPartitions("priority_band", "scheduled_ms", "host_hash", "canonical_url")
  }

  /** The round's seen filter — rows whose url_key is not in `seenKeys`,
    * columns unchanged — picked once per round: identity for an empty
    * seen set; the (host, url_key) anti-join when both tables are stored
    * host-clustered, which is co-located (hash(host) on both sides is a
    * subset of the join keys, so neither side exchanges); otherwise a
    * bloom filter built once for both legs ([[SeenSet.sizedBloomFilter]]).
    */
  private def seenFilter(seenKeys: DataFrame, numBloomBuckets: Int,
                         coLocated: Boolean): DataFrame => DataFrame = {
    val nSeen = seenKeys.count()
    if (nSeen == 0L) identity
    else if (coLocated) {
      require(seenKeys.columns.contains("host"),
        "seenHostClustered requires a (host, url_key) seen table — " +
          "write it with saveSeenClustered / checkpointRound")
      // null-SAFE host equality: url_key is total (xxhash64 maps null
      // canonicals to a constant), so the all-null group's membership is
      // decided by key equality, as the bloom path decides it
      val seenSide = seenKeys
        .select(col("host").as("__seen_host"), col("url_key").as("__seen_key"))
      _.join(seenSide,
        col("host") <=> col("__seen_host") && col("url_key") === col("__seen_key"),
        "left_anti")
    } else SeenSet.sizedBloomFilter(seenKeys, nSeen, "url_key", numBloomBuckets)
  }

  /** Spread-leg host names for `runRound*`'s `knownHotHosts` — the
    * crawl-state form of the hot-host count. A production crawl loop
    * gets these for FREE from write-time lineage metrics (the frontier
    * writer knows per-host counts as it writes — [[partitionMetrics]] is
    * exactly that row set), so rounds skip the per-round count job the
    * same way they skip the per-round robots broadcast build. Passing a
    * SUPERSET of the currently-hot hosts is always correct: frontier
    * consumption only shrinks counts between writes, and capping a
    * below-cap host is a no-op (spec-tested in EngineSpec) — so metrics
    * captured at write time stay valid until the next write.
    */
  def hotHosts(rawFrontier: DataFrame, perHostBudget: Int = 100,
               maxPerHostPerRound: Int = -1,
               hotSpreadRows: Long = -1): Array[String] = {
    val cap = roundCap(perHostBudget, maxPerHostPerRound)
    // threshold matches the round's spread-leg routing, NOT the cap:
    // since the cold leg's post-schedule filter caps every host, the
    // only hosts worth naming are the ones that must avoid the cold
    // window's single-reducer sort. An over-CAP metrics set (what a
    // pre-spread writer persisted) remains a valid superset.
    val spread = if (hotSpreadRows >= 0) hotSpreadRows else hotSpreadAuto(cap)
    hotHostSet(rawFrontier, spread).collect().map(_.getString(0))
  }

  /** Collected over-cap host rows: caller-supplied names (DEDUPLICATED —
    * a knownHotHosts array built from overlapping metric snapshots must
    * not multiply rows through the hot-flag left join) or the counted
    * set.
    */
  private def hotRowSet(rawFrontier: DataFrame, threshold: Long,
                        known: Option[Array[String]]): Array[org.apache.spark.sql.Row] =
    known.map(_.distinct.map(h => org.apache.spark.sql.Row(h, true)))
      .getOrElse(hotHostSet(rawFrontier, threshold).collect())

  /** Split `df` into (over-cap-host rows, everything else) via one
    * broadcast flag join; empty hot set ⇒ (None, df) and the join
    * vanishes from the plan.
    */
  private def hotFlagSplit(df: DataFrame,
                           hotRows: Array[org.apache.spark.sql.Row]): (Option[DataFrame], DataFrame) =
    if (hotRows.isEmpty) (None, df)
    else {
      val hotHosts = df.sparkSession.createDataFrame(
        java.util.Arrays.asList(hotRows: _*),
        org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("host",
            org.apache.spark.sql.types.StringType),
          org.apache.spark.sql.types.StructField("__hot",
            org.apache.spark.sql.types.BooleanType))))
      val flagged = df.join(broadcast(hotHosts), Seq("host"), "left")
      (Some(flagged.where(col("__hot")).drop("__hot")),
        flagged.where(col("__hot").isNull).drop("__hot"))
    }

  private def hotHostSet(rawFrontier: DataFrame, threshold: Long): DataFrame = {
    // with a stored host column this pass reads ONE pruned column from
    // the frontier table (columnar scan, no url parse); salting keys on
    // host alone is fine for the count
    val hosted =
      if (rawFrontier.columns.contains("host"))
        rawFrontier.select(col("host"),
          pmod(monotonically_increasing_id(), lit(16L)).as("salt"))
      else rawFrontier.select(Canonical.hostOf(col("url")).as("host"),
        pmod(xxhash64(col("url")), lit(16L)).as("salt"))
    hosted
      .groupBy("host", "salt").agg(count(lit(1)).as("c"))
      .groupBy("host").agg(sum("c").as("n"))
      .where(col("n") > threshold)
      .select(col("host"), lit(true).as("__hot"))
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
