package graft.frontier

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Per-host politeness: robots.txt cache broadcast + deterministic
  * token-bucket scheduling (north rule).
  *
  * The schedule is WINDOW-BASED, not wall-clock: within each host, URLs are
  * totally ordered by (priority_band, canonical_url) and the i-th URL is
  * scheduled at `i * crawl_delay_ms`. Same input ⇒ same schedule at ANY
  * parallelism — this is what makes crawl ordering reproducible across
  * cluster sizes (SURVEY.md §7.4 #1).
  */
object Politeness {

  val DefaultDelayMs = 1000L

  /** Path component of a canonical URL (empty for null/host-only/
    * unparseable): everything from the first '/' after the authority up
    * to '?' or '#' — the truth table of the regex path capture
    * `^[a-z][a-z0-9+.-]*://[^/?#]*([^?#]*)`, in one scan.
    */
  private def pathOf(url: String): String = {
    val schemeEnd = if (url == null) -1 else url.indexOf("://")
    if (schemeEnd < 0) ""
    else {
      val slash = url.indexOf('/', schemeEnd + 3)
      if (slash < 0) ""
      else {
        var end = url.indexOf('?', slash)
        val hash = url.indexOf('#', slash)
        if (hash >= 0 && (end < 0 || hash < end)) end = hash
        if (end < 0) url.substring(slash) else url.substring(slash, end)
      }
    }
  }

  /** The robots cache, built ONCE per crawl and reused across rounds —
    * the north rule's "robots.txt cache broadcast as a map-side lookup"
    * taken literally: the host-cardinality table
    * `robots(host, crawl_delay_ms, disallow_prefixes)` is collected once
    * and shipped as one Broadcast, and every round's robots stage is a
    * narrow projection ([[applyRobotsMap]]). A null delay means the
    * default delay; a negative one is clamped to 0, so it never reads as
    * the filter's -1 drop sentinel; a null prefix list disallows nothing.
    *
    * The table must hold one row per host: a null or repeated `host` is
    * rejected, naming the host, rather than resolved by whichever row
    * the collect returns last. Size guard: the driver holds the whole
    * table, so a table past `maxHosts` is rejected; a crawl past it
    * shards its loop by host range.
    */
  def robotsBroadcast(robots: DataFrame,
                      maxHosts: Long = 20000000L): org.apache.spark.broadcast.Broadcast[
      Map[String, (Long, Array[String])]] = {
    val n = robots.count()
    require(n <= maxHosts, s"robots table has $n hosts, over the limit of $maxHosts")
    val spark = robots.sparkSession
    val rules = robots
      .select(col("host"), col("crawl_delay_ms").cast("long"),
        col("disallow_prefixes"))
      .collect()
      .map(r => r.getString(0) -> (
        (if (r.isNullAt(1)) DefaultDelayMs else math.max(0L, r.getLong(1))),
        (if (r.isNullAt(2)) Array.empty[String]
         else r.getSeq[String](2).toArray)))
    val hosts = rules.map(_._1)
    require(!hosts.contains(null), "robots table has a null host")
    val repeated = hosts.diff(hosts.distinct)
    require(repeated.isEmpty, s"robots table has more than one row for host ${repeated.head}")
    spark.sparkContext.broadcast(rules.toMap)
  }

  /** The robots filter over a [[robotsBroadcast]] cache: drop URLs whose
    * path starts with a disallowed prefix and attach each row's
    * `crawl_delay_ms`; hosts with no entry keep the default delay. One
    * scalar UDF (map lookup + prefix test), zero joins, zero per-round
    * broadcast builds; the input's columns keep their order.
    */
  def applyRobotsMap(frontier: DataFrame,
                     bc: org.apache.spark.broadcast.Broadcast[
                       Map[String, (Long, Array[String])]]): DataFrame = {
    val delayOrDropUdf = udf { (host: String, url: String) =>
      bc.value.get(host) match {
        case None => DefaultDelayMs
        case Some((delay, prefixes)) =>
          val path = pathOf(url)
          var i = 0
          var hit = false
          while (i < prefixes.length && !hit) {
            hit = path.startsWith(prefixes(i)); i += 1
          }
          if (hit) -1L else delay
      }
    }
    frontier
      .withColumn("crawl_delay_ms",
        delayOrDropUdf(col("host"), col("canonical_url")))
      .where(col("crawl_delay_ms") >= 0L)
  }

  /** Deterministic token-bucket schedule: per host, ordered by
    * (priority_band asc, canonical_url asc), the n-th URL fetches at
    * (n-1) * crawl_delay_ms. Requires columns: host, canonical_url,
    * priority_band, crawl_delay_ms. Adds host_seq + scheduled_ms.
    */
  def schedule(frontier: DataFrame): DataFrame = {
    val w = Window.partitionBy("host").orderBy(col("priority_band").asc, col("canonical_url").asc)
    frontier
      .withColumn("host_seq", row_number().over(w).cast("long"))
      .withColumn("scheduled_ms", (col("host_seq") - 1) * col("crawl_delay_ms"))
  }

  /** Fetch-batch emission: cap each host at `perHostBudget` URLs per batch;
    * batch_id = (host_seq-1) / budget. The per-host LIMIT of SURVEY.md §2.6.
    */
  def fetchBatches(scheduled: DataFrame, perHostBudget: Int): DataFrame =
    scheduled.withColumn("batch_id",
      floor((col("host_seq") - 1) / perHostBudget).cast("long"))

  /** Deterministic per-host round cap WITHOUT serializing a hot host onto
    * one reducer (hot-host skew mitigation): phase 1 takes the top-`cap`
    * per (host, salt) — a 10^8-URL host fans across `nSalt` window
    * reducers — and phase 2 takes the exact top-`cap` per host over the
    * ≤ nSalt·cap survivors. Two-phase top-k: the result is IDENTICAL to a
    * single row_number-over-host cap (phase 1 can only drop rows ranked
    * below `cap` within a salt, which are ranked below `cap` globally),
    * but the full hot-host row set never sorts in one task. Order is the
    * politeness order (priority_band, canonical_url) so the cap keeps
    * exactly the URLs [[schedule]] would fetch first.
    */
  def capPerHost(frontier: DataFrame, cap: Int, nSalt: Int = 16): DataFrame = {
    val order = Seq(col("priority_band").asc, col("canonical_url").asc)
    val w1 = Window
      .partitionBy(col("host"), pmod(xxhash64(col("canonical_url")), lit(nSalt.toLong)))
      .orderBy(order: _*)
    val w2 = Window.partitionBy("host").orderBy(order: _*)
    frontier
      .withColumn("r1", row_number().over(w1)).where(col("r1") <= cap).drop("r1")
      .withColumn("r2", row_number().over(w2)).where(col("r2") <= cap).drop("r2")
  }
}
