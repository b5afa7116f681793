package graft.frontier

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import java.util.Locale

/** robots.txt parser + matcher (RFC 9309 Robots Exclusion Protocol, with
  * the widely-deployed `Crawl-delay` extension) — feeds the politeness
  * stage's broadcast robots cache (north rule: "robots.txt cache
  * broadcast as a map-side lookup"). The upstream [[Politeness]] fixture
  * table is the PARSED form; this module produces it from raw fetched
  * robots.txt bodies.
  *
  * Semantics implemented per RFC 9309 §2:
  *  - groups: consecutive `User-agent` lines share the following rules;
  *    group selection is the LONGEST user-agent token that is a
  *    case-insensitive prefix of the product token, `*` as fallback;
  *  - rule matching: `Allow`/`Disallow` by longest-pattern-match
  *    precedence; equally-long allow wins (§2.2.2); empty `Disallow:`
  *    matches nothing; `*` wildcards and `$` end-anchor supported;
  *  - directive names case-insensitive, `#` comments stripped,
  *    unknown directives ignored; `Crawl-delay` parsed as (fractional)
  *    seconds → milliseconds.
  *
  * Scale shape: parsing runs once per HOST (the robots cache), never per
  * URL — a scalar UDF over the (host, body) table, broadcast to the
  * frontier; the per-URL work is only the prefix/wildcard match.
  */
object Robots {

  final case class Group(agents: Seq[String], allow: Seq[String],
                         disallow: Seq[String], crawlDelayMs: Option[Long])

  /** Parse a robots.txt body into rule groups. Lenient like real
    * crawlers: blank/junk lines skipped, rules before any User-agent
    * line go to an implicit `*` group.
    */
  def parse(body: String): Seq[Group] = {
    val groups = scala.collection.mutable.ArrayBuffer.empty[Group]
    var agents = Vector.empty[String]
    var allow = Vector.empty[String]
    var disallow = Vector.empty[String]
    var delay: Option[Long] = None
    var sawRules = false
    def flush(): Unit = {
      if (agents.nonEmpty || sawRules)
        groups += Group(if (agents.isEmpty) Vector("*") else agents,
          allow, disallow, delay)
      agents = Vector.empty; allow = Vector.empty; disallow = Vector.empty
      delay = None; sawRules = false
    }
    for (raw <- Option(body).getOrElse("").linesIterator) {
      val line = raw.indexOf('#') match {
        case -1 => raw.trim
        case i => raw.substring(0, i).trim
      }
      val colon = line.indexOf(':')
      if (colon > 0) {
        val key = line.substring(0, colon).trim.toLowerCase(Locale.ROOT)
        val value = line.substring(colon + 1).trim
        key match {
          case "user-agent" =>
            if (sawRules) flush() // a new group starts after rules
            agents :+= value.toLowerCase(Locale.ROOT)
          case "allow" => sawRules = true; if (value.nonEmpty) allow :+= value
          case "disallow" => sawRules = true; if (value.nonEmpty) disallow :+= value
          case "crawl-delay" =>
            sawRules = true
            delay = scala.util.Try((value.toDouble * 1000).toLong).toOption
          case _ => () // unknown directive: ignored per RFC 9309 §2.2.4
        }
      }
    }
    flush()
    groups.toSeq
  }

  /** RFC 9309 §2.2.1 group selection: longest agent token that prefixes
    * the product token (case-insensitive); `*` only when nothing matches.
    * Per §2.2.1 "combine the rules" — ALL groups whose agent set matches
    * the chosen token merge (and all `*` groups merge for the fallback),
    * so a robots.txt with two `User-agent: *` blocks keeps both blocks'
    * Allow/Disallow lines. Crawl-delay: first defined wins.
    */
  def select(groups: Seq[Group], userAgent: String): Option[Group] = {
    val ua = userAgent.toLowerCase(Locale.ROOT)
    val scored = for {
      g <- groups
      a <- g.agents
      if a != "*" && ua.startsWith(a)
    } yield (a.length, g)
    def merge(gs: Seq[Group]): Option[Group] = gs match {
      case Seq() => None
      case gs => Some(Group(gs.flatMap(_.agents).distinct,
        gs.flatMap(_.allow), gs.flatMap(_.disallow),
        gs.flatMap(_.crawlDelayMs).headOption))
    }
    val bestLen = scored.map(_._1).maxOption
    bestLen.flatMap(len => merge(scored.collect {
        case (l, g) if l == len => g
      }.distinct))
      .orElse(merge(groups.filter(_.agents.contains("*"))))
  }

  /** Pattern match with `*` wildcards and `$` end anchor (§2.2.3).
    * Returns the pattern's specificity (its length) on match, -1 else.
    */
  private[graft] def matchLen(pattern: String, path: String): Int = {
    val anchored = pattern.endsWith("$")
    val p = if (anchored) pattern.dropRight(1) else pattern
    val parts = p.split("\\*", -1).toIndexedSeq
    def matches: Boolean = {
      if (!path.startsWith(parts.head)) false
      else if (parts.length == 1) !anchored || parts.head.length == path.length
      else {
        // greedy earliest placement for the middle segments, then the
        // last segment as a suffix (anchored) or any occurrence
        var pos = parts.head.length
        val middleOk = parts.tail.dropRight(1).forall { seg =>
          val at = path.indexOf(seg, pos)
          if (at < 0) false else { pos = at + seg.length; true }
        }
        middleOk && {
          val last = parts.last
          if (anchored) path.length - last.length >= pos && path.endsWith(last)
          else path.indexOf(last, pos) >= 0
        }
      }
    }
    if (matches) pattern.length else -1
  }

  /** §2.2.2 precedence: most specific (longest) matching rule wins;
    * tie → allow; no match → allowed.
    */
  def isAllowed(group: Group, path: String): Boolean = {
    val bestAllow = group.allow.map(matchLen(_, path)).foldLeft(-1)(math.max)
    val bestDisallow = group.disallow.map(matchLen(_, path)).foldLeft(-1)(math.max)
    bestAllow >= bestDisallow
  }

  /** Resolved per-host verdict function for one user agent. */
  def verdict(body: String, userAgent: String, path: String,
              defaultDelayMs: Long): (Boolean, Long) =
    select(parse(body), userAgent) match {
      case None => (true, defaultDelayMs)
      case Some(g) => (isAllowed(g, path), g.crawlDelayMs.getOrElse(defaultDelayMs))
    }

  /** Apply raw robots bodies to a frontier: keep only allowed URLs with
    * their crawl delay attached. `frontier` needs (host, path) columns;
    * hosts absent from the cache are allowed at the default delay (no
    * robots.txt = no restrictions).
    *
    * SIZE-AWARE path selection ([[rawRobotsPath]], the one choice both
    * this and [[rawRobotsStage]] make): a small body table broadcasts and
    * the frontier stays un-shuffled; past `maxBroadcastBytes` the bodies
    * parse per-host IN EXECUTORS and the compiled rule table shuffle-joins
    * the frontier on `host` ([[applyRawRobotsDistributed]]) — a 10^8-host
    * crawl's 0.1–1 TB of robots bodies must never funnel through driver
    * memory. The politeness window downstream shuffles on `host` anyway,
    * so the distributed join introduces no extra frontier exchange beyond
    * the one that stage already needs. Both paths produce identical rows.
    * A caller that already knows the body-table size (a crawl loop over
    * a static robots cache) passes `knownBytes` and skips the count job.
    */
  def applyRawRobots(frontier: DataFrame, robotsBodies: DataFrame,
                     userAgent: String, defaultDelayMs: Long = 1000L,
                     maxBroadcastBytes: Long = 256L << 20,
                     knownBytes: Option[Long] = None): DataFrame =
    rawRobotsPath(robotsBodies, userAgent, defaultDelayMs, maxBroadcastBytes,
      knownBytes.getOrElse(bodyBytes(robotsBodies)))(frontier)

  /** [[applyRawRobots]] as a crawl-lifetime stage: runs the byte-count job
    * and, on the broadcast path, the collect + broadcast ONCE at
    * construction, so a K-round crawl loop pays them once for the whole
    * crawl instead of once per round over a table whose size never
    * changes mid-crawl.
    */
  def rawRobotsStage(robotsBodies: DataFrame, userAgent: String,
                     defaultDelayMs: Long = 1000L,
                     maxBroadcastBytes: Long = 256L << 20)
      : DataFrame => DataFrame =
    rawRobotsPath(robotsBodies, userAgent, defaultDelayMs, maxBroadcastBytes,
      bodyBytes(robotsBodies))

  /** Total body bytes of the (host, body) table: one aggregate job. */
  private def bodyBytes(robotsBodies: DataFrame): Long =
    robotsBodies.agg(coalesce(sum(octet_length(col("body"))), lit(0L))).head.getLong(0)

  /** The one path choice for `totalBytes` of robots bodies. Up to
    * `maxBroadcastBytes`: collect the (host, body) cache, broadcast it,
    * and filter through the executor-cached resolver, which parses each
    * host's body once per JVM; the frontier stays narrow. Past it:
    * [[applyRawRobotsDistributed]].
    */
  private def rawRobotsPath(robotsBodies: DataFrame, userAgent: String,
                            defaultDelayMs: Long, maxBroadcastBytes: Long,
                            totalBytes: Long): DataFrame => DataFrame =
    if (totalBytes > maxBroadcastBytes)
      applyRawRobotsDistributed(_, robotsBodies, userAgent, defaultDelayMs)
    else {
      val bodies = robotsBodies.select(col("host"), col("body")).collect()
        .map(r => r.getString(0) -> r.getString(1)).toMap
      val bc = robotsBodies.sparkSession.sparkContext.broadcast(bodies)
      val resolver = new RobotsResolver(bc, userAgent, defaultDelayMs)
      val verdictUdf = udf((host: String, path: String) => resolver.resolve(host, path))
      frontier => frontier
        .withColumn("robots", verdictUdf(col("host"), col("path")))
        .where(col("robots._1"))
        .withColumn("crawl_delay_ms", col("robots._2"))
        .drop("robots")
    }

  /** Distributed path: parse + group-select each body WHERE IT LIVES (one
    * scalar UDF over the host-cardinality body table — never through the
    * driver), then shuffle-join the compiled (allow, disallow, delay)
    * rule table on `host`. Rule rows are tiny (compiled prefixes, not
    * bodies), so the join's build side stays small per host; the
    * per-URL work is the same [[isAllowed]] match as the broadcast path.
    */
  private[frontier] def applyRawRobotsDistributed(
      frontier: DataFrame, robotsBodies: DataFrame,
      userAgent: String, defaultDelayMs: Long): DataFrame = {
    val compileUdf = udf { (body: String) =>
      select(parse(body), userAgent)
        .map(g => (g.allow, g.disallow, g.crawlDelayMs.getOrElse(defaultDelayMs)))
    }
    val rules = robotsBodies
      .select(col("host"), compileUdf(col("body")).as("g"))
      .where(col("g").isNotNull) // no group selected ≡ host absent: allowed
    val allowedUdf = udf { (allow: Seq[String], disallow: Seq[String], path: String) =>
      isAllowed(Group(Nil, allow, disallow, None), path)
    }
    frontier
      .join(rules, Seq("host"), "left")
      .where(col("g").isNull || allowedUdf(col("g._1"), col("g._2"), col("path")))
      .withColumn("crawl_delay_ms", coalesce(col("g._3"), lit(defaultDelayMs)))
      // same column order as the broadcast path (a USING join moves the
      // key first; callers must see one shape from both paths)
      .select(frontier.columns.map(col) :+ col("crawl_delay_ms"): _*)
  }

  /** Executor-side cache: each host's body parses once per JVM, not once
    * per row.
    */
  private final class RobotsResolver(bc: org.apache.spark.broadcast.Broadcast[Map[String, String]],
                                     userAgent: String, defaultDelayMs: Long)
      extends Serializable {
    @transient private lazy val groups =
      new java.util.concurrent.ConcurrentHashMap[String, Option[Group]]()
    def resolve(host: String, path: String): (Boolean, Long) = {
      val g = groups.computeIfAbsent(host,
        h => bc.value.get(h).flatMap(b => select(parse(b), userAgent)))
      g match {
        case None => (true, defaultDelayMs)
        case Some(grp) => (isAllowed(grp, path), grp.crawlDelayMs.getOrElse(defaultDelayMs))
      }
    }
  }
}
