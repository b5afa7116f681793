package graft

import graft.frontier.Scheduler
import graft.synth.Synth
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Long-lived frontier-round measurement child (spawned by Bench): one
  * JVM, one SparkSession, then one timed round per "go" line on stdin,
  * each printed as `ROUND_SEC=<s> ROUND_ROWS=<n>`.
  *
  * One JVM per cores level (not one per trial) because on this microVM
  * cold guest pages fault at ~4.7 s/GB of kernel time: a fresh 10g JVM
  * per trial pays ~47 s of page faults each — five trials burned ~4 min
  * of a 7-min budget on zeroing.
  *
  * NO warm-up rounds in table mode: `READY` prints as soon as the session
  * and robots broadcast exist (~10 s). The first TIMED round is the
  * warm-up — it runs ~1.7-3× the converged min (JIT + heap faults) and
  * min-of-rounds discards it, which the ≥3-rounds/config evidence bar
  * already requires. The previous shape (a synth warm-up round plus a
  * full-table warm-up round before READY) delayed readiness to 53 s (c8)
  * / 81 s (c2) on an IDLE box — concurrent with the parent's 32-thread
  * verify warm-up it pushed past the gate phase's budget arithmetic and
  * the r04.0 driver run recorded ZERO scaling rounds. Readiness is the
  * critical path; warm-up inside timed rounds costs only the round-1
  * sample.
  *
  * Args: cores n nHosts [shufflePartitions].
  */
object BenchRound {
  def main(args: Array[String]): Unit = {
    val cores = args(0).toInt
    val n = args(1).toInt
    val nHosts = args(2).toInt
    val parts = if (args.length > 3) args(3).toInt else 64
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", parts)
      // AQE off for the frontier round: skew is handled explicitly (hot-host
      // split), partitioning is fixed at 64, and AQE's per-stage
      // materialization adds pure overhead — same-window interleaved A/B
      // (tools/aqe_ab.py): c2 42.2 vs 45.2 s, c8 12.6 vs 13.5 s, ratio
      // 0.842 vs 0.835. The query suite keeps AQE on (skew joins benefit).
      .config("spark.sql.adaptive.enabled", sys.env.getOrElse("SPARK_GRAFT_AQE", "false"))
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    // robots cache: built once per crawl (= once per child JVM), reused
    // by every round — the north rule's map-side robots lookup. The
    // per-round broadcast-JOIN build it replaces cost ~1 s of fixed
    // driver time per round and was the worst-scaling stage (StageProbe).
    val robotsBc = graft.frontier.Politeness.robotsBroadcast(
      Synth.robots(spark, nHosts).toDF())

    // Frontier source: the real crawl round scans an Iceberg-backed
    // frontier table (north rule) — SPARK_GRAFT_FRONTIER_PATH points at
    // a pre-written parquet of (url, priority_band) and rounds scan it,
    // like production. Unset → synthesize per round (the pre-round-4
    // harness shape; kept for A/B). The table is written ONCE by the
    // parent with a fixed 64-way layout so every cores level reads the
    // same files.
    val frontierPath = sys.env.get("SPARK_GRAFT_FRONTIER_PATH")
    // SPARK_GRAFT_FRONTIER_BUCKETED points at a Spark bucketed-table
    // LOCATION (CLUSTERED BY host INTO `parts` BUCKETS, written by the
    // parent) — the sandbox stand-in for an Iceberg bucket(N, host)
    // partition transform. The round then runs with
    // frontierHostClustered=true: ZERO full-frontier exchanges (the
    // storage layout paid the shuffle once at write; every round reuses
    // it — at cluster scale that is the per-round network bill gone).
    val bucketedPath = sys.env.get("SPARK_GRAFT_FRONTIER_BUCKETED")
    bucketedPath.foreach { p =>
      spark.sql("DROP TABLE IF EXISTS graft_bench_frontier")
      spark.sql(s"CREATE TABLE graft_bench_frontier " +
        "(url STRING, priority_band INT, host STRING) USING parquet " +
        s"CLUSTERED BY (host) INTO $parts BUCKETS LOCATION '$p'")
    }
    def round(rows: Int): Long = {
      val frontier = (bucketedPath, frontierPath) match {
        case (Some(_), _) if rows == n => spark.table("graft_bench_frontier")
        case (None, Some(p)) if rows == n => spark.read.parquet(p)
        case (Some(_), _) | (None, Some(_)) =>
          // warm-up in table mode: same (url, band, host) schema as the
          // table so the agg-dedupe path and pruned host scan are JIT-hot
          Synth.frontierSeed(spark, rows, nHosts).toDF()
            .select(col("url"), col("priority_band"))
            .withColumn("host", graft.frontier.Canonical.hostOf(col("url")))
        case _ => Synth.frontierSeed(spark, rows, nHosts).toDF()
          .select(col("url"), col("priority_band"))
      }
      val seen = Scheduler.loadSeen(spark, "/tmp/graft-bench-none")
      Scheduler.runRoundCached(frontier, seen, robotsBc,
        frontierHostClustered = bucketedPath.isDefined && rows == n).count()
    }

    // Small synth warm-up (250k rows) in EVERY mode: enough rows to JIT
    // the codegen'd round pipeline (compilation triggers on invocation
    // counts, not data volume) without the old full-table warm-up that
    // delayed READY to 81 s (the r04.0 failure). A fully-cold c1 first
    // TABLE round measured 74 s vs ~35 after a synth warm-up — round 1
    // still faults heap and min-of-rounds discards it, but it no longer
    // eats a third of the gate budget.
    round(250000)
    // ...but the synth warm round never touches the PARQUET SCAN path
    // (rows != n routes to a generated DataFrame), so round 1 was still
    // paying the vectorized-reader + bucketed-scan JIT at full table
    // size — at c1 that interpreted decode ran round 1 to 78-128 s
    // across otherwise-idle runs (steady round: 28-31 s). NOT count():
    // count() prunes the required schema to zero columns and parquet
    // answers it from row-group metadata, so the string-decode path the
    // warm exists to JIT would never run — consume every column through
    // a hash aggregate instead, still pre-READY where nothing is timed
    // and the parent is warming up anyway.
    def warmScan(df: DataFrame): Unit = {
      df.agg(max(xxhash64(df.columns.map(col): _*))).head(); ()
    }
    (bucketedPath, frontierPath) match {
      case (Some(_), _) => warmScan(spark.table("graft_bench_frontier"))
      case (None, Some(p)) => warmScan(spark.read.parquet(p))
      case _ => ()
    }
    println("READY")

    val in = new java.io.BufferedReader(new java.io.InputStreamReader(System.in))
    var line = in.readLine()
    while (line != null && line.trim == "go") {
      val t0 = System.nanoTime()
      val scheduled = round(n)
      val sec = (System.nanoTime() - t0) / 1e9
      // Locale.US: a comma-decimal default locale would break the
      // parent's "[0-9.]+" match and abort the whole bench
      println("ROUND_SEC=%.4f ROUND_ROWS=%d"
        .formatLocal(java.util.Locale.US, sec, scheduled))
      line = in.readLine()
    }
    spark.stop()
  }
}
