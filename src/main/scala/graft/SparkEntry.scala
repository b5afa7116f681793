package graft

import graft.core.{Digests, Field, FieldOps, HeaderSerde}
import graft.frontier.{Canonical, CuckooSeenSet, Politeness, Scheduler, SeenSet}
import graft.ops.{ExportImportOp, ExtractOp, FilterOp, ListOp, VerifyOp}
import graft.pipeline.{Ann, Avi, Dedup, Multimodal, TextOps}
import graft.synth.Synth
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Driver contract — one `queries` entry per implemented operator from
  * SURVEY.md §2, each with a DuckDB-equivalent oracle in [[oracleSql]].
  *
  * WARC/frontier-shaped inputs are DERIVED deterministically inside each
  * query from the driver parquet tables (orders/documents/embeddings) so
  * the DuckDB oracle can reproduce the construction and check the operator
  * end-to-end. Numeric outputs are integers (counts / cents / milli-floors)
  * — bit-exact across engines.
  */
object SparkEntry {

  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    s.read.parquet(s"$dir/$name.parquet")

  /** Fanned-out table read: the sandbox parquet files are single-row-group
    * (unsplittable → 1-task scans), so compute-heavy queries explicitly
    * repartition after the scan — the standard Spark treatment for small
    * unsplittable inputs. On a real cluster the inputs arrive as many
    * files/row groups and the scan parallelizes natively; point lookups
    * (q03) keep the raw `t` so filter pushdown reaches the scan.
    */
  private def ft(s: SparkSession, dir: String, name: String): DataFrame =
    t(s, dir, name).repartition(s.sparkContext.defaultParallelism)

  // ---- derived WARC records from orders (mirrored in the oracle CTEs) ----

  private def warcType: Column =
    when(col("o_orderstatus") === "O", "response")
      .when(col("o_orderstatus") === "F", "resource")
      .otherwise("metadata")

  private def contentType: Column =
    when(col("o_orderstatus") === "O", "application/http; msgtype=response")
      .when(col("o_orderstatus") === "F", "image/png")
      .otherwise("text/plain")

  private def recordUri: Column =
    concat(lit("https://h"), pmod(col("o_custkey"), lit(50)).cast("string"),
      lit(".example.test/o/"), col("o_orderkey").cast("string"))

  private def recordId(k: Column): Column =
    concat(lit("<urn:graft:"), k.cast("string"), lit(">"))

  /** Clean derived records(position, file, version, fields). */
  private def derivedRecords(s: SparkSession, dir: String): DataFrame =
    derivedRecordsFrom(ft(s, dir, "orders"))

  /** Raw-scan variant (no fan-out) so point lookups keep filter pushdown. */
  private def derivedRecordsRaw(s: SparkSession, dir: String): DataFrame =
    derivedRecordsFrom(t(s, dir, "orders"))

  private def derivedRecordsFrom(orders: DataFrame): DataFrame =
    orders.select(
      col("o_orderkey").as("position"),
      lit("orders.warc").as("file"),
      lit("WARC/1.1").as("version"),
      array(
        struct(lit("WARC-Record-ID").as("name"), recordId(col("o_orderkey")).as("value")),
        struct(lit("WARC-Type").as("name"), warcType.as("value")),
        struct(lit("Content-Length").as("name"),
          round(col("o_totalprice") * 100).cast("long").cast("string").as("value")),
        struct(lit("WARC-Date").as("name"),
          date_format(col("o_orderdate"), "yyyy-MM-dd'T'HH:mm:ss'Z'").as("value")),
        struct(lit("Content-Type").as("name"), contentType.as("value")),
        struct(lit("WARC-Target-URI").as("name"), recordUri.as("value")),
        struct(lit("X-Priority").as("name"), col("o_orderpriority").as("value"))
      ).as("fields"))

  /** Dirty variant: injected problems (drop Content-Length %11, bad date
    * %13, unknown type %17, revisit-without-profile %19) + dangling
    * WARC-Refers-To on metadata records.
    */
  private def derivedDirtyRecords(s: SparkSession, dir: String): DataFrame =
    ft(s, dir, "orders").select(
      col("o_orderkey").as("position"),
      lit("orders.warc").as("file"),
      lit("WARC/1.1").as("version"),
      filter(array(
        struct(lit("WARC-Record-ID").as("name"), recordId(col("o_orderkey")).as("value")),
        struct(lit("WARC-Type").as("name"),
          when(pmod(col("o_orderkey"), lit(17)) === 0, lit("bogus"))
            .when(pmod(col("o_orderkey"), lit(19)) === 0, lit("revisit"))
            .otherwise(warcType).as("value")),
        when(pmod(col("o_orderkey"), lit(11)) =!= 0,
          struct(lit("Content-Length").as("name"),
            round(col("o_totalprice") * 100).cast("long").cast("string").as("value"))),
        struct(lit("WARC-Date").as("name"),
          when(pmod(col("o_orderkey"), lit(13)) === 0, lit("not-a-date"))
            .otherwise(date_format(col("o_orderdate"), "yyyy-MM-dd'T'HH:mm:ss'Z'")).as("value")),
        struct(lit("Content-Type").as("name"), contentType.as("value")),
        struct(lit("WARC-Target-URI").as("name"), recordUri.as("value")),
        when(col("o_orderstatus") =!= "O" && col("o_orderstatus") =!= "F",
          struct(lit("WARC-Refers-To").as("name"),
            recordId(col("o_orderkey") * 2).as("value")))
      ), x => x.isNotNull).as("fields"))

  /** Public handle for Bench (records-verified/sec headline). */
  def dirtyRecordsFor(s: SparkSession, dir: String): DataFrame =
    derivedDirtyRecords(s, dir)

  // ---- derived frontier from orders (p = key%3000, host = p%37) ----

  private def frontierUrl: Column = {
    val p = pmod(col("o_orderkey"), lit(3000)).cast("string")
    val h = pmod(pmod(col("o_orderkey"), lit(3000)), lit(37)).cast("string")
    val v = pmod(col("o_orderkey"), lit(4))
    when(v === 0, concat(lit("https://H"), h, lit(".Example.Test:443/p/"), p, lit("?b=2&a=1#frag")))
      .when(v === 1, concat(lit("http://h"), h, lit(".example.test:80/p/"), p))
      .when(v === 2, concat(lit("https://h"), h, lit(".example.test:8443/p/"), p, lit("?x=1")))
      .otherwise(concat(lit("http://h"), h, lit(".example.test.")))
  }

  private def derivedFrontier(s: SparkSession, dir: String): DataFrame =
    ft(s, dir, "orders").select(
      frontierUrl.as("url"),
      pmod(floor(col("o_orderkey") / 3000), lit(4)).cast("int").as("priority_band"))

  /** Build-once archive fixture for the split gates (q61/q67). The
    * operator under test is the byte-range SPLITTER — decode + verify —
    * not the encoder (the encode path has its own gate, q47, and spec
    * coverage). The archive is a pure function of (sf dir, codec), so it
    * is built once behind an `.ok` marker and reused by every later
    * invocation (bench re-time, Verify rerun, retry): the ~300 MB synth +
    * parallel encode + concat cost ~25-40 s at bench sf and was the
    * reason q61 burned its watchdog leash in three driver-shaped runs. A
    * partial build (crash before the marker lands) is dropped and
    * rebuilt. One file per (sf, codec) — nothing accretes.
    */
  /** Cache key for the build-once /tmp gate fixtures: sf-dir basename
    * alone is ambiguous (two datasets can share `sf0.1`), so the key
    * also carries the orders table's byte length (a metadata stat that
    * pins the dataset) and a fixture-shape version (bump `v` when the
    * synthesis constants change — a stale archive behind an `.ok`
    * marker would fail gates for a reason invisible in the query).
    */
  private def fixtureKey(s: SparkSession, dir: String, v: Int): String = {
    val p = new org.apache.hadoop.fs.Path(s"$dir/orders.parquet")
    val len = p.getFileSystem(s.sparkContext.hadoopConfiguration)
      .getFileStatus(p).getLen
    s"${new java.io.File(dir).getName}-v$v-$len"
  }

  /** Sweep scope for [[buildOnceDir]]: every key of the SAME dataset
    * (sf basename) — stale versions and changed lengths — and nothing
    * belonging to another sf size.
    */
  private def fixtureSweepPrefix(dir: String): String =
    s"${new java.io.File(dir).getName}-"

  /** Build-once /tmp fixture hygiene shared by the gate fixtures:
    * builds into a fresh `.build-*` temp dir under `root`, atomically
    * renames it to `root/key` (a concurrent Verify/Bench JVM losing the
    * rename race adopts the winner's complete dir instead of observing
    * one mid-rebuild), and sweeps stale SAME-DATASET siblings — old
    * fixture versions / changed dataset lengths under `sweepPrefix`,
    * plus dead half-built temps older than an hour — so /tmp does not
    * accrete across version bumps. OTHER datasets' keys (a different sf
    * size) are deliberately kept: a Verify at sf0.01 racing a Bench at
    * sf0.1 must not delete the fixture the other JVM is mid-read on
    * (and sweeping them would also rebuild the ~300 MB archive on every
    * sf alternation). Returns the final dir path; `.ok` inside it marks
    * a complete build.
    */
  private def buildOnceDir(root: String, key: String, sweepPrefix: String)
                          (build: java.io.File => Unit): String = {
    val rootF = new java.io.File(root)
    val finalF = new java.io.File(rootF, key)
    if (!new java.io.File(finalF, ".ok").isFile) {
      rootF.mkdirs()
      val lfs = org.apache.hadoop.fs.FileSystem.getLocal(
        new org.apache.hadoop.conf.Configuration())
      Option(rootF.listFiles()).getOrElse(Array.empty[java.io.File]).foreach { f =>
        val staleVersion = f.getName.startsWith(sweepPrefix) && f.getName != key
        val deadTemp = f.getName.startsWith(".build-") &&
          System.currentTimeMillis() - f.lastModified() >= 3600L * 1000
        if (staleVersion || deadTemp)
          lfs.delete(new org.apache.hadoop.fs.Path(f.getAbsolutePath), true)
      }
      val tmpF = new java.io.File(rootF,
        s".build-${ProcessHandle.current().pid()}-${System.nanoTime()}")
      tmpF.mkdirs()
      build(tmpF)
      new java.io.File(tmpF, ".ok").createNewFile()
      if (!tmpF.renameTo(finalF)) {
        lfs.delete(new org.apache.hadoop.fs.Path(tmpF.getAbsolutePath), true)
        require(new java.io.File(finalF, ".ok").isFile,
          s"fixture $finalF unusable after losing the rename race")
      }
    }
    finalF.getAbsolutePath
  }

  /** One resource record of the WARC gate fixtures, a pure function of
    * its id `k`: a block of `baseLen + (k mod 7) × lenStep` Rng bytes
    * seeded by `k` and `salt`, the record id `<urn:$urn:$k>`, and the
    * sha1 block digest.
    */
  private def fixtureRecord(k: Long, baseLen: Int, lenStep: Int, salt: Long,
                            urn: String, fname: String): graft.core.WarcRecord = {
    val len = baseLen + (k % 7L).toInt * lenStep
    val bytes = new Array[Byte](len)
    val rng = new Synth.Rng(k * 0x9e3779b9L + salt)
    var j = 0
    while (j < len) { bytes(j) = rng.nextLong().toByte; j += 1 }
    graft.core.WarcRecord(0L, fname, "WARC/1.1", Seq(
      Field("WARC-Record-ID", s"<urn:$urn:$k>"),
      Field("WARC-Type", "resource"),
      Field("WARC-Block-Digest", Digests.formatDigest("sha1",
        Digests.compute("sha1", bytes).get)),
      Field("Content-Length", len.toString)), bytes)
  }

  def splitGateFixture(s: SparkSession, dir: String, codec: String): String = {
    import s.implicits._
    val gz = codec == "gzip"
    val sub = if (gz) "graft-warc-split-gate" else "graft-warc-zsplit-gate"
    val fname = if (gz) "big.warc.gz" else "big.warc.zst"
    val tmp = buildOnceDir(s"/tmp/$sub", fixtureKey(s, dir, 1), fixtureSweepPrefix(dir)) { bdir =>
      val (baseLen, lenStep, seedSalt, urn) =
        if (gz) (1600, 137, 7L, "split") else (600, 53, 11L, "zsplit")
      val recs = t(s, dir, "orders").select(col("o_orderkey"))
        .repartition(s.sparkContext.defaultParallelism).as[Long]
        .map(k => fixtureRecord(k, baseLen, lenStep, seedSalt, urn, fname))
      graft.sources.WarcSource.writeSingleFile(recs, s"$bdir/$fname", codec)
    }
    s"$tmp/$fname"
  }

  /** Build-once FLEET fixture for the directory split gate (q71): one
    * record-at-time gzip archive (orders %5==0, distributed encode) and
    * one DICTIONARIED zstd archive (orders %50==1 — a driver-side batch,
    * ~3k records at bench sf, since the dictionary encoder is the
    * reference's single-stream form) in one directory behind an `.ok`
    * marker. Disjoint id sets and per-file length schemes prove each
    * record decoded from the right file.
    */
  def fleetGateFixture(s: SparkSession, dir: String): String = {
    import s.implicits._
    buildOnceDir("/tmp/graft-warc-fleet-gate", fixtureKey(s, dir, 1), fixtureSweepPrefix(dir)) { bdir =>
      val tmp = bdir.getAbsolutePath
      val recsA = t(s, dir, "orders").select(col("o_orderkey"))
        .where(pmod(col("o_orderkey"), lit(5)) === 0)
        .repartition(s.sparkContext.defaultParallelism).as[Long]
        .map(k => fixtureRecord(k, 700, 31, 13L, "fleet", "a.warc.gz"))
      graft.sources.WarcSource.writeSingleFile(recsA, s"$tmp/a.warc.gz", "gzip")
      val idsB = t(s, dir, "orders").select(col("o_orderkey"))
        .where(pmod(col("o_orderkey"), lit(50)) === 1)
        .as[Long].collect().sorted
      val dict = ("graft fleet dictionary material " * 64).getBytes("UTF-8")
      val recsB = idsB.toSeq.map(k => fixtureRecord(k, 500, 29, 13L, "fleet", "b.warc.zst"))
      java.nio.file.Files.write(
        java.nio.file.Paths.get(s"$tmp/b.warc.zst"),
        graft.sources.WarcBytes.encodeZstd(recsB, dict = Some(dict),
          compressDict = true))
    }
  }

  /** Build-once fixture for the container-wrapper gate (q74): the same
    * orders-derived record set written as ONE whole-file zlib stream
    * (.warc.zz) and ONE raw-brotli stream (.warc.br) in a single
    * directory. Bench's warm-up prebuilds it so the archive encode
    * lands in the untimed window.
    */
  def wrapGateFixture(s: SparkSession, dir: String): String = {
    import s.implicits._
    buildOnceDir("/tmp/graft-warc-wrap-gate", fixtureKey(s, dir, 1), fixtureSweepPrefix(dir)) { bdir =>
      def recs(urn: String, baseLen: Int, step: Int, fname: String) =
        t(s, dir, "orders").select(col("o_orderkey"))
          .where(pmod(col("o_orderkey"), lit(29)) === 0)
          .repartition(8).as[Long].map(k => fixtureRecord(k, baseLen, step, 17L, urn, fname))
      graft.sources.WarcSource.writeSingleFile(
        recs("zz", 900, 41, "w.warc.zz"), s"$bdir/w.warc.zz", "deflate")
      graft.sources.WarcSource.writeSingleFile(
        recs("br", 800, 37, "w.warc.br"), s"$bdir/w.warc.br", "brotli")
    }
  }

  /** The dual-path agreement fold `a ⊎ (b ∖ a) ⊎ (a ∖ b)` (multiset
    * semantics) in ONE aggregation. Literally
    * `a.unionAll(b.exceptAll(a)).unionAll(a.exceptAll(b))` — per
    * distinct row with multiplicity na in `a` and nb in `b` both forms
    * emit `na + max(nb-na,0) + max(na-nb,0)` copies, so when the paths
    * agree the result IS `a` and ANY disagreement lands extra rows in
    * the oracle hash exactly as before. The exceptAll form planned four
    * hash exchanges + two joins over the two (already tiny, already
    * computed) sides — ~3 s of pure stage overhead per gate; this is
    * one union (no shuffle) + one grouping + a sequence explode.
    */
  private def agreeFold(a: DataFrame, b: DataFrame): DataFrame = {
    val cols = a.columns.toSeq
    val tagged = a.select(cols.map(col) :+ lit(1).as("__side"): _*)
      .unionAll(b.select(cols.map(col) :+ lit(2).as("__side"): _*))
    val counted = tagged.groupBy(cols.map(col): _*)
      .agg(sum(when(col("__side") === 1, 1L).otherwise(0L)).as("__na"),
        sum(when(col("__side") === 2, 1L).otherwise(0L)).as("__nb"))
    val copies = col("__na") +
      greatest(col("__nb") - col("__na"), lit(0L)) +
      greatest(col("__na") - col("__nb"), lit(0L))
    counted
      .select(cols.map(col) :+ explode(sequence(lit(1L), copies)).as("__i"): _*)
      .select(cols.map(col): _*)
  }

  /** Robots fixture derived from the same host universe: delay
    * 250*(1+h%4) ms; hosts h%7==0 disallow the '/p/1' prefix.
    */
  private def derivedRobots(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "orders")
      .select(pmod(pmod(col("o_orderkey"), lit(3000)), lit(37)).as("hn")).distinct()
      .select(
        concat(lit("h"), col("hn").cast("string"), lit(".example.test")).as("host"),
        (lit(250) * (lit(1) + pmod(col("hn"), lit(4)))).cast("int").as("crawl_delay_ms"),
        when(pmod(col("hn"), lit(7)) === 0, array(lit("/p/1")))
          .otherwise(array().cast("array<string>")).as("disallow_prefixes"))

  // ======================================================================
  // Flagship: one full frontier scheduling round (north rule pipeline) —
  // canonicalize → in-batch dedupe → robots → token-bucket schedule →
  // fetch batches, on sf0.001.
  // ======================================================================
  def entry(spark: SparkSession): DataFrame = {
    val dir = "/root/testdata/sf0.001"
    val seen = Scheduler.loadSeen(spark, "/tmp/graft-entry-nonexistent")
    Scheduler.runRound(derivedFrontier(spark, dir), seen, derivedRobots(spark, dir))
  }

  // ======================================================================
  // Operator queries (SURVEY.md §2 inventory + training-data pipeline ops)
  // ======================================================================
  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // P1 + F1: list projection over the ordered case-insensitive multimap
    "q01_list_project" -> ((s, dir) =>
      ListOp.list(derivedRecords(s, dir))),

    // P2: FieldFilter compiler (include/exclude; exclude beats include)
    "q02_field_filter" -> ((s, dir) => {
      val pred = FilterOp.compile(
        includes = Seq(FilterOp.ValueRule("warc-type", "response"),
          FilterOp.ValueRule("WARC-Type", "resource")),
        excludes = Seq(FilterOp.ValueRule("x-priority", "1-URGENT")))
      derivedRecords(s, dir).where(pred)
        .select(col("position"),
          FieldOps.fieldGetOrEmpty(col("fields"), "WARC-Type").as("warc_type"))
    }),

    // S9: point lookup (raw scan -> filter pushdown; no fan-out)
    "q03_point_get" -> ((s, dir) =>
      derivedRecordsRaw(s, dir).where(col("position") === 4242)
        .select(col("position"),
          FieldOps.fieldGetOrEmpty(col("fields"), "WARC-Record-ID").as("record_id"),
          FieldOps.fieldGetOrEmpty(col("fields"), "WARC-Target-URI").as("target_uri"))),

    // S10: multi-input union
    "q04_union_inputs" -> ((s, dir) => {
      val o = t(s, dir, "orders")
      o.where(col("o_orderstatus") === "O")
        .select(col("o_orderkey").as("position"), lit("a").as("src"))
        .unionByName(o.where(col("o_orderstatus") === "F")
          .select(col("o_orderkey").as("position"), lit("b").as("src")))
    }),

    // A4/A5: aggregation (integer-exact)
    "q05_agg_sum" -> ((s, dir) =>
      ft(s, dir, "lineitem").groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(sum(round(col("l_quantity") * 100).cast("long")).as("sum_qty_c"),
          sum(round(col("l_extendedprice") * 100).cast("long")).as("sum_price_c"),
          count(lit(1)).as("n_rows"))),

    // Broadcast join + aggregation
    "q06_join_broadcast" -> ((s, dir) =>
      ft(s, dir, "orders")
        .join(broadcast(t(s, dir, "customer")),
          col("o_custkey") === col("c_custkey"))
        .groupBy(col("c_mktsegment"))
        .agg(count(lit(1)).as("n_orders"),
          sum(round(col("o_totalprice") * 100).cast("long")).as("sum_price_c"))),

    // J1 shape: anti-join (customers with no 'P'-status orders)
    "q07_antijoin_refs" -> ((s, dir) =>
      t(s, dir, "customer")
        .join(t(s, dir, "orders").where(col("o_orderstatus") === "P"),
          col("c_custkey") === col("o_custkey"), "left_anti")
        .select(col("c_custkey"), col("c_name"))),

    // Semi-join
    "q08_semijoin" -> ((s, dir) =>
      t(s, dir, "customer")
        .join(t(s, dir, "orders").where(col("o_orderstatus") === "P"),
          col("c_custkey") === col("o_custkey"), "left_semi")
        .select(col("c_custkey"), col("c_mktsegment"))),

    // J2 shape: per-group contiguity check (segment reassembly analog)
    "q09_segments_gap" -> ((s, dir) =>
      ft(s, dir, "lineitem").groupBy(col("l_orderkey"))
        .agg(count(lit(1)).as("n_lines"),
          max(col("l_linenumber")).cast("long").as("max_line"))
        .withColumn("has_gap", col("max_line") =!= col("n_lines"))),

    // W2: window lag within ordered group
    "q10_window_lag" -> ((s, dir) => {
      val w = Window.partitionBy("user_id").orderBy(col("ts").asc, col("event_id").asc)
      ft(s, dir, "events")
        .select(col("event_id"), col("user_id"),
          lag(col("event_id"), 1).over(w).as("prev_event_id"))
    }),

    // §2.6: per-key top-k (fetch-batch capping shape)
    "q11_topk_per_key" -> ((s, dir) => {
      val w = Window.partitionBy("user_id").orderBy(col("value").desc, col("event_id").asc)
      ft(s, dir, "events")
        .withColumn("rank", row_number().over(w).cast("long"))
        .where(col("rank") <= 3)
        .select(col("user_id"), col("rank"), col("event_id"))
    }),

    // A1: digest functions
    "q12_digest" -> ((s, dir) =>
      ft(s, dir, "documents").select(col("doc_id"),
        md5(col("text").cast("binary")).as("d_md5"),
        sha2(col("text").cast("binary"), 256).as("d_sha256"))),

    // Export: record → message chunk explode
    "q13_export_messages" -> ((s, dir) =>
      ExportImportOp.exportChunks(ft(s, dir, "documents"), "doc_id", "text")),

    // Import: reassemble + checksum handshake (the round trip scans the
    // table twice — declared checksums + chunk explode; persist it)
    "q14_import_roundtrip" -> ((s, dir) =>
      ExportImportOp.roundTrip(ft(s, dir, "documents").persist(), "doc_id", "text")),

    // Dedup: exact
    "q15_dedup_exact" -> ((s, dir) =>
      Dedup.exact(ft(s, dir, "documents"), "doc_id", "text")),

    // Text: token count
    "q16_token_count" -> ((s, dir) =>
      ft(s, dir, "documents").select(col("doc_id"),
        TextOps.tokenCount(col("text")).cast("long").as("n_tokens"))),

    // Text: quality scoring
    "q17_quality_score" -> ((s, dir) =>
      ft(s, dir, "documents").select(col("doc_id"), TextOps.qualityScore(col("text")).as("q"))
        .select(col("doc_id"), col("q.n_tokens").cast("long").as("n_tokens"),
          col("q.n_unique").cast("long").as("n_unique"),
          col("q.n_stop").cast("long").as("n_stop"),
          col("q.n_punct").cast("long").as("n_punct"),
          col("q.quality_milli").as("quality_milli"))),

    // Text: language-ID heuristic
    "q18_lang_id" -> ((s, dir) =>
      ft(s, dir, "documents").select(col("doc_id"), TextOps.langId(col("text")).as("l"))
        .select(col("doc_id"), col("l.c_en").cast("long").as("c_en"),
          col("l.c_es").cast("long").as("c_es"),
          col("l.c_de").cast("long").as("c_de"),
          col("l.c_fr").cast("long").as("c_fr"),
          col("l.lang_pred").as("lang_pred"))),

    // Text: fingerprint
    "q19_fingerprint" -> ((s, dir) =>
      ft(s, dir, "documents").select(col("doc_id"),
        TextOps.fingerprint(col("text")).as("fp"))),

    // Text: n-gram shingle profile
    "q20_ngram_profile" -> ((s, dir) =>
      Dedup.ngramProfile(ft(s, dir, "documents"), "doc_id", "text", 3)
        .select(col("id"), col("n_shingles").cast("long").as("n_shingles"),
          col("n_distinct_shingles").cast("long").as("n_distinct_shingles"))),

    // Dedup: MinHash signatures
    "q21_minhash_sig" -> ((s, dir) =>
      ft(s, dir, "documents").select(col("doc_id"),
        Dedup.minhashSig(col("text"), 4).as("sig"))
        .select(col("doc_id"), col("sig.mh0").as("mh0"), col("sig.mh1").as("mh1"),
          col("sig.mh2").as("mh2"), col("sig.mh3").as("mh3"))),

    // Dedup: MinHash+LSH near-dup pairs (near-dups injected by construction)
    "q22_minhash_lsh_pairs" -> ((s, dir) => {
      val d = ft(s, dir, "documents").select(col("doc_id"), col("text"))
      val aug = d.unionByName(d.select((col("doc_id") + 100000).as("doc_id"),
        concat(col("text"), lit(" graftdup")).as("text")))
      Dedup.minhashLsh(aug, "doc_id", "text", 800)
    }),

    // Dedup: SimHash
    "q23_simhash" -> ((s, dir) =>
      Dedup.simhash16(ft(s, dir, "documents"), "doc_id", "text")),

    // F16: URL canonicalization
    "q24_url_canonicalize" -> ((s, dir) =>
      ft(s, dir, "orders").select(col("o_orderkey").as("position"), frontierUrl.as("url"))
        .select(col("position"),
          Canonical.canonicalUrl(col("url")).as("canonical_url"),
          Canonical.hostOf(col("url")).as("host"))),

    // Frontier: in-batch dedupe (first sighting wins)
    "q25_frontier_dedupe" -> ((s, dir) =>
      Scheduler.dedupeWithinBatch(Scheduler.canonicalize(derivedFrontier(s, dir)))
        .select(col("canonical_url"), col("priority_band"), col("url"))),

    // Frontier: robots + deterministic token-bucket schedule. Gates BOTH
    // robots forms — the per-round broadcast join and the crawl-lifetime
    // map broadcast ([[Politeness.robotsBroadcast]], the form the bench
    // and a long-running crawl loop use): any row where they disagree
    // survives an exceptAll and breaks the oracle hash.
    "q26_politeness_schedule" -> ((s, dir) => {
      // deduped feeds BOTH robots paths, and each path's rows feed the
      // exceptAll fold 2-3 times — persist all three (each ≤ dedupe
      // output cardinality) so the canonicalize + dedupe window runs
      // once, not five times (guide §5)
      val deduped = Scheduler.dedupeWithinBatch(
        Scheduler.canonicalize(derivedFrontier(s, dir))).persist()
      val robots = derivedRobots(s, dir).persist() // 2 broadcast builds + map collect
      def run(robotted: DataFrame) = Politeness.schedule(robotted)
        .select(col("canonical_url"), col("host"), col("host_seq"),
          col("scheduled_ms").cast("long").as("scheduled_ms"))
      val joined = run(Politeness.applyRobots(deduped, robots))
      val mapped = run(Politeness.applyRobotsMap(deduped,
        Politeness.robotsBroadcast(robots)))
      agreeFold(joined, mapped)
    }),

    // Full round under a cap of 40 URLs per host: every derived host
    // (~405 raw rows each) is over the cap, so the round keeps exactly
    // the first 40 URLs per host in politeness order and numbers them.
    "q68_hot_metrics_round" -> ((s, dir) =>
      Scheduler.runRound(derivedFrontier(s, dir), Scheduler.loadSeen(s, "/tmp/none"),
          derivedRobots(s, dir), maxPerHostPerRound = 40)
        .select(col("canonical_url"), col("host"), col("host_seq"),
          col("scheduled_ms").cast("long").as("scheduled_ms"))),

    // FUSED SEEN round (the steady-state crawl path): frontier AND seen
    // set both stored host-clustered (Spark bucketed parquet = the
    // Iceberg bucket(N, host) stand-in), round = zero-exchange
    // co-located anti-join on (host, url_key) -> robots -> dedupe +
    // schedule + cap, under a cap that every host exceeds. The
    // seen set is the canonicals of the even-orderkey half (the q66
    // parity trick - DuckDB has no xxhash64, so membership is defined
    // by canonical equality, which the oracle CAN recompute). Emitted
    // with both difference directions vs the bloom-probe path, so the
    // gate simultaneously checks fused == probe == oracle.
    "q69_fused_seen_round" -> ((s, dir) => {
      val robots = derivedRobots(s, dir).persist() // both rounds' broadcast builds
      // withHost feeds the bucketed write AND the probe round; seenDf
      // feeds the clustered save AND the probe path's isEmpty + bloom
      // build + exact confirm — persist both so each canonicalize +
      // distinct runs once instead of 3-4 times (guide §5)
      val withHost = derivedFrontier(s, dir)
        .withColumn("host", Canonical.hostOf(col("url"))).persist()
      val half1 = ft(s, dir, "orders").where(pmod(col("o_orderkey"), lit(2)) === 0)
        .select(frontierUrl.as("url"),
          pmod(floor(col("o_orderkey") / 3000), lit(4)).cast("int").as("priority_band"))
      val seenDf = Scheduler.canonicalize(half1)
        .select(col("host"), col("url_key")).distinct().persist()
      val base = s"/tmp/graft-q69/${new java.io.File(dir).getName}"
      s.sql("DROP TABLE IF EXISTS graft_q69_frontier")
      // the two table writes are independent — overlap them (guide §2.6)
      locally {
        import scala.concurrent.{Await, Future}
        import scala.concurrent.duration.Duration
        implicit val ec: scala.concurrent.ExecutionContext =
          scala.concurrent.ExecutionContext.global
        val fw = Future {
          withHost.repartition(8, col("host"))
            .write.mode("overwrite").bucketBy(8, "host")
            .option("path", s"$base/frontier").saveAsTable("graft_q69_frontier")
        }
        val sw = Future { Scheduler.saveSeenClustered(seenDf, s"$base/seen", buckets = 8) }
        Await.result(fw, Duration.Inf); Await.result(sw, Duration.Inf)
      }
      def sel(df: DataFrame) = df.select(col("canonical_url"), col("host"),
        col("host_seq"), col("scheduled_ms").cast("long").as("scheduled_ms"))
      val fused = sel(Scheduler.runRound(s.table("graft_q69_frontier"),
        Scheduler.loadSeenClustered(s, s"$base/seen", buckets = 8), robots,
        maxPerHostPerRound = 40,
        frontierHostClustered = true, seenHostClustered = true))
      val probe = sel(Scheduler.runRound(withHost, seenDf, robots,
        maxPerHostPerRound = 40))
      agreeFold(fused, probe)
    }),

    // Incremental seen growth: round 1's keys are SAVED as the
    // clustered table, round 2's delta is APPENDED in place
    // (appendSeenClustered — O(delta) write, the Iceberg
    // snapshot-append analogue), and the fused zero-exchange round
    // over the appended table must equal both the probe path over the
    // plain union and the oracle's NOT EXISTS over the same membership.
    // Seen halves are canonical-equality-defined (the q66 parity trick)
    // so DuckDB can recompute them: %4==0 saved, %4==1 appended.
    "q70_seen_append_round" -> ((s, dir) => {
      val robots = derivedRobots(s, dir).persist() // both rounds' broadcast builds
      // withHost feeds the bucketed write AND the probe round; each
      // quarter feeds its clustered write AND the probe path's isEmpty +
      // bloom build + exact confirm — persist (and memoize the quarters:
      // `def quarter` built a FRESH plan per call, so the same
      // canonicalize + distinct executed 4-5 times per quarter)
      val withHost = derivedFrontier(s, dir)
        .withColumn("host", Canonical.hostOf(col("url"))).persist()
      val quarter: Int => DataFrame = {
        val memo = scala.collection.mutable.Map.empty[Int, DataFrame]
        r => memo.getOrElseUpdate(r, Scheduler.canonicalize(
          ft(s, dir, "orders").where(pmod(col("o_orderkey"), lit(4)) === r)
            .select(frontierUrl.as("url"),
              pmod(floor(col("o_orderkey") / 3000), lit(4)).cast("int").as("priority_band")))
          .select(col("host"), col("url_key")).distinct().persist())
      }
      val base = s"/tmp/graft-q70/${new java.io.File(dir).getName}"
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(base))
      s.sql("DROP TABLE IF EXISTS graft_q70_frontier")
      // frontier write ∥ (seen save → append): the seen writes are
      // ordered (append needs the saved table) but independent of the
      // frontier table — overlap the chains (guide §2.6)
      locally {
        import scala.concurrent.{Await, Future}
        import scala.concurrent.duration.Duration
        implicit val ec: scala.concurrent.ExecutionContext =
          scala.concurrent.ExecutionContext.global
        val fw = Future {
          withHost.repartition(8, col("host"))
            .write.mode("overwrite").bucketBy(8, "host")
            .option("path", s"$base/frontier").saveAsTable("graft_q70_frontier")
        }
        val sw = Future {
          Scheduler.saveSeenClustered(quarter(0), s"$base/seen", buckets = 8)
          Scheduler.appendSeenClustered(quarter(1), s"$base/seen", buckets = 8)
        }
        Await.result(fw, Duration.Inf); Await.result(sw, Duration.Inf)
      }
      def sel(df: DataFrame) = df.select(col("canonical_url"), col("host"),
        col("host_seq"), col("scheduled_ms").cast("long").as("scheduled_ms"))
      val fused = sel(Scheduler.runRound(s.table("graft_q70_frontier"),
        Scheduler.loadSeenClustered(s, s"$base/seen", buckets = 8), robots,
        maxPerHostPerRound = 40,
        frontierHostClustered = true, seenHostClustered = true))
      val probe = sel(Scheduler.runRound(withHost,
        quarter(0).unionByName(quarter(1)), robots, maxPerHostPerRound = 40))
      agreeFold(fused, probe)
    }),

    // K-round crawl-loop ENDURANCE gate (the BASELINE.json production
    // shape: schedule → fetch-sim → seen-append → next round, K=5):
    // each round discovers a frontier slice (slice = floor(key/7)%5, so
    // canonical duplicates — period 12000 in the key — land in
    // DIFFERENT rounds and the cross-round seen dedupe does real work),
    // runs the FUSED zero-exchange round over host-clustered storage,
    // checkpoints the batch to parquet (lineage cut — the plan that
    // feeds the seen append must never re-execute after the append),
    // and appends only the round's scheduled keys to the incremental
    // clustered seen table (O(delta) per round). Before round 3 the
    // session's cache and catalog are wiped — a simulated kill — and
    // the loop resumes purely from storage (CheckpointSpec covers the
    // fresh-JVM form). Structural guard: the seen table must hold at
    // most buckets×(K+1) data files — an O(K²) rewrite-per-round blows
    // the bound. Oracle: all K rounds re-derived in chained SQL CTEs.
    "q72_crawl_endurance" -> ((s, dir) => {
      val K = 5
      val base = s"/tmp/graft-q72/${new java.io.File(dir).getName}"
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(base))
      import org.apache.spark.sql.types.{StructType, StructField, StringType, LongType}
      val emptySeen = s.createDataFrame(
        s.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        StructType(Seq(StructField("host", StringType),
          StructField("url_key", LongType))))
      Scheduler.saveSeenClustered(emptySeen, s"$base/seenc", buckets = 8)
      val sliceCol = pmod(floor(col("o_orderkey") / 7), lit(K))
      // crawl-lifetime robots cache (the production loop's shape): one
      // orders scan + distinct serves every round's broadcast build
      // instead of one per round. Re-derived after the simulated kill —
      // a cache surviving the boundary would be exactly the in-session
      // state the kill must wipe.
      var robots = derivedRobots(s, dir).persist()
      (0 until K).foreach { r =>
        if (r == 3) {
          // simulated kill: no in-session state survives the boundary —
          // every input below re-derives from storage or source tables
          s.catalog.clearCache()
          s.sql("DROP TABLE IF EXISTS graft_q72_frontier")
          robots = derivedRobots(s, dir).persist()
        }
        val slice = ft(s, dir, "orders").where(sliceCol === r)
          .select(frontierUrl.as("url"),
            pmod(floor(col("o_orderkey") / 3000), lit(4)).cast("int").as("priority_band"))
          .withColumn("host", Canonical.hostOf(col("url")))
        s.sql("DROP TABLE IF EXISTS graft_q72_frontier")
        slice.repartition(8, col("host"))
          .write.mode("overwrite").bucketBy(8, "host")
          .option("path", s"$base/frontier-$r").saveAsTable("graft_q72_frontier")
        val sched = Scheduler.runRound(s.table("graft_q72_frontier"),
          Scheduler.loadSeenClustered(s, s"$base/seenc", buckets = 8),
          robots, maxPerHostPerRound = 40,
          frontierHostClustered = true, seenHostClustered = true)
        Scheduler.checkpointRound(sched, base, r)
        Scheduler.appendSeenClustered(
          s.read.parquet(s"$base/rounds/round=$r").select(col("host"), col("url_key")),
          s"$base/seenc", buckets = 8)
      }
      // file bound through the Hadoop FileSystem like every other seen
      // path (the gate fixture is local, but loadSeen/appendSeen purged
      // java.io.File for URI-scheme safety — keep the guard consistent)
      val nFiles = {
        val p = new org.apache.hadoop.fs.Path(s"$base/seenc")
        val fs = p.getFileSystem(s.sparkContext.hadoopConfiguration)
        if (fs.exists(p)) fs.listStatus(p).count(_.getPath.getName.startsWith("part-"))
        else 0
      }
      val filesOk = nFiles > 0 && nFiles <= 8 * (K + 1)
      (0 until K).map { r =>
        s.read.parquet(s"$base/rounds/round=$r")
          .select(lit(r).cast("long").as("round"), col("canonical_url"),
            col("host"), col("host_seq"),
            col("scheduled_ms").cast("long").as("scheduled_ms"),
            lit(filesOk).as("files_ok"))
      }.reduce(_.unionAll(_))
    }),

    // Checkpoint/resume end-to-end (north rule "resumable from an
    // Iceberg snapshot checkpoint"; parquet round dirs stand in): round
    // 1 schedules HALF the frontier and checkpoints (batch parquet +
    // seen keys); a FRESH loadSeen reads the seen set back from disk
    // and round 2 runs the FULL frontier against it — so the bloom
    // probe + exact confirm must drop exactly round 1's survivors. The
    // oracle recomputes round 2 as schedule(dedupe(full) ANTI-JOIN
    // robots-surviving half-1 keys). CheckpointSpec covers kill-resume
    // equivalence; this gates the parquet round-trip under the driver.
    "q66_checkpoint_resume" -> ((s, dir) => {
      val robots = derivedRobots(s, dir).persist() // both rounds' broadcast builds
      val half1 = ft(s, dir, "orders").where(pmod(col("o_orderkey"), lit(2)) === 0)
        .select(frontierUrl.as("url"),
          pmod(floor(col("o_orderkey") / 3000), lit(4)).cast("int").as("priority_band"))
      val ck = s"/tmp/graft-ck-gate/${new java.io.File(dir).getName}"
      val r1 = Scheduler.runRound(half1,
        Scheduler.loadSeen(s, ck + "-none"), robots)
      Scheduler.checkpointRound(r1, ck, 1)
      val seen = Scheduler.loadSeen(s, ck) // parquet, from disk
      // round 2's frontier feeds the hot-host count AND the main
      // pipeline — persist the one derivation (guide §5)
      val r2 = Scheduler.runRound(derivedFrontier(s, dir).persist(), seen, robots)
      r2.select(col("canonical_url"), col("host"), col("host_seq"),
        col("scheduled_ms").cast("long").as("scheduled_ms"))
    }),

    // Frontier: fetch-batch emission (per-host budget)
    "q27_fetch_batches" -> ((s, dir) => {
      val deduped = Scheduler.dedupeWithinBatch(Scheduler.canonicalize(derivedFrontier(s, dir)))
      val sched = Politeness.schedule(Politeness.applyRobots(deduped, derivedRobots(s, dir)))
      Politeness.fetchBatches(sched, 10)
        .groupBy(col("host"), col("batch_id"))
        .agg(count(lit(1)).as("n_urls"))
    }),

    // J2 direct gate: derived continuation chains (8 segments per chain
    // over row_number(orders)); injections = drop segment 3 of full
    // chains where chain%5==0 (missing_segment) and +1 on the declared
    // total where chain%7==0 (mismatched_segment_length). The oracle
    // reproduces the construction, so VerifyOp.segmentProblems' grouping,
    // contiguity check, and length sum are all value-gated.
    "q62_segments_verify" -> ((s, dir) => {
      // global rank without the single-reducer Window.orderBy funnel:
      // two-phase distributed rank — per-bucket counts (bucket = an
      // order-preserving o_orderkey range) prefix-summed into offsets
      // (a window over BUCKET-cardinality rows only), broadcast back,
      // rank = offset + row_number within bucket. Identical to
      // row_number() over (ORDER BY o_orderkey) since o_orderkey is
      // unique; per-reducer work is bounded by the bucket width.
      val src = ft(s, dir, "orders").select(col("o_orderkey"))
      val bucketExpr = floor(col("o_orderkey") / 4096).cast("long").as("b")
      // prefix-summed on the driver: bucket cardinality is bounded by
      // max(o_orderkey)/4096 and the offsets table is broadcast back
      // anyway, so it materializes driver-side regardless — this just
      // skips the unpartitioned window that computed the same thing
      val cnts = src.groupBy(bucketExpr).agg(count(lit(1)).as("cnt"))
        .collect().map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1)
      val offs = cnts.map(_._1).zip(
        cnts.map(_._2).scanLeft(0L)(_ + _).dropRight(1))
      import s.implicits._
      val offsets = offs.toSeq.toDF("b", "off")
      val wB = Window.partitionBy("b").orderBy("o_orderkey")
      // seg feeds the totals aggregate AND the kept join — persist so
      // the ranking window runs once (guide §5; 150k narrow rows)
      val seg = src.withColumn("b", bucketExpr)
        .join(broadcast(offsets), "b")
        .withColumn("rk", (row_number().over(wB) + col("off")).cast("long"))
        .select(((col("rk") - 1) / 8).cast("long").as("c"),
          (pmod(col("rk") - 1, lit(8)) + 1).as("n"),
          (lit(100) + pmod(col("rk"), lit(50))).as("len"))
        .persist()
      val totals = seg.groupBy("c")
        .agg(sum("len").as("chain_sum"), max("n").as("chain_max"))
      val kept = seg.join(totals, "c")
        .where(!(pmod(col("c"), lit(5)) === 0 && col("n") === 3 && col("chain_max") === 8))
      val originId = concat(lit("<urn:seg:"), col("c"), lit(":1>"))
      val records = kept.select(
        filter(array(
          struct(lit("WARC-Record-ID").as("name"),
            concat(lit("<urn:seg:"), col("c"), lit(":"), col("n"), lit(">")).as("value")),
          struct(lit("Content-Length").as("name"), col("len").cast("string").as("value")),
          struct(lit("WARC-Segment-Number").as("name"), col("n").cast("string").as("value")),
          when(col("n") > 1,
            struct(lit("WARC-Segment-Origin-ID").as("name"), originId.as("value"))),
          when(col("n") === col("chain_max"),
            struct(lit("WARC-Segment-Total-Length").as("name"),
              (col("chain_sum") +
                when(pmod(col("c"), lit(7)) === 0, 1).otherwise(0)).cast("string").as("value")))
        ), x => x.isNotNull).as("fields"))
      VerifyOp.segmentProblems(records)
    }),

    // §2.11 streaming driver gate: the SAME input as q26 through the
    // stateful politeness stream in TWO micro-batches (split on
    // priority_band, preserving the per-host total order), so the
    // cross-batch HostState continuation must reproduce the batch
    // schedule exactly — the oracle IS q26's scheduledCte. The
    // MemoryStream feed is a driver-side test harness, not a data path.
    "q63_stream_schedule" -> ((s, dir) => {
      import s.implicits._
      val deduped = Scheduler.dedupeWithinBatch(Scheduler.canonicalize(derivedFrontier(s, dir)))
      val robotted = Politeness.applyRobots(deduped, derivedRobots(s, dir))
      val rows = robotted.select(col("canonical_url"), col("host"),
          col("priority_band").cast("int"), col("crawl_delay_ms").cast("long"))
        .as[(String, String, Int, Long)].collect()
        .map { case (u, h, b, d) => graft.streaming.FrontierStream.StreamUrl(
          u, h, b, d, new java.sql.Timestamp(1700000000000L)) }
      val (b1, b2) = rows.partition(_.priority_band < 2)
      // the stream runs in a CHILD session (shared SparkContext, own
      // conf) with 8 shuffle partitions: flatMapGroupsWithState opens
      // one state-store instance per shuffle partition per micro-batch,
      // and at the session default (2×cores) the two batches paid
      // 2×64 state-store loads+commits (checkpoint file churn) to
      // schedule 37 hosts. Pure partitioning — the per-host state and
      // output rows are identical at any partition count.
      val ss = s.newSession()
      ss.conf.set("spark.sql.shuffle.partitions", 8)
      val input = org.apache.spark.sql.execution.streaming.runtime
        .MemoryStream[graft.streaming.FrontierStream.StreamUrl](ss)
      val name = "q63_out_" + java.util.UUID.randomUUID().toString.replace("-", "")
      val q = graft.streaming.FrontierStream.politenessSchedule(input.toDS())
        .writeStream.format("memory").queryName(name).outputMode("append").start()
      try {
        input.addData(b1.toSeq); q.processAllAvailable()
        input.addData(b2.toSeq); q.processAllAvailable()
      } finally q.stop()
      ss.table(name).select(col("canonical_url"), col("host"), col("host_seq"),
        col("scheduled_ms").cast("long").as("scheduled_ms"))
    }),

    // Skew: salted two-phase host aggregation (== plain groupBy result)
    "q28_host_stats_salted" -> ((s, dir) => {
      val f = ft(s, dir, "orders").select(
        frontierUrl.as("url"),
        when(pmod(col("o_orderkey"), lit(2)) === 0, lit("hot.example.test"))
          .otherwise(concat(lit("h"),
            pmod(pmod(col("o_orderkey"), lit(3000)), lit(37)).cast("string"),
            lit(".example.test"))).as("host"))
      Scheduler.saltedHostCounts(f)
    }),

    // ANN: brute-force cosine top-k
    "q29_ann_topk" -> ((s, dir) => {
      val e = ft(s, dir, "embeddings")
      Ann.bruteForceTopK(e, e.where(col("vec_id") < 20), 5)
    }),

    // IVF coarse-quantized ANN (list-pruned scale path): sampled
    // centroids (every 25th vector — deterministic, so the oracle can
    // re-derive the same quantizer), nProbe=4 of 20 lists, exact rerank
    "q55_ann_ivf" -> ((s, dir) => {
      val e = ft(s, dir, "embeddings")
      val cents = e.where(pmod(col("vec_id"), lit(25)) === 0)
        .select(col("vec_id").as("centroid_id"), col("embedding"))
      Ann.ivfTopK(e, e.where(col("vec_id") < 20), cents, 5, 4)
    }),

    // ANN: multi-band sign-bit LSH near-dup pairs (3 bands × 16 bits,
    // OR-construction), exact-cosine confirmed. Near-dups injected by
    // construction: a half-scaled copy with dims 61-64 sign-flipped keeps
    // all banded signs (dims 1-48) → guaranteed band collision, high cos.
    // Halving is exact in fp32, so Spark and DuckDB see identical arrays.
    "q30_embed_neardup_lsh" -> ((s, dir) => {
      val e = ft(s, dir, "embeddings").select(col("vec_id"), col("embedding"))
      val pert = e.select((col("vec_id") + 100000).as("vec_id"),
        concat(
          transform(slice(col("embedding"), 1, 60), x => (x * lit(0.5f)).cast("float")),
          transform(slice(col("embedding"), 61, 4), x => (-x * lit(0.5f)).cast("float"))
        ).as("embedding"))
      Ann.lshNearDupPairs(e.unionByName(pert), 800, bands = 3, bitsPerBand = 16)
    }),

    // Verify rule engine: per-record checks on dirty records
    "q31_verify_problems" -> ((s, dir) =>
      VerifyOp.problems(derivedDirtyRecords(s, dir))
        .select(col("position"), col("kind"), col("detail"))),

    // J1: reference-integrity anti-join (dangling Refers-To)
    "q32_missing_refs" -> ((s, dir) =>
      VerifyOp.missingReferences(derivedDirtyRecords(s, dir), Seq("WARC-Refers-To"))
        .select(col("position"), col("record_id"), col("detail"))),

    // P3: extract-eligibility routing (extract.rs:66-113); %19 records get
    // a segment field and must be rejected
    "q33_extract_route" -> ((s, dir) => {
      val recs = derivedRecords(s, dir).withColumn("fields",
        when(pmod(col("position"), lit(19)) === 0,
          concat(col("fields"), array(struct(
            lit("WARC-Segment-Number").as("name"), lit("1").as("value")))))
          .otherwise(col("fields")))
      recs.select(col("position"), ExtractOp.decoderKind(col("fields")).as("decoder_kind"))
    }),

    // F8: URL → escaped filesystem path components (extract.rs:166-289)
    "q34_url_path" -> ((s, dir) =>
      derivedRecords(s, dir).select(col("position"),
        array_join(ExtractOp.pathComponents(
          FieldOps.fieldGet(col("fields"), "WARC-Target-URI")), "|").as("path_joined"))),

    // H1–H3: HTTP/1.1 payload decode — framing decision table + codec
    // pipeline end-to-end (content-length / 204-no-body / read-to-end with
    // Content-Encoding: zstd / chunked)
    "q35_http_parse" -> ((s, dir) => {
      val v = pmod(col("doc_id"), lit(6))
      val nBytes = length(col("text").cast("binary"))
      val zstdUdf = udf { (t: String) =>
        com.github.luben.zstd.Zstd.compress(
          t.getBytes(java.nio.charset.StandardCharsets.UTF_8), 3)
      }
      val brUdf = udf { (t: String) =>
        graft.ops.Brotli.compressStored(
          t.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      }
      val payload = when(v === 0, concat(
        lit("HTTP/1.1 200 OK\r\nContent-Length: "),
        nBytes.cast("string"), lit("\r\n\r\n"), col("text")).cast("binary"))
        .when(v === 1, concat(lit("HTTP/1.1 204 No Content\r\n\r\n"), col("text")).cast("binary"))
        .when(v === 2, concat(
          lit("HTTP/1.1 200 OK\r\nContent-Encoding: zstd\r\n\r\n").cast("binary"),
          zstdUdf(col("text"))))
        .when(v === 3, concat(lit("HTTP/1.1 200 OK\r\nTransfer-Encoding: chunked\r\n\r\n"),
          hex(nBytes), lit("\r\n"), col("text"), lit("\r\n0\r\n\r\n")).cast("binary"))
        // short-body injection: declared Content-Length exceeds the
        // available bytes → exact-length framing flags truncated_body
        .when(v === 4, concat(
          lit("HTTP/1.1 200 OK\r\nContent-Length: "),
          (nBytes + 10).cast("string"), lit("\r\n\r\n"), col("text")).cast("binary"))
        // brotli content-coding (RFC 7932 decode path; reference
        // compress.rs:84-98 includes `br` in its codec table)
        .otherwise(concat(
          lit("HTTP/1.1 200 OK\r\nContent-Encoding: br\r\n\r\n").cast("binary"),
          brUdf(col("text"))))
      ft(s, dir, "documents")
        .select(col("doc_id"), ExtractOp.parseHttp(payload).as("p"))
        .select(col("doc_id"), col("p.ok").as("ok"),
          col("p.status").cast("long").as("status"), md5(col("p.body")).as("body_md5"),
          col("p.error").as("err"))
    }),

    // F6: digest text parse — hex + base32 auto-detect + label alias
    "q36_digest_parse" -> ((s, dir) => {
      val parseToHex = udf { (t: String) =>
        Digests.parseDigest(t).map { case (a, v) => (a, Digests.hexEncode(v)) }
      }
      val md5B32 = udf { (hexStr: String) =>
        Digests.hexDecode(hexStr).map(b => "md5:" + Digests.base32Encode(b)).orNull
      }
      ft(s, dir, "documents").select(col("doc_id"),
        parseToHex(concat(lit("md5:"), md5(col("text").cast("binary")))).as("a"),
        parseToHex(md5B32(md5(col("text").cast("binary")))).as("b"),
        parseToHex(concat(lit("SHA-256:"), sha2(col("text").cast("binary"), 256))).as("c"))
        .select(col("doc_id"),
          col("a._1").as("algo_hex"), col("a._2").as("val_hex"),
          col("b._1").as("algo_b32"), col("b._2").as("val_b32"),
          col("c._1").as("algo_alias"), col("c._2").as("val_alias"))
    }),

    // F9: header serialization — byte-exact vs an oracle-side string build
    "q37_header_serialize" -> ((s, dir) => {
      val ser = udf { (version: String, fields: Seq[Row]) =>
        val fs = fields.map(r => Field(r.getString(0), r.getString(1)))
        val bytes = HeaderSerde.serialize(version, fs)
        (bytes.length.toLong, Digests.hexEncode(
          java.security.MessageDigest.getInstance("MD5").digest(bytes)))
      }
      derivedRecords(s, dir)
        .select(col("position"), ser(col("version"), col("fields")).as("h"))
        .select(col("position"), col("h._1").as("header_len"), col("h._2").as("header_md5"))
    }),

    // F5: media-type parse incl. the parameters map (grammar
    // parse/fields.rs:87-126, struct header/fields.rs:34-39); %23 invalid
    "q38_media_type" -> ((s, dir) => {
      val ct = when(pmod(col("o_orderkey"), lit(23)) === 0, lit("not a media type"))
        .otherwise(contentType)
      ft(s, dir, "orders").select(col("o_orderkey").as("position"),
          FieldOps.mediaType(ct).as("mt"))
        .select(col("position"), col("mt.ok").as("mt_ok"),
          col("mt.type").as("mt_type"), col("mt.subtype").as("mt_subtype"),
          FieldOps.mediaTypeParam(col("mt"), "msgtype").as("mt_msgtype"),
          size(col("mt.parameters")).as("mt_n_params"))
    }),

    // F2/F10/F12/F13: scalar functions — strict u64, unfold, comma-list,
    // base64/hex encode
    "q39_scalar_funcs" -> ((s, dir) => {
      val pr = col("o_orderpriority")
      val u64in = concat(when(pmod(col("o_orderkey"), lit(2)) === 0, lit("+"))
        .otherwise(lit("")), col("o_orderkey").cast("string"))
      ft(s, dir, "orders").select(
        col("o_orderkey").as("position"),
        array_join(FieldOps.commaList(concat(pr, lit(",X , y,,x"))), "|").as("cl"),
        FieldOps.unfold(concat(pr, lit("\r\n tail"))).as("unf"),
        when(u64in.rlike("^[0-9]+$"), u64in.cast("long")).as("u64"),
        base64(pr.cast("binary")).as("b64"),
        hex(pr.cast("binary")).as("hx"),
        FieldOps.validFieldName(
          concat(pr, when(pmod(col("o_orderkey"), lit(3)) === 0, lit(" bad"))
            .otherwise(lit("")))).as("vname"))
    }),

    // P5/F4/F3: typed getters — bad-spec <url> detect, ip validity, date
    "q40_typed_getters" -> ((s, dir) => {
      val wrapped = when(pmod(col("o_orderkey"), lit(2)) === 0,
        concat(lit("<"), recordUri, lit(">"))).otherwise(recordUri)
      val fields = array(
        struct(lit("WARC-Target-URI").as("name"), wrapped.as("value")),
        struct(lit("WARC-Date").as("name"),
          date_format(col("o_orderdate"), "yyyy-MM-dd'T'HH:mm:ss'Z'").as("value")),
        struct(lit("WARC-IP-Address").as("name"),
          concat(lit("10."), pmod(col("o_orderkey"), lit(300)).cast("string"),
            lit(".0.1")).as("value")))
      val u = FieldOps.getUrl(fields, "WARC-Target-URI")
      ft(s, dir, "orders").select(
        col("o_orderkey").as("position"),
        u.getField("bad_spec").as("bad_spec"),
        u.getField("url").as("url"),
        FieldOps.ipParses(FieldOps.fieldGet(fields, "WARC-IP-Address")).as("ip_ok"),
        unix_timestamp(FieldOps.getDate(fields, "WARC-Date")).as("date_epoch"))
    }),

    // J3: partitioned-bloom seen-set probe + exact anti-join confirm ==
    // plain anti-join (scale-independent correctness, SeenSet contract)
    "q41_seen_bloom_dedupe" -> ((s, dir) => {
      val candidates = Scheduler.dedupeWithinBatch(
        Scheduler.canonicalize(derivedFrontier(s, dir)))
      // seenKeys feeds the bloom build AND the exact confirm anti-join —
      // persist the 8-byte key set so its canonicalize + distinct runs
      // once (guide §5)
      val seenKeys = Scheduler.canonicalize(
        ft(s, dir, "orders").where(pmod(col("o_orderkey"), lit(2)) === 0)
          .select(frontierUrl.as("url"), lit(0).as("priority_band")))
        .select(col("url_key")).distinct().persist()
      val buckets = SeenSet.buildBuckets(seenKeys, "url_key", 16, 1 << 16)
      SeenSet.probeAndConfirm(candidates, seenKeys, "url_key", buckets, 16)
        .select(col("canonical_url"), col("priority_band"))
    }),

    // North-rule lineage/metrics: per-host fetch metrics over the schedule
    "q42_host_lineage" -> ((s, dir) => {
      val deduped = Scheduler.dedupeWithinBatch(Scheduler.canonicalize(derivedFrontier(s, dir)))
      val sched = Politeness.schedule(Politeness.applyRobots(deduped, derivedRobots(s, dir)))
      Politeness.fetchBatches(sched, 10)
        .groupBy(col("host"))
        .agg(count(lit(1)).as("n_urls"),
          max(col("scheduled_ms")).cast("long").as("span_ms"),
          countDistinct(col("batch_id")).as("n_batches"))
    }),

    // A3 failure path: import checksum mismatch on corrupted chunks
    "q43_import_reject" -> ((s, dir) => {
      // chunk explode + declared checksums share the scan — persist it
      val d = ft(s, dir, "documents").persist()
      val chunks = ExportImportOp.exportChunks(d, "doc_id", "text")
        .withColumn("chunk",
          when(pmod(col("id"), lit(7)) === 0 && col("chunk_idx") === 0,
            concat(lit("X"), col("chunk"))).otherwise(col("chunk")))
      val declared = ExportImportOp.exportBlockEnd(d, "doc_id", "text")
      ExportImportOp.importReassemble(chunks).join(declared, Seq("id"))
        .select(col("id"),
          (md5(col("payload").cast("binary")) === col("payload_md5")).as("ok"))
    }),

    // Dedup under adversarial skew: 3000 IDENTICAL short docs land in ONE
    // minhash band — the cluster-keeper form emits one row per duplicate
    // (linear), never the quadratic in-band pair set; exact-Jaccard
    // confirmed against the keeper
    "q49_minhash_skew_clusters" -> ((s, dir) => {
      val d = ft(s, dir, "documents").select(col("doc_id"), col("text"))
      val dups = s.range(0, 3000).select((col("id") + 500000).as("doc_id"),
        lit("tiny dup doc graft spark").as("text"))
      Dedup.minhashClusters(d.unionByName(dups), "doc_id", "text", 800)
    }),

    // F15: externally-tagged JSON message stream + RFC 7464 framing —
    // export each doc as Metadata/Header/BlockChunk*/BlockEnd JSON
    // messages, frame as a JSON-text-sequence, unframe + from_json,
    // reassemble and validate the checksum/length handshake
    "q50_json_messages" -> ((s, dir) => {
      // the export fans the table into four message legs, each its own
      // scan+repartition — persist the one source (guide §5)
      val d = ft(s, dir, "documents").persist()
      val msgs = graft.ops.MessageJson.exportJsonMessages(d, "doc_id", "text")
      val parsed = graft.ops.MessageJson.fromJsonSeq(graft.ops.MessageJson.toJsonSeq(msgs))
      graft.ops.MessageJson.importValidate(parsed)
        .select(col("id"), col("n_messages"), col("roundtrip_ok"))
    }),

    // CBOR twin of q50: same message run, byte-string chunks, RFC 8742
    // concatenation framing (reference dataseq.rs CBOR format)
    "q54_cbor_messages" -> ((s, dir) => {
      // four export legs scan the table (see q50) — persist the source
      val d = ft(s, dir, "documents").persist()
      val msgs = graft.ops.MessageCbor.exportCborMessages(d, "doc_id", "text")
      // the framed sequence feeds BOTH the canonical and foreign decode
      // legs, and each leg's rows feed the exceptAll fold 2-3 times —
      // persist all three (guide §5)
      val seq = graft.ops.MessageCbor.toCborSeq(msgs).persist()
      def validated(sq: DataFrame) = graft.ops.MessageCbor.importValidate(
        graft.ops.MessageCbor.fromCborSeq(sq))
        .select(col("id"), col("n_messages"), col("roundtrip_ok"))
      val canon = validated(seq)
      // FOREIGN-ENCODER injection (decoder generality, RFC 8949 §3.2):
      // every item re-encoded with indefinite-length strings/arrays/maps
      // and tagged integers — a different conforming encoder's legal
      // output. Import must decode it IDENTICALLY; any divergence lands
      // extra rows in the oracle hash via the exceptAll fold.
      val foreignize = udf((b: Array[Byte]) => {
        val out = new java.io.ByteArrayOutputStream(b.length + 64)
        graft.core.Cbor.decodeSeq(b).foreach { v =>
          val e = graft.core.Cbor.encodeIndefinite(v)
          out.write(e, 0, e.length)
        }
        out.toByteArray
      })
      val foreign = validated(seq.withColumn("seq", foreignize(col("seq"))))
      agreeFold(canon, foreign)
    }),

    // Cuckoo-filter seen set (north rule: deletable fallback to the
    // bloom path) — probe + exact confirm ≡ exact anti-join, same
    // contract as q41
    "q52_seen_cuckoo_dedupe" -> ((s, dir) => {
      val candidates = Scheduler.dedupeWithinBatch(
        Scheduler.canonicalize(derivedFrontier(s, dir)))
      // persist for the build + confirm double-consumption (see q41)
      val seenKeys = Scheduler.canonicalize(
        ft(s, dir, "orders").where(pmod(col("o_orderkey"), lit(2)) === 0)
          .select(frontierUrl.as("url"), lit(0).as("priority_band")))
        .select(col("url_key")).distinct().persist()
      val buckets = CuckooSeenSet.buildBuckets(seenKeys, "url_key", 16, 1 << 16)
      CuckooSeenSet.probeAndConfirm(candidates, seenKeys, "url_key", buckets, 16)
        .select(col("canonical_url"), col("priority_band"))
    }),

    // Cuckoo deletion: members unseen in place (what bloom cannot do);
    // deletions half-overlapping the seen set exercise the exact
    // semi-join gate that protects colliding members
    "q53_cuckoo_delete" -> ((s, dir) => {
      val candidates = Scheduler.dedupeWithinBatch(
        Scheduler.canonicalize(derivedFrontier(s, dir)))
      def keysWhere(c: Column) = Scheduler.canonicalize(
        ft(s, dir, "orders").where(c)
          .select(frontierUrl.as("url"), lit(0).as("priority_band")))
        .select(col("url_key")).distinct()
      // seenKeys feeds the cuckoo build, the deletion semi-join gate and
      // the post-delete membership; delKeys feeds the deletion and the
      // remaining anti-join — persist both key sets (guide §5)
      val seenKeys = keysWhere(pmod(col("o_orderkey"), lit(2)) === 0).persist()
      val delKeys = keysWhere(pmod(col("o_orderkey"), lit(3)) === 0).persist()
      val buckets = CuckooSeenSet.buildBuckets(seenKeys, "url_key", 16, 1 << 16)
      val afterDel = CuckooSeenSet.deleteKeys(buckets, delKeys, "url_key", 16, seenKeys)
      val remaining = seenKeys.join(delKeys, Seq("url_key"), "left_anti")
      CuckooSeenSet.probeAndConfirm(candidates, remaining, "url_key", afterDel, 16)
        .select(col("canonical_url"), col("priority_band"))
    }),

    // Crawl → training-table bridge: WARC resource records carrying real
    // PNG payloads (every 3rd key) flow extract → imagesFromExtracted
    // into the BASELINE.json input_hint row shape; text records must be
    // filtered out by the media-type routing
    "q59_warc_to_images" -> ((s, dir) => {
      val isImg = pmod(col("o_orderkey"), lit(3)) === 0
      // only 120 distinct payloads exist — encode them ONCE on the
      // driver and capture the array (re-encoding per row cost ~1 ms ×
      // 50k rows at bench scale); the per-row DECODE inside
      // imagesFromExtracted stays, that is the operator under test
      val pngs: Array[Array[Byte]] =
        Array.tabulate(120)(j => Synth.makeImage(7L, j.toLong).bytes)
      val pngUdf = udf((i: Long) => pngs((i % 120).toInt))
      val recs = ft(s, dir, "orders").select(
        col("o_orderkey").as("position"),
        lit("img.warc").as("file"), lit("WARC/1.1").as("version"),
        array(
          struct(lit("WARC-Record-ID").as("name"),
            concat(lit("<urn:img:"), col("o_orderkey").cast("string"), lit(">")).as("value")),
          struct(lit("WARC-Type").as("name"), lit("resource").as("value")),
          struct(lit("Content-Type").as("name"),
            when(isImg, lit("image/png")).otherwise(lit("text/plain")).as("value")),
          struct(lit("WARC-Target-URI").as("name"),
            concat(lit("https://img.test/i/"), col("o_orderkey").cast("string")).as("value"))
        ).as("fields"),
        when(isImg, pngUdf(col("o_orderkey")))
          .otherwise(col("o_orderpriority").cast("binary")).as("bytes"))
      graft.pipeline.Multimodal.imagesFromExtracted(ExtractOp.extract(recs))
        .select(col("image_id"), col("fmt"),
          (col("w") > 0 && col("h") > 0).as("dims_ok"), col("caption"))
    }),

    // BPE-style pre-tokenizer count (training-data token budgeting):
    // same RE2 pattern verbatim in both engines
    "q60_token_bpe" -> ((s, dir) =>
      ft(s, dir, "documents").select(col("doc_id"),
        TextOps.tokenCount(col("text")).cast("long").as("n_ws"),
        TextOps.tokenCountBpe(col("text")).cast("long").as("n_bpe"))),

    // PayloadDigest verify check (verify.rs:747-785): the payload — HTTP
    // body for application/http records, the block otherwise — is
    // re-decoded and hashed against the declared WARC-Payload-Digest.
    // Injections: every 9th digest computed over corrupted content,
    // every 11th an unparseable digest text (UnknownDigest)
    "q58_payload_digest" -> ((s, dir) => {
      val d = ft(s, dir, "documents")
      val isHttp = pmod(col("doc_id"), lit(2)) === 0
      val http = concat(lit("HTTP/1.1 200 OK\r\nContent-Length: "),
        octet_length(col("text")).cast("string"), lit("\r\n\r\n"), col("text"))
      val bytes = when(isHttp, http).otherwise(col("text")).cast("binary")
      val digestBase = when(pmod(col("doc_id"), lit(9)) === 0,
        concat(col("text"), lit("X"))).otherwise(col("text"))
      val declaredUdf = udf((t: String) => Digests.formatDigest("sha1",
        Digests.compute("sha1", t.getBytes("UTF-8")).get))
      val declared = when(pmod(col("doc_id"), lit(11)) === 0, lit("not!!a@@digest"))
        .otherwise(declaredUdf(digestBase))
      d.select(col("doc_id"),
        VerifyOp.payloadDigestOkUdf(declared, bytes, isHttp).as("payload_ok"))
    }),

    // BLAKE3 and XXH3 through the FULL verify path (parse → compute →
    // compare): declared digests are BLAKE3 (commons-codec,
    // vector-pinned in Blake3Spec) or, on the %13 rows,
    // from-spec XXH3-64 ([[graft.core.Xxh3]], vector-pinned in
    // Xxh3Spec); injections drive every branch — %9 corrupted payload
    // (mismatch), %11 unparsable text (UnknownDigest). The oracle
    // re-derives both columns from the id pattern, so parseDigest's
    // algo routing is on the hook too.
    "q65_blake3_verify" -> ((s, dir) => {
      val d = ft(s, dir, "documents")
      val declareUdf = udf { (t: String, id: Long) =>
        if (id % 11 == 0) "not!!a@@digest"
        else {
          val base = if (id % 9 == 0) t + "X" else t
          val algo = if (id % 13 == 0) "xxh3" else "blake3"
          Digests.computeText(algo, base.getBytes("UTF-8")).get
        }
      }
      val parsedAlgoUdf = udf { (declared: String) =>
        Digests.parseDigest(declared).map(_._1).orNull
      }
      val declared = declareUdf(col("text"), col("doc_id"))
      d.select(col("doc_id"),
        parsedAlgoUdf(declared).as("algo"),
        VerifyOp.payloadDigestOkUdf(declared, col("text").cast("binary"),
          lit(false)).as("payload_ok"))
    }),

    // RFC 9309 robots.txt parse + apply end-to-end: per-host BODIES are
    // generated text (groups, comments, crawl-delay, allow-overrides);
    // the oracle re-derives the verdicts from the generation parameters,
    // so the parser, group selection, and longest-match precedence are
    // all on the hook
    "q56_robots_raw" -> ((s, dir) => {
      val deduped = Scheduler.dedupeWithinBatch(
        Scheduler.canonicalize(derivedFrontier(s, dir)))
      // host-cardinality (37 rows at bench sf) but consumed FOUR times —
      // the per-call size probe of both applyRawRobots paths, the
      // broadcast collect, and the distributed rule compile — each of
      // which re-ran the orders scan + distinct; persist (guide §5)
      val bodies = t(s, dir, "orders")
        .select(pmod(pmod(col("o_orderkey"), lit(3000)), lit(37)).as("hn")).distinct()
        .select(
          concat(lit("h"), col("hn").cast("string"), lit(".example.test")).as("host"),
          concat(
            lit("# synthetic robots\nUser-agent: otherbot\nDisallow: /\n\n" +
              "User-agent: *\nCrawl-delay: "),
            ((lit(250) * (lit(1) + pmod(col("hn"), lit(4)))) / lit(1000.0))
              .cast("string"),
            lit("\n"),
            when(pmod(col("hn"), lit(7)) === 0, lit("Disallow: /p/1\n")).otherwise(lit("")),
            when(pmod(col("hn"), lit(14)) === 0, lit("Allow: /p/12\n")).otherwise(lit("")))
            .as("body")).persist()
      // the deduped+path frontier feeds both size-aware paths — persist
      // so the canonicalize + dedupe window runs once (guide §5)
      val withPath = deduped.withColumn("path",
        regexp_extract(col("canonical_url"),
          "^[a-z][a-z0-9+.-]*://[^/?#]*([^?#]*)", 1)).persist()
      // gate BOTH size-aware paths: broadcast (default) and distributed
      // (forced via maxBroadcastBytes=0). Any row where the two disagree
      // survives an exceptAll and breaks the oracle hash; when they
      // agree the result IS the broadcast rows.
      def run(maxBc: Long) = graft.frontier.Robots
        .applyRawRobots(withPath, bodies, "graftbot/1.0", 1000L, maxBroadcastBytes = maxBc)
        .select(col("canonical_url"), col("host"), col("crawl_delay_ms"))
      val bcast = run(256L << 20)
      val dist = run(0L)
      agreeFold(bcast, dist)
    }),

    // Hot-host skew: salted two-phase per-host cap ≡ single-window top-cap
    // (one host holds half the frontier; the salted form never sorts it in
    // one reducer)
    "q51_host_cap_salted" -> ((s, dir) => {
      val f = ft(s, dir, "orders").select(
        concat(lit("u/"), col("o_orderkey").cast("string")).as("canonical_url"),
        pmod(floor(col("o_orderkey") / 3000), lit(4)).cast("int").as("priority_band"),
        when(pmod(col("o_orderkey"), lit(2)) === 0, lit("hot.example.test"))
          .otherwise(concat(lit("h"),
            pmod(pmod(col("o_orderkey"), lit(3000)), lit(37)).cast("string"),
            lit(".example.test"))).as("host"))
      Politeness.capPerHost(f, 50)
        .select(col("host"), col("priority_band"), col("canonical_url"))
    }),

    // Revisit marking: duplicate payloads become revisit records
    // referencing the first occurrence (identical-payload-digest profile);
    // duplicates injected by construction
    "q48_mark_revisits" -> ((s, dir) => {
      val d = ft(s, dir, "documents").select(col("doc_id"), col("text"))
      val aug = d.unionByName(d.where(pmod(col("doc_id"), lit(3)) === 0)
        .select((col("doc_id") + 200000).as("doc_id"), col("text")))
      Dedup.markRevisits(aug, "doc_id", "text")
        .select(col("id"), col("kind"), col("refers_to"))
    }),

    // ---- images-table ops (BASELINE.json input_hint). The table is
    // engine-synthesized, so the DuckDB oracles gate the DECISIONS (pass
    // flags keyed on deterministic id-index injections), not raw pixels ----

    // Fidelity gate (PSNR≥40dB lossy / byte-exact lossless + caption
    // equality): every 5th image pixel-corrupted, every 7th caption
    // swapped — the flags must match the injection pattern exactly
    "q44_images_fidelity" -> ((s, _) => {
      val imgs = Synth.images(s, 120).toDF()
      val idx = substring(col("image_id"), 5, 8).cast("int")
      val bad = imgs
        .withColumn("bytes",
          when(pmod(idx, lit(5)) === 0,
            Multimodal.corruptPixelsUdf(col("bytes"), col("fmt"))).otherwise(col("bytes")))
        .withColumn("caption",
          when(pmod(idx, lit(7)) === 0, lit("WRONG")).otherwise(col("caption")))
      Multimodal.fidelityFlags(imgs, bad)
        .select(col("image_id"), col("pixel_ok"), col("caption_ok"))
    }),

    // Multimodal dedup: banded-LSH phash near-dup — every original must
    // recall its resized copy through the band join (recall gate)
    "q45_phash_neardup" -> ((s, _) => {
      val imgs = Synth.images(s, 120).toDF().select(col("image_id"), col("bytes"), col("fmt"))
      val shrunk = imgs.select(
        concat(col("image_id"), lit("-small")).as("image_id"),
        Multimodal.resizeUdf(col("bytes"), lit(24), lit(24), col("fmt")).as("bytes"))
      val all = imgs.select(col("image_id"), col("bytes")).unionByName(shrunk)
        .select(col("image_id"), Multimodal.phashUdf(col("bytes")).as("phash"))
      val hits = Multimodal.phashNearDupPairs(all, 6)
        .where(col("id_b") === concat(col("id_a"), lit("-small")))
        .select(col("id_a"), lit(true).as("hit"))
      imgs.select(col("image_id"))
        .join(hits, col("image_id") === col("id_a"), "left")
        .select(col("image_id"), coalesce(col("hit"), lit(false)).as("has_small_dup"))
    }),

    // S1/S2/S5 + §2.10 RecordAtTimeCompression: real WARC source/sink —
    // encode 100 seeded records as record-at-time gzip members (every 9th
    // with a deliberately wrong declared block digest), read back via the
    // streaming byte codec, check exact boundary offsets + digest compare
    // + the whole-file record-at-time flag (the reference's own
    // integration oracle, tests/test_decode.rs:77-78; decode.rs:700-711)
    "q47_warc_source" -> ((s, _) => {
      import s.implicits._
      val dir = java.nio.file.Files.createTempDirectory("graft-warc-q").toString
      val recs = graft.synth.Synth.warcRecords(round = 0, n = 100)
      val written = recs.zipWithIndex.map { case (r, i) =>
        if (i % 9 == 0) r.copy(fields = r.fields.map { f =>
          if (f.name == "WARC-Block-Digest")
            f.copy(value = Digests.formatDigest("sha1",
              Digests.compute("sha1", r.bytes :+ 0x00.toByte).get))
          else f
        })
        else r
      }
      val expectedPos = recs.zipWithIndex.map { case (r, i) => i.toLong -> r.position }.toMap
      graft.sources.WarcSource.write(s.createDataset(written).coalesce(1), dir, "gzip")
      val posB = s.sparkContext.broadcast(expectedPos)
      val offsetOk = udf { (idx: Long, pos: Long) => posB.value.get(idx).contains(pos) }
      val digestOk = udf { (declared: String, bytes: Array[Byte]) =>
        Digests.computeText("sha1", bytes).contains(declared)
      }
      val idxCol = regexp_extract(
        FieldOps.fieldGet(col("fields"), "WARC-Record-ID"), "-([0-9]{8})>$", 1).cast("long")
      val ratOk = graft.sources.WarcSource.fileStats(s, dir)
        .agg((count(lit(1)) === sum(col("rat_ok").cast("int"))).as("rat_ok"))
      graft.sources.WarcSource.read(s, dir).toDF()
        .select(idxCol.as("record_idx"),
          offsetOk(idxCol, col("position")).as("offset_ok"),
          digestOk(FieldOps.fieldGet(col("fields"), "WARC-Block-Digest"),
            col("bytes")).as("digest_ok"))
        .crossJoin(broadcast(ratOk))
    }),

    // Record-boundary splitter (S11): ONE .warc.gz, one record per order
    // key with an incompressible payload (so file size tracks sf — ~30 MB
    // at sf0.01, ~300 MB at the bench sf0.1), decoded by ceil(len/2MB)
    // byte-range tasks. Gates: payload length + block digest per record,
    // distinct member offsets, and >1 scan task (split_ok)
    "q61_warc_split" -> ((s, dir) => {
      val file = splitGateFixture(s, dir, "gzip")
      // ONE decode pass: the heavy work is the ~300 MB gunzip+parse, so
      // the LIGHT projection (5 scalar columns, ~1 MB) is persisted and
      // the global checks (distinct offsets, >1 scan task) run as a
      // plain aggregate over the cache — no Window.partitionBy(lit(1))
      // single-reducer funnel, no second decode (an agg + crossJoin
      // formulation re-decoded the file and blew the 45 s watchdog on
      // slow-ambient windows; persisting the full decoded RECORDS was
      // also tried: object-form rows bloat storage memory). pid is
      // captured at scan time, so it still identifies the DECODE task.
      val ds = graft.sources.WarcSplit.readSplit(s, file, splitBytes = 2L << 20).toDF()
      val recId = regexp_extract(
        FieldOps.fieldGet(col("fields"), "WARC-Record-ID"), "<urn:split:([0-9]+)>", 1)
        .cast("long")
      val digestOk = udf { (declared: String, bytes: Array[Byte]) =>
        Digests.computeText("sha1", bytes).contains(declared)
      }
      val base = ds.select(recId.as("rec_id"),
        (length(col("bytes")) === (lit(1600) + pmod(recId, lit(7)) * 137)).as("len_ok"),
        digestOk(FieldOps.fieldGet(col("fields"), "WARC-Block-Digest"),
          col("bytes")).as("digest_ok"),
        col("position"), spark_partition_id().as("pid"))
        .persist()
      val flags = base.agg(
        (countDistinct(col("position")) === count(lit(1))).as("pos_ok"),
        (max(col("pid")) > min(col("pid"))).as("split_ok")).head()
      base.select(col("rec_id"), col("len_ok"), col("digest_ok"),
        lit(flags.getBoolean(0)).as("pos_ok"),
        lit(flags.getBoolean(1)).as("split_ok"))
    }),

    // S8 extract-tree gate: REAL tree write with injected marker classes
    // — conversion (k%17), truncated (k%11), and natural name conflicts
    // (path keyed on k%7 × k%100). The lineage table is classified by
    // final-component markers and grouped; the oracle recomputes group
    // sizes (first writer unmarked, rest ⬧<hex16>) and byte sums from
    // orders. Tree goes to a FIXED dir (overwrite-idempotent), so runs
    // never accrete files; lineage comes from the written rows, not an
    // FS listing, so stale files can't pollute the result.
    "q64_extract_tree" -> ((s, dir) => {
      val k = col("o_orderkey")
      // one-third subset (mirrored in the oracle): the gate's operator is
      // the REAL filesystem tree writer, whose cost is one create+write
      // syscall pair per record — 150k files took 56-59 s at bench sf and
      // was clipped from three driver-shaped runs; 50k files still
      // exercise every path feature (conflict ids, conversion/truncated
      // markers). 61 hosts, not 7: the writer parallelizes per host
      // SUBTREE (the conflict-marker semantics are sequential within a
      // host), so a 7-host fixture capped it at ~7 of 32 cores — a
      // fixture artifact, not an operator property (real crawls have
      // 10^4+ hosts)
      val records = ft(s, dir, "orders")
        .where(pmod(k, lit(3)) === 0).select(
        k.as("position"),
        filter(array(
          struct(lit("WARC-Record-ID").as("name"),
            concat(lit("<urn:x:"), k.cast("string"), lit(">")).as("value")),
          struct(lit("WARC-Type").as("name"),
            when(pmod(k, lit(17)) === 0, lit("conversion"))
              .otherwise(lit("resource")).as("value")),
          struct(lit("WARC-Target-URI").as("name"),
            concat(lit("https://h"), pmod(k, lit(61)).cast("string"),
              lit(".example.test/f/"), pmod(k, lit(100)).cast("string")).as("value")),
          struct(lit("Content-Type").as("name"), lit("text/plain").as("value")),
          when(pmod(k, lit(11)) === 0,
            struct(lit("WARC-Truncated").as("name"), lit("length").as("value")))
        ), x => x.isNotNull).as("fields"),
        concat(lit("payload "), k.cast("string")).cast("binary").as("bytes"))
      val treeDir = s"/tmp/graft-extract-tree-gate/${new java.io.File(dir).getName}"
      // drop the previous run's tree first: creates into a dir holding
      // tens of thousands of stale entries (incl. historical .crc
      // sidecars) get progressively slower, and the tree should not
      // accrete across runs. The drop is an O(1) RENAME into a trash
      // sibling + background unlink — the synchronous recursive delete
      // of a 50k-file tree cost 2-4 s of driver time INSIDE the timed
      // query (the writer itself never needs the old tree gone: conflict
      // resolution is in-memory and every create overwrites). Trash dirs
      // left by a killed JVM are swept by the next run's thread.
      val treeRoot = new java.io.File(treeDir)
      if (treeRoot.exists()) {
        treeRoot.renameTo(new java.io.File(
          s"$treeDir.trash-${ProcessHandle.current().pid()}-${System.nanoTime()}"))
        ()
      }
      val trash = Option(new java.io.File(treeDir).getParentFile.listFiles)
        .getOrElse(Array.empty[java.io.File])
        .filter(_.getName.startsWith(treeRoot.getName + ".trash-"))
      if (trash.nonEmpty) {
        val t = new Thread(() => trash.foreach(
          org.apache.commons.io.FileUtils.deleteQuietly))
        t.setDaemon(true)
        t.start()
      }
      val lineage = ExtractOp.writeTree(ExtractOp.extract(records), treeDir)
      val parts = split(col("resolved_path"), "/")
      val fin = element_at(parts, -1)
      val base = regexp_replace(fin, "⬧[0-9a-f]{16}$", "")
      val base2 = regexp_replace(base, "⬧truncated$", "")
      lineage.select(
          element_at(parts, 2).as("host"),
          regexp_replace(base2, "⬧conversion$", "").as("fname"),
          base2.endsWith("⬧conversion").as("is_conv"),
          base.endsWith("⬧truncated").as("is_trunc"),
          fin.rlike("⬧[0-9a-f]{16}$").cast("long").as("conflicted"),
          col("n_bytes"))
        .groupBy("host", "fname", "is_conv", "is_trunc")
        .agg(count(lit(1)).as("n_total"), sum("conflicted").as("n_conflict"),
          sum("n_bytes").as("sum_bytes"))
    }),

    // Multimodal plumbing: decode→meta equality + stub feature extraction
    // Thumbnail pipeline: decode → resize(24x16) → re-encode in the row's
    // own format → decode again; gates the full image transcode plumbing
    // (the oracle checks the decision columns — dims survive the trip)
    "q57_thumbnails" -> ((s, _) =>
      Synth.images(s, 120).toDF()
        .select(col("image_id"), col("fmt"),
          Multimodal.resizeUdf(col("bytes"), lit(24), lit(16), col("fmt")).as("tbytes"))
        .select(col("image_id"), col("fmt"),
          Multimodal.imageMetaUdf(col("tbytes")).as("meta"))
        .select(col("image_id"), col("fmt"),
          (col("meta._1") === 24 && col("meta._2") === 16).as("thumb_ok"))),

    "q46_media_meta" -> ((s, _) =>
      Synth.images(s, 120).toDF()
        .select(col("image_id"), col("fmt"), col("w"), col("h"),
          Multimodal.imageMetaUdf(col("bytes")).as("meta"),
          Multimodal.mediaFeaturesUdf(col("bytes")).as("feat"))
        .select(col("image_id"), col("fmt"),
          (col("meta._1") === col("w") && col("meta._2") === col("h")).as("meta_ok"),
          size(col("feat")).cast("long").as("n_feat"))),

    // zstd twin of q61 (S5/S11 closure: the reference also writes
    // per-record ZSTD frames, compress.rs:174-196): parallel frame
    // encode → ordered concat → ONE .warc.zst → byte-range split decode.
    // Same gates: payload length + block digest per record, distinct
    // frame offsets, >1 scan task. Payloads are smaller than q61's so
    // the combined splitter cost stays inside the bench watchdog.
    "q67_warc_zstd_split" -> ((s, dir) => {
      val file = splitGateFixture(s, dir, "zstd")
      val ds = graft.sources.WarcSplit.readSplit(s, file, splitBytes = 1L << 20).toDF()
      val recId = regexp_extract(
        FieldOps.fieldGet(col("fields"), "WARC-Record-ID"), "<urn:zsplit:([0-9]+)>", 1)
        .cast("long")
      val digestOk = udf { (declared: String, bytes: Array[Byte]) =>
        Digests.computeText("sha1", bytes).contains(declared)
      }
      val base = ds.select(recId.as("rec_id"),
        (length(col("bytes")) === (lit(600) + pmod(recId, lit(7)) * 53)).as("len_ok"),
        digestOk(FieldOps.fieldGet(col("fields"), "WARC-Block-Digest"),
          col("bytes")).as("digest_ok"),
        col("position"), spark_partition_id().as("pid"))
        .persist()
      val flags = base.agg(
        (countDistinct(col("position")) === count(lit(1))).as("pos_ok"),
        (max(col("pid")) > min(col("pid"))).as("split_ok")).head()
      base.select(col("rec_id"), col("len_ok"), col("digest_ok"),
        lit(flags.getBoolean(0)).as("pos_ok"),
        lit(flags.getBoolean(1)).as("split_ok"))
    }),

    // Fleet split: a DIRECTORY of record-at-time archives — one gzip
    // (distributed encode) + one DICTIONARIED zstd (head dictionary
    // frame, parsed once by the split planner and shipped to every
    // range task) — read as ONE byte-range task cloud
    // (WarcSplit.readSplitDir). Disjoint id sets and per-file length
    // schemes prove every record decoded from the right file; len_ok
    // selects the scheme by id parity with the fixture's construction.
    "q71_warc_split_fleet" -> ((s, dir) => {
      val fleet = fleetGateFixture(s, dir)
      val ds = graft.sources.WarcSplit.readSplitDir(s, fleet,
        splitBytes = 1L << 20).toDF()
      val recId = regexp_extract(
        FieldOps.fieldGet(col("fields"), "WARC-Record-ID"), "<urn:fleet:([0-9]+)>", 1)
        .cast("long")
      val digestOk = udf { (declared: String, bytes: Array[Byte]) =>
        Digests.computeText("sha1", bytes).contains(declared)
      }
      val wantLen = when(pmod(recId, lit(5)) === 0,
          lit(700) + pmod(recId, lit(7)) * 31)
        .otherwise(lit(500) + pmod(recId, lit(7)) * 29)
      val fromFile = when(pmod(recId, lit(5)) === 0, lit("a.warc.gz"))
        .otherwise(lit("b.warc.zst"))
      val base = ds.select(recId.as("rec_id"),
        (length(col("bytes")) === wantLen).as("len_ok"),
        digestOk(FieldOps.fieldGet(col("fields"), "WARC-Block-Digest"),
          col("bytes")).as("digest_ok"),
        col("file").endsWith(fromFile).as("file_ok"),
        spark_partition_id().as("pid"))
        .persist()
      val flags = base.agg(
        (countDistinct(col("pid")) > 1).as("split_ok")).head()
      base.select(col("rec_id"), col("len_ok"), col("digest_ok"),
        col("file_ok"), lit(flags.getBoolean(0)).as("split_ok"))
    }),

    // REAL audio decode (closes the audio half of the last media stub):
    // synthesize RIFF/WAVE PCM16 square-wave clips whose rate / channels /
    // frames / amplitude are pure functions of the row index, run the
    // javax.sound.sampled-backed extractor, and let the oracle re-derive
    // every feature VALUE (not just booleans) from index arithmetic —
    // square waves make RMS == peak == amp exactly.
    "q73_audio_wav" -> ((s, _) =>
      Synth.wavs(s, 200).toDF()
        .select(col("audio_id"), Multimodal.wavFeaturesUdf(col("bytes")).as("f"))
        .select(col("audio_id"),
          col("f._1").cast("long").as("sample_rate"),
          col("f._2").cast("long").as("channels"),
          col("f._4").as("frames"),
          col("f._5").cast("long").as("peak_i16"),
          col("f._6").cast("long").as("rms_i16"))),

    // REAL video decode (closes the video half of the media stub):
    // synthesize RIFF/AVI clips of uncompressed-DIB solid-color frames
    // whose geometry / fps / frame colors are pure functions of the row
    // index, demux + decode + frame-sample (every 2nd frame) with the
    // hermetic pipeline.Avi, and let the oracle re-derive every feature
    // VALUE — including the per-channel pixel sums over the SAMPLED
    // frames — from index arithmetic. Widths cycle through
    // non-multiples of 4 so DIB row padding is always on the path.
    "q77_video_avi" -> ((s, _) =>
      Synth.avis(s, 200).toDF()
        .select(col("video_id"), Avi.featuresUdf(col("bytes")).as("f"))
        .select(col("video_id"),
          col("f._1").cast("long").as("w"),
          col("f._2").cast("long").as("h"),
          col("f._3").as("fps_milli"),
          col("f._4").cast("long").as("n_frames"),
          col("f._5").cast("long").as("n_sampled"),
          col("f._6").as("sum_r"),
          col("f._7").as("sum_g"),
          col("f._8").as("sum_b"))),

    // Whole-file container wrappers (S4 closure, reference
    // compress.rs:43-58): the same record set written as ONE zlib-deflate
    // stream (.warc.zz) and ONE raw-brotli stream (.warc.br), read back
    // through extension-selected wrapper decode in a single directory
    // scan. Gates per record: exact payload length + sha1 block digest +
    // which wrapper file it came from.
    "q74_container_wrap" -> ((s, dir) => {
      val tmp = wrapGateFixture(s, dir)
      val ds = graft.sources.WarcSource.read(s, tmp, "*.warc.*").toDF()
      val urn = regexp_extract(
        FieldOps.fieldGet(col("fields"), "WARC-Record-ID"), "<urn:(zz|br):([0-9]+)>", 1)
      val recId = regexp_extract(
        FieldOps.fieldGet(col("fields"), "WARC-Record-ID"), "<urn:(zz|br):([0-9]+)>", 2)
        .cast("long")
      val digestOk = udf { (declared: String, bytes: Array[Byte]) =>
        Digests.computeText("sha1", bytes).contains(declared)
      }
      val wantLen = when(urn === "zz", lit(900) + pmod(recId, lit(7)) * 41)
        .otherwise(lit(800) + pmod(recId, lit(7)) * 37)
      ds.select(recId.as("rec_id"), urn.as("wrapper"),
        (length(col("bytes")) === wantLen).as("len_ok"),
        digestOk(FieldOps.fieldGet(col("fields"), "WARC-Block-Digest"),
          col("bytes")).as("digest_ok"),
        (col("file").endsWith(lit(".warc.zz")) === (urn === "zz")).as("file_ok"))
    }),

    // SIZE-GUARD other-side gates (100× scale-path evidence): identical
    // operators and oracles to q41/q22, but with the size thresholds
    // forced to zero so the DISTRIBUTED branches — the cogrouped bloom
    // probe and the sort-merge LSH band self-join — run under the oracle
    // at ANY sf. At bench sf the default 256 MB / 1024-row guards never
    // trip, so without these the branches that are the ONLY ones in play
    // at 10^10 keys were spec-tested but never oracle-gated.
    "q75_seen_bloom_distributed" -> ((s, dir) => {
      // a third of the frontier: branch coverage, not throughput
      val candidates = Scheduler.dedupeWithinBatch(
        Scheduler.canonicalize(ft(s, dir, "orders")
          .where(pmod(col("o_orderkey"), lit(3)) === 0)
          .select(frontierUrl.as("url"),
            pmod(floor(col("o_orderkey") / 3000), lit(4)).cast("int").as("priority_band"))))
      val seenKeys = Scheduler.canonicalize(
        ft(s, dir, "orders").where(pmod(col("o_orderkey"), lit(2)) === 0)
          .select(frontierUrl.as("url"), lit(0).as("priority_band")))
        .select(col("url_key")).distinct().persist() // build + confirm (see q41)
      val buckets = SeenSet.buildBuckets(seenKeys, "url_key", 16, 1 << 16)
      SeenSet.probeAndConfirm(candidates, seenKeys, "url_key", buckets, 16,
        maxBroadcastBytes = 0L)
        .select(col("canonical_url"), col("priority_band"))
    }),

    "q76_lsh_sortmerge" -> ((s, dir) => {
      // even half of the corpus: this gate buys BRANCH coverage (every
      // band through the sort-merge self-join), not throughput — the
      // full corpus through the join-only path cost 14 s of suite budget
      val d = ft(s, dir, "documents").select(col("doc_id"), col("text"))
        .where(pmod(col("doc_id"), lit(2)) === 0)
      val aug = d.unionByName(d.select((col("doc_id") + 100000).as("doc_id"),
        concat(col("text"), lit(" graftdup")).as("text")))
      Dedup.minhashLsh(aug, "doc_id", "text", 800, maxGroupedBucket = 1)
    })
  )

  // ======================================================================
  // DuckDB oracles — same derivations, same integer/hex outputs.
  // ======================================================================

  private val wsExpr =
    "CASE WHEN length(trim(text))=0 THEN [] ELSE regexp_split_to_array(trim(text), '\\s+') END"

  private val enStopSql = TextOps.EnStop.map(w => s"'$w'").mkString("(", ",", ")")

  private def langCount(stops: Seq[String]): String =
    s"len(list_filter(ws, x -> x IN ${stops.map(w => s"'$w'").mkString("(", ",", ")")}))"

  private val warcTypeSql =
    "CASE o_orderstatus WHEN 'O' THEN 'response' WHEN 'F' THEN 'resource' ELSE 'metadata' END"
  private val contentTypeSql =
    "CASE o_orderstatus WHEN 'O' THEN 'application/http; msgtype=response' WHEN 'F' THEN 'image/png' ELSE 'text/plain' END"
  private val recordUriSql =
    "'https://h' || (o_custkey % 50) || '.example.test/o/' || o_orderkey"
  private val contentLenSql =
    "CAST(CAST(round(o_totalprice * 100, 0) AS BIGINT) AS VARCHAR)"

  /** Derived-frontier construction + expected canonical, shared by the
    * frontier oracles. p = o%3000, h = p%37, v = o%4.
    */
  private val frontierCte =
    """f AS (
      |  SELECT
      |    CASE o_orderkey % 4
      |      WHEN 0 THEN 'https://H' || ((o_orderkey%3000)%37) || '.Example.Test:443/p/' || (o_orderkey%3000) || '?b=2&a=1#frag'
      |      WHEN 1 THEN 'http://h' || ((o_orderkey%3000)%37) || '.example.test:80/p/' || (o_orderkey%3000)
      |      WHEN 2 THEN 'https://h' || ((o_orderkey%3000)%37) || '.example.test:8443/p/' || (o_orderkey%3000) || '?x=1'
      |      ELSE 'http://h' || ((o_orderkey%3000)%37) || '.example.test.'
      |    END AS url,
      |    CASE o_orderkey % 4
      |      WHEN 0 THEN 'https://h' || ((o_orderkey%3000)%37) || '.example.test/p/' || (o_orderkey%3000) || '?a=1&b=2'
      |      WHEN 1 THEN 'http://h' || ((o_orderkey%3000)%37) || '.example.test/p/' || (o_orderkey%3000)
      |      WHEN 2 THEN 'https://h' || ((o_orderkey%3000)%37) || '.example.test:8443/p/' || (o_orderkey%3000) || '?x=1'
      |      ELSE 'http://h' || ((o_orderkey%3000)%37) || '.example.test/'
      |    END AS canonical_url,
      |    'h' || ((o_orderkey%3000)%37) || '.example.test' AS host,
      |    (o_orderkey%3000)%37 AS hn,
      |    CASE o_orderkey % 4
      |      WHEN 0 THEN '/p/' || (o_orderkey%3000)
      |      WHEN 1 THEN '/p/' || (o_orderkey%3000)
      |      WHEN 2 THEN '/p/' || (o_orderkey%3000)
      |      ELSE '/'
      |    END AS path,
      |    CAST(floor(o_orderkey/3000.0) AS BIGINT) % 4 AS priority_band,
      |    o_orderkey
      |  FROM orders
      |)""".stripMargin

  /** q72's K-round oracle: chained CTEs — round r schedules the
    * floor(key/7)%K == r slice minus every earlier round's scheduled
    * set, with per-round within-batch dedupe, robots, hot-host cap and
    * politeness identical to the single-round oracles.
    */
  private def enduranceOracleSql(k: Int): String = {
    val parts = (0 until k).map { r =>
      val fresh =
        if (r == 0) s"fresh$r AS (SELECT * FROM d$r)"
        else
          s"""fresh$r AS (
             |  SELECT d$r.* FROM d$r
             |  WHERE NOT EXISTS (SELECT 1 FROM seen$r WHERE seen$r.canonical_url = d$r.canonical_url)
             |)""".stripMargin
      val seenNext =
        if (r == k - 1) ""
        else if (r == 0) s",\nseen1 AS (SELECT DISTINCT canonical_url FROM cap0)"
        else s",\nseen${r + 1} AS (SELECT canonical_url FROM seen$r UNION SELECT canonical_url FROM cap$r)"
      s"""s$r AS (SELECT * FROM f WHERE CAST(floor(o_orderkey / 7) AS BIGINT) % $k = $r),
         |d$r AS (
         |  SELECT * FROM (
         |    SELECT s$r.*, row_number() OVER (PARTITION BY canonical_url ORDER BY priority_band, url) AS rn$r
         |    FROM s$r
         |  ) WHERE rn$r = 1
         |),
         |$fresh,
         |pol$r AS (
         |  SELECT fresh$r.*, 250 * (1 + hn % 4) AS crawl_delay_ms FROM fresh$r
         |  WHERE NOT (hn % 7 = 0 AND path LIKE '/p/1%')
         |),
         |cap$r AS (
         |  SELECT * FROM (
         |    SELECT pol$r.*, row_number() OVER (PARTITION BY host ORDER BY priority_band, canonical_url) AS crn$r
         |    FROM pol$r
         |  ) WHERE crn$r <= 40
         |),
         |sch$r AS (
         |  SELECT CAST($r AS BIGINT) AS round, canonical_url, host,
         |    CAST(row_number() OVER (PARTITION BY host ORDER BY priority_band, canonical_url) AS BIGINT) AS host_seq,
         |    CAST((row_number() OVER (PARTITION BY host ORDER BY priority_band, canonical_url) - 1) * crawl_delay_ms AS BIGINT) AS scheduled_ms,
         |    true AS files_ok
         |  FROM cap$r
         |)$seenNext""".stripMargin
    }
    val union = (0 until k).map(r => s"SELECT * FROM sch$r").mkString("\nUNION ALL\n")
    s"WITH $frontierCte,\n${parts.mkString(",\n")}\n$union"
  }

  private val dedupedCte =
    s"""WITH $frontierCte,
       |d AS (
       |  SELECT * FROM (
       |    SELECT f.*, row_number() OVER (PARTITION BY canonical_url ORDER BY priority_band, url) AS rn
       |    FROM f
       |  ) WHERE rn = 1
       |)""".stripMargin

  private val scheduledCte =
    s"""$dedupedCte,
       |pol AS (
       |  SELECT d.*, 250 * (1 + hn % 4) AS crawl_delay_ms
       |  FROM d
       |  WHERE NOT (hn % 7 = 0 AND path LIKE '/p/1%')
       |),
       |sched AS (
       |  SELECT canonical_url, host,
       |    CAST(row_number() OVER (PARTITION BY host ORDER BY priority_band, canonical_url) AS BIGINT) AS host_seq,
       |    CAST((row_number() OVER (PARTITION BY host ORDER BY priority_band, canonical_url) - 1) * crawl_delay_ms AS BIGINT) AS scheduled_ms
       |  FROM pol
       |)""".stripMargin

  private def minhashCols(prefix: String): String =
    (0 until 4).map(i =>
      s"CASE WHEN len(sh)=0 THEN NULL ELSE list_aggregate(list_transform(sh, x -> md5('$i|' || x)), 'min') END AS ${prefix}mh$i"
    ).mkString(", ")

  private val shingleExpr =
    "CASE WHEN len(ws)>=3 THEN list_transform(range(1, len(ws)-1), i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]) ELSE [] END"

  private val dotSql =
    "list_sum(list_transform(range(1, 65), i -> CAST(qe[i] AS DOUBLE) * CAST(ce[i] AS DOUBLE)))"

  private def cosSql(a: String, b: String) =
    s"(list_sum(list_transform(range(1, 65), i -> CAST($a[i] AS DOUBLE) * CAST($b[i] AS DOUBLE))) / " +
    s"(sqrt(list_sum(list_transform(range(1, 65), i -> CAST($a[i] AS DOUBLE) * CAST($a[i] AS DOUBLE)))) * " +
    s"sqrt(list_sum(list_transform(range(1, 65), i -> CAST($b[i] AS DOUBLE) * CAST($b[i] AS DOUBLE))))))"

  private def bloomDedupeOracleSql(where: String) =
    s"""WITH $frontierCte,
       |ff AS (SELECT * FROM f WHERE $where),
       |d AS (
       |  SELECT * FROM (
       |    SELECT ff.*, row_number() OVER (PARTITION BY canonical_url ORDER BY priority_band, url) AS rn
       |    FROM ff
       |  ) WHERE rn = 1
       |)
       |SELECT canonical_url, CAST(priority_band AS INT) AS priority_band FROM d
       |WHERE canonical_url NOT IN (
       |  SELECT canonical_url FROM f WHERE o_orderkey % 2 = 0)""".stripMargin

  private def lshPairsOracleSql(where: String) =
    s"""WITH aug AS (
       |  SELECT doc_id, text FROM documents WHERE $where
       |  UNION ALL SELECT doc_id + 100000 AS doc_id, text || ' graftdup' AS text FROM documents WHERE $where
       |), w AS (SELECT doc_id, $wsExpr AS ws FROM aug),
       |s AS (SELECT doc_id, list_distinct(ws) AS wset, $shingleExpr AS sh FROM w),
       |sig AS (SELECT doc_id, wset, ${minhashCols("")} FROM s WHERE len(sh) > 0),
       |b AS (SELECT doc_id, wset, mh0 || mh1 AS band FROM sig),
       |pairs AS (
       |  SELECT a.doc_id AS id_a, bb.doc_id AS id_b,
       |   CAST(floor(1000.0 * len(list_filter(a.wset, x -> list_contains(bb.wset, x)))
       |     / len(list_distinct(list_concat(a.wset, bb.wset)))) AS BIGINT) AS jaccard_milli
       |  FROM b a JOIN b bb ON a.band = bb.band AND a.doc_id < bb.doc_id
       |)
       |SELECT DISTINCT id_a, id_b, jaccard_milli FROM pairs WHERE jaccard_milli >= 800""".stripMargin

  def oracleSql: Map[String, String] = Map(
    "q01_list_project" ->
      s"""SELECT o_orderkey AS position,
         | '<urn:graft:' || o_orderkey || '>' AS warc_record_id,
         | $warcTypeSql AS warc_type,
         | $contentTypeSql AS content_type,
         | $recordUriSql AS warc_target_uri
         |FROM orders""".stripMargin,

    "q02_field_filter" ->
      s"""SELECT o_orderkey AS position, $warcTypeSql AS warc_type
         |FROM orders
         |WHERE o_orderstatus IN ('O','F') AND o_orderpriority <> '1-URGENT'""".stripMargin,

    "q03_point_get" ->
      s"""SELECT o_orderkey AS position,
         | '<urn:graft:' || o_orderkey || '>' AS record_id,
         | $recordUriSql AS target_uri
         |FROM orders WHERE o_orderkey = 4242""".stripMargin,

    "q04_union_inputs" ->
      """SELECT o_orderkey AS position, 'a' AS src FROM orders WHERE o_orderstatus = 'O'
        |UNION ALL
        |SELECT o_orderkey AS position, 'b' AS src FROM orders WHERE o_orderstatus = 'F'""".stripMargin,

    // DuckDB SUM(BIGINT) widens to HUGEINT (pandas float64) — CAST back to
    // BIGINT so the hash compare sees the same int64 Spark emits
    "q05_agg_sum" ->
      """SELECT l_returnflag, l_linestatus,
        | CAST(SUM(CAST(round(l_quantity*100, 0) AS BIGINT)) AS BIGINT) AS sum_qty_c,
        | CAST(SUM(CAST(round(l_extendedprice*100, 0) AS BIGINT)) AS BIGINT) AS sum_price_c,
        | COUNT(*) AS n_rows
        |FROM lineitem GROUP BY 1, 2""".stripMargin,

    "q06_join_broadcast" ->
      """SELECT c_mktsegment,
        | COUNT(*) AS n_orders,
        | CAST(SUM(CAST(round(o_totalprice*100, 0) AS BIGINT)) AS BIGINT) AS sum_price_c
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |GROUP BY 1""".stripMargin,

    "q07_antijoin_refs" ->
      """SELECT c_custkey, c_name FROM customer
        |WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey AND o_orderstatus = 'P')""".stripMargin,

    "q08_semijoin" ->
      """SELECT c_custkey, c_mktsegment FROM customer
        |WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey AND o_orderstatus = 'P')""".stripMargin,

    "q09_segments_gap" ->
      """SELECT l_orderkey, COUNT(*) AS n_lines,
        | CAST(MAX(l_linenumber) AS BIGINT) AS max_line,
        | CAST(MAX(l_linenumber) AS BIGINT) <> COUNT(*) AS has_gap
        |FROM lineitem GROUP BY 1""".stripMargin,

    "q10_window_lag" ->
      """SELECT event_id, user_id,
        | lag(event_id, 1) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_event_id
        |FROM events""".stripMargin,

    "q11_topk_per_key" ->
      """SELECT user_id, rank, event_id FROM (
        | SELECT user_id, event_id,
        |  CAST(row_number() OVER (PARTITION BY user_id ORDER BY value DESC, event_id) AS BIGINT) AS rank
        | FROM events
        |) WHERE rank <= 3""".stripMargin,

    "q12_digest" ->
      "SELECT doc_id, md5(text) AS d_md5, sha256(text) AS d_sha256 FROM documents",

    "q13_export_messages" ->
      """SELECT doc_id AS id, CAST(t.i AS BIGINT) AS chunk_idx,
        | substring(text, CAST(1 + t.i*64 AS INT), 64) AS chunk
        |FROM documents, UNNEST(range(0, GREATEST(CAST(ceil(length(text)/64.0) AS BIGINT), 1))) AS t(i)""".stripMargin,

    "q14_import_roundtrip" ->
      """WITH chunks AS (
        |  SELECT doc_id AS id, t.i AS chunk_idx, substring(text, CAST(1 + t.i*64 AS INT), 64) AS chunk
        |  FROM documents, UNNEST(range(0, GREATEST(CAST(ceil(length(text)/64.0) AS BIGINT), 1))) AS t(i)
        |), re AS (
        |  SELECT id, string_agg(chunk, '' ORDER BY chunk_idx) AS payload FROM chunks GROUP BY id
        |)
        |SELECT re.id, md5(re.payload) = md5(d.text) AS ok, md5(d.text) AS payload_md5
        |FROM re JOIN documents d ON d.doc_id = re.id""".stripMargin,

    "q15_dedup_exact" ->
      """SELECT md5(text) AS fp, MIN(doc_id) AS keeper_id, COUNT(*) AS n_copies
        |FROM documents GROUP BY 1""".stripMargin,

    "q16_token_count" ->
      s"SELECT doc_id, CAST(len($wsExpr) AS BIGINT) AS n_tokens FROM documents",

    "q17_quality_score" ->
      s"""WITH w AS (SELECT doc_id, text, $wsExpr AS ws FROM documents)
         |SELECT doc_id,
         | CAST(len(ws) AS BIGINT) AS n_tokens,
         | CAST(len(list_distinct(ws)) AS BIGINT) AS n_unique,
         | CAST(len(list_filter(ws, x -> x IN $enStopSql)) AS BIGINT) AS n_stop,
         | CAST(length(text) - length(regexp_replace(text, '[.,!?;:]', '', 'g')) AS BIGINT) AS n_punct,
         | CASE WHEN len(ws)=0 THEN 0 ELSE CAST(floor(
         |   500.0 * len(list_filter(ws, x -> x IN $enStopSql)) / len(ws)
         |   + 500.0 * len(list_distinct(ws)) / len(ws)) AS BIGINT) END AS quality_milli
         |FROM w""".stripMargin,

    "q18_lang_id" ->
      s"""WITH w AS (SELECT doc_id, $wsExpr AS ws FROM documents),
         |c AS (SELECT doc_id,
         |  CAST(${langCount(TextOps.EnStop)} AS BIGINT) AS c_en,
         |  CAST(${langCount(TextOps.EsStop)} AS BIGINT) AS c_es,
         |  CAST(${langCount(TextOps.DeStop)} AS BIGINT) AS c_de,
         |  CAST(${langCount(TextOps.FrStop)} AS BIGINT) AS c_fr
         | FROM w)
         |SELECT doc_id, c_en, c_es, c_de, c_fr,
         | CASE WHEN c_en=0 AND c_es=0 AND c_de=0 AND c_fr=0 THEN 'und'
         |      WHEN c_en>=c_es AND c_en>=c_de AND c_en>=c_fr THEN 'en'
         |      WHEN c_es>=c_de AND c_es>=c_fr THEN 'es'
         |      WHEN c_de>=c_fr THEN 'de'
         |      ELSE 'fr' END AS lang_pred
         |FROM c""".stripMargin,

    "q19_fingerprint" ->
      """SELECT doc_id, md5(regexp_replace(lower(text), '\s+', ' ', 'g')) AS fp
        |FROM documents""".stripMargin,

    "q20_ngram_profile" ->
      s"""WITH w AS (SELECT doc_id, $wsExpr AS ws FROM documents)
         |SELECT doc_id AS id,
         | CAST(CASE WHEN len(ws)>=3 THEN len(ws)-2 ELSE 0 END AS BIGINT) AS n_shingles,
         | CAST(CASE WHEN len(ws)>=3 THEN len(list_distinct(list_transform(range(1, len(ws)-1),
         |   i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]))) ELSE 0 END AS BIGINT) AS n_distinct_shingles
         |FROM w""".stripMargin,

    "q21_minhash_sig" ->
      s"""WITH w AS (SELECT doc_id, $wsExpr AS ws FROM documents),
         |s AS (SELECT doc_id, $shingleExpr AS sh FROM w)
         |SELECT doc_id, ${minhashCols("")}
         |FROM s""".stripMargin,

    "q22_minhash_lsh_pairs" -> lshPairsOracleSql("true"),
    // forced sort-merge-band twin: same operator semantics, same oracle
    // over the even half (branch coverage, not throughput — the full
    // corpus through the join-only path cost 14 s of suite budget)
    "q76_lsh_sortmerge" -> lshPairsOracleSql("doc_id % 2 = 0"),

    "q23_simhash" ->
      s"""WITH w AS (SELECT doc_id, unnest($wsExpr) AS wd FROM documents),
         |h AS (SELECT doc_id, md5(wd) AS hh FROM w),
         |s AS (SELECT doc_id, ${(0 until 16).map(j =>
        s"SUM(CASE WHEN substring(hh, ${j + 1}, 1) IN ('8','9','a','b','c','d','e','f') THEN 1 ELSE -1 END) AS s$j").mkString(", ")}
         | FROM h GROUP BY doc_id)
         |SELECT doc_id AS id, CAST(${(0 until 16).map(j =>
        s"(CASE WHEN s$j > 0 THEN ${1L << j} ELSE 0 END)").mkString(" + ")} AS BIGINT) AS simhash
         |FROM s""".stripMargin,

    "q24_url_canonicalize" ->
      s"""WITH $frontierCte
         |SELECT o_orderkey AS position, canonical_url, host FROM f""".stripMargin,

    "q25_frontier_dedupe" ->
      s"""$dedupedCte
         |SELECT canonical_url, CAST(priority_band AS INT) AS priority_band, url FROM d""".stripMargin,

    "q26_politeness_schedule" ->
      s"""$scheduledCte
         |SELECT canonical_url, host, host_seq, scheduled_ms FROM sched""".stripMargin,

    // capped round: the engine caps every host at 40 (capping a
    // below-cap host is a no-op), and the cap
    // keeps the politeness order's top-40 (band, canonical_url) — the
    // exact contract of Politeness.capPerHost
    "q68_hot_metrics_round" ->
      s"""$dedupedCte,
         |pol AS (
         |  SELECT d.*, 250 * (1 + hn % 4) AS crawl_delay_ms
         |  FROM d
         |  WHERE NOT (hn % 7 = 0 AND path LIKE '/p/1%')
         |),
         |capped AS (
         |  SELECT * FROM (
         |    SELECT pol.*, row_number() OVER (PARTITION BY host ORDER BY priority_band, canonical_url) AS crn
         |    FROM pol
         |  ) WHERE crn <= 40
         |),
         |sched AS (
         |  SELECT canonical_url, host,
         |    CAST(row_number() OVER (PARTITION BY host ORDER BY priority_band, canonical_url) AS BIGINT) AS host_seq,
         |    CAST((row_number() OVER (PARTITION BY host ORDER BY priority_band, canonical_url) - 1) * crawl_delay_ms AS BIGINT) AS scheduled_ms
         |  FROM capped
         |)
         |SELECT canonical_url, host, host_seq, scheduled_ms FROM sched""".stripMargin,

    // fused seen round: anti-join the deduped frontier against the
    // even-orderkey half's canonicals, then cap every host at 40
    // (as the engine does; capping a below-cap host is a no-op) and
    // schedule
    "q69_fused_seen_round" ->
      s"""$dedupedCte,
         |seen AS (
         |  SELECT DISTINCT canonical_url FROM f WHERE o_orderkey % 2 = 0
         |),
         |fresh AS (
         |  SELECT d.* FROM d
         |  WHERE NOT EXISTS (SELECT 1 FROM seen WHERE seen.canonical_url = d.canonical_url)
         |),
         |pol AS (
         |  SELECT fresh.*, 250 * (1 + hn % 4) AS crawl_delay_ms
         |  FROM fresh
         |  WHERE NOT (hn % 7 = 0 AND path LIKE '/p/1%')
         |),
         |capped AS (
         |  SELECT * FROM (
         |    SELECT pol.*, row_number() OVER (PARTITION BY host ORDER BY priority_band, canonical_url) AS crn
         |    FROM pol
         |  ) WHERE crn <= 40
         |),
         |sched AS (
         |  SELECT canonical_url, host,
         |    CAST(row_number() OVER (PARTITION BY host ORDER BY priority_band, canonical_url) AS BIGINT) AS host_seq,
         |    CAST((row_number() OVER (PARTITION BY host ORDER BY priority_band, canonical_url) - 1) * crawl_delay_ms AS BIGINT) AS scheduled_ms
         |  FROM capped
         |)
         |SELECT canonical_url, host, host_seq, scheduled_ms FROM sched""".stripMargin,

    // incremental seen append: membership = the %4==0 quarter (saved)
    // plus the %4==1 quarter (appended); rest identical to q69
    "q70_seen_append_round" ->
      s"""$dedupedCte,
         |seen AS (
         |  SELECT DISTINCT canonical_url FROM f WHERE o_orderkey % 4 IN (0, 1)
         |),
         |fresh AS (
         |  SELECT d.* FROM d
         |  WHERE NOT EXISTS (SELECT 1 FROM seen WHERE seen.canonical_url = d.canonical_url)
         |),
         |pol AS (
         |  SELECT fresh.*, 250 * (1 + hn % 4) AS crawl_delay_ms
         |  FROM fresh
         |  WHERE NOT (hn % 7 = 0 AND path LIKE '/p/1%')
         |),
         |capped AS (
         |  SELECT * FROM (
         |    SELECT pol.*, row_number() OVER (PARTITION BY host ORDER BY priority_band, canonical_url) AS crn
         |    FROM pol
         |  ) WHERE crn <= 40
         |),
         |sched AS (
         |  SELECT canonical_url, host,
         |    CAST(row_number() OVER (PARTITION BY host ORDER BY priority_band, canonical_url) AS BIGINT) AS host_seq,
         |    CAST((row_number() OVER (PARTITION BY host ORDER BY priority_band, canonical_url) - 1) * crawl_delay_ms AS BIGINT) AS scheduled_ms
         |  FROM capped
         |)
         |SELECT canonical_url, host, host_seq, scheduled_ms FROM sched""".stripMargin,

    "q72_crawl_endurance" -> enduranceOracleSql(5),

    // round 2 of a resumed crawl: schedule over the full deduped
    // frontier minus round 1's robots-surviving half (hn/path are
    // functions of canonical_url, so the robots verdict is
    // winner-independent)
    "q66_checkpoint_resume" ->
      s"""$dedupedCte,
         |h1k AS (
         |  SELECT DISTINCT canonical_url FROM f
         |  WHERE o_orderkey % 2 = 0
         |    AND NOT (hn % 7 = 0 AND path LIKE '/p/1%')
         |),
         |fresh AS (
         |  SELECT d.* FROM d
         |  WHERE NOT EXISTS (SELECT 1 FROM h1k WHERE h1k.canonical_url = d.canonical_url)
         |),
         |pol AS (
         |  SELECT fresh.*, 250 * (1 + hn % 4) AS crawl_delay_ms
         |  FROM fresh
         |  WHERE NOT (hn % 7 = 0 AND path LIKE '/p/1%')
         |),
         |sched AS (
         |  SELECT canonical_url, host,
         |    CAST(row_number() OVER (PARTITION BY host ORDER BY priority_band, canonical_url) AS BIGINT) AS host_seq,
         |    CAST((row_number() OVER (PARTITION BY host ORDER BY priority_band, canonical_url) - 1) * crawl_delay_ms AS BIGINT) AS scheduled_ms
         |  FROM pol
         |)
         |SELECT canonical_url, host, host_seq, scheduled_ms FROM sched""".stripMargin,

    // the streaming politeness path must reproduce the batch schedule —
    // same oracle as q26
    "q63_stream_schedule" ->
      s"""$scheduledCte
         |SELECT canonical_url, host, host_seq, scheduled_ms FROM sched""".stripMargin,

    "q62_segments_verify" ->
      """WITH r AS (SELECT row_number() OVER (ORDER BY o_orderkey) AS rk FROM orders),
        |seg AS (SELECT CAST((rk-1)//8 AS BIGINT) AS c, CAST((rk-1)%8+1 AS BIGINT) AS n,
        |               CAST(100 + rk%50 AS BIGINT) AS len FROM r),
        |tot AS (SELECT c, sum(len) AS chain_sum, max(n) AS chain_max FROM seg GROUP BY c),
        |kept AS (SELECT s.c, s.n, s.len FROM seg s JOIN tot t ON s.c=t.c
        |         WHERE NOT (s.c % 5 = 0 AND s.n = 3 AND t.chain_max = 8)),
        |agg AS (SELECT k.c, count(*) AS n_segs, max(k.n) AS max_n, sum(k.len) AS sum_len
        |        FROM kept k GROUP BY k.c),
        |fin AS (SELECT a.c, a.n_segs, a.max_n, a.sum_len,
        |               t.chain_sum + CASE WHEN a.c % 7 = 0 THEN 1 ELSE 0 END AS total_len
        |        FROM agg a JOIN tot t ON a.c = t.c)
        |SELECT '<urn:seg:' || c || ':1>' AS origin_id, 'missing_segment' AS kind,
        |       'have ' || n_segs || ' of ' || max_n AS detail
        |FROM fin WHERE max_n <> n_segs
        |UNION ALL
        |SELECT '<urn:seg:' || c || ':1>' AS origin_id, 'mismatched_segment_length' AS kind,
        |       sum_len || ' != ' || total_len AS detail
        |FROM fin WHERE sum_len <> total_len""".stripMargin,

    "q27_fetch_batches" ->
      s"""$scheduledCte
         |SELECT host, CAST(floor((host_seq - 1) / 10.0) AS BIGINT) AS batch_id, COUNT(*) AS n_urls
         |FROM sched GROUP BY 1, 2""".stripMargin,

    "q28_host_stats_salted" ->
      """SELECT CASE WHEN o_orderkey % 2 = 0 THEN 'hot.example.test'
        |  ELSE 'h' || ((o_orderkey%3000)%37) || '.example.test' END AS host,
        | COUNT(*) AS n_urls
        |FROM orders GROUP BY 1""".stripMargin,

    "q29_ann_topk" ->
      s"""WITH q AS (SELECT vec_id AS query_id, embedding AS qe FROM embeddings WHERE vec_id < 20),
         |p AS (
         |  SELECT q.query_id, e.vec_id AS neighbor_id,
         |   $dotSql / (sqrt(list_sum(list_transform(range(1, 65), i -> CAST(qe[i] AS DOUBLE) * CAST(qe[i] AS DOUBLE))))
         |      * sqrt(list_sum(list_transform(range(1, 65), i -> CAST(ce[i] AS DOUBLE) * CAST(ce[i] AS DOUBLE))))) AS cos
         |  FROM q, (SELECT vec_id, embedding AS ce FROM embeddings) e
         |  WHERE e.vec_id <> q.query_id
         |)
         |SELECT query_id, CAST(rank AS BIGINT) AS rank, neighbor_id FROM (
         |  SELECT query_id, neighbor_id,
         |   row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rank
         |  FROM p
         |) WHERE rank <= 5""".stripMargin,

    "q55_ann_ivf" ->
      s"""WITH cents AS (
         |  SELECT vec_id AS centroid_id, embedding AS cent_emb FROM embeddings WHERE vec_id % 25 = 0),
         |corpus AS (SELECT vec_id, embedding AS c_emb FROM embeddings),
         |assign AS (
         |  SELECT vec_id, centroid_id AS list_id FROM (
         |    SELECT c.vec_id, t.centroid_id,
         |      row_number() OVER (PARTITION BY c.vec_id
         |        ORDER BY ${cosSql("c_emb", "cent_emb")} DESC, t.centroid_id) AS rn
         |    FROM corpus c, cents t
         |  ) WHERE rn = 1),
         |q AS (SELECT vec_id AS query_id, embedding AS qe FROM embeddings WHERE vec_id < 20),
         |probe AS (
         |  SELECT query_id, centroid_id AS list_id, qe FROM (
         |    SELECT q.query_id, t.centroid_id, q.qe,
         |      row_number() OVER (PARTITION BY q.query_id
         |        ORDER BY ${cosSql("qe", "cent_emb")} DESC, t.centroid_id) AS rn
         |    FROM q, cents t
         |  ) WHERE rn <= 4),
         |scored AS (
         |  SELECT p.query_id, a.vec_id AS neighbor_id, ${cosSql("qe", "c_emb")} AS cos
         |  FROM probe p
         |  JOIN assign a ON a.list_id = p.list_id
         |  JOIN corpus c ON c.vec_id = a.vec_id
         |  WHERE a.vec_id <> p.query_id)
         |SELECT query_id, CAST(rank AS BIGINT) AS rank, neighbor_id FROM (
         |  SELECT query_id, neighbor_id,
         |    row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rank
         |  FROM scored
         |) WHERE rank <= 5""".stripMargin,

    "q30_embed_neardup_lsh" -> {
      def bv(b: Int, side: String): String =
        (0 until 16).map(i =>
          s"(CASE WHEN $side.embedding[${b * 16 + i + 1}] >= 0 THEN ${1L << i} ELSE 0 END)")
          .mkString("(", " + ", ")")
      s"""WITH aug AS (
         |  SELECT vec_id, embedding FROM embeddings
         |  UNION ALL
         |  SELECT vec_id + 100000 AS vec_id,
         |   list_concat(
         |     list_transform(embedding[1:60], x -> CAST(x * 0.5 AS FLOAT)),
         |     list_transform(embedding[61:64], x -> CAST(-x * 0.5 AS FLOAT))) AS embedding
         |  FROM embeddings
         |),
         |cand AS (
         |  SELECT a.vec_id AS id_a, b.vec_id AS id_b, a.embedding AS ea, b.embedding AS eb
         |  FROM aug a JOIN aug b ON a.vec_id < b.vec_id
         |   AND (${(0 until 3).map(b => s"${bv(b, "a")} = ${bv(b, "b")}").mkString(" OR ")})
         |)
         |SELECT DISTINCT id_a, id_b, cos_milli FROM (
         |  SELECT id_a, id_b,
         |   CAST(floor(1000.0 *
         |     list_sum(list_transform(range(1, 65), i -> CAST(ea[i] AS DOUBLE) * CAST(eb[i] AS DOUBLE)))
         |     / (sqrt(list_sum(list_transform(range(1, 65), i -> CAST(ea[i] AS DOUBLE) * CAST(ea[i] AS DOUBLE))))
         |      * sqrt(list_sum(list_transform(range(1, 65), i -> CAST(eb[i] AS DOUBLE) * CAST(eb[i] AS DOUBLE)))))) AS BIGINT) AS cos_milli
         |  FROM cand
         |) WHERE cos_milli >= 800""".stripMargin
    },

    "q31_verify_problems" ->
      """SELECT o_orderkey AS position, 'missing_mandatory_field' AS kind, 'Content-Length' AS detail
        |FROM orders WHERE o_orderkey % 11 = 0
        |UNION ALL
        |SELECT o_orderkey, 'invalid_date', 'not-a-date' FROM orders WHERE o_orderkey % 13 = 0
        |UNION ALL
        |SELECT o_orderkey, 'unknown_record_type', 'bogus' FROM orders WHERE o_orderkey % 17 = 0
        |UNION ALL
        |SELECT o_orderkey, 'missing_profile', 'revisit' FROM orders
        |WHERE o_orderkey % 19 = 0 AND o_orderkey % 17 <> 0""".stripMargin,

    "q32_missing_refs" ->
      """SELECT o_orderkey AS position,
        | '<urn:graft:' || o_orderkey || '>' AS record_id,
        | 'WARC-Refers-To -> <urn:graft:' || (o_orderkey*2) || '>' AS detail
        |FROM orders o1
        |WHERE o_orderstatus NOT IN ('O','F')
        |  AND NOT EXISTS (SELECT 1 FROM orders o2 WHERE o2.o_orderkey = o1.o_orderkey * 2)""".stripMargin,

    "q33_extract_route" ->
      """SELECT o_orderkey AS position,
        | CASE WHEN o_orderkey % 19 = 0 THEN 'none'
        |      WHEN o_orderstatus = 'O' THEN 'http'
        |      WHEN o_orderstatus = 'F' THEN 'identity'
        |      ELSE 'none' END AS decoder_kind
        |FROM orders""".stripMargin,

    "q34_url_path" ->
      """SELECT o_orderkey AS position,
        | 'https|h' || (o_custkey % 50) || '.example.test|o|' || o_orderkey AS path_joined
        |FROM orders""".stripMargin,

    "q35_http_parse" ->
      """SELECT doc_id, (doc_id % 6 <> 4) AS ok,
        | CAST(CASE doc_id % 6 WHEN 1 THEN 204 ELSE 200 END AS BIGINT) AS status,
        | CASE doc_id % 6 WHEN 1 THEN md5('') WHEN 4 THEN md5('') ELSE md5(text) END AS body_md5,
        | CASE doc_id % 6 WHEN 4 THEN 'truncated_body' ELSE '' END AS err
        |FROM documents""".stripMargin,

    "q36_digest_parse" ->
      """SELECT doc_id,
        | 'md5' AS algo_hex, md5(text) AS val_hex,
        | 'md5' AS algo_b32, md5(text) AS val_b32,
        | 'sha256' AS algo_alias, sha256(text) AS val_alias
        |FROM documents""".stripMargin,

    "q37_header_serialize" ->
      s"""WITH h AS (
         |  SELECT o_orderkey,
         |   'WARC/1.1' || chr(13) || chr(10)
         |   || 'WARC-Record-ID: <urn:graft:' || o_orderkey || '>' || chr(13) || chr(10)
         |   || 'WARC-Type: ' || $warcTypeSql || chr(13) || chr(10)
         |   || 'Content-Length: ' || $contentLenSql || chr(13) || chr(10)
         |   || 'WARC-Date: ' || strftime(o_orderdate, '%Y-%m-%dT%H:%M:%SZ') || chr(13) || chr(10)
         |   || 'Content-Type: ' || $contentTypeSql || chr(13) || chr(10)
         |   || 'WARC-Target-URI: ' || $recordUriSql || chr(13) || chr(10)
         |   || 'X-Priority: ' || o_orderpriority || chr(13) || chr(10)
         |   || chr(13) || chr(10) AS s
         |  FROM orders
         |)
         |SELECT o_orderkey AS position, CAST(length(s) AS BIGINT) AS header_len,
         | md5(s) AS header_md5
         |FROM h""".stripMargin,

    "q38_media_type" ->
      """SELECT o_orderkey AS position,
        | (o_orderkey % 23 <> 0) AS mt_ok,
        | CASE WHEN o_orderkey % 23 = 0 THEN NULL
        |      WHEN o_orderstatus = 'O' THEN 'application'
        |      WHEN o_orderstatus = 'F' THEN 'image' ELSE 'text' END AS mt_type,
        | CASE WHEN o_orderkey % 23 = 0 THEN NULL
        |      WHEN o_orderstatus = 'O' THEN 'http'
        |      WHEN o_orderstatus = 'F' THEN 'png' ELSE 'plain' END AS mt_subtype,
        | CASE WHEN o_orderkey % 23 <> 0 AND o_orderstatus = 'O' THEN 'response' END AS mt_msgtype,
        | CASE WHEN o_orderkey % 23 = 0 THEN NULL
        |      WHEN o_orderstatus = 'O' THEN 1 ELSE 0 END AS mt_n_params
        |FROM orders""".stripMargin,

    "q39_scalar_funcs" ->
      """SELECT o_orderkey AS position,
        | lower(o_orderpriority) || '|x|y|' AS cl,
        | o_orderpriority || ' tail' AS unf,
        | CASE WHEN o_orderkey % 2 = 0 THEN NULL ELSE o_orderkey END AS u64,
        | to_base64(CAST(o_orderpriority AS BLOB)) AS b64,
        | hex(CAST(o_orderpriority AS BLOB)) AS hx,
        | (o_orderkey % 3 <> 0 AND o_orderpriority NOT LIKE '% %') AS vname
        |FROM orders""".stripMargin,

    "q40_typed_getters" ->
      s"""SELECT o_orderkey AS position,
         | (o_orderkey % 2 = 0) AS bad_spec,
         | $recordUriSql AS url,
         | (o_orderkey % 300 <= 255) AS ip_ok,
         | CAST(epoch(CAST(o_orderdate AS TIMESTAMP)) AS BIGINT) AS date_epoch
         |FROM orders""".stripMargin,

    "q41_seen_bloom_dedupe" -> bloomDedupeOracleSql("true"),
    // forced-distributed twin: same operator semantics, same oracle over
    // a third of the candidates (branch coverage, not throughput)
    "q75_seen_bloom_distributed" -> bloomDedupeOracleSql("o_orderkey % 3 = 0"),

    "q42_host_lineage" ->
      s"""$scheduledCte
         |SELECT host, COUNT(*) AS n_urls, MAX(scheduled_ms) AS span_ms,
         | COUNT(DISTINCT CAST(floor((host_seq - 1) / 10.0) AS BIGINT)) AS n_batches
         |FROM sched GROUP BY 1""".stripMargin,

    "q43_import_reject" ->
      "SELECT doc_id AS id, (doc_id % 7 <> 0) AS ok FROM documents",

    "q49_minhash_skew_clusters" ->
      s"""WITH aug AS (
         |  SELECT doc_id, text FROM documents
         |  UNION ALL
         |  SELECT 500000 + i AS doc_id, 'tiny dup doc graft spark' AS text FROM range(0, 3000) t(i)
         |), w AS (SELECT doc_id, $wsExpr AS ws FROM aug),
         |s AS (SELECT doc_id, list_distinct(ws) AS wset, $shingleExpr AS sh FROM w),
         |sig AS (SELECT doc_id, wset, ${minhashCols("")} FROM s WHERE len(sh) > 0),
         |b AS (SELECT doc_id, wset, mh0 || mh1 AS band FROM sig),
         |k AS (SELECT doc_id, wset, band,
         |        min(doc_id) OVER (PARTITION BY band) AS keeper_id FROM b),
         |j AS (SELECT k.doc_id AS id, k.keeper_id, k.wset AS wa, kk.wset AS wb
         |      FROM k JOIN b kk ON kk.doc_id = k.keeper_id
         |      WHERE k.doc_id <> k.keeper_id)
         |SELECT id, keeper_id, jaccard_milli FROM (
         |  SELECT id, keeper_id,
         |   CAST(floor(1000.0 * len(list_filter(wa, x -> list_contains(wb, x)))
         |     / len(list_distinct(list_concat(wa, wb)))) AS BIGINT) AS jaccard_milli
         |  FROM j
         |) WHERE jaccard_milli >= 800""".stripMargin,

    "q50_json_messages" ->
      """SELECT doc_id AS id,
        | CAST(3 + GREATEST(CAST(ceil(length(text)/64.0) AS BIGINT), 1) AS BIGINT) AS n_messages,
        | true AS roundtrip_ok
        |FROM documents""".stripMargin,

    "q52_seen_cuckoo_dedupe" ->
      s"""$dedupedCte
         |SELECT canonical_url, CAST(priority_band AS INT) AS priority_band FROM d
         |WHERE canonical_url NOT IN (
         |  SELECT canonical_url FROM f WHERE o_orderkey % 2 = 0)""".stripMargin,

    // post-delete truth: seen (even keys) minus deleted (multiples of 3);
    // the odd multiples of 3 in the deletion set were never members and
    // must be ignored by the semi-join gate
    "q53_cuckoo_delete" ->
      s"""$dedupedCte
         |SELECT canonical_url, CAST(priority_band AS INT) AS priority_band FROM d
         |WHERE canonical_url NOT IN (
         |  SELECT canonical_url FROM f WHERE o_orderkey % 2 = 0 AND o_orderkey % 3 <> 0)""".stripMargin,

    "q54_cbor_messages" ->
      """SELECT doc_id AS id,
        | CAST(3 + GREATEST(CAST(ceil(length(text)/64.0) AS BIGINT), 1) AS BIGINT) AS n_messages,
        | true AS roundtrip_ok
        |FROM documents""".stripMargin,

    "q59_warc_to_images" ->
      """SELECT '<urn:img:' || o_orderkey || '>' AS image_id, 'png' AS fmt,
        | true AS dims_ok, 'https://img.test/i/' || o_orderkey AS caption
        |FROM orders WHERE o_orderkey % 3 = 0""".stripMargin,

    "q60_token_bpe" ->
      s"""SELECT doc_id,
         | CAST(len($wsExpr) AS BIGINT) AS n_ws,
         | CAST(len(regexp_extract_all(text, ' ?[A-Za-z]+| ?[0-9]+| ?[^ A-Za-z0-9]+')) AS BIGINT) AS n_bpe
         |FROM documents""".stripMargin,

    "q58_payload_digest" ->
      "SELECT doc_id, (doc_id % 9 <> 0 AND doc_id % 11 <> 0) AS payload_ok FROM documents",

    "q65_blake3_verify" ->
      """SELECT doc_id,
        | CASE WHEN doc_id % 11 = 0 THEN NULL
        |      WHEN doc_id % 13 = 0 THEN 'xxh3' ELSE 'blake3' END AS algo,
        | (doc_id % 9 <> 0 AND doc_id % 11 <> 0) AS payload_ok
        |FROM documents""".stripMargin,

    // the otherbot group must NOT be selected; the * group's delay is
    // 250*(1+hn%4) ms; allow /p/12 (longer) beats disallow /p/1
    "q56_robots_raw" ->
      s"""$dedupedCte
         |SELECT canonical_url, host, CAST(250 * (1 + hn % 4) AS BIGINT) AS crawl_delay_ms
         |FROM d
         |WHERE NOT (hn % 7 = 0 AND path LIKE '/p/1%'
         |           AND NOT (hn % 14 = 0 AND path LIKE '/p/12%'))""".stripMargin,

    "q51_host_cap_salted" ->
      """WITH f AS (
        |  SELECT 'u/' || o_orderkey AS canonical_url,
        |   CAST(CAST(floor(o_orderkey/3000.0) AS BIGINT) % 4 AS INT) AS priority_band,
        |   CASE WHEN o_orderkey % 2 = 0 THEN 'hot.example.test'
        |     ELSE 'h' || ((o_orderkey%3000)%37) || '.example.test' END AS host
        |  FROM orders
        |)
        |SELECT host, priority_band, canonical_url FROM (
        |  SELECT f.*, row_number() OVER (PARTITION BY host ORDER BY priority_band, canonical_url) AS rn
        |  FROM f
        |) WHERE rn <= 50""".stripMargin,

    // q44–q47 inputs are engine-synthesized; the oracles gate the DECISION
    // COLUMNS against the deterministic id-index injection patterns
    "q44_images_fidelity" ->
      """SELECT 'img-' || lpad(CAST(i AS VARCHAR), 8, '0') AS image_id,
        | (i % 5 <> 0) AS pixel_ok, (i % 7 <> 0) AS caption_ok
        |FROM range(0, 120) t(i)""".stripMargin,

    "q45_phash_neardup" ->
      """SELECT 'img-' || lpad(CAST(i AS VARCHAR), 8, '0') AS image_id,
        | true AS has_small_dup
        |FROM range(0, 120) t(i)""".stripMargin,

    "q57_thumbnails" ->
      """SELECT 'img-' || lpad(CAST(i AS VARCHAR), 8, '0') AS image_id,
        | CASE CAST(i % 3 AS INT) WHEN 0 THEN 'png' WHEN 1 THEN 'bmp' ELSE 'jpeg' END AS fmt,
        | true AS thumb_ok
        |FROM range(0, 120) t(i)""".stripMargin,

    "q46_media_meta" ->
      """SELECT 'img-' || lpad(CAST(i AS VARCHAR), 8, '0') AS image_id,
        | CASE CAST(i % 3 AS INT) WHEN 0 THEN 'png' WHEN 1 THEN 'bmp' ELSE 'jpeg' END AS fmt,
        | true AS meta_ok, CAST(16 AS BIGINT) AS n_feat
        |FROM range(0, 120) t(i)""".stripMargin,

    "q47_warc_source" ->
      """SELECT CAST(i AS BIGINT) AS record_idx, true AS offset_ok,
        | (i % 9 <> 0) AS digest_ok, true AS rat_ok
        |FROM range(0, 100) t(i)""".stripMargin,

    "q61_warc_split" ->
      """SELECT o_orderkey AS rec_id, true AS len_ok, true AS digest_ok,
        | true AS pos_ok, true AS split_ok
        |FROM orders""".stripMargin,

    "q67_warc_zstd_split" ->
      """SELECT o_orderkey AS rec_id, true AS len_ok, true AS digest_ok,
        | true AS pos_ok, true AS split_ok
        |FROM orders""".stripMargin,

    "q71_warc_split_fleet" ->
      """SELECT o_orderkey AS rec_id, true AS len_ok, true AS digest_ok,
        | true AS file_ok, true AS split_ok
        |FROM orders WHERE o_orderkey % 5 = 0 OR o_orderkey % 50 = 1""".stripMargin,

    "q74_container_wrap" ->
      """SELECT o_orderkey AS rec_id, w AS wrapper, true AS len_ok,
        | true AS digest_ok, true AS file_ok
        |FROM orders CROSS JOIN (VALUES ('zz'), ('br')) v(w)
        |WHERE o_orderkey % 29 = 0""".stripMargin,

    "q77_video_avi" ->
      """WITH v AS (
        |  SELECT i, 15 + (i % 4) * 9 AS w, 8 + (i % 3) * 4 AS h,
        |    CASE CAST(i % 5 AS INT) WHEN 0 THEN 10 WHEN 1 THEN 20
        |         WHEN 2 THEN 25 WHEN 3 THEN 40 ELSE 50 END AS rate,
        |    3 + i % 6 AS nf
        |  FROM range(0, 200) t(i)
        |), s AS (
        |  SELECT v.*, f.f FROM v JOIN range(0, 8) f(f)
        |    ON f.f < v.nf AND f.f % 2 = 0
        |)
        |SELECT 'vid-' || lpad(CAST(i AS VARCHAR), 8, '0') AS video_id,
        | CAST(w AS BIGINT) AS w, CAST(h AS BIGINT) AS h,
        | CAST(rate * 1000 AS BIGINT) AS fps_milli,
        | CAST(nf AS BIGINT) AS n_frames,
        | CAST(count(*) AS BIGINT) AS n_sampled,
        | CAST(w * h * sum((7 * i + 13 * f) % 256) AS BIGINT) AS sum_r,
        | CAST(w * h * sum((11 * i + 17 * f) % 256) AS BIGINT) AS sum_g,
        | CAST(w * h * sum((5 * i + 19 * f) % 256) AS BIGINT) AS sum_b
        |FROM s GROUP BY i, w, h, rate, nf""".stripMargin,

    "q73_audio_wav" ->
      """SELECT 'wav-' || lpad(CAST(i AS VARCHAR), 8, '0') AS audio_id,
        | CAST(CASE CAST(i % 4 AS INT) WHEN 0 THEN 8000 WHEN 1 THEN 16000
        |           WHEN 2 THEN 22050 ELSE 44100 END AS BIGINT) AS sample_rate,
        | CAST(1 + i % 2 AS BIGINT) AS channels,
        | CAST(400 + (i % 5) * 200 AS BIGINT) AS frames,
        | CAST(1000 + (i % 7) * 500 AS BIGINT) AS peak_i16,
        | CAST(1000 + (i % 7) * 500 AS BIGINT) AS rms_i16
        |FROM range(0, 200) t(i)""".stripMargin,

    "q64_extract_tree" ->
      """WITH g AS (
        |  SELECT 'h' || (o_orderkey%61) || '.example.test' AS host,
        |         CAST(o_orderkey%100 AS VARCHAR) AS fname,
        |         (o_orderkey % 17 = 0) AS is_conv,
        |         (o_orderkey % 11 = 0) AS is_trunc,
        |         length('payload ' || o_orderkey) AS nb
        |  FROM orders WHERE o_orderkey % 3 = 0
        |)
        |SELECT host, fname, is_conv, is_trunc,
        |  count(*) AS n_total, CAST(count(*) - 1 AS BIGINT) AS n_conflict,
        |  CAST(sum(nb) AS BIGINT) AS sum_bytes
        |FROM g GROUP BY 1, 2, 3, 4""".stripMargin,

    "q48_mark_revisits" ->
      """WITH aug AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL
        |  SELECT doc_id + 200000, text FROM documents WHERE doc_id % 3 = 0
        |), k AS (
        |  SELECT doc_id AS id, min(doc_id) OVER (PARTITION BY md5(text)) AS keeper_id
        |  FROM aug
        |)
        |SELECT id,
        | CASE WHEN id = keeper_id THEN 'response' ELSE 'revisit' END AS kind,
        | CASE WHEN id <> keeper_id THEN keeper_id END AS refers_to
        |FROM k""".stripMargin
  )
}
