package graft.frontier

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.util.sketch.BloomFilter
import java.io.{ByteArrayInputStream, ByteArrayOutputStream}
import scala.collection.mutable

/** Partitioned Bloom-filter URL-seen set (north rule; the cluster-native
  * replacement for the reference's redb RECORDS_TABLE membership probe,
  * /root/reference/src/verify.rs:405-411).
  *
  * Design for 10^10 keys: ONE driver-side bloom does not fit, so the seen
  * set is bucketed by `pmod(url_key, numBuckets)` and each bucket holds
  * its own bloom bitset. Build = one shuffle of RAW 8-byte keys
  * partitioned by bucket, then a per-partition mutable fold into the
  * bucket's filter — the shuffle never carries bitsets, and no
  * per-row serialize/deserialize happens anywhere (the naive
  * Aggregator-over-binary formulation re-encodes the whole bitset on
  * every row — O(n·bitset) memcpy).
  *
  * Probe = broadcast the (small) bucket table once; executors lazily
  * decode each bucket's filter once per probing task and test candidates in a
  * codegen-wrapped UDF. At 10^10, buckets whose bitsets exceed the
  * broadcast budget shard further by key range (same table layout, more
  * buckets) — the layout is the Iceberg `seen_buckets` table of SURVEY §4.
  *
  * Correctness is scale-independent: the bloom is only a prefilter; every
  * positive is CONFIRMED by an exact left-anti join (the reference's
  * reference-integrity anti-join shape, src/verify.rs:230-264), so false
  * positives never drop a URL and the result equals the exact anti-join
  * at any scale / any fpp.
  *
  * The bloom is for the regime past the broadcast budget. While the exact
  * seen keys fit it ([[exactFitsBroadcast]], about 25.6M keys), the
  * confirm is a broadcast hash anti-join that every candidate probes
  * anyway, and a bloom without false negatives never changes its rows —
  * so a frontier round ([[Scheduler.runRound]]) then runs that plain
  * broadcast anti-join alone and builds no bloom. The gates that call
  * this object directly (q41, q52, q53, q75) still exercise the filters.
  */
object SeenSet {

  private[frontier] def ser(bf: BloomFilter): Array[Byte] = {
    val bos = new ByteArrayOutputStream(); bf.writeTo(bos); bos.toByteArray
  }
  private[frontier] def deser(b: Array[Byte]): BloomFilter =
    BloomFilter.readFrom(new ByteArrayInputStream(b))

  def bucketOf(key: Column, numBuckets: Int): Column = pmod(key, lit(numBuckets.toLong))

  /** The broadcast budget: the most bytes a probe table or an exact
    * confirm side may broadcast.
    */
  val BroadcastBudgetBytes: Long = 256L << 20

  /** Bytes of 8-byte seen keys per byte of a bloom filter sized for them
    * (~9.6 bits per key at fpp 0.01).
    */
  private val BloomKeyBytesPerFilterByte = 7

  /** Whether the exact seen keys fit the broadcast budget, their bytes
    * bounded by `keyBytesPerFilterByte` × the filter's `filterBytes`:
    * [[antiFilter]]'s confirm choice and, through [[bloomFitsBroadcast]],
    * the frontier round's seen-filter regime.
    */
  def exactFitsBroadcast(filterBytes: Long, keyBytesPerFilterByte: Int,
                         budget: Long = BroadcastBudgetBytes): Boolean =
    filterBytes * keyBytesPerFilterByte <= budget

  /** [[exactFitsBroadcast]] for `nSeen` keys under the bloom
    * [[sizedBloomFilter]] builds over `numBuckets`.
    */
  def bloomFitsBroadcast(nSeen: Long, numBuckets: Int): Boolean =
    exactFitsBroadcast(estimatedBloomBytes(sizedPerBucket(nSeen, numBuckets), numBuckets),
      BloomKeyBytesPerFilterByte)

  /** Per-bucket capacity of a bloom sized for `nSeen` keys: nSeen/numBuckets
    * plus 25%, so the fpp stays at or below the design point.
    */
  private def sizedPerBucket(nSeen: Long, numBuckets: Int): Long =
    math.max(1024L, nSeen * 5L / (4L * numBuckets) + 1L)

  /** Upper bound on the serialized bytes of a [[buildBuckets]] table
    * whose filters were created with `expectedPerBucket` capacity: the
    * optimal-bits formula Spark's sketch uses (-n·ln p / ln²2), rounded
    * up to 64-bit words, plus per-filter header slack. Buckets that
    * received no keys never allocate a filter, so the true total only
    * shrinks. Lets a sizing caller pre-decide broadcast-vs-distributed
    * without running the build twice or probing its size.
    */
  def estimatedBloomBytes(expectedPerBucket: Long, numBuckets: Int,
                          fpp: Double = 0.01): Long = {
    val bits = math.ceil(-expectedPerBucket.toDouble * math.log(fpp) /
      (math.log(2) * math.log(2))).toLong
    val words = bits / 64L + 1L
    numBuckets.toLong * (words * 8L + 24L)
  }

  /** Build the per-bucket bloom table: (bucket: long, bloom: binary).
    * `seen` must carry a long column `keyCol` (xxhash64 of canonical URL).
    */
  def buildBuckets(seen: DataFrame, keyCol: String, numBuckets: Int,
                   expectedPerBucket: Long = 1 << 20, fpp: Double = 0.01): DataFrame =
    foldBuckets(seen, keyCol, numBuckets, "bloom", distinctKeys = false)(
      () => BloomFilter.create(expectedPerBucket, fpp))((_, bf, k) => bf.putLong(k))(ser)

  /** The build both seen-set kinds share: one hash shuffle of raw
    * `(bucket, key)` rows, then each reduce partition folds its bucket(s)
    * mutably — one `newFilter()` per bucket, `add(bucket, filter, key)`
    * per key — and emits `(bucket, serialize(filter))` as (bucket,
    * `blobCol`). With `distinctKeys` each key is added once: a key's
    * every occurrence lands in one partition (partitioned by its
    * bucket), so a per-partition set is exact.
    */
  private[frontier] def foldBuckets[F](seen: DataFrame, keyCol: String, numBuckets: Int,
                                       blobCol: String, distinctKeys: Boolean)(
      newFilter: () => F)(add: (Long, F, Long) => Unit)(
      serialize: F => Array[Byte]): DataFrame = {
    val spark = seen.sparkSession
    import spark.implicits._
    seen
      .select(bucketOf(col(keyCol), numBuckets).as("bucket"),
        col(keyCol).cast("long").as("k"))
      .repartition(numBuckets, col("bucket"))
      .as[(Long, Long)]
      .mapPartitions { it =>
        val perBucket = mutable.LongMap.empty[F]
        val keys = new java.util.HashSet[Long]()
        it.foreach { case (b, k) =>
          if (!distinctKeys || keys.add(k))
            add(b, perBucket.getOrElseUpdate(b, newFilter()), k)
        }
        perBucket.iterator.map { case (b, f) => (b, serialize(f)) }
      }
      .toDF("bucket", blobCol)
  }

  /** One bucket's serialized filter → its membership test. Decoded once
    * per probing task (broadcast probe) or per bucket group (cogroup).
    */
  private[frontier] type Decode = Array[Byte] => Long => Boolean

  private[frontier] val bloomTest: Decode = bytes => {
    val bf = deser(bytes)
    k => bf.mightContainLong(k)
  }

  /** Probe + exact confirm ≡ `candidates LEFT ANTI JOIN seen ON key`:
    * bloom negatives skip the exact join's work, every positive is
    * confirmed exactly, so no fpp can change the rows.
    *
    * Path selection by bucket-table size: small tables broadcast (probe
    * stays narrow — no candidate shuffle); past `maxBroadcastBytes` the
    * table stays DISTRIBUTED and candidates cogroup with their bucket
    * ([[probeDistributed]]) — at 10^10 keys the correctly-sized bitsets
    * are ≥ 1.2 GB, which must never funnel through driver memory or a
    * whole-table broadcast. A caller that sized the table
    * ([[estimatedBloomBytes]]) passes `buildBytesHint` and skips the
    * size-probe job.
    */
  def probeAndConfirm(candidates: DataFrame, seenKeys: DataFrame, keyCol: String,
                      buckets: DataFrame, numBuckets: Int,
                      maxBroadcastBytes: Long = BroadcastBudgetBytes,
                      buildBytesHint: Long = -1L): DataFrame =
    antiFilter(buckets, seenKeys, keyCol, numBuckets, maxBroadcastBytes,
      buildBytesHint, BloomKeyBytesPerFilterByte, bloomTest)(candidates)

  /** The bloom [[antiFilter]] over `seenKeys`, sized from its known
    * cardinality `nSeen` ([[sizedPerBucket]]), so the table's bytes are
    * known without a size-probe job. An undersized bucket would only
    * raise fpp, never change rows.
    */
  def sizedBloomFilter(seenKeys: DataFrame, nSeen: Long, keyCol: String,
                       numBuckets: Int): DataFrame => DataFrame = {
    val perBucket = sizedPerBucket(nSeen, numBuckets)
    antiFilter(buildBuckets(seenKeys, keyCol, numBuckets, expectedPerBucket = perBucket),
      seenKeys, keyCol, numBuckets, BroadcastBudgetBytes,
      estimatedBloomBytes(perBucket, numBuckets), BloomKeyBytesPerFilterByte, bloomTest)
  }

  /** The filter both seen-set kinds share, built ONCE and applied to any
    * number of candidate frames: `candidates LEFT ANTI JOIN seen ON key`.
    *
    * Probe: under `maxBroadcastBytes` the `(bucket, blob)` table is
    * collected once and broadcast, and `maybe_seen` is a narrow UDF;
    * past it candidates cogroup with their bucket. The table is never
    * left cached: with `buildBytesHint` it is consumed lazily by the
    * probe itself; without it, a persist bridges the size probe and the
    * collect and is dropped before returning.
    *
    * Confirm: the seen keys' bytes are bounded by
    * `seenBytesPerFilterByte` × the filter bytes (8-byte keys against
    * ~9.6 bits per bloom slot, 2 bytes per cuckoo slot). When that bound
    * fits the broadcast budget ([[exactFitsBroadcast]]), the confirm is
    * ONE broadcast left-anti join conditioned on `maybe_seen`, which keeps
    * the candidates' partitioning. Past it, bloom positives alone take the
    * shuffled anti-join and union back with the negatives.
    */
  private[frontier] def antiFilter(buckets: DataFrame, seenKeys: DataFrame, keyCol: String,
                                   numBuckets: Int, maxBroadcastBytes: Long,
                                   buildBytesHint: Long, seenBytesPerFilterByte: Int,
                                   test: Decode): DataFrame => DataFrame = {
    val (bytes, probe) = prober(buckets, numBuckets, maxBroadcastBytes, buildBytesHint, test)
    val seenSide = seenKeys.select(col(keyCol).as("__seen_key")).distinct()
    val key = col(keyCol) === col("__seen_key")
    if (exactFitsBroadcast(bytes, seenBytesPerFilterByte, maxBroadcastBytes)) { candidates =>
      probe(candidates, keyCol)
        .join(broadcast(seenSide), col("maybe_seen") && key, "left_anti")
        .drop("maybe_seen")
    } else { candidates =>
      val probed = probe(candidates, keyCol)
      probed.where(!col("maybe_seen")).drop("maybe_seen").unionByName(
        probed.where(col("maybe_seen")).drop("maybe_seen").join(seenSide, key, "left_anti"))
    }
  }

  /** Build-side half of [[antiFilter]]: the table's serialized bytes and
    * a function adding `maybe_seen` to candidates.
    */
  private def prober(buckets: DataFrame, numBuckets: Int, maxBroadcastBytes: Long,
                     buildBytesHint: Long, test: Decode)
      : (Long, (DataFrame, String) => DataFrame) = {
    val (bytes, collected) =
      if (buildBytesHint >= 0L)
        (buildBytesHint,
          if (buildBytesHint <= maxBroadcastBytes) Some(buckets.collect()) else None)
      else {
        val cached = buckets.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        try {
          val b = cached.agg(coalesce(sum(length(col(cached.columns(1)))), lit(0L)))
            .head.getLong(0)
          (b, if (b <= maxBroadcastBytes) Some(cached.collect()) else None)
        } finally { cached.unpersist(false); () }
      }
    (bytes, collected match {
      case Some(rows) => broadcastProbe(rows, numBuckets, test)
      case None => probeDistributed(_, _, buckets, numBuckets, test)
    })
  }

  /** Broadcast probe over a collected `(bucket, blob)` table: candidates
    * stay un-shuffled and gain a narrow `maybe_seen` UDF column.
    */
  private[frontier] def broadcastProbe(rows: Array[org.apache.spark.sql.Row], numBuckets: Int,
                                       test: Decode): (DataFrame, String) => DataFrame = {
    val spark = org.apache.spark.sql.SparkSession.active
    val bc = spark.sparkContext.broadcast(
      rows.map(r => r.getLong(0) -> r.getAs[Array[Byte]](1)).toMap)
    val probe = new BroadcastProbe(bc, numBuckets, test)
    val maybeSeenUdf = udf((key: Long) => probe.maybeSeen(key))
    (candidates, keyCol) => candidates.withColumn("maybe_seen", maybeSeenUdf(col(keyCol)))
  }

  /** Executor-side probe over the broadcast bucket table; each probing
    * task decodes the filters once (transient lazy), not per row.
    */
  private final class BroadcastProbe(bc: Broadcast[Map[Long, Array[Byte]]], numBuckets: Int,
                                     test: Decode) extends Serializable {
    @transient private lazy val tests: Array[Long => Boolean] = {
      val a = new Array[Long => Boolean](numBuckets)
      bc.value.foreach { case (b, bytes) => a(b.toInt) = test(bytes) }
      a
    }
    def maybeSeen(key: Long): Boolean = {
      val t = tests(math.floorMod(key, numBuckets.toLong).toInt)
      t != null && t(key)
    }
  }

  /** Distributed probe (bucket tables too big to broadcast): candidates
    * cogroup with the bucket table on bucket id — one hash shuffle of the
    * candidates, zero bytes through the driver. Each group decodes its
    * bucket's filter exactly once and streams its candidates through it;
    * a missing bucket means nothing was ever inserted there
    * (maybe_seen = false). This is the Iceberg `seen_buckets`-table layout
    * of SURVEY §4 probed bucket-local.
    */
  private def probeDistributed(candidates: DataFrame, keyCol: String,
                               buckets: DataFrame, numBuckets: Int,
                               test: Decode): DataFrame = {
    import org.apache.spark.sql.{Encoders, Row}
    val schema = candidates.schema
    val keyIdx = schema.fieldIndex(keyCol)
    val outSchema = schema.add("maybe_seen", org.apache.spark.sql.types.BooleanType,
      nullable = false)
    val candG = candidates.groupByKey((r: Row) =>
      math.floorMod(r.getLong(keyIdx), numBuckets).toLong)(Encoders.scalaLong)
    val bucketG = buckets.select(col(buckets.columns(0)).cast("long"), col(buckets.columns(1)))
      .as[(Long, Array[Byte])](Encoders.tuple(Encoders.scalaLong, Encoders.BINARY))
      .groupByKey(_._1)(Encoders.scalaLong)
    candG.cogroup(bucketG) { (_, cands, blobs) =>
      if (!blobs.hasNext) cands.map(r => Row.fromSeq(r.toSeq :+ false))
      else {
        val t = test(blobs.next()._2)
        cands.map(r => Row.fromSeq(r.toSeq :+ t(r.getLong(keyIdx))))
      }
    }(Encoders.row(outSchema)).toDF()
  }

  /** Exact-only dedupe (the v0 / confirm path): candidates anti-joined
    * against seen keys.
    */
  def dedupeExact(candidates: DataFrame, seenKeys: DataFrame, keyCol: String): DataFrame =
    candidates.join(seenKeys.select(col(keyCol)).distinct(), Seq(keyCol), "left_anti")
}
