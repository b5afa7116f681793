package graft.frontier

import org.apache.spark.sql.{DataFrame, Encoders}
import org.apache.spark.sql.functions._

/** Partitioned CUCKOO-filter URL-seen set — the deletable variant of
  * [[SeenSet]] (north rule: "cuckoo-filter fallback for deletions").
  *
  * Same 10^10-scale layout as the Bloom path: the seen set is bucketed
  * by `pmod(url_key, numBuckets)`; build is one shuffle of RAW 8-byte
  * keys then a per-partition mutable fold into each bucket's filter
  * (the shuffle never carries filter blobs). Probe follows the same
  * size-aware broadcast-vs-cogroup selection, and every positive is
  * CONFIRMED by the exact anti-join, so results equal the exact
  * anti-join at any fpp.
  *
  * What Bloom cannot do: [[deleteKeys]] removes members in place — a
  * distributed cogroup of (bucket ← deletions) with the bucket table,
  * each group deserializing its filter once, deleting its keys, and
  * re-serializing. Deletions are first gated by an exact semi-join
  * against the source-of-truth seen table because cuckoo deletion of a
  * never-inserted key can strip a colliding member's fingerprint
  * (CuckooFilter class doc).
  */
object CuckooSeenSet {

  /** Build the per-bucket cuckoo table: (bucket: long, cuckoo: binary).
    * Keys are deduplicated per partition ([[SeenSet.foldBuckets]]): the
    * filter stores MULTISET copies (deletion soundness), so each key must
    * be inserted exactly once.
    */
  def buildBuckets(seen: DataFrame, keyCol: String, numBuckets: Int,
                   expectedPerBucket: Long = 1 << 20): DataFrame =
    SeenSet.foldBuckets(seen, keyCol, numBuckets, "cuckoo", distinctKeys = true)(
      () => CuckooFilter.create(expectedPerBucket))((b, cf, k) =>
      require(cf.insert(k), s"cuckoo bucket $b over capacity (size for expectedPerBucket)"))(
      _.serialize())

  /** Delete keys from the bucket table (returns the updated table).
    * `deletions` rows whose key is not in `seenKeys` are ignored (exact
    * semi-join gate — see object doc); buckets with no deletions pass
    * through untouched.
    */
  def deleteKeys(buckets: DataFrame, deletions: DataFrame, keyCol: String,
                 numBuckets: Int, seenKeys: DataFrame): DataFrame = {
    val spark = buckets.sparkSession
    // distinct BEFORE the filter mutation: the filter holds exactly one
    // copy per member key, so a duplicated deletion row must not remove
    // a second copy (which could be another key's colliding fingerprint)
    val dels = deletions.select(col(keyCol).cast("long").as("k")).distinct()
      .join(seenKeys.select(col(keyCol).cast("long").as("k")).distinct(), Seq("k"),
        "left_semi")
      .select(SeenSet.bucketOf(col("k"), numBuckets).as("bucket"), col("k"))
    val delG = dels.as[(Long, Long)](Encoders.tuple(Encoders.scalaLong, Encoders.scalaLong))
      .groupByKey(_._1)(Encoders.scalaLong)
    val bucketG = buckets.select(col("bucket").cast("long"), col("cuckoo"))
      .as[(Long, Array[Byte])](Encoders.tuple(Encoders.scalaLong, Encoders.BINARY))
      .groupByKey(_._1)(Encoders.scalaLong)
    bucketG.cogroup(delG) { (b, blobs, dels) =>
      if (!blobs.hasNext) Iterator.empty // deletions for a bucket never built
      else {
        val blob = blobs.next()._2
        if (!dels.hasNext) Iterator.single((b, blob))
        else {
          val cf = CuckooFilter.deserialize(blob)
          dels.foreach { case (_, k) => cf.delete(k) }
          Iterator.single((b, cf.serialize()))
        }
      }
    }(Encoders.tuple(Encoders.scalaLong, Encoders.BINARY))
      .toDF("bucket", "cuckoo")
  }

  private val cuckooTest: SeenSet.Decode = bytes => {
    val cf = CuckooFilter.deserialize(bytes)
    k => cf.mightContain(k)
  }

  /** The filter's own verdict (`maybe_seen`, before any exact confirm)
    * through the broadcast probe.
    */
  private[graft] def probeBroadcast(candidates: DataFrame, keyCol: String,
                                    buckets: DataFrame, numBuckets: Int): DataFrame =
    SeenSet.broadcastProbe(buckets.collect(), numBuckets, cuckooTest)(candidates, keyCol)

  /** Probe + exact confirm ≡ `candidates LEFT ANTI JOIN seen ON key`
    * (same contract, size-aware path selection and confirm as
    * [[SeenSet.probeAndConfirm]]; a cuckoo filter stores 2 bytes per
    * slot of capacity vs 8-byte keys, so seenBytes ≤ 4 × filterBytes).
    */
  def probeAndConfirm(candidates: DataFrame, seenKeys: DataFrame, keyCol: String,
                      buckets: DataFrame, numBuckets: Int,
                      maxBroadcastBytes: Long = SeenSet.BroadcastBudgetBytes): DataFrame =
    SeenSet.antiFilter(buckets, seenKeys, keyCol, numBuckets, maxBroadcastBytes,
      buildBytesHint = -1L, seenBytesPerFilterByte = 4, cuckooTest)(candidates)
}
