package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Deduplication operators: exact, MinHash+LSH, SimHash, n-gram Jaccard.
  *
  * Scale design (100 TB): every variant is shuffle-minimal —
  *   - exact dedupe is one hash-partitioned groupBy on a 16-byte key;
  *   - MinHash signatures are narrow per-row transforms; the LSH
  *     candidate join shuffles only (band_key, doc_id, signature), never
  *     the document text;
  *   - SimHash is one explode + partial-aggregated groupBy (map-side
  *     combine keeps the shuffle at one row per (doc, nothing) — the 16
  *     bit-sums ride in a single aggregation buffer);
  *   - verification joins carry pre-tokenized word sets, not raw text.
  */
object Dedup {

  /** Exact dedupe: group by content hash, keep the smallest id.
    * Returns (fingerprint, keeper_id, n_copies).
    */
  def exact(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.groupBy(md5(col(textCol)).as("fp"))
      .agg(min(col(idCol)).as("keeper_id"), count(lit(1)).as("n_copies"))

  /** Revisit marking (the reference's revisit record semantics,
    * `identical-payload-digest` profile): per payload digest, the first
    * record (min id) stays a full record; every later duplicate becomes a
    * `revisit` referring to it — the crawl-side dedupe that turns
    * re-fetched content into digest-only records. One hash-partitioned
    * window; payload bytes never join.
    */
  def markRevisits(df: DataFrame, idCol: String, payloadCol: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("fp"))
    df.select(col(idCol).as("id"), md5(col(payloadCol)).as("fp"))
      .withColumn("keeper_id", min(col("id")).over(w))
      .select(col("id"),
        when(col("id") === col("keeper_id"), "response").otherwise("revisit").as("kind"),
        when(col("id") =!= col("keeper_id"), col("keeper_id")).as("refers_to"),
        col("fp"))
  }

  /** MinHash signature: for each salt i, the lexicographic min of
    * md5(i + "|" + shingle) over the document's word-3-gram shingles.
    * Null signature when the doc has no shingle (shorter than 3 words).
    *
    * Computed in ONE scalar pass (reused MessageDigest, manual hex): the
    * Column formulation `array_min(transform(sh, md5(...)))` is a
    * CodegenFallback higher-order function costing ~60µs per hash —
    * 40× this. Output is bit-identical (lowercase hex, bytewise min).
    */
  def minhashSig(text: Column, numHashes: Int): Column =
    minhashSigUdf(TextOps.shingles(text, 3), lit(numHashes))

  private val HexDigits = "0123456789abcdef".toCharArray

  /** Fixed-width signature row (salts beyond `n` stay null). */
  final case class MinhashSig4(mh0: String, mh1: String, mh2: String, mh3: String)

  private val minhashSigUdf = udf { (sh: Seq[String], n: Int) =>
    require(n >= 1 && n <= 4, s"numHashes must be 1..4, got $n")
    if (sh == null || sh.isEmpty) MinhashSig4(null, null, null, null)
    else {
      // one pass over the shingles, all salts per shingle, and the min
      // tracked as RAW digest bytes: unsigned byte order == lowercase-hex
      // lexicographic order (two hex chars per byte, in byte order), so
      // only the per-salt WINNER converts to hex — the per-shingle
      // "$i|$s" concat + 32-char hex alloc + string compare were ~half
      // the signature pass (bit-identical output)
      val md = java.security.MessageDigest.getInstance("MD5")
      val utf8 = java.nio.charset.StandardCharsets.UTF_8
      val prefixes = Array.tabulate(n)(i => s"$i|".getBytes(utf8))
      val mins = new Array[Array[Byte]](4)
      sh.foreach { s =>
        val sb = s.getBytes(utf8)
        var i = 0
        while (i < n) {
          md.reset()
          md.update(prefixes(i))
          md.update(sb)
          val d = md.digest()
          if (mins(i) == null || java.util.Arrays.compareUnsigned(d, mins(i)) < 0)
            mins(i) = d
          i += 1
        }
      }
      def hex(d: Array[Byte]): String =
        if (d == null) null
        else {
          val out = new Array[Char](32)
          var i = 0
          while (i < 16) {
            out(i * 2) = HexDigits((d(i) >> 4) & 0xf)
            out(i * 2 + 1) = HexDigits(d(i) & 0xf)
            i += 1
          }
          new String(out)
        }
      MinhashSig4(hex(mins(0)), hex(mins(1)), hex(mins(2)), hex(mins(3)))
    }
  }

  /** Exact word-set Jaccard, milli-scaled floor (cross-engine exact). */
  private def jaccardMilli(wa: Column, wb: Column): Column =
    floor(lit(1000.0) * size(array_intersect(wa, wb)) /
      size(array_distinct(concat(wa, wb)))).cast("long")

  /** Banding signature: (id, wset, band) — band key = concat of the two
    * banding minhashes; docs with no shingle are dropped (no signature).
    * Only the banding hashes are computed — the exact Jaccard confirm does
    * the real similarity work, so extra signature salts would be wasted
    * md5 passes over every shingle.
    */
  private def bandedSig(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.select(
      col(idCol).as("id"),
      array_distinct(TextOps.words(col(textCol))).as("wset"),
      minhashSig(col(textCol), 2).as("sig"))
      .withColumn("band", concat(col("sig.mh0"), col("sig.mh1")))
      .where(col("sig.mh0").isNotNull)
      .drop("sig")

  /** MinHash + LSH near-dup candidate pairs, exact-Jaccard-confirmed.
    *
    * 1. signature per doc (narrow);
    * 2. band key = concat of the band's minhashes;
    * 3. in-band pair generation, SIZE-SPLIT for skew safety:
    *    - bands ≤ `maxGroupedBucket` members: one collect_list group —
    *      the signature pass runs once and one shuffle on band replaces a
    *      self-join's two;
    *    - oversized bands (boilerplate / near-identical short docs — the
    *      degenerate LSH case): a sort-merge self-join on the band key,
    *      which streams and spills instead of collecting one unbounded
    *      array into a single aggregation buffer (executor-OOM risk at
    *      10^10 docs);
    *    both paths emit exactly the in-band pair set, so the result is
    *    independent of the cap.
    * 4. exact word-set Jaccard confirm ≥ threshold (milli-scaled).
    *
    * The window count, the small-path groupBy, and the large-path
    * self-join all cluster on `band`, so the whole split reuses ONE
    * exchange of (band, id, wset).
    *
    * Returns (id_a, id_b, jaccard_milli) with id_a < id_b.
    */
  def minhashLsh(df: DataFrame, idCol: String, textCol: String,
                 jaccardMilliThreshold: Long,
                 maxGroupedBucket: Int = 1024): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window.partitionBy("band")
    val sized = bandedSig(df, idCol, textCol)
      .withColumn("bucket_n", count(lit(1)).over(w))
      .where(col("bucket_n") > 1)
    val small = sized.where(col("bucket_n") <= maxGroupedBucket)
    val large = sized.where(col("bucket_n") > maxGroupedBucket)
    val smallPairs = small.groupBy(col("band"))
      .agg(collect_list(struct(col("id"), col("wset"))).as("members"))
      .select(col("members"), explode(col("members")).as("a"))
      .select(col("a"), explode(col("members")).as("b"))
      .where(col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"),
        col("a.wset").as("wa"), col("b.wset").as("wb"))
    val la = large.select(col("band"), col("id").as("id_a"), col("wset").as("wa"))
    val lb = large.select(col("band"), col("id").as("id_b"), col("wset").as("wb"))
    val largePairs = la.join(lb, Seq("band"))
      .where(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"), col("wa"), col("wb"))
    smallPairs.unionByName(largePairs)
      .select(col("id_a"), col("id_b"), jaccardMilli(col("wa"), col("wb")).as("jaccard_milli"))
      .where(col("jaccard_milli") >= jaccardMilliThreshold)
      .distinct()
  }

  /** Near-dup CLUSTERING (keeper form): each doc is confirmed against its
    * band's MINIMUM-id member only, so a degenerate band of n identical
    * docs emits n-1 rows instead of n(n-1)/2 pairs — the formulation a
    * dedup pipeline actually wants at 10^10 docs (assign every duplicate
    * to a keeper, drop the rest). One window over the band exchange, no
    * collected arrays, output linear in the input.
    *
    * Returns (id, keeper_id, jaccard_milli) for confirmed non-keepers.
    */
  def minhashClusters(df: DataFrame, idCol: String, textCol: String,
                      jaccardMilliThreshold: Long): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window.partitionBy("band")
    bandedSig(df, idCol, textCol)
      .withColumn("k", min(struct(col("id"), col("wset"))).over(w))
      .where(col("id") =!= col("k.id"))
      .select(col("id"), col("k.id").as("keeper_id"),
        jaccardMilli(col("wset"), col("k.wset")).as("jaccard_milli"))
      .where(col("jaccard_milli") >= jaccardMilliThreshold)
  }

  /** SimHash (16-bit): bit j is set when, summed over all tokens, the top
    * bit of hex nibble j of md5(token) leans 1 (+1/-1 vote, strict > 0).
    * Explode + groupBy with map-side partial aggregation — one shuffle row
    * per doc.
    */
  def simhash16(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val hi = Seq("8", "9", "a", "b", "c", "d", "e", "f").map(_.asInstanceOf[Any])
    val exploded = df
      .select(col(idCol).as("id"), explode(TextOps.words(col(textCol))).as("w"))
      .withColumn("h", md5(col("w")))
    val sums = (0 until 16).map { j =>
      sum(when(substring(col("h"), j + 1, 1).isin(hi: _*), 1).otherwise(-1)).as(s"s$j")
    }
    exploded.groupBy(col("id"))
      .agg(sums.head, sums.tail: _*)
      .select(col("id"),
        (0 until 16).map(j => when(col(s"s$j") > 0, lit(1L << j)).otherwise(lit(0L)))
          .reduce(_ + _).as("simhash"))
  }

  /** N-gram Jaccard profile per document: shingle counts (total + distinct)
    * — the per-doc half of n-gram Jaccard similarity; pairwise confirm is
    * [[minhashLsh]]'s step 4.
    */
  def ngramProfile(df: DataFrame, idCol: String, textCol: String, n: Int): DataFrame = {
    val sh = TextOps.shingles(col(textCol), n)
    df.select(col(idCol).as("id"),
      size(sh).as("n_shingles"),
      size(array_distinct(sh)).as("n_distinct_shingles"))
  }
}
