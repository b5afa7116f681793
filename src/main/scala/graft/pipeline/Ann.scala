package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Similarity search over an embedding column (`array<float>`).
  *
  * Baseline: brute-force cosine top-k (exact). Scale path: sign-bit LSH
  * bucketing so the candidate join is bucket-local, plus broadcast of the
  * (small) query side — at 100 TB the corpus side never shuffles; only the
  * query side is replicated.
  *
  * Dot products run in array order with double accumulation
  * (`zip_with` + `aggregate`) — deterministic IEEE, reproducible across
  * engines and cluster sizes.
  */
object Ann {

  /** In-order double-precision dot product of two float arrays. */
  def dot(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x.cast("double") * y.cast("double")),
      lit(0.0), (acc, v) => acc + v)

  /** L2 norm. */
  def l2norm(a: Column): Column = sqrt(dot(a, a))

  /** Cosine similarity. A zero-norm vector has no direction: its cosine
    * is the -2.0 sentinel (below any real cosine, same convention as the
    * scalar assignment loop in [[withListId]]) — the bare division would
    * THROW under this Spark build's default ANSI mode (DIVIDE_BY_ZERO)
    * and kill the whole query for one degenerate embedding.
    */
  def cosine(a: Column, b: Column): Column = {
    val denom = l2norm(a) * l2norm(b)
    when(denom === 0.0, lit(-2.0)).otherwise(dot(a, b) / denom)
  }

  /** Exact brute-force cosine top-k: for each query vector, the k nearest
    * corpus vectors (excluding itself). The query side is broadcast —
    * corpus scan stays partition-local; per-partition top-k then a final
    * k-row-per-query merge (window over a tiny intermediate).
    */
  def bruteForceTopK(corpus: DataFrame, queries: DataFrame, k: Int): DataFrame = {
    val c = corpus.select(col("vec_id").as("neighbor_id"), col("embedding").as("c_emb"))
    val q = queries.select(col("vec_id").as("query_id"), col("embedding").as("q_emb"))
    val scored = c.join(broadcast(q), col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"),
        cosine(col("q_emb"), col("c_emb")).as("cos"))
    val w = Window.partitionBy("query_id")
      .orderBy(col("cos").desc, col("neighbor_id").asc)
    scored.withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
      .select(col("query_id"), col("rank").cast("long").as("rank"), col("neighbor_id"))
  }

  /** Sign-bit LSH bucket key for band `band`: one bit per dimension in
    * the band's stride (dims band·bits .. band·bits+bits-1, value >= 0).
    * Buckets collapse the candidate space so the near-dup join is
    * bucket-local — the 100 TB-scale variant of [[bruteForceTopK]].
    */
  def signBucket(emb: Column, bits: Int, band: Int = 0): Column =
    (0 until bits).map(i =>
      when(element_at(emb, band * bits + i + 1) >= 0f, lit(1L << i)).otherwise(lit(0L)))
      .reduce(_ + _)

  /** IVF (inverted-file) coarse-quantized ANN — the list-pruned scale
    * path beside the LSH one. Corpus vectors are assigned once to their
    * highest-cosine centroid's list; a query scores only the `nProbe`
    * nearest lists and is exactly reranked inside them.
    *
    * Scale shape: assignment is a broadcast of the (small) centroid set
    * against the corpus with a partial-aggregated `max_by` per vector —
    * one narrow shuffle of (vec_id, list_id), the corpus embeddings never
    * move; search broadcasts the (query × nProbe) probe set against the
    * assigned corpus, so at 10^10 vectors only lists actually probed are
    * scored and nothing shuffles but the per-partition top-k rows.
    * Centroid-hot lists (imbalanced quantizer) would skew the probe scan;
    * production centroids come from a k-means refinement pass which
    * balances them — the quantizer here is pluggable (any
    * (centroid_id, embedding) table).
    *
    * With `nProbe` = number of centroids every list is probed and the
    * result equals [[bruteForceTopK]] exactly (tested) — the
    * accuracy/cost dial is explicit.
    */
  /** Assignment: nearest-centroid list id per vector — a broadcast
    * scalar UDF looping the (small, by construction) centroid set once
    * per row. The declarative twin (`broadcast join + max_by(struct)`)
    * measured badly: a struct-valued aggregation buffer cannot
    * hash-aggregate, so Catalyst planned a row-blowup
    * BroadcastNestedLoopJoin into a SortAggregate (extra sort + exchange
    * of corpus × centroids rows). Here the corpus stays NARROW — one
    * projection, no blowup, no shuffle. Double accumulation in array
    * order matches [[dot]] exactly; ties go to the smaller centroid id.
    */
  private def withListId(corpus: DataFrame, centroids: DataFrame): DataFrame = {
    val spark = corpus.sparkSession
    // centroid norms PRECOMPUTED into the broadcast: re-summing them
    // inside the per-row loop doubled the FLOPs of the hottest loop in
    // IVF assignment — and kmeansCentroids re-runs this every Lloyd
    // iteration
    val centArr = centroids.select(col("centroid_id").cast("long"), col("embedding"))
      .collect()
      .map { r =>
        val ce = r.getSeq[Float](1).toArray
        var cn = 0.0
        var j = 0
        while (j < ce.length) { cn += ce(j).toDouble * ce(j); j += 1 }
        (r.getLong(0), ce, math.sqrt(cn))
      }
      .sortBy(_._1)
    val bc = spark.sparkContext.broadcast(centArr)
    val assignUdf = udf((emb: Seq[Float]) => {
      val e = emb.toArray
      var en = 0.0
      var i = 0
      while (i < e.length) { en += e(i).toDouble * e(i); i += 1 }
      val enorm = math.sqrt(en)
      var bestId = -1L
      var bestCos = Double.NegativeInfinity
      for ((cid, ce, cnorm) <- bc.value) {
        var d = 0.0
        var j = 0
        while (j < e.length) { d += e(j).toDouble * ce(j); j += 1 }
        val denom = enorm * cnorm
        val cos = if (denom == 0.0) -2.0 else d / denom
        if (cos > bestCos) { bestCos = cos; bestId = cid } // first max = min id
      }
      bestId
    })
    corpus.withColumn("list_id", assignUdf(col("embedding")))
  }

  def ivfTopK(corpus: DataFrame, queries: DataFrame, centroids: DataFrame,
              k: Int, nProbe: Int): DataFrame = {
    val cents = centroids.select(col("centroid_id"), col("embedding").as("cent_emb"))
    val assigned = withListId(corpus, centroids)
      .select(col("vec_id"), col("list_id"), col("embedding").as("c_emb"))
    // probe: top-nProbe lists per query
    val pw = Window.partitionBy("query_id")
      .orderBy(col("pcos").desc, col("centroid_id").asc)
    val probes = queries.select(col("vec_id").as("query_id"), col("embedding").as("q_emb"))
      .join(broadcast(cents))
      .select(col("query_id"), col("q_emb"), col("centroid_id"),
        cosine(col("q_emb"), col("cent_emb")).as("pcos"))
      .withColumn("prank", row_number().over(pw))
      .where(col("prank") <= nProbe)
      .select(col("query_id"), col("q_emb"), col("centroid_id").as("list_id"))
    // search: exact rerank inside the probed lists only
    val w = Window.partitionBy("query_id")
      .orderBy(col("cos").desc, col("neighbor_id").asc)
    assigned.join(broadcast(probes), Seq("list_id"))
      .where(col("query_id") =!= col("vec_id"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        cosine(col("q_emb"), col("c_emb")).as("cos"))
      .withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
      .select(col("query_id"), col("rank").cast("long").as("rank"), col("neighbor_id"))
  }

  /** Element-wise mean of grouped float arrays — a typed Aggregator so
    * Lloyd iterations are partial-aggregated map-side (one shuffle row
    * per (list, partition), never an explode of dims × rows).
    */
  private class ArrayMean(dims: Int)
      extends org.apache.spark.sql.expressions.Aggregator[
        Seq[Float], (Array[Double], Long), Seq[Float]] {
    def zero: (Array[Double], Long) = (new Array[Double](dims), 0L)
    def reduce(acc: (Array[Double], Long), v: Seq[Float]): (Array[Double], Long) = {
      var i = 0
      while (i < dims) { acc._1(i) += v(i); i += 1 }
      (acc._1, acc._2 + 1)
    }
    def merge(a: (Array[Double], Long), b: (Array[Double], Long)): (Array[Double], Long) = {
      var i = 0
      while (i < dims) { a._1(i) += b._1(i); i += 1 }
      (a._1, a._2 + b._2)
    }
    def finish(acc: (Array[Double], Long)): Seq[Float] =
      if (acc._2 == 0) Seq.empty
      else acc._1.map(s => (s / acc._2).toFloat).toSeq
    def bufferEncoder = org.apache.spark.sql.Encoders.tuple(
      org.apache.spark.sql.Encoders.javaSerialization[Array[Double]],
      org.apache.spark.sql.Encoders.scalaLong)
    def outputEncoder =
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Seq[Float]]()
  }

  /** Deterministic Lloyd refinement for the IVF quantizer: initialize
    * from `init` (e.g. evenly-sampled vectors), then `iters` rounds of
    * assign (broadcast argmax, as in [[ivfTopK]]) + element-wise mean
    * per list. Empty lists keep their previous centroid (standard
    * empty-cluster fallback, deterministic). Each iteration is one
    * broadcast join + one partial-aggregated shuffle of k rows —
    * embeddings never shuffle at any scale.
    */
  def kmeansCentroids(corpus: DataFrame, init: DataFrame, iters: Int,
                      dims: Int): DataFrame = {
    val spark = corpus.sparkSession
    import spark.implicits._
    val meanUdaf = udaf(new ArrayMean(dims))
    var cents = init.select(col("centroid_id"), col("embedding"))
    var i = 0
    while (i < iters) {
      val assigned = withListId(corpus, cents)
        .select(col("list_id").as("centroid_id"), col("embedding"))
      val means = assigned.groupBy(col("centroid_id"))
        .agg(meanUdaf(col("embedding")).as("mean_emb"))
      cents = cents.join(means, Seq("centroid_id"), "left")
        .select(col("centroid_id"),
          when(col("mean_emb").isNotNull && size(col("mean_emb")) === dims,
            col("mean_emb")).otherwise(col("embedding")).as("embedding"))
        .localCheckpoint(eager = true) // truncate the iterative lineage
      i += 1
    }
    cents
  }

  /** Mean cosine of each vector to its assigned centroid — the
    * (cosine-flavored) inertia used to check Lloyd improvement.
    */
  def quantizerScoreMilli(corpus: DataFrame, centroids: DataFrame): Long = {
    val cents = centroids.select(col("centroid_id"), col("embedding").as("cent_emb"))
    val best = corpus.join(broadcast(cents))
      .groupBy(col("vec_id"))
      .agg(max(cosine(col("embedding"), col("cent_emb"))).as("best_cos"))
    best.agg(floor(avg(col("best_cos")) * 1000).cast("long")).head.getLong(0)
  }

  /** LSH-bucketed near-duplicate pairs, multi-band OR-construction:
    * candidates share ANY of `bands` sign-bit bucket keys (strided
    * 16-bit hyperoctant keys by default); confirm with exact cosine.
    *
    * Scale rationale (the round-1 version used ONE 4-bit band = 16 global
    * buckets — a disguised cross join at 10^10 rows): with 16 bits per
    * band a bucket holds ~corpus/2^16 near-identically-signed vectors, so
    * the per-bucket pair product stays tractable, and the OR over 3 bands
    * restores recall (a near-dup pair disagreeing on a few dims still
    * matches on some band). The join shuffles only
    * (band, bucket, id, embedding); each (band, bucket) cell is small.
    */
  def lshNearDupPairs(df: DataFrame, cosMilliThreshold: Long,
                      bands: Int = 3, bitsPerBand: Int = 16): DataFrame = {
    // fail fast with a DIMENSION error: signBucket reads positions up to
    // bands*bitsPerBand, and under default ANSI mode an out-of-range
    // element_at would abort the job mid-flight with an opaque
    // array-index exception instead. One-row probe (limit-1, cheap at
    // any scale) — catches the config error without scanning the table.
    df.where(col("embedding").isNotNull)
      .select(size(col("embedding"))).head(1).foreach { r =>
      val d = r.getInt(0)
      require(d >= bands * bitsPerBand,
        s"embedding dims $d < bands*bitsPerBand = ${bands * bitsPerBand}")
    }
    val bandKeys = (0 until bands).map(b =>
      struct(lit(b).as("band"), signBucket(col("embedding"), bitsPerBand, b).as("bv")))
    val keyed = df.select(col("vec_id"), col("embedding"),
        explode(array(bandKeys: _*)).as("bk"))
      .select(col("vec_id"), col("embedding"), col("bk.band").as("band"), col("bk.bv").as("bv"))
    val a = keyed.select(col("band"), col("bv"), col("vec_id").as("id_a"),
      col("embedding").as("e_a"))
    val b = keyed.select(col("band"), col("bv"), col("vec_id").as("id_b"),
      col("embedding").as("e_b"))
    a.join(b, Seq("band", "bv"))
      .where(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"),
        floor(lit(1000.0) * cosine(col("e_a"), col("e_b"))).cast("long").as("cos_milli"))
      .where(col("cos_milli") >= cosMilliThreshold)
      .distinct()
  }
}
