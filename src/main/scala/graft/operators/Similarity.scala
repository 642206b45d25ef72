package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Similarity-search operators over embedding columns
  * (`array<float>`): exact cosine, and IVF (inverted-file) search — the
  * coarse-quantizer ANN pattern: vectors are bucketed by nearest
  * centroid; a query probes only the `nprobe` nearest centroid buckets,
  * scanning `nprobe/nClusters` of the data instead of all of it.
  *
  * At 100 TB the vector table is partitioned (or bucketed) BY the
  * cluster id, so a probe prunes partitions before any scan; centroids
  * are a broadcast dimension.
  */
object Similarity {

  /** Fused single-loop codegen kernel (functions/CosineSim) — bit-equal
    * to `dot(a,b)/(sqrt(dot(a,a))*sqrt(dot(b,b)))` with none of the
    * boxed intermediate arrays.
    */
  def cosine(a: Column, b: Column): Column =
    graft.functions.CosineSim(a, b)

  /** Per-cluster centroids: mean per dimension, returned as
    * (clusterCol, centroid: array<double>). One pass with a per-position
    * avg buffer — NO posexplode: exploding n×dim rows just to average
    * them multiplies the aggregated row count by dim and (at 5M×64)
    * starves execution memory next to a cached input; 64 narrow agg
    * buffers per group shuffle a few KB per cluster instead.
    *
    * Pass `dim` when the caller knows it (avoids an eager one-row probe
    * job at plan-construction time); with `dim` unset an empty input
    * yields an empty result instead of throwing.
    */
  def centroids(
      vecs: DataFrame, clusterCol: String, vecCol: String,
      dim: Int = -1): DataFrame = {
    val d = if (dim > 0) dim else {
      val probe = vecs.select(size(col(vecCol)).as("d")).head(1)
      if (probe.isEmpty) 0 else probe(0).getInt(0)
    }
    if (d == 0)
      return vecs.limit(0).select(col(clusterCol),
        array().cast("array<double>").as("centroid"))
    val avgs = (0 until d).map(i =>
      avg(element_at(col(vecCol), i + 1).cast("double")).as(s"_c$i"))
    vecs.groupBy(clusterCol)
      .agg(avgs.head, avgs.tail: _*)
      .select(col(clusterCol),
        array((0 until d).map(i => col(s"_c$i")): _*).as("centroid"))
  }

  /** Persisted IVF index: the centroid table cached and materialized
    * eagerly, so the searches that take it as `precomputedCentroids`
    * measure serving, not index build. At cluster scale this is a
    * written table (build job separate from query jobs); in one JVM the
    * cache entry is its image. Spark keys that entry by plan, so a
    * rebuild over the same vectors reuses it until the caller releases
    * the query's caches (`graft.core.Checkpoints.releaseAll`).
    */
  def ivfIndex(
      vecs: DataFrame, clusterCol: String, vecCol: String,
      dim: Int = -1): DataFrame = {
    val c = centroids(vecs, clusterCol, vecCol, dim).cache()
    c.count() // materialize eagerly: the build cost lands here
    c
  }

  /** IVF top-k: probe the `nprobe` clusters whose centroids are nearest
    * to the query vector, brute-force cosine only inside them, return the
    * global top-k of the probed set (orderBy+limit →
    * TakeOrderedAndProject, distributed).
    */
  def ivfSearch(
      vecs: DataFrame, clusterCol: String, vecCol: String, idCol: String,
      queryVec: Seq[Double], nprobe: Int, k: Int,
      precomputedCentroids: Option[DataFrame] = None): DataFrame = {
    val q = array(queryVec.map(lit): _*)
    val probed = precomputedCentroids
      .getOrElse(centroids(vecs, clusterCol, vecCol))
      .withColumn("c_sim", cosine(col("centroid"), q))
      .orderBy(col("c_sim").desc, col(clusterCol).asc)
      .limit(nprobe)
      .select(clusterCol)
    vecs
      .join(broadcast(probed), Seq(clusterCol), "left_semi")
      .select(col(idCol), col(clusterCol),
        cosine(col(vecCol), q).as("cos_sim"))
      .orderBy(col("cos_sim").desc, col(idCol).asc)
      .limit(k)
  }

  /** Batch IVF top-k: many query vectors served in ONE scan of the
    * vector table. Queries × centroids is a small cross product (ranked
    * per query for the nprobe clusters); the probe table broadcasts, so
    * the big table is scanned once with no shuffle until the final
    * per-query top-k — which is the mergeable bounded-state
    * [[graft.functions.TopKBy]] aggregation (k rows per partial), not a
    * window sort. `queries` must have columns (query_id, qvec).
    */
  def ivfSearchBatch(
      vecs: DataFrame, clusterCol: String, vecCol: String, idCol: String,
      queries: DataFrame, nprobe: Int, k: Int,
      precomputedCentroids: Option[DataFrame] = None,
      excludeSelf: Boolean = true): DataFrame = {
    val cents = precomputedCentroids
      .getOrElse(centroids(vecs, clusterCol, vecCol))
    val w = Window.partitionBy("query_id")
      .orderBy(col("c_sim").desc, col(clusterCol).asc)
    val probed = queries.crossJoin(cents)
      .withColumn("c_sim", cosine(col("centroid"), col("qvec")))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= nprobe)
      .select(col("query_id"), col(clusterCol), col("qvec"))
    val cand = vecs.join(broadcast(probed), Seq(clusterCol))
    val scored = (if (excludeSelf) cand.filter(col(idCol) =!= col("query_id"))
                  else cand)
      .select(col("query_id"),
        cosine(col(vecCol), col("qvec")).as("cos"), col(idCol).cast("long").as("cid"))
    val topk = udaf(new graft.functions.TopKBy(k))
    scored.groupBy("query_id")
      .agg(topk(col("cos"), col("cid")).as("top"))
      .select(col("query_id"), posexplode(col("top")).as(Seq("pos", "t")))
      .select(col("query_id"),
        (col("pos") + 1).cast("long").as("rank"),
        col("t.id").as(idCol),
        col("t.score").as("cos_sim"))
  }

  /** Sign-bit LSH bucket over the first `bits` dimensions — candidate
    * partitioning for embedding near-dup detection (single-table form;
    * the dedup path uses the banded [[graft.functions.HyperplaneBands]]).
    */
  def signBucket(v: Column, bits: Int = 8): Column =
    (0 until bits).map { i =>
      when(element_at(v, i + 1) >= 0, lit(1)).otherwise(lit(0)).cast("string")
    }.reduce(concat(_, _))

  /** Embedding-cosine near-duplicate removal: vectors whose cosine
    * similarity to a lower-id vector reaches `threshold` are dropped.
    * Candidates meet when ANY of `nBands` hyperplane-LSH bands matches
    * (one shuffle on compact (band, signature) keys — the heavy vectors
    * never travel through the self-join), then the much smaller
    * candidate set verifies with exact cosine. Multi-table banding is
    * what makes this 100 TB-safe: a single fixed-width bucket grows
    * in-bucket pairs O((n/2^bits)²); here bucket width (`bitsPerBand`)
    * bounds collision density while the union over bands keeps recall.
    */
  def embeddingDedup(
      vecs: DataFrame, idCol: String, vecCol: String,
      threshold: Double, nBands: Int = 8, bitsPerBand: Int = 16): DataFrame = {
    // cache BEFORE posexplode: otherwise projection collapse re-runs the
    // full bands×bits signature kernel once per generated band row
    val sig = vecs.select(col(idCol).as("id"), col(vecCol).as("v"))
      .withColumn("sig",
        graft.functions.HyperplaneBands(col("v"), nBands, bitsPerBand))
      .cache()
    val banded = sig.select(col("id"),
      posexplode(col("sig")).as(Seq("band", "bv")))
    val lhs = banded.select(col("band"), col("bv"), col("id").as("id_a"))
    val rhs = banded.select(col("band"), col("bv"), col("id").as("id_b"))
    val pairs = lhs.join(rhs, Seq("band", "bv"))
      .filter(col("id_a") < col("id_b"))
      .select("id_a", "id_b").distinct()
    val dupIds = pairs
      .join(sig.select(col("id").as("id_a"), col("v").as("v_a")), Seq("id_a"))
      .join(sig.select(col("id").as("id_b"), col("v").as("v_b")), Seq("id_b"))
      .filter(cosine(col("v_a"), col("v_b")) >= threshold)
      .select(col("id_b").as(idCol)).distinct()
    vecs.join(dupIds, Seq(idCol), "left_anti")
  }

  /** Exact brute-force top-k (the recall baseline for ivfSearch). */
  def bruteTopK(
      vecs: DataFrame, vecCol: String, idCol: String,
      queryVec: Seq[Double], k: Int): DataFrame = {
    val q = array(queryVec.map(lit): _*)
    vecs.select(col(idCol), cosine(col(vecCol), q).as("cos_sim"))
      .orderBy(col("cos_sim").desc, col(idCol).asc)
      .limit(k)
  }
}
