package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.core.Tables

/** Embedding-similarity surface over the `embeddings` table
  * (`embedding: array<float>[64]`).
  *
  * Scale notes: brute-force cosine against ONE query vector is a broadcast
  * map — linear scan, no shuffle. The bucketed variant (sign-bit LSH) is
  * the 100 TB path for all-pairs similarity: candidates only meet inside a
  * bucket, turning O(n²) into a per-bucket join after one shuffle on the
  * signature. Cosine runs through the fused codegen kernel
  * functions/CosineSim — one primitive loop per row, deterministic left
  * folds in array order, no UDF.
  */
object VectorOps {

  private def t(s: SparkSession, dir: String)(n: String): DataFrame =
    Tables.load(s, dir, n)

  /** dot(a, b) with per-element double casts; deterministic left fold. */
  /** Fused codegen kernel (functions/CosineSim): bit-identical to the
    * previous aggregate(zip_with) composition — same per-element double
    * widening, same left-fold association — at a fraction of the cost
    * (no boxed intermediate array, no lambda frames; see the
    * VectorMacroBench numbers in CLAUDE.md).
    */
  def cosine(a: Column, b: Column): Column =
    graft.functions.CosineSim(a, b)

  /** Brute-force cosine top-k against a query vector (the ANN baseline). */
  val q40KnnBrute = Q(
    "q40_knn_brute",
    (s, dir) => {
      val e = t(s, dir)("embeddings")
      val q = e.filter(col("vec_id") === 0)
        .select(col("embedding").as("query_vec"))
      val sims = e.crossJoin(broadcast(q))
        .select(col("vec_id"), col("label"),
          round(cosine(col("embedding"), col("query_vec")), 6).as(("cos_sim")))
      // top-k via TakeOrderedAndProject (distributed), rank window only
      // over the 10 survivors
      val top = sims.filter(col("vec_id") =!= 0)
        .orderBy(col("cos_sim").desc, col("vec_id").asc)
        .limit(10)
      // rank = position in TakeOrderedAndProject's single sorted output
      // partition — no global window, no WindowExec all-to-one warning;
      // the oracle's row_number cross-checks the ordering every round
      top.withColumn("rn", (monotonically_increasing_id() + 1).cast("long"))
    },
    Some("""
      WITH q AS (SELECT CAST(embedding AS DOUBLE[]) AS qv FROM embeddings WHERE vec_id = 0),
      sims AS (
        SELECT vec_id, label,
               round(list_cosine_similarity(CAST(embedding AS DOUBLE[]),
                     (SELECT qv FROM q)), 6) AS cos_sim
        FROM embeddings WHERE vec_id <> 0)
      SELECT vec_id, label, cos_sim, rn FROM (
        SELECT *, row_number() OVER (ORDER BY cos_sim DESC, vec_id ASC) AS rn
        FROM sims) WHERE rn <= 10"""),
    headline = true)

  /** Sign-bit LSH signature of the first 8 dimensions. */
  private def signBucket(v: Column): Column =
    (0 until 8).map { i =>
      when(element_at(v, i + 1) >= 0f, lit(1)).otherwise(lit(0)).cast("string")
    }.reduce(concat(_, _))

  /** LSH bucket histogram — the partitioning step of scaled ANN. */
  val q41LshBuckets = Q(
    "q41_lsh_buckets",
    (s, dir) => {
      t(s, dir)("embeddings")
        .withColumn("bucket", signBucket(col("embedding")))
        .groupBy("bucket")
        .agg(count(lit(1)).as("n_vectors"))
    },
    Some("""
      SELECT
        (CASE WHEN embedding[1] >= 0 THEN '1' ELSE '0' END)
        || (CASE WHEN embedding[2] >= 0 THEN '1' ELSE '0' END)
        || (CASE WHEN embedding[3] >= 0 THEN '1' ELSE '0' END)
        || (CASE WHEN embedding[4] >= 0 THEN '1' ELSE '0' END)
        || (CASE WHEN embedding[5] >= 0 THEN '1' ELSE '0' END)
        || (CASE WHEN embedding[6] >= 0 THEN '1' ELSE '0' END)
        || (CASE WHEN embedding[7] >= 0 THEN '1' ELSE '0' END)
        || (CASE WHEN embedding[8] >= 0 THEN '1' ELSE '0' END) AS bucket,
        count(*) AS n_vectors
      FROM embeddings GROUP BY 1"""))

  /** Bucketed nearest neighbor: best cosine match within the same LSH
    * bucket (the scaled all-pairs path; candidates meet only in-bucket).
    */
  val q42BucketedNn = Q(
    "q42_bucketed_nn",
    (s, dir) => {
      val e = t(s, dir)("embeddings")
        .withColumn("bucket", signBucket(col("embedding")))
      val a = e.select(col("bucket"), col("vec_id"), col("embedding"))
      val b = e.select(col("bucket"), col("vec_id").as("nbr_id"),
        col("embedding").as("nbr_vec"))
      val pairs = a.join(b, Seq("bucket"))
        .filter(col("vec_id") =!= col("nbr_id"))
        .select(col("vec_id"), col("nbr_id"),
          round(cosine(col("embedding"), col("nbr_vec")), 6).as("cos_sim"))
      val w = Window.partitionBy("vec_id")
        .orderBy(col("cos_sim").desc, col("nbr_id").asc)
      pairs.withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
        .select("vec_id", "nbr_id", "cos_sim")
    },
    Some("""
      WITH e AS (
        SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
          (CASE WHEN embedding[1] >= 0 THEN '1' ELSE '0' END)
          || (CASE WHEN embedding[2] >= 0 THEN '1' ELSE '0' END)
          || (CASE WHEN embedding[3] >= 0 THEN '1' ELSE '0' END)
          || (CASE WHEN embedding[4] >= 0 THEN '1' ELSE '0' END)
          || (CASE WHEN embedding[5] >= 0 THEN '1' ELSE '0' END)
          || (CASE WHEN embedding[6] >= 0 THEN '1' ELSE '0' END)
          || (CASE WHEN embedding[7] >= 0 THEN '1' ELSE '0' END)
          || (CASE WHEN embedding[8] >= 0 THEN '1' ELSE '0' END) AS bucket
        FROM embeddings),
      pairs AS (
        SELECT a.vec_id, b.vec_id AS nbr_id,
               round(list_cosine_similarity(a.v, b.v), 6) AS cos_sim
        FROM e a JOIN e b ON a.bucket = b.bucket AND a.vec_id <> b.vec_id)
      SELECT vec_id, nbr_id, cos_sim FROM (
        SELECT *, row_number() OVER (PARTITION BY vec_id
                 ORDER BY cos_sim DESC, nbr_id ASC) AS rn
        FROM pairs) WHERE rn = 1"""))

  /** Centroid assignment (one k-means step / IVF coarse quantizer):
    * per-label centroids in ONE pass (per-position avg buffers, no
    * explode), then every vector × broadcast centroid pair scored with
    * the fold cosine and top-1 selected per vector. The pipeline touches
    * n×k rows, never n×dim×k — the IVF partitioning primitive at scale
    * (centroids broadcast; vectors scanned once, arrays never unpacked
    * into rows).
    */
  val q44CentroidAssign = Q(
    "q44_centroid_assign",
    (s, dir) => {
      val e = t(s, dir)("embeddings")
      val dim = 64
      val avgs = (0 until dim).map(i =>
        round(avg(element_at(col("embedding"), i + 1).cast("double")), 6)
          .as(s"_c$i"))
      val cent = e.groupBy(col("label").as("c_label"))
        .agg(avgs.head, avgs.tail: _*)
        .select(col("c_label"),
          array((0 until dim).map(i => col(s"_c$i")): _*).as("centroid"))
      val sims = e.crossJoin(broadcast(cent))
        .select(col("vec_id"), col("c_label"),
          round(cosine(col("embedding"), col("centroid")), 6).as("cos_sim"))
      val w = Window.partitionBy("vec_id")
        .orderBy(col("cos_sim").desc, col("c_label").asc)
      sims.withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
        .select(col("vec_id"), col("c_label").as("nearest_label"))
    },
    Some("""
      WITH flat AS (
        SELECT vec_id, label, i.range AS pos,
               CAST(embedding[i.range] AS DOUBLE) AS v
        FROM embeddings, range(1, 65) i),
      cent AS (
        SELECT label AS c_label, pos, round(avg(v), 6) AS c
        FROM flat GROUP BY 1, 2),
      dots AS (
        SELECT vec_id, c_label,
               round(sum(v * c) / (sqrt(sum(v * v)) * sqrt(sum(c * c))), 6) AS cos_sim
        FROM flat JOIN cent USING (pos)
        GROUP BY 1, 2)
      SELECT vec_id, c_label AS nearest_label FROM (
        SELECT *, row_number() OVER (PARTITION BY vec_id
          ORDER BY cos_sim DESC, c_label ASC) AS rn
        FROM dots) WHERE rn = 1"""))

  /** IVF search through the real operator (Similarity.ivfSearch): probe
    * the 2 nearest label-centroids, brute-force only inside them.
    */
  val q45IvfSearch = Q(
    "q45_ivf_search",
    (s, dir) => {
      val e = t(s, dir)("embeddings")
      val qv = e.filter(col("vec_id") === 0).select(col("embedding"))
        .head().getSeq[Float](0).map(_.toDouble)
      // serving path: centroids come from the persisted index (cached
      // and materialized before the search is planned), so the query
      // measures search, not index construction
      val idx = graft.operators.Similarity
        .ivfIndex(e, "label", "embedding", dim = 64)
      graft.operators.Similarity
        .ivfSearch(e, "label", "embedding", "vec_id", qv, nprobe = 2, k = 10,
          precomputedCentroids = Some(idx))
        .withColumn("cos_sim", round(col("cos_sim"), 6))
    },
    Some("""
      WITH flat AS (
        SELECT vec_id, label, i.range AS pos,
               CAST(embedding[i.range] AS DOUBLE) AS v
        FROM embeddings, range(1, 65) i),
      q AS (SELECT pos, v FROM flat WHERE vec_id = 0),
      cent AS (SELECT label, pos, avg(v) AS c FROM flat GROUP BY 1, 2),
      csim AS (
        SELECT cent.label,
               sum(c * q.v) / (sqrt(sum(c * c)) * sqrt(sum(q.v * q.v))) AS cs
        FROM cent JOIN q USING (pos) GROUP BY 1),
      probed AS (
        SELECT label FROM (
          SELECT label, row_number() OVER (ORDER BY cs DESC, label ASC) AS rn
          FROM csim) WHERE rn <= 2),
      cand AS (
        SELECT e.vec_id, e.label,
               list_cosine_similarity(CAST(e.embedding AS DOUBLE[]),
                 (SELECT CAST(embedding AS DOUBLE[]) FROM embeddings
                  WHERE vec_id = 0)) AS raw_cos
        FROM embeddings e
        WHERE e.label IN (SELECT label FROM probed))
      SELECT vec_id, label, round(raw_cos, 6) AS cos_sim FROM (
        SELECT *, row_number() OVER (ORDER BY raw_cos DESC, vec_id ASC) AS rn
        FROM cand) WHERE rn <= 10"""),
    headline = true)

  /** Embedding-cosine near-dup dedup (Similarity.embeddingDedup): drop
    * vectors cosine-similar (>= 0.95) to a lower-id vector that share
    * ANY of 8 hyperplane-LSH bands (16 sign-bits each); count survivors
    * per label. The oracle rebuilds the EXACT signatures: ±1 weights
    * from the shared md5 recipe aggregated into ONE 64-element list per
    * (band, bit) — 128 rows — then each sign bit's double sum is folded
    * in d order via `list_reduce(list_transform(generate_series(1,64),
    * d -> ws[d]*v[d]))`: the same products in the same left-to-right
    * order as the kernel's index-order accumulation, so bit-identical
    * (a bare SQL sum() would be order-nondeterministic). This per-vector
    * form replaces an exploded nVecs×8192-row aggregate that OOM'd the
    * sf1-scale oracle (1.6B-row list() hash aggregate); `bands` is
    * MATERIALIZED because it is referenced twice in the bucket self-join.
    */
  val q46EmbeddingDedup = Q(
    "q46_embedding_dedup",
    (s, dir) => {
      val e = t(s, dir)("embeddings")
      graft.operators.Similarity
        .embeddingDedup(e, "vec_id", "embedding", threshold = 0.95,
          nBands = 8, bitsPerBand = 16)
        .groupBy("label")
        .agg(count(lit(1)).as("n_survivors"))
    },
    Some("""
      WITH e AS MATERIALIZED (
        SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v
        FROM embeddings),
      w AS (
        SELECT b.range AS b, i.range AS i, d.range AS d,
               CASE WHEN CAST('0x' || substr(md5(
                      b.range || '_' || i.range || '_' || d.range), 18, 15)
                    AS BIGINT) % 2 = 0
                    THEN 1.0 ELSE -1.0 END AS wt
        FROM range(0, 8) b, range(0, 16) i, range(0, 64) d),
      wl AS MATERIALIZED (
        SELECT b, i, list(wt ORDER BY d) AS ws FROM w GROUP BY 1, 2),
      folds AS (
        SELECT e.vec_id, wl.b, wl.i,
               list_reduce(list_prepend(0.0,
                 list_transform(generate_series(1, 64),
                                d -> wl.ws[d] * e.v[d])),
                 (a, x) -> a + x) AS s
        FROM e CROSS JOIN wl),
      bands AS MATERIALIZED (
        SELECT vec_id, b,
               CAST(sum(CASE WHEN s >= 0 THEN 1 << i ELSE 0 END) AS BIGINT) AS bv
        FROM folds GROUP BY 1, 2),
      dups AS (
        SELECT DISTINCT b2.vec_id
        FROM bands b1
        JOIN bands b2 ON b1.b = b2.b AND b1.bv = b2.bv
                     AND b1.vec_id < b2.vec_id
        JOIN e e1 ON e1.vec_id = b1.vec_id
        JOIN e e2 ON e2.vec_id = b2.vec_id
        WHERE list_cosine_similarity(e1.v, e2.v) >= 0.95)
      SELECT label, count(*) AS n_survivors
      FROM embeddings
      WHERE vec_id NOT IN (SELECT vec_id FROM dups)
      GROUP BY 1"""))

  /** Batch IVF serving (Similarity.ivfSearchBatch): three query vectors
    * answered in one scan — probe table broadcast, per-query top-5 via
    * the mergeable TopKBy aggregation.
    */
  val q70IvfBatch = Q(
    "q70_ivf_batch",
    (s, dir) => {
      val e = t(s, dir)("embeddings")
      val queries = e.filter(col("vec_id").isin(0, 1, 2))
        .select(col("vec_id").cast("long").as("query_id"),
          col("embedding").as("qvec"))
      val idx = graft.operators.Similarity
        .ivfIndex(e, "label", "embedding", dim = 64)
      graft.operators.Similarity
        .ivfSearchBatch(e, "label", "embedding", "vec_id", queries,
          nprobe = 2, k = 5, precomputedCentroids = Some(idx))
        .withColumn("cos_sim", round(col("cos_sim"), 6))
    },
    Some("""
      WITH flat AS (
        SELECT vec_id, label, i.range AS pos,
               CAST(embedding[i.range] AS DOUBLE) AS v
        FROM embeddings, range(1, 65) i),
      q AS (SELECT vec_id AS qid, pos, v FROM flat WHERE vec_id IN (0, 1, 2)),
      cent AS (SELECT label, pos, avg(v) AS c FROM flat GROUP BY 1, 2),
      csim AS (
        SELECT q.qid, cent.label,
               sum(c * q.v) / (sqrt(sum(c * c)) * sqrt(sum(q.v * q.v))) AS cs
        FROM cent JOIN q ON cent.pos = q.pos GROUP BY 1, 2),
      probed AS (
        SELECT qid, label FROM (
          SELECT qid, label,
                 row_number() OVER (PARTITION BY qid
                   ORDER BY cs DESC, label ASC) AS rn
          FROM csim) WHERE rn <= 2),
      cand AS (
        SELECT p.qid, e.vec_id,
               list_cosine_similarity(CAST(e.embedding AS DOUBLE[]),
                 (SELECT CAST(q2.embedding AS DOUBLE[]) FROM embeddings q2
                  WHERE q2.vec_id = p.qid)) AS raw_cos
        FROM embeddings e JOIN probed p ON e.label = p.label
        WHERE e.vec_id <> p.qid)
      SELECT CAST(qid AS BIGINT) AS query_id, rank,
             CAST(vec_id AS BIGINT) AS vec_id,
             round(raw_cos, 6) AS cos_sim
      FROM (
        SELECT *, CAST(row_number() OVER (PARTITION BY qid
                 ORDER BY raw_cos DESC, vec_id ASC) AS BIGINT) AS rank
        FROM cand) WHERE rank <= 5"""))

  /** The IVF partition-by-cluster LAYOUT realized (Similarity.scala's
    * documented 100 TB posture): the vector table persists
    * hive-partitioned by cluster id (Layout.partitionedView), probe
    * routing resolves the 2 nearest centroid labels (a 2-row driver
    * probe, like a vector DB's router), and the search filters on the
    * PARTITION column — so unprobed clusters are pruned at FILE LISTING,
    * before any scan task launches (PlanSpec pins listFiles counts).
    * Same semantics as q45, same oracle shape; at cluster scale this is
    * the difference between scanning nprobe/nClusters of the data and
    * scanning all of it.
    */
  val q91IvfPartitioned = Q(
    "q91_ivf_partitioned",
    (s, dir) => {
      val e = t(s, dir)("embeddings")
      val qv = e.filter(col("vec_id") === 0).select(col("embedding"))
        .head().getSeq[Float](0).map(_.toDouble)
      val q = array(qv.map(lit): _*)
      val idx = graft.operators.Similarity
        .ivfIndex(e, "label", "embedding", dim = 64)
      val probedLabels = idx
        .withColumn("c_sim", graft.operators.Similarity.cosine(col("centroid"), q))
        .orderBy(col("c_sim").desc, col("label").asc)
        .limit(2).select("label").collect().map(_.getInt(0))
      val path = new java.io.File(sys.props("java.io.tmpdir"),
        "graft_ivf_part_" + Integer.toHexString(dir.hashCode)).getAbsolutePath
      val parted = graft.sources.Layout.partitionedView(
        e.select(col("vec_id"), col("embedding"), col("label")), path, "label")
      parted
        .filter(col("label").isin(probedLabels.map(Integer.valueOf): _*))
        .select(col("vec_id"), col("label"),
          round(graft.operators.Similarity.cosine(col("embedding"), q), 6)
            .as("cos_sim"))
        .orderBy(col("cos_sim").desc, col("vec_id").asc)
        .limit(10)
    },
    Some("""
      WITH flat AS (
        SELECT vec_id, label, i.range AS pos,
               CAST(embedding[i.range] AS DOUBLE) AS v
        FROM embeddings, range(1, 65) i),
      q AS (SELECT pos, v FROM flat WHERE vec_id = 0),
      cent AS (SELECT label, pos, avg(v) AS c FROM flat GROUP BY 1, 2),
      csim AS (
        SELECT cent.label,
               sum(c * q.v) / (sqrt(sum(c * c)) * sqrt(sum(q.v * q.v))) AS cs
        FROM cent JOIN q USING (pos) GROUP BY 1),
      probed AS (
        SELECT label FROM (
          SELECT label, row_number() OVER (ORDER BY cs DESC, label ASC) AS rn
          FROM csim) WHERE rn <= 2),
      cand AS (
        SELECT e.vec_id, e.label,
               list_cosine_similarity(CAST(e.embedding AS DOUBLE[]),
                 (SELECT CAST(embedding AS DOUBLE[]) FROM embeddings
                  WHERE vec_id = 0)) AS raw_cos
        FROM embeddings e
        WHERE e.label IN (SELECT label FROM probed))
      SELECT vec_id, label, round(raw_cos, 6) AS cos_sim FROM (
        SELECT *, row_number() OVER (ORDER BY raw_cos DESC, vec_id ASC) AS rn
        FROM cand) WHERE rn <= 10"""))

  /** SQ8 scalar-quantized ANN — the 8× compression path a 100 TB vector
    * store actually runs (int8 codes in memory, floats only for the
    * final rerank): per-dimension global min/max (one 64-row aggregate,
    * collected like a dim probe and folded into the plan as literals),
    * codes = round((v - mn) * 255 / (mx - mn)) ∈ [0, 255], search runs
    * cosine over the DEQUANTIZED codes. The oracle replicates the exact
    * arithmetic shape — same subtraction/multiply/divide order, positive
    * domain so Spark HALF_UP and DuckDB half-away-from-zero agree — so
    * codes, reconstructions, and the top-k are all bit-gated, not just
    * "close". Output deliberately carries the code checksum so a single
    * flipped code anywhere in the table fails the hash.
    */
  val q105Sq8Ann = Q(
    "q105_sq8_ann",
    (s, dir) => {
      val e = t(s, dir)("embeddings")
      // per-dimension stats: 64 rows — a dim probe, not a data collect
      val stats = e.select(posexplode(col("embedding")).as(Seq("d", "v")))
        .groupBy("d").agg(min(col("v").cast("double")).as("mn"),
          max(col("v").cast("double")).as("mx"))
        .orderBy("d").collect()
      val mnArr = array(stats.map(r => lit(r.getDouble(1))).toIndexedSeq: _*)
      val spanArr = array(
        stats.map(r => lit(r.getDouble(2) - r.getDouble(1))).toIndexedSeq: _*)
      def codes(emb: Column): Column =
        zip_with(zip_with(emb, mnArr, (v, mn) => v.cast("double") - mn),
          spanArr, (dv, sp) =>
            when(sp === 0.0, 0.0).otherwise(round(dv * lit(255.0) / sp)))
      def dequant(cs: Column): Column =
        zip_with(zip_with(cs, spanArr, (c, sp) => c * sp / lit(255.0)),
          mnArr, (x, mn) => x + mn)
      val coded = e.select(col("vec_id"), codes(col("embedding")).as("cs"))
      val q = coded.filter(col("vec_id") === 0)
        .select(dequant(col("cs")).as("qv"))
      coded.filter(col("vec_id") =!= 0)
        .crossJoin(broadcast(q))
        .select(col("vec_id"),
          aggregate(col("cs"), lit(0.0), (a, c) => a + c).as("code_sum"),
          round(cosine(dequant(col("cs")), col("qv")), 6).as("cos_sim"))
        .orderBy(col("cos_sim").desc, col("vec_id").asc)
        .limit(10)
    },
    Some("""
      WITH ex AS (
        SELECT vec_id,
               unnest(embedding) AS v,
               unnest(generate_series(1, len(embedding))) AS d
        FROM embeddings),
      st AS (
        SELECT d, min(CAST(v AS DOUBLE)) AS mn,
               max(CAST(v AS DOUBLE)) - min(CAST(v AS DOUBLE)) AS sp
        FROM ex GROUP BY d),
      mn_a AS (SELECT list(mn ORDER BY d) AS mn FROM st),
      sp_a AS (SELECT list(sp ORDER BY d) AS sp FROM st),
      coded AS (
        SELECT e.vec_id,
               [CASE WHEN sp_a.sp[d] = 0 THEN 0.0
                     ELSE round((CAST(e.embedding[d] AS DOUBLE) - mn_a.mn[d])
                                * 255.0 / sp_a.sp[d]) END
                for d in generate_series(1, len(e.embedding))] AS cs
        FROM embeddings e, mn_a, sp_a),
      deq AS (
        SELECT vec_id,
               [cs[d] * sp_a.sp[d] / 255.0 + mn_a.mn[d]
                for d in generate_series(1, len(cs))] AS rv,
               cs
        FROM coded, mn_a, sp_a),
      q AS (SELECT rv AS qv FROM deq WHERE vec_id = 0),
      sims AS (
        SELECT d.vec_id,
               list_sum(d.cs) AS code_sum,
               round(list_sum([d.rv[i] * q.qv[i]
                               for i in generate_series(1, len(d.rv))])
                     / (sqrt(list_sum([d.rv[i] * d.rv[i]
                                       for i in generate_series(1, len(d.rv))]))
                        * sqrt(list_sum([q.qv[i] * q.qv[i]
                                         for i in generate_series(1, len(q.qv))]))),
                     6) AS cos_sim
        FROM deq d, q WHERE d.vec_id <> 0)
      SELECT vec_id, code_sum, cos_sim
      FROM sims ORDER BY cos_sim DESC, vec_id ASC LIMIT 10"""))

  /** A REAL quantized-MLP artifact through the batch-inference seam
    * (operators/QuantMlp.scala — the r16 verdict item: embedWithModel
    * had only carried a stand-in): the query SAVES the weight artifact,
    * each task's open() PARSES it back (the actual model lifecycle),
    * and the batched integer GEMM produces exact-integer embeddings the
    * oracle replays via SQL GENERATED from the same weight arrays
    * (never-hand-copy). Quantization floor(x*1024) is IEEE-exact on
    * both engines (q166 recipe); every output is < 2^30 so the Long ->
    * Double -> BIGINT path is lossless.
    */
  val q213QuantMlpEmbed = Q(
    "q213_quant_mlp_embed",
    (s, dir) => {
      import graft.operators.{Multimodal, QuantMlp, QuantMlpEmbedder}
      val net = QuantMlp.pseudo()
      val path = new java.io.File(
        new java.io.File(sys.props("java.io.tmpdir")),
        "graft_qmlp_" + java.lang.Long.toHexString(
          dir.hashCode.toLong & 0xffffffffL) + ".bin").getAbsolutePath
      net.save(path) // safe: Verify runs queries sequentially (q81 rule)
      val feats = t(s, dir)("embeddings")
        .select(col("vec_id").as("media_id"),
          expr("transform(embedding, x -> cast(x as double))").as("features"))
      val emb = Multimodal.embedWithModel(feats, QuantMlpEmbedder(path))
      emb.select(col("media_id").as("vec_id") +:
        (0 until net.nOut).map(o =>
          element_at(col("emb"), o + 1).cast("long").as(s"e$o")): _*)
    },
    Some {
      val net = graft.operators.QuantMlp.pseudo()
      val outs = (0 until net.nOut)
        .map(o => graft.operators.QuantMlp.oracleExpr(net, o, "xq") +
          s" AS e$o")
        .mkString(",\n             ")
      """
      WITH q AS (
        SELECT vec_id,
               list_transform(embedding,
                 x -> CAST(floor(CAST(x AS DOUBLE) * 1024) AS BIGINT)) AS xq
        FROM embeddings)
      SELECT vec_id,
             """ + outs + """
      FROM q"""
    })

  val qs: Seq[Q] = Seq(q40KnnBrute, q41LshBuckets, q42BucketedNn,
    q44CentroidAssign, q45IvfSearch, q46EmbeddingDedup, q70IvfBatch,
    q91IvfPartitioned, q105Sq8Ann, q144SemDedup, q152SemDedupGuarded,
    q153SemDedupIncremental, q157PqAdc, q159KmeansParInit, q160Ivfpq,
    q166PcaPower, q181EmbeddingDrift, q213QuantMlpEmbed)

  /** SemDeDup-style embedding-cluster dedup (Abbas et al. 2023): Lloyd's
    * k-means — warm-started from the label centroids (q44's init) and
    * iterated with MERGEABLE per-cluster aggregation — then cosine
    * near-dup removal ONLY within final clusters, so the quadratic stage
    * is bounded by cluster size, never corpus size (the whole point of
    * the method at 100 TB). Near-dups are planted whole-vector ×2 copies
    * (vec_id+1e6; ×2 is exponent-exact in float, so each copy sits at
    * cosine exactly 1 by scale invariance); a removed vector is one with
    * a smaller-id same-cluster neighbor at cosine >= 0.95.
    *
    * Cross-engine determinism is EXACT, not rounding-masked: vectors are
    * quantized to integers (round((x+2)·1e4)−2e4, positive-domain per the
    * q105 half-mode rule), the "centroid" is the per-dimension integer
    * SUM (cosine is scale-invariant, so cos(v, mean) ≡ cos(v, sum) — no
    * division, no inexact mean), and every dot/norm accumulates exact
    * longs, which are order-independent at ANY shuffle order. The only
    * float ops are one cast + sqrt + divide per (row, centroid) — a fixed
    * IEEE sequence on bit-identical inputs in both engines. Bounds: |vq|
    * ≤ 1.1e4, so pair dots ≤ 7e9, centroid sums ≤ 1.1e4·n, and Σc² fits
    * a long for cluster sizes up to ~5e4 (gate SFs are ≪ that; the macro
    * uses its own closed-form float construction). The oracle replays
    * both Lloyd iterations and the in-cluster pair scan in SQL over the
    * same parquet with the same integer arithmetic.
    */
  def semDedup(base: DataFrame): DataFrame = {
    val dim = 64
    val planted = base.filter(col("vec_id") % 10 === 0).select(
      (col("vec_id") + 1000000L).as("vec_id"),
      // ×2 is exponent-exact in float: a planted copy at cosine 1
      transform(col("embedding"), x => x * lit(2.0f)).as("embedding"),
      col("label"))
    // fused unboxed integer dot (functions/DotLong) — identical exact
    // sums to the aggregate(zip_with) form, minus the boxing (the
    // MinhashSignature lesson; DotLongSpec pins the equality)
    val longDot = (a: Column, b: Column) => graft.functions.DotLong(a, b)
    val e = base.select("vec_id", "embedding", "label")
      .unionByName(planted)
      .select(col("vec_id"), col("label"),
        transform(col("embedding"), x =>
          (round((x.cast("double") + lit(2.0)) * lit(10000.0), 0)
            - lit(20000.0)).cast("long")).as("vq"))
      .withColumn("vv", longDot(col("vq"), col("vq")))
      .cache()
    def centroids(assigned: DataFrame, clCol: String): DataFrame = {
      val sums = (0 until dim).map(i =>
        sum(element_at(col("vq"), i + 1)).as(s"_c$i"))
      assigned.groupBy(col(clCol).as("cl"))
        .agg(sums.head, sums.tail: _*)
        .select(col("cl"),
          array((0 until dim).map(i => col(s"_c$i")): _*).as("centroid"))
        .withColumn("cc", longDot(col("centroid"), col("centroid")))
    }
    def assign(cent: DataFrame): DataFrame = {
      val w = Window.partitionBy("vec_id")
        .orderBy(col("cos_sim").desc, col("cl").asc)
      e.crossJoin(broadcast(cent))
        .select(col("vec_id"), col("vq"), col("vv"), col("cl"),
          (longDot(col("vq"), col("centroid")).cast("double")
            / (sqrt(col("vv").cast("double")) * sqrt(col("cc").cast("double"))))
            .as("cos_sim"))
        .withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
        .select("vec_id", "vq", "vv", "cl")
    }
    val a1 = assign(centroids(e, "label"))
    // consumed three times (both pair-join sides + the final join);
    // without the cache both Lloyd rounds re-execute per consumer
    val a2 = assign(centroids(a1, "cl")).cache()
    val dups = a2.as("a").join(a2.as("b"),
        col("a.cl") === col("b.cl") && col("a.vec_id") < col("b.vec_id"))
      .filter(longDot(col("a.vq"), col("b.vq")).cast("double")
        / (sqrt(col("a.vv").cast("double")) * sqrt(col("b.vv").cast("double")))
        >= 0.95)
      .select(col("b.vec_id").as("vec_id")).distinct()
    a2.join(dups.withColumn("is_dup", lit(1L)), Seq("vec_id"), "left")
      .select(col("vec_id"), col("cl"),
        coalesce(col("is_dup"), lit(0L)).as("is_dup"))
  }

  lazy val q144SemDedup = Q(
    "q144_semdedup",
    (s, dir) => semDedup(t(s, dir)("embeddings")),
    Some("""
      WITH aug AS (
        SELECT vec_id, embedding, label FROM embeddings
        UNION ALL
        SELECT vec_id + 1000000, list_transform(embedding, x -> x * 2), label
        FROM embeddings WHERE vec_id % 10 = 0),
      qz AS (
        SELECT vec_id, label,
               [CAST(round((CAST(x AS DOUBLE) + 2) * 10000) - 20000 AS BIGINT)
                for x in embedding] AS vq
        FROM aug),
      flat AS (
        SELECT vec_id, label, i.range AS pos, vq[i.range] AS v
        FROM qz, range(1, 65) i),
      vv AS (SELECT vec_id, CAST(sum(v*v) AS BIGINT) AS vv FROM flat GROUP BY 1),
      cent0 AS (SELECT label AS cl, pos, CAST(sum(v) AS BIGINT) AS c
                FROM flat GROUP BY 1, 2),
      cc0 AS (SELECT cl, CAST(sum(c*c) AS BIGINT) AS cc FROM cent0 GROUP BY 1),
      dot0 AS (SELECT f.vec_id, c0.cl, CAST(sum(f.v * c0.c) AS BIGINT) AS dot
               FROM flat f JOIN cent0 c0 USING (pos) GROUP BY 1, 2),
      a1 AS (
        SELECT vec_id, cl FROM (
          SELECT d.vec_id, d.cl, row_number() OVER (PARTITION BY d.vec_id
                   ORDER BY CAST(d.dot AS DOUBLE)
                            / (sqrt(CAST(vv.vv AS DOUBLE)) * sqrt(CAST(cc0.cc AS DOUBLE)))
                            DESC, d.cl ASC) AS rn
          FROM dot0 d JOIN vv USING (vec_id) JOIN cc0 ON cc0.cl = d.cl)
        WHERE rn = 1),
      cent1 AS (SELECT cl, pos, CAST(sum(v) AS BIGINT) AS c
                FROM flat JOIN a1 USING (vec_id) GROUP BY 1, 2),
      cc1 AS (SELECT cl, CAST(sum(c*c) AS BIGINT) AS cc FROM cent1 GROUP BY 1),
      dot1 AS (SELECT f.vec_id, c1.cl, CAST(sum(f.v * c1.c) AS BIGINT) AS dot
               FROM flat f JOIN cent1 c1 USING (pos) GROUP BY 1, 2),
      a2 AS (
        SELECT vec_id, cl FROM (
          SELECT d.vec_id, d.cl, row_number() OVER (PARTITION BY d.vec_id
                   ORDER BY CAST(d.dot AS DOUBLE)
                            / (sqrt(CAST(vv.vv AS DOUBLE)) * sqrt(CAST(cc1.cc AS DOUBLE)))
                            DESC, d.cl ASC) AS rn
          FROM dot1 d JOIN vv USING (vec_id) JOIN cc1 ON cc1.cl = d.cl)
        WHERE rn = 1),
      pd AS (
        SELECT a.vec_id AS ai, b.vec_id AS bi,
               CAST(list_dot_product(CAST(qa.vq AS DOUBLE[]),
                                     CAST(qb.vq AS DOUBLE[])) AS BIGINT) AS dot
        FROM a2 a JOIN a2 b ON a.cl = b.cl AND a.vec_id < b.vec_id
        JOIN qz qa ON qa.vec_id = a.vec_id
        JOIN qz qb ON qb.vec_id = b.vec_id),
      dups AS (
        SELECT DISTINCT pd.bi AS vec_id
        FROM pd JOIN vv va ON va.vec_id = pd.ai
        JOIN vv vb ON vb.vec_id = pd.bi
        WHERE CAST(pd.dot AS DOUBLE)
              / (sqrt(CAST(va.vv AS DOUBLE)) * sqrt(CAST(vb.vv AS DOUBLE))) >= 0.95)
      SELECT a2.vec_id, cl,
             CAST(CASE WHEN d.vec_id IS NULL THEN 0 ELSE 1 END AS BIGINT) AS is_dup
      FROM a2 LEFT JOIN dups d ON a2.vec_id = d.vec_id"""),
    headline = true)

  /** q144's SemDeDup with the round-11 SKEW GUARD + broadcast-argmax
    * assignment, both exercised cross-engine:
    *
    *  - Lloyd assignment runs through functions/ArgmaxCosine (broadcast
    *    centroid index, Elkan-pruned off the warm start — no n×k row
    *    explosion, no per-vector window shuffle), and
    *  - the in-cluster pair scan runs through SemDedup.dupsWithinClusters:
    *    clusters over `sizeCap` are sub-bucketed by banded hyperplane LSH
    *    so candidates meet on compact (cluster, band, sig) keys — the
    *    guard that keeps one boilerplate mega-cluster from degrading the
    *    job to O(m²). The input keeps labels 0/1 at ~5 members (≤ cap →
    *    all-pairs path) and labels 2-9 full-size (> cap → banded path),
    *    so BOTH branches are gate-covered at every SF.
    *
    * Cross-engine determinism: vectors quantize to INTEGER-VALUED
    * DOUBLES (round((x+2)·1e4)−2e4 — the q105 positive-domain rule), so
    * every sum the query takes — centroid per-dim sums, |v|², pair and
    * centroid dots, hyperplane plane sums (±1 weights) — is a sum of
    * integers with magnitude ≪ 2^53: EXACT and order-independent in
    * both engines, no fold-order protocol needed. The only float ops
    * are the final sqrt/divide per cosine — a fixed IEEE sequence on
    * bit-identical inputs — and the ≥0 sign tests on exact integers.
    * Hyperplane weights are the md5-derived ±1 recipe the q46 oracle
    * already rebuilds (HyperplaneBands.signs: md5("b_i_d") low-60-bits
    * parity), bands=4 × bits=8.
    */
  lazy val q152SemDedupGuarded = Q(
    "q152_semdedup_guarded",
    (s, dir) => {
      import graft.operators.SemDedup
      val dim = 64
      val filt = t(s, dir)("embeddings")
        .filter(col("label") >= 2 || col("vec_id") % 20 === 0)
      val planted = filt.filter(col("vec_id") % 10 === 0).select(
        (col("vec_id") + 1000000L).as("vec_id"),
        transform(col("embedding"), x => x * lit(2.0f)).as("embedding"),
        col("label"))
      val e = filt.select("vec_id", "embedding", "label")
        .unionByName(planted)
        .select(col("vec_id"), col("label"),
          transform(col("embedding"), x =>
            round((x.cast("double") + lit(2.0)) * lit(10000.0), 0)
              - lit(20000.0)).as("vq"))
        .cache()
      def centroids(assigned: DataFrame, clCol: String): DataFrame = {
        val sums = (0 until dim).map(i =>
          sum(element_at(col("vq"), i + 1)).as(s"_c$i"))
        assigned.groupBy(col(clCol).cast("long").as("cl"))
          .agg(sums.head, sums.tail: _*)
          .select(col("cl"),
            array((0 until dim).map(i => col(s"_c$i")): _*).as("centroid"))
      }
      def assignOnce(cent: DataFrame, prev: DataFrame, prevCol: Column): DataFrame =
        SemDedup.assign(prev.withColumn("prev", prevCol.cast("long")),
            col("vq"), col("prev"), SemDedup.collectIndex(cent, "cl", "centroid"))
          .select("vec_id", "vq", "cl")
      val a1 = assignOnce(centroids(e, "label"), e, col("label"))
      val a2 = assignOnce(centroids(a1, "cl"), a1, col("cl"))
      val dups = SemDedup.dupsWithinClusters(a2, "vec_id", "vq", "cl",
        threshold = 0.95, sizeCap = 40, bands = 4, bits = 8)
      a2.join(dups.withColumnRenamed("dup_id", "vec_id")
            .withColumn("is_dup", lit(1L)), Seq("vec_id"), "left")
        .select(col("vec_id"), col("cl"),
          coalesce(col("is_dup"), lit(0L)).as("is_dup"))
    },
    Some("""
      WITH aug AS (
        SELECT vec_id, embedding, label FROM embeddings
        WHERE label >= 2 OR vec_id % 20 = 0
        UNION ALL
        SELECT vec_id + 1000000, list_transform(embedding, x -> x * 2), label
        FROM embeddings WHERE (label >= 2 OR vec_id % 20 = 0) AND vec_id % 10 = 0),
      qz AS (
        SELECT vec_id, label,
               [round((CAST(x AS DOUBLE) + 2) * 10000) - 20000
                for x in embedding] AS vq
        FROM aug),
      flat AS (
        SELECT vec_id, label, i.range AS pos, vq[i.range] AS v
        FROM qz, range(1, 65) i),
      vv AS (SELECT vec_id, sum(v*v) AS vv FROM flat GROUP BY 1),
      cent0 AS (SELECT CAST(label AS BIGINT) AS cl, pos, sum(v) AS c
                FROM flat GROUP BY 1, 2),
      cc0 AS (SELECT cl, sum(c*c) AS cc FROM cent0 GROUP BY 1),
      dot0 AS (SELECT f.vec_id, c0.cl, sum(f.v * c0.c) AS dot
               FROM flat f JOIN cent0 c0 USING (pos) GROUP BY 1, 2),
      a1 AS (
        SELECT vec_id, cl FROM (
          SELECT d.vec_id, d.cl, row_number() OVER (PARTITION BY d.vec_id
                   ORDER BY d.dot / (sqrt(vv.vv) * sqrt(cc0.cc)) DESC,
                            d.cl ASC) AS rn
          FROM dot0 d JOIN vv USING (vec_id) JOIN cc0 ON cc0.cl = d.cl)
        WHERE rn = 1),
      cent1 AS (SELECT cl, pos, sum(v) AS c
                FROM flat JOIN a1 USING (vec_id) GROUP BY 1, 2),
      cc1 AS (SELECT cl, sum(c*c) AS cc FROM cent1 GROUP BY 1),
      dot1 AS (SELECT f.vec_id, c1.cl, sum(f.v * c1.c) AS dot
               FROM flat f JOIN cent1 c1 USING (pos) GROUP BY 1, 2),
      a2 AS (
        SELECT vec_id, cl FROM (
          SELECT d.vec_id, d.cl, row_number() OVER (PARTITION BY d.vec_id
                   ORDER BY d.dot / (sqrt(vv.vv) * sqrt(cc1.cc)) DESC,
                            d.cl ASC) AS rn
          FROM dot1 d JOIN vv USING (vec_id) JOIN cc1 ON cc1.cl = d.cl)
        WHERE rn = 1),
      szs AS (SELECT cl, count(*) AS n FROM a2 GROUP BY 1),
      w AS (SELECT b.range AS b, i.range AS i, d.range AS d,
               CASE WHEN CAST('0x' || substr(md5(b.range || '_' || i.range
                                || '_' || d.range), 18, 15) AS BIGINT) % 2 = 0
                    THEN 1.0 ELSE -1.0 END AS wt
            FROM range(0, 4) b, range(0, 8) i, range(0, 64) d),
      planes AS (SELECT f.vec_id, w.b, w.i, sum(w.wt * f.v) AS s
                 FROM flat f JOIN w ON w.d = f.pos - 1 GROUP BY 1, 2, 3),
      sigs AS (SELECT vec_id, b,
                 bit_or(CASE WHEN s >= 0 THEN (CAST(1 AS BIGINT) << i)
                             ELSE CAST(0 AS BIGINT) END) AS sig
               FROM planes GROUP BY 1, 2),
      smallp AS (
        SELECT a.vec_id AS ai, b.vec_id AS bi
        FROM a2 a JOIN a2 b ON a.cl = b.cl AND a.vec_id < b.vec_id
        JOIN szs ON szs.cl = a.cl WHERE szs.n <= 40),
      bigp AS (
        SELECT DISTINCT a.vec_id AS ai, b.vec_id AS bi
        FROM a2 a JOIN a2 b ON a.cl = b.cl AND a.vec_id < b.vec_id
        JOIN szs ON szs.cl = a.cl
        JOIN sigs sa ON sa.vec_id = a.vec_id
        JOIN sigs sb ON sb.vec_id = b.vec_id AND sa.b = sb.b AND sa.sig = sb.sig
        WHERE szs.n > 40),
      cand AS (SELECT ai, bi FROM smallp UNION SELECT ai, bi FROM bigp),
      pd AS (SELECT c.ai, c.bi, list_dot_product(qa.vq, qb.vq) AS dot
             FROM cand c
             JOIN qz qa ON qa.vec_id = c.ai
             JOIN qz qb ON qb.vec_id = c.bi),
      dups AS (
        SELECT DISTINCT pd.bi AS vec_id
        FROM pd JOIN vv va ON va.vec_id = pd.ai
        JOIN vv vb ON vb.vec_id = pd.bi
        WHERE pd.dot / (sqrt(va.vv) * sqrt(vb.vv)) >= 0.95)
      SELECT a2.vec_id, cl,
             CAST(CASE WHEN d.vec_id IS NULL THEN 0 ELSE 1 END AS BIGINT) AS is_dup
      FROM a2 LEFT JOIN dups d ON a2.vec_id = d.vec_id"""))

  /** INCREMENTAL SemDeDup — the daily-ingest shape for embeddings,
    * mirroring q116's posture for documents: a DELTA of new vectors is
    * assigned to PERSISTED centroids (functions/ArgmaxCosine over the
    * broadcast index — the assignment never touches the corpus) and
    * near-dup-checked ONLY against its assigned cluster's PERSISTED
    * members, read from a bucketed-on-`cl` index table so the corpus
    * side never re-shuffles at match time (the delta shuffles TO the
    * index's bucketing; PlanSpec pins zero Exchange on the index side).
    * Delta-internal dups use the same smaller-id rule within the
    * assigned cluster. Planted ×2 copies of corpus vectors ride in the
    * delta as guaranteed near-dups.
    *
    * Cross-engine determinism is the q152 integer-double regime: every
    * sum is exact and order-independent, assignment and the 0.95 tests
    * are fixed IEEE sequences on bit-identical inputs.
    */
  lazy val q153SemDedupIncremental = Q(
    "q153_semdedup_incremental",
    (s, dir) => {
      import graft.operators.SemDedup
      val dim = 64
      val emb = t(s, dir)("embeddings")
      def quant(c: Column): Column = transform(c, x =>
        round((x.cast("double") + lit(2.0)) * lit(10000.0), 0) - lit(20000.0))
      val corpus = emb.filter(col("vec_id") % 5 =!= 0)
        .select(col("vec_id"), col("label").cast("long").as("cl"),
          quant(col("embedding")).as("vq"))
      val delta = emb.filter(col("vec_id") % 5 === 0)
        .select(col("vec_id"), col("label"), col("embedding"))
        .unionByName(emb
          .filter(col("vec_id") % 5 =!= 0 && col("vec_id") % 10 === 1)
          .select((col("vec_id") + 1000000L).as("vec_id"), col("label"),
            transform(col("embedding"), x => x * lit(2.0f)).as("embedding")))
        .select(col("vec_id"), col("label"), quant(col("embedding")).as("vq"))
      // persisted centroids: exact per-dim integer sums by corpus label
      val sums = (0 until dim).map(i =>
        sum(element_at(col("vq"), i + 1)).as(s"_c$i"))
      val cent = corpus.groupBy(col("cl")).agg(sums.head, sums.tail: _*)
        .select(col("cl"),
          array((0 until dim).map(i => col(s"_c$i")): _*).as("centroid"))
      val idx = SemDedup.collectIndex(cent, "cl", "centroid")
      // persisted member index, bucketed on cl: at match time only the
      // delta moves; the corpus rows sit in their buckets
      val h = Integer.toHexString(dir.hashCode)
      val index = graft.sources.Layout.bucketedTable(corpus,
        s"graft_semdedup_idx_$h",
        s"${sys.props("java.io.tmpdir")}/graft_semdedup_idx_$h", 8, "cl")
        .select(col("cl"), col("vq").as("vq_c"))
      val asg = SemDedup.assign(
          delta.withColumn("prev", col("label").cast("long")),
          col("vq"), col("prev"), idx)
        .select(col("vec_id"), col("vq"), col("cl"))
      val vsCorpus = asg.join(index, Seq("cl"))
        .filter(cosine(col("vq"), col("vq_c")) >= 0.95)
        .select("vec_id").distinct()
      val vsDelta = asg.as("a").join(asg.as("b"),
          col("a.cl") === col("b.cl") && col("a.vec_id") < col("b.vec_id"))
        .filter(cosine(col("a.vq"), col("b.vq")) >= 0.95)
        .select(col("b.vec_id").as("vec_id")).distinct()
      asg.join(vsCorpus.union(vsDelta).distinct().withColumn("is_dup", lit(1L)),
          Seq("vec_id"), "left")
        .select(col("vec_id"), col("cl"),
          coalesce(col("is_dup"), lit(0L)).as("is_dup"))
    },
    Some("""
      WITH corpus AS (
        SELECT vec_id, embedding, label FROM embeddings WHERE vec_id % 5 <> 0),
      delta AS (
        SELECT vec_id, embedding, label FROM embeddings WHERE vec_id % 5 = 0
        UNION ALL
        SELECT vec_id + 1000000, list_transform(embedding, x -> x * 2), label
        FROM corpus WHERE vec_id % 10 = 1),
      qzc AS (
        SELECT vec_id, CAST(label AS BIGINT) AS cl,
               [round((CAST(x AS DOUBLE) + 2) * 10000) - 20000
                for x in embedding] AS vq
        FROM corpus),
      qzd AS (
        SELECT vec_id, label,
               [round((CAST(x AS DOUBLE) + 2) * 10000) - 20000
                for x in embedding] AS vq
        FROM delta),
      flatc AS (
        SELECT vec_id, cl, i.range AS pos, vq[i.range] AS v
        FROM qzc, range(1, 65) i),
      flatd AS (
        SELECT vec_id, i.range AS pos, vq[i.range] AS v
        FROM qzd, range(1, 65) i),
      vvc AS (SELECT vec_id, sum(v*v) AS vv FROM flatc GROUP BY 1),
      vvd AS (SELECT vec_id, sum(v*v) AS vv FROM flatd GROUP BY 1),
      cent AS (SELECT cl, pos, sum(v) AS c FROM flatc GROUP BY 1, 2),
      cc AS (SELECT cl, sum(c*c) AS cc FROM cent GROUP BY 1),
      dotc AS (SELECT f.vec_id, c0.cl, sum(f.v * c0.c) AS dot
               FROM flatd f JOIN cent c0 USING (pos) GROUP BY 1, 2),
      asg AS (
        SELECT vec_id, cl FROM (
          SELECT d.vec_id, d.cl, row_number() OVER (PARTITION BY d.vec_id
                   ORDER BY d.dot / (sqrt(vvd.vv) * sqrt(cc.cc)) DESC,
                            d.cl ASC) AS rn
          FROM dotc d JOIN vvd USING (vec_id) JOIN cc ON cc.cl = d.cl)
        WHERE rn = 1),
      pdc AS (SELECT a.vec_id, m.vec_id AS mid,
                     list_dot_product(qd.vq, m.vq) AS dot
              FROM asg a JOIN qzc m ON m.cl = a.cl
              JOIN qzd qd ON qd.vec_id = a.vec_id),
      dup1 AS (
        SELECT DISTINCT pdc.vec_id
        FROM pdc JOIN vvd ON vvd.vec_id = pdc.vec_id
        JOIN vvc ON vvc.vec_id = pdc.mid
        WHERE pdc.dot / (sqrt(vvd.vv) * sqrt(vvc.vv)) >= 0.95),
      pdd AS (SELECT a.vec_id AS ai, b.vec_id AS bi,
                     list_dot_product(qa.vq, qb.vq) AS dot
              FROM asg a JOIN asg b ON a.cl = b.cl AND a.vec_id < b.vec_id
              JOIN qzd qa ON qa.vec_id = a.vec_id
              JOIN qzd qb ON qb.vec_id = b.vec_id),
      dup2 AS (
        SELECT DISTINCT pdd.bi AS vec_id
        FROM pdd JOIN vvd va ON va.vec_id = pdd.ai
        JOIN vvd vb ON vb.vec_id = pdd.bi
        WHERE pdd.dot / (sqrt(va.vv) * sqrt(vb.vv)) >= 0.95),
      dups AS (SELECT vec_id FROM dup1 UNION SELECT vec_id FROM dup2)
      SELECT asg.vec_id, cl,
             CAST(CASE WHEN d.vec_id IS NULL THEN 0 ELSE 1 END AS BIGINT) AS is_dup
      FROM asg LEFT JOIN dups d ON asg.vec_id = d.vec_id"""))

  /** Product-quantization ANN (Jégou, Douze, Schmid 2011 — the PQ/ADC
    * half of IVFADC, the standard billion-vector scale path): vectors
    * split into M=8 subspaces of 8 dims; per subspace a K=16 codebook
    * (deterministic seeds = vec_id 1..16's subvectors, refined by ONE
    * exact-integer Lloyd step); each vector stored as 8 codeword ids
    * (4 bits each — 32× compression of the 64-float payload); search is
    * Asymmetric Distance Computation: the query precomputes an M×K
    * table of exact squared-L2 distances to every codeword, and a DB
    * vector's approximate distance is the sum of 8 table lookups —
    * never a full-vector scan at query time.
    *
    * Exactness is the q144 integer pattern end to end: quantized long
    * vectors, squared-L2 via the fused [[graft.functions.SqDistLong]]
    * kernel (integer sums are order-independent — no fold protocol
    * needed), codeword refinement uses the half-up positive-domain
    * integer mean ((2·sum+n) div (2·n), the q128 overview rounding),
    * and argmin ties break on codeword id. The only doubles are the
    * final exact-cosine re-rank column (CosineSim, the q40 precedent).
    * Plan shape: codebooks and the ADC table broadcast (M×K=128 rows);
    * assignment is a broadcast join + map-side partial min_by groupBy
    * on the compact (vec_id, m) key — the fan-out×K rows never shuffle.
    */
  lazy val q157PqAdc = Q(
    "q157_pq_adc",
    (s, dir) => {
      val M = 8; val ds = 8; val K = 16
      val e = t(s, dir)("embeddings")
      val vq = e.select(col("vec_id"),
        transform(col("embedding"), x =>
          (round((x.cast("double") + lit(2.0)) * lit(10000.0), 0)
            - lit(20000.0)).cast("long")).as("v"))
        .cache()
      val sub = vq.select(col("vec_id"), explode(array((0 until M).map(m =>
          struct(lit(m).as("m"), slice(col("v"), m * ds + 1, ds).as("sv"))): _*)).as("s"))
        .select(col("vec_id"), col("s.m").as("m"), col("s.sv").as("sv"))
        .cache()
      val cb0 = sub.filter(col("vec_id").between(1, K))
        .select(col("m"), col("vec_id").cast("int").as("j"), col("sv").as("cw"))
      def assign(src: DataFrame, cb: DataFrame): DataFrame =
        src.join(broadcast(cb), Seq("m"))
          .withColumn("dist", graft.functions.SqDistLong(col("sv"), col("cw")))
          .groupBy("vec_id", "m")
          .agg(min_by(col("j"), struct(col("dist"), col("j"))).as("j"))
      // one exact-integer Lloyd step: per-dim half-up integer means
      val memd = assign(sub, cb0).join(sub, Seq("vec_id", "m"))
        .select(col("m"), col("j"), posexplode(col("sv")).as(Seq("i", "x")))
      val aggd = memd.groupBy("m", "j", "i")
        .agg(sum("x").as("sx"), count(lit(1)).as("n"))
        .withColumn("c", expr("((sx + 20000 * n) * 2 + n) div (2 * n) - 20000"))
      val cw1 = aggd.groupBy("m", "j")
        .agg(transform(array_sort(collect_list(struct(col("i"), col("c")))),
          p => p.getField("c")).as("cw1"))
      val cb1 = cb0.join(cw1, Seq("m", "j"), "left")
        .select(col("m"), col("j"), coalesce(col("cw1"), col("cw")).as("cw"))
      val codes = assign(sub.filter(col("vec_id") =!= 0), cb1)
      val tq = sub.filter(col("vec_id") === 0)
        .join(broadcast(cb1), Seq("m"))
        .select(col("m"), col("j"),
          graft.functions.SqDistLong(col("sv"), col("cw")).as("tdist"))
      val adc = codes.join(broadcast(tq), Seq("m", "j"))
        .groupBy("vec_id").agg(sum("tdist").as("adc_dist"))
      val qv = e.filter(col("vec_id") === 0).select(col("embedding").as("qe"))
      adc.orderBy(col("adc_dist").asc, col("vec_id").asc).limit(10)
        .join(e.select(col("vec_id"), col("embedding")), Seq("vec_id"))
        .crossJoin(broadcast(qv))
        .select(col("vec_id"), col("adc_dist"),
          round(cosine(col("embedding"), col("qe")), 6).as("cos_sim"))
    },
    Some("""
      WITH vq AS (
        SELECT vec_id,
               [CAST(round((CAST(embedding[d] AS DOUBLE) + 2) * 10000, 0) AS BIGINT) - 20000
                for d in generate_series(1, len(embedding))] AS v
        FROM embeddings),
      sub AS (
        SELECT vec_id, m, v[m*8+1 : m*8+8] AS sv
        FROM vq CROSS JOIN (SELECT unnest(generate_series(0, 7)) AS m)),
      cb0 AS (
        SELECT m, CAST(vec_id AS INT) AS j, sv AS cw
        FROM sub WHERE vec_id BETWEEN 1 AND 16),
      d0 AS (
        SELECT s.vec_id, s.m, c.j,
               list_sum([(s.sv[i] - c.cw[i]) * (s.sv[i] - c.cw[i])
                         for i in generate_series(1, 8)]) AS dist
        FROM sub s JOIN cb0 c ON s.m = c.m),
      a0 AS (
        SELECT vec_id, m, j FROM (
          SELECT *, row_number() OVER (PARTITION BY vec_id, m
                                       ORDER BY dist, j) AS rn FROM d0)
        WHERE rn = 1),
      memd AS (
        SELECT a.m, a.j, i, s.sv[i] AS x
        FROM a0 a JOIN sub s ON s.vec_id = a.vec_id AND s.m = a.m
        CROSS JOIN (SELECT unnest(generate_series(1, 8)) AS i)),
      aggd AS (
        SELECT m, j, i, CAST(sum(x) AS BIGINT) AS sx,
               CAST(count(*) AS BIGINT) AS n
        FROM memd GROUP BY 1, 2, 3),
      cw1 AS (
        SELECT m, j,
               list(((sx + 20000 * n) * 2 + n) // (2 * n) - 20000 ORDER BY i) AS cw1
        FROM aggd GROUP BY 1, 2),
      cb1 AS (
        SELECT c.m, c.j, coalesce(w.cw1, c.cw) AS cw
        FROM cb0 c LEFT JOIN cw1 w ON c.m = w.m AND c.j = w.j),
      d1 AS (
        SELECT s.vec_id, s.m, c.j,
               list_sum([(s.sv[i] - c.cw[i]) * (s.sv[i] - c.cw[i])
                         for i in generate_series(1, 8)]) AS dist
        FROM sub s JOIN cb1 c ON s.m = c.m
        WHERE s.vec_id <> 0),
      codes AS (
        SELECT vec_id, m, j FROM (
          SELECT *, row_number() OVER (PARTITION BY vec_id, m
                                       ORDER BY dist, j) AS rn FROM d1)
        WHERE rn = 1),
      tq AS (
        SELECT c.m, c.j,
               list_sum([(s.sv[i] - c.cw[i]) * (s.sv[i] - c.cw[i])
                         for i in generate_series(1, 8)]) AS tdist
        FROM sub s JOIN cb1 c ON s.m = c.m WHERE s.vec_id = 0),
      adc AS (
        SELECT k.vec_id, CAST(sum(t.tdist) AS BIGINT) AS adc_dist
        FROM codes k JOIN tq t ON k.m = t.m AND k.j = t.j
        GROUP BY 1),
      top AS (SELECT vec_id, adc_dist FROM adc ORDER BY adc_dist, vec_id LIMIT 10)
      SELECT t.vec_id, t.adc_dist,
             round(list_cosine_similarity(CAST(e.embedding AS DOUBLE[]),
                   (SELECT CAST(embedding AS DOUBLE[]) FROM embeddings
                    WHERE vec_id = 0)), 6) AS cos_sim
      FROM top t JOIN embeddings e ON e.vec_id = t.vec_id"""))

  /** k-means|| scalable initialization (Bahmani, Moseley, Vattani, Kumar,
    * Vassilvitskii — VLDB 2012): the distributed seeding that makes the
    * q144/q152 k-means family self-contained at 100 TB (no label warm
    * start, no sequential k-means++ over the corpus). Each of `rounds`
    * passes computes every point's exact min squared distance to the
    * current candidate set (broadcast — candidates are O(l·rounds)
    * w.h.p., the algorithm's whole point) and "samples" points with
    * probability l·d²/φ — DERANDOMIZED as a hash threshold: accept iff
    * (md5Hash64(vec_id || '_r') mod 1024)·φ < l·d²·1024, the same
    * md5-derived coin both engines can replay exactly (q85's split
    * recipe). Candidates are then weighted by nearest-assignment counts
    * and reduced to k centers by weighted farthest-point traversal on
    * the driver (a bounded collect, like BPE's winning pair; ties break
    * on candidate id). Quantized-long vectors + SqDistLong keep every
    * distance, φ, and score an exact integer — order-independent at any
    * shuffle order; magnitudes: d² ≤ 64·(4·10⁴)² ≈ 10¹¹, φ ≤ n·10¹¹,
    * (mod)·φ ≤ 1023·2·10¹⁴ ≈ 2·10¹⁷ < 2⁶³. The oracle unrolls both
    * sampling rounds and the k=4 farthest-point picks as CTE stages.
    */
  lazy val q159KmeansParInit = Q(
    "q159_kmeanspar_init",
    (s, dir) => {
      val M = 1024L; val l = 16L; val rounds = 2; val k = 4
      val e = t(s, dir)("embeddings")
      val vq = e.select(col("vec_id"),
        transform(col("embedding"), x =>
          (round((x.cast("double") + lit(2.0)) * lit(10000.0), 0)
            - lit(20000.0)).cast("long")).as("v"))
        .cache()
      def sq(a: Column, b: Column) = graft.functions.SqDistLong(a, b)
      var cands = vq.filter(col("vec_id") === 0)
        .select(col("vec_id").as("cid"), col("v").as("cv"))
      for (r <- 1 to rounds) {
        val dmin = vq.crossJoin(broadcast(cands))
          .select(col("vec_id"), sq(col("v"), col("cv")).as("d2"))
          .groupBy("vec_id").agg(min("d2").as("d2"))
        val phi = dmin.agg(sum("d2").as("phi"))
        val accepted = dmin.crossJoin(broadcast(phi))
          .filter(
            pmod(graft.operators.Dedup.md5Hash64(
              concat(col("vec_id").cast("string"), lit("_" + r))), lit(M))
              * col("phi") < lit(l) * col("d2") * lit(M))
          .select("vec_id")
        cands = cands.unionByName(
          vq.join(accepted, Seq("vec_id"))
            .select(col("vec_id").as("cid"), col("v").as("cv")))
      }
      val best = vq.crossJoin(broadcast(cands))
        .select(col("vec_id"), col("cid"), sq(col("v"), col("cv")).as("d2"))
        .groupBy("vec_id").agg(min(struct(col("d2"), col("cid"))).as("m"))
        .select(col("vec_id"), col("m.cid").as("cid"))
      val weights = best.groupBy("cid").agg(count(lit(1)).as("w"))
      val cw = weights.join(cands, Seq("cid"))
        .select(col("cid"), col("w"), col("cv"))
        .collect()
        .map(r0 => (r0.getLong(0), r0.getLong(1), r0.getSeq[Long](2).toArray))
        .sortBy(_._1)
      def sqArr(a: Array[Long], b: Array[Long]): Long = {
        var s0 = 0L; var i = 0
        while (i < a.length) { val d = a(i) - b(i); s0 += d * d; i += 1 }
        s0
      }
      var chosen = Vector(cw.maxBy(c => (c._2, -c._1)))
      while (chosen.size < k) {
        val next = cw.filter(c => !chosen.exists(_._1 == c._1))
          .map(c => (c, c._2 * chosen.map(ch => sqArr(c._3, ch._3)).min))
          .maxBy { case (c, score) => (score, -c._1) }
        chosen = chosen :+ next._1
      }
      import s.implicits._
      val chosenDf = chosen.map(c => (c._1, c._3)).toDF("cid", "cv")
      val fin = vq.crossJoin(broadcast(chosenDf))
        .select(col("vec_id"), col("cid"), sq(col("v"), col("cv")).as("d2"))
        .groupBy("vec_id").agg(min(struct(col("d2"), col("cid"))).as("m"))
        .select(col("m.cid").as("cid"), col("m.d2").as("d2"))
      fin.groupBy("cid").agg(count(lit(1)).as("n_assigned"),
          sum("d2").as("cost"))
        .join(weights, Seq("cid"))
        .select(col("cid"), col("w"), col("n_assigned"), col("cost"))
    },
    Some("""
      WITH vq AS (
        SELECT vec_id,
               [CAST(round((CAST(embedding[d] AS DOUBLE) + 2) * 10000, 0) AS BIGINT) - 20000
                for d in generate_series(1, len(embedding))] AS v
        FROM embeddings),
      c0 AS (SELECT vec_id AS cid, v AS cv FROM vq WHERE vec_id = 0),
      dm1 AS (
        SELECT q.vec_id, q.v,
               min(CAST(list_sum([(q.v[i] - c.cv[i]) * (q.v[i] - c.cv[i])
                                  for i in generate_series(1, 64)]) AS BIGINT)) AS d2
        FROM vq q CROSS JOIN c0 c GROUP BY 1, 2),
      phi1 AS (SELECT CAST(sum(d2) AS BIGINT) AS phi FROM dm1),
      acc1 AS (
        SELECT vec_id FROM dm1, phi1
        WHERE (CAST('0x' || substr(md5(CAST(vec_id AS VARCHAR) || '_1'), 18, 15)
                 AS BIGINT) % 1024) * phi < 16 * d2 * 1024),
      c1 AS (SELECT * FROM c0 UNION ALL
             SELECT q.vec_id AS cid, q.v AS cv FROM vq q JOIN acc1 a ON q.vec_id = a.vec_id),
      dm2 AS (
        SELECT q.vec_id, q.v,
               min(CAST(list_sum([(q.v[i] - c.cv[i]) * (q.v[i] - c.cv[i])
                                  for i in generate_series(1, 64)]) AS BIGINT)) AS d2
        FROM vq q CROSS JOIN c1 c GROUP BY 1, 2),
      phi2 AS (SELECT CAST(sum(d2) AS BIGINT) AS phi FROM dm2),
      acc2 AS (
        SELECT vec_id FROM dm2, phi2
        WHERE (CAST('0x' || substr(md5(CAST(vec_id AS VARCHAR) || '_2'), 18, 15)
                 AS BIGINT) % 1024) * phi < 16 * d2 * 1024),
      c2 AS (SELECT * FROM c1 UNION ALL
             SELECT q.vec_id AS cid, q.v AS cv FROM vq q JOIN acc2 a ON q.vec_id = a.vec_id),
      bd AS (
        SELECT q.vec_id, c.cid,
               CAST(list_sum([(q.v[i] - c.cv[i]) * (q.v[i] - c.cv[i])
                              for i in generate_series(1, 64)]) AS BIGINT) AS d2
        FROM vq q CROSS JOIN c2 c),
      best AS (
        SELECT vec_id, cid FROM (
          SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY d2, cid) AS rn
          FROM bd) WHERE rn = 1),
      w AS (SELECT cid, CAST(count(*) AS BIGINT) AS w FROM best GROUP BY 1),
      cw AS (SELECT w.cid, w.w, c.cv FROM w JOIN c2 c ON w.cid = c.cid),
      s1 AS (SELECT cid, cv FROM cw ORDER BY w DESC, cid LIMIT 1),
      d2s AS (
        SELECT cw.cid, cw.cv, cw.w,
               min(CAST(list_sum([(cw.cv[i] - s.cv[i]) * (cw.cv[i] - s.cv[i])
                                  for i in generate_series(1, 64)]) AS BIGINT)) AS md
        FROM cw CROSS JOIN s1 s
        WHERE cw.cid NOT IN (SELECT cid FROM s1)
        GROUP BY 1, 2, 3),
      s2 AS (SELECT cid, cv FROM d2s ORDER BY w * md DESC, cid LIMIT 1),
      ch2 AS (SELECT * FROM s1 UNION ALL SELECT * FROM s2),
      d3s AS (
        SELECT cw.cid, cw.cv, cw.w,
               min(CAST(list_sum([(cw.cv[i] - s.cv[i]) * (cw.cv[i] - s.cv[i])
                                  for i in generate_series(1, 64)]) AS BIGINT)) AS md
        FROM cw CROSS JOIN ch2 s
        WHERE cw.cid NOT IN (SELECT cid FROM ch2)
        GROUP BY 1, 2, 3),
      s3 AS (SELECT cid, cv FROM d3s ORDER BY w * md DESC, cid LIMIT 1),
      ch3 AS (SELECT * FROM ch2 UNION ALL SELECT * FROM s3),
      d4s AS (
        SELECT cw.cid, cw.cv, cw.w,
               min(CAST(list_sum([(cw.cv[i] - s.cv[i]) * (cw.cv[i] - s.cv[i])
                                  for i in generate_series(1, 64)]) AS BIGINT)) AS md
        FROM cw CROSS JOIN ch3 s
        WHERE cw.cid NOT IN (SELECT cid FROM ch3)
        GROUP BY 1, 2, 3),
      s4 AS (SELECT cid, cv FROM d4s ORDER BY w * md DESC, cid LIMIT 1),
      ch4 AS (SELECT * FROM ch3 UNION ALL SELECT * FROM s4),
      fb AS (
        SELECT q.vec_id, c.cid,
               CAST(list_sum([(q.v[i] - c.cv[i]) * (q.v[i] - c.cv[i])
                              for i in generate_series(1, 64)]) AS BIGINT) AS d2
        FROM vq q CROSS JOIN ch4 c),
      fbest AS (
        SELECT vec_id, cid, d2 FROM (
          SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY d2, cid) AS rn
          FROM fb) WHERE rn = 1)
      SELECT f.cid, w.w, CAST(count(*) AS BIGINT) AS n_assigned,
             CAST(sum(f.d2) AS BIGINT) AS cost
      FROM fbest f JOIN w ON f.cid = w.cid
      GROUP BY f.cid, w.w"""))

  /** IVFADC — the full Jégou et al. composition and the shape every
    * billion-vector ANN service deploys: coarse inverted lists (integer-
    * mean label centroids, the q44 routing) partition the corpus; PQ
    * codes are trained on RESIDUALS (vector − its list centroid, the
    * detail PQ must capture once the coarse part is factored out); a
    * query probes its nprobe=2 nearest lists, builds one per-list ADC
    * table from the per-list query residual, and scans only those
    * lists' codes — table lookups over nprobe/k of the corpus, never a
    * full-vector pass. Exactness: the q157 integer pattern (quantized
    * longs, SqDistLong, half-up integer coarse means, argmin ties to
    * smaller codeword/label ids); output attaches the exact integer L2
    * of the shortlist so re-ranking is visible in the gate. Codebook =
    * seed residual subvectors of vec_id 1..16 (training is q157's
    * gated step; routing+residual+per-list-ADC is what THIS query
    * gates). Plan: coarse table, probe pair, codebook, and both ADC
    * tables broadcast; encode is the broadcast-join + min_by partial
    * agg on compact (vec_id, m) keys.
    */
  lazy val q160Ivfpq = Q(
    "q160_ivfpq",
    (s, dir) => {
      val M = 8; val ds = 8; val K = 16; val nprobe = 2
      val e = t(s, dir)("embeddings")
      val vq = e.select(col("vec_id"), col("label").cast("long").as("label"),
        transform(col("embedding"), x =>
          (round((x.cast("double") + lit(2.0)) * lit(10000.0), 0)
            - lit(20000.0)).cast("long")).as("v"))
        .cache()
      // coarse centroids: per-label per-dim half-up integer means
      val coarse = vq.select(col("label"), posexplode(col("v")).as(Seq("i", "x")))
        .groupBy("label", "i")
        .agg(sum("x").as("sx"), count(lit(1)).as("n"))
        .withColumn("c", expr("((sx + 20000 * n) * 2 + n) div (2 * n) - 20000"))
        .groupBy("label")
        .agg(transform(array_sort(collect_list(struct(col("i"), col("c")))),
          p => p.getField("c")).as("cv"))
      val q0 = vq.filter(col("vec_id") === 0)
        .select(col("v").as("qv"))
      // probe: nprobe nearest coarse lists
      val probed = coarse.crossJoin(broadcast(q0))
        .select(col("label"), col("cv"),
          graft.functions.SqDistLong(col("qv"), col("cv")).as("cd"))
        .orderBy(col("cd").asc, col("label").asc).limit(nprobe)
        .select(col("label"), col("cv"))
      // residuals (all vectors — the index is global)
      val res = vq.join(broadcast(coarse), Seq("label"))
        .select(col("vec_id"), col("label"),
          zip_with(col("v"), col("cv"), (a, b) => a - b).as("r"))
      val sub = res.select(col("vec_id"), col("label"),
          explode(array((0 until M).map(m =>
            struct(lit(m).as("m"), slice(col("r"), m * ds + 1, ds).as("sv"))): _*))
            .as("s"))
        .select(col("vec_id"), col("label"), col("s.m").as("m"),
          col("s.sv").as("sv"))
      val cb = sub.filter(col("vec_id").between(1, K))
        .select(col("m"), col("vec_id").cast("int").as("j"), col("sv").as("cw"))
      val codes = sub.filter(col("vec_id") =!= 0)
        .join(broadcast(cb), Seq("m"))
        .withColumn("dist", graft.functions.SqDistLong(col("sv"), col("cw")))
        .groupBy("vec_id", "label", "m")
        .agg(min_by(col("j"), struct(col("dist"), col("j"))).as("j"))
      // per-probed-list ADC tables from the per-list query residual
      val qres = probed.crossJoin(broadcast(q0))
        .select(col("label"),
          zip_with(col("qv"), col("cv"), (a, b) => a - b).as("qr"))
      val tables = qres.crossJoin(broadcast(cb))
        .select(col("label"), col("m"), col("j"),
          graft.functions.SqDistLong(
            slice(col("qr"), col("m") * ds + 1, lit(ds)), col("cw")).as("tdist"))
      val adc = codes.join(broadcast(tables), Seq("label", "m", "j"))
        .groupBy("vec_id", "label").agg(sum("tdist").as("adc_dist"))
      val short = adc.orderBy(col("adc_dist").asc, col("vec_id").asc).limit(10)
      short.join(vq.select(col("vec_id"), col("v")), Seq("vec_id"))
        .crossJoin(broadcast(q0))
        .select(col("vec_id"), col("label"), col("adc_dist"),
          graft.functions.SqDistLong(col("v"), col("qv")).as("d2_exact"))
    },
    Some("""
      WITH vq AS (
        SELECT vec_id, CAST(label AS BIGINT) AS label,
               [CAST(round((CAST(embedding[d] AS DOUBLE) + 2) * 10000, 0) AS BIGINT) - 20000
                for d in generate_series(1, len(embedding))] AS v
        FROM embeddings),
      cd AS (
        SELECT label, i, CAST(sum(x) AS BIGINT) AS sx, CAST(count(*) AS BIGINT) AS n
        FROM (SELECT label, unnest(v) AS x,
                     unnest(generate_series(1, len(v))) AS i FROM vq)
        GROUP BY 1, 2),
      coarse AS (
        SELECT label,
               list(((sx + 20000 * n) * 2 + n) // (2 * n) - 20000 ORDER BY i) AS cv
        FROM cd GROUP BY 1),
      q0 AS (SELECT v AS qv FROM vq WHERE vec_id = 0),
      probed AS (
        SELECT c.label, c.cv
        FROM coarse c, q0
        ORDER BY CAST(list_sum([(q0.qv[i] - c.cv[i]) * (q0.qv[i] - c.cv[i])
                                for i in generate_series(1, 64)]) AS BIGINT),
                 c.label
        LIMIT 2),
      res AS (
        SELECT q.vec_id, q.label,
               [q.v[i] - c.cv[i] for i in generate_series(1, 64)] AS r
        FROM vq q JOIN coarse c ON q.label = c.label),
      sub AS (
        SELECT vec_id, label, m, r[m*8+1 : m*8+8] AS sv
        FROM res CROSS JOIN (SELECT unnest(generate_series(0, 7)) AS m)),
      cb AS (
        SELECT m, CAST(vec_id AS INT) AS j, sv AS cw
        FROM sub WHERE vec_id BETWEEN 1 AND 16),
      dall AS (
        SELECT s.vec_id, s.label, s.m, c.j,
               CAST(list_sum([(s.sv[i] - c.cw[i]) * (s.sv[i] - c.cw[i])
                              for i in generate_series(1, 8)]) AS BIGINT) AS dist
        FROM sub s JOIN cb c ON s.m = c.m
        WHERE s.vec_id <> 0),
      codes AS (
        SELECT vec_id, label, m, j FROM (
          SELECT *, row_number() OVER (PARTITION BY vec_id, m
                                       ORDER BY dist, j) AS rn FROM dall)
        WHERE rn = 1),
      qres AS (
        SELECT p.label,
               [q0.qv[i] - p.cv[i] for i in generate_series(1, 64)] AS qr
        FROM probed p, q0),
      tables_ AS (
        SELECT r.label, c.m, c.j,
               CAST(list_sum([(r.qr[c.m*8 + i] - c.cw[i]) * (r.qr[c.m*8 + i] - c.cw[i])
                              for i in generate_series(1, 8)]) AS BIGINT) AS tdist
        FROM qres r CROSS JOIN cb c),
      adc AS (
        SELECT k.vec_id, k.label, CAST(sum(t.tdist) AS BIGINT) AS adc_dist
        FROM codes k JOIN tables_ t
          ON k.label = t.label AND k.m = t.m AND k.j = t.j
        GROUP BY 1, 2),
      short AS (
        SELECT vec_id, label, adc_dist FROM adc
        ORDER BY adc_dist, vec_id LIMIT 10)
      SELECT s.vec_id, s.label, s.adc_dist,
             CAST(list_sum([(v.v[i] - q0.qv[i]) * (v.v[i] - q0.qv[i])
                            for i in generate_series(1, 64)]) AS BIGINT) AS d2_exact
      FROM short s JOIN vq v ON v.vec_id = s.vec_id, q0"""))

  /** DuckDB replay of q166's 8 power-iteration rounds, generated so the
    * unrolled CTE chain stays in lockstep with the Scala loop. `m` and
    * `comps` are multi-referenced → AS MATERIALIZED (the 50-round BPE
    * oracle lesson: CTE inlining compounds per round).
    */
  /** CTE chain computing the q166 power iteration for one (optionally
    * filtered) vector population; `sfx` suffixes every CTE name so two
    * chains can share one WITH clause (q181).
    */
  private def pcaCtes(sfx: String, where: String): String = {
    val head = s"""
      q$sfx AS MATERIALIZED (
        SELECT vec_id,
               [CAST(floor(CAST(x AS DOUBLE) * 64) AS BIGINT)
                for x in embedding] AS qv
        FROM embeddings $where),
      idx$sfx AS (SELECT unnest(generate_series(1, 64)) AS j),
      comps$sfx AS MATERIALIZED (
        SELECT vec_id, j, qv[j] AS qj FROM q$sfx, idx$sfx),
      sums$sfx AS (SELECT j, sum(qj) AS s FROM comps$sfx GROUP BY j),
      nrow$sfx AS (SELECT count(*) AS n FROM q$sfx),
      gram$sfx AS (
        SELECT a.j AS j, b.j AS k, sum(a.qj * b.qj) AS g
        FROM comps$sfx a JOIN comps$sfx b ON a.vec_id = b.vec_id
        GROUP BY a.j, b.j),
      m0$sfx AS (
        SELECT g.j, g.k, nrow$sfx.n * g.g - sa.s * sb.s AS m
        FROM gram$sfx g JOIN sums$sfx sa ON sa.j = g.j
        JOIN sums$sfx sb ON sb.j = g.k CROSS JOIN nrow$sfx),
      dm$sfx AS (SELECT greatest(CAST(1 AS HUGEINT),
                             max(abs(m)) // 4294967296) AS dv FROM m0$sfx),
      m$sfx AS MATERIALIZED (
        SELECT j, k,
               CASE WHEN m0$sfx.m < 0 THEN -((-m0$sfx.m) // dm$sfx.dv)
                    ELSE m0$sfx.m // dm$sfx.dv END AS m
        FROM m0$sfx, dm$sfx),
      x0$sfx AS (SELECT j AS k, CAST(1 AS HUGEINT) AS xv FROM idx$sfx)"""
    val rounds = (1 to 8).map { r =>
      val prev = if (r == 1) s"x0$sfx" else s"x${r - 1}$sfx"
      s""",
      y$r$sfx AS (SELECT m$sfx.j, sum(m$sfx.m * $prev.xv) AS y
              FROM m$sfx JOIN $prev ON m$sfx.k = $prev.k GROUP BY m$sfx.j),
      d$r$sfx AS (SELECT greatest(CAST(1 AS HUGEINT),
                                  max(abs(y)) // 1024) AS dv
              FROM y$r$sfx),
      x$r$sfx AS (SELECT j AS k,
                     CASE WHEN y < 0 THEN -((-y) // dv) ELSE y // dv END AS xv
              FROM y$r$sfx, d$r$sfx)"""
    }.mkString
    head + rounds
  }

  private def pcaOracleSql: String =
    "WITH " + pcaCtes("", "") + """
      SELECT c.vec_id, CAST(sum(c.qj * x8.xv) AS BIGINT) AS proj
      FROM comps c JOIN x8 ON c.j = x8.k
      GROUP BY c.vec_id"""

  /** Distributed PCA top component by exact-integer power iteration —
    * the whitening/decorrelation primitive behind OPQ rotations and
    * embedding-drift monitoring. Components quantize to floor(x·2⁶)
    * (×2⁶ is exact in IEEE, floor is cross-engine), then ONE pass of the
    * mergeable [[graft.functions.GramAgg]] reduces the corpus to a
    * fixed-size [n | Σq | qqᵀ upper triangle] buffer — the 100 TB shape:
    * bounded state, map-side partials, a single-row collect (the same
    * bounded-collect class as the BPE winning pair). The d×d covariance
    * (scaled by n²: n·G − S·Sᵀ, exact longs) is pre-scaled by a
    * deterministic trunc-div so 8 driver-side power-iteration rounds
    * (renormalized each round by another exact trunc-div rule) stay in
    * long range at ANY corpus size; every vector is then projected onto
    * the broadcast integer direction. All sums are order-independent
    * exact integers, so the oracle's unrolled-CTE replay is bit-equal.
    */
  lazy val q166PcaPower = Q(
    "q166_pca_power",
    (s, dir) => {
      val d = 64
      val qdf = t(s, dir)("embeddings").select(col("vec_id"), expr(
        "transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) * 64) AS BIGINT))")
        .as("qv"))
      val buf = qdf.select(graft.functions.GramAgg(d)(col("qv")).as("b"))
        .head().getSeq[Long](0).toArray
      val x = graft.operators.PcaPower.topComponent(buf, d)
      val xLit = array(x.toSeq.map(lit(_)): _*)
      qdf.select(col("vec_id"),
        aggregate(zip_with(col("qv"), xLit, (a, b) => a * b),
          lit(0L), (acc, v) => acc + v).as("proj"))
    },
    Some(pcaOracleSql),
    headline = true)

  /** Embedding-distribution DRIFT between two corpus slices — the
    * monitoring primitive for "did the embedding space move between
    * releases / days": each half's top principal direction (one grouped
    * GramAgg pass computes BOTH halves' buffers in a single scan), then
    * the squared cosine between the two integer directions as an exact
    * scaled fraction ((x·y)²·10⁶ div (|x|²·|y|²), BigInt on the driver,
    * HUGEINT in the oracle — no floats anywhere). cos²≈1 ⇒ the dominant
    * axis is stable; a drop flags drift. The oracle replays both
    * suffixed 8-round power-iteration chains in one WITH clause.
    */
  lazy val q181EmbeddingDrift = Q(
    "q181_embedding_drift",
    (s, dir) => {
      val d = 64
      val qdf = t(s, dir)("embeddings").select(
        (col("vec_id") % 2).as("half"),
        expr("transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) * 64) AS BIGINT))")
          .as("qv"))
      val bufs = qdf.groupBy("half")
        .agg(graft.functions.GramAgg(d)(col("qv")).as("b"))
        .collect().map(r => r.getLong(0) -> r.getSeq[Long](1).toArray).toMap
      val xa = graft.operators.PcaPower.topComponent(bufs(0L), d)
      val xb = graft.operators.PcaPower.topComponent(bufs(1L), d)
      val dot = (0 until d).map(i => BigInt(xa(i)) * BigInt(xb(i))).sum
      val na2 = (0 until d).map(i => BigInt(xa(i)) * BigInt(xa(i))).sum
      val nb2 = (0 until d).map(i => BigInt(xb(i)) * BigInt(xb(i))).sum
      val cos2Ppm = ((dot * dot * 1000000) / (na2 * nb2)).toLong
      val out = Seq((bufs(0L)(0), bufs(1L)(0), cos2Ppm))
      import s.implicits._
      out.toDF("n_a", "n_b", "cos2_ppm")
    },
    Some("WITH " + pcaCtes("a", "WHERE vec_id % 2 = 0") + "," +
      pcaCtes("b", "WHERE vec_id % 2 = 1") + """,
      dot AS (SELECT sum(a.xv * b.xv) AS dt
              FROM x8a a JOIN x8b b ON a.k = b.k),
      nrm AS (SELECT (SELECT sum(xv * xv) FROM x8a) AS qa2,
                     (SELECT sum(xv * xv) FROM x8b) AS qb2)
      SELECT (SELECT n FROM nrowa) AS n_a,
             (SELECT n FROM nrowb) AS n_b,
             CAST((dt * dt * 1000000) // (qa2 * qb2) AS BIGINT) AS cos2_ppm
      FROM dot, nrm"""))
}
