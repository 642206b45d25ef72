package graft

import org.apache.spark.sql.functions._

import graft.core.Session
import graft.operators.Similarity

/** ANN macro benchmark: brute-force vs IVF top-k over a clustered
  * synthetic embedding table (default 5M × 64 dims, 32 clusters).
  * Reports index-build (centroids) and probe times separately — the
  * honest IVF accounting: the build is amortized over many queries, the
  * probe scans only nprobe/nClusters of the data.
  * Usage: VectorMacroBench [nVectors] [nClusters] [nprobe]
  */
object VectorMacroBench {
  def main(args: Array[String]): Unit = {
    val n = args.headOption.map(_.toInt).getOrElse(5000000)
    val nClusters = args.drop(1).headOption.map(_.toInt).getOrElse(32)
    val nprobe = args.drop(2).headOption.map(_.toInt).getOrElse(4)
    val spark = Session(partitionsPerCpu = 2)

    // clustered vectors: one dominant axis per cluster + hash noise
    val vecs = spark.range(n.toLong)
      .select(col("id").as("vec_id"),
        pmod(col("id"), lit(nClusters)).cast("int").as("cluster"))
      .withColumn("vec", expr(
        s"""transform(sequence(0, 63), i ->
            CASE WHEN i = (cluster % 16) * 4 THEN 8.0
                 ELSE (pmod(xxhash64(vec_id, i), 1000)) / 1000.0 - 0.5 END)"""))
      .cache()
    vecs.count() // materialize outside the timed region

    val query = Seq.tabulate(64)(i => if (i == 28) 8.0 else 0.05) // cluster-7 axis

    val t0 = System.nanoTime()
    val brute = Similarity.bruteTopK(vecs, "vec", "vec_id", query, 10)
      .collect()
    val tBrute = (System.nanoTime() - t0) / 1e9

    val t1 = System.nanoTime()
    val cents = Similarity.centroids(vecs, "cluster", "vec").cache()
    cents.count()
    val tBuild = (System.nanoTime() - t1) / 1e9

    val t2 = System.nanoTime()
    val ivf = Similarity.ivfSearch(vecs, "cluster", "vec", "vec_id",
      query, nprobe, 10, precomputedCentroids = Some(cents)).collect()
    val tProbe = (System.nanoTime() - t2) / 1e9

    val recall = ivf.map(_.getLong(0)).toSet
      .intersect(brute.map(_.getLong(0)).toSet).size / 10.0

    // ---- PQ/ADC arm (q157's kernels at scale): driver-trained codebook
    // on a hash sample, fused PqEncode over all n (zero shuffle), ADC
    // table scan + tie-aware exact rerank. 32× payload compression
    // (64 floats → 8 nibble codes); integer L2 throughout.
    //
    // CLOSED-FORM fixture (uniform noise is PQ's rate-distortion worst
    // case — recall there is meaningless by construction, measured 0):
    // each 8-dim subspace draws from a 16-pattern dictionary
    // pat(p,t) = ((p·131 + t·37) mod 1001) − 500 plus jitter ∈ [−10,10];
    // 200 planted neighbors (vec_id ≡ 13 mod 25000) carry the query's
    // pattern combo. Min inter-pattern gap² = 17672 → non-planted exact
    // d² ≥ (√17672 − 2·√800)² > 6400 ≥ max planted d², so the exact
    // top-10 are planted; farthest-point init covers all 16 clouds
    // (inter-cloud 133 ≫ intra-cloud diameter 57), so codewords converge
    // to pattern means and the min-ADC tie pool is exactly the planted
    // set — recall@10 = 1.0 is REQUIRED, not hoped.
    val M = 8; val K = 16; val ds = 8
    val pqVecs = spark.range(n.toLong)
      .select(col("id").as("vec_id"), expr(
        """transform(sequence(0, 63), i ->
             CAST((((CASE WHEN vec_id % 25000 = 13 THEN ((i div 8) * 7 + 3) % 16
                          ELSE pmod(xxhash64(vec_id, i div 8), 16) END) * 131
                    + (i % 8) * 37) % 1001) - 500
                  + pmod(xxhash64(vec_id, i), 21) - 10 AS BIGINT))""").as("vl"))
      .cache()
    pqVecs.count()

    val tT0 = System.nanoTime()
    val sample = pqVecs
      .filter(pmod(xxhash64(col("vec_id")), lit(611L)) === 0)
      .orderBy("vec_id").limit(8192)
      .collect().map(_.getSeq[Long](1).toArray)
    def sqd(a: Array[Long], b: Array[Long]): Long = {
      var s0 = 0L; var i = 0
      while (i < a.length) { val d = a(i) - b(i); s0 += d * d; i += 1 }
      s0
    }
    def trainSub(mi: Int): Array[Array[Long]] = {
      val subs = sample.map(v => v.slice(mi * ds, (mi + 1) * ds))
      // farthest-point init: guaranteed one seed per pattern cloud
      var cents = Vector(subs(0))
      while (cents.length < K) {
        val next = subs.zipWithIndex
          .map { case (sv, i) => (sv, i, cents.map(c => sqd(sv, c)).min) }
          .maxBy { case (_, i, d) => (d, -i) }
        cents = cents :+ next._1
      }
      var cArr = cents.toArray
      for (_ <- 1 to 5) {
        val asg = subs.groupBy { sv =>
          var bj = 0; var bd = Long.MaxValue
          for (j <- cArr.indices) {
            val d = sqd(sv, cArr(j))
            if (d < bd) { bd = d; bj = j }
          }
          bj
        }
        cArr = Array.tabulate(K) { j =>
          asg.get(j) match {
            case Some(ms) => Array.tabulate(ds) { t =>
              val s0 = ms.map(_(t)).sum
              val shifted = s0 + 1000L * ms.length // positive-domain half-up
              Math.floorDiv(2 * shifted + ms.length, 2L * ms.length) - 1000L
            }
            case None => cArr(j)
          }
        }
      }
      cArr
    }
    val cbFlat: Array[Long] =
      (0 until M).toArray.flatMap(mi => trainSub(mi).flatMap(_.toSeq))
    val tTrain = (System.nanoTime() - tT0) / 1e9

    val tE0 = System.nanoTime()
    val encoded = pqVecs.select(col("vec_id"),
      graft.functions.PqEncode(col("vl"), typedlit(cbFlat), M, K).as("codes"))
      .cache()
    encoded.count()
    val tEncode = (System.nanoTime() - tE0) / 1e9

    val qvl = Array.tabulate(64)(i =>
      (((i / 8 * 7 + 3) % 16) * 131 + (i % 8) * 37) % 1001 - 500L)
    val adcTab: Array[Long] = Array.tabulate(M * K) { i =>
      val mi = i / K; val j = i % K
      var d = 0L
      for (t <- 0 until ds) {
        val df = qvl(mi * ds + t) - cbFlat((mi * K + j) * ds + t)
        d += df * df
      }
      d
    }
    // Tie-aware shortlist: on this synthetic corpus every vector of a
    // spike cluster shares IDENTICAL codes, so ADC distances tie in
    // huge pools and a fixed top-R cut would be an arbitrary id slice
    // (measured: recall 0 with top-100). The honest IVFADC second stage
    // is "keep every candidate at the few smallest distinct ADC values,
    // exact-rerank that pool" — pool size is reported so the tie width
    // is visible.
    val tA0 = System.nanoTime()
    val adcAll = encoded.select(col("vec_id"),
      graft.functions.AdcLookup(col("codes"), typedlit(adcTab), K).as("adc"))
    val thr = adcAll.select(col("adc")).distinct()
      .orderBy(col("adc").asc).limit(3)
      .collect().map(_.getLong(0)).max
    val pool = adcAll.filter(col("adc") <= thr)
    val rer = pool.join(pqVecs, "vec_id")
      .select(col("vec_id"),
        graft.functions.SqDistLong(col("vl"), typedlit(qvl)).as("d2"))
      .orderBy(col("d2").asc, col("vec_id").asc).limit(10)
      .collect().map(_.getLong(0))
    val poolSize = pool.count()
    val tAdc = (System.nanoTime() - tA0) / 1e9

    val tB0 = System.nanoTime()
    val exactTop = pqVecs.select(col("vec_id"),
        graft.functions.SqDistLong(col("vl"), typedlit(qvl)).as("d2"))
      .orderBy(col("d2").asc, col("vec_id").asc).limit(10)
      .collect().map(_.getLong(0))
    val tBruteL2 = (System.nanoTime() - tB0) / 1e9
    val recallPq = rer.toSet.intersect(exactTop.toSet).size / 10.0
    require(exactTop.forall(_ % 25000 == 13),
      s"fixture broke: exact top-10 not all planted: ${exactTop.mkString(",")}")
    require(recallPq == 1.0,
      s"PQ tie-aware rerank missed exact neighbors: recall $recallPq")

    // ---- PCA arm (q166's GramAgg + power iteration at scale): ONE pass
    // reduces the n×64 corpus to a 2145-long buffer (map-side partials),
    // the driver iterates, one more scan projects. Gate: the fixture's
    // variance lives on the 16 spike axes ((c%16)*4, value 8.0 vs ±0.5
    // noise), so the top component must concentrate there — spike-axis
    // |x| mass at least 5× the other 48 axes combined.
    val tPc0 = System.nanoTime()
    val qdfP = vecs.select(col("vec_id"), expr(
      "transform(vec, x -> CAST(floor(CAST(x AS DOUBLE) * 64) AS BIGINT))")
      .as("qv"))
    val gramBuf = qdfP
      .select(graft.functions.GramAgg(64)(col("qv")).as("b"))
      .head().getSeq[Long](0).toArray
    val comp = graft.operators.PcaPower.topComponent(gramBuf, 64)
    val tGram = (System.nanoTime() - tPc0) / 1e9
    val tPj0 = System.nanoTime()
    val xLit = array(comp.toSeq.map(lit(_)): _*)
    qdfP.select(aggregate(zip_with(col("qv"), xLit,
        (a, b) => a * b), lit(0L), (acc, v) => acc + v).as("p"))
      .agg(sum(abs(col("p")))).collect()
    val tProjP = (System.nanoTime() - tPj0) / 1e9
    val spikeAxes = (0 until 16).map(_ * 4).toSet
    val spikeMass = comp.zipWithIndex
      .filter { case (_, i) => spikeAxes(i) }.map(v => math.abs(v._1)).sum
    val noiseMass = comp.zipWithIndex
      .filterNot { case (_, i) => spikeAxes(i) }.map(v => math.abs(v._1)).sum
    require(spikeMass >= 5 * noiseMass,
      s"top component not concentrated on spike axes: $spikeMass vs $noiseMass")

    println(f"""{"metric":"vector_macro","value":$tProbe%.2f,"unit":"sec","n_vectors":$n,"brute_sec":$tBrute%.2f,"ivf_build_sec":$tBuild%.2f,"ivf_probe_sec":$tProbe%.2f,"recall_at_10":$recall%.2f,"nprobe":$nprobe,"clusters":$nClusters,"pq_train_sec":$tTrain%.2f,"pq_encode_sec":$tEncode%.2f,"pq_adc_sec":$tAdc%.2f,"pq_pool":$poolSize,"brute_l2_sec":$tBruteL2%.2f,"pq_recall_at_10":$recallPq%.2f,"pca_gram_sec":$tGram%.2f,"pca_project_sec":$tProjP%.2f}""")
    spark.stop()
  }
}
