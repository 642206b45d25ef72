package graft

import org.apache.spark.sql.functions._

import graft.core.Session

/** sf1-scale verification of the PQ-training family (q157 PQ/ADC, q159
  * k-means|| init, q160 IVFADC) — the last three sf1 oracle exclusions
  * (round-13 verdict item 3). Their DuckDB oracles unroll in-SQL
  * codebook refinement and are cost-bound beyond sf0.1; this bench
  * replaces them at 20k vectors (the sf1 embedding count) with an
  * INDEPENDENT driver-side replay: the full embeddings table (20k×64
  * ≈ 10 MB) is collected once, every stage of each query's documented
  * arithmetic contract is recomputed in plain Scala primitive loops
  * (no Spark, no SQL — a genuinely separate execution path, the same
  * role the DuckDB replay plays at sf0.01), and the queries' collected
  * outputs must match the replay EXACTLY — longs bit-equal, doubles
  * produced by the identical fold/rounding recipe.
  *
  * The queries under test are the REGISTERED ones (Registry.queries),
  * pointed at a generated sf1-scale embeddings dir — so the exact gated
  * plans run, not re-derivations. Fixture floats are hash-derived in
  * [−2, 2] with 1e-4 granularity (quantization-exact by the q105
  * positive-domain rounding argument); labels cycle 0..15 so q160's
  * coarse lists are balanced.
  *
  * Usage: PqReplayBench [nVectors] (default 20000)
  */
object PqReplayBench {

  private val Dim = 64
  private val Shift = 20000L

  private def sq(a: Array[Long], b: Array[Long], lo: Int, n: Int): Long = {
    var s = 0L; var i = 0
    while (i < n) { val d = a(lo + i) - b(i); s += d * d; i += 1 }
    s
  }
  private def sqFull(a: Array[Long], b: Array[Long]): Long = {
    var s = 0L; var i = 0
    while (i < a.length) { val d = a(i) - b(i); s += d * d; i += 1 }
    s
  }
  /** Half-up positive-domain integer mean over shifted values — the
    * q128/q157 recipe ((2·(sum+shift·n)+n) div (2n)) − shift.
    */
  private def halfUpMean(sx: Long, n: Long): Long =
    ((sx + Shift * n) * 2 + n) / (2 * n) - Shift

  def main(args: Array[String]): Unit = {
    val n = args.headOption.map(_.toInt).getOrElse(20000)
    val spark = Session()

    // ---- fixture: hash-derived floats, labels 0..15 -------------------
    val dir = new java.io.File(sys.props("java.io.tmpdir"),
      s"graft_pq_replay_$n")
    val fx = spark.range(n.toLong).select(col("id").as("vec_id"),
      expr(s"transform(sequence(1, $Dim), d -> " +
        "CAST((pmod(xxhash64(id, d), 40001) - 20000) * CAST(1e-4 AS DOUBLE)" +
        " AS FLOAT))").as("embedding"),
      (col("id") % 16).cast("int").as("label"))
    fx.coalesce(4).write.mode("overwrite")
      .parquet(new java.io.File(dir, "embeddings.parquet").getAbsolutePath)

    // ---- driver copy ---------------------------------------------------
    val rows = spark.read
      .parquet(new java.io.File(dir, "embeddings.parquet").getAbsolutePath)
      .select("vec_id", "embedding", "label").collect()
    val ids = rows.map(_.getLong(0))
    val emb = rows.map(_.getSeq[Float](1).toArray)
    val lbl = rows.map(_.getInt(2).toLong)
    val byId = ids.zipWithIndex.toMap
    // quantize exactly as the queries do: round((x+2)·1e4) − 20000,
    // positive domain so HALF_UP ≡ Math.round
    val vq = emb.map(_.map(x => Math.round((x.toDouble + 2.0) * 10000.0) - Shift))

    val M = 8; val ds = 8; val K = 16
    def subv(v: Array[Long], m: Int): Array[Long] =
      java.util.Arrays.copyOfRange(v, m * ds, m * ds + ds)

    // =====================================================================
    // q157 replay
    // =====================================================================
    def replay157(): Set[(Long, Long, Double)] = {
      val cb0 = Array.tabulate(M, K) { (m, j) => subv(vq(byId(j + 1L)), m) }
      // argmin over codewords, ascending j → strict < keeps the SMALLER
      // j on ties (the query's min_by(j, struct(dist, j)))
      def argmin(sv: Array[Long], cbm: Array[Array[Long]]): Int = {
        var bj = 0; var bd = Long.MaxValue
        var j = 0
        while (j < K) {
          val d = sq(sv, cbm(j), 0, ds)
          if (d < bd) { bd = d; bj = j }
          j += 1
        }
        bj
      }
      // one Lloyd step over ALL vectors (query included, matching memd)
      val sums = Array.fill(M, K, ds)(0L)
      val cnts = Array.fill(M, K)(0L)
      for (vi <- vq.indices; m <- 0 until M) {
        val sv = subv(vq(vi), m)
        val j = argmin(sv, cb0(m))
        cnts(m)(j) += 1
        var i = 0
        while (i < ds) { sums(m)(j)(i) += sv(i); i += 1 }
      }
      val cb1 = Array.tabulate(M, K) { (m, j) =>
        if (cnts(m)(j) == 0) cb0(m)(j)
        else Array.tabulate(ds)(i => halfUpMean(sums(m)(j)(i), cnts(m)(j)))
      }
      val q0i = byId(0L)
      val tq = Array.tabulate(M, K) { (m, j) =>
        sq(subv(vq(q0i), m), cb1(m)(j), 0, ds)
      }
      val adc = vq.indices.filter(vi => ids(vi) != 0L).map { vi =>
        var s = 0L
        for (m <- 0 until M) {
          val sv = subv(vq(vi), m)
          var bj = 0; var bd = Long.MaxValue
          var j = 0
          while (j < K) {
            val d = sq(sv, cb1(m)(j), 0, ds)
            if (d < bd) { bd = d; bj = j }
            j += 1
          }
          s += tq(m)(bj)
        }
        (ids(vi), s)
      }
      val top = adc.sortBy { case (id, d) => (d, id) }.take(10)
      def cos(a: Array[Float], b: Array[Float]): Double = {
        var dot = 0.0; var na = 0.0; var nb = 0.0
        var i = 0
        while (i < a.length) {
          val x = a(i).toDouble; val y = b(i).toDouble
          dot += x * y; na += x * x; nb += y * y
          i += 1
        }
        dot / (math.sqrt(na) * math.sqrt(nb))
      }
      top.map { case (id, d) =>
        val c = BigDecimal(cos(emb(byId(id)), emb(q0i)))
          .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
        (id, d, c)
      }.toSet
    }

    // =====================================================================
    // q159 replay
    // =====================================================================
    def replay159(): Set[(Long, Long, Long, Long)] = {
      val Mmod = 1024L; val l = 16L; val rounds = 2; val k = 4
      var cands = Vector((0L, vq(byId(0L))))
      for (r <- 1 to rounds) {
        val dmin = vq.indices.map { vi =>
          (ids(vi), cands.map(c => sqFull(vq(vi), c._2)).min)
        }
        val phi = dmin.map(_._2).sum
        val acc = dmin.filter { case (id, d2) =>
          val coin = Math.floorMod(
            graft.operators.Dedup.md5Hash64Local(id + "_" + r), Mmod)
          coin * phi < l * d2 * Mmod
        }
        cands = cands ++ acc.map { case (id, _) => (id, vq(byId(id))) }
      }
      val best = vq.indices.map { vi =>
        cands.map(c => (sqFull(vq(vi), c._2), c._1)).min
      }
      val weights = best.groupBy(_._2).map { case (cid, xs) =>
        (cid, xs.size.toLong)
      }
      // inner-join semantics: a candidate that wins no assignment has no
      // weight row and can never be chosen (matches the query's join)
      val cw = cands.flatMap { case (cid, cv) =>
        weights.get(cid).map(w => (cid, w, cv))
      }.sortBy(_._1)
      var chosen = Vector(cw.maxBy(c => (c._2, -c._1)))
      while (chosen.size < k) {
        val next = cw.filter(c => !chosen.exists(_._1 == c._1))
          .map(c => (c, c._2 * chosen.map(ch => sqFull(c._3, ch._3)).min))
          .maxBy { case (c, score) => (score, -c._1) }
        chosen = chosen :+ next._1
      }
      val fin = vq.indices.map { vi =>
        chosen.map(c => (sqFull(vq(vi), c._3), c._1)).min
      }
      fin.groupBy(_._2).map { case (cid, xs) =>
        (cid, weights(cid), xs.size.toLong, xs.map(_._1).sum)
      }.toSet
    }

    // =====================================================================
    // q160 replay
    // =====================================================================
    def replay160(): Set[(Long, Long, Long, Long)] = {
      val nprobe = 2
      val labels = lbl.distinct.sorted
      val coarse = labels.map { lb =>
        val mem = vq.indices.filter(vi => lbl(vi) == lb)
        val cv = Array.tabulate(Dim) { i =>
          halfUpMean(mem.map(vi => vq(vi)(i)).sum, mem.size.toLong)
        }
        (lb, cv)
      }.toMap
      val q0i = byId(0L)
      val probed = labels
        .map(lb => (sqFull(vq(q0i), coarse(lb)), lb))
        .sorted.take(nprobe).map(_._2).toSet
      val res = vq.indices.map { vi =>
        val cv = coarse(lbl(vi))
        Array.tabulate(Dim)(i => vq(vi)(i) - cv(i))
      }
      val cb = Array.tabulate(M, K) { (m, j) => subv(res(byId(j + 1L)), m) }
      val tables = probed.map { lb =>
        val qr = Array.tabulate(Dim)(i => vq(q0i)(i) - coarse(lb)(i))
        lb -> Array.tabulate(M, K)((m, j) => sq(subv(qr, m), cb(m)(j), 0, ds))
      }.toMap
      val adc = vq.indices
        .filter(vi => ids(vi) != 0L && probed.contains(lbl(vi)))
        .map { vi =>
          var s = 0L
          for (m <- 0 until M) {
            val sv = subv(res(vi), m)
            var bj = 0; var bd = Long.MaxValue
            var j = 0
            while (j < K) {
              val d = sq(sv, cb(m)(j), 0, ds)
              if (d < bd) { bd = d; bj = j }
              j += 1
            }
            s += tables(lbl(vi))(m)(bj)
          }
          (ids(vi), lbl(vi), s)
        }
      adc.sortBy { case (id, _, d) => (d, id) }.take(10)
        .map { case (id, lb, d) =>
          (id, lb, d, sqFull(vq(byId(id)), vq(q0i)))
        }.toSet
    }

    // ---- run the REGISTERED queries against the fixture dir -----------
    def gate(name: String, expected: Set[Product], got: Array[Product],
        secs: Double): Unit = {
      val gotSet = got.toSet
      require(gotSet.size == got.length, s"$name emitted duplicate rows")
      require(gotSet == expected,
        s"$name diverged from the driver replay: " +
          s"query-only=${gotSet.diff(expected).take(3)} " +
          s"replay-only=${expected.diff(gotSet).take(3)}")
      println(f"pq_replay $name: n=$n rows=${got.length} $secs%.1f s EXACT")
    }

    val d = dir.getAbsolutePath
    var t0 = System.nanoTime()
    val r157 = graft.queries.Registry.queries("q157_pq_adc")(spark, d)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    gate("q157_pq_adc",
      replay157().map(_.asInstanceOf[Product]),
      r157.map(_.asInstanceOf[Product]), (System.nanoTime() - t0) / 1e9)

    t0 = System.nanoTime()
    val r159 = graft.queries.Registry.queries("q159_kmeanspar_init")(spark, d)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    gate("q159_kmeanspar_init",
      replay159().map(_.asInstanceOf[Product]),
      r159.map(_.asInstanceOf[Product]), (System.nanoTime() - t0) / 1e9)

    t0 = System.nanoTime()
    val r160 = graft.queries.Registry.queries("q160_ivfpq")(spark, d)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    gate("q160_ivfpq",
      replay160().map(_.asInstanceOf[Product]),
      r160.map(_.asInstanceOf[Product]), (System.nanoTime() - t0) / 1e9)

    spark.stop()
  }
}
