package graft

import org.apache.spark.sql.functions._

import graft.core.Session
import graft.operators.KCenter

/** Batched k-center at production coreset scale (round-15; the r14
  * verdict's item 8): k = 1024 over 5M quantized vectors. The
  * sequential Gonzalez loop is k TakeOrdered(1) jobs — barrier-latency-
  * bound at this k — while runBatched fetches top-m candidate batches
  * and accepts greedily under the provable-equality rule, so the job
  * count drops to the OUTER round count.
  *
  * Gates:
  *  - EQUALITY on a 50k subsample at k = 64: the batched assignment
  *    must match the sequential fold bit-for-bit (xor-hash compare) —
  *    the same verify posture the KCenterBatchedSpec pins at unit
  *    scale, here against hash-uniform data;
  *  - AMORTIZATION at full scale: outer rounds must be <= k/4 (uniform
  *    high-dim data accepts most of each batch — far-apart candidates
  *    rarely invalidate each other);
  *  - sanity: exactly k centers chosen.
  *
  * Usage: KCenterMacroBench [nVectors] [k] [m] (defaults 5M, 1024, 64)
  */
object KCenterMacroBench {
  def main(args: Array[String]): Unit = {
    val n = args.headOption.map(_.toLong).getOrElse(5000000L)
    val k = args.drop(1).headOption.map(_.toInt).getOrElse(1024)
    val m = args.drop(2).headOption.map(_.toInt).getOrElse(64)
    val dim = 16
    val spark = Session()

    val pts = spark.range(n).select(col("id"),
      expr(s"transform(sequence(1, $dim), d -> " +
        "pmod(xxhash64(id, d), 2048))").as("vq"))
      .localCheckpoint(true)

    // ---- subsample equality: sequential vs batched at k=64 ----------
    def xorHash(df: org.apache.spark.sql.DataFrame): Long = {
      val r = df.agg(bit_xor(xxhash64(col("id"), col("center_id"),
        col("dist")))).collect()(0)
      if (r.isNullAt(0)) 0L else r.getLong(0)
    }
    val sub = pts.filter(col("id") % 100 === 0).localCheckpoint(true)
    val t0 = System.nanoTime()
    val seqH = xorHash(KCenter.run(sub, 64))
    val tSeq = (System.nanoTime() - t0) / 1e9
    val t1 = System.nanoTime()
    val (subB, subRounds, _) = KCenter.runBatchedStats(sub, 64, m)
    val batH = xorHash(subB)
    val tSubBat = (System.nanoTime() - t1) / 1e9
    require(seqH == batH,
      s"subsample assignment divergence: sequential=$seqH batched=$batH")
    println(f"kcenter_subsample: n=${n / 100} k=64 sequential=$tSeq%.1f s " +
      f"batched=$tSubBat%.1f s (outer=$subRounds) EQUAL")

    // ---- full scale: batched k=1024 ---------------------------------
    val t2 = System.nanoTime()
    val (full, outer, nCenters) = KCenter.runBatchedStats(pts, k, m)
    val nC = full.select(countDistinct(col("center_id"))).collect()(0)
      .getLong(0)
    val tFull = (System.nanoTime() - t2) / 1e9
    require(nCenters == k, s"chose $nCenters centers, wanted $k")
    require(nC == k, s"$nC distinct assigned centers, wanted $k")
    require(outer <= k / 4,
      s"batching failed to amortize: $outer outer rounds for k=$k")
    println(f"kcenter_batched: n=$n dim=$dim k=$k m=$m outer=$outer " +
      f"(${k.toDouble / outer}%.1f centers/round) $tFull%.1f s " +
      f"centers=$nC EXACT-BY-CONSTRUCTION")
    spark.stop()
  }
}
