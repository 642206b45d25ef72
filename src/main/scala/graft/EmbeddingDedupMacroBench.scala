package graft

import org.apache.spark.sql.functions._

import graft.core.Session
import graft.operators.Similarity

/** Embedding near-dup dedup macro: banded hyperplane LSH at corpus
  * scale. `n` random 64-dim vectors plus n/50 planted near-duplicates
  * (tiny additive perturbation → cosine ≈ 0.9999); the dedup must drop
  * every planted dup (recall) without an all-pairs stage. Band width is
  * the scale knob: bits ≈ log2(n)+4 keeps expected bucket load ~1/16, so
  * candidate count stays O(n) while the 8-band union holds recall
  * (P[miss] ≈ (1-p^bits)^bands ≈ 3e-9 at cosine 0.9999).
  * Usage: EmbeddingDedupMacroBench [nVectors] [bands] [bitsPerBand]
  */
object EmbeddingDedupMacroBench {
  def main(args: Array[String]): Unit = {
    val n = args.headOption.map(_.toInt).getOrElse(1000000)
    val bands = args.drop(1).headOption.map(_.toInt).getOrElse(8)
    val bits = args.drop(2).headOption.map(_.toInt).getOrElse(20)
    val nDups = n / 50
    val spark = Session(partitionsPerCpu = 2)

    // originals: uniform hash noise in [-0.5, 0.5)^64 (spread corpus —
    // the realistic text-embedding dedup shape)
    val originals = spark.range(n.toLong)
      .select(col("id").as("vec_id"),
        expr("""transform(sequence(0, 63), i ->
                 (pmod(xxhash64(vec_id, i), 1000)) / 1000.0 - 0.5)""").as("vec"))
    // planted dups: copy of (id - n) plus a 0.003-amplitude perturbation
    val dups = spark.range(nDups.toLong)
      .select((col("id") + n).as("vec_id"),
        expr(s"""transform(sequence(0, 63), i ->
                  (pmod(xxhash64(vec_id - $n, i), 1000)) / 1000.0 - 0.5
                  + (pmod(xxhash64(vec_id, i + 64), 1000)) / 1000.0 * 0.003)""")
          .as("vec"))
    val corpus = originals.unionAll(dups).cache()
    corpus.count() // materialize outside the timed region

    val t0 = System.nanoTime()
    val kept = Similarity.embeddingDedup(corpus, "vec_id", "vec",
      threshold = 0.95, nBands = bands, bitsPerBand = bits)
      .select("vec_id")
    val survivors = kept.count()
    val sec = (System.nanoTime() - t0) / 1e9

    val keptDups = kept.filter(col("vec_id") >= n).count()
    val recall = 1.0 - keptDups.toDouble / nDups
    println(f"""{"metric":"embdedup_macro","value":$sec%.2f,"unit":"sec","n_vectors":${n + nDups},"planted_dups":$nDups,"survivors":$survivors,"recall":$recall%.4f,"bands":$bands,"bits":$bits}""")
    spark.stop()
  }
}
