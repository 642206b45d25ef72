package graft

import org.apache.spark.sql.functions._

import graft.core.Session
import graft.operators.Dedup

/** Macro benchmark for the training-data dedup path: MinHash+LSH
  * near-duplicate removal over a synthetic corpus with planted
  * near-duplicates, end-to-end (shingle → 64 minhashes → 16 bands →
  * candidate join on compact keys → exact-Jaccard verify → anti-join).
  *
  * Every 10th doc is a near-copy of its predecessor (one distinguishing
  * token in 41 → shingle Jaccard ≈ 0.90, above the 0.8 threshold), so the
  * expected survivor count is n - n/10 + (LSH false negatives, ~2e-4/pair)
  * — printed for a recall check alongside the wall-clock.
  * Usage: DedupMacroBench [nDocs] (default 1,000,000).
  */
object DedupMacroBench {
  def main(args: Array[String]): Unit = {
    val n = args.headOption.map(_.toInt).getOrElse(1000000)
    val spark = Session(partitionsPerCpu = 2)

    // deterministic corpus: 40 vocab-50k tokens per doc from the base id,
    // one leading distinguishing token; dups (id % 10 == 0) reuse the
    // predecessor's 40 tokens but keep their own leading token
    val docs = spark.range(n.toLong)
      .withColumn("base",
        when(col("id") % 10 === 0 && col("id") > 0, col("id") - 1)
          .otherwise(col("id")))
      .withColumn("text", concat(
        concat(lit("u"), col("id")), lit(" "),
        expr("concat_ws(' ', transform(sequence(0, 39)," +
          " i -> concat('t', pmod(xxhash64(base, i), 50000))))")))
      .select(col("id").as("doc_id"), col("text"))
    docs.cache().count() // corpus generation outside the timed region

    val t0 = System.nanoTime()
    val survivors = Dedup.minhashDedup(docs, "doc_id", "text", threshold = 0.8)
      .count()
    val sec = (System.nanoTime() - t0) / 1e9

    // cluster mode on the same corpus: pairs → connected components →
    // one survivor per transitive cluster. Planted dups are disjoint
    // 2-cliques, so the survivor COUNT must equal the pairwise run's —
    // a correctness cross-check between the two dedup modes at scale —
    // while the time adds the O(log d) label rounds on the LSH edges.
    val t1 = System.nanoTime()
    val clustered = Dedup.minhashDedupClusters(docs, "doc_id", "text",
      threshold = 0.8)
    val clusterSurvivors = clustered.filter(col("is_survivor")).count()
    val secCluster = (System.nanoTime() - t1) / 1e9
    require(clusterSurvivors == survivors,
      s"cluster-mode survivors $clusterSurvivors != pairwise $survivors " +
        "(planted dups are 2-cliques: modes must agree)")

    val expected = n - (n - 1) / 10 // ids 10, 20, ... are planted dups
    println(f"""{"metric":"dedup_macro","value":$sec%.1f,"unit":"sec","n_docs":$n,"survivors":$survivors,"expected_survivors":$expected,"planted_dup_recall":${(n - survivors).toDouble / (n - expected)}%.4f,"cluster_mode_sec":$secCluster%.1f}""")
    spark.stop()
  }
}
