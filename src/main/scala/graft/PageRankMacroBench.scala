package graft

import org.apache.spark.sql.functions._

import graft.core.Session
import graft.operators.PageRank

/** PageRank macro: 8 exact-integer rounds at edge-list scale with a
  * CLOSED-FORM gate. The graph is a bidirectional star — `n` leaves
  * each linking to one center and the center linking back to every
  * leaf (2n edges) — so by symmetry every leaf holds the same rank and
  * the two per-class recurrences replay exactly on the driver in Long
  * arithmetic:
  *
  *   center' = base + (85 * (n * (leaf div 1))) div 100
  *   leaf'   = base + (85 * (center div n)) div 100
  *
  * The run REQUIREs the center rank, one probed leaf rank, and the
  * leaf-rank cardinality (all n leaves identical) to match the driver
  * replay — any divergence in the distributed join/agg chain is an
  * exact failure, not a drift.
  *
  * This is also the adversarial-skew shape for rank aggregation: all n
  * leaf contributions sum into ONE dst key each round. Map-side
  * partial aggregation bounds the hot reducer at P partials — the
  * groupBy(dst) plan must never shuffle n rows to one task.
  *
  * Usage: PageRankMacroBench [nLeaves] (default 5M → 10M edges).
  */
object PageRankMacroBench {
  def main(args: Array[String]): Unit = {
    val n = args.headOption.map(_.toLong).getOrElse(5000000L)
    val rounds = 8
    val scale = 1000000000L
    val spark = Session()

    // center = node 0; leaves = 1..n
    val leaves = spark.range(1, n + 1)
    val edges = leaves.select(col("id").as("src"), lit(0L).as("dst"))
      .union(leaves.select(lit(0L).as("src"), col("id").as("dst")))

    // driver replay of the two-class recurrence
    val base = scale * 15 / 100
    var center = scale
    var leaf = scale
    for (_ <- 0 until rounds) {
      val c2 = base + 85L * (n * leaf) / 100
      val l2 = base + 85L * (center / n) / 100
      center = c2
      leaf = l2
    }

    val t0 = System.nanoTime()
    val ranks = PageRank.run(edges, scale = scale, rounds = rounds)
      .localCheckpoint(true)
    val gotCenter = ranks.filter(col("node") === 0L)
      .head().getLong(1)
    val leafRanks = ranks.filter(col("node") =!= 0L)
      .groupBy(col("rank")).agg(count(lit(1)).as("cnt"))
      .collect()
    val secs = (System.nanoTime() - t0) / 1e9

    require(gotCenter == center,
      s"center rank mismatch: got $gotCenter expected $center")
    require(leafRanks.length == 1 && leafRanks.head.getLong(0) == leaf &&
      leafRanks.head.getLong(1) == n,
      s"leaf ranks diverged: ${leafRanks.take(3).mkString(",")} " +
        s"expected ($leaf, $n)")
    println(f"pagerank_star: n=$n edges=${2 * n} rounds=$rounds " +
      f"$secs%.1f s  center=$center leaf=$leaf  EXACT")
    spark.stop()
  }
}
