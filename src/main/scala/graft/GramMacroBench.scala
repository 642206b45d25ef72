package graft

import org.apache.spark.sql.functions._

import graft.core.Session

/** Large-dimension posture for the one-pass Gram/PCA aggregate
  * (q166/q181 run at d=64; production embeddings are d=512–4096, where
  * the GramAgg buffer is 0.13–8.4 M longs PER PARTIAL and the
  * single-reducer merge re-enters the bloom fan-in trap: P partials ×
  * buffer bytes through one task — CLAUDE.md round-12 lesson).
  *
  * Two arms over the same deterministic corpus:
  * Three arms over the same deterministic corpus:
  *  - flat: GramAgg straight over the scan (one partial per input
  *    partition — P=cpus partials reach the reducer)
  *  - guarded: repartition(8) BEFORE the agg, bounding the merge fan-in
  *    at 8 partials — but paying an n·d-long data shuffle (measured
  *    STRICTLY WORSE than flat at every shape tried; kept as the
  *    negative control)
  *  - tree: PcaPower.gramTree — local buffer per partition, the P
  *    compact buffers merged via treeAggregate(depth=2); shuffle is
  *    P × buffer bytes independent of n. The scale path for large d.
  *
  * Gate: all three buffers must be EQUAL element-wise (exact long sums
  * are order-independent — any divergence is a real bug, not noise),
  * and the driver-side power iteration must complete at this d (its
  * O(d²)/round cost is the documented large-d watch item). Reported:
  * wall per arm, buffer MB, driver topComponent seconds.
  *
  * Usage: GramMacroBench [n] [d] (default 200000 × 512).
  */
object GramMacroBench {
  def main(args: Array[String]): Unit = {
    val n = args.headOption.map(_.toLong).getOrElse(200000L)
    val d = args.drop(1).headOption.map(_.toInt).getOrElse(512)
    val spark = Session()

    val bufLen = 1 + d + d.toLong * (d + 1) / 2
    val bufMb = bufLen * 8.0 / 1e6
    // deterministic small ints: |v| <= 63 keeps every Gram entry far
    // inside Long at any n here
    val vecs = spark.range(n).select(col("id"), expr(
      s"transform(sequence(1, $d), i -> pmod(xxhash64(id, i), 127) - 63)")
      .as("qv"))
      .localCheckpoint(true)

    def gram(df: org.apache.spark.sql.DataFrame): (Array[Long], Double) = {
      val t0 = System.nanoTime()
      val b = df.select(graft.functions.GramAgg(d)(col("qv")).as("b"))
        .head().getSeq[Long](0).toArray
      (b, (System.nanoTime() - t0) / 1e9)
    }

    val (flat, tFlat) = gram(vecs)
    val (guarded, tGuard) = gram(vecs.repartition(8))
    val tT0 = System.nanoTime()
    val tree = graft.operators.PcaPower.gramTree(vecs, "qv", d)
    val tTree = (System.nanoTime() - tT0) / 1e9
    require(java.util.Arrays.equals(flat, guarded),
      "guarded (repartition-8) Gram buffer differs from the flat path")
    require(java.util.Arrays.equals(flat, tree),
      "treeAggregate Gram buffer differs from the flat path")
    require(flat(0) == n, s"count mismatch: ${flat(0)} != $n")

    val tP0 = System.nanoTime()
    val comp = graft.operators.PcaPower.topComponent(flat, d)
    val tPower = (System.nanoTime() - tP0) / 1e9
    require(comp.length == d && comp.exists(_ != 0L),
      "power iteration degenerated at large d")

    println(f"""{"metric":"gram_large_d","value":$tTree%.2f,"unit":"sec","n":$n,"d":$d,"buffer_mb":$bufMb%.2f,"flat_sec":$tFlat%.2f,"guarded_sec":$tGuard%.2f,"tree_sec":$tTree%.2f,"power_sec":$tPower%.2f}""")
    spark.stop()
  }
}
