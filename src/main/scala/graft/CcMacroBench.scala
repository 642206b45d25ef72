package graft

import org.apache.spark.sql.functions._

import graft.core.Session
import graft.operators.ConnectedComponents

/** Connected-components macro: label propagation at data scale, with a
  * closed-form answer so correctness is exact. The graph mixes the two
  * shapes that matter: `n` nodes in 10-node star clusters (the shallow
  * near-dup-cluster case — resolves in the first round) and one
  * 10 000-node path appended (the adversarial-diameter case pointer
  * jumping exists for: ~log2(10000) ≈ 14 rounds instead of 10 000).
  * Component of star k = 10k, of the path = n; both sums are closed
  * form and the run REQUIREs the exact total.
  *
  * Usage: CcMacroBench [n] [--reliable] (default 10M star nodes).
  * `--reliable` adds a third pass over the full graph with the
  * RELIABLE-checkpoint arm (checkpointDir set — every round persists to
  * the checkpoint store instead of executor-local blocks), recording
  * the durability overhead a preemptible/large cluster would pay.
  */
object CcMacroBench {
  def main(args: Array[String]): Unit = {
    val reliable = args.contains("--reliable")
    val n = args.filterNot(_.startsWith("--"))
      .headOption.map(_.toLong).getOrElse(10000000L)
    require(n % 10 == 0, "n must be a multiple of 10")
    val pathLen = 10000L
    val spark = Session()

    val stars = spark.range(n).filter(col("id") % 10 =!= 0)
      .select((col("id") - col("id") % 10).as("src"), col("id").as("dst"))
    val path = spark.range(n, n + pathLen - 1)
      .select(col("id").as("src"), (col("id") + 1).as("dst"))

    def labelSum(edges: org.apache.spark.sql.DataFrame,
        checkpointDir: Option[String] = None): (java.math.BigDecimal, Double) = {
      val t0 = System.nanoTime()
      val got = ConnectedComponents.run(edges, checkpointDir = checkpointDir)
        .agg(sum(col("comp").cast("decimal(27,0)"))).head().getDecimal(0)
      (got, (System.nanoTime() - t0) / 1e9)
    }
    // stars: each cluster k in [0, n/10) contributes 10 * (10k) = n(n-10)/2 /... ;
    // path: pathLen nodes all labeled n
    val starSum = java.math.BigDecimal.valueOf(n / 10)
      .multiply(java.math.BigDecimal.valueOf(n - 10))
      .multiply(java.math.BigDecimal.valueOf(5))
    val pathSum = java.math.BigDecimal.valueOf(pathLen)
      .multiply(java.math.BigDecimal.valueOf(n))

    // regime 1: shallow clusters only — the shape near-dup edges have
    val (gotStars, tStars) = labelSum(stars)
    require(gotStars.compareTo(starSum) == 0,
      s"stars checksum: got $gotStars expect $starSum")
    // regime 2: plus a 10k-node path — adversarial diameter
    val (gotAll, tAll) = labelSum(stars.union(path))
    require(gotAll.compareTo(starSum.add(pathSum)) == 0,
      s"full checksum: got $gotAll expect ${starSum.add(pathSum)}")
    // regime 3 (opt-in): same full graph, reliable checkpoints — the
    // durability posture for clusters where executors can be lost
    val tReliable: Option[Double] = if (reliable) {
      val dir = java.nio.file.Files.createTempDirectory("cc-ckpt").toString
      val (gotR, tR) = labelSum(stars.union(path), Some(dir))
      require(gotR.compareTo(starSum.add(pathSum)) == 0,
        s"reliable-arm checksum: got $gotR expect ${starSum.add(pathSum)}")
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
      Some(tR)
    } else None
    val reliableField =
      tReliable.map(t => f""","reliable_sec":$t%.1f""").getOrElse("")
    println(
      f"""{"metric":"cc_macro","value":$tAll%.1f,"unit":"sec","n_nodes":${n + pathLen},"n_edges":${n / 10 * 9 + pathLen - 1},"stars_only_sec":$tStars%.1f,"with_path_sec":$tAll%.1f$reliableField,"checksum":"$gotAll"}""")
    spark.stop()
  }
}
