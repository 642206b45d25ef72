package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Distributed connected components over an edge table — the cluster
  * step every corpus-scale near-dup pipeline needs between candidate
  * pairs and "keep one per cluster" (C4/RefinedWeb recipe; the
  * reference's dedup surface stops at pairwise winners). No GraphX, no
  * driver-side adjacency: plain DataFrame joins/aggregates so AQE and
  * codegen apply.
  *
  * Algorithm: hash-to-min label propagation with pointer jumping. Each
  * round every node takes the min label in its closed neighborhood (one
  * join + one algebraic min aggregate — no collect_list, so a hot node
  * cannot blow up aggregate state), then labels are compressed by one
  * label-table self-join (comp ← comp(comp)), which halves label-chain
  * depth — O(log diameter) rounds for the path-shaped worst case,
  * 2–3 rounds for the shallow clusters near-dup edges produce in
  * practice. Convergence is detected by the (monotonically
  * non-increasing) exact sum of labels going stable; each round
  * localCheckpoints to truncate lineage. One shuffle pair per round on
  * compact (long, long) rows — the 100 TB shape.
  */
object ConnectedComponents {

  /** `edges`: undirected (src, dst) long pairs (self-loops/dups fine).
    * Returns (node, comp) for every node appearing in an edge, where
    * comp = the minimum node id of the node's component. Nodes with no
    * edges are absent — callers coalesce(comp, id) for singletons.
    *
    * Durability: by default each round `localCheckpoint`s — blocks live
    * on EXECUTORS, so on a real cluster one lost executor mid-iteration
    * kills the job unrecoverably (lineage is truncated; nothing to
    * rebuild from). Pass `checkpointDir` (an HDFS/object-store path at
    * cluster scale) to use RELIABLE `checkpoint()` instead: every round
    * persists to the checkpoint store and a lost executor just re-reads
    * its partitions. Costs one distributed write per round (overhead
    * measured by CcMacroBench's `reliable` arm — see CLAUDE.md); flip it
    * on for long multi-round runs on preemptible/large clusters, leave
    * it off for single-node or small-graph runs where re-running the
    * whole job is cheaper than the per-round writes.
    */
  def run(edges: DataFrame, maxIter: Int = 50,
      checkpointDir: Option[String] = None): DataFrame = {
    val save = graft.core.Checkpoints.saver(edges, checkpointDir)

    val sym = save(edges.select(col("src").cast("long").as("src"),
        col("dst").cast("long").as("dst"))
      .union(edges.select(col("dst").cast("long").as("src"),
        col("src").cast("long").as("dst")))
      .filter(col("src") =!= col("dst"))
      .distinct())

    var labels = save(sym.select(col("src").as("node")).distinct()
      .withColumn("comp", col("node")))

    def labelSum(l: DataFrame): java.math.BigDecimal =
      l.agg(sum(col("comp").cast("decimal(27,0)"))).head().getDecimal(0)

    var prev = labelSum(labels)
    var iter = 0
    var converged = sym.isEmpty
    while (!converged && iter < maxIter) {
      val nbrMin = sym
        .join(labels.select(col("node").as("dst"), col("comp").as("dc")), "dst")
        .groupBy("src").agg(min("dc").as("nbr_comp"))
        .withColumnRenamed("src", "node")
      val stepped = labels.join(nbrMin, Seq("node"), "left")
        .select(col("node"),
          least(col("comp"), coalesce(col("nbr_comp"), col("comp"))).as("comp"))
      // pointer jump: adopt the label of one's label — compresses chains
      val jumped = save(stepped
        .join(stepped.select(col("node").as("comp"), col("comp").as("jc")),
          Seq("comp"), "left")
        .select(col("node"),
          least(col("comp"), coalesce(col("jc"), col("comp"))).as("comp")))
      val cur = labelSum(jumped)
      converged = cur.compareTo(prev) == 0
      prev = cur
      // free the superseded round: its local-checkpoint blocks, or its
      // reliable checkpoint files
      graft.core.Checkpoints.release(labels)
      labels = jumped
      iter += 1
    }
    require(converged, s"connected components did not converge in $maxIter rounds")
    System.err.println(s"[cc] converged in $iter rounds")
    labels
  }
}
