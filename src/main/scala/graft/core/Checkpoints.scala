package graft.core

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.LogicalRDD

/** Block management for per-round `localCheckpoint` loops, and the one
  * end-of-query release.
  *
  * `Dataset.unpersist` only reaches cache-manager entries — the blocks
  * a localCheckpoint stores belong to the underlying RDD and are
  * otherwise freed only when the driver's ContextCleaner notices the
  * RDD is garbage (GC-timing-dependent). An iterative operator that
  * checkpoints every round therefore accrues O(sum of round sizes)
  * storage on adversarial inputs (a long path peels in O(n) k-core
  * rounds — round-14 advice) unless it releases the superseded round
  * explicitly. A localCheckpointed Dataset's plan is a [[LogicalRDD]]
  * leaf whose `rdd` IS the block-backed data — unpersisting that RDD
  * frees the blocks deterministically.
  */
object Checkpoints {

  /** Count of reliable checkpoints written through [[saver]] /
    * deleted by [[release]] — the spec-pinnable record of per-round
    * checkpoint activity now that release() removes superseded rdd-N
    * directories (counting dirs after the loop can no longer prove
    * every round checkpointed).
    */
  val reliableCreated = new java.util.concurrent.atomic.AtomicLong
  val reliableDeleted = new java.util.concurrent.atomic.AtomicLong
  private val dirLock = new Object

  /** Free the storage behind a checkpointed frame. No-op for frames
    * that are not checkpoint results: the plan must be a bare
    * [[LogicalRDD]] leaf AND the rdd must actually carry checkpoint
    * data (r15 advice — a caller-supplied `createDataFrame(rdd)` over
    * an rdd the CALLER persisted is a bare LogicalRDD too, and
    * releasing it would silently drop the caller's persistence).
    * `isCheckpointed` is the public discriminator: true only for
    * materialized checkpoint results, false for a raw caller-persisted
    * RDD wrapped in a frame.
    *
    * LOCAL checkpoints hold executor blocks — unpersist frees them
    * (`blocking = false`: removal is async, the next round proceeds
    * immediately). RELIABLE checkpoints hold FILES, not blocks — delete
    * the superseded round's rdd-N directory via Hadoop FS (r16 advice:
    * spark.cleaner.referenceTracking.cleanCheckpoints is off by
    * default, so an iterative loop would otherwise accrue
    * O(rounds × dataset) files under checkpointDir until context stop).
    * Only call on a round that is SUPERSEDED — i.e. the next round is
    * already materialized — exactly the existing loop contract.
    */
  def release(df: DataFrame): Unit =
    df.queryExecution.logical match {
      case lr: LogicalRDD if lr.rdd.isCheckpointed =>
        lr.rdd.getCheckpointFile.foreach { f =>
          try {
            val p = new org.apache.hadoop.fs.Path(f)
            val fs = p.getFileSystem(
              df.sparkSession.sparkContext.hadoopConfiguration)
            if (fs.delete(p, true)) reliableDeleted.incrementAndGet()
          } catch { case scala.util.control.NonFatal(_) => () }
        }
        lr.rdd.unpersist(blocking = false)
      case _ => ()
    }

  /** Per-round checkpoint saver for iterative loops — the
    * ConnectedComponents durability pattern, generalized (r15 verdict):
    * with `checkpointDir` set, EVERY round goes through reliable
    * `checkpoint()` (an HDFS/object-store path at cluster scale — a
    * lost executor re-reads its partitions instead of killing the job);
    * without it, `localCheckpoint` (executor blocks, truncated lineage,
    * single-node default). Mixing the two would be pointless: any round
    * downstream of a lost LOCAL checkpoint is unrecoverable, so
    * reliable mode must cover every round including the static sides.
    * Single-node overhead of the reliable arm is ~zero (CcMacroBench
    * r8: 97.4 vs 103.4 s; its real cluster cost is replication
    * bandwidth). [[release]] stays correct for both: reliable results
    * hold no executor blocks, so their unpersist is a no-op.
    */
  def saver(df: DataFrame, checkpointDir: Option[String])
      : DataFrame => DataFrame = {
    val sc = df.sparkSession.sparkContext
    checkpointDir match {
      case Some(dir) =>
        d => dirLock.synchronized {
          // setCheckpointDir is GLOBAL SparkContext state (r16 advice):
          // re-assert the dir at every call so sequentially interleaved
          // operators with different dirs each land files in their OWN
          // dir instead of whichever saver ran last. Two loops
          // checkpointing CONCURRENTLY in one context would still race
          // on the global — the lock serializes the set+checkpoint pair.
          sc.setCheckpointDir(dir)
          val out = d.checkpoint(eager = true)
          reliableCreated.incrementAndGet()
          out
        }
      case None => d => d.localCheckpoint(eager = true)
    }
  }

  /** End every query-scoped materialization in `spark`: drop all
    * cache-manager entries, then unpersist every persistent RDD —
    * local-checkpoint blocks and RDD-level `persist`s included, which
    * `clearCache` does not reach. A query's `.cache()`s and checkpoints
    * live until this runs: Verify calls it after each query's dump (the
    * dump is a full materialization, so nothing still reads them) and
    * specs call it in teardown. Bench never does — its passes time the
    * warm cache on purpose. Spark's plan-keyed cache manager is then the
    * only reuse across calls: a rebuild of the same plan within one
    * query's lifetime hits the same entry.
    */
  def releaseAll(spark: SparkSession): Unit = {
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values
      .foreach(_.unpersist(blocking = true))
  }
}
