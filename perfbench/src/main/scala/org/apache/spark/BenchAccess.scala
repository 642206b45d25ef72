package org.apache.spark

/** The two scheduler/storage facts the benchmark needs that Spark keeps
  * package-private: how many bytes cached RDD blocks hold right now, and
  * a barrier that waits until every posted listener event is delivered.
  */
object BenchAccess {

  /** Bytes (memory + disk) held by RDD blocks across all block managers:
    * `.cache()`/`.persist()` data and local checkpoints, never broadcasts
    * or shuffle files.
    */
  def rddBlockBytes(sc: SparkContext): Long =
    sc.env.blockManager.master.getStorageStatus
      .map(_.rddBlocks.values.map(b => b.memSize + b.diskSize).sum)
      .sum

  def drainListeners(sc: SparkContext): Unit =
    sc.listenerBus.waitUntilEmpty()
}
