package org.apache.spark

/** The two Spark internals the harness needs that have no public API:
  * draining the async listener bus before reading traced counters, and
  * the block managers' RDD-block census (a non-blocking unpersist drops
  * the RDD from `getPersistentRDDs` before its blocks are gone). */
object PerfbenchAccess {
  def drainListenerBus(sc: SparkContext): Unit =
    sc.listenerBus.waitUntilEmpty()

  /** RDD blocks (persisted or locally checkpointed) still held, and
    * their bytes in memory plus on disk. */
  def rddBlocks(sc: SparkContext): (Int, Long) = {
    val held = sc.env.blockManager.master.getStorageStatus.toSeq.flatMap(_.rddBlocks.values)
    (held.size, held.map(b => b.memSize + b.diskSize).sum)
  }
}
