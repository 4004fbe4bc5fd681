package graft

import org.apache.spark.sql.Dataset

/** Registry for persisted frames a query builder leaves alive for its
  * consumer (the returned DataFrame still references them lazily, so the
  * builder cannot unpersist before the caller materializes).
  *
  * Without a release point, every invocation of a persisting query
  * (qDedupJaccard, qDedupMinhash, qDedupComponents) pins a fresh
  * MEMORY_AND_DISK frame for the session lifetime — harmless in a
  * one-shot driver run, a genuine leak in bench loops and notebooks
  * (ADVICE r7). Harnesses call [[release]] after materializing a query's
  * result; the persisted data is dropped and any later re-collection of
  * the same frame just recomputes.
  */
object CacheScope {
  private val live = scala.collection.mutable.ArrayBuffer.empty[Dataset[_]]
  private val liveRdds =
    scala.collection.mutable.ArrayBuffer.empty[org.apache.spark.rdd.RDD[_]]

  /** Register a frame the builder persisted; returns it unchanged. */
  def track[T <: Dataset[_]](df: T): T = synchronized { live += df; df }

  /** Register RDD-level blocks (localCheckpoint) for release.
    * `Dataset.unpersist` only drops CacheManager entries made by
    * `persist()`; a localCheckpointed frame stores its blocks at the
    * RDD level, so releasing it needs the RDD itself (r8 review: the
    * components loop's Dataset-level unpersist calls were no-ops).
    * NOTE: unlike persisted frames, a checkpointed frame CANNOT be
    * recomputed after release — its lineage was truncated to the
    * blocks — so release() must only run after every consumer of the
    * returned frame has materialized (which is the harness contract). */
  def trackRdd(rdd: org.apache.spark.rdd.RDD[_]): Unit =
    synchronized { liveRdds += rdd }

  /** The materialized RDD behind a localCheckpointed frame (None if the
    * plan is not a checkpoint scan). */
  def checkpointRdd(df: Dataset[_]): Option[org.apache.spark.rdd.RDD[_]] =
    df.queryExecution.analyzed.collectFirst {
      case r: org.apache.spark.sql.execution.LogicalRDD => r.rdd
    }

  /** Memory plus disk bytes of `rdd`'s stored blocks, from the driver's
    * storage info (no job; 0 while none is reported). */
  def storedBytes(rdd: org.apache.spark.rdd.RDD[_]): Long =
    rdd.sparkContext.getRDDStorageInfo.find(_.id == rdd.id)
      .map(i => i.memSize + i.diskSize).getOrElse(0L)

  /** Unpersist (non-blocking) everything tracked since the last release. */
  def release(): Unit = synchronized {
    live.foreach(_.unpersist())
    live.clear()
    liveRdds.foreach(_.unpersist(blocking = false))
    liveRdds.clear()
  }
}
