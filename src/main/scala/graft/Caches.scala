package graft

import scala.collection.mutable

import org.apache.spark.sql.DataFrame

/** Registry for DataFrames cached INSIDE library operators (the
  * intermediate frames an operator reuses across two or more of its own
  * joins/aggregates, e.g. dedup signatures or exploded token postings).
  *
  * Spark never auto-unpersists a cached plan, so an operator that caches an
  * intermediate and returns a lazy result would otherwise pin executor
  * memory for the life of the session. One-shot drivers (Verify/Bench)
  * don't care; a long-lived session does. The contract:
  *
  *  - operators route internal caches through [[track]];
  *  - callers invoke [[unpersistAll]] once they have CONSUMED the returned
  *    frames (collected / written — after that the cache is dead weight).
  *
  * Deliberately coarse-grained: per-operator handles would leak into every
  * signature for a bookkeeping concern. Caches whose lifecycle is already
  * internal to one call (cached AND unpersisted inside, like the pair and
  * edge frames of `Dedup.components`) don't go through here; an operator
  * that drops a tracked cache before returning (a superseded
  * label-propagation round) hands it to [[release]].
  *
  * The registry is PER THREAD: [[unpersistAll]] releases only the caches
  * the calling thread tracked, so two callers sharing one session (a
  * stream's `foreachBatch` thread next to a query thread) never release
  * each other's live frames. Every caller builds, consumes and releases on
  * one thread.
  */
object Caches {
  private val live = ThreadLocal.withInitial[mutable.ListBuffer[DataFrame]](
    () => mutable.ListBuffer.empty[DataFrame])

  def track(df: DataFrame): DataFrame =
    track(df, org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)

  /** [[track]] with an explicit storage level. The pair-stream dedup
    * operators pass MEMORY_AND_DISK_SER (r15 verdict #1c: under the 2 GiB
    * canary the deserialized postings cache competes with execution memory
    * for the unified region, and its eviction/unroll churn is what made
    * `d2_jaccard_prefix` reps swing >3× — serialized batches are several
    * times smaller, so the cache either fits or spills ONCE to disk
    * instead of thrashing; steady-state cost is one deserialization per
    * consumer, measured in the noise at clean-window scale).
    */
  def track(df: DataFrame,
      level: org.apache.spark.storage.StorageLevel): DataFrame = {
    df.persist(level)
    live.get += df
    df
  }

  /** Unpersist every cache this thread tracked (non-blocking) and clear its
    * registry.
    */
  def unpersistAll(): Unit = {
    live.get.foreach(_.unpersist(false))
    live.get.clear()
  }

  /** Unpersist one cache this thread tracked and stop tracking it. */
  private[graft] def release(df: DataFrame): Unit = {
    df.unpersist(false)
    live.get -= df
  }

  private[graft] def snapshot: Seq[DataFrame] = live.get.toList
}
