package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.storage.StorageLevel

/** Reachable cleanup handle for operator-internal persisted frames whose
  * lifetime must ESCAPE the building function: the returned lazy plan reads
  * them more than once, so there is no safe in-function unpersist point,
  * and the caller holds no reference to unpersist either. Every such site
  * registers here at persist time ([[PersistTrackedOps.persistTracked]]);
  * a long-lived session calls [[releaseAll]] between batches/queries to
  * drop the accumulated MEMORY_AND_DISK entries — the concrete contract
  * behind every "caller owns unpersist" scaladoc in this package. (A bench
  * or notebook can equivalently `spark.catalog.clearCache()`; releaseAll
  * is narrower — it touches only graft-tracked frames, never the user's
  * own caches or catalog tables.)
  *
  * Registration holds a strong reference until release, which is the
  * point: the frame must stay listed even after the caller drops the plan.
  * Frames a function unpersists itself (try/finally loops) do NOT register.
  *
  * One cache rule, owned by the creator ([[persistIfAbsent]]): a plan is
  * persisted only if it is not cached already, and only the call that
  * persisted it owns the entry. So a second build of the same plan neither
  * re-persists nor re-registers it, and [[releaseAll]] never drops a
  * session-shared frame that `Q.cached` persisted first.
  */
object CacheGuard {
  private val tracked =
    new java.util.concurrent.ConcurrentHashMap[SparkSession,
      java.util.Queue[DataFrame]]()

  private[graft] def track(df: DataFrame): DataFrame = {
    tracked.keySet.removeIf(_.sparkContext.isStopped)
    tracked.computeIfAbsent(df.sparkSession,
      _ => new java.util.concurrent.ConcurrentLinkedQueue[DataFrame]()).add(df)
    df
  }

  /** How many frames are currently tracked for `spark` (spec probe). */
  private[graft] def trackedCount(spark: SparkSession): Int = {
    val q = tracked.get(spark)
    if (q == null) 0 else q.size
  }

  /** Unpersist every graft-tracked frame of `spark` (blocking = false; the
    * block drop proceeds asynchronously). Returns how many were released.
    * Idempotent: frames already unpersisted release as no-ops. */
  def releaseAll(spark: SparkSession): Int = {
    val q = tracked.remove(spark)
    if (q == null) 0
    else {
      var n = 0
      var df = q.poll()
      while (df != null) { df.unpersist(false); n += 1; df = q.poll() }
      n
    }
  }

  /** Persist `df` at `lvl` unless its plan is already cached. True when
    * this call persisted it: the caller then owns the cache entry. */
  private[graft] def persistIfAbsent(df: DataFrame,
      lvl: StorageLevel = StorageLevel.MEMORY_AND_DISK): Boolean =
    df.storageLevel == StorageLevel.NONE && { df.persist(lvl); true }

  implicit class PersistTrackedOps(private val df: DataFrame) extends AnyVal {
    /** [[persistIfAbsent]] + register with [[CacheGuard]] when this call
      * persisted — for frames the returned plan reads but the function
      * cannot unpersist. */
    def persistTracked(
        lvl: StorageLevel = StorageLevel.MEMORY_AND_DISK): DataFrame =
      if (persistIfAbsent(df, lvl)) track(df) else df
  }
}
