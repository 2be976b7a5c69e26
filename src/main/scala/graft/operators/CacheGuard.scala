package graft.operators

import org.apache.spark.sql.SparkSession

object CacheGuard {
  /** Kept for callers built against the old session-wide release: every
    * operator now ends the life of the frames it persists, so there is
    * nothing left to release and this returns 0. */
  def releaseAll(spark: SparkSession): Int = 0
}
