package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Range joins — point-in-interval and interval-overlap — as EQUI-joins on a
  * fixed-width bucket key.
  *
  * Spark plans a bare `a.lo <= p AND p <= a.hi` join as
  * BroadcastNestedLoopJoin (or a cartesian product when neither side fits in
  * memory): O(N·M) compares and, at 100 TB, a full replication of one side to
  * every executor. The classic fix is bucketing the range axis: chunk the
  * value domain into width-`w` buckets, explode each interval to the buckets
  * it touches, map each point to its single bucket, hash-join on the bucket
  * id, and keep the exact `BETWEEN` as a residual filter. Work becomes
  * O(N + M·avgSpan/w + matches) and shuffles like any equi-join — AQE skew
  * splitting, broadcast-small-side, and co-partitioning all apply unchanged.
  *
  * Pick `bucketWidth` near the TYPICAL interval span: much smaller multiplies
  * the interval-side explosion (rows ≈ span/w per interval); much larger
  * packs many intervals and points into one bucket and the residual filter
  * does the work a finer key could have done. Both ends are correct — this is
  * a cost knob, not a semantics knob.
  *
  * Values may be any numeric type; bucketing uses `floor(value / w)` which
  * is exact and engine-portable for IEEE doubles and integers alike.
  */
object RangeJoin {

  private def bucketOf(c: Column, w: Double): Column = floor(c / w).cast("long")

  /** All (point, interval) pairs with `lo <= point <= hi`, as an inner
    * equi-join on the bucket key. Each point lives in exactly one bucket, so
    * no pair can match twice — no distinct needed. Rows with a null point or
    * null bounds never match (same as the SQL BETWEEN join). Column names
    * must not collide between the two sides (standard join hygiene). */
  def pointInInterval(points: DataFrame, pointCol: String,
      intervals: DataFrame, loCol: String, hiCol: String,
      bucketWidth: Double): DataFrame = {
    require(bucketWidth > 0, "rangeJoin: bucketWidth must be positive")
    val lo = col(loCol); val hi = col(hiCol)
    val exploded = intervals
      .filter(lo.isNotNull && hi.isNotNull && lo <= hi)
      .withColumn("__rj_bucket",
        explode(sequence(bucketOf(lo, bucketWidth), bucketOf(hi, bucketWidth))))
    points
      .filter(col(pointCol).isNotNull)
      .withColumn("__rj_bucket", bucketOf(col(pointCol), bucketWidth))
      .join(exploded, "__rj_bucket")
      .filter(col(pointCol) >= lo && col(pointCol) <= hi)
      .drop("__rj_bucket")
  }

  /** All (a, b) interval pairs that overlap: `a.lo <= b.hi AND b.lo <= a.hi`.
    * Both sides explode to their bucket sets; a pair sharing k buckets would
    * match k times, so the join keeps only the FIRST shared bucket —
    * `bucket == max(floor(a.lo/w), floor(b.lo/w))` — which every overlapping
    * pair shares exactly once (it is where the later-starting interval
    * begins, inside both). Exact overlap test stays as the residual. */
  def intervalOverlap(left: DataFrame, lloCol: String, lhiCol: String,
      right: DataFrame, rloCol: String, rhiCol: String,
      bucketWidth: Double): DataFrame = {
    require(bucketWidth > 0, "rangeJoin: bucketWidth must be positive")
    def explodeSide(df: DataFrame, loC: String, hiC: String, tag: String): DataFrame =
      df.filter(col(loC).isNotNull && col(hiC).isNotNull && col(loC) <= col(hiC))
        .withColumn(s"__rj_lob_$tag", bucketOf(col(loC), bucketWidth))
        .withColumn("__rj_bucket", explode(
          sequence(col(s"__rj_lob_$tag"), bucketOf(col(hiC), bucketWidth))))
    explodeSide(left, lloCol, lhiCol, "l")
      .join(explodeSide(right, rloCol, rhiCol, "r"), "__rj_bucket")
      .filter(col("__rj_bucket") === greatest(col("__rj_lob_l"), col("__rj_lob_r")))
      .filter(col(lloCol) <= col(rhiCol) && col(rloCol) <= col(lhiCol))
      .drop("__rj_bucket", "__rj_lob_l", "__rj_lob_r")
  }
}
