package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The one running-total primitive: an exact prefix sum with no window
  * partition the size of a key's rows (Blelloch's blocked scan, "Prefix
  * Sums and Their Applications", CMU-CS-90-190). */
object PrefixSum {

  /** `df` plus, for each `(in, out)` of `sums`, the exact INCLUSIVE running
    * sum `out` of the long column `in` per `keys` in `order`: what
    * `sum(in) OVER (PARTITION BY keys ORDER BY order ROWS BETWEEN UNBOUNDED
    * PRECEDING AND CURRENT ROW)` returns. `order` must be unique within a
    * key, so an exclusive sum is exactly `out - in`.
    *
    * `bucket` names a column of `df` that is a coarse MONOTONE function of
    * `order` (`shiftright(v, bits)`, which stays monotone for negative v,
    * or `h div 2^44`). Level 1 sums each (keys, bucket) and runs a window
    * over those bucket totals; level 2 runs a window partitioned by (keys,
    * bucket); the sum adds the two. No window partition is larger than one
    * key's buckets or one bucket's rows. Keys, bucket and order are
    * non-null at every call site; a row with a null key or bucket is not
    * returned.
    *
    * Plan policy, fixed:
    *  - the input is not persisted: it is read by both levels, and a caller
    *    whose input replays an expensive lineage persists it itself;
    *  - the bucket-prefix join has no hint: that side is bucket-sized, and
    *    AQE broadcasts it from the measured stage size;
    *  - with no keys, the level-1 window is partitioned by a constant but
    *    non-foldable key (as [[QualityFilter.equalFrequencyBins]] does): its
    *    one partition holds one row per bucket, by design. */
  def running(df: DataFrame, keys: Seq[String], bucket: String,
      order: Seq[Column], sums: (String, String)*): DataFrame = {
    val part = (keys :+ bucket).map(col)
    val total = sums.indices.map(i => s"__ps_t$i")
    val below = sums.indices.map(i => s"__ps_b$i")
    val wb = Window
      .partitionBy((if (keys.isEmpty) Seq(pmod(col("__ps_n"), lit(1))) else keys.map(col)): _*)
      .orderBy(bucket).rowsBetween(Window.unboundedPreceding, -1)
    val bucketBelow = df.groupBy(part: _*)
      .agg(count(lit(1)).as("__ps_n"),
        sums.zip(total).map { case ((in, _), t) => sum(in).as(t) }: _*)
      .select(part ++ total.zip(below).map { case (t, b) =>
        coalesce(sum(t).over(wb), lit(0L)).as(b) }: _*)
    val ww = Window.partitionBy(part: _*).orderBy(order: _*)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    df.join(bucketBelow, keys :+ bucket)
      .select(df.columns.toSeq.map(col) ++ sums.zip(below).map { case ((in, out), b) =>
        (col(b) + sum(in).over(ww)).as(out) }: _*)
  }
}
