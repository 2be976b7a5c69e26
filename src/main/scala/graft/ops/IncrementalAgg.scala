package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.catalog.Catalog

/** Incremental maintenance of a grouped-aggregate table — the nightly-ETL
  * answer to "keep daily revenue current without re-scanning history":
  * each refresh folds ONE batch's partial aggregates into the stored
  * table, so the recurring cost is O(batch + |group set|) regardless of
  * how much history the aggregate summarizes. This works exactly for the
  * self-mergeable aggregates (counts and sums — and anything derivable
  * from them at read time: averages, rates); min/max would merge too but
  * never un-merge, and exact distincts would not.
  *
  * Plan shape per refresh: one batch-sized grouped aggregate (map-side
  * combine), one union with the group-set-sized stored table, one merge
  * aggregate on the same keys — a single shuffle keyed by the group
  * columns. The store goes through the versioned catalog: each refresh is
  * an atomic pointer flip, a bad batch is one `rollback` away, and
  * readers never see a half-merged table.
  *
  * Exactly-once is the CALLER's contract (same as `Catalog.append`): a
  * replayed batch double-counts, so refresh each batch once.
  */
object IncrementalAgg {

  /** Fold `batch` into `table`: the stored schema is `keys` ++ `n_rows` ++
    * `<c>_sum` per sum column. Sums stay BIGINT (exact, portable);
    * pre-scale monetary doubles to integer cents upstream. */
  def refresh(cat: Catalog, table: String, batch: DataFrame,
      keys: Seq[String], sumCols: Seq[String]): Unit = {
    val partial = batch.groupBy(keys.map(col): _*)
      .agg(count(lit(1)).as("n_rows"),
        sumCols.map(c => sum(col(c)).cast("long").as(s"${c}_sum")): _*)
    cat.write(table,
      if (!cat.exists(table)) partial
      else cat.read(table).unionByName(partial)
        .groupBy(keys.map(col): _*)
        .agg(sum(col("n_rows")).cast("long").as("n_rows"),
          sumCols.map(c => sum(col(s"${c}_sum")).cast("long").as(s"${c}_sum")): _*))
  }
}
