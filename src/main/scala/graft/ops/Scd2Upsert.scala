package graft.ops

import java.sql.Date
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.model.{Schemas, Scd2Spec}

/** C2: SCD Type-2 dimension upsert, the engine's centerpiece, generic over
  * [[Scd2Spec]] exactly as dynamic_upsert.py is generic over its schema dicts.
  *
  * Reference semantics reproduced faithfully (dynamic_upsert.py:108-152):
  *   1. staging = SELECT DISTINCT tracked-columns FROM source   (A3, :120-122)
  *   2. close-out: every current dim row (EndDate = 9999-12-31) whose business
  *      key appears in the source gets EndDate = runDate - 1 day  (P7+P8, :128-131)
  *   3. append: ALL staged rows become new versions with StartDate = runDate,
  *      EndDate = 9999-12-31, and fresh IDENTITY surrogate keys   (:137-139)
  *
  * Note the as-is behavior: the reference re-versions EVERY source row each
  * run, changed or not — there is no change detection (SURVEY.md §7.5.1).
  * [[run]] reproduces that.
  *
  * Scale notes:
  *  - The close-out "UPDATE" is a left join of dim against the broadcast
  *    distinct source keys (no dim shuffle). No in-place update exists in
  *    Spark — the caller persists the returned frame via
  *    [[graft.catalog.Catalog.write]]'s atomic version swap, giving the
  *    reference's transactional visibility.
  *  - Surrogate keys use a window over the (small) staged increment only, not
  *    the whole dimension — the existing dim is never re-keyed or sorted.
  *  - `runDate` is injected (not `current_date()`) for determinism (F7,
  *    SURVEY.md §7.5.5).
  */
object Scd2Upsert {

  /** One SCD2 run. `dim` may be empty (initial load) but must carry the dim
    * schema: surrogateKey, tracked columns, start/end dates. */
  def run(source: DataFrame, dim: DataFrame, spec: Scd2Spec, runDate: Date): DataFrame = {
    val staged = source.select(spec.trackedColumns.map(col): _*).distinct()

    val stagedKeys = staged.select(spec.businessKey).distinct()
    val isCurrent = col(spec.endDateCol) === lit(Schemas.HighDate)

    // Close-out rewrite of the reference's UPDATE (dynamic_upsert.py:128-131):
    // a left join marks the keys present in the source ("IN (SELECT ... FROM
    // source)", P7); matched current rows get EndDate = runDate - 1 day,
    // everyone else passes through unchanged. The staged key set is
    // broadcast, so the dimension is never shuffled.
    val hitKeys = stagedKeys.withColumn("__hit", lit(true))
    val closed = dim
      .join(broadcast(hitKeys), Seq(spec.businessKey), "left")
      .withColumn(spec.endDateCol,
        when(isCurrent && col("__hit"), date_sub(lit(runDate), 1))
          .otherwise(col(spec.endDateCol)))
      .drop("__hit")

    // New versions for every staged row (no change detection — as-is parity).
    val offset = SurrogateKeys.maxKey(dim, spec.surrogateKey)
    val newRows = assignKeys(staged, spec, offset)
      .withColumn(spec.startDateCol, lit(runDate))
      .withColumn(spec.endDateCol, lit(Schemas.HighDate))
      .select(dimColumns(spec).map(col): _*)

    closed.select(dimColumns(spec).map(col): _*).unionByName(newRows)
  }

  /** Key assignment ordered by ALL tracked columns, not just the business
    * key: the staging is `SELECT DISTINCT trackedColumns`, so one business
    * key can stage two attribute variants in a batch — ordering by the full
    * row makes which variant gets which key deterministic across reruns. */
  private def assignKeys(staged: DataFrame, spec: Scd2Spec, offset: Long): DataFrame =
    SurrogateKeys.assign(staged, spec.surrogateKey, offset, spec.trackedColumns: _*)

  /** Initial load: empty dim → every source row becomes version 1. */
  def initialLoad(source: DataFrame, spec: Scd2Spec, runDate: Date): DataFrame = {
    val staged = source.select(spec.trackedColumns.map(col): _*).distinct()
    assignKeys(staged, spec, 0L)
      .withColumn(spec.startDateCol, lit(runDate))
      .withColumn(spec.endDateCol, lit(Schemas.HighDate))
      .select(dimColumns(spec).map(col): _*)
  }

  /** Current-version slice (P6): EndDate = 9999-12-31 (populate_fact.py:124). */
  def currentRows(dim: DataFrame, spec: Scd2Spec): DataFrame =
    dim.filter(col(spec.endDateCol) === lit(Schemas.HighDate))

  /** Point-in-time slice: the version of each business key valid on `asOf`
    * (validity intervals are inclusive on both ends — close-out sets
    * EndDate = nextRunDate − 1 day, dynamic_upsert.py:129). The consumer
    * side of SCD2: joining facts to `asOfRows(dim, spec, factDate)` yields
    * the attributes as they were when the fact happened. Filter-only — at
    * scale it rides predicate pushdown into the dim scan. */
  def asOfRows(dim: DataFrame, spec: Scd2Spec, asOf: java.sql.Date): DataFrame =
    dim.filter(col(spec.startDateCol) <= lit(asOf) && col(spec.endDateCol) >= lit(asOf))

  def dimColumns(spec: Scd2Spec): Seq[String] =
    (spec.surrogateKey +: spec.trackedColumns) ++ Seq(spec.startDateCol, spec.endDateCol)
}
