package graft.ops

import org.apache.spark.sql.{Column, DataFrame, Observation, Row}
import org.apache.spark.sql.functions._
import graft.model.TableSpec

/** C1 validation (validate_data.py:40-86): NOT NULL check on every column,
  * VARCHAR widths and primary-key uniqueness, raising on the first violation.
  *
  * The reference issues N+1 full-table scans — one `SELECT COUNT(*) WHERE col
  * IS NULL` per column (validate_data.py:69-71) plus one `GROUP BY pk HAVING
  * COUNT(*) > 1` (validate_data.py:79-81). At 100 TB that is N+1 reads of the
  * table; this engine collapses the row count, all null counts and all
  * over-width counts into ONE aggregate (`count(when(isnull(c),1))` per
  * column in a single `select`, no shuffle) and the duplicate scan into one
  * hash aggregate. Where each check runs:
  *  - [[validate]] (standalone): both aggregates over a cached parse.
  *  - [[whileWriting]] (the pipeline's load): the null/width/row-count
  *    aggregate rides the write job as observed metrics, and the duplicate
  *    check reads the freshly written parquet before the catalog flips its
  *    pointer — the CSV is parsed once.
  */
object Validator {

  final case class ValidationResult(
      table: String,
      rowCount: Long,
      nullViolations: Map[String, Long],  // column -> null count (only >0 entries)
      duplicateKeys: Long,                // number of distinct PK values appearing >1 time
      lengthViolations: Map[String, Long] = Map.empty // column -> over-VARCHAR-width count
  ) {
    def ok: Boolean = nullViolations.isEmpty && duplicateKeys == 0 && lengthViolations.isEmpty
  }

  /** Raised with the same message semantics as validate_data.py:74 ("Not Null
    * constraints violation") and :85 (duplicate key). */
  final class ValidationException(msg: String) extends RuntimeException(msg)

  /** ANALYZE-style column statistics: per column the min/max (rendered
    * through each engine's canonical string cast — avoid float columns,
    * whose text formats differ), NULL count, and EXACT distinct count. The
    * optimizer-stats surface of a warehouse (NDVs feed join sizing, min/max
    * feed zone-map pruning).
    *
    * Shape: one SINGLE-distinct aggregate job per column, submitted
    * concurrently. k exact count_distincts in one aggregate would trigger
    * Spark's Expand rewrite — (k+1)× row duplication through the first
    * aggregate — whereas a lone distinct column plans as a partial
    * aggregate keyed on the value (map-side dedup, no duplication), and
    * each job's scan is column-pruned to exactly its one column, so total
    * bytes read equal the single wide scan. Concurrent scheduling makes
    * wall-time ≈ one column; on a cluster the jobs share executors the
    * same way. Swap in approx_count_distinct when ±2% NDVs are acceptable
    * at the 100 TB tier. Output: one row per column (column_name, n_rows,
    * min_value, max_value, n_nulls, n_distinct). */
  def columnStats(df: DataFrame, cols: Seq[String]): DataFrame = {
    import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
    import scala.concurrent.{Await, ExecutionContext, Future}
    import scala.concurrent.duration.Duration
    val spark = df.sparkSession
    val pool = java.util.concurrent.Executors.newFixedThreadPool(math.min(cols.size max 1, 8))
    val ec = ExecutionContext.fromExecutorService(pool)
    val out = try {
      val futures = cols.map { c =>
        Future {
          val r = df.select(col(c)).agg(
            count(lit(1)).as("n"),
            min(col(c)).cast("string").as("mn"),
            max(col(c)).cast("string").as("mx"),
            count(when(col(c).isNull, 1)).as("nulls"),
            count_distinct(col(c)).as("ndv")).head()
          Row(c, r.getLong(0), r.getString(1), r.getString(2), r.getLong(3), r.getLong(4))
        }(ec)
      }
      futures.map(Await.result(_, Duration.Inf))
    } finally pool.shutdown()
    spark.createDataFrame(java.util.Arrays.asList(out: _*),
      StructType(Seq(StructField("column_name", StringType),
        StructField("n_rows", LongType), StructField("min_value", StringType),
        StructField("max_value", StringType), StructField("n_nulls", LongType),
        StructField("n_distinct", LongType))))
  }

  /** A2: distinct PK values that occur more than once. */
  def duplicateKeys(df: DataFrame, pk: Seq[String]): DataFrame =
    df.groupBy(pk.map(col): _*).count().filter(col("count") > 1)

  /** The C1 rules over the columns of a frame that `spec` declares. One
    * aggregate carries the row count, every NOT NULL count AND every
    * VARCHAR over-width count (the width the reference's DDL would have
    * enforced at COPY time, dynamic_upsert.py:17-26), however many
    * constraints the spec declares. [[validate]] runs it as its own job;
    * [[whileWriting]] observes it inside the write job. */
  private final class Rules(spec: TableSpec, columns: Seq[String]) {
    private val present = columns.map(_.toLowerCase).toSet
    private val checkCols = spec.columnNames.filter(c => present(c.toLowerCase))
    private val lenCols = spec.lengthColumns.filter { case (c, _) => present(c.toLowerCase) }

    val aggs: Seq[Column] =
      (count(lit(1)).as("__rows") +:
        checkCols.map(c => count(when(col(c).isNull, 1)).as(s"__null_$c"))) ++
        lenCols.map { case (c, n) => count(when(length(col(c)) > n, 1)).as(s"__len_$c") }

    /** Decodes the aggregate's values (`metric` looks one up by its
      * alias), then counts duplicate keys with `dups`. With `failFast` the
      * first violation raises, in the order nulls, widths, duplicates;
      * `dups` is not evaluated once nulls or widths failed. */
    def check(metric: String => Long, dups: => Long, failFast: Boolean): ValidationResult = {
      val nulls = checkCols.map(c => c -> metric(s"__null_$c")).filter(_._2 > 0).toMap
      val lens = lenCols.map { case (c, _) => c -> metric(s"__len_$c") }.filter(_._2 > 0).toMap
      if (failFast && nulls.nonEmpty)
        throw new ValidationException(
          s"Not Null constraints violation in table ${spec.name}: " +
            nulls.keys.toSeq.sorted.mkString(", "))
      if (failFast && lens.nonEmpty)
        throw new ValidationException(
          s"Value exceeds declared VARCHAR length in table ${spec.name}: " +
            lens.keys.toSeq.sorted.mkString(", "))
      val dupCount = if (spec.primaryKey.nonEmpty) dups else 0L
      if (failFast && dupCount > 0)
        throw new ValidationException(
          s"Duplicate values found in column(s) ${spec.primaryKey.mkString(",")} " +
            s"of table ${spec.name}")
      ValidationResult(spec.name, metric("__rows"), nulls, dupCount, lens)
    }
  }

  /** Standalone C1 check: caches the input, runs the rules aggregate, then
    * counts duplicate keys over the cache — two actions on one parse. Set
    * `failFast=true` for the reference's raise-on-violation behavior.
    * [[graft.run.PipelineRunner.run]] validates with [[whileWriting]]. */
  def validate(df: DataFrame, spec: TableSpec, failFast: Boolean = false): ValidationResult = {
    val cached = df.cache()
    try {
      val rules = new Rules(spec, cached.columns.toSeq)
      val row = cached.select(rules.aggs: _*).head()
      rules.check(row.getAs[Long](_),
        duplicateKeys(cached, spec.primaryKey).count(), failFast)
    } finally cached.unpersist()
  }

  /** C1 folded into a catalog write, raising exactly what
    * `validate(df, spec, failFast = true)` raises, in the same order.
    * Returns the frame to write, which gathers the rules aggregate with
    * `Dataset.observe` inside the write job, and the pre-flip check to
    * pass to `Catalog.write`: it reads the observed metrics, then looks for
    * duplicate keys in the freshly written version (one aggregate, no
    * cache; only emptiness is needed, so the count it reports is 0 or 1). */
  def whileWriting(df: DataFrame, spec: TableSpec): (DataFrame, DataFrame => Unit) = {
    val rules = new Rules(spec, df.columns.toSeq)
    val metrics = Observation()
    (df.observe(metrics, rules.aggs.head, rules.aggs.tail: _*),
      written => {
        val observed = metrics.get
        rules.check(observed(_).asInstanceOf[Long],
          if (duplicateKeys(written, spec.primaryKey).isEmpty) 0L else 1L,
          failFast = true): Unit
      })
  }
}
