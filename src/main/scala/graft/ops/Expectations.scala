package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Declarative data-quality expectations — the "expectation suite" ETL
  * surface (the shape popularized by data-quality frameworks: a table of
  * named constraints, each evaluated to a violation count and a pass flag).
  * Extends [[Validator]]'s fixed battery (null counts / dup PKs / length
  * caps, the reference's validate_data.py:69-86 semantics) to arbitrary
  * row-level predicates plus the two non-row-local constraint families a
  * warehouse needs: key uniqueness and referential integrity.
  *
  * == 100 TB shape ==
  * Every ROW-LEVEL expectation in a suite is evaluated in ONE scan — a
  * single aggregate of conditional counts (the single-pass device of
  * [[Validator]]'s C1 aggregate), unpivoted driver-side from one 1-row
  * result; the scan prunes to exactly the referenced columns. `unique` is one
  * key-grouped aggregate; `foreignKey` is one left-anti join (broadcast
  * when the parent is dim-sized). Nothing is collected beyond the 1-row
  * summary per non-row-local constraint.
  */
object Expectations {

  /** One named row-level expectation: `violated` is a boolean Column that is
    * true on rows BREAKING the constraint (NULL counts as violated — an
    * unevaluable constraint must not silently pass). */
  final case class Expectation(name: String, violated: Column)

  def notNull(name: String, c: Column): Expectation =
    Expectation(name, c.isNull)
  def inRange(name: String, c: Column, lo: Column, hi: Column): Expectation =
    Expectation(name, !(c >= lo && c <= hi) || c.isNull)
  def inSet(name: String, c: Column, values: Seq[Any]): Expectation =
    Expectation(name, !c.isin(values: _*) || c.isNull)
  def matches(name: String, c: Column, regex: String): Expectation =
    Expectation(name, !c.rlike(regex) || c.isNull)

  /** Evaluate all row-level expectations in one scan. Output: one row per
    * expectation (constraint, n_violations, pass). */
  def check(df: DataFrame, exps: Seq[Expectation]): DataFrame = {
    val spark = df.sparkSession
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types.{BooleanType, LongType, StringType, StructField, StructType}
    val aggs = exps.map(e =>
      sum(when(e.violated, 1L).otherwise(0L)).as(e.name))
    val row = df.agg(aggs.head, aggs.tail: _*).head()
    val out = exps.zipWithIndex.map { case (e, i) =>
      val v = if (row.isNullAt(i)) 0L else row.getLong(i) // empty input = 0 violations
      Row(e.name, v, v == 0L)
    }
    spark.createDataFrame(java.util.Arrays.asList(out: _*),
      StructType(Seq(StructField("constraint", StringType),
        StructField("n_violations", LongType), StructField("pass", BooleanType))))
  }

  /** Key-uniqueness expectation: n_violations = number of EXCESS rows
    * (rows beyond the first per key — 0 for a clean key). */
  def unique(df: DataFrame, name: String, keyCols: Seq[String]): DataFrame =
    df.groupBy(keyCols.map(col): _*).agg(count(lit(1)).as("n"))
      .agg(coalesce(sum(col("n") - 1L), lit(0L)).as("n_violations"))
      .select(lit(name).as("constraint"), col("n_violations"),
        (col("n_violations") === 0L).as("pass"))

  /** Referential-integrity expectation: child rows whose key has no match in
    * the parent (NULL child keys violate — use a separate notNull row to
    * distinguish). */
  def foreignKey(child: DataFrame, name: String, childKey: String,
      parent: DataFrame, parentKey: String): DataFrame = {
    val orphans = child.select(col(childKey).as("k"))
      .join(parent.select(col(parentKey).as("k")).distinct(), Seq("k"), "left_anti")
    orphans.agg(count(lit(1)).as("n_violations"))
      .select(lit(name).as("constraint"), col("n_violations"),
        (col("n_violations") === 0L).as("pass"))
  }

  /** A full suite: row-level battery + any table-level rows, one result
    * table (constraint, n_violations, pass). */
  def suite(rowLevel: DataFrame, tableLevel: Seq[DataFrame]): DataFrame =
    tableLevel.foldLeft(rowLevel)(_ unionByName _)
}
