package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** k-anonymity auditing and enforcement over quasi-identifier columns
  * (Sweeney 2002) — the record-level privacy companion to text-level PII
  * redaction ([[graft.functions.Text.redactPii]]): a row is re-identifiable
  * when its quasi-identifier combination (nation × segment × coarse
  * balance, ...) is shared by fewer than k rows, REGARDLESS of any direct
  * identifiers having been scrubbed. Training-data releases audit this
  * before shipping structured metadata next to text.
  *
  * == Shape ==
  * One grouped count over the quasi-identifier key per call — equivalence
  * classes are group-cardinality-sized; the audit summary is a second
  * aggregate OVER THE CLASSES (class-count-sized, not data-sized).
  * Enforcement is the same grouped count joined back as a keep-filter
  * (broadcast when classes fit). Nothing driver-side, no all-pairs.
  */
object Privacy {

  private def classes(df: DataFrame, quasiCols: Seq[String]): DataFrame =
    df.groupBy(quasiCols.map(col): _*).agg(count(lit(1)).as("class_size"))

  /** One-row audit: number of equivalence classes, classes below k, rows at
    * risk (in sub-k classes), and the minimum class size (the dataset's
    * actual anonymity level). */
  def kAnonymityAudit(df: DataFrame, quasiCols: Seq[String], k: Long): DataFrame =
    classes(df, quasiCols).agg(
      count(lit(1)).as("n_classes"),
      sum(when(col("class_size") < k, 1L).otherwise(0L)).as("n_small_classes"),
      coalesce(sum(when(col("class_size") < k, col("class_size"))), lit(0L))
        .as("n_rows_at_risk"),
      min(col("class_size")).as("k_actual"))

  /** l-diversity audit (Machanavalhala et al. 2007): k-anonymity alone
    * still leaks when every member of a class SHARES the sensitive value
    * (the homogeneity attack — knowing someone's class reveals their value
    * even though k rows share it). One grouped count-distinct over
    * (quasi-key → sensitive) per class; summary is class-count-sized.
    * Output: n_classes, classes with < l distinct sensitive values, rows in
    * those classes, and the dataset's actual diversity level. */
  def lDiversityAudit(df: DataFrame, quasiCols: Seq[String], sensitiveCol: String,
      l: Long): DataFrame =
    df.groupBy(quasiCols.map(col): _*)
      .agg(count(lit(1)).as("class_size"),
        count_distinct(col(sensitiveCol)).as("n_sensitive"))
      .agg(
        count(lit(1)).as("n_classes"),
        sum(when(col("n_sensitive") < l, 1L).otherwise(0L)).as("n_homogeneous"),
        coalesce(sum(when(col("n_sensitive") < l, col("class_size"))), lit(0L))
          .as("n_rows_at_risk"),
        min(col("n_sensitive")).as("l_actual"))

  /** Suppression enforcement: drop every row whose quasi-identifier class
    * holds fewer than k rows — the surviving table IS k-anonymous on
    * `quasiCols` (the standard release step when generalization isn't
    * wanted). */
  def suppressSmallClasses(df: DataFrame, quasiCols: Seq[String], k: Long): DataFrame = {
    // NULL-safe semi join: groupBy put the all-NULL quasi-identifier rows
    // in ONE class, so a large-enough NULL class must survive — a plain
    // equi-join would silently drop every NULL-keyed row instead
    val keep = classes(df, quasiCols).filter(col("class_size") >= k)
      .drop("class_size")
    val cond = quasiCols.map(c => df(c) <=> keep(c)).reduce(_ && _)
    df.join(keep, cond, "left_semi")
  }

  /** t-closeness audit (Li et al. 2007) — the third leg of the release
    * triple after k-anonymity and l-diversity: per quasi-identifier class,
    * the Earth Mover's Distance between the class's distribution of an
    * ORDERED sensitive attribute (`bucketCol`, integer buckets) and the
    * global distribution. For ordered categories EMD is the mean absolute
    * cumulative gap: Σ_b |cumC_b/n_c − cumG_b/N| / (m−1). Kept EXACT by
    * cross-multiplying — D_b = |cumC_b·N − cumG_b·n_c| is a BIGINT and
    * emd_ppm = ⌊Σ D_b · 10⁶ / ((m−1)·n_c·N)⌋ — so the audit replays
    * bit-identically (overflow bound: Σ D_b·10⁶ ≤ (m−1)·n_c·N·10⁶ < 2^63
    * for n_c·N < 9·10¹¹ / (m−1); bucket-census inputs, not row scale).
    *
    * Shape: one (class, bucket) census + one bucket census, windows over
    * the m-bucket-sized per-class frames; output is class-cardinality.
    * NULL quasi-identifier/bucket values are the caller's to coalesce
    * first — the grid joins are plain equality joins. */
  def tClosenessAudit(df: DataFrame, quasiCols: Seq[String], bucketCol: String,
      tPpm: Long): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val m = df.agg(count_distinct(col(bucketCol)).as("m"))
    val g = df.groupBy(col(bucketCol)).agg(count(lit(1)).as("g_b"))
      .withColumn("cum_g", sum("g_b").over(
        Window.orderBy(col(bucketCol))
          .rowsBetween(Window.unboundedPreceding, 0)))
    val n = df.agg(count(lit(1)).as("n"))
    val qc = quasiCols.map(col)
    // per-class bucket counts on the GLOBAL bucket grid (a class missing a
    // bucket still accumulates the global mass gap there)
    val cls = df.groupBy(qc :+ col(bucketCol): _*).agg(count(lit(1)).as("c_b"))
    val grid = df.select(qc: _*).distinct().crossJoin(g.select(col(bucketCol)))
      .join(cls, quasiCols :+ bucketCol, "left")
      .withColumn("c_b", coalesce(col("c_b"), lit(0L)))
      .withColumn("cum_c", sum("c_b").over(
        Window.partitionBy(qc: _*).orderBy(col(bucketCol))
          .rowsBetween(Window.unboundedPreceding, 0)))
      .join(g.select(col(bucketCol), col("cum_g")), Seq(bucketCol))
    val nc = grid.groupBy(qc: _*).agg(sum("c_b").as("n_class"))
    val d = grid.join(nc, quasiCols).crossJoin(broadcast(n))
      .groupBy(qc :+ col("n_class") :+ col("n"): _*)
      .agg(sum(abs(col("cum_c") * col("n") - col("cum_g") * col("n_class")))
        .as("d_sum"))
    d.crossJoin(broadcast(m))
      .select(qc :+ col("n_class") :+
        expr("(d_sum * 1000000) div (greatest(m - 1, 1) * n_class * n)")
          .as("emd_ppm"): _*)
      .withColumn("t_ok", col("emd_ppm") <= tPpm)
  }
}
