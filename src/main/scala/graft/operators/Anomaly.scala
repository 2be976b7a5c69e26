package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import CacheGuard.PersistTrackedOps

/** Metric anomaly detection over keyed integer series (event counts per
  * window, rows per batch, bytes per source) — the pipeline-health monitor
  * of a recurring ingest.
  *
  * The k-sigma rule is evaluated in EXACT integer arithmetic: for a series
  * value c in a group with n points and sum s, the test
  * (c − μ)² > k²·σ² (sample variance σ² = Σ(cᵢ − μ)²/(n−1)) multiplies
  * through by n²·(n−1) into
  *
  *   (n·c − s)² · (n−1)  >  k² · Σ(n·cᵢ − s)²
  *
  * — every operand an integer (promoted to decimal(38,0) for the squares),
  * so no float mean/stddev ever enters and flags are bit-reproducible at
  * any parallelism and across engines (the q_x_anomaly oracle replays the
  * inequality verbatim). Shape: ONE shuffle on the group key; both window
  * passes share the partitioning.
  *
  * ==Magnitude contract==
  * Intermediates live in decimal(38,0). With n points per group and
  * |value| ≤ V the largest term is Σ(n·cᵢ−s)² ≤ 4·n³·V², so results are
  * exact while k²·4·n³·V² < 10³⁸ — e.g. n ≤ 10⁶ points per key with
  * values up to 10⁹, or n ≤ 10⁹ with values up to 10⁷ (event/row/byte
  * counts per window sit far inside this). BEYOND the bound, non-ANSI
  * Spark overflows decimal to silent NULL — flags come back NULL, not
  * wrong, but with no error (the DuckDB oracle's HUGEINT raises instead).
  * Callers with pathological magnitudes should set
  * `spark.sql.ansi.enabled=true`, which turns the overflow into a loud
  * ArithmeticException.
  */
object Anomaly {

  /** See the object-level magnitude contract: exact while k²·4·n³·V² < 10³⁸;
    * beyond it `is_anomaly` degrades to silent NULL under non-ANSI Spark. */
  def sigmaOutliers(series: DataFrame, keyCols: Seq[String], valueCol: String,
      k: Int = 3): DataFrame = {
    val w = Window.partitionBy(keyCols.map(col): _*)
    series
      .withColumn("_n", count(lit(1)).over(w))
      // promote BEFORE the n·c multiply: in Long it would wrap silently on
      // extreme series (while the oracle's BIGINT raises), breaking the
      // bit-reproducibility contract
      .withColumn("_dev", dec(col("_n")) * col(valueCol) - sum(col(valueCol)).over(w))
      .withColumn("_ssd", sum(dec(col("_dev")) * col("_dev")).over(w))
      .withColumn("is_anomaly",
        dec(col("_dev")) * col("_dev") * (col("_n") - 1) > lit(k * k) * col("_ssd"))
      .drop("_n", "_dev", "_ssd")
  }

  private val dec: Column => Column = _.cast("decimal(38,0)")

  /** Robust outliers: |v − median| > k·MAD (median absolute deviation).
    * The k-sigma test suffers MASKING — a large outlier inflates the σ
    * that is supposed to flag it (and a 2nd copy of the spike can hide
    * both); median/MAD have a 50% breakdown point, the standard robust
    * alternative. Keeps `med`/`mad` columns for score visibility.
    *
    * Exactness: inputs are integer counts, and the exact interpolated
    * median of integers is always x.0/x.5 — representable doubles, so
    * both engines compute bit-identical med/MAD/flags (no stddev floats;
    * same design rule as the integer k-sigma inequality above).
    * Known MAD caveat, deliberate: a ≥50%-constant series has MAD = 0 and
    * flags EVERY deviating point — k-sigma is the right test there.
    *
    * Shape: two grouped exact-percentile aggregates (key-cardinality
    * results, broadcast back) — two passes over the series, the minimum
    * any robust fit needs; scoring stays map-side. */
  def madOutliers(series: DataFrame, keyCols: Seq[String], valueCol: String,
      k: Int = 3): DataFrame = {
    val keys = keyCols.map(col)
    val med = series.groupBy(keys: _*)
      .agg(expr(s"percentile($valueCol, 0.5)").as("med"))
    val scored = series.join(broadcast(med), keyCols)
      .withColumn("_adev", abs(col(valueCol) - col("med")))
    val madDf = scored.groupBy(keys: _*)
      .agg(expr("percentile(_adev, 0.5)").as("mad"))
    scored.join(broadcast(madDf), keyCols)
      .withColumn("is_anomaly", col("_adev") > lit(k) * col("mad"))
      .drop("_adev")
  }

  /** Per-key raw-moment statistics (n, s, sq) of a training series — the
    * MERGEABLE form of the k-sigma state: two batches' stats add
    * column-wise (Σ(n·cᵢ−s)² expands to n²·sq − n·s², so the sum of
    * squared deviations never needs to be stored), which is what lets a
    * recurring pipeline append per-batch stats O(batch) and a stream score
    * against a broadcast snapshot. */
  def stats(series: DataFrame, keyCols: Seq[String], valueCol: String): DataFrame =
    series.groupBy(keyCols.map(col): _*)
      .agg(count(lit(1)).as("n"),
        sum(col(valueCol)).as("s"),
        sum(dec(col(valueCol)) * col(valueCol)).as("sq"))

  /** Fitted robust statistics (med, mad) per key — the model table for
    * [[flagAgainstRobustStats]]. UNLIKE the raw moments of [[stats]], exact
    * medians are NOT mergeable across batches: refreshing the fit needs the
    * two exact-percentile passes over the history window (the honest cost
    * of a robust fit — there is no sufficient statistic to carry forward).
    * Key-cardinality sized, so the scoring side broadcasts it. */
  def robustStats(series: DataFrame, keyCols: Seq[String], valueCol: String): DataFrame = {
    val keys = keyCols.map(col)
    val med = series.groupBy(keys: _*)
      .agg(expr(s"percentile($valueCol, 0.5)").as("med"))
    series.join(broadcast(med), keyCols)
      .withColumn("_adev", abs(col(valueCol) - col("med")))
      .groupBy(keys: _*)
      .agg(max(col("med")).as("med"), expr("percentile(_adev, 0.5)").as("mad"))
  }

  /** Score NEW points against fitted [[robustStats]] — map-side after the
    * broadcast join, so it composes with a stream (stream-static join) the
    * same way [[flagAgainstStats]] does. Points with no stats row report
    * NULL, never false. */
  def flagAgainstRobustStats(points: DataFrame, statsDf: DataFrame,
      keyCols: Seq[String], valueCol: String, k: Int = 3): DataFrame =
    points.join(broadcast(statsDf), keyCols, "left")
      .withColumn("is_anomaly",
        when(col("mad").isNotNull,
          abs(col(valueCol) - col("med")) > lit(k) * col("mad")))

  /** Score NEW points against a fitted [[stats]] table — the
    * train-on-history / score-live shape: the stats side is key-cardinality
    * sized (broadcastable), so scoring is map-side and composes with a
    * stream (stream-static join). Same exact-integer inequality with the
    * deviation sum expanded to raw moments:
    * (n·c − s)²·(n−1) > k²·n·(n·sq − s²). Points with no stats row (or a
    * 1-point history) report NULL. The right side groups as n·(n·sq − s²)
    * — the big mean-dominated terms cancel INSIDE the parentheses, so the
    * largest intermediate is n·sq (≈ n²·mean²), one factor of n smaller
    * than the cancellation-free n²·sq form, keeping decimal(38,0) exact
    * for the same series the windowed [[sigmaOutliers]] handles (the
    * object-level magnitude contract applies here too: past the bound,
    * flags degrade to silent NULL under non-ANSI Spark). */
  /** Population Stability Index between a REFERENCE and a CURRENT slice of
    * a bucketed metric, per group: PSI = Σ_b (p_b − q_b)·ln(p_b/q_b) with
    * add-one smoothed bucket counts (the standard drift score; rule of
    * thumb: <0.1 stable, >0.25 shifted). Detects DISTRIBUTION drift that
    * count-based monitors miss — same volume, different shape.
    *
    * Exactness ([[NgramLm]] micro-nat contract): with c′ = c+1 and
    * N′ = N + #buckets, each bucket's log-ratio ln((c′c·N′r)/(c′r·N′c)) is
    * quantized once to integer micro-nats, the per-bucket term
    * (c′c·N′r − c′r·N′c)·lr is exact (long products ≤ 2N², promoted to
    * decimal(38,0) before the ·lr multiply and the sum — the
    * [[sigmaOutliers]] magnitude pattern, exact to N ~ 10⁹ rows/group),
    * and PSI = Σterms / (N′c·N′r·1e6) is one IEEE division.
    * Shape: two grouped counts + one (group,bucket) full-outer join + one
    * grouped sum — group-cardinality-sized state, no data-volume joins. */
  def psiDrift(ref: DataFrame, cur: DataFrame, groupCol: String,
      bucketCol: String): DataFrame = {
    def counts(df: DataFrame, as: String) =
      df.groupBy(col(groupCol), col(bucketCol).as("bucket"))
        .agg(count(lit(1)).as(as))
    val joined = counts(ref, "cr").join(counts(cur, "cc"),
        Seq(groupCol, "bucket"), "full_outer")
      .select(col(groupCol), col("bucket"),
        coalesce(col("cr"), lit(0L)).as("cr"), coalesce(col("cc"), lit(0L)).as("cc"))
    val w = Window.partitionBy(col(groupCol))
    val smoothed = joined
      .withColumn("nrp", sum("cr").over(w) + count(lit(1)).over(w))
      .withColumn("ncp", sum("cc").over(w) + count(lit(1)).over(w))
      .withColumn("lr_micro", round(
        log(((col("cc") + 1L) * col("nrp")).cast("double") /
            ((col("cr") + 1L) * col("ncp")).cast("double")) * NgramLm.MicroScale,
        0).cast("long"))
    smoothed.groupBy(col(groupCol))
      .agg(sum("cr").as("n_ref"), sum("cc").as("n_cur"),
        max("nrp").as("nrp"), max("ncp").as("ncp"),
        sum(((col("cc") + 1L) * col("nrp") - (col("cr") + 1L) * col("ncp"))
          .cast("decimal(38,0)") * col("lr_micro")).as("psi_term_sum"))
      .select(col(groupCol), col("n_ref"), col("n_cur"),
        (col("psi_term_sum").cast("double") /
          (col("ncp").cast("decimal(38,0)") * col("nrp") * NgramLm.MicroScale)
            .cast("double")).as("psi"))
  }

  /** Exact two-sample Kolmogorov–Smirnov statistic between a REFERENCE and
    * a CURRENT sample of an integer-valued metric — the nonparametric
    * drift companion to [[psiDrift]]: no buckets, no smoothing constant,
    * sensitive to ANY distribution-shape change.
    *   KS = max_v |F_ref(v) − F_cur(v)|
    * over the observed values, emitted as the exact integer numerator
    * max |cum_ref(v)·n_cur − cum_cur(v)·n_ref| beside the n_ref·n_cur
    * denominator, plus `ks` as ONE IEEE division — max is
    * order-independent, so the statistic is bit-identical cross-engine
    * (exact while n_ref·n_cur < 2^63, i.e. ~3·10⁹ rows per side).
    *
    * Scale shape: one value-keyed count of the union, then the TWO-LEVEL
    * bucketed prefix sum (the [[Trend.spearman]] / Eval.cumBelow device —
    * no corpus-sized window), a broadcast 1-row total, and a global max.
    * The single-ordered-window oracle form is the 1-partition
    * anti-pattern this shape exists to avoid. The per-value frame stays
    * persisted because the returned lazy plan reads it twice; release
    * via [[CacheGuard.releaseAll]] (distinct-value-sized — the
    * Trend/TextDedup cache-lifetime contract). */
  def ksDrift(ref: DataFrame, cur: DataFrame, valueCol: String,
      bucketBits: Int = 20): DataFrame = {
    val u = ref.select(col(valueCol).cast("long").as("v"),
        lit(1L).as("ir"), lit(0L).as("ic"))
      .unionByName(cur.select(col(valueCol).cast("long").as("v"),
        lit(0L).as("ir"), lit(1L).as("ic")))
    val per = u.groupBy("v").agg(sum("ir").as("cr"), sum("ic").as("cc"))
      .withColumn("b", shiftright(col("v"), bucketBits))
      .persistTracked()
    val wb = Window.orderBy("b").rowsBetween(Window.unboundedPreceding, -1)
    // bucket-sized by construction (the two-level contract) → broadcast
    val bp = broadcast(per.groupBy("b")
      .agg(sum("cr").as("scr"), sum("cc").as("scc"))
      .select(col("b"),
        coalesce(sum("scr").over(wb), lit(0L)).as("bbr"),
        coalesce(sum("scc").over(wb), lit(0L)).as("bbc")))
    val ww = Window.partitionBy("b").orderBy("v")
      .rowsBetween(Window.unboundedPreceding, 0) // inclusive: F(v) = P(x ≤ v)
    val cums = per.join(bp, Seq("b"))
      .select((col("bbr") + sum("cr").over(ww)).as("cumr"),
        (col("bbc") + sum("cc").over(ww)).as("cumc"))
    val tot = broadcast(per.agg(sum("cr").as("nr"), sum("cc").as("nc")))
    cums.crossJoin(tot)
      .groupBy(col("nr").as("n_ref"), col("nc").as("n_cur"))
      .agg(max(abs(col("cumr") * col("nc") - col("cumc") * col("nr")))
        .as("ks_num"))
      .select(col("n_ref"), col("n_cur"), col("ks_num"),
        when(col("n_ref") * col("n_cur") === 0L, lit(null).cast("double"))
          .otherwise(col("ks_num").cast("double") /
            (col("n_ref") * col("n_cur")).cast("double")).as("ks"))
  }

  def flagAgainstStats(points: DataFrame, statsDf: DataFrame, keyCols: Seq[String],
      valueCol: String, k: Int = 3): DataFrame =
    points.join(broadcast(statsDf), keyCols, "left")
      .withColumn("_dev", dec(col("n")) * col(valueCol) - col("s"))
      .withColumn("is_anomaly",
        when(col("n") >= 2,
          dec(col("_dev")) * col("_dev") * (col("n") - 1) >
            lit(k * k) * dec(col("n")) *
              (dec(col("n")) * col("sq") - dec(col("s")) * col("s"))))
      .drop("n", "s", "sq", "_dev")
}
