package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.functions.Hashing

/** Cardinality sketches for corpus-scale census questions — "how many
  * distinct URLs / tokens / n-grams does this 100 TB crawl hold" is the
  * first number a dedup or mixing plan needs, and an exact COUNT(DISTINCT)
  * at that scale is a full shuffle of the key universe. HyperLogLog
  * (Flajolet et al. 2007, AofA; register rule from the Flajolet–Martin
  * least-significant-1-bit form, FOCS'85) answers it with m = 2^p integer
  * registers and ~1.04/√m relative error.
  *
  * Reference scope: the reference pipeline has no sketches at all — this is
  * part of the training-data extension surface (SURVEY.md §7.8), same tier
  * as [[TextDedup.minhashErrorAudit]]'s estimate-vs-exact audit.
  *
  * Relation to the q_x_sketch_distinct gate: that gate drives Spark's
  * BUILT-IN `approx_count_distinct` (HLL++), whose estimate is
  * engine-specific and therefore oracle-checked only against a 3×rsd
  * accuracy BAND. This operator is the from-scratch form whose every
  * register — and the estimate itself — is bit-exact cross-engine, so the
  * gate hashes the actual numbers.
  *
  * == Cross-engine exactness contract ==
  * Everything through the register table is EXACT integer arithmetic on the
  * portable 60-bit hash ([[Hashing.hash64]]): register j = h & (m−1), the
  * remaining 60−p bits form v, and rho(v) = trailing-zeros(v)+1 (the FM85
  * least-significant-1-bit rule — on a uniform hash field an identical
  * geometric variable to HLL's leading-zeros form, and computable with
  * `bit_count(~v & (v−1))` on BOTH engines with no float anywhere), capped
  * at P = 60−p+1 for v = 0. The harmonic-mean denominator is carried as ONE
  * exact BIGINT numerator over the common denominator 2^P:
  * N = Σ_occupied 2^(P−M[j]) + V·2^P ≤ m·2^P = 2^61 (never overflows, any
  * p). The only floats are the final pinned chains, identical on both
  * engines: raw = (0.7213/(1 + 1.079/m))·m²·2^P / N (literal-folded
  * constant, ONE IEEE division), and the small-range linear-counting branch
  * (raw ≤ 2.5m ∧ V > 0) micro-nat-quantizes its logarithm at the
  * transcendental — estimate = (m · round(ln(m/V)·10⁶)) / 10⁶ — the
  * [[NgramLm]] contract. The 60-bit hash space makes the 2^32
  * large-range correction of the paper unreachable; it is intentionally
  * absent.
  *
  * == 100 TB shape ==
  * One hash map over the scan, one (register)-keyed max aggregate (m-sized,
  * map-side partial maxes make the shuffle m-bounded per mapper), then
  * register-value-sized (≤ 62 rows) and 1-row aggregates. Nothing
  * corpus-sized ever crosses the wire — the whole sketch is a constant-size
  * reduction, which is the entire point versus COUNT(DISTINCT). */
object Sketches {

  /** One-row HLL distinct-count sketch of `valueCol` (nulls ignored):
    * (m, n_occupied, n_zero, m_max, denom_num, branch, estimate). */
  def hllDistinct(values: DataFrame, valueCol: String, p: Int = 10): DataFrame = {
    require(p >= 4 && p <= 16, s"p must be in [4,16], got $p")
    val m = 1 << p
    val maxRho = 60 - p + 1 // P: rho of v = 0 (all 60−p suffix bits zero)
    val reg = values.filter(col(valueCol).isNotNull)
      .select(Hashing.hash64(col(valueCol)).as("h"))
      .select(col("h").bitwiseAND(lit((m - 1).toLong)).as("j"),
        shiftright(col("h"), p).as("v"))
      .select(col("j"),
        when(col("v") === 0L, lit(maxRho.toLong))
          .otherwise(expr("CAST(bit_count(~v & (v - 1)) AS BIGINT) + 1")).as("rho"))
      .groupBy(col("j")).agg(max(col("rho")).as("reg_m"))
    // register-VALUE counts (≤ 62 rows) so the exact numerator sums tiny
    // frames, never the register table twice
    val byM = reg.groupBy(col("reg_m")).agg(count(lit(1)).as("c"))
    val agg = byM.agg(
      coalesce(sum(col("c")), lit(0L)).as("n_occupied"),
      coalesce(max(col("reg_m")), lit(0L)).as("m_max"),
      coalesce(sum(expr(
        s"c * shiftleft(CAST(1 AS BIGINT), $maxRho - CAST(reg_m AS INT))")),
        lit(0L)).as("occ_num"))
    // pinned constant chain — the oracle writes the IDENTICAL expression,
    // so both engines fold the same IEEE value
    val alphaNum = lit(0.7213) / (lit(1.0) + lit(1.079) / lit(m.toDouble)) *
      lit(m.toDouble * m.toDouble) * lit(Math.pow(2.0, maxRho))
    agg
      .select(lit(m.toLong).as("m"), col("n_occupied"),
        (lit(m.toLong) - col("n_occupied")).as("n_zero"), col("m_max"),
        (col("occ_num") +
          (lit(m.toLong) - col("n_occupied")) * lit(1L << maxRho)).as("denom_num"))
      .withColumn("raw", alphaNum / col("denom_num").cast("double"))
      .select(col("m"), col("n_occupied"), col("n_zero"), col("m_max"),
        col("denom_num"),
        when(col("raw") <= lit(2.5 * m) && col("n_zero") > 0, lit("linear"))
          .otherwise(lit("raw")).as("branch"),
        when(col("raw") <= lit(2.5 * m) && col("n_zero") > 0,
          (col("m") * expr("CAST(round(ln(CAST(m AS DOUBLE) / " +
            "CAST(n_zero AS DOUBLE)) * 1000000, 0) AS BIGINT)")).cast("double")
            / lit(1000000.0))
          .otherwise(col("raw")).as("estimate"))
  }
}
