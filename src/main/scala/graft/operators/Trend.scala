package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import CacheGuard.PersistTrackedOps

/** Per-key sequence statistics over the event stream: exponentially-weighted
  * smoothing and least-squares trend. The monitoring layer a pipeline runs
  * over its own telemetry (ingest-rate drift, per-user spend trend) next to
  * the [[Anomaly]] detectors.
  *
  * Exactness contract (driver hash-compare): both operators do ALL
  * accumulation in exact integer arithmetic — money as cents
  * ([[graft.queries.Q.cents]]), EWMA weights as powers of two, regression as
  * raw integer moments — and emit doubles only through IEEE-deterministic
  * `*` `/` `-` on those exact integers, never through libm or an
  * order-dependent float sum.
  *
  * Scale shape: both are single-shuffle window/group ops keyed by the entity
  * (partitionBy user). No state beyond the frame; at 100 TB this is one
  * hash-partitioned sort per key group, and AQE handles hot keys.
  */
object Trend {

  /** EWMA with decay α = 1/2 over the trailing `window` (≤ 22) events of
    * each key, event-time ordered: `ewma_n = Σ_k x_{n−k}·2^{−k} / Σ_k 2^{−k}`
    * truncated at the frame edge (partial frames renormalize over the
    * weights actually present — the standard "adjusted" EWMA form).
    *
    * Why α = 1/2 + cents: every weight 2^(W−1−k) is an exact BIGINT, so
    * numerator and weight-sum are exact integer window sums and the single
    * final division is IEEE-exact — bit-identical across engines, which a
    * float-α recurrence can never be (its sum order is engine-defined).
    * The frame is W `lag` taps (codegen'd, one sort per key), not a
    * variable-length recurrence — O(W) per row, no cross-row float state.
    *
    * Overflow bound: the largest weighted term is cents·2^(W−1) and the
    * numerator sums W of them, so exactness needs
    * `log2(max|cents|) + window < 63`. The require pins window ≤ 22, safe
    * for the documented cents magnitude (< 2^40); widen only with
    * correspondingly smaller values or a decimal(38,0) numerator. */
  def ewmaHalf(events: DataFrame, keyCol: String, orderCols: Seq[String],
      valueCents: Column, window: Int = 16): DataFrame = {
    require(window >= 1 && window <= 22,
      s"window must be in [1,22] (cents·2^(window−1) must stay in BIGINT " +
      s"for |cents| < 2^40): $window")
    val w = Window.partitionBy(col(keyCol)).orderBy(orderCols.map(col): _*)
    val withC = events.withColumn("__c", valueCents)
    val num = (0 until window).map { k =>
      val weight = 1L << (window - 1 - k)
      coalesce(lag(col("__c"), k).over(w) * weight, lit(0L))
    }.reduce(_ + _)
    val wsum = (0 until window).map { k =>
      val weight = 1L << (window - 1 - k)
      when(lag(col("__c"), k).over(w).isNotNull, lit(weight)).otherwise(lit(0L))
    }.reduce(_ + _)
    withC
      .withColumn("ewma_num", num)
      .withColumn("ewma_wsum", wsum)
      .withColumn("ewma",
        col("ewma_num").cast("double") / (col("ewma_wsum") * 100L))
      .drop("__c")
  }

  /** Ordinary-least-squares trend of `yCents` against the 0-based event
    * index within each key (event-time order): per key emits the exact
    * integer moments (n, Σx, Σy, Σxy, Σxx) plus
    * `slope = (n·Σxy − Σx·Σy) / (n·Σxx − Σx²)` and
    * `intercept = (Σy·Σxx − Σx·Σxy) / (n·Σxx − Σx²)` — each one division of
    * exact integer numerators (closed-form normal equations), so the doubles
    * are bit-identical cross-engine. Keys with < 2 events (or a degenerate
    * denominator) emit NULL slope/intercept.
    *
    * Overflow headroom: idx < 2^31, cents < 2^40 → Σxy < rows·2^71 / key…
    * in practice idx·cents < 2^51 and per-key rows < 2^20 keeps every moment
    * < 2^63; the n·Σxy products are the binding terms — for per-key
    * sequences beyond ~1e6 high-value events, switch y to decimal(38,0).
    * Shape: one sort per key for the index, one grouped aggregate. */
  def linearTrend(events: DataFrame, keyCol: String, orderCols: Seq[String],
      yCents: Column): DataFrame = {
    val w = Window.partitionBy(col(keyCol)).orderBy(orderCols.map(col): _*)
    val indexed = events
      .withColumn("__x", (row_number().over(w) - 1).cast("long"))
      .withColumn("__y", yCents)
    val m = indexed.groupBy(col(keyCol))
      .agg(count(lit(1)).as("n"),
        sum("__x").as("sx"), sum("__y").as("sy"),
        sum(col("__x") * col("__y")).as("sxy"),
        sum(col("__x") * col("__x")).as("sxx"))
    val det = m("n") * m("sxx") - m("sx") * m("sx")
    m.withColumn("slope_cents",
        when(det =!= 0L,
          (m("n") * m("sxy") - m("sx") * m("sy")).cast("double") / det))
      .withColumn("intercept_cents",
        when(det =!= 0L,
          (m("sy") * m("sxx") - m("sx") * m("sxy")).cast("double") / det))
  }

  /** ROLLING least-squares slope over the trailing `w` rows per key — the
    * local drift detector ([[linearTrend]] fits one line per key; this
    * fits one per POSITION, catching a trend that reverses mid-series).
    * Exact integer arithmetic throughout via the shifted-sum identity:
    * with x = the key-global 0-based row index, the slope of a window is
    * invariant to shifting x, so the rolling moments Σx, Σy, Σxy, Σx²
    * accumulate over plain window frames with GLOBAL x (no per-window
    * re-indexing) and slope_fp = (n·Σxy − Σx·Σy)·10⁶ div (n·Σx² − Σx²)
    * is one truncating integer division — bit-identical cross-engine.
    * Rows before a full window emit NULL (the fit is underdetermined).
    *
    * Scale: one key-partitioned window (per-key row counts bound the
    * partition), four frame sums riding one WindowExec. Overflow bound:
    * w · max|x| · max|y| must stay < 2⁶³ — at larger series rebase x per
    * key-epoch (the slope is shift-invariant, so rebasing is free). */
  def rollingSlope(events: DataFrame, keyCol: String, orderCols: Seq[String],
      yCents: Column, w: Int): DataFrame = {
    require(w >= 2, "a slope needs at least 2 points")
    val ord = Window.partitionBy(col(keyCol)).orderBy(orderCols.map(col): _*)
    val frame = ord.rowsBetween(-(w - 1), 0)
    val indexed = events
      .withColumn("__x", (row_number().over(ord) - 1).cast("long"))
      .withColumn("__y", yCents)
    indexed
      .withColumn("__n", count(lit(1)).over(frame))
      .withColumn("__sx", sum(col("__x")).over(frame))
      .withColumn("__sy", sum(col("__y")).over(frame))
      .withColumn("__sxy", sum(col("__x") * col("__y")).over(frame))
      .withColumn("__sxx", sum(col("__x") * col("__x")).over(frame))
      .withColumn("slope_fp",
        when(col("__n") === w.toLong,
          expr(s"(__n * __sxy - __sx * __sy) * 1000000" +
            s" div (__n * __sxx - __sx * __sx)")))
      .select(col(keyCol), col("__x").as("pos"), col("__y").as("y_cents"),
        col("slope_fp"))
  }

  /** Pearson correlation of INTEGER column pairs from exact moments, in one
    * pass over the table: for every requested (x, y) pair the five sums
    * n, Σx, Σy, Σxy, Σx², Σy² accumulate as DECIMAL(38,0) (order-independent
    * exact integers — engine-native `corr()` sums doubles and is not
    * reproducible across engines), and
    *   r = (n·Σxy − Σx·Σy) / √((n·Σx² − Σx²ᵗᵒᵗ)(n·Σy² − Σy²ᵗᵒᵗ))
    * is evaluated with each exact decimal cast to double ONCE and a pinned
    * association — bit-identical cross-engine. Output: one row per pair
    * (x_col, y_col, n, r; r NULL when either variance is 0).
    *
    * Shape: ONE aggregate scan regardless of pair count (the moment columns
    * all ride the same hash-agg), then a driver-side unpivot of the 1-row
    * result — nothing data-proportional is collected. */
  /** Global two-regressor OLS `y = b0 + b1·x1 + b2·x2` via exact normal
    * equations: one aggregate scan collects the 1-row integer moment vector
    * (decimal(38,0) — nothing data-proportional), the driver solves the 3×3
    * system by Cramer's rule in exact BigDecimal, each determinant rounds to
    * double ONCE, and every coefficient is a single IEEE division — exactly
    * replayable in any 128-bit-integer engine (the oracle re-derives the
    * same determinants in HUGEINT). Inputs must already be exact integers
    * (cents / basis points / counts). Returns one row
    * (n, b0, b1, b2; NULL coefficients when the system is singular). */
  /** Day-of-week seasonality profile per key: event counts and share per
    * (key, dow) — the weekly-shape baseline that turns raw volume into a
    * comparable fingerprint (weekday-heavy API traffic vs flat bot
    * traffic), and the profile table a seasonal anomaly check scores
    * residuals against. dow is pure integer arithmetic on µs-since-epoch
    * ((epoch_day + 3) mod 7, 0 = Monday — epoch day 0 was a Thursday), so
    * no engine's timezone/locale DOW convention is involved (the classic
    * cross-engine DOW off-by-one is arithmetic here, not calendar). Share
    * is one IEEE division of exact counts. One aggregate, key×7 rows. */
  def dowProfile(events: DataFrame, keyCol: String, tsUsCol: String): DataFrame = {
    val dow = expr(s"(($tsUsCol div 86400000000) + 3) % 7")
    events.groupBy(col(keyCol), dow.cast("long").as("dow"))
      .agg(count(lit(1)).as("n_events"))
      .withColumn("key_total", sum(col("n_events")).over(
        org.apache.spark.sql.expressions.Window.partitionBy(col(keyCol))))
      .withColumn("share",
        col("n_events").cast("double") / col("key_total").cast("double"))
  }

  /** Inter-arrival burstiness profile: per-key event gaps (each key's
    * stream ordered by (ts, tie)) censused into power-of-two buckets,
    * where bucket = length of the gap's binary rendering (⌊log₂ gap⌋+1
    * for gap > 0, 1 for gap 0) — an INTEGER log scale with no IEEE log
    * to disagree at bucket boundaries. The arrival-process shape signal:
    * human traffic is heavy-tailed across many buckets, bot/replay
    * traffic spikes one or two. One key-partitioned lag window + one
    * bucket-keyed aggregate; output is bucket-cardinality-sized (≤ 64). */
  def interArrivalBuckets(events: DataFrame, keyCol: String, tsCol: String,
      tieCol: String): DataFrame = {
    val w = Window.partitionBy(col(keyCol)).orderBy(col(tsCol), col(tieCol))
    events.withColumn("__prev", lag(col(tsCol), 1).over(w))
      .filter(col("__prev").isNotNull)
      .withColumn("gap", col(tsCol) - col("__prev"))
      .withColumn("bucket", length(bin(col("gap"))).cast("long"))
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("n_gaps"),
        min(col("gap")).as("min_gap"), max(col("gap")).as("max_gap"))
  }

  def olsFit2(df: DataFrame, y: Column, x1: Column, x2: Column): DataFrame = {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types.{DoubleType, LongType, StructField, StructType}
    val spark = df.sparkSession
    def dec(c: Column): Column = c.cast("decimal(38,0)")
    val row = df.agg(
      count(lit(1)).as("n"),
      sum(dec(y)).as("sy"), sum(dec(x1)).as("s1"), sum(dec(x2)).as("s2"),
      sum(dec(x1) * dec(x1)).as("s11"), sum(dec(x2) * dec(x2)).as("s22"),
      sum(dec(x1) * dec(x2)).as("s12"),
      sum(dec(x1) * dec(y)).as("s1y"), sum(dec(x2) * dec(y)).as("s2y")).head()
    val n = row.getLong(0)
    def d(i: Int): BigDecimal = {
      val v = row.getDecimal(i); if (v == null) BigDecimal(0) else BigDecimal(v)
    }
    val (sy, s1, s2, s11, s22, s12, s1y, s2y) =
      (d(1), d(2), d(3), d(4), d(5), d(6), d(7), d(8))
    val nn = BigDecimal(n)
    // det of [[n s1 s2][s1 s11 s12][s2 s12 s22]] and its Cramer numerators
    def det3(a: BigDecimal, b: BigDecimal, c: BigDecimal,
        p: BigDecimal, q: BigDecimal, r: BigDecimal,
        u: BigDecimal, v: BigDecimal, w: BigDecimal): BigDecimal =
      a * (q * w - r * v) - b * (p * w - r * u) + c * (p * v - q * u)
    val dd = det3(nn, s1, s2, s1, s11, s12, s2, s12, s22).toDouble
    val d0 = det3(sy, s1, s2, s1y, s11, s12, s2y, s12, s22).toDouble
    val d1 = det3(nn, sy, s2, s1, s1y, s12, s2, s2y, s22).toDouble
    val d2 = det3(nn, s1, sy, s1, s11, s1y, s2, s12, s2y).toDouble
    def coef(num: Double): java.lang.Double =
      if (n == 0 || dd == 0.0) null else num / dd
    spark.createDataFrame(
      java.util.Arrays.asList(Row(n, coef(d0), coef(d1), coef(d2))),
      StructType(Seq(StructField("n", LongType), StructField("b0", DoubleType),
        StructField("b1", DoubleType), StructField("b2", DoubleType))))
  }

  def correlation(df: DataFrame, pairs: Seq[(Column, String, Column, String)]): DataFrame = {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types.{DoubleType, LongType, StringType, StructField, StructType}
    val spark = df.sparkSession
    def dec(c: Column): Column = c.cast("decimal(38,0)")
    val aggs = count(lit(1)).as("n") +: pairs.zipWithIndex.flatMap { case ((x, _, y, _), i) =>
      Seq(sum(dec(x)).as(s"sx$i"), sum(dec(y)).as(s"sy$i"),
        sum(dec(x) * dec(y)).as(s"sxy$i"),
        sum(dec(x) * dec(x)).as(s"sxx$i"), sum(dec(y) * dec(y)).as(s"syy$i"))
    }
    val row = df.agg(aggs.head, aggs.tail: _*).head()
    val n = row.getLong(0)
    val out = pairs.zipWithIndex.map { case ((_, xn, _, yn), i) =>
      // empty input: count 0, every sum NULL → treat as exact zero
      def d(j: Int): BigDecimal = {
        val v = row.getDecimal(1 + 5 * i + j)
        if (v == null) BigDecimal(0) else BigDecimal(v)
      }
      val (sx, sy, sxy, sxx, syy) = (d(0), d(1), d(2), d(3), d(4))
      val num = (BigDecimal(n) * sxy - sx * sy).toDouble
      val dx = (BigDecimal(n) * sxx - sx * sx).toDouble
      val dy = (BigDecimal(n) * syy - sy * sy).toDouble
      val r: java.lang.Double =
        if (n == 0 || dx == 0.0 || dy == 0.0) null
        else num / math.sqrt(dx * dy)
      Row(xn, yn, n, r)
    }
    spark.createDataFrame(java.util.Arrays.asList(out: _*),
      StructType(Seq(StructField("x_col", StringType), StructField("y_col", StringType),
        StructField("n", LongType), StructField("r", DoubleType))))
  }

  /** Spearman rank correlation ρ — [[correlation]] (exact-moment Pearson)
    * computed on tie-averaged ranks: the MONOTONE-association measure,
    * robust to the outliers and nonlinearity that shear Pearson r (the
    * right check for "does quality score track document length" questions).
    * Ranks are kept exact by DOUBLING: the tie-averaged rank of value v is
    * below(v) + (c(v)+1)/2 — a half-integer — so 2·rank = 2·below + c + 1
    * is an exact BIGINT and the Pearson over doubled ranks equals ρ
    * (correlation is scale-invariant). No float enters until the final
    * division.
    *
    * Scale: per column one distinct-value aggregate + the TWO-LEVEL
    * bucketed prefix sum for below(v) (the [[Eval]] cumBelow device —
    * `shiftright` bucketing is monotone for negatives too, no window is
    * ever corpus-sized), then value-keyed joins back with no hint: the
    * planner picks broadcast or shuffle per rank map against
    * autoBroadcastJoinThreshold, and AQE re-checks that choice with the
    * measured stage sizes.
    *
    * NOTE this function is EAGER at construction time: its one job is
    * [[correlation]]'s moment aggregate, so the result is a 1-row local
    * frame. The rank-map inputs and the base frame are persisted because
    * each is read more than once; release via [[CacheGuard.releaseAll]]
    * (or session teardown) — same cache-lifetime contract as TextDedup's
    * persisted fingerprints. */
  def spearman(df: DataFrame, xCol: String, yCol: String,
      xName: String, yName: String, bucketBits: Int = 20): DataFrame = {
    def avgRank2(d: DataFrame, c: String, out: String): DataFrame = {
      // persisted: the per-value frame feeds both the bucket prefix and
      // the within-bucket window
      val per = d.groupBy(col(c).as("v")).agg(count(lit(1)).as("c"))
        .withColumn("b", shiftright(col("v"), bucketBits))
        .persistTracked()
      val wb = Window.orderBy("b").rowsBetween(Window.unboundedPreceding, -1)
      // bp is BUCKET-sized (≤ distinct/1, in practice a handful of rows —
      // the two-level scheme already assumes it sorts on one partition),
      // so it is always broadcast-safe.
      val bp = broadcast(per.groupBy("b").agg(sum("c").as("bc"))
        .select(col("b"), coalesce(sum("bc").over(wb), lit(0L)).as("bb")))
      val ww = Window.partitionBy("b").orderBy("v")
        .rowsBetween(Window.unboundedPreceding, -1)
      per.join(bp, Seq("b"))
        .withColumn("below", col("bb") + coalesce(sum("c").over(ww), lit(0L)))
        .select(col("v").as(c), (lit(2L) * col("below") + col("c") + 1L).as(out))
    }
    // persisted: the frame feeds both rank derivations AND the final join
    // — unpersisted, the caller's upstream lineage (often a scored/
    // aggregated frame) replays three times. 2-column row-sized cache;
    // session-lifetime contract as in TextDedup.
    val base = df.select(col(xCol).cast("long").as("x"),
      col(yCol).cast("long").as("y"))
      .persistTracked()
    val ranked = base.join(avgRank2(base, "x", "rx2"), "x")
      .join(avgRank2(base, "y", "ry2"), "y")
    correlation(ranked, Seq((col("rx2"), xName, col("ry2"), yName)))
      .select(col("x_col"), col("y_col"), col("n"), col("r").as("rho"))
  }
}
