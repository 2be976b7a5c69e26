package graft

import org.apache.spark.sql.functions._
import graft.ops.Validator
import graft.operators.QualityFilter

/** Column statistics and equal-frequency binning: hand-checked stats rows,
  * NULL handling, bin-boundary semantics, and tie behavior. */
class ColumnStatsSpec extends SparkSpec {
  import spark.implicits._

  test("columnStats: min/max/nulls/ndv per column in one pass") {
    val df = Seq(
      (Some(3L), Some("b")), (Some(1L), Some("a")),
      (Some(3L), None), (None, Some("c"))
    ).toDF("k", "s")
    val got = Validator.columnStats(df, Seq("k", "s")).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getString(2), r.getString(3),
        r.getLong(4), r.getLong(5)))).toMap
    assert(got("k") == ((4L, "1", "3", 1L, 2L)))
    assert(got("s") == ((4L, "a", "c", 1L, 3L)))
  }

  test("columnStats: empty input reports zero rows and NULL min/max") {
    val df = Seq((1L, "x")).toDF("k", "s").filter(lit(false))
    val row = Validator.columnStats(df, Seq("k")).head()
    assert(row.getLong(1) == 0L && row.getString(2) == null &&
      row.getLong(4) == 0L && row.getLong(5) == 0L)
  }

  test("equalFrequencyBins: uniform data splits evenly, boundaries inclusive-left") {
    // values 1..100, k=4 → exact quartile cutoffs 25.75/50.5/75.25; bin =
    // 1 + |cuts < v|, so 1..25 → bin 1, 26..50 → 2, 51..75 → 3, 76..100 → 4
    val df = (1L to 100L).toDF("v")
    val bins = QualityFilter.equalFrequencyBins(df, "v", 4)
      .groupBy("bin").agg(count(lit(1)).as("n"), min("v").as("lo"), max("v").as("hi"))
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    assert(bins == Map(1L -> ((25L, 1L, 25L)), 2L -> ((25L, 26L, 50L)),
      3L -> ((25L, 51L, 75L)), 4L -> ((25L, 76L, 100L))))
  }

  test("equalFrequencyBins equals Spark percentile cuts") {
    // tied, unordered fixture; the reference bin is 1 + |{cut < v}| over
    // percentile(v, array(0.2, 0.4, 0.6, 0.8)) — the arithmetic the
    // distributed cut derivation replicates
    val df = ((1L to 100L) ++ (40L to 60L) ++ Seq(7L, 7L, 93L)).toDF("v")
      .orderBy(graft.functions.Hashing.hash64(col("v").cast("string")))
    val cuts = df.agg(expr("percentile(v, array(0.2, 0.4, 0.6, 0.8))"))
      .head().getSeq[Double](0)
    val got = QualityFilter.equalFrequencyBins(df, "v", 5).select("v", "bin")
      .collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    val want = df.as[Long].collect().map(v => (v, 1L + cuts.count(_ < v))).sorted.toSeq
    assert(got == want)
    assert(got.map(_._2).distinct.sorted == Seq(1L, 2L, 3L, 4L, 5L))
  }

  test("winsorize: clamps to exact ceiling-rank order statistics; NULLs pass through") {
    // 1..100, [P10, P90]: kLo = ceil(100·10/100) = 10 → cut 10;
    // kHi = ceil(100·90/100) = 90 → cut 90
    val df = ((1L to 100L).map(Some(_)) :+ None).toDF("v")
    val got = QualityFilter.winsorize(df, "v", 10L, 90L, 100L)
      .select("v", "lo_cut", "hi_cut", "v_w").collect()
    assert(got.forall(r => r.getLong(1) == 10L && r.getLong(2) == 90L))
    got.filterNot(_.isNullAt(0)).foreach { r =>
      val v = r.getLong(0)
      assert(r.getLong(3) == math.max(10L, math.min(90L, v)), s"v=$v")
    }
    val nullRow = got.find(_.isNullAt(0)).get
    assert(nullRow.isNullAt(3), "NULL metric must winsorize to NULL")
    // ties: heavy mass below the cut rank pulls the cut onto the tied value
    val tied = (Seq.fill(50)(1L) ++ (2L to 51L)).toDF("v")
    val cuts = QualityFilter.winsorize(tied, "v", 25L, 75L, 100L)
      .select("lo_cut", "hi_cut").head()
    // n=100: kLo=25 → cum(1)=50 ≥ 25 → lo=1; kHi=75 → value at rank 75 = 26
    assert((cuts.getLong(0), cuts.getLong(1)) == ((1L, 26L)))
  }

  test("winsorizeGrouped: per-group cuts ≡ per-slice winsorize; groups independent") {
    val df = ((1L to 100L).map(v => ("a", v)) ++ (1L to 10L).map(v => ("b", v * 1000)))
      .toDF("g", "v")
    val got = QualityFilter.winsorizeGrouped(df, "g", "v", 10L, 90L, 100L)
      .select("g", "v", "lo_cut", "hi_cut", "v_w").collect()
      .map(r => (r.getString(0), r.getLong(1)) ->
        ((r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
    // group a: cuts (10, 90) as in the global spec; group b: n=10,
    // kLo=ceil(10·10/100)=1 → 1000, kHi=ceil(10·90/100)=9 → 9000
    assert(got(("a", 5L)) == ((10L, 90L, 10L)))
    assert(got(("a", 95L)) == ((10L, 90L, 90L)))
    assert(got(("b", 1000L)) == ((1000L, 9000L, 1000L)))
    assert(got(("b", 10000L)) == ((1000L, 9000L, 9000L)))
    // slice-equivalence: grouped result on each group's slice == global form
    val aOnly = QualityFilter.winsorize(df.filter(col("g") === "a"), "v", 10L, 90L, 100L)
      .select("v", "v_w").as[(Long, Long)].collect().toMap
    got.collect { case (("a", v), (_, _, w)) => assert(aOnly(v) == w) }
  }

  test("groupOrderStats: ceiling-rank percentiles per group, hand-checked") {
    val df = ((1L to 100L).map(v => ("a", v)) ++ Seq(("b", 5L), ("b", 7L)))
      .toDF("g", "v")
    val got = QualityFilter.groupOrderStats(df, "g", "v", Seq(50L, 95L, 99L), 100L)
      .select("g", "n_values", "p_50", "p_95", "p_99").collect()
      .map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
    // group a: v_(⌈50⌉)=50, v_(95)=95, v_(99)=99
    assert(got("a") == ((100L, 50L, 95L, 99L)))
    // group b (n=2): ⌈2·q⌉ = 1, 2, 2 → 5, 7, 7
    assert(got("b") == ((2L, 5L, 7L, 7L)))
  }

  test("equalFrequencyBins: ties share a bin; NULL metric bins NULL") {
    val df = (Seq.fill(90)(Some(5L)) ++ Seq(Some(99L)) ++ Seq(None)).toDF("v")
    val got = QualityFilter.equalFrequencyBins(df, "v", 3)
      .groupBy("bin").agg(count(lit(1)).as("n")).collect()
      .map(r => (if (r.isNullAt(0)) -1L else r.getLong(0)) -> r.getLong(1)).toMap
    // all 5s land in ONE bin (no arbitrary tie-splitting); 99 above them
    assert(got(1L) == 90L)
    assert(got.getOrElse(-1L, 0L) == 1L, "NULL metric must bin NULL")
    assert(got.values.sum == 92L)
  }

  test("quantileNormalizeGrouped: NULL metric yields NULL pct_fp, ranks NULL-free") {
    // Spark's default NULLS FIRST would rank NULL metrics at percentile 0
    // (diverging from the NULLS LAST oracle form); the pinned contract:
    // NULLs are excluded from rank AND group size, and emit NULL pct_fp.
    val df = Seq(("a", Some(10L)), ("a", Some(20L)), ("a", None),
      ("a", Some(30L)), ("b", Some(5L))).toDF("src", "m")
    val got = graft.operators.QualityFilter.quantileNormalizeGrouped(df, "src", "m")
      .select("src", "m", "pct_fp")
      .as[(String, Option[Long], Option[Long])].collect().toSet
    assert(got == Set(
      ("a", Some(10L), Some(0L)), ("a", Some(20L), Some(500000L)),
      ("a", Some(30L), Some(1000000L)), ("a", None, None),
      ("b", Some(5L), Some(0L))))
  }
}
