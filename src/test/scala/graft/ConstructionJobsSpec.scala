package graft

import graft.operators.{GraphRank, QualityFilter, TextIndex}

/** Operators that leave their size decisions (broadcast or not, exchange
  * width) to AQE build their plans without starting a Spark job: only an
  * action on the returned frame runs work. */
class ConstructionJobsSpec extends SparkSpec with JobCounting {
  import spark.implicits._

  // two triangles (1,2,3) and (3,4,5), a pendant edge, a < b on every row
  private def edges = Seq((1L, 2L), (1L, 3L), (2L, 3L), (3L, 4L), (3L, 5L),
    (4L, 5L), (5L, 6L)).toDF("a", "b")

  test("tfIdfTopK: construction starts no job; output unchanged") {
    val docs = Seq((1L, "a b a c"), (2L, "b c d"), (3L, "a d d"), (4L, "e a"))
      .toDF("doc_id", "text")
    val (df, jobs) = jobsDuring(TextIndex.tfIdfTopK(docs))
    assert(jobs == 0)
    // N = 4; df: a 3, b/c/d 2, e 1; idf_micro = round(ln(N/df)·10⁶)
    val (a, two, e) = (287682L, 693147L, 1386294L)
    val got = df.as[(Long, String, Long, Long, Long, Long, Long)].collect().sorted.toSeq
    assert(got == Seq(
      (1L, "a", 2L, 3L, a, 2 * a, 3L), (1L, "b", 1L, 2L, two, two, 1L),
      (1L, "c", 1L, 2L, two, two, 2L),
      (2L, "b", 1L, 2L, two, two, 1L), (2L, "c", 1L, 2L, two, two, 2L),
      (2L, "d", 1L, 2L, two, two, 3L),
      (3L, "a", 1L, 3L, a, a, 2L), (3L, "d", 2L, 2L, two, 2 * two, 1L),
      (4L, "a", 1L, 3L, a, a, 2L), (4L, "e", 1L, 1L, e, e, 1L)))
  }

  test("triangleStats: construction starts no job; output unchanged") {
    val (df, jobs) = jobsDuring(GraphRank.triangleStats(edges))
    assert(jobs == 0)
    assert(df.as[(Long, Long, Long)].collect().toSeq == Seq((6L, 7L, 2L)))
  }

  test("equalFrequencyBins: construction starts no job") {
    val (df, jobs) = jobsDuring(
      QualityFilter.equalFrequencyBins((1L to 20L).toDF("v"), "v", 4))
    assert(jobs == 0)
    assert(df.select("bin").distinct().count() == 4L)
  }

  test("labelPropagation: construction starts no job") {
    val (df, jobs) = jobsDuring(GraphRank.labelPropagation(edges, 4))
    assert(jobs == 0)
    assert(df.count() == 6L)
  }
}
