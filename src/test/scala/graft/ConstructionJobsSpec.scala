package graft

import graft.operators.{Anomaly, Eval, GraphRank, NgramLm, QualityFilter, Sampling, TextDedup,
  TextIndex, Trend, VectorSearch}

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

  test("prefix-sum operators: construction starts no job; spearman starts only its own") {
    val v = (1L to 30L).toDF("v")
    val scored = Seq((1L, "p", 9L), (2L, "p", 5L), (3L, "p", 1L))
      .toDF("doc_id", "label", "score_micro")
    val gold = Seq((1L, "p"), (2L, "n"), (3L, "p")).toDF("doc_id", "gold")
    val docs = (1L to 30L).map(i => (i, i % 5)).toDF("doc_id", "w")
    val lazyBuilds = Seq[(String, () => org.apache.spark.sql.DataFrame)](
      "ksDrift" -> (() => Anomaly.ksDrift(v, v.filter($"v" > 10), "v")),
      "aucPerLabel" -> (() => Eval.aucPerLabel(scored, gold)),
      "prCurvePerLabel" -> (() => Eval.prCurvePerLabel(scored, gold)),
      "weightedSystematic" -> (() => Sampling.weightedSystematic(docs, "doc_id", "w", 5L)),
      "shardPlan" -> (() => Sampling.shardPlan(docs, "doc_id", "w", 20L)))
    for ((name, build) <- lazyBuilds) {
      val (df, jobs) = jobsDuring(build())
      assert(jobs == 0, s"$name started $jobs jobs while building")
      assert(df.count() > 0, name)
    }
    // spearman is eager: its result is the local frame of its one moment
    // aggregate, whose jobs (one per AQE query stage) share one execution
    val xy = v.select($"v".as("x"), ($"v" % 7).as("y"))
    val (rho, executions) = executionsDuring(Trend.spearman(xy, "x", "y", "x", "y"))
    assert(executions == 1, s"spearman ran $executions actions")
    assert(rho.count() == 1L)
  }

  test("checkpointing operators: construction runs one action per checkpoint it takes") {
    val directed = edges.select($"a".as("src"), $"b".as("dst"))
    val docs = Seq((1L, "the cat sat on the mat today"), (2L, "the cat sat on the mat"),
      (3L, "a dog ran in the park")).toDF("doc_id", "text")
    val emb = (0 until 12).map(i => (i.toLong, (0 until 8).map(j => ((i * 37 + j * 11) % 19 - 9) / 10.0f)))
      .toDF("vec_id", "embedding")
    // (operator, its build actions): each eager checkpoint is one, and
    // pageRank, personalizedPageRank and hits also checkpoint their node
    // carrier; under AQE each of hits' two lazy per-iteration checkpoints
    // runs its shuffle stages when taken, one action each
    val builds = Seq[(String, Int, () => org.apache.spark.sql.DataFrame)](
      ("pageRank", 2, () => GraphRank.pageRank(directed, 2)),
      ("personalizedPageRank", 2,
        () => GraphRank.personalizedPageRank(directed, Seq(1L).toDF("node"), 2)),
      ("hits", 5, () => GraphRank.hits(directed, 1)),
      ("bfsHops", 1, () => GraphRank.bfsHops(edges, Seq(1L).toDF("n"), 2)),
      ("neighborJaccardCapped", 2, () => GraphRank.neighborJaccardCapped(directed, 3L)),
      ("containmentPairs", 1, () => TextDedup.containmentPairs(docs)),
      ("containmentPairsHashed", 1, () => TextDedup.containmentPairsHashed(docs)),
      ("simhashNearDups", 1, () => TextDedup.simhashNearDups(docs)),
      ("nearDuplicates", 1, () => VectorSearch.nearDuplicates(emb, 0.5, 2, 8)),
      ("similarityHistogram", 1, () => VectorSearch.similarityHistogram(emb, 2, 8)),
      ("pmiCollocations", 1, () => NgramLm.pmiCollocations(docs, minCount = 1)))
    for ((name, checkpoints, build) <- builds) {
      val (df, executions) = executionsDuring(build())
      assert(executions == checkpoints, s"$name ran $executions actions while building")
      assert(df.count() >= 0L, name)
    }
  }
}
