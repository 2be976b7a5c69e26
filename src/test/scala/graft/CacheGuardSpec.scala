package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.operators._
import graft.queries.Q

/** Every cache an operator makes is ended by the operator: once a returned
  * plan has run and been dropped, nothing it persisted stays persisted.
  * Inputs go through [[Q.cached]] as the gates' fixtures do, and only
  * those stay cached. */
class CacheGuardSpec extends SparkSpec {
  import spark.implicits._

  private def sc = spark.sparkContext

  /** Persisted RDDs that are caches: a materialized localCheckpoint is
    * persisted too, but its blocks belong to the plan that reads them and
    * the ContextCleaner frees them with it. */
  private def persistedIds: Set[Int] =
    sc.getPersistentRDDs.collect { case (id, rdd) if !rdd.isCheckpointed => id }.toSet

  /** What stays persisted beyond `baseline` once the driver has dropped
    * its references: a checkpoint whose job failed is freed by the
    * ContextCleaner once its RDD is collected, so GC until it goes. */
  private def leftAfterGc(baseline: Set[Int]): Set[Int] = {
    val deadline = System.nanoTime() + 20000000000L
    var left = persistedIds -- baseline
    while (left.nonEmpty && System.nanoTime() < deadline) {
      System.gc(); Thread.sleep(200)
      left = persistedIds -- baseline
    }
    left
  }

  /** Materialize the Q.cached `inputs`, then run each build into the noop
    * sink and drop it: nothing may stay persisted beyond the inputs. */
  private def assertOwned(inputs: DataFrame*)(builds: (String, () => DataFrame)*): Unit = {
    inputs.foreach { df => assert(df.storageLevel.useMemory); df.count() }
    val baseline = persistedIds
    for ((name, build) <- builds) {
      build().write.format("noop").mode("overwrite").save()
      val left = leftAfterGc(baseline)
      assert(left.isEmpty, s"$name left ${left.size} persisted RDDs behind: " +
        left.flatMap(sc.getPersistentRDDs.get).map(_.toString).mkString(", "))
    }
  }

  private def docs = Q.cached(Seq((1L, "the cat sat on the mat today", "a"),
    (2L, "the cat sat on the mat today again", "a"),
    (3L, "a dog ran in the park at noon", "b"),
    (4L, "a dog ran in the park at noon too", "b"),
    (5L, "stock prices fell sharply on monday", "c")).toDF("doc_id", "text", "src"))

  private def edges = Q.cached(Seq((1L, 2L), (1L, 3L), (2L, 3L), (3L, 4L), (3L, 5L),
    (4L, 5L), (5L, 6L)).toDF("a", "b"))

  test("ownership: graph loops leave nothing cached") {
    val e = edges
    val directed = e.select($"a".as("src"), $"b".as("dst"))
    val seeds = Seq(1L).toDF("node")
    assertOwned(e)(
      "pageRank" -> (() => GraphRank.pageRank(GraphRank.undirected(directed), 3)),
      "personalizedPageRank" -> (() => GraphRank.personalizedPageRank(directed, seeds, 3)),
      "hits" -> (() => GraphRank.hits(directed, 2)),
      "bfsHops" -> (() => GraphRank.bfsHops(e, seeds.select($"node".as("n")), 3)),
      "labelPropagation" -> (() => GraphRank.labelPropagation(e, 3)),
      "connectedComponents" -> (() => GraphRank.connectedComponents(e, 4)),
      "connectedComponentsIncremental" -> (() => GraphRank.connectedComponentsIncremental(
        Seq((1L, 1L), (2L, 1L), (3L, 1L)).toDF("n", "component"), e, 4)))
  }

  test("ownership: graph wedges and baskets leave nothing cached") {
    val e = edges
    assertOwned(e)(
      "triangleStats" -> (() => GraphRank.triangleStats(e)),
      "neighborJaccard" -> (() => GraphRank.neighborJaccard(
        e.select($"a".as("src"), $"b".as("dst")))),
      "neighborJaccardCapped" -> (() => GraphRank.neighborJaccardCapped(
        e.select($"a".as("src"), $"b".as("dst")), maxDeg = 3L)),
      "associationRules" -> (() => GraphRank.associationRules(e, "a", "b", minShared = 1L)))
  }

  test("ownership: dedup leaves nothing cached") {
    val d = docs
    assertOwned(d)(
      "ngramJaccard" -> (() => TextDedup.ngramJaccard(d, 0.3)),
      "ngramJaccard, diverted buckets" -> (() => TextDedup.ngramJaccard(d, 0.3, maxBucket = 1)),
      "minhashLsh" -> (() => TextDedup.minhashLsh(d, 0.3)),
      "containmentPairs" -> (() => TextDedup.containmentPairs(d, 0.5)),
      "simhashNearDups" -> (() => TextDedup.simhashNearDups(d)),
      "corpusOverlap" -> (() => TextDedup.corpusOverlap(d, "src")),
      "minhashLshIndexed" -> (() => TextDedup.minhashLshIndexed(d,
        TextDedup.buildBandIndex(d), d.filter($"doc_id" > 2L), 0.3)))
  }

  test("ownership: text index leaves nothing cached") {
    val d = docs
    assertOwned(d)(
      "tfIdfTopK" -> (() => TextIndex.tfIdfTopK(d)),
      "searchBM25Micro" -> (() => TextIndex.searchBM25Micro(
        TextIndex.postings(d, "doc_id", "text"), Seq("cat", "dog"), k = 3)))
  }

  test("ownership: n-gram collocations leave nothing cached") {
    val d = docs
    assertOwned(d)("pmiCollocations" -> (() => NgramLm.pmiCollocations(d, minCount = 1)))
  }

  test("ownership: vectors leave nothing cached") {
    val emb = Q.cached((0 until 24).map { i =>
      (i.toLong, (0 until 8).map(j => ((i * 37 + j * 11) % 19 - 9) / 10.0f))
    }.toDF("vec_id", "embedding"))
    assertOwned(emb)(
      "nearDuplicates" -> (() => VectorSearch.nearDuplicates(emb, 0.5, numPlanes = 2, dim = 8)),
      "similarityHistogram" -> (() => VectorSearch.similarityHistogram(emb, 2, 8)),
      "contrastiveTriples" -> (() => VectorSearch.contrastiveTriples(emb, lit(true),
        numPlanes = 2, dim = 8)),
      "mmrRerank" -> (() => VectorSearch.mmrRerank(emb, $"vec_id" < 2L, n = 4, k = 3)))
  }

  test("ownership: record linkage leaves nothing cached") {
    val recs = Q.cached(Seq((1L, "acme"), (2L, "acme"), (3L, "acne"), (4L, "zeta"))
      .toDF("id", "name"))
    assertOwned(recs)(
      "editNeighborPairs" -> (() => RecordLinkage.editNeighborPairs(recs, "id", "name")))
  }

  test("ownership: NaiveBayes scores and Eval curves leave nothing cached") {
    val d = docs
    val gold = Q.cached(d.select($"doc_id", $"src".as("gold")))
    val model = NaiveBayes.train(d, "src")
    assertOwned(d, gold)(
      "scores" -> (() => NaiveBayes.scores(d, model)),
      "aucPerLabel" -> (() => Eval.aucPerLabel(NaiveBayes.scores(d, model), gold)),
      "prCurvePerLabel" -> (() => Eval.prCurvePerLabel(NaiveBayes.scores(d, model), gold)))
  }

  test("ownership: skew and binning leave nothing cached") {
    val keys = Q.cached((Seq.fill(50)("a") ++ Seq.fill(30)("b") ++ Seq.fill(20)("c"))
      .toDF("k"))
    val v = Q.cached((1L to 20L).toDF("v"))
    assertOwned(keys, v)(
      "cmsContract" -> (() => Skew.cmsContract(keys, "k", topN = 3)),
      "equalFrequencyBins" -> (() => QualityFilter.equalFrequencyBins(v, "v", 4)))
  }

  test("mmrRerank and learnDistributed unpersist their loop frames when the loop throws") {
    // an all-zero vector has norm 0, so its cosine divides by zero (ANSI)
    val emb = Seq((0L, Seq(1.0f, 0.0f)), (1L, Seq(0.0f, 0.0f)), (2L, Seq(0.5f, 0.5f)))
      .toDF("vec_id", "embedding")
    val bad = Seq((1L, "a b"), (2L, "c d")).toDF("doc_id", "t")
      .select($"doc_id", expr("CASE WHEN doc_id = 2 THEN raise_error('bad row') " +
        "ELSE t END").as("text"))
    // the loops throw before their frames materialize, so only the cache
    // manager still lists them: start it empty, and it must end empty
    spark.catalog.clearCache()
    intercept[Exception](VectorSearch.mmrRerank(emb, $"vec_id" === 0L, n = 2, k = 2))
    intercept[Exception](BpeVocab.learnDistributed(bad, 3))
    assert(spark.sharedState.cacheManager.isEmpty, "a throwing loop left its frames cached")
  }

  test("spearman leaves nothing cached: its one job runs inside the call") {
    val xy = ((1L to 40L).map(i => (i % 9, i * i % 13)) :+ ((3L, 5L))).toDF("x", "y")
    val rdds = sc.getPersistentRDDs.keySet
    val rho = Trend.spearman(xy, "x", "y", "x", "y")
    assert(sc.getPersistentRDDs.keySet == rdds, "spearman left a persisted frame behind")
    assert(rho.count() == 1L)
  }

  test("pipeline runs leave frames persisted by other code cached") {
    val shared = Q.cached(Seq((1L, "a b a c"), (2L, "b c d")).toDF("doc_id", "text"))
    shared.count()
    val cat = new graft.catalog.Catalog(spark,
      tempDir("graft-cg-pipe").toString)
    val runner = new graft.run.PipelineRunner(spark, cat)
    val cfg = graft.run.RunConfig("customers", fixture("customers.csv"),
      java.sql.Date.valueOf("2024-01-01"))
    runner.run(cfg)
    runner.run(cfg.copy(runDate = java.sql.Date.valueOf("2024-01-02")))
    assert(shared.storageLevel.useMemory, "a pipeline run must not release others' frames")
    shared.unpersist()
  }

  test("Q.cached persists a plan once and re-persists it after clearCache") {
    def evens = spark.range(10).toDF("id").filter($"id" % 2 === 0)
    val first = Q.cached(evens)
    first.count()
    val rdds = sc.getPersistentRDDs.keySet
    Q.cached(evens).count() // same plan, built again: already cached, not re-persisted
    assert(sc.getPersistentRDDs.keySet == rdds)
    spark.catalog.clearCache()
    assert(!first.storageLevel.useMemory)
    val again = Q.cached(evens)
    assert(again.storageLevel.useMemory, "a cleared plan is persisted again")
    again.unpersist()
  }
}
