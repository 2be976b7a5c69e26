package graft

import graft.operators.{CacheGuard, NgramLm, TextIndex, Trend}

class CacheGuardSpec extends SparkSpec {
  import spark.implicits._

  test("releaseAll unpersists operator-internal frames and is idempotent") {
    val docs = Seq((1L, "a b a c"), (2L, "b c d"), (3L, "a d d"))
      .toDF("doc_id", "text")
    TextIndex.tfIdfTopK(docs).count() // persists postings
    NgramLm.pmiCollocations(docs, minCount = 1).count() // persists pair + unigram counts
    val released = CacheGuard.releaseAll(spark)
    assert(released >= 3, s"expected the three tracked frames, got $released")
    assert(CacheGuard.releaseAll(spark) == 0, "second release must find nothing")
    // operators still work after a release (fresh persists re-register)
    assert(TextIndex.tfIdfTopK(docs).count() > 0)
    assert(CacheGuard.releaseAll(spark) > 0)
  }

  test("spearman leaves nothing cached: its one job runs inside the call") {
    val xy = ((1L to 40L).map(i => (i % 9, i * i % 13)) :+ ((3L, 5L))).toDF("x", "y")
    val sc = spark.sparkContext
    val (rdds, tracked) = (sc.getPersistentRDDs.keySet, CacheGuard.trackedCount(spark))
    val rho = Trend.spearman(xy, "x", "y", "x", "y")
    assert(sc.getPersistentRDDs.keySet == rdds, "spearman left a persisted frame behind")
    assert(CacheGuard.trackedCount(spark) == tracked)
    assert(rho.count() == 1L)
  }

  test("pipeline runs leave frames registered by other code cached") {
    val docs = Seq((1L, "a b a c"), (2L, "b c d")).toDF("doc_id", "text")
    TextIndex.tfIdfTopK(docs).count() // persists + registers postings
    val tracked = CacheGuard.trackedCount(spark)
    assert(tracked > 0)
    def postingsCached = TextIndex.postings(docs, "doc_id", "text").storageLevel.useMemory
    assert(postingsCached)
    val cat = new graft.catalog.Catalog(spark,
      tempDir("graft-cg-pipe").toString)
    val runner = new graft.run.PipelineRunner(spark, cat)
    val cfg = graft.run.RunConfig("customers", fixture("customers.csv"),
      java.sql.Date.valueOf("2024-01-01"))
    runner.run(cfg)
    runner.run(cfg.copy(runDate = java.sql.Date.valueOf("2024-01-02")))
    assert(CacheGuard.trackedCount(spark) == tracked,
      "a pipeline run must not release frames it did not register")
    assert(postingsCached, "the registered postings must stay cached")
    CacheGuard.releaseAll(spark)
  }

  test("persistTracked registers a plan once and never a frame it did not persist") {
    import CacheGuard.PersistTrackedOps
    CacheGuard.releaseAll(spark)
    def evens = spark.range(10).toDF("id").filter($"id" % 2 === 0)
    val first = evens.persistTracked()
    evens.persistTracked() // same plan, built again: no re-persist, no re-register
    assert(CacheGuard.trackedCount(spark) == 1)
    // a session-shared frame persisted by its owner first stays the owner's
    val shared = graft.queries.Q.cached(spark.range(7).toDF("id"))
    spark.range(7).toDF("id").persistTracked()
    assert(CacheGuard.trackedCount(spark) == 1)
    assert(CacheGuard.releaseAll(spark) == 1)
    assert(!first.storageLevel.useMemory, "the registered frame is released")
    assert(shared.storageLevel.useMemory, "the shared frame stays cached")
    shared.unpersist()
  }
}
