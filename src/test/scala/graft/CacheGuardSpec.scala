package graft

import graft.operators.{CacheGuard, TextIndex, Trend}

class CacheGuardSpec extends SparkSpec {
  import spark.implicits._

  test("releaseAll unpersists operator-internal frames and is idempotent") {
    val docs = Seq((1L, "a b a c"), (2L, "b c d"), (3L, "a d d"))
      .toDF("doc_id", "text")
    TextIndex.tfIdfTopK(docs).count() // persists postings
    val xy = Seq((1L, 10L), (2L, 30L), (3L, 20L), (4L, 40L)).toDF("x", "y")
    Trend.spearman(xy, "x", "y", "x", "y").count() // persists rank maps + base
    val released = CacheGuard.releaseAll(spark)
    assert(released >= 4, s"expected the four tracked frames, got $released")
    assert(CacheGuard.releaseAll(spark) == 0, "second release must find nothing")
    // operators still work after a release (fresh persists re-register)
    assert(TextIndex.tfIdfTopK(docs).count() > 0)
    assert(CacheGuard.releaseAll(spark) > 0)
  }

  test("pipeline runs leave frames registered by other code cached") {
    val docs = Seq((1L, "a b a c"), (2L, "b c d")).toDF("doc_id", "text")
    TextIndex.tfIdfTopK(docs).count() // persists + registers postings
    val tracked = CacheGuard.trackedCount(spark)
    assert(tracked > 0)
    def postingsCached = TextIndex.postings(docs, "doc_id", "text").storageLevel.useMemory
    assert(postingsCached)
    val cat = new graft.catalog.Catalog(spark,
      java.nio.file.Files.createTempDirectory("graft-cg-pipe").toString)
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
