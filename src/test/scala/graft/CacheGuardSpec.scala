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

  test("consecutive crawl-ingest batches leave no tracked frames behind") {
    import org.apache.spark.sql.types.{LongType, StringType, StructType}
    val schema = new StructType()
      .add("doc_id", LongType).add("text", StringType)
    def jsonl(lines: Seq[String]): String = {
      val f = java.nio.file.Files.createTempFile("graft-cg-crawl", ".jsonl")
      java.nio.file.Files.writeString(f, lines.mkString("\n"))
      f.toString
    }
    def doc(id: Long, text: String) = s"""{"doc_id": $id, "text": "$text"}"""
    val cat = new graft.catalog.Catalog(spark,
      java.nio.file.Files.createTempDirectory("graft-cg-crawl").toString)
    val ingest = new graft.run.CrawlIngest(spark, cat,
      graft.run.CrawlIngestConfig(quality = graft.operators.QualityFilter
        .Thresholds(minTokens = 1, minAlphaRatio = 0.0, minStopRatio = 0.0)))
    CacheGuard.releaseAll(spark)
    val t1 = (1 to 32).map(i => s"alpha$i").mkString(" ")
    val t2 = (1 to 32).map(i => s"beta$i").mkString(" ")
    ingest.ingest(jsonl(Seq(doc(1, t1))), schema)
    assert(CacheGuard.trackedCount(spark) == 0,
      "batch 1 must release its tracked frames")
    ingest.ingest(jsonl(Seq(doc(2, t2), doc(3, t1))), schema)
    assert(CacheGuard.trackedCount(spark) == 0,
      "batch 2 must release its tracked frames")
  }

  test("consecutive pipeline runs leave no tracked frames behind") {
    val cat = new graft.catalog.Catalog(spark,
      java.nio.file.Files.createTempDirectory("graft-cg-pipe").toString)
    val runner = new graft.run.PipelineRunner(spark, cat)
    CacheGuard.releaseAll(spark)
    val cfg = graft.run.RunConfig("customers", fixture("customers.csv"),
      java.sql.Date.valueOf("2024-01-01"))
    runner.run(cfg)
    assert(CacheGuard.trackedCount(spark) == 0,
      "run 1 must release its tracked frames")
    runner.run(cfg.copy(runDate = java.sql.Date.valueOf("2024-01-02")))
    assert(CacheGuard.trackedCount(spark) == 0,
      "run 2 must release its tracked frames")
  }
}
