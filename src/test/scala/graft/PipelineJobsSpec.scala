package graft

import java.sql.Date
import graft.catalog.Catalog
import graft.io.Sources
import graft.model.Schemas
import graft.run.{PipelineRunner, RunConfig}

/** Fixed Spark jobs on `PipelineRunner.run`'s path: a daily load is almost
  * all per-job overhead at pipeline sizes, so each job it starts is pinned
  * here. */
class PipelineJobsSpec extends SparkSpec with JobCounting {

  private val d1 = Date.valueOf("2024-01-01")
  private def freshCatalog() =
    new Catalog(spark, tempDir("graft-jobs").toString)

  test("C1 parses the CSV once: a run of orders starts at most 3 jobs") {
    val cat = freshCatalog()
    val (_, jobs) = jobsDuring(
      new PipelineRunner(spark, cat).run(RunConfig("orders", fixture("orders.csv"), d1)))
    // the write with its observed metrics, then the duplicate-key check
    // on the written parquet (shuffle map stage + result)
    assert(jobs <= 3, s"C1 started $jobs jobs")
    assert(cat.read("orders").count() == 4)
  }

  test("catalog and snapshot reads start no job") {
    val cat = freshCatalog()
    cat.write("orders", Sources.csv(spark, fixture("orders.csv"), Schemas.orders))
    val (df, jobs) = jobsDuring(cat.read("orders"))
    assert(jobs == 0, s"Catalog.read started $jobs jobs")
    val (snapDf, snapJobs) = jobsDuring(cat.snapshot("orders").read("orders"))
    assert(snapJobs == 0, s"CatalogSnapshot.read started $snapJobs jobs")
    assert(df.schema == snapDf.schema && df.count() == 4)
  }

  test("a first upsertDim writes the initial load directly") {
    val cat = freshCatalog()
    cat.write("customers", Sources.csv(spark, fixture("customers.csv"), Schemas.customers))
    val (_, jobs) = jobsDuring(
      new PipelineRunner(spark, cat).upsertDim("customers", d1))
    assert(jobs < FirstUpsertJobsBefore, s"first upsertDim started $jobs jobs")
    assert(cat.read("dim_customers").count() == 4)
  }

  /** What a first upsertDim started while it closed out and keyed against
    * an empty `.limit(0)` dimension, read by footer inference. */
  private val FirstUpsertJobsBefore = 5
}
