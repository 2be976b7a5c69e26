package graft

import java.nio.file.Files
import java.sql.Date
import org.apache.spark.sql.functions._
import graft.catalog.Catalog
import graft.model.Schemas
import graft.ops.Validator.ValidationException
import graft.run.{PipelineRunner, RunConfig}

/** C5 end-to-end: the reference's four workflow runs (load+validate → SCD2
  * dims → fact) replayed through the dispatch surface on CSV fixtures. */
class PipelineRunnerSpec extends SparkSpec {

  private val d1 = Date.valueOf("2024-01-01")

  test("full pipeline: loads, dims, dates, fact") {
    val cat = new Catalog(spark, tempDir("graft-run").toString)
    val runner = new PipelineRunner(spark, cat)
    runner.run(RunConfig("customers", fixture("customers.csv"), d1))
    runner.run(RunConfig("products", fixture("products.csv"), d1))
    runner.run(RunConfig("stores", fixture("stores.csv"), d1))
    runner.run(RunConfig("orders", fixture("orders.csv"), d1))
    runner.run(RunConfig("orderdetails", fixture("orderdetails.csv"), d1))

    assert(cat.read("dim_customers").count() == 4)
    assert(cat.read("dim_products").count() == 3)
    assert(cat.read("dim_stores").count() == 2)
    assert(cat.read("dim_dates").count() == 731)
    assert(cat.read("fact_orders").count() == 6)
    // star integrity: every fact FK resolves in its dimension
    val fact = cat.read("fact_orders")
    val dimC = cat.read("dim_customers").select(col("customerkey"))
    assert(fact.join(dimC, Seq("customerkey"), "left_anti").count() == 0)
  }

  test("dispatch: invalid table name rejected (validate_data.py:57-59)") {
    val cat = new Catalog(spark, tempDir("graft-run").toString)
    val runner = new PipelineRunner(spark, cat)
    val e = intercept[IllegalArgumentException](
      runner.run(RunConfig("Nope", fixture("customers.csv"), d1)))
    assert(e.getMessage.contains("nope"))
  }

  test("validation failure aborts before any write (C1 fail-fast)") {
    val cat = new Catalog(spark, tempDir("graft-run").toString)
    val runner = new PipelineRunner(spark, cat)
    intercept[ValidationException](
      runner.run(RunConfig("customers", fixture("customers_nulls.csv"), d1)))
    assert(!cat.exists("customers"))
    assert(!cat.exists("dim_customers"))
  }

  test("a failing day-2 load keeps day 1 current, leaves no version, names the columns") {
    val cat = new Catalog(spark, tempDir("graft-run").toString)
    val runner = new PipelineRunner(spark, cat)
    for (t <- Seq("customers", "products", "stores", "orders", "orderdetails"))
      runner.run(RunConfig(t, fixture(s"$t.csv"), d1))
    val d2 = Date.valueOf("2024-01-02")
    val csvDir = tempDir("graft-day2")
    def csv(name: String, lines: String*): String =
      Files.writeString(csvDir.resolve(name), lines.mkString("", "\n", "\n")).toString
    val customerHeader = "CustomerID,FirstName,LastName,Email,Address,City,State,ZipCode"
    val detailHeader = "OrderID,ProductID,Quantity,UnitPrice"
    val cases = Seq(
      ("customers", fixture("customers_nulls.csv"), "Not Null", "email"),
      ("customers", csv("wide.csv", customerHeader,
        s"1,${"x" * 51},Lovelace,ada@example.com,1 Analytical Way,London,LN,10001"),
        "VARCHAR", "firstname"),
      ("customers", fixture("customers_dupes.csv"), "Duplicate", "customerid"),
      ("orderdetails", csv("dupes.csv", detailHeader,
        "1000,10,2,9.99", "1000,11,1,24.50", "1000,10,3,9.99"),
        "Duplicate", "orderid,productid"))
    for ((table, path, rule, column) <- cases) {
      val before = (cat.currentVersionNumber(table), cat.versions(table))
      val dependent = if (table == "customers") "dim_customers" else "fact_orders"
      val dependentBefore = cat.currentVersionNumber(dependent)
      val e = intercept[ValidationException](runner.run(RunConfig(table, path, d2)))
      assert(e.getMessage.contains(rule), e.getMessage)
      assert(e.getMessage.contains(column), e.getMessage)
      assert((cat.currentVersionNumber(table), cat.versions(table)) == before, s"$table: $rule")
      assert(cat.currentVersionNumber(dependent) == dependentBefore)
      // a clean rerun commits the next version
      runner.run(RunConfig(table, fixture(s"$table.csv"), d2))
      assert(cat.currentVersionNumber(table).get > before._1.get)
    }
    assert(cat.read("fact_orders").count() == 6)
  }

  test("second run versions the dimension (SCD2 through the runner)") {
    val cat = new Catalog(spark, tempDir("graft-run").toString)
    val runner = new PipelineRunner(spark, cat)
    runner.run(RunConfig("customers", fixture("customers.csv"), d1))
    runner.run(RunConfig("customers", fixture("customers_v2.csv"), Date.valueOf("2024-06-01")))
    val dim = cat.read("dim_customers")
    assert(dim.count() == 7)
    assert(dim.filter(col("enddate") === lit(Schemas.HighDate)).count() == 5)
  }

  test("appendFact reproduces the reference's INSERT INTO accumulation (populate_fact.py:117)") {
    val cat = new Catalog(spark, tempDir("graft-run").toString)
    val runner = new PipelineRunner(spark, cat, appendFact = true)
    runner.run(RunConfig("customers", fixture("customers.csv"), d1))
    runner.run(RunConfig("products", fixture("products.csv"), d1))
    runner.run(RunConfig("stores", fixture("stores.csv"), d1))
    runner.run(RunConfig("orders", fixture("orders.csv"), d1))
    runner.run(RunConfig("orderdetails", fixture("orderdetails.csv"), d1))
    assert(cat.read("fact_orders").count() == 6)
    // rerunning the orderdetails workflow APPENDS — duplicate fact rows, as-is
    runner.run(RunConfig("orderdetails", fixture("orderdetails.csv"), d1))
    assert(cat.read("fact_orders").count() == 12)
    // the default (rebuild) runner stays idempotent on the same catalog
    new PipelineRunner(spark, cat).run(RunConfig("orderdetails", fixture("orderdetails.csv"), d1))
    assert(cat.read("fact_orders").count() == 6)
  }
}
