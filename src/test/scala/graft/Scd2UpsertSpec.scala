package graft

import java.sql.Date
import org.apache.spark.sql.functions._
import graft.io.Sources
import graft.model.Schemas
import graft.ops.Scd2Upsert

/** C2 semantics (dynamic_upsert.py:108-152), incl. the as-is behavior locked
  * in by SURVEY.md §7.5.1: every run re-versions ALL source rows. */
class Scd2UpsertSpec extends SparkSpec {

  private val d1 = Date.valueOf("2024-01-01")
  private val d2 = Date.valueOf("2024-06-01")
  private val spec = Schemas.dimCustomers
  private def src(name: String) = Sources.csv(spark, fixture(name), Schemas.customers)

  test("initial load: dense keys 1..N, open validity intervals") {
    val dim = Scd2Upsert.initialLoad(src("customers.csv"), spec, d1)
    val got = rows(dim.orderBy("customerkey"))
    assert(got.map(_.head) == Seq(1L, 2L, 3L, 4L))            // dense, from 1
    assert(got.map(_(1)) == Seq(1, 2, 3, 4))                  // ordered by business key
    assert(dim.filter(col("enddate") =!= lit(Schemas.HighDate)).count() == 0)
    assert(dim.filter(col("startdate") =!= lit(d1)).count() == 0)
  }

  test("re-run re-versions EVERY matched key (reference as-is semantics)") {
    val dim1 = Scd2Upsert.initialLoad(src("customers.csv"), spec, d1)
    val dim2 = Scd2Upsert.run(src("customers_v2.csv"), dim1, spec, d2)
    // v2 has keys {1,2,5}: 1,2 closed + re-versioned (even though 2 is
    // unchanged); 3,4 untouched; 5 brand new.
    val closed = dim2.filter(col("enddate") === lit(Date.valueOf("2024-05-31")))
    assert(rows(closed.select("customerid")).flatten.toSet == Set(1, 2))
    val open = dim2.filter(col("enddate") === lit(Schemas.HighDate))
    assert(rows(open.select("customerid")).flatten.toSet == Set(1, 2, 3, 4, 5))
    // new versions keyed past the old max (IDENTITY continuation)
    val newKeys = rows(dim2.filter(col("startdate") === lit(d2)).select("customerkey")).flatten
    assert(newKeys.map(_.asInstanceOf[Long]).min > 4)
    assert(dim2.count() == 7) // 4 originals + 3 new versions
  }

  test("SCD2 invariant: exactly one open row per business key") {
    val dim1 = Scd2Upsert.initialLoad(src("customers.csv"), spec, d1)
    val dim2 = Scd2Upsert.run(src("customers_v2.csv"), dim1, spec, d2)
    val openPerKey = Scd2Upsert.currentRows(dim2, spec)
      .groupBy("customerid").count().filter(col("count") > 1)
    assert(openPerKey.count() == 0)
    // validity intervals never invert
    assert(dim2.filter(col("startdate") > col("enddate")).count() == 0)
  }

  test("as-of lookup returns the version valid at the requested date") {
    val dim1 = Scd2Upsert.initialLoad(src("customers.csv"), spec, d1)
    val dim2 = Scd2Upsert.run(src("customers_v2.csv"), dim1, spec, d2)
    // between the runs: keys 1,2 resolve to their (now-closed) v1 rows
    val mid = Scd2Upsert.asOfRows(dim2, spec, Date.valueOf("2024-03-15"))
    assert(rows(mid.select("customerid")).flatten.toSet == Set(1, 2, 3, 4))
    assert(rows(mid.filter(col("customerid") === 1).select("customerkey")).head == Seq(1L))
    // after run2: re-versioned keys resolve to the new rows; 5 exists now
    val after = Scd2Upsert.asOfRows(dim2, spec, Date.valueOf("2024-07-01"))
    assert(rows(after.select("customerid")).flatten.toSet == Set(1, 2, 3, 4, 5))
    assert(rows(after.filter(col("customerid") === 1).select("customerkey"))
      .head.head.asInstanceOf[Long] > 4)
    // before run1: nothing existed
    assert(Scd2Upsert.asOfRows(dim2, spec, Date.valueOf("2023-12-31")).count() == 0)
  }

  test("empty source batch: no close-outs, no new versions, dim unchanged") {
    val dim = Scd2Upsert.initialLoad(src("customers.csv"), spec, d1)
    val after = Scd2Upsert.run(src("customers.csv").limit(0), dim, spec, d2)
    assert(rows(after.orderBy("customerkey")) == rows(dim.orderBy("customerkey")))
  }

  test("staging dedups source rows (A3, dynamic_upsert.py:121)") {
    val dupSrc = src("customers.csv").unionAll(src("customers.csv"))
    val dim = Scd2Upsert.initialLoad(dupSrc, spec, d1)
    assert(dim.count() == 4)
  }

  test("close-out join hint-broadcasts the staged keys") {
    val dim1 = Scd2Upsert.initialLoad(src("customers.csv"), spec, d1)
    // disable auto-broadcast so the ONLY possible BroadcastExchange is the
    // explicit hint under test (tiny fixtures would otherwise auto-broadcast)
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    val plan =
      try Scd2Upsert.run(src("customers_v2.csv"), dim1, spec, d2)
        .queryExecution.executedPlan.toString
      finally spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
    assert(plan.contains("BroadcastExchange"))
  }
}
