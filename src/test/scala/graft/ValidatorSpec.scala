package graft

import graft.io.Sources
import graft.model.Schemas
import graft.ops.Validator
import graft.ops.Validator.ValidationException

/** C1 semantics (validate_data.py:40-86): NOT NULL per column, PK uniqueness,
  * raise-on-violation. */
class ValidatorSpec extends SparkSpec {

  test("clean load validates OK (S1 CSV schema-on-read + C1)") {
    val df = Sources.csv(spark, fixture("customers.csv"), Schemas.customers)
    val res = Validator.validate(df, Schemas.customers)
    assert(res.ok)
    assert(res.rowCount == 4)
    assert(res.nullViolations.isEmpty)
    assert(res.duplicateKeys == 0)
  }

  test("NULL email raises Not Null violation (validate_data.py:74)") {
    val df = Sources.csv(spark, fixture("customers_nulls.csv"), Schemas.customers)
    val res = Validator.validate(df, Schemas.customers)
    assert(!res.ok)
    assert(res.nullViolations == Map("email" -> 1L))
    val e = intercept[ValidationException] {
      Validator.validate(df, Schemas.customers, failFast = true)
    }
    assert(e.getMessage.contains("Not Null"))
  }

  test("duplicate CustomerID raises uniqueness violation (validate_data.py:85)") {
    val df = Sources.csv(spark, fixture("customers_dupes.csv"), Schemas.customers)
    val res = Validator.validate(df, Schemas.customers)
    assert(res.duplicateKeys == 1)
    val e = intercept[ValidationException] {
      Validator.validate(df, Schemas.customers, failFast = true)
    }
    assert(e.getMessage.contains("Duplicate"))
  }

  test("null counts are a single-pass aggregate over all columns") {
    val df = Sources.csv(spark, fixture("customers_nulls.csv"), Schemas.customers)
    val res = Validator.validate(df, Schemas.customers)
    assert(res.nullViolations("email") == 1L)
    assert(res.nullViolations.values.sum == 1L)
    assert(res.rowCount == 2L)
  }

  test("VARCHAR over-width value raises length violation (DDL widths, dynamic_upsert.py:17-26)") {
    import spark.implicits._
    val df = Seq((1, "x" * 60, "a@x.com"), (2, "ok", "b@x.com"))
      .toDF("customerid", "firstname", "email")
    val res = Validator.validate(df, Schemas.customers)
    assert(!res.ok)
    assert(res.lengthViolations == Map("firstname" -> 1L))
    assert(res.nullViolations.isEmpty && res.duplicateKeys == 0)
    val e = intercept[ValidationException] {
      Validator.validate(df, Schemas.customers, failFast = true)
    }
    assert(e.getMessage.contains("VARCHAR"))
  }

  test("composite primary key duplicate detection (orderdetails)") {
    val df = Sources.csv(spark, fixture("orderdetails.csv"), Schemas.orderdetails)
    val res = Validator.validate(df, Schemas.orderdetails)
    assert(res.ok) // (OrderID, ProductID) unique in fixture
  }
}
