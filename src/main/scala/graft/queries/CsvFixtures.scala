package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.catalog.Catalog

/** CSV twins of the driver parquet tables, remapped into the REFERENCE
  * source schemas ([[graft.model.Schemas.sourceTables]]) — CSV is the one
  * format the reference actually ingests (validate_data.py:138-146, COPY ...
  * FORMAT AS CSV IGNOREHEADER 1), so the S1 and C5 gate queries load these
  * files through [[graft.io.Sources.csv]] end-to-end instead of only
  * spec-testing the reader.
  *
  * The mapping expressions here are mirrored VERBATIM by the gate oracles
  * (which read the original parquet): any corruption introduced by the CSV
  * write→read round trip therefore fails the hash gate. Mappings are chosen
  * to satisfy the reference DDL the validator enforces — VARCHAR widths via
  * substr, DECIMAL(8,2) prices bounded so `unitprice*quantity` cannot
  * overflow the fact sink's DECIMAL(8,2) under ANSI mode, orderdates folded
  * into the reference's 2023-2024 date-dimension window, and the composite
  * (orderid, productid) PK enforced by pre-aggregating lineitem (the raw
  * table has duplicate pairs, which COPY-then-validate would reject).
  *
  * Fixtures are materialized once per (session, sfDir) — the sfDir keys the
  * cache because a session touching two scale factors must not serve one
  * SF's files to the other's queries.
  */
object CsvFixtures {

  private val roots = new Q.Memo[String]
  private val c5Catalogs = new Q.Memo[Catalog]

  /** Directory holding one CSV dataset per reference source table. */
  def root(s: SparkSession, d: String): String = roots(s, d)(build(s, d))

  /** One full C5 pipeline run (CSV load+validate ×5 → SCD2 ×3 → dates →
    * fact) into a throwaway catalog, memoized per (session, sfDir): the
    * SCD2 upsert is deliberately NOT idempotent against its own output (a
    * rerun re-versions every row), so audit queries must observe the state
    * after exactly ONE run regardless of how many times the gate/bench
    * invokes them. Verify still exercises the whole runner (first call). */
  def pipelineCatalog(s: SparkSession, d: String): Catalog = c5Catalogs(s, d) {
    val fx = root(s, d)
    val cat = new Catalog(s, Q.scratch(s, d, "graft-c5-catalog"))
    val runner = new graft.run.PipelineRunner(s, cat)
    val runDate = java.sql.Date.valueOf("2024-01-01")
    // Reference workflow order: dims' sources first, fact trigger last
    // (the orderdetails run dispatches populateFact, which needs the three
    // dims and the orders load already committed).
    Seq("customers", "products", "stores", "orders", "orderdetails")
      .foreach(t => runner.run(graft.run.RunConfig(t, s"$fx/$t", runDate)))
    cat
  }

  /** customer → customers(customerid, firstname, lastname, email, address,
    * city, state, zipcode). Column ORDER matches the TableSpec: CSV with an
    * explicit schema binds positionally. The driver's customer table is a
    * trimmed TPC-H projection (no phone/address), so the remaining string
    * columns are derived from c_name ("Customer#000000001") / c_mktsegment. */
  def customers(s: SparkSession, d: String): DataFrame =
    Q.t(s, d, "customer").select(
      col("c_custkey").cast("int").as("customerid"),
      col("c_name").as("firstname"),
      col("c_mktsegment").as("lastname"),
      concat(col("c_name"), lit("@example.com")).as("email"),
      col("c_mktsegment").as("address"),
      col("c_mktsegment").as("city"),
      substring(col("c_name"), 10, 2).as("state"),
      substring(col("c_name"), 10, 9).as("zipcode"))

  /** part → products; p_name can exceed VARCHAR(50), so it lands truncated
    * in `description` and the ≤10-char p_brand plays productname. */
  def products(s: SparkSession, d: String): DataFrame =
    Q.t(s, d, "part").select(
      col("p_partkey").cast("int").as("productid"),
      col("p_brand").as("productname"),
      col("p_type").as("category"),
      substring(col("p_name"), 1, 50).as("description"),
      col("p_retailprice").cast("decimal(8,2)").as("price"))

  /** nation → stores: 25 rows at EVERY scale factor, so orders can key
    * storeid = o_orderkey % 25 without knowing the SF. */
  def stores(s: SparkSession, d: String): DataFrame =
    Q.t(s, d, "nation").select(
      col("n_nationkey").cast("int").as("storeid"),
      col("n_name").as("storename"),
      col("n_name").as("address"),
      col("n_name").as("city"),
      substring(col("n_name"), 1, 2).as("state"),
      substring(col("n_name"), 1, 10).as("zipcode"))

  /** orders → orders: storeid folded onto the 25-store domain, orderdate
    * folded into the reference date dimension's 2023-01-01..2024-12-31
    * window (731 days) so every fact row resolves a datekey. */
  def orders(s: SparkSession, d: String): DataFrame =
    Q.t(s, d, "orders").select(
      col("o_orderkey").cast("int").as("orderid"),
      col("o_custkey").cast("int").as("customerid"),
      (col("o_orderkey") % 25).cast("int").as("storeid"),
      date_add(lit(java.sql.Date.valueOf("2023-01-01")),
        (col("o_orderkey") % 731).cast("int")).as("orderdate"))

  /** lineitem → orderdetails: pre-aggregated to the composite PK (the raw
    * table has duplicate (l_orderkey, l_partkey) pairs the validator would
    * reject), unitprice derived from the product key so it is bounded at
    * 999.99 — totalprice ≤ 999.99×50 fits the fact sink's DECIMAL(8,2). */
  def orderdetails(s: SparkSession, d: String): DataFrame =
    Q.t(s, d, "lineitem")
      .groupBy(
        col("l_orderkey").cast("int").as("orderid"),
        col("l_partkey").cast("int").as("productid"))
      .agg(min(col("l_quantity")).cast("int").as("quantity"))
      .withColumn("unitprice",
        ((col("productid") % 100000).cast("double") / 100).cast("decimal(8,2)"))

  private def build(s: SparkSession, d: String): String = {
    val out = Q.scratch(s, d, "graft-csv-fixtures")
    def w(name: String, df: DataFrame): Unit =
      df.write.option("header", "true").mode("overwrite").csv(s"$out/$name")
    w("customers", customers(s, d))
    w("products", products(s, d))
    w("stores", stores(s, d))
    w("orders", orders(s, d))
    w("orderdetails", orderdetails(s, d))
    out
  }
}
