package graft.model

import org.apache.spark.sql.types._

/** Column-level spec: name, type, and the constraints the reference declares in
  * its DDL dicts (NOT NULL at dynamic_upsert.py:17-19, PK via the uniqueness scan
  * at validate_data.py:79-86). Spark does not enforce constraints at write time,
  * so these are carried as metadata and enforced by [[graft.ops.Validator]].
  */
final case class ColumnSpec(
    name: String,
    dataType: DataType,
    notNull: Boolean = false,
    // VARCHAR(n) width from the reference DDL (dynamic_upsert.py:17-26);
    // Redshift rejects over-length values at load, Spark stores any string —
    // so the width is enforced by [[graft.ops.Validator]] instead.
    maxLength: Option[Int] = None
) {
  def field: StructField = StructField(name, dataType, nullable = !notNull)
}

/** Table spec = schema + primary key, the engine's replacement for the
  * reference's Python schema dicts (dynamic_upsert.py:9-26, validate_data.py:49-55).
  */
final case class TableSpec(
    name: String,
    columns: Seq[ColumnSpec],
    primaryKey: Seq[String] = Nil
) {
  def schema: StructType = StructType(columns.map(_.field))
  def columnNames: Seq[String] = columns.map(_.name)
  /** (column, VARCHAR width) pairs that carry a declared max length. */
  def lengthColumns: Seq[(String, Int)] =
    columns.collect { case c if c.maxLength.isDefined => c.name -> c.maxLength.get }
}

/** SCD Type-2 dimension spec, generalizing the reference's per-table dicts
  * (dynamic_upsert.py:16-26): a business key, the tracked attribute columns, and
  * the generated surrogate-key / validity-interval column names.
  */
final case class Scd2Spec(
    dimName: String,
    surrogateKey: String,       // e.g. "customerkey" — IDENTITY(1,1) in the reference
    businessKey: String,        // e.g. "customerid"
    attributes: Seq[String],    // tracked columns besides the business key
    startDateCol: String = "startdate",
    endDateCol: String = "enddate"
) {
  def trackedColumns: Seq[String] = businessKey +: attributes
}

object Schemas {
  import DataTypes._

  /** Sentinel "open row" high date used by the reference for current SCD2
    * versions (dynamic_upsert.py:131,138; populate_fact.py:124). */
  val HighDate: java.sql.Date = java.sql.Date.valueOf("9999-12-31")

  // ---- Reference source tables (SURVEY.md §1.4; dynamic_upsert.py:9-15) ----
  private val S = StringType
  private val I = IntegerType
  private def dec: DecimalType = createDecimalType(8, 2)

  /** VARCHAR(50) / VARCHAR(10) for zipcode — the widths every string column
    * carries in the reference DDL (dynamic_upsert.py:17-26). */
  private def v50(name: String, notNull: Boolean = false) =
    ColumnSpec(name, S, notNull, maxLength = Some(50))
  private def v10(name: String) = ColumnSpec(name, S, maxLength = Some(10))

  val customers: TableSpec = TableSpec(
    "customers",
    Seq(
      ColumnSpec("customerid", I, notNull = true),
      v50("firstname"), v50("lastname"),
      v50("email", notNull = true), v50("address"),
      v50("city"), v50("state"), v10("zipcode")
    ),
    primaryKey = Seq("customerid")
  )

  val products: TableSpec = TableSpec(
    "products",
    Seq(
      ColumnSpec("productid", I, notNull = true),
      v50("productname", notNull = true), v50("category"),
      v50("description"), ColumnSpec("price", dec)
    ),
    primaryKey = Seq("productid")
  )

  val stores: TableSpec = TableSpec(
    "stores",
    Seq(
      ColumnSpec("storeid", I, notNull = true),
      v50("storename", notNull = true), v50("address"),
      v50("city"), v50("state"), v10("zipcode")
    ),
    primaryKey = Seq("storeid")
  )

  val orders: TableSpec = TableSpec(
    "orders",
    Seq(
      ColumnSpec("orderid", I, notNull = true),
      ColumnSpec("customerid", I, notNull = true),
      ColumnSpec("storeid", I, notNull = true),
      ColumnSpec("orderdate", DateType, notNull = true)
    ),
    primaryKey = Seq("orderid")
  )

  /** OrderDetails carries UnitPrice per SURVEY.md §1.4's reconciliation of the
    * schema discrepancy (populate_fact.py:110 reads od.Price; the dicts at
    * dynamic_upsert.py:14 omit it). Composite PK (orderid, productid). */
  val orderdetails: TableSpec = TableSpec(
    "orderdetails",
    Seq(
      ColumnSpec("orderid", I, notNull = true),
      ColumnSpec("productid", I, notNull = true),
      ColumnSpec("quantity", I, notNull = true),
      ColumnSpec("unitprice", dec, notNull = true)
    ),
    primaryKey = Seq("orderid", "productid")
  )

  val sourceTables: Map[String, TableSpec] = Map(
    "customers" -> customers, "products" -> products, "stores" -> stores,
    "orders" -> orders, "orderdetails" -> orderdetails
  )

  // ---- SCD2 dimension specs (dynamic_upsert.py:16-20) ----
  val dimCustomers: Scd2Spec = Scd2Spec(
    "dim_customers", "customerkey", "customerid",
    Seq("firstname", "lastname", "email", "address", "city", "state", "zipcode"))
  val dimProducts: Scd2Spec = Scd2Spec(
    "dim_products", "productkey", "productid",
    Seq("productname", "category", "description", "price"))
  val dimStores: Scd2Spec = Scd2Spec(
    "dim_stores", "storekey", "storeid",
    Seq("storename", "address", "city", "state", "zipcode"))

  /** source table name -> SCD2 spec, the dispatch table of dynamic_upsert.py:95. */
  val scd2Dims: Map[String, Scd2Spec] = Map(
    "customers" -> dimCustomers, "products" -> dimProducts, "stores" -> dimStores)
}
