package graft

import java.sql.Date
import graft.catalog.Catalog
import graft.run.{PipelineRunner, RunConfig}

/** CLI for the pipeline dispatch (C5) — the engine's replacement for a Glue
  * workflow run (validate_data.py:183-195): one table per invocation, routed
  * to load+validate → SCD2 upsert / fact build by table name.
  *
  * Usage:
  *   dev/run_main.sh graft.Run <warehouseDir> <tableName> <csvPath> [runDate]
  *
  * Example (full pipeline, mirrors the reference's workflow sequence):
  *   for t in customers products stores orders orderdetails; do
  *     dev/run_main.sh graft.Run /tmp/wh $t src/test/resources/fixtures/$t.csv 2024-01-01
  *   done
  */
object Run {
  def main(args: Array[String]): Unit = {
    require(args.length >= 3, "usage: graft.Run <warehouseDir> <tableName> <csvPath> [runDate]")
    val Seq(warehouse, table, csv) = args.take(3).toSeq
    val runDate = if (args.length > 3) Date.valueOf(args(3)) else new Date(System.currentTimeMillis())
    val spark = Session()
    spark.sparkContext.setLogLevel("WARN")
    try {
      val catalog = new Catalog(spark, warehouse)
      new PipelineRunner(spark, catalog).run(RunConfig(table, csv, runDate))
      val produced = Seq("customers" -> "dim_customers", "products" -> "dim_products",
        "stores" -> "dim_stores", "orderdetails" -> "fact_orders")
        .collect { case (t, out) if t == table.toLowerCase && catalog.exists(out) =>
          s"$out=${catalog.read(out).count()} rows" }
      println(s"[run] $table loaded into $warehouse" +
        (if (produced.nonEmpty) s"; ${produced.mkString(", ")}" else ""))
    } finally spark.stop()
  }
}
