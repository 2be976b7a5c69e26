package perfbench

import java.nio.file.{Files, Path, Paths}
import java.sql.Date
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import graft.catalog.Catalog
import graft.io.Sources
import graft.model.Schemas
import graft.operators.CacheGuard
import graft.ops.{Scd2Upsert, Validator}
import graft.run.{PipelineRunner, RunConfig}

/** The paper's daily workflow over generated inputs (see gen.py): day 1
  * loads customers, products, stores, orders and orderdetails into an empty
  * catalog; day 2 loads them again on the next date, with changed
  * attributes and the held-back orders. `expect.properties` beside the
  * inputs holds what the catalog must contain after each run. */
final class EtlDaily(spark: SparkSession, trace: Trace, dir: String) {
  private val expect = {
    val p = new java.util.Properties()
    val in = Files.newInputStream(Paths.get(dir, "expect.properties"))
    try p.load(in) finally in.close()
    p.asScala.toMap
  }
  private def expected(key: String): Long = key match {
    case "zero" => 0L
    case "one" => 1L
    case k => expect(k).toLong
  }
  val csvBytes: Long = expected("csv.bytes")
  val csvRows: Long = expected("csv.rows")
  private val tables = Seq("customers", "products", "stores", "orders", "orderdetails")
  private def runDate(day: Int): Date = Date.valueOf(expect(s"day$day.rundate"))

  def newRun(warehouse: Path): Run = new Run(warehouse)

  final class Run(warehouse: Path) {
    private val catalog = new Catalog(spark, warehouse.toString)
    private val runner = new PipelineRunner(spark, catalog)
    private val fig = mutable.Map.empty[String, Double].withDefaultValue(0.0)

    /** Ten ops: one `PipelineRunner.run` per table and day. A detailed pass
      * makes the same public calls `run` makes, in the same order, each as
      * its own layer span. `afterOp` runs outside the op's time. With
      * `checked`, the catalog is checked once, after day 2; a violation
      * fails the day-2 op that produced the table. */
    def ops(pass: String, detailed: Boolean, checked: Boolean, afterOp: () => Unit): Seq[Op] = {
      val done = for (day <- 1 to 2; table <- tables) yield {
        val name = s"day$day/$table"
        val cfg = RunConfig(table, s"$dir/day$day/$table", runDate(day))
        val layerNs = mutable.Map.empty[String, Long]
        def call(layer: String)(body: => Unit): Unit =
          layerNs(layer) = layerNs.getOrElse(layer, 0L) + trace.span(pass, name, layer)(body)._2
        val t0 = System.nanoTime()
        val error = try {
          if (!detailed) call("run")(runner.run(cfg))
          else try {
            val spec = Schemas.sourceTables(table)
            var df: org.apache.spark.sql.DataFrame = null
            call("io") { df = Sources.csv(spark, cfg.csvPath, spec) }
            call("validate")(Validator.validate(df, spec, failFast = true))
            call("catalog.write")(catalog.write(table, df))
            if (Schemas.scd2Dims.contains(table)) call("scd2")(runner.upsertDim(table, cfg.runDate))
            else if (table == "orderdetails") call("fact")(runner.populateFact())
          } finally call("release")(CacheGuard.releaseAll(spark))
          None
        } catch { case NonFatal(e) => Some(s"${e.getClass.getSimpleName}: ${e.getMessage}".take(300)) }
        val seconds = (System.nanoTime() - t0) / 1e9
        afterOp()
        Op(name, seconds, layerNs.toMap, error)
      }
      val problems =
        if (!checked || done.exists(_.error.isDefined)) Map.empty[String, String]
        else trace.span(pass, "check", "check")(check())._1
      done.map(o => o.copy(error = o.error.orElse(problems.get(o.name))))
    }

    /** Catalog invariants after day 2, computed from the generated inputs:
      * every source row of both days is one dimension version, exactly one
      * version per business key is current, every day-1 version was closed
      * on day 2, and the fact table holds every order line with all keys
      * resolved and the expected revenue in cents. Returns the violation
      * per op name. */
    private def check(): Map[String, String] = {
      val errors = mutable.Map.empty[String, String]
      def same(op: String, what: String, got: Long, key: String): Unit =
        if (got != expected(key) && !errors.contains(op))
          errors(op) = s"$what: $got, expected ${expected(key)}"
      val t0 = System.nanoTime()
      for ((table, spec) <- Schemas.scd2Dims.toSeq.sortBy(_._1)) {
        val op = s"day2/$table"
        val dim = catalog.read(spec.dimName)
        val r = dim.agg(count(lit(1)),
          sum(when(col(spec.endDateCol) === date_sub(lit(runDate(2)), 1), 1).otherwise(0)).cast("long")).head()
        same(op, s"${spec.dimName} rows", r.getLong(0), s"day2.dimrows.$table")
        same(op, s"${spec.dimName} versions closed on day 2", r.getLong(1), s"day1.rows.$table")
        fig("scd2.rows_inserted") += r.getLong(0)
        fig("scd2.rows_expired") += r.getLong(1)
        val perKey = Scd2Upsert.currentRows(dim, spec).groupBy(spec.businessKey).count()
          .agg(count(lit(1)), max(col("count"))).head()
        same(op, s"${spec.dimName} current keys", perKey.getLong(0), s"day2.rows.$table")
        same(op, s"${spec.dimName} current versions of one key", perKey.getLong(1), "one")
      }
      val fact = catalog.read("fact_orders")
      val r = fact.agg(count(lit(1)), sum(col("totalprice"))).head()
      val rows = r.getLong(0)
      val staged = catalog.read("orders").join(catalog.read("orderdetails"), "orderid").count()
      fig("catalog.read_s") += (System.nanoTime() - t0) / 1e9
      fig("fact.rows") += rows
      fig("fact.unresolved_keys") += staged - rows
      same("day2/orderdetails", "fact_orders rows", rows, "day2.factrows")
      same("day2/orderdetails", "fact_orders revenue in cents",
        r.getDecimal(1).movePointRight(2).longValueExact, "day2.factcents")
      same("day2/orderdetails", "fact_orders unresolved keys", staged - rows, "zero")
      errors.toMap
    }

    def warehouseFiles: Seq[Path] =
      Files.walk(warehouse).iterator.asScala.filter(Files.isRegularFile(_)).toSeq

    /** Per-layer figures of a detailed pass over this run's catalog. */
    def figures(p: Pass): Map[String, Double] = {
      def acc(l: String): LayerAcc = p.layers.getOrElse(l, new LayerAcc)
      def secs(l: String): Double = p.ops.map(_.layerNs.getOrElse(l, 0L)).sum / 1e9
      val files = warehouseFiles
      val versions = (tables ++ Schemas.scd2Dims.values.map(_.dimName) ++ Seq("dim_dates", "fact_orders"))
        .map(catalog.versions(_).size).sum
      fig.toMap ++ Map(
        "release.s" -> secs("release"),
        "io.csv_s" -> secs("io"),
        "io.rows_read" -> Seq("io", "validate", "catalog.write").map(acc(_).inputRecords).sum.toDouble,
        "validate.s" -> secs("validate"),
        "validate.jobs" -> acc("validate").jobs.toDouble,
        "catalog.write_s" -> secs("catalog.write"),
        "catalog.write_jobs" -> acc("catalog.write").jobs.toDouble,
        "catalog.bytes_written" -> files.map(Files.size(_)).sum.toDouble,
        "catalog.files_written" -> files.size.toDouble,
        "catalog.versions" -> versions.toDouble,
        "scd2.s" -> secs("scd2"),
        "scd2.jobs" -> acc("scd2").jobs.toDouble,
        "scd2.shuffle_bytes" -> (acc("scd2").shuffleRead + acc("scd2").shuffleWrite).toDouble,
        "fact.s" -> secs("fact"),
        "fact.jobs" -> acc("fact").jobs.toDouble,
        "fact.shuffle_bytes" -> (acc("fact").shuffleRead + acc("fact").shuffleWrite).toDouble)
    }
  }
}

object EtlDaily {
  /** The layers of a pass's op spans: `run` untraced, the others traced. */
  val Layers: Seq[String] = Seq("run", "io", "validate", "catalog.write", "scd2", "fact", "release")

  def deleteTree(p: Path): Unit =
    if (Files.exists(p))
      Files.walk(p).iterator.asScala.toSeq.reverse.foreach(Files.deleteIfExists(_))
}
