package graft.queries

import java.nio.file.{Files, Path}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** One operator exposed through the driver's correctness gate: a named Spark
  * implementation plus (where SQL-expressible) an equivalent DuckDB oracle over
  * the same parquet tables. Conventions that make the hash compare stable
  * across engines (the driver sorts columns by name and hashes values):
  *
  *  - every output column is lower-case and explicitly aliased in BOTH sides;
  *  - integer-ish outputs are BIGINT on both sides (Spark `count`/`sum(long)`
  *    are already long; `row_number`/`year`/... are cast);
  *  - money/measure aggregates are computed in EXACT arithmetic (integer cents
  *    or decimal), never by summing doubles (double addition is
  *    order-dependent, and Spark and DuckDB would disagree in the last ulp);
  *  - cross-engine hashing uses md5 (identical hex in both engines) parsed to
  *    a 60-bit int, not engine-native hash functions.
  */
final case class QueryDef(
    name: String,
    fn: (SparkSession, String) => DataFrame,
    oracle: Option[String]
)

/** Shared helpers of the gate queries, and their fixture store: everything
  * a gate builds once per (session, data dir) and reuses on later calls —
  * analyzed tables, fitted models, shared persisted frames, stored indexes
  * and throwaway catalogs — goes through a [[Memo]] and, when it lands on
  * disk, a [[scratch]] directory. Like the reference's staging tables, all
  * of it is transient: memo entries of stopped sessions are dropped on
  * access, and every scratch directory lives under one JVM-wide root that
  * is deleted when the JVM exits. */
object Q {
  /** One per-(session, data dir) memo. */
  final class Memo[V] {
    // one map per memo: builds nest (nbConfusion → nbScores → nbModel),
    // and a nested computeIfAbsent on one shared map throws "Recursive update"
    private val m = new java.util.concurrent.ConcurrentHashMap[(SparkSession, String), V]()

    /** The value for (s, d), built by `build` on first use. */
    def apply(s: SparkSession, d: String)(build: => V): V = {
      m.keySet.removeIf(_._1.sparkContext.isStopped)
      m.computeIfAbsent((s, d), _ => build)
    }
  }

  /** This JVM's scratch root, deleted with everything under it at exit. */
  lazy val scratchRoot: Path = {
    val root = Files.createTempDirectory("graft-")
    sys.addShutdownHook(scala.util.Try(scala.util.Using.resource(Files.walk(root))(
      _.sorted(java.util.Comparator.reverseOrder[Path]()).forEach(p => Files.deleteIfExists(p)))))
    root
  }

  private val scratchDirs = new Memo[Path]

  /** `family`'s directory under the scratch root of (s, d): stored-index
    * gates write it once and read it thereafter. */
  def scratch(s: SparkSession, d: String, family: String): String =
    Files.createDirectories(scratchDirs(s, d)(Files.createTempDirectory(scratchRoot, "run"))
      .resolve(family)).toString

  private val tables = new Memo[DataFrame]

  /** Read one of the generated parquet test tables (TESTDATA.md): one
    * analyzed relation per (session, path), so the file listing and schema
    * read do not repeat for every query. Plans stay lazy. */
  def t(spark: SparkSession, dir: String, name: String): DataFrame = {
    val path = s"$dir/$name.parquet"
    tables(spark, path)(spark.read.parquet(path))
  }

  /** The `events` fixture has shipped with several `ts` precisions over time
    * (TIMESTAMP(NANOS), then timestamp[us]); the driver may regenerate it at
    * any of them. Read with legacy nanos-as-long enabled (so NANOS parquet
    * still loads as BIGINT instead of erroring) and branch on the RESOLVED
    * schema to surface a uniform `ts_us` (µs since epoch, exact — the data is
    * whole microseconds) that agrees with DuckDB's `epoch_us(ts)`:
    *  - LongType (nanos-as-long)         → `ts div 1000`
    *  - TIMESTAMP / TIMESTAMP_NTZ ([us]) → `unix_micros(cast(ts as timestamp))`
    *    (session TZ is pinned UTC, so the NTZ→instant cast is the identity).
    * All Spark-side consumers read only `ts_us`; the raw `ts` column is kept
    * for schema parity but its type intentionally floats with the fixture. */
  def events(spark: SparkSession, dir: String): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val df = spark.read.parquet(s"$dir/events.parquet")
    val tsUs = df.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType => expr("ts div 1000")
      case _ => unix_micros(col("ts").cast("timestamp"))
    }
    df.withColumn("ts_us", tsUs)
  }

  /** Persist a shared, cached-per-session frame unless its plan is still
    * cached: Bench `clearCache()`s between queries, so each access
    * re-persists, and a plan already cached is never persisted twice.
    * Returns `df`. */
  def cached(df: DataFrame): DataFrame = {
    if (df.storageLevel == org.apache.spark.storage.StorageLevel.NONE)
      df.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    df
  }

  /** Exact integer cents from a 2-decimal double (BASELINE probe: prices are
    * 2-decimal within 1e-9, so round-then-cast is tie-free and identical in
    * both engines; note DuckDB CAST(double AS BIGINT) rounds while Spark
    * truncates — rounding FIRST makes that moot). */
  def cents(c: Column): Column = round(c * 100, 0).cast("long")
  def centsSql(e: String): String = s"CAST(round($e*100,0) AS BIGINT)"

  /** Portable 60-bit hash (Spark side: [[graft.functions.Hashing.hash64]];
    * DuckDB side: '0x'-prefixed cast of the same md5 prefix). Same value on
    * both engines for any UTF-8 string. */
  def hash64(c: Column): Column = graft.functions.Hashing.hash64(c)
  def hash64Sql(e: String): String =
    s"CAST(('0x' || substr(md5($e),1,15)) AS BIGINT)"

  /** Whitespace tokens of a text column — split(' ') keeps empty trailing
    * fields in both engines, so counts agree. */
  def tokens(c: Column): Column = graft.functions.Text.tokens(c)
  val tokensSql: String = "string_split(text, ' ')"

  /** DuckDB side of [[graft.functions.Text.shingles]] (k=3). Spark arrays
    * are 0-based, DuckDB lists 1-based; both sides guard len<3 → empty list.
    * Only order-insensitive reductions (min / membership / counts) may be
    * applied downstream, because the two engines order `distinct` results
    * differently. */
  def shingles3Sql(e: String): String =
    s"CASE WHEN len($e) >= 3 THEN list_distinct(list_transform(generate_series(1, len($e)-2), " +
      s"i -> $e[i] || ' ' || $e[i+1] || ' ' || $e[i+2])) ELSE [] END"
}
