package graft.queries

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

object Q {
  /** Lazy table registry: one analyzed relation per (session, path). The
    * file listing + schema read otherwise repeats for every query (43
    * queries × 2 bench runs — a measurable slice of the fixed per-query
    * overhead). Plans stay lazy; nothing is materialized here. */
  private val tableCache =
    new java.util.concurrent.ConcurrentHashMap[(SparkSession, String), DataFrame]()

  /** Read one of the driver-generated parquet tables (TESTDATA.md). Entries
    * for stopped sessions are dropped on access so the cache cannot retain
    * DataFrames of dead sessions in a long-lived process (the bench/verify
    * mains are single-session, so this is a one-pass no-op there). */
  def t(spark: SparkSession, dir: String, name: String): DataFrame = {
    tableCache.keySet.removeIf(k => k._1.sparkContext.isStopped)
    tableCache.computeIfAbsent((spark, s"$dir/$name.parquet"),
      { case (s, p) => s.read.parquet(p) })
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

  /** Per-(session, sfDir) temp directory for stored-index / stored-layout
    * gates (write-once-read-many, like a real index); stopped-session
    * entries evicted on access — one implementation for every such cache
    * instead of a hand-rolled copy per query family. */
  def tempRoot(cache: java.util.concurrent.ConcurrentHashMap[(SparkSession, String), String],
      s: SparkSession, d: String, prefix: String): String = {
    cache.keySet.removeIf(_._1.sparkContext.isStopped)
    cache.computeIfAbsent((s, d),
      _ => java.nio.file.Files.createTempDirectory(prefix).toString)
  }

  /** Persist a shared, cached-per-session frame unless it is still cached
    * ([[graft.operators.CacheGuard.persistIfAbsent]]): Bench
    * `clearCache()`s between queries, so each access re-persists. The frame
    * is not registered with CacheGuard, so `releaseAll` leaves it cached.
    * Returns `df`. */
  def cached(df: DataFrame): DataFrame = {
    graft.operators.CacheGuard.persistIfAbsent(df)
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
