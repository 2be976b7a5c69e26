package graft.io

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.model.TableSpec

/** Sources/sinks for the reference's load contract. */
object Sources {

  /** S1: CSV bulk load with an explicit schema — the Spark equivalent of the
    * reference's `COPY t FROM s3 FORMAT AS CSV DELIMITER ',' IGNOREHEADER 1`
    * (validate_data.py:138-146). The reference relies on the pre-created
    * Redshift table schema (schema-on-write, no inference); we pass the
    * TableSpec's StructType and fail fast on malformed rows, matching COPY's
    * abort-on-error default.
    *
    * Scale note: CSV is splittable when uncompressed — a 100 TB load fans out
    * to one task per 128 MB split with no driver involvement. Schema is
    * explicit, so no inference pass over the data.
    */
  def csv(spark: SparkSession, path: String, spec: TableSpec): DataFrame =
    spark.read
      .schema(spec.schema)
      .option("header", "true")          // IGNOREHEADER 1
      .option("delimiter", ",")
      .option("mode", "FAILFAST")
      .csv(path)

  /** S3: read a named parquet table from a test-data directory. */
  def table(spark: SparkSession, dir: String, name: String): DataFrame =
    spark.read.parquet(s"$dir/$name.parquet")

  /** JSONL (one JSON document per line) with an explicit schema — the
    * de-facto crawl/training-corpus interchange format. Same schema-on-write
    * posture as [[csv]]: no inference pass (an inference scan over 100 TB is
    * a full extra read), PERMISSIVE per-record handling with the raw line
    * preserved in `_corrupt` — a web-scale corpus always contains malformed
    * records, and aborting a 100 TB load on line 40 billion helps no one.
    * Filter `_corrupt IS NOT NULL` into a quarantine sink; line-delimited
    * JSON is splittable exactly like CSV (one task per split). */
  def jsonl(spark: SparkSession, path: String,
      schema: org.apache.spark.sql.types.StructType): DataFrame =
    spark.read
      .schema(schema.add("_corrupt", org.apache.spark.sql.types.StringType))
      .option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", "_corrupt")
      .json(path)

  /** [[jsonl]] split into (clean rows, quarantine lines): the
    * load-and-validate shape for corpus ingest — clean rows flow on, the
    * raw offending lines land in an audit sink instead of killing the run.
    *
    * Implementation: a TEXT scan + `from_json`, not the json source. The
    * json source forbids any query whose pruned references reduce to the
    * internal corrupt column alone (UNSUPPORTED_FEATURE.QUERY_ONLY_
    * CORRUPT_RECORD_COLUMN) — and `quarantine.count()` is exactly that
    * query; the documented workaround (cache the parse) is not an option
    * at corpus scale. Parsing line-by-line from text has no such
    * restriction, costs the same one pass per consumer, splits identically,
    * and hands back the raw line verbatim for the audit sink. */
  def jsonlWithQuarantine(spark: SparkSession, path: String,
      schema: org.apache.spark.sql.types.StructType): (DataFrame, DataFrame) = {
    import org.apache.spark.sql.functions.{col, from_json}
    val ext = schema.add("_corrupt", org.apache.spark.sql.types.StringType)
    val parsed = spark.read.text(path).select(
      col("value"),
      from_json(col("value"), ext, Map(
        "mode" -> "PERMISSIVE", "columnNameOfCorruptRecord" -> "_corrupt")).as("r"))
    (parsed.filter(col("r._corrupt").isNull)
        .select(schema.fieldNames.map(n => col(s"r.$n")).toIndexedSeq: _*),
      parsed.filter(col("r._corrupt").isNotNull)
        .select(col("value").as("raw_line")))
  }

  /** JSONL EXPORT — the training-delivery sink (tokenized/packed corpora
    * ship as sharded JSONL at least as often as parquet). `shards` controls
    * the output file count via a hash repartition on `shardCol`: shard
    * membership is a pure function of the key, so re-exports place every
    * document in the same shard (rsync-friendly, resumable delivery) —
    * `coalesce` would instead inherit whatever the upstream partitioning
    * was. Writing is one narrow shuffle + map; no driver involvement, no
    * small-files explosion at any corpus size.
    *
    * Round-trip contract (gated by q_x_jsonl_export): for long/string/
    * double/array columns, write → [[jsonl]] read-back is IDENTITY. Nulls
    * survive because the writer keeps them explicit (`ignoreNullFields` =
    * false) — with the default drop-nulls, a read-back under the explicit
    * schema still yields null, but downstream consumers with laxer parsers
    * would see a missing key instead of a null value. */
  def writeJsonl(df: DataFrame, path: String, shards: Int,
      shardCol: String): Unit =
    df.repartition(shards, org.apache.spark.sql.functions.col(shardCol))
      .write.mode("overwrite")
      .option("ignoreNullFields", "false")
      .json(path)
}
