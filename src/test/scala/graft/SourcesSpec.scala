package graft

import java.nio.file.Files
import org.apache.spark.sql.types.{LongType, StringType, StructType}
import graft.io.Sources

/** Ingest formats beyond the reference's CSV COPY: JSONL with explicit
  * schema and per-record quarantine (the crawl-corpus load contract). */
class SourcesSpec extends SparkSpec {

  private val docSchema = new StructType()
    .add("doc_id", LongType).add("text", StringType)

  private def writeFixture(lines: Seq[String]): String = {
    val f = tempDir("graft-jsonl").resolve("t.jsonl")
    Files.writeString(f, lines.mkString("\n"))
    f.toString
  }

  test("jsonl: schema-on-write parse, missing fields null, no inference") {
    val path = writeFixture(Seq(
      """{"doc_id": 1, "text": "hello world"}""",
      """{"doc_id": 2}""",                              // missing field → null
      """{"doc_id": 3, "text": "x", "extra": true}"""))  // extra field ignored
    val df = Sources.jsonl(spark, path, docSchema)
    assert(df.schema.fieldNames.toSeq == Seq("doc_id", "text", "_corrupt"))
    assert(rows(df.orderBy("doc_id").select("doc_id", "text")) ==
      Seq(Seq(1L, "hello world"), Seq(2L, null), Seq(3L, "x")))
  }

  test("jsonl quarantine: malformed lines preserved raw, clean rows flow on") {
    val path = writeFixture(Seq(
      """{"doc_id": 1, "text": "ok"}""",
      """{"doc_id": 2, "text": }""",      // malformed JSON
      """not json at all""",
      """{"doc_id": 4, "text": "fine"}"""))
    val (clean, quarantine) = Sources.jsonlWithQuarantine(spark, path, docSchema)
    assert(rows(clean.orderBy("doc_id")) ==
      Seq(Seq(1L, "ok"), Seq(4L, "fine")))
    assert(!clean.columns.contains("_corrupt"))
    // the raw offending lines survive for the audit sink
    val bad = rows(quarantine.select("raw_line")).flatten.map(_.toString)
    assert(bad.size == 2)
    assert(bad.exists(_.contains("not json at all")))
    assert(bad.exists(_.contains(""""text": }""")))
  }

  test("jsonl reads gzip transparently (non-splittable — document, don't hide)") {
    val lines = Seq("""{"doc_id": 1, "text": "zipped"}""")
    val f = tempDir("graft-jsonl").resolve("t.jsonl.gz")
    val out = new java.util.zip.GZIPOutputStream(Files.newOutputStream(f))
    out.write(lines.mkString("\n").getBytes("UTF-8")); out.close()
    val df = Sources.jsonl(spark, f.toString, docSchema)
    assert(rows(df.select("doc_id", "text")) == Seq(Seq(1L, "zipped")))
  }

  test("writeJsonl: sharded export round-trips values, nulls, and arrays") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val df = Seq(
      (1L, Some("""quotes " and \ slashes, unicode é🙂"""), Some(1.5), Seq(1.0f, -2.25f)),
      (2L, None, None, Seq.empty[Float])
    ).toDF("doc_id", "text", "score", "vec")
    val out = tempDir("graft-jsonl-w").toString + "/t"
    Sources.writeJsonl(df, out, 3, "doc_id")
    // bounded by the shard count (empty shards write no file at all —
    // no empty-file litter when keys are few)
    val nFiles = new java.io.File(out).listFiles.count(_.getName.endsWith(".json"))
    assert(nFiles >= 1 && nFiles <= 3)
    val back = Sources.jsonl(spark, out,
        org.apache.spark.sql.types.StructType.fromDDL(
          "doc_id bigint, text string, score double, vec array<float>"))
      .select("doc_id", "text", "score", "vec")
    // identity round-trip, nulls kept explicit (not dropped keys)
    assert(rows(back.orderBy("doc_id")) == rows(df.orderBy("doc_id")))
    assert(spark.read.text(out).filter(col("value").contains("\"text\":null")).count() == 1)
  }
}
