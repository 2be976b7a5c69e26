package graft

import java.nio.file.Files
import org.apache.spark.sql.functions._
import graft.streaming.EventStream

/** Structured Streaming pipeline driven synchronously by a parquet batch
  * (memory sink + processAllAvailable, per the Spark testing idiom). */
class StreamingSpec extends SparkSpec {
  import spark.implicits._

  /** Stage the nano-timestamp events fixture as a µs-timestamp stream dir. */
  private lazy val streamDir: String = {
    val dir = Files.createTempDirectory("graft-stream").toString
    graft.queries.Q.events(spark, sf0001)
      .select(col("event_id"), timestamp_micros(col("ts_us")).as("ts"),
        col("user_id"), col("event_type"), col("value"), col("props"))
      .write.mode("overwrite").parquet(dir)
    dir
  }

  test("windowed streaming agg matches the batch computation") {
    val q = EventStream.hourlyByType(
        spark.readStream.schema(EventStream.schema).parquet(streamDir))
      .writeStream.outputMode("complete").format("memory").queryName("hourly").start()
    try {
      q.processAllAvailable()
      val streamed = spark.table("hourly")
      val batch = graft.queries.Q.events(spark, sf0001)
        .groupBy(date_trunc("hour", timestamp_micros(col("ts_us"))).as("win"), col("event_type"))
        .agg(count(lit(1)).as("n_events"))
      // same groups, same counts
      val joined = streamed.select(col("win"), col("event_type"), col("n_events").as("sn"))
        .join(batch, Seq("win", "event_type"), "full_outer")
      assert(joined.filter(col("sn").isNull || col("n_events").isNull ||
        col("sn") =!= col("n_events")).count() == 0)
    } finally q.stop()
  }

  test("readStream → transform → writeStream parquet sink round-trips") {
    val outDir = Files.createTempDirectory("graft-sink").toString
    val ckpt = Files.createTempDirectory("graft-ckpt").toString
    val q = EventStream.hourlyByType(
        spark.readStream.schema(EventStream.schema).parquet(streamDir))
      .writeStream.outputMode("append")
      .format("parquet").option("path", outDir)
      .option("checkpointLocation", ckpt)
      .start()
    try q.processAllAvailable() finally q.stop()
    // append mode only emits finalized windows (watermark passed); with a
    // bounded batch the final windows stay open, so assert the sink is
    // well-formed rather than complete.
    val written = spark.read.schema(
      "win timestamp, event_type string, n_events bigint, value_cents bigint"
    ).parquet(outDir)
    assert(written.columns.toSeq == Seq("win", "event_type", "n_events", "value_cents"))
    assert(written.count() >= 0)
  }

  test("watermark finalizes windows: late events beyond the horizon are dropped") {
    import org.apache.spark.sql.types._
    val dir = Files.createTempDirectory("graft-late").toString
    val schema = EventStream.schema
    def batch(rows: Seq[(Long, String, Long, String, Double, String)]) = {
      import spark.implicits._
      rows.toDF("event_id", "tss", "user_id", "event_type", "value", "props")
        .select(col("event_id"), to_timestamp(col("tss")).as("ts"), col("user_id"),
          col("event_type"), col("value"), col("props"))
    }
    // batch 1: ONLY the hour-10 events (single file — row-to-file splits
    // would otherwise race the watermark-advancing event past them)
    batch(Seq(
      (1L, "2024-01-01 10:00:00", 1L, "click", 1.0, "{}"),
      (2L, "2024-01-01 10:30:00", 1L, "click", 1.0, "{}")
    )).coalesce(1).write.mode("append").parquet(dir)
    val agg = EventStream.hourlyByType(
      spark.readStream.schema(schema).parquet(dir), watermark = "2 hours")
    val q = agg.writeStream.outputMode("append").format("memory").queryName("late").start()
    try {
      q.processAllAvailable()
      // batch 2: an hour-13 event pushes the watermark to 11:00 → the
      // hour-10 window finalizes with its two on-time events
      batch(Seq((3L, "2024-01-01 13:00:00", 1L, "click", 1.0, "{}")))
        .coalesce(1).write.mode("append").parquet(dir)
      q.processAllAvailable()
      // batch 3: a LATE event for hour 10 — beyond the watermark, dropped
      batch(Seq((4L, "2024-01-01 10:45:00", 1L, "click", 9.0, "{}")))
        .coalesce(1).write.mode("append").parquet(dir)
      q.processAllAvailable()
      val hour10 = spark.table("late")
        .filter(col("win") === to_timestamp(lit("2024-01-01 10:00:00")))
      // the finalized hour-10 window counts only the two on-time events
      assert(rows(hour10.select("n_events")).flatten == Seq(2L))
    } finally q.stop()
  }

  test("out-of-order micro-batches within the watermark match batch counts exactly") {
    val dir = Files.createTempDirectory("graft-ooo").toString
    def append(rows: Seq[(Long, String)]): Unit =
      rows.map { case (id, ts) => (id, ts, 1L, "click", 1.0, "{}") }
        .toDF("event_id", "tss", "user_id", "event_type", "value", "props")
        .select(col("event_id"), to_timestamp(col("tss")).as("ts"), col("user_id"),
          col("event_type"), col("value"), col("props"))
        .coalesce(1).write.mode("append").parquet(dir)
    // hours 10–13 delivered SHUFFLED across micro-batches: every batch
    // carries events older than the previous batch's max (up to ~2.1h of
    // disorder — inside the 3h watermark), interleaved with fresh ones
    append(Seq((1L, "2024-01-01 11:10:00"), (2L, "2024-01-01 10:05:00"),
      (3L, "2024-01-01 12:20:00")))
    val agg = EventStream.hourlyByType(
      spark.readStream.schema(EventStream.schema).parquet(dir), watermark = "3 hours")
    val q = agg.writeStream.outputMode("append").format("memory").queryName("ooo").start()
    try {
      q.processAllAvailable()
      append(Seq((4L, "2024-01-01 10:40:00"), (5L, "2024-01-01 13:00:00"),
        (6L, "2024-01-01 11:30:00")))
      q.processAllAvailable()
      append(Seq((7L, "2024-01-01 12:45:00"), (8L, "2024-01-01 10:55:00"),
        (9L, "2024-01-01 13:30:00")))
      q.processAllAvailable()
      // horizon-closer: pushes the watermark far past hour 13 so every
      // window finalizes and append mode emits it
      append(Seq((10L, "2024-01-05 00:00:00")))
      q.processAllAvailable()
      val streamed = rows(spark.table("ooo")
        .filter(col("win") < to_timestamp(lit("2024-01-01 14:00:00")))
        .select("win", "n_events").orderBy("win"))
      // batch twin over the same 9 in-window rows: identical counts —
      // disorder within the watermark must lose NOTHING
      val batch = rows(spark.read.parquet(dir)
        .filter(col("ts") < to_timestamp(lit("2024-01-01 14:00:00")))
        .groupBy(date_trunc("hour", col("ts")).as("win"))
        .agg(count(lit(1)).as("n_events")).orderBy("win"))
      assert(streamed == batch)
      assert(streamed.map(_(1)) == Seq(3L, 2L, 2L, 2L)) // hours 10,11,12,13
    } finally q.stop()
  }

  test("streaming count-min sketch matches the batch sketch across micro-batches") {
    val dir = Files.createTempDirectory("graft-cms-stream").toString
    def append(keys: Seq[String]): Unit =
      keys.toDF("k").coalesce(1).write.mode("append").parquet(dir)
    append((1 to 60).map(i => s"k${i % 7}"))
    val stream = spark.readStream.schema("k string").parquet(dir)
    // the SAME operator body runs on the stream: a streaming groupBy count
    // in update mode — CMS cells are additive, so the sketch is a plain
    // incremental aggregation (the reason CMS is the streaming-native
    // frequency structure)
    val q = graft.operators.Skew.cmsSketch(stream, "k")
      .writeStream.outputMode("update").format("memory").queryName("cmsstream").start()
    try {
      q.processAllAvailable()
      append((1 to 40).map(i => s"k${i % 11}"))
      q.processAllAvailable()
      val streamed = spark.table("cmsstream")
        .groupBy("s", "b").agg(max("c").as("c")) // update-mode totals are monotone
      val batch = graft.operators.Skew.cmsSketch(spark.read.parquet(dir), "k")
      assert(streamed.collect().toSet.map((r: org.apache.spark.sql.Row) =>
          (r.getInt(0), r.getLong(1), r.getLong(2))) ==
        batch.collect().toSet.map((r: org.apache.spark.sql.Row) =>
          (r.getInt(0), r.getLong(1), r.getLong(2))))
    } finally q.stop()
  }

  test("streaming anomaly scoring: live points flagged against broadcast batch stats") {
    import graft.operators.Anomaly
    val dir = Files.createTempDirectory("graft-anomaly-stream").toString
    // history: tight series around 100 per key; live batch carries a spike
    val history = ((1 to 20).map(i => ("clicks", i.toLong, 100L + (i % 2))))
      .toDF("k", "t", "v")
    val stats = Anomaly.stats(history, Seq("k"), "v")
    Seq(("clicks", 21L, 101L), ("clicks", 22L, 500L))
      .toDF("k", "t", "v").coalesce(1).write.mode("append").parquet(dir)
    val live = spark.readStream.schema("k string, t bigint, v bigint").parquet(dir)
    val q = Anomaly.flagAgainstStats(live, stats, Seq("k"), "v")
      .writeStream.outputMode("append").format("memory").queryName("anomaly_stream").start()
    try {
      q.processAllAvailable()
      val got = rows(spark.table("anomaly_stream")
        .select("t", "is_anomaly").orderBy("t"))
      assert(got == Seq(Seq(21L, false), Seq(22L, true)))
    } finally q.stop()
  }

  test("map-side corpus operators compose unchanged on a stream") {
    // quality gate → repetition gate → weighted mixture, applied to a
    // STREAMING DataFrame exactly as to a batch one — all three are
    // shuffle-free projections/filters, so the streaming planner accepts
    // them as-is and the rows match the batch twin.
    val docsDir = Files.createTempDirectory("graft-docs-stream").toString
    graft.queries.Q.t(spark, sf0001, "documents")
      .select("doc_id", "lang", "text").write.mode("overwrite").parquet(docsDir)
    def pipeline(df: org.apache.spark.sql.DataFrame) = {
      val open = graft.operators.QualityFilter.Thresholds(
        minTokens = 1, minAlphaRatio = 0.0, minStopRatio = 0.0)
      val gated = graft.operators.QualityFilter.repetitionScored(
          graft.operators.QualityFilter.filter(df, open))
        .filter(col("repetition") <= 0.8)
      graft.operators.Sampling.mixtureSample(
          gated, "lang", Map("en" -> 100, "fr" -> 50), "doc_id", defaultPct = 25)
        .select("doc_id", "lang")
    }
    val batchDf = spark.read.parquet(docsDir)
    val streamed = pipeline(
      spark.readStream.schema(batchDf.schema).parquet(docsDir))
    assert(streamed.isStreaming)
    val q = streamed.writeStream.outputMode("append")
      .format("memory").queryName("corpus_stream").start()
    try {
      q.processAllAvailable()
      assert(rows(spark.table("corpus_stream").orderBy("doc_id")) ==
        rows(pipeline(batchDf).orderBy("doc_id")))
      assert(spark.table("corpus_stream").count() > 0)
    } finally q.stop()
  }
}
