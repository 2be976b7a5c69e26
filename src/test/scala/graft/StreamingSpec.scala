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
    val q = EventStream.hourlyByType(EventStream.read(spark, streamDir))
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
    val q = EventStream.hourlyByType(EventStream.read(spark, streamDir))
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

  test("stream-stream interval join matches the batch equivalent") {
    val q = EventStream.purchasesWithRecentClicks(EventStream.read(spark, streamDir))
      .writeStream.outputMode("append").format("memory").queryName("ssjoin").start()
    try {
      q.processAllAvailable()
      val streamed = spark.table("ssjoin")
      val ev = spark.read.parquet(streamDir)
      val p = ev.filter(col("event_type") === "purchase")
        .select(col("event_id").as("purchase_id"), col("user_id"), col("ts").as("p_ts"))
      val c = ev.filter(col("event_type") === "click")
        .select(col("event_id").as("click_id"), col("user_id").as("c_user_id"), col("ts").as("c_ts"))
      val batchJoin = p.join(c,
        col("user_id") === col("c_user_id") &&
          col("c_ts") >= col("p_ts") - expr("INTERVAL 1 HOUR") && col("c_ts") <= col("p_ts"))
      assert(streamed.count() == batchJoin.count())
      assert(streamed.count() > 0)
      val diff = streamed.select("purchase_id", "click_id")
        .except(batchJoin.select("purchase_id", "click_id"))
      assert(diff.count() == 0)
    } finally q.stop()
  }

  test("streaming dedup drops re-delivered event ids") {
    // duplicate the staged stream dir: every event delivered twice
    val dupDir = Files.createTempDirectory("graft-dup").toString
    val once = spark.read.parquet(streamDir)
    once.unionByName(once).write.mode("overwrite").parquet(dupDir)
    val q = EventStream.dedupByEventId(EventStream.read(spark, dupDir))
      .writeStream.outputMode("append").format("memory").queryName("dedup").start()
    try {
      q.processAllAvailable()
      val got = spark.table("dedup")
      assert(got.count() == once.count())
      assert(got.groupBy("event_id").count().filter(col("count") > 1).count() == 0)
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

  test("stateful sessionization emits gap-separated sessions") {
    import EventStream._
    val events = Seq(
      Event(1, java.sql.Timestamp.valueOf("2024-01-01 00:00:00"), 7L, 1.0),
      Event(2, java.sql.Timestamp.valueOf("2024-01-01 00:10:00"), 7L, 2.0),
      Event(3, java.sql.Timestamp.valueOf("2024-01-01 02:00:00"), 7L, 4.0) // > 30min gap
    )
    // exercise the state function directly (deterministic, no clock coupling)
    val state = new TestGroupState[SessionState]
    val out = EventStream.sessionFn(1800000000L)(7L, events.iterator, state).toList
    assert(out.map(_.n_events) == List(2))         // first session closed by the gap
    assert(out.head.value_cents == 300)
    assert(state.getOption.exists(_.n == 1))       // third event holds open state
  }

  test("streaming sessionize matches batch sessionize bit-exactly on the real feed") {
    import EventStream._
    // the real µs-precision events feed, time-ordered and split into 3
    // sequential micro-batches (zero lateness → nothing can be dropped)
    val ev = graft.queries.Q.events(spark, sf0001)
      .select(col("event_id"), timestamp_micros(col("ts_us")).as("ts"),
        col("user_id"), col("value"), col("ts_us"))
    val bounds = rows(ev.agg(
      expr("percentile(ts_us, 0.33)"), expr("percentile(ts_us, 0.66)"),
      max(col("ts_us")))).head.map(v => math.ceil(v.toString.toDouble).toLong)
    val (c1, c2, tMax) = (bounds(0), bounds(1), bounds(2))
    val dir = Files.createTempDirectory("graft-sess-stream").toString
    def stage(from: Long, until: Long): Unit =
      ev.filter(col("ts_us") >= from && col("ts_us") < until)
        .select("event_id", "ts", "user_id", "value")
        .coalesce(1).write.mode("append").parquet(dir)
    stage(Long.MinValue, c1)
    val sessions = EventStream.sessionize(
      spark.readStream
        .schema("event_id bigint, ts timestamp, user_id bigint, value double")
        .parquet(dir).as[Event])
    val q = sessions.toDF().writeStream.outputMode("append")
      .format("memory").queryName("sess").start()
    try {
      q.processAllAvailable()
      stage(c1, c2)
      q.processAllAvailable()
      stage(c2, Long.MaxValue)
      q.processAllAvailable()
      // two far-future closer batches for a synthetic user: the first
      // advances the watermark past every open session's timeout, the
      // second triggers timeout processing that flushes them
      for (k <- 1 to 2) {
        Seq((-k.toLong, tMax + k * 86400000000L)).toDF("event_id", "tus")
          .select(col("event_id"), timestamp_micros(col("tus")).as("ts"),
            lit(-1L).as("user_id"), lit(0.0).as("value"))
          .coalesce(1).write.mode("append").parquet(dir)
        q.processAllAvailable()
      }
      val streamed = spark.table("sess").filter(col("user_id") =!= -1L)
        .select(col("user_id"), col("start_us"), col("end_us"),
          col("n_events"), col("value_cents"))
      // batch twin: q_x_sessionize's window logic, re-keyed on (start, end)
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("user_id")).orderBy(col("ts_us"), col("event_id"))
      val batch = graft.queries.Q.events(spark, sf0001)
        .select(col("user_id"), col("event_id"), col("ts_us"),
          round(col("value") * 100, 0).cast("long").as("vc"))
        .withColumn("brk",
          when(col("ts_us") - lag(col("ts_us"), 1).over(w) > 1800000000L, 1)
            .when(lag(col("ts_us"), 1).over(w).isNull, 1).otherwise(0))
        .withColumn("sid", sum(col("brk")).over(
          w.rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)))
        .groupBy(col("user_id"), col("sid"))
        .agg(min(col("ts_us")).as("start_us"), max(col("ts_us")).as("end_us"),
          count(lit(1)).as("n_events"), sum(col("vc")).as("value_cents"))
        .drop("sid")
      val mismatches = streamed
        .join(batch, Seq("user_id", "start_us", "end_us", "n_events", "value_cents"),
          "full_outer")
      assert(streamed.count() == batch.count() &&
        streamed.count() == mismatches.count(),
        "streamed sessions != batch sessions")
      assert(streamed.count() > 100) // the fixture produces real session volume
    } finally q.stop()
  }

  test("catalog sink: micro-batches append effectively-once (replays skipped)") {
    val cat = new graft.catalog.Catalog(spark,
      Files.createTempDirectory("graft-cat-sink").toString)
    // drive the stream end-to-end into the catalog
    val q = EventStream.sinkToCatalog(
        EventStream.read(spark, streamDir).filter(col("event_type") === "purchase"),
        cat, "purchases")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    q.awaitTermination()
    val n = cat.read("purchases").count()
    assert(n > 0)
    // a replayed batch id (restart-after-crash contract) must be a no-op...
    val replay = cat.read("purchases").limit(5)
    assert(!cat.appendStreamBatch("purchases", replay, 0L))
    assert(cat.read("purchases").count() == n)
    // ...while the next batch id appends
    assert(cat.appendStreamBatch("purchases", replay, 1000L))
    assert(cat.read("purchases").count() == n + 5)
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

/** Minimal in-memory GroupState for driving the session function. */
class TestGroupState[S] extends org.apache.spark.sql.streaming.GroupState[S] {
  private var v: Option[S] = None
  private var removed = false
  override def exists: Boolean = v.isDefined
  override def get: S = v.get
  override def getOption: Option[S] = v
  override def update(s: S): Unit = { v = Some(s); removed = false }
  override def remove(): Unit = { v = None; removed = true }
  override def hasTimedOut: Boolean = false
  override def setTimeoutDuration(d: Long): Unit = ()
  override def setTimeoutDuration(d: String): Unit = ()
  override def setTimeoutTimestamp(t: Long): Unit = ()
  override def setTimeoutTimestamp(t: Long, additional: String): Unit = ()
  override def setTimeoutTimestamp(t: java.sql.Date): Unit = ()
  override def setTimeoutTimestamp(t: java.sql.Date, additional: String): Unit = ()
  override def getCurrentWatermarkMs(): Long = 0L
  override def getCurrentProcessingTimeMs(): Long = 0L
}
