package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import org.apache.spark.sql.types._

/** Structured Streaming ingestion of the `events` stream — the streaming
  * twin of the batch ops in [[graft.queries.EventQueries]] (the reference
  * itself is batch-only, SURVEY.md §2.8; this is the §7.8 extension).
  *
  * Scale design: the windowed aggregate is a standard watermarked
  * shuffle-agg — state is bounded by (watermark horizon × #(type) groups).
  * Sessionization keeps one small state object per user key via
  * `flatMapGroupsWithState` with event-time timeout, the canonical bounded-
  * state pattern for 1000-executor streaming jobs.
  */
object EventStream {

  /** Schema of the events stream (TESTDATA.md), timestamp in microseconds. */
  val schema: StructType = StructType(Seq(
    StructField("event_id", LongType), StructField("ts", TimestampType),
    StructField("user_id", LongType), StructField("event_type", StringType),
    StructField("value", DoubleType), StructField("props", StringType)))

  /** readStream leaf over a parquet directory. */
  def read(spark: SparkSession, dir: String): DataFrame =
    spark.readStream.schema(schema).parquet(dir)

  /** Tumbling-window counts/sums per event type with a late-data watermark —
    * semantically the streaming version of q_x_events_hourly.
    *
    * Watermark-drop CONTRACT (spec-pinned in StreamingSpec):
    *  - arrival DISORDER within the watermark loses nothing: any interleaving
    *    of events across micro-batches whose lateness (event time vs the max
    *    event time already seen) stays ≤ `watermark` produces hourly counts
    *    IDENTICAL to the batch aggregate over the same rows ("out-of-order
    *    micro-batches" spec);
    *  - an event arriving after the watermark has passed its window's end is
    *    DROPPED from the already-finalized window ("watermark finalizes
    *    windows" spec) — the price of bounded state; size `watermark` to the
    *    pipeline's real p100 disorder. */
  def hourlyByType(events: DataFrame, watermark: String = "2 hours"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        sum(round(col("value") * 100).cast("long")).as("value_cents"))
      .select(col("window.start").as("win"), col("event_type"),
        col("n_events"), col("value_cents"))

  /** Streaming exact dedup: drop re-delivered events by id inside the
    * watermark horizon — the streaming twin of TextDedup.exact/at-least-once
    * ingestion hygiene. State is bounded: ids older than the watermark are
    * evicted (`dropDuplicatesWithinWatermark` semantics on event time). */
  def dedupByEventId(events: DataFrame, watermark: String = "1 hour"): DataFrame =
    events.withWatermark("ts", watermark).dropDuplicatesWithinWatermark("event_id")

  /** Stream-stream interval join: purchases enriched with any click by the
    * same user in the preceding hour. Both sides watermarked so the join
    * state is bounded (Spark drops buffered rows once they can no longer
    * match — the required condition for unbounded streams). */
  def purchasesWithRecentClicks(events: DataFrame): DataFrame = {
    val purchases = events.filter(col("event_type") === "purchase")
      .select(col("event_id").as("purchase_id"), col("user_id"),
        col("ts").as("p_ts"), col("value").as("purchase_value"))
      .withWatermark("p_ts", "1 hour")
    val clicks = events.filter(col("event_type") === "click")
      .select(col("event_id").as("click_id"), col("user_id").as("c_user_id"),
        col("ts").as("c_ts"))
      .withWatermark("c_ts", "2 hours")
    purchases.join(clicks,
      col("user_id") === col("c_user_id") &&
        col("c_ts") >= col("p_ts") - expr("INTERVAL 1 HOUR") &&
        col("c_ts") <= col("p_ts"),
      "inner")
      .select(col("purchase_id"), col("user_id"), col("p_ts"),
        col("purchase_value"), col("click_id"), col("c_ts"))
  }

  /** Streaming sink into the versioned catalog: each micro-batch appends via
    * `foreachBatch` → [[graft.catalog.Catalog.appendStreamBatch]], which
    * records the batch id atomically with the rows — replayed batches after
    * a restart are skipped, turning foreachBatch's at-least-once contract
    * into effectively-once appends. Start with
    * `sinkToCatalog(df, cat, "t").trigger(...).start()` (use
    * `Trigger.AvailableNow` for catch-up-and-stop runs). */
  def sinkToCatalog(df: DataFrame, catalog: graft.catalog.Catalog,
      table: String): org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    df.writeStream.foreachBatch {
      (batch: Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        catalog.appendStreamBatch(table, batch.toDF(), batchId): Unit
    }

  // ---- Stateful sessionization ----

  final case class Event(event_id: Long, ts: java.sql.Timestamp, user_id: Long, value: Double)
  final case class SessionState(start: Long, last: Long, n: Long, valueCents: Long)
  final case class Session(user_id: Long, start_us: Long, end_us: Long, n_events: Long, value_cents: Long)

  /** 30-minute-gap sessions via flatMapGroupsWithState: emits a session when
    * the gap passes or the state times out. Batch twin: q_x_sessionize. */
  def sessionize(events: Dataset[Event], gapUs: Long = 1800000000L): Dataset[Session] = {
    import events.sparkSession.implicits._
    events
      .withWatermark("ts", "1 hour")
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.EventTimeTimeout)(
        sessionFn(gapUs))
  }

  /** FULL-µs event time. `Timestamp.getTime` alone is ms-truncated — on a
    * µs-precision feed that truncation makes the streaming sessions
    * disagree with the batch twin's `ts_us` arithmetic (start/end/duration
    * off by the sub-ms fraction, and a gap decision can flip when two
    * events straddle the 30-min threshold by <1 ms). getNanos carries the
    * full fractional second, so combine whole seconds + nanos exactly. */
  private[graft] def tsMicros(ts: java.sql.Timestamp): Long =
    Math.floorDiv(ts.getTime, 1000L) * 1000000L + ts.getNanos / 1000L

  private[graft] def sessionFn(gapUs: Long)(
      userId: Long, events: Iterator[Event], state: GroupState[SessionState]): Iterator[Session] = {
    val out = scala.collection.mutable.ListBuffer[Session]()
    var cur = state.getOption
    if (state.hasTimedOut) {
      cur.foreach(s => out += Session(userId, s.start, s.last, s.n, s.valueCents))
      state.remove()
      cur = None
    }
    events.toSeq.sortBy(e => (tsMicros(e.ts), e.event_id)).foreach { e =>
      val tUs = tsMicros(e.ts)
      val cents = math.round(e.value * 100)
      cur match {
        case Some(s) if tUs - s.last <= gapUs =>
          cur = Some(s.copy(last = tUs, n = s.n + 1, valueCents = s.valueCents + cents))
        case Some(s) =>
          out += Session(userId, s.start, s.last, s.n, s.valueCents)
          cur = Some(SessionState(tUs, tUs, 1, cents))
        case None =>
          cur = Some(SessionState(tUs, tUs, 1, cents))
      }
    }
    cur.foreach { s =>
      state.update(s)
      state.setTimeoutTimestamp(s.last / 1000L + gapUs / 1000L)
    }
    out.iterator
  }
}
