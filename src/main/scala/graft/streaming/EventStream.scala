package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Structured Streaming form of the hourly `events` aggregate — the
  * streaming twin of q_x_events_hourly, gated by q_x_stream_hourly (the
  * reference itself is batch-only, SURVEY.md §2.8).
  *
  * Scale design: the windowed aggregate is a standard watermarked
  * shuffle-agg — state is bounded by (watermark horizon × #(type) groups).
  */
object EventStream {

  /** Schema of the events stream (TESTDATA.md), timestamp in microseconds. */
  val schema: StructType = StructType(Seq(
    StructField("event_id", LongType), StructField("ts", TimestampType),
    StructField("user_id", LongType), StructField("event_type", StringType),
    StructField("value", DoubleType), StructField("props", StringType)))

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
}
