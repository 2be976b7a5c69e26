package graft

import org.apache.spark.sql.functions._

/** The driver has regenerated `events.parquet` with a different `ts` physical
  * type once already (TIMESTAMP(NANOS) → timestamp[us], round 6 — took down 18
  * queries). These tests pin [[graft.queries.Q.events]] as provably
  * indifferent to every `ts` shape it can resolve to:
  *
  *  - BIGINT nanos-since-epoch (what TIMESTAMP(NANOS) parquet resolves to
  *    under `spark.sql.legacy.parquet.nanosAsLong`, which `events` enables);
  *  - TIMESTAMP_NTZ microseconds (the current driver fixture);
  *  - TIMESTAMP (instant) microseconds.
  *
  * All three must yield byte-identical `ts_us`.
  */
class EventsFixtureSpec extends SparkSpec {
  import spark.implicits._

  // Whole-microsecond instants, including pre-epoch, far future, and 0.
  private val micros = Seq(0L, 1L, -1000000L, 1704067200000000L, 4102444800123456L)

  private def writeFixture(dir: String, tsCol: org.apache.spark.sql.Column): Unit =
    micros.zipWithIndex
      .toDF("us", "event_id")
      .select($"event_id".cast("long"), tsCol.as("ts"))
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/events.parquet")

  test("Q.events yields identical ts_us for long-nanos, timestamp[us] and timestamp_ntz[us] fixtures") {
    val root = tempDir("events-precision").toString
    writeFixture(s"$root/nanos_long", ($"us" * 1000L).cast("long"))
    writeFixture(s"$root/ts_instant", timestamp_micros($"us"))
    writeFixture(s"$root/ts_ntz", timestamp_micros($"us").cast("timestamp_ntz"))

    val out = Seq("nanos_long", "ts_instant", "ts_ntz").map { sub =>
      val df = graft.queries.Q.events(spark, s"$root/$sub")
      sub -> df.select($"event_id", $"ts_us").orderBy($"event_id")
        .as[(Long, Long)].collect().toSeq
    }.toMap

    val expected = micros.zipWithIndex.map { case (us, i) => (i.toLong, us) }
    out.foreach { case (sub, got) =>
      assert(got == expected, s"fixture variant $sub diverged")
    }
  }

  test("Q.events on the real driver fixture resolves ts_us as whole microseconds") {
    val df = graft.queries.Q.events(spark, sf0001)
    assert(df.schema("ts_us").dataType == org.apache.spark.sql.types.LongType)
    // Agreement check against an independent derivation from the raw column.
    val raw = spark.read.parquet(s"$sf0001/events.parquet")
    val independent = raw.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        raw.select(($"ts" / 1000).cast("long").as("us"))
      case _ => raw.select(unix_micros($"ts".cast("timestamp")).as("us"))
    }
    val a = df.agg(sum($"ts_us"), count(lit(1))).as[(Long, Long)].head()
    val b = independent.agg(sum($"us"), count(lit(1))).as[(Long, Long)].head()
    assert(a == b)
  }
}
