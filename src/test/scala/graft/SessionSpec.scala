package graft

/** The one session config every main and suite runs on. */
class SessionSpec extends SparkSpec {

  test("Session: AQE on, shuffle width = parallelism, UTC") {
    assert(spark.conf.get("spark.sql.adaptive.enabled") == "true")
    assert(spark.conf.get("spark.sql.shuffle.partitions").toInt ==
      spark.sparkContext.defaultParallelism)
    assert(spark.conf.get("spark.sql.session.timeZone") == "UTC")
  }

  test("Session: graft functions resolve from SQL") {
    assert(spark.sql("SELECT dot_long(array(1L, 2L), array(10L, 20L))")
      .head().getLong(0) == 50L)
    assert(!spark.sql("SELECT simhash(split('quick brown fox', ' '))").head().isNullAt(0))
  }

  test("Session: a second call returns the same session") {
    assert(Session() eq spark)
  }
}
