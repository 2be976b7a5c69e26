package graft

import org.apache.spark.sql.functions._

/** Pins the correctness gate's no-silent-shrink contract: a throwing query
  * produces an explicit one-row err parquet (which can never schema-match
  * an oracle → a visible RED row in the driver compare), never an absence.
  */
class VerifySpec extends SparkSpec {
  import spark.implicits._

  test("a throwing query lands as an err row, not an absence") {
    val out = tempDir("graft-verify").toString
    val err = Verify.runOne(spark, "q_boom",
      (_, _) => throw new IllegalStateException("deliberate gate breakage"),
      sf0001, out)
    assert(err.exists(_.contains("deliberate gate breakage")))
    val row = spark.read.parquet(s"$out/q_boom")
    assert(row.columns.toSeq == Seq("err"))
    assert(row.as[String].head().contains("deliberate gate breakage"))
  }

  test("a working query writes its result and reports no error") {
    val out = tempDir("graft-verify").toString
    val err = Verify.runOne(spark, "q_fine",
      (s, _) => { import s.implicits._; Seq((1L, "a")).toDF("id", "v") },
      sf0001, out)
    assert(err.isEmpty)
    assert(rows(spark.read.parquet(s"$out/q_fine")) == Seq(Seq(1L, "a")))
  }

  test("analysis-time failures (not just execution) also land as err rows") {
    val out = tempDir("graft-verify").toString
    val err = Verify.runOne(spark, "q_analysis",
      (s, d) => graft.queries.Q.t(s, d, "customer").select(col("no_such_column")),
      sf0001, out)
    assert(err.isDefined)
    assert(spark.read.parquet(s"$out/q_analysis").columns.toSeq == Seq("err"))
  }
}
