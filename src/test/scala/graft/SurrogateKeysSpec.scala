package graft

import org.apache.spark.sql.functions._
import graft.ops.SurrogateKeys

/** W2: dense, deterministic IDENTITY replacement — both implementations. */
class SurrogateKeysSpec extends SparkSpec {
  import spark.implicits._

  private def df = Seq(("c", 30), ("a", 10), ("b", 20)).toDF("k", "v")

  test("assign: dense 1..N in business-key order, plus offset") {
    val keyed = SurrogateKeys.assign(df, "id", 100L, "k")
    assert(rows(keyed.orderBy("id").select("id", "k")) ==
      Seq(Seq(101L, "a"), Seq(102L, "b"), Seq(103L, "c")))
  }

  test("assignScalable matches assign (distributed zipWithIndex path)") {
    val big = spark.range(1000).select((col("id") * 7 % 1000).as("k"))
    val a = rows(SurrogateKeys.assign(big, "sk", 0L, "k").orderBy("sk"))
    val b = rows(SurrogateKeys.assignScalable(big, "sk", 0L, "k").orderBy("sk"))
    assert(a == b)
  }

  test("maxKey: high-water mark, 0 on empty") {
    val keyed = SurrogateKeys.assign(df, "id", 5L, "k")
    assert(SurrogateKeys.maxKey(keyed, "id") == 8L)
    assert(SurrogateKeys.maxKey(keyed.limit(0), "id") == 0L)
  }

  test("determinism: same input → same keys across evaluations") {
    val keyed = SurrogateKeys.assign(df.repartition(3), "id", 0L, "k")
    assert(rows(keyed.orderBy("id")) == rows(keyed.orderBy("id")))
  }

  test("SCD2 tie-break: two attribute variants of one business key get deterministic keys") {
    val spec = graft.model.Scd2Spec("dim_t", "tkey", "tid", Seq("attr"))
    val src = Seq((1, "b"), (1, "a")).toDF("tid", "attr")
    val got = rows(graft.ops.Scd2Upsert
      .initialLoad(src, spec, java.sql.Date.valueOf("2024-01-01"))
      .orderBy("tkey").select("tkey", "tid", "attr"))
    // ordered by ALL tracked columns, so (1,"a") always takes key 1
    assert(got == Seq(Seq(1L, 1, "a"), Seq(2L, 1, "b")))
  }

  test("assignScalable plans no single-partition window") {
    val src = Seq((2, "y"), (1, "x"), (3, "z")).toDF("tid", "attr")
    val out = SurrogateKeys.assignScalable(src, "tkey", 0L, "tid", "attr")
    assert(!out.queryExecution.executedPlan.toString.contains("Window"),
      "scalable path must not plan a global window sort")
    assert(rows(out.orderBy("tkey").select("tkey", "tid")) ==
      Seq(Seq(1L, 1), Seq(2L, 2), Seq(3L, 3)))
  }
}
