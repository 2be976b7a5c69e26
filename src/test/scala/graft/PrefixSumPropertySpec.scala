package graft

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.execution.window.WindowExec
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.scalacheck.{Gen, Prop, Test => SCTest}
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.PrefixSum

/** Property equivalence: the two-level prefix sum returns exactly the
  * single ordered window it replaces, for zero, one or two keys and any
  * monotone bucket — the bucket is a cost knob, never a semantics knob.
  * Order values take both signs (`shiftright` stays monotone for negatives)
  * and spread wide, so most buckets between two used ones are empty; a
  * constant bucket puts every row in one; a tenth of the inputs are empty. */
class PrefixSumPropertySpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  // (k1, k2, o, a, c) with o unique, so the order is total within any key
  private val rowsGen: Gen[List[(Long, Long, Long, Long, Long)]] = for {
    n <- Gen.frequency(1 -> Gen.const(0), 9 -> Gen.choose(1, 40))
    os <- Gen.listOfN(n, Gen.oneOf(Gen.choose(-40L, 40L),
      Gen.choose(Long.MinValue / 4, Long.MaxValue / 4)))
    rest <- Gen.listOfN(n, Gen.zip(Gen.choose(0L, 2L), Gen.choose(0L, 1L),
      Gen.choose(-1000000L, 1000000L), Gen.choose(0L, 5L)))
  } yield os.distinct.zip(rest).map { case (o, (k1, k2, a, c)) => (k1, k2, o, a, c) }
  private val keysGen = Gen.oneOf(Seq.empty[String], Seq("k1"), Seq("k1", "k2"))
  private val bucketGen: Gen[Column] = Gen.oneOf(
    Gen.oneOf(0, 3, 20, 40).map(bits => shiftright(col("o"), bits)),
    Gen.const(lit(0L))) // one hot bucket holding every row

  private def sorted(df: DataFrame) =
    df.select("k1", "k2", "o", "a", "c", "ra", "rc")
      .as[(Long, Long, Long, Long, Long, Long, Long)].collect().toSeq.sorted

  test("running ≡ sum(..) over (partitionBy(keys).orderBy(o) rows unbounded..current)") {
    val prop = Prop.forAll(rowsGen, keysGen, bucketGen) { (rows, keys, bucket) =>
      val df = rows.toDF("k1", "k2", "o", "a", "c").repartition(3)
      val w = Window.partitionBy(keys.map(col): _*).orderBy("o")
        .rowsBetween(Window.unboundedPreceding, 0)
      val expected = sorted(df.withColumn("ra", sum("a").over(w))
        .withColumn("rc", sum("c").over(w)))
      val got = sorted(PrefixSum.running(df.withColumn("b", bucket), keys, "b",
        Seq(col("o")), "a" -> "ra", "c" -> "rc"))
      got == expected && got.size == rows.size
    }
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(40), prop)
    assert(res.passed, res.status.toString)
  }

  test("keyless: both windows are partitioned, so neither runs unpartitioned") {
    val df = (1L to 20L).toDF("o").withColumn("a", lit(1L))
      .withColumn("b", shiftright(col("o"), 2))
    val out = PrefixSum.running(df, Nil, "b", Seq(col("o")), "a" -> "ra")
    val specs = out.queryExecution.sparkPlan.collect { case w: WindowExec => w.partitionSpec }
    assert(specs.size == 2 && specs.forall(_.nonEmpty), specs.toString)
    assert(out.select("ra").as[Long].collect().sorted.toSeq == (1L to 20L))
  }
}
