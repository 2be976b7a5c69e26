package graft

import org.apache.spark.sql.functions._
import graft.operators.RangeJoin

class RangeJoinSpec extends SparkSpec {
  import spark.implicits._

  private def naivePoints(points: Seq[Double], ivals: Seq[(Int, Double, Double)]) =
    (for (p <- points; (id, lo, hi) <- ivals if p >= lo && p <= hi) yield (p, id)).sorted

  test("pointInInterval matches the naive cross-join filter (incl. negatives, edges, nulls)") {
    val points = Seq(-7.5, -0.1, 0.0, 3.0, 9.99, 10.0, 25.0, 99.0)
    val ivals = Seq((1, -10.0, 0.0), (2, 0.0, 10.0), (3, 10.0, 10.0), (4, 50.0, 40.0)) // 4 is empty (lo>hi)
    val pDf = points.toDF("p").unionByName(Seq[Option[Double]](None).toDF("p"))
    val iDf = ivals.toDF("id", "lo", "hi")
      .unionByName(Seq((9, None: Option[Double], Some(1.0))).toDF("id", "lo", "hi"))
    for (w <- Seq(0.5, 3.0, 10.0, 1000.0)) {
      val got = RangeJoin.pointInInterval(pDf, "p", iDf, "lo", "hi", w)
        .select($"p", $"id").as[(Double, Int)].collect().toSeq.sorted
      assert(got == naivePoints(points, ivals), s"width=$w")
    }
  }

  test("intervalOverlap matches naive, each overlapping pair exactly once") {
    val left = Seq((1, 0.0, 10.0), (2, 5.0, 5.0), (3, 20.0, 30.0), (4, -50.0, 100.0))
    val right = Seq((10, 9.0, 21.0), (11, 31.0, 40.0), (12, 5.0, 5.0))
    val naive = (for ((a, alo, ahi) <- left; (b, blo, bhi) <- right
      if alo <= bhi && blo <= ahi) yield (a, b)).sorted
    for (w <- Seq(1.0, 7.0, 100.0)) {
      val got = RangeJoin.intervalOverlap(
          left.toDF("a", "alo", "ahi"), "alo", "ahi",
          right.toDF("b", "blo", "bhi"), "blo", "bhi", w)
        .select($"a", $"b").as[(Int, Int)].collect().toSeq.sorted
      assert(got == naive, s"width=$w") // sorted, not toSet: duplicates must fail
    }
  }

  test("plan is an equi-join on the bucket key — no nested-loop/cartesian at any size") {
    val pts = spark.range(1000).select(($"id" * 1.0).as("p"))
    val iv = spark.range(200).select($"id".as("iid"),
      ($"id" * 5.0).as("lo"), ($"id" * 5.0 + 20).as("hi"))
    val plan = RangeJoin.pointInInterval(pts, "p", iv, "lo", "hi", 20.0)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("NestedLoop") && !plan.contains("Cartesian"), plan)
    assert(plan.contains("Join"), plan)
  }
}
