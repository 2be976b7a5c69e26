package graft

import org.scalacheck.{Gen, Prop, Test => SCTest}
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.Pairs

/** Property equivalence: `Pairs.within` returns exactly the brute-force
  * blocked pairs — every two rows with equal non-null keys and
  * `a.id < b.id`, as a multiset — with each carried column taken from the
  * row on its own side. Keys are null on some rows (dropped, as an
  * equi-join drops them), held by one row, or hot (half the rows share
  * key 0); ids repeat, so one id may sit under several keys; a tenth of
  * the inputs are empty. */
class PairsPropertySpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  // (key, id, p, s): p is unique per row, so it tells the two sides apart
  private val rowsGen: Gen[List[(Option[Long], Long, Long, String)]] = for {
    n <- Gen.frequency(1 -> Gen.const(0), 9 -> Gen.choose(1, 40))
    rows <- Gen.listOfN(n, Gen.zip(
      Gen.frequency(1 -> Gen.const(None), 4 -> Gen.const(Some(0L)),
        4 -> Gen.choose(1L, 6L).map(Some(_)), 1 -> Gen.choose(100L, 10000L).map(Some(_))),
      Gen.choose(0L, 25L),
      Gen.alphaLowerStr.map(_.take(3))))
  } yield rows.zipWithIndex.map { case ((k, id, s), p) => (k, id, p.toLong, s) }

  test("within ≡ brute-force pairs on equal keys with id1 < id2, carried columns on their side") {
    val prop = Prop.forAll(rowsGen) { rows =>
      val df = rows.toDF("k", "id", "p", "s").repartition(3)
      val expected = (for {
        a <- rows; b <- rows if a._1.isDefined && a._1 == b._1 && a._2 < b._2
      } yield (a._2, b._2, a._3, a._4, b._3, b._4)).sorted
      val carried = Pairs.within(df, "k", "id", "p", "s")
      val got = carried.as[(Long, Long, Long, String, Long, String)].collect().toSeq.sorted
      val bare = Pairs.within(df, "k", "id").as[(Long, Long)].collect().toSeq.sorted
      carried.columns.toSeq == Seq("id1", "id2", "p1", "s1", "p2", "s2") &&
        got == expected && bare == expected.map(e => (e._1, e._2)).sorted
    }
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(40), prop)
    assert(res.passed, res.status.toString)
  }
}
