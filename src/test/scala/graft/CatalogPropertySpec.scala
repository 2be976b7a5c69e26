package graft

import org.apache.spark.sql.functions._
import org.scalacheck.{Gen, Prop, Test => SCTest}
import graft.catalog.Catalog

/** Property-based catalog state machine: arbitrary sequences of
  * write / append / appendEvolve / truncate / compact must keep the visible
  * table equal to a trivial in-memory model — the file-level manifest
  * machinery (carried references, manifest-aware reads, reference-aware
  * prune) must never change WHAT a reader sees, only how it's stored.
  * (Plain ScalaCheck runner — the scalatest bridge artifact isn't among the
  * pinned deps.) */
class CatalogPropertySpec extends SparkSpec {
  import spark.implicits._

  sealed trait Op
  final case class Write(rows: List[Long]) extends Op
  final case class Append(rows: List[Long]) extends Op
  case object Truncate extends Op
  case object Compact extends Op

  private val rowsGen: Gen[List[Long]] =
    Gen.choose(1, 6).flatMap(n => Gen.listOfN(n, Gen.choose(0L, 99L)))
  private val opGen: Gen[Op] = Gen.frequency(
    3 -> rowsGen.map(Write(_)),
    5 -> rowsGen.map(Append(_)),
    1 -> Gen.const(Truncate),
    2 -> Gen.const(Compact))

  test("write/append/truncate/compact sequences match the in-memory model") {
    val prop = Prop.forAllNoShrink(Gen.listOfN(8, opGen)) { ops =>
      val cat = new Catalog(spark, tempDir("graft-prop").toString)
      // model: the multiset of visible rows (None = table does not exist)
      var model: Option[List[Long]] = None
      ops.foreach {
        case Write(rs) =>
          cat.write("t", rs.toDF("v"))
          model = Some(rs)
        case Append(rs) =>
          cat.append("t", rs.toDF("v"))
          model = Some(model.getOrElse(Nil) ++ rs)
        case Truncate =>
          if (model.isDefined) { cat.truncate("t"); model = Some(Nil) }
        case Compact =>
          if (model.isDefined) { cat.compact("t", 1); /* rows unchanged */ }
      }
      model.forall { m =>
        val got = cat.read("t").collect().map(_.getLong(0)).sorted.toSeq
        got == m.sorted
      }
    }
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(30), prop)
    assert(res.passed, res.status.toString)
  }
}
