package graft

import org.apache.spark.sql.functions._
import graft.catalog.Catalog
import graft.ops.IncrementalAgg

class IncrementalAggSpec extends SparkSpec {
  import spark.implicits._

  private def freshCat() = new Catalog(spark,
    java.nio.file.Files.createTempDirectory("inc-agg-spec").toString)

  test("batch-grown aggregate equals a from-scratch recompute") {
    val cat = freshCat()
    val all = (1L to 100L).map(i => (i, s"g${i % 7}", i * 3)).toDF("id", "g", "v")
    (0 until 4).foreach { b =>
      IncrementalAgg.refresh(cat, "agg", all.filter(col("id") % 4 === b),
        keys = Seq("g"), sumCols = Seq("v"))
    }
    val got = rows(cat.read("agg").orderBy("g"))
    val want = rows(all.groupBy("g")
      .agg(count(lit(1)).as("n_rows"), sum("v").cast("long").as("v_sum"))
      .orderBy("g"))
    assert(got == want)
    // four refreshes → four committed versions 0..3 (older ones may be
    // retention-pruned; the pointer sits at the last atomic flip)
    assert(cat.currentVersionNumber("agg").contains(3L))
  }

  test("an empty batch commits a version but changes no cell") {
    val cat = freshCat()
    val base = Seq((1L, "a", 10L), (2L, "b", 20L)).toDF("id", "g", "v")
    IncrementalAgg.refresh(cat, "agg", base, Seq("g"), Seq("v"))
    val before = rows(cat.read("agg").orderBy("g"))
    IncrementalAgg.refresh(cat, "agg", base.limit(0), Seq("g"), Seq("v"))
    assert(rows(cat.read("agg").orderBy("g")) == before)
  }

  test("a batch with only new keys appends groups without touching old ones") {
    val cat = freshCat()
    IncrementalAgg.refresh(cat, "agg",
      Seq((1L, "a", 10L)).toDF("id", "g", "v"), Seq("g"), Seq("v"))
    IncrementalAgg.refresh(cat, "agg",
      Seq((2L, "z", 5L), (3L, "z", 6L)).toDF("id", "g", "v"), Seq("g"), Seq("v"))
    assert(rows(cat.read("agg").orderBy("g")) ==
      Seq(Seq("a", 1L, 10L), Seq("z", 2L, 11L)))
  }

  test("a bad batch is one rollback away") {
    val cat = freshCat()
    IncrementalAgg.refresh(cat, "agg",
      Seq((1L, "a", 10L)).toDF("id", "g", "v"), Seq("g"), Seq("v"))
    val v1 = cat.currentVersionNumber("agg").get
    IncrementalAgg.refresh(cat, "agg",
      Seq((9L, "a", 999L)).toDF("id", "g", "v"), Seq("g"), Seq("v"))
    assert(rows(cat.read("agg")) == Seq(Seq("a", 2L, 1009L)))
    cat.rollback("agg", v1)
    assert(rows(cat.read("agg")) == Seq(Seq("a", 1L, 10L)))
  }
}
