package graft

import org.apache.spark.sql.functions._
import graft.operators.ZOrder

class ZOrderSpec extends SparkSpec {
  import spark.implicits._

  private def interleaveRef(x: Long, y: Long): Long =
    (0 until 31).map(i => (((x >> i) & 1L) << (2 * i)) | (((y >> i) & 1L) << (2 * i + 1)))
      .reduce(_ | _)

  test("zValue = bit-exact Morton interleave across the 31-bit domain") {
    val samples = Seq[(Long, Long)]((0, 0), (1, 0), (0, 1), (1, 1), (63, 0), (0, 63),
      (12345, 67890), (Int.MaxValue.toLong, 0), (0, Int.MaxValue.toLong),
      (Int.MaxValue.toLong, Int.MaxValue.toLong), (2147483646L, 1))
    val got = samples.toDF("x", "y")
      .select(ZOrder.zValue($"x", $"y")).as[Long].collect().toSeq
    assert(got == samples.map { case (x, y) => interleaveRef(x, y) })
  }

  test("z-order layout prunes 2-D boxes where a linear sort cannot") {
    val grid = spark.range(64L * 64).select(($"id" % 64).as("x"), expr("id div 64").as("y"))
    val base = java.nio.file.Files.createTempDirectory("graft-zorder").toString
    grid.repartitionByRange(16, $"x").sortWithinPartitions($"x")
      .write.parquet(s"$base/linear")
    // the layout Catalog.writeSorted gives a z-value column
    grid.withColumn("zval", ZOrder.zValue($"x", $"y"))
      .repartitionByRange(16, $"zval").sortWithinPartitions($"zval")
      .write.parquet(s"$base/zorder")

    // files whose [min,max] envelope intersects the predicate — exactly the
    // set a min/max-stat reader must open
    def filesTouching(dir: String, p: org.apache.spark.sql.Column): Long =
      spark.read.parquet(dir)
        .select(input_file_name().as("f"), $"x", $"y")
        .groupBy("f").agg(min($"x").as("x0"), max($"x").as("x1"),
          min($"y").as("y0"), max($"y").as("y1"))
        .filter(p).count()

    val box = $"x0" <= 15 && $"x1" >= 0 && $"y0" <= 15 && $"y1" >= 0
    val yStrip = $"y0" <= 15 && $"y1" >= 0
    // 16 files over a 64×64 grid → z-order files are 16×16 tiles: ONE tile
    // holds the box, 4 tiles the y-strip. The x-sorted layout must open 4
    // files for the box (every x-slice spans all y) and ALL 16 for a
    // y-filter.
    assert(filesTouching(s"$base/zorder", box) < filesTouching(s"$base/linear", box))
    assert(filesTouching(s"$base/zorder", yStrip) < filesTouching(s"$base/linear", yStrip))
    // repartitionByRange samples split points, so a tile can straddle one
    // boundary — the box tile costs at most 2 of 16 files, never the 4/16
    // an x-sort pays
    assert(filesTouching(s"$base/zorder", box) <= 2)
  }
}
