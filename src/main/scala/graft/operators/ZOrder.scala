package graft.operators

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Z-order (Morton) clustering: interleave the bits of two dimension columns
  * so that sorting by ONE key co-locates rows that are close in BOTH
  * dimensions. Written sorted on the z-value (`Catalog.writeSorted(name,
  * df.withColumn("zval", zValue(x, y)), files, "zval")`), parquet
  * file-level min/max stats then prune 2-D box predicates (date range ×
  * key range) down to a few files — the multi-dimensional generalization of
  * the single-column sort the catalog already exploits, and the standard
  * layout trick for 100 TB fact tables queried on more than one axis.
  *
  * The interleave is five shift/mask rounds per dimension (the classic
  * bit-spreading network), pure integer ops inside whole-stage codegen, and
  * portable: the identical `<< & |` arithmetic runs on any SQL engine, so
  * z-values are cross-engine exact. Inputs must be non-negative and fit in
  * 31 bits — pre-scale real columns onto that domain.
  */
object ZOrder {

  /** Spread the low 31 bits of `c` so bit i lands at position 2i.
    * Masks are the standard Morton constants. */
  private def spread(c: Column): Column = {
    val s0 = bitwise_and(c.bitwiseOR(shiftleft(c, 16)), lit(0x0000FFFF0000FFFFL))
    val s1 = bitwise_and(s0.bitwiseOR(shiftleft(s0, 8)), lit(0x00FF00FF00FF00FFL))
    val s2 = bitwise_and(s1.bitwiseOR(shiftleft(s1, 4)), lit(0x0F0F0F0F0F0F0F0FL))
    val s3 = bitwise_and(s2.bitwiseOR(shiftleft(s2, 2)), lit(0x3333333333333333L))
    bitwise_and(s3.bitwiseOR(shiftleft(s3, 1)), lit(0x5555555555555555L))
  }
  private def bitwise_and(a: Column, b: Column): Column = a.bitwiseAND(b)

  /** 62-bit Morton code of two non-negative sub-2^31 integer columns:
    * x occupies even bits, y odd bits. */
  def zValue(x: Column, y: Column): Column =
    spread(x.cast("long")).bitwiseOR(shiftleft(spread(y.cast("long")), 1))
}
