package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.catalyst.expressions.BloomFilterMightContain
import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate

/** Bloom-filter join pruning — the 100 TB shuffle-reduction primitive: build
  * a compact bit-array filter over the (selective) build side's join keys,
  * ship it to every probe task, and drop non-matching probe rows MAP-SIDE,
  * before the join shuffle, so rows that cannot match never cross the wire.
  * Spark's own runtime row-level filtering injects exactly this
  * BloomFilterAggregate / BloomFilterMightContain pair when statistics
  * justify it; surfacing it as an explicit operator lets a pipeline stage
  * the filter itself (persist it beside a published table, reuse it across
  * queries) and lets the gate pin the semantics.
  *
  * == Contract (what the gate hashes) ==
  * A bloom filter admits NO FALSE NEGATIVES — every true match survives
  * pruning, so `prune(probe) ⋈ build ≡ probe ⋈ build` exactly — and its
  * false-positive rate is bounded by the (expectedItems, numBits) sizing.
  * The estimate-dependent pruned-row count is implementation-defined and
  * deliberately stays OUT of any hashed output, like the HLL estimate in
  * q_x_user_distinct_approx.
  *
  * == 100 TB shape ==
  * The filter is numBits/8 bytes of driver-held model state (the
  * centroid-collect pattern — k-bounded, never data-bounded: 8M bits ≈ 1 MB
  * covers ~1M build keys at ~2% fpp). The probe side's scan → filter is
  * map-side codegen; only survivors reach the join exchange. For build
  * sides too big to collect, swap the driver collect for a broadcast of the
  * 1-row aggregate frame — the plan shape is otherwise identical. */
object BloomJoin {

  /** Compact bloom filter over xxhash64(keyCol) of `build`, collected to
    * the driver. `numBits` is rounded up internally by Spark to a power of
    * two's neighborhood; ~8 bits/key gives ~2% fpp. */
  def buildFilter(build: DataFrame, keyCol: String,
      expectedItems: Long, numBits: Long): Array[Byte] = {
    require(expectedItems > 0 && numBits > 0)
    val agg = new BloomFilterAggregate(
      Bridge.expression(xxhash64(col(keyCol))),
      Bridge.expression(lit(expectedItems)),
      Bridge.expression(lit(numBits))).toAggregateExpression()
    build.agg(Bridge.column(agg).as("bf")).head().getAs[Array[Byte]]("bf")
  }

  /** Membership probe against a built filter (map-side, codegen'd). */
  def mightContain(filter: Array[Byte], key: Column): Column =
    Bridge.column(BloomFilterMightContain(
      Bridge.expression(lit(filter)),
      Bridge.expression(xxhash64(key))))

  /** The probe side with non-members dropped map-side. Survivors are a
    * SUPERSET of the true matches (false positives pass, false negatives
    * cannot happen) — follow with the real join. */
  def prune(probe: DataFrame, keyCol: String, filter: Array[Byte]): DataFrame =
    probe.filter(mightContain(filter, col(keyCol)))
}
