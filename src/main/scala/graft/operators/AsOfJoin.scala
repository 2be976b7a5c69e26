package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** As-of join: for every left row, the most recent right row with
  * `right.ts <= left.ts` in the same key group (time-series enrichment —
  * trades against quotes, events against the latest snapshot/rate).
  *
  * Spark lacks the operator; the brief's preference order applies and
  * composition (a) suffices — no custom SparkPlan needed:
  * tag both sides, UNION them, and take `last_value(right payload) IGNORE
  * NULLS` over a (key, time) window ordered so right rows sort before
  * coincident left rows. ONE shuffle on the key (the union is partitioned
  * once), versus the naive range-join's quadratic explosion.
  *
  * Determinism: ties inside the right side resolve by the right id column
  * (largest wins, being last in window order) — explicit, so reruns at any
  * parallelism agree.
  *
  * Scale: the window is partitioned by key — state per task is one running
  * "last right payload", memory O(1) per group; skewed keys split fine
  * under range partitioning of (key, ts) if a single key dominates (switch
  * `Window.partitionBy` to bucketed prefix keys in that regime).
  */
object AsOfJoin {

  /** leftDf ⋈asof rightDf on `keyCol`, time `tsCol` (both sides), carrying
    * `rightId` and `rightPayload` columns from the right side. Output: all
    * left columns + matched right id/payload (null when no prior right row).
    */
  def lastAtOrBefore(
      leftDf: DataFrame, rightDf: DataFrame,
      keyCol: String, tsCol: String,
      rightId: String, rightPayload: String): DataFrame =
    matched(leftDf, rightDf, keyCol, tsCol, rightId, rightPayload)
      .drop("__m_rts")

  /** Tolerance variant (the feature-store shape): a match only counts when
    * the right row is at most `maxStaleness` time units old at the left
    * timestamp — older matches become nulls, exactly as if no right row
    * existed. Same single-shuffle union+window plan; the staleness test is
    * a residual projection. */
  def lastAtOrBeforeWithin(
      leftDf: DataFrame, rightDf: DataFrame,
      keyCol: String, tsCol: String,
      rightId: String, rightPayload: String,
      maxStaleness: Long): DataFrame = {
    val m = matched(leftDf, rightDf, keyCol, tsCol, rightId, rightPayload)
    val fresh = col("__m_rts").isNotNull &&
      (col(tsCol) - col("__m_rts")) <= maxStaleness
    m.withColumn(s"matched_$rightId", when(fresh, col(s"matched_$rightId")))
      .withColumn(s"matched_$rightPayload", when(fresh, col(s"matched_$rightPayload")))
      .withColumn("staleness",
        when(fresh, col(tsCol) - col("__m_rts")).cast("long"))
      .drop("__m_rts")
  }

  /** NATIVE physical as-of join ([[graft.plans.AsOfJoinPlan]] →
    * [[graft.plans.AsOfJoinExec]]): same semantics and output columns as
    * [[lastAtOrBefore]], executed as a co-partitioned per-partition merge —
    * one streaming pass, O(1) carry state, no union row-padding or window
    * machinery. Key/ts may be any int/long-backed atomic type (bigint, int,
    * date, timestamp, …); the key type must be IDENTICAL on both sides
    * (hash co-partitioning — see [[graft.plans.AsOfJoinPlan]]). Carries the
    * right id plus ANY number of right payload columns, all from the same
    * matched row, as `matched_<col>`. Requires a session with
    * [[graft.extensions.GraftExtensions]] installed (the planner strategy
    * lives there). */
  def native(leftDf: DataFrame, rightDf: DataFrame,
      keyCol: String, tsCol: String,
      rightId: String, rightPayloads: String*): DataFrame = {
    require(rightPayloads.nonEmpty, "native as-of join: at least one right payload column")
    val lPlan = leftDf.queryExecution.analyzed
    val rPlan = rightDf.queryExecution.analyzed
    def tpe(p: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan, c: String) =
      p.output.find(_.name.equalsIgnoreCase(c))
        .getOrElse(throw new IllegalArgumentException(s"as-of join: no column '$c'")).dataType
    val (lk, rk) = (tpe(lPlan, keyCol), tpe(rPlan, keyCol))
    require(lk == rk,
      s"native as-of join: key '$keyCol' must have the SAME type on both sides " +
        s"(got ${lk.simpleString} vs ${rk.simpleString}) — hash co-partitioning is " +
        "type-sensitive; cast one side first")
    (Seq(lk) ++ Seq(lPlan -> tsCol, rPlan -> tsCol).map(pc => tpe(pc._1, pc._2))).foreach(t =>
      require(graft.plans.AsOfJoinPlan.supportedOrderType(t),
        s"native as-of join: unsupported key/ts type ${t.simpleString} " +
          "(int/long-backed atomic types only: bigint, int, date, timestamp, …)"))
    val matchedAttrs = (rightId +: rightPayloads).map(c =>
      org.apache.spark.sql.catalyst.expressions.AttributeReference(
        s"matched_$c", tpe(rPlan, c), nullable = true)())
    org.apache.spark.sql.graftbridge.Bridge.ofRows(leftDf.sparkSession,
      graft.plans.AsOfJoinPlan(lPlan, rPlan, keyCol, tsCol, rightId, rightPayloads, matchedAttrs))
  }

  /** Tolerance variant on the NATIVE operator — [[lastAtOrBeforeWithin]]
    * semantics through [[graft.plans.AsOfJoinExec]]: the matched right ts
    * rides along as one more payload (all payloads come from the same
    * matched row by construction), and staleness is the same residual
    * projection the window form uses. Output matches
    * [[lastAtOrBeforeWithin]] column-for-column. */
  def nativeWithin(leftDf: DataFrame, rightDf: DataFrame,
      keyCol: String, tsCol: String,
      rightId: String, rightPayload: String,
      maxStaleness: Long): DataFrame = {
    // the staleness subtraction below is plain integral arithmetic; a
    // date/timestamp ts would resolve to an interval type and fail against
    // the Long bound — require integral here (cast date/timestamp ts to
    // epoch units first; maxStaleness is in those units)
    import org.apache.spark.sql.types.{IntegerType, LongType, ShortType, ByteType}
    val tsType = leftDf.schema.fields
      .find(_.name.equalsIgnoreCase(tsCol)).map(_.dataType)
    require(tsType.exists(t => Seq(LongType, IntegerType, ShortType, ByteType).contains(t)),
      s"nativeWithin: ts '$tsCol' must be an integral type (got " +
        s"${tsType.map(_.simpleString).getOrElse("missing")}) — cast a date/timestamp " +
        "ts to epoch days/micros so maxStaleness has explicit units")
    val m = native(leftDf, rightDf, keyCol, tsCol, rightId, rightPayload, tsCol)
    val rts = col(s"matched_$tsCol")
    val fresh = rts.isNotNull && (col(tsCol) - rts) <= maxStaleness
    m.withColumn(s"matched_$rightId", when(fresh, col(s"matched_$rightId")))
      .withColumn(s"matched_$rightPayload", when(fresh, col(s"matched_$rightPayload")))
      .withColumn("staleness", when(fresh, col(tsCol) - rts).cast("long"))
      .drop(s"matched_$tsCol")
  }

  private def matched(
      leftDf: DataFrame, rightDf: DataFrame,
      keyCol: String, tsCol: String,
      rightId: String, rightPayload: String): DataFrame = {

    val leftCols = leftDf.columns.toSeq
    // side 1 = right (sorts BEFORE left at equal ts → "at or before" wins)
    val otherLeftCols = leftCols.filterNot(Seq(keyCol, tsCol).contains)
    val taggedRight = rightDf.select(
      (Seq(col(keyCol), col(tsCol),
        lit(0).as("__side"),
        col(rightId).as("__rid"),
        col(rightPayload).as("__rpay")) ++
        otherLeftCols.map(c => lit(null).as(c))): _*)
    val taggedLeft = leftDf.select(
      (Seq(col(keyCol), col(tsCol),
        lit(1).as("__side"),
        lit(null).cast(taggedRight.schema("__rid").dataType).as("__rid"),
        lit(null).cast(taggedRight.schema("__rpay").dataType).as("__rpay")) ++
        otherLeftCols.map(col)): _*)

    val w = Window.partitionBy(col(keyCol))
      .orderBy(col(tsCol), col("__side"), col("__rid"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)

    // ONE struct carries (id, payload, ts) of the matched right row, so the
    // three outputs always describe the SAME row — three independent
    // last_value(... IGNORE NULLS) columns could each skip different rows
    // when a right id/payload/ts is null and disagree about which row
    // matched (the tolerance check would then judge staleness on a
    // different row than the id it reports).
    taggedRight.unionByName(taggedLeft)
      .withColumn("__m", last(
          when(col("__side") === 0,
            struct(col("__rid").as("rid"), col("__rpay").as("rpay"), col(tsCol).as("rts"))),
          ignoreNulls = true).over(w))
      .filter(col("__side") === 1)
      .select(leftCols.map(col) ++ Seq(
        col("__m.rid").as(s"matched_$rightId"),
        col("__m.rpay").as(s"matched_$rightPayload"),
        col("__m.rts").as("__m_rts")): _*)
  }
}
