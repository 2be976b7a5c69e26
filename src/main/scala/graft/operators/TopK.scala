package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The one top-k primitive every operator and gate ranks through. */
object TopK {

  /** Top-`k` rows per group: `row_number()` over `keys` ordered by `order`,
    * cast to BIGINT as `rankCol`, keeping rank <= `k`. Empty `keys` is the
    * global top-k; `k = 1` is keep-first (argmax per group).
    *
    * Tie-break rule: `order` must be a total order within a group — the
    * score column(s) first, then the row's unique id ascending (e.g.
    * `Seq(col("sim").desc, col("nid"))`) — so the cut and every rank are
    * deterministic at any parallelism and match a SQL oracle's
    * `row_number() OVER (PARTITION BY … ORDER BY …)` exactly.
    *
    * Plan: Spark's InferWindowGroupLimit pushes the rank filter below the
    * window as a per-partition bounded top-k followed by a merge. Keyed, it
    * is a partial `WindowGroupLimit` ahead of the group-key exchange and a
    * final one after it, so no group ever materializes in full. Global, it
    * is a `TakeOrderedAndProject` (per-partition top-k, one merge of at
    * most k rows per partition) under the window — the plan an explicit
    * `orderBy(...).limit(k)` gets, so that form needs no separate path. */
  def perGroup(df: DataFrame, keys: Seq[Column], order: Seq[Column], k: Int,
      rankCol: String = "rank"): DataFrame =
    df.withColumn(rankCol,
        row_number().over(Window.partitionBy(keys: _*).orderBy(order: _*)).cast("long"))
      .filter(col(rankCol) <= k)
}
