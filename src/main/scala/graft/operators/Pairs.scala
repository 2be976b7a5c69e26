package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The one blocked-pair primitive the near-duplicate operators form their
  * candidates through: collide on a blocking key, then verify exactly
  * (Broder, "On the resemblance and containment of documents", 1997;
  * Manku et al., "Detecting near-duplicates for web crawling", 2007). */
object Pairs {

  /** The self-equi-join of `df` on `key`, each unordered pair once as
    * (`id1`, `id2`) with `id1 < id2`, plus each `carry` column `c` as `c1`
    * (from the `id1` row) and `c2` (from the `id2` row). The key is not
    * returned. Rows with a null key or id pair with nothing, as in any
    * equi-join.
    *
    * Payload rule: carry a payload only when every id has a single key row
    * (a prefix, an LSH bucket, a k-means cluster), or when the payload is
    * as narrow as the id (a SimHash fingerprint). When an id has many key
    * rows (MinHash bands), carry nothing, take `distinct` of the pairs and
    * re-join the payload afterwards: otherwise the payload rides the key
    * shuffle once per shared key, and shingle arrays riding the band
    * shuffle measured a 10x slowdown.
    *
    * Plan: one shuffled (or, under AQE, broadcast) join on the key; a key
    * with n rows costs n² / 2 pairs, so callers bound their bucket sizes. */
  def within(df: DataFrame, key: String, id: String, carry: String*): DataFrame = {
    def side(n: Int) = df.select(
      col(key).as("__pair_key") +: col(id).as(s"id$n") +: carry.map(c => col(c).as(s"$c$n")): _*)
    side(1).join(side(2), Seq("__pair_key"))
      .filter(col("id1") < col("id2"))
      .select((Seq("id1", "id2") ++ carry.map(_ + "1") ++ carry.map(_ + "2")).map(col): _*)
  }
}
