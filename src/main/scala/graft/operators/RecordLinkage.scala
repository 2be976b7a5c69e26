package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Fuzzy record linkage by deletion-neighborhood blocking (the FastSS
  * device, Bocek et al. 2007): two strings within edit distance 1 MUST
  * share a member of {self} ∪ {one-char deletions}, so candidate pairs come
  * from an equi-join on the variant key and a cheap exact verify — never a
  * block² comparison over a coarse blocking key (a prefix/phonetic block of
  * m records costs m² comparisons; variant buckets only hold strings within
  * distance 2 of each other, so candidate volume tracks the TRUE near-match
  * density). The classic warehouse entity-resolution primitive: duplicate
  * customers/suppliers under typo'd names.
  *
  * == 100 TB shape ==
  * Variant generation is map-side (≤ len+1 rows per record, linear
  * blow-up); the self-join shuffles on the variant string; the verify is a
  * codegen'd `levenshtein` on the candidate pairs only. One distinct to
  * collapse multi-variant agreement. No driver state.
  */
object RecordLinkage {

  /** All pairs (id1 < id2) whose `keyCol` values are within Levenshtein
    * distance 1 (substitution, insertion, or deletion), found via
    * deletion-neighborhood blocking. Output: (id1, id2, key1, key2, dist).
    *
    * The blocking is POSITION-KEYED, which is what keeps candidate volume
    * near the true match density on realistic key distributions:
    *  - a substitution-1 pair shares the deletion at the DIFFERING
    *    position, so those candidates come from an equi-join on
    *    (variant, position) — a flat (variant)-keyed deletion self-join
    *    would also collide every pair of records whose deletions at
    *    DIFFERENT positions coincide, and on keys with repeated-character
    *    runs (zero-padded ids, "Customer#000000123") every run position
    *    yields the same variant, inflating buckets quadratically;
    *  - an indel-1 pair is the shorter key ITSELF equal to a deletion of
    *    the longer, so that join keeps whole records on the probe side
    *    (bucket cost |selfs|·|bucket|, and selfs-per-variant ≈ exact-dup
    *    cardinality ≈ 1) instead of deletions × deletions.
    * Join keys are 64-bit variant hashes (fixed-width shuffle rows); hash
    * collisions and distance-2 stragglers are killed by the exact
    * `levenshtein` verify, which runs BEFORE the distinct so the dedup
    * only holds true near-matches. */
  def editNeighborPairs(records: DataFrame, idCol: String, keyCol: String): DataFrame = {
    // DEDUPE-BEFORE-BLOCK: collapse exact-duplicate keys first, run the
    // variant blocking + levenshtein verify once per DISTINCT key, then
    // expand name-level matches back to id pairs. On corpora with d-way
    // duplicated keys (every recrawl has them; the sf1 fixture is 10-way
    // by construction) the naive per-record form pays d² candidate joins,
    // d² verifies, and a d²-sized distinct per name — measured 379 s at
    // sf1 where this form verifies 15 k distinct names and spends the
    // rest on pure output expansion (the 27 M result rows are the answer;
    // only producing them should cost output time). Same output multiset:
    // same-key id pairs are dist-0 by definition (branch a); cross-key id
    // pairs inherit their name pair's distance (branch b), and each id
    // pair arises from exactly one unordered name pair, so no distinct is
    // needed after expansion.
    val base = records.select(col(idCol).cast("long").as("id"), col(keyCol).as("key"))
    // read three times below (dup branch + two expansion joins)
    val groups = base.groupBy(col("key"))
      .agg(collect_list(col("id")).as("ids"), min(col("id")).as("rid"),
        count(lit(1)).as("m"))
    // (a) exact-duplicate pairs: all id pairs inside one key group. Group
    // size = the key's duplication count — the usual hot-key caveat; a
    // key duplicated millions of times needs an upstream cap, same as any
    // blocking scheme. NULL/empty keys are excluded: the per-record
    // FastSS form never paired them (an empty key has no deletion
    // variants), and "two records both missing a name" is not a match
    // signal — without this filter every keyless record would pair with
    // every other.
    val dup = groups.filter(col("m") > 1 && length(col("key")) > 0)
      .select(col("key"), explode(col("ids")).as("idA"), col("ids"))
      .select(col("key"), col("idA"), explode(col("ids")).as("idB"))
      .filter(col("idA") < col("idB"))
      .select(col("idA").as("id1"), col("idB").as("id2"),
        col("key").as("key1"), col("key").as("key2"), lit(0L).as("dist"))
    // (b) distance-1 name pairs over distinct keys, expanded to id pairs
    val namePairs = editNeighborPairsDistinct(
      groups.select(col("rid").as("id"), col("key")))
      .filter(col("dist") === 1L)
      .select(col("key1"), col("key2"), col("dist"))
    val expanded = namePairs
      .join(groups.select(col("key").as("key1"), col("ids").as("ids1")), Seq("key1"))
      .join(groups.select(col("key").as("key2"), col("ids").as("ids2")), Seq("key2"))
      .select(col("key1"), col("key2"), col("dist"),
        explode(col("ids1")).as("idA"), col("ids2"))
      .select(col("key1"), col("key2"), col("dist"), col("idA"),
        explode(col("ids2")).as("idB"))
      .select(when(col("idA") < col("idB"),
          struct(col("idA").as("id1"), col("idB").as("id2"),
            col("key1").as("k1"), col("key2").as("k2")))
        .otherwise(struct(col("idB").as("id1"), col("idA").as("id2"),
          col("key2").as("k1"), col("key1").as("k2"))).as("p"),
        col("dist"))
      .select(col("p.id1").as("id1"), col("p.id2").as("id2"),
        col("p.k1").as("key1"), col("p.k2").as("key2"), col("dist"))
    dup.unionByName(expanded)
  }

  /** The per-record FastSS pipeline over a frame whose keys are DISTINCT
    * (one row per key; `id` is the key's representative). */
  private def editNeighborPairsDistinct(base: DataFrame): DataFrame = {
    val dels = base.select(col("id"), col("key"),
        posexplode(expr("transform(sequence(1, length(key)), " +
          "i -> concat(substring(key, 1, i-1), substring(key, i+1, length(key))))")))
      .select(col("id"), col("key"), col("pos").as("dpos"),
        xxhash64(col("col")).as("vh"))
    val selfs = base.select(col("id"), col("key"), xxhash64(col("key")).as("vh"))
    // substitution candidates: same-position deletions agree
    val subs = dels.select(col("id").as("idA"), col("key").as("keyA"),
        col("dpos"), col("vh"))
      .join(dels.select(col("id").as("idB"), col("key").as("keyB"),
        col("dpos"), col("vh")), Seq("vh", "dpos"))
    // indel + exact-dup candidates: whole key vs {self} ∪ {deletions}
    val indel = selfs.select(col("id").as("idA"), col("key").as("keyA"), col("vh"))
      .join(selfs.select(col("id").as("idB"), col("key").as("keyB"), col("vh"))
        .unionByName(dels.select(col("id").as("idB"), col("key").as("keyB"),
          col("vh"))), Seq("vh"))
    subs.select(col("idA"), col("keyA"), col("idB"), col("keyB"))
      .unionByName(indel.select(col("idA"), col("keyA"), col("idB"), col("keyB")))
      .filter(col("idA") =!= col("idB"))
      // orient id1 < id2 keeping each key with its id (the indel join sees
      // a pair from whichever side is shorter, in either id order)
      .select(when(col("idA") < col("idB"),
          struct(col("idA").as("id1"), col("idB").as("id2"),
            col("keyA").as("key1"), col("keyB").as("key2")))
        .otherwise(struct(col("idB").as("id1"), col("idA").as("id2"),
          col("keyB").as("key1"), col("keyA").as("key2"))).as("p"))
      .select(col("p.id1").as("id1"), col("p.id2").as("id2"),
        col("p.key1").as("key1"), col("p.key2").as("key2"))
      // threshold form: banded O(k·n) DP with early exit instead of the
      // full O(n²) matrix — returns -1 past the bound, so `>= 0` IS the
      // dist ≤ 1 verify (kept values 0/1 are identical to the unbounded
      // form; the DuckDB oracle's plain levenshtein agrees on kept rows)
      .withColumn("dist",
        levenshtein(col("key1"), col("key2"), 1).cast("long"))
      .filter(col("dist") >= 0)
      .distinct()
  }
}
