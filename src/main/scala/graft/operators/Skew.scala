package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Skew mitigation for big-big equi-joins (SCALE.md).
  *
  * AQE's skew-join splitting handles most cases at runtime; explicit salting
  * remains the tool when one side has pathological hot keys (a power-law
  * order key, a null-heavy FK) and the OTHER side is small enough per key to
  * replicate: the skewed side gets a random salt in [0, n), the build side is
  * exploded n× with every salt value, and the join key becomes (key, salt) —
  * splitting each hot key's row group across n tasks.
  */
object Skew {

  /** Salted inner equi-join on `key`: `skewed ⋈ build` where `build`'s rows
    * are replicated `salts`× . Row multiset equals the plain join. */
  def saltedJoin(skewed: DataFrame, build: DataFrame, key: String, salts: Int): DataFrame = {
    require(salts > 0)
    val salted = skewed.withColumn("__salt",
      pmod(spark_hash(skewed.columns.toIndexedSeq.map(col): _*), lit(salts)))
    val replicated = build.withColumn("__salt", explode(lit((0 until salts).toArray)))
    salted.join(replicated, Seq(key, "__salt")).drop("__salt")
  }

  /** Random-ish but deterministic per-row salt source: hash of all columns
    * (avoids rand(), which breaks retry/replay determinism at scale). */
  private def spark_hash(cols: Column*): Column = abs(hash(cols: _*))

  /** Count–min sketch of `key` occurrence counts: `depth` independent hash
    * rows × 2^widthBits buckets, counts by portable md5 hashing
    * (rerun/engine/partitioning stable, unlike native `hash()`). The
    * `depth` row hashes are SLICES of one md5 per occurrence — 32 bits
    * each, four rows per digest (a second seeded digest covers depth 5–8)
    * — so hashing cost is ~1 md5/occurrence, not `depth`; md5 is the
    * portability tax and was the measured hot path. The frequency sketch
    * for streams and merges: sketches of shards ADD cell-wise (counts are
    * sums), so a 100 TB corpus sketches per-partition and merges
    * depth·width integers, never a key-cardinality shuffle. */
  def cmsSketch(df: DataFrame, key: String, depth: Int = 4,
      widthBits: Int = 10): DataFrame = {
    val width = 1L << widthBits
    cmsBuckets(df.select(col(key).cast("string").as("k")), depth, width)
      .groupBy("s", "b").agg(count(lit(1)).as("c"))
  }

  /** (s, b) bucket coordinates for every row of `kFrame` (one `k` string
    * column) under the [[cmsSketch]] hash family: row `s`'s 32-bit hash is
    * hex slice `[8s mod 32, 8s mod 32 + 8)` of md5("<s div 4>:" + k). */
  private def cmsBuckets(kFrame: DataFrame, depth: Int, width: Long): DataFrame = {
    require(depth >= 1 && depth <= 8 && width >= 16 && width <= (1L << 24))
    val nBlocks = (depth + 3) / 4
    val withDigests = (0 until nBlocks).foldLeft(kFrame) { (d, blk) =>
      d.withColumn(s"__h$blk", md5(concat(lit(s"$blk:"), col("k"))))
    }
    val sliceOf =
      if (nBlocks == 1) "substring(__h0, 1 + 8 * s, 8)"
      else "substring(CASE WHEN s < 4 THEN __h0 ELSE __h1 END, 1 + 8 * (s % 4), 8)"
    withDigests
      .select(col("*"), explode(lit((0 until depth).toArray)).as("s"))
      .select(col("k"), col("s"),
        pmod(conv(expr(sliceOf), 16, 10).cast("long"), lit(width)).as("b"))
  }

  /** The CMS point-query CONTRACT, evaluated on the data itself for the
    * `topN` true heavy hitters: the estimate never underestimates
    * (structural — every true occurrence increments all of a key's cells),
    * and overestimates by at most `boundMult`·N/width (the ε·N guarantee
    * with the min over `depth` rows driving the failure probability to
    * e^−depth; boundMult=3 ≫ the e ≈ 2.72 of the textbook bound). Output:
    * (rank, skey, true_n, cms_n, no_underestimate, within_bound) — a
    * drifting sketch implementation flips a hashed boolean.
    * Shape: two key-cardinality aggregates + a depth·topN-row probe join. */
  def cmsContract(df: DataFrame, key: String, depth: Int = 4,
      widthBits: Int = 10, boundMult: Int = 3, topN: Int = 20): DataFrame = {
    val width = 1L << widthBits
    val it = df.select(col(key).cast("string").as("k"))
    val sk = cmsSketch(df, key, depth, widthBits)
    // one key-cardinality aggregate feeds top-N and the total (nt = Σn)
    val tru = it.groupBy("k").agg(count(lit(1)).as("n"))
    val top = TopK.perGroup(tru, Nil, Seq(col("n").desc, col("k")), topN)
      .localCheckpoint() // topN rows, eager — cuts the sort lineage for both consumers
    val est = cmsBuckets(top.select(col("k")), depth, width)
      .join(sk, Seq("s", "b"))
      .groupBy("k").agg(min("c").as("cms_n"))
    val tot = tru.agg(sum("n").as("nt"))
    top.join(est, Seq("k")).crossJoin(broadcast(tot))
      .select(col("rank"), col("k").as("skey"), col("n").as("true_n"),
        col("cms_n"),
        (col("cms_n") >= col("n")).as("no_underestimate"),
        ((col("cms_n") - col("n")) <= expr(s"($boundMult * nt) div $width"))
          .as("within_bound"))
  }
}
