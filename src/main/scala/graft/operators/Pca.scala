package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Principal-component analysis over embedding columns — the spectral tier
  * of the vector surface: corpus-level covariance structure, the dominant
  * variance direction, and per-vector principal scores. Production
  * pipelines use exactly this shape for embedding diagnostics (anisotropy /
  * collapsed-dimension checks before ANN indexing) and as the whitening /
  * projection step SemDeDup-style semantic dedup runs on before clustering
  * (Abbas et al. 2023 cluster PCA-reduced embeddings).
  *
  * == Exactness contract ==
  * Coordinates are the engine's standard integer quantization
  * ([[VectorSearch.quantize]], round(x·10⁴)), so the Gram matrix and dim
  * sums are exact integers from one scan. The covariance NUMERATOR
  * `M = n·G − s·sᵀ` (n² × the covariance — never divided) stays in exact
  * integer arithmetic (BigInt driver-side, decimal(38,0) in DataFrames;
  * gate outputs canonicalize to sign-split base-10¹⁸ BIGINT word pairs via
  * [[int128Words]], since n·G exceeds BIGINT beyond ~3·10⁵ vectors and
  * int128 has no shared cross-engine physical type). The power iteration
  * renormalizes each iterate to integer micro-units via
  * round-half-away-from-zero((w·10⁶)/max|w|) — ONE integer rounding per
  * component per iteration, so the whole fit is replayable cell-by-cell in
  * any exact-integer engine (the oracle unrolls the iterations as chained
  * CTEs over the long-form matrix). No float ever enters.
  *
  * == 100 TB shape ==
  * [[gramStats]] is the classic Gram-matrix treeAggregate (the same shape
  * as Spark MLlib's RowMatrix.computeGramianMatrix): each partition folds
  * its rows into ONE dim×dim long array (~16 KB for dim 64), partials merge
  * in a tree — one corpus scan, nothing data-proportional on the driver.
  * The power iteration runs on the collected model-sized matrix (dim² cells
  * — like the k-means k·dim collect). [[project]] is a pure map over the
  * corpus against the broadcast direction literal. Long-overflow headroom:
  * per-cell Gram sums stay under 2⁶³ up to ~10¹⁰ rows at |q|≤10⁴; beyond
  * that, shard the scan and merge partials in BigInt.
  */
object Pca {

  /** Exact first+second moments of the quantized corpus: row count, per-dim
    * sums, and the upper-triangle Gram matrix `G_ij = Σ q_i·q_j` (stored
    * full-symmetric for convenient matvecs). */
  final case class GramStats(n: Long, sums: Array[Long], gram: Array[Array[Long]]) {
    def dim: Int = sums.length
  }

  /** One treeAggregate corpus scan → [[GramStats]]. Refuses ragged
    * dimensionality loudly (a silent mis-zip would corrupt every moment). */
  def gramStats(emb: DataFrame, embCol: String = "embedding"): GramStats = {
    val sp = emb.sparkSession
    import sp.implicits._
    val q = emb.filter(col(embCol).isNotNull)
      .select(VectorSearch.quantize(embCol).as("q"))
      .as[Array[Long]]
    // (n, sums, upper-triangle gram flattened row-major)
    type Part = (Long, Array[Long], Array[Long])
    def seqOp(p: Part, v: Array[Long]): Part = {
      val (n0, s, g) = if (p._2.length == 0 && v != null)
        (p._1, new Array[Long](v.length), new Array[Long](v.length * (v.length + 1) / 2))
      else p
      require(v.length == s.length,
        s"ragged embedding dim: ${v.length} vs ${s.length}")
      var i = 0; var k = 0
      while (i < v.length) {
        s(i) += v(i)
        var j = i
        while (j < v.length) { g(k) += v(i) * v(j); k += 1; j += 1 }
        i += 1
      }
      (n0 + 1, s, g)
    }
    def combOp(a: Part, b: Part): Part = {
      if (a._2.length == 0) b
      else if (b._2.length == 0) a
      else {
        // ragged rows in DIFFERENT partitions meet here, not in seqOp
        require(a._2.length == b._2.length,
          s"ragged embedding dim: ${a._2.length} vs ${b._2.length}")
        var i = 0
        while (i < a._2.length) { a._2(i) += b._2(i); i += 1 }
        i = 0
        while (i < a._3.length) { a._3(i) += b._3(i); i += 1 }
        (a._1 + b._1, a._2, a._3)
      }
    }
    val (n, s, flat) = q.rdd.treeAggregate(
      (0L, Array.emptyLongArray, Array.emptyLongArray))(seqOp, combOp)
    require(n > 0, "PCA over an empty corpus")
    val d = s.length
    val full = Array.ofDim[Long](d, d)
    var i = 0; var k = 0
    while (i < d) {
      var j = i
      while (j < d) { full(i)(j) = flat(k); full(j)(i) = flat(k); k += 1; j += 1 }
      i += 1
    }
    GramStats(n, s, full)
  }

  /** Exact merge of two shard moment sets — the 100 TB shard path made
    * concrete: first+second moments are plain sums, so a corpus too large
    * (or too freshly grown) for one scan splits into shards whose
    * [[GramStats]] combine losslessly. `gramStats(full)` ≡
    * `merge(gramStats(shard1), gramStats(shard2))` cell-for-cell
    * (spec-pinned and oracle-gated via q_x_pca_gram_merged, whose oracle
    * is IDENTICAL to q_x_pca_gram — the stored-model equivalence pattern).
    * Also the incremental-refresh verb: yesterday's moments + today's
    * batch moments = today's model, no recomputation. */
  def mergeGram(a: GramStats, b: GramStats): GramStats = {
    require(a.dim == b.dim, s"shard dims differ: ${a.dim} vs ${b.dim}")
    val d = a.dim
    GramStats(
      a.n + b.n,
      Array.tabulate(d)(i => math.addExact(a.sums(i), b.sums(i))),
      Array.tabulate(d, d)((i, j) => math.addExact(a.gram(i)(j), b.gram(i)(j))))
  }

  /** Covariance numerator `M_ij = n·G_ij − s_i·s_j` (= n² · covariance) in
    * exact BigInt — the matrix the power iteration runs on. */
  def covNumerator(g: GramStats): Array[Array[BigInt]] = {
    val d = g.dim
    Array.tabulate(d, d)((i, j) =>
      BigInt(g.n) * BigInt(g.gram(i)(j)) - BigInt(g.sums(i)) * BigInt(g.sums(j)))
  }

  /** round-half-away-from-zero((x·scale)/m) in exact integers — the single
    * quantization the iteration applies per component. */
  private def quantDiv(x: BigInt, m: BigInt, scale: Long): BigInt = {
    val num = x.abs * scale * 2 + m
    (num / (m * 2)) * x.signum
  }

  /** Dominant eigendirection of `m` by power iteration, each iterate
    * renormalized to micro-units (max|component| = `scale`). Start vector:
    * the basis vector of the largest diagonal cell (ties → smallest index)
    * — deterministic, and aligned enough with the top component to converge
    * whenever the diagonal loads on it. Returns the direction with a sign
    * convention (first nonzero component positive) so replays can't differ
    * by the eigenvector's inherent ±. */
  def principalDirection(m: Array[Array[BigInt]], iters: Int = 12,
      scale: Long = 1000000L): Array[Long] = {
    val d = m.length
    val start = (0 until d).maxBy(i => (m(i)(i), -i))
    var v: Array[BigInt] = Array.tabulate(d)(i => if (i == start) BigInt(scale) else BigInt(0))
    var it = 0
    while (it < iters) {
      val w = Array.tabulate(d) { i =>
        var acc = BigInt(0); var j = 0
        while (j < d) { acc += m(i)(j) * v(j); j += 1 }
        acc
      }
      val mx = w.map(_.abs).max
      require(mx > 0, "power iteration hit the zero vector (rank-0 matrix)")
      v = w.map(quantDiv(_, mx, scale))
      it += 1
    }
    val firstNz = v.find(_ != 0).getOrElse(BigInt(1))
    val sgn = firstNz.signum
    v.map(x => (x * sgn).bigInteger.longValueExact())
  }

  /** Long-form covariance numerator as a DataFrame (di, dj upper triangle,
    * m DECIMAL(38,0)) plus the moment columns the oracle replays from. */
  def covNumeratorDF(spark: SparkSession, g: GramStats): DataFrame = {
    val m = covNumerator(g)
    val rows = for (i <- 0 until g.dim; j <- i until g.dim)
      yield Row(i.toLong + 1, j.toLong + 1, new java.math.BigDecimal(m(i)(j).bigInteger))
    spark.createDataFrame(
      java.util.Arrays.asList(rows: _*),
      StructType(Seq(StructField("di", LongType), StructField("dj", LongType),
        StructField("m", DecimalType(38, 0)))))
  }

  /** Sign-split base-10¹⁸ two-word decomposition of an exact-integer
    * decimal column: `value = hi·10¹⁸ + lo` with `sign(hi) = sign(lo) =
    * sign(value)` and `|lo| < 10¹⁸` — both words BIGINT for any
    * `|value| < 9.2·10³⁶` (ANSI cast throws loudly beyond). The driver
    * gate hashes physical column types, and int128-scale outputs (DuckDB
    * HUGEINT / DECIMAL(38,0) vs Spark decimal) have no shared BIGINT
    * representation — this is the canonical cross-engine form. The abs/sign
    * split sidesteps engine-specific negative-division conventions: both
    * words are derived from non-negative operands only. */
  def int128Words(v: Column): (Column, Column) = {
    val b = lit(new java.math.BigDecimal(java.math.BigInteger.TEN.pow(18)))
    val sgn = when(v < 0, lit(-1L)).otherwise(lit(1L))
    val a = abs(v)
    val loAbs = a % b
    // (a − lo) is an exact multiple of 10¹⁸, so the decimal divide is
    // exact (zero fractional part) and the long cast is lossless
    val hiAbs = (a - loAbs) / b
    (sgn * hiAbs.cast(LongType), sgn * loAbs.cast(LongType))
  }

  /** The fitted direction as (dim, v_micro) rows. */
  def directionDF(spark: SparkSession, v: Array[Long]): DataFrame = {
    val rows = v.zipWithIndex.map { case (x, i) => Row(i.toLong + 1, x) }
    spark.createDataFrame(java.util.Arrays.asList(rows: _*),
      StructType(Seq(StructField("dim", LongType), StructField("v_micro", LongType))))
  }

  /** Per-vector centered principal score, exact: `n·(q·v) − (s·v)` — n× the
    * micro-scaled projection of (q − mean) onto v. Pure map against the
    * direction/moment literals; scores sum to exactly 0 over the corpus (the
    * spec pins this). */
  def project(emb: DataFrame, g: GramStats, v: Array[Long],
      idCol: String = "vec_id", embCol: String = "embedding"): DataFrame = {
    require(v.length == g.dim)
    val sv = (0 until g.dim).map(i => BigInt(g.sums(i)) * BigInt(v(i))).sum
    val vLit = array(v.toIndexedSeq.map(lit): _*)
    emb.filter(col(embCol).isNotNull)
      .select(col(idCol).as("vec_id"), VectorSearch.quantize(embCol).as("q"))
      .withColumn("qv", graft.expressions.DotProductLong(col("q"), vLit))
      .select(col("vec_id"),
        (lit(g.n).cast(DecimalType(38, 0)) * col("qv").cast(DecimalType(38, 0))
          - lit(new java.math.BigDecimal(sv.bigInteger)).cast(DecimalType(38, 0)))
          .cast(DecimalType(38, 0)).as("pc1_num"))
  }
}
