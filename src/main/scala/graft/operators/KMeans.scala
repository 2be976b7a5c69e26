package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.expressions.DotProductLong
import graft.functions.Hashing

/** Distributed k-means (Lloyd's) over an embedding column — the clustering
  * step of an embedding pipeline (semantic bucketing, diversity sampling,
  * IVF coarse quantizers).
  *
  * Built for the 100 TB corpus / tiny model shape:
  *  - centroids live on the DRIVER as quantized-integer literals (k × dim
  *    longs — the same "broadcast the small side" move as
  *    [[VectorSearch.lshBuckets]]'s hyperplanes), so each assignment pass is
  *    a pure MAP over the corpus scan: zero joins, zero shuffles;
  *  - each update is ONE hash aggregate of (cluster, pos) partial sums with
  *    map-side combine, followed by an O(k·dim)-row driver collect — the
  *    only data crossing the wire per iteration is k·dim (sum, count) cells
  *    per map task;
  *  - all arithmetic is exact: coordinates quantized to round(x·10⁴) longs
  *    ([[VectorSearch.quantize]]), scores are integer 2·q·c − c·c (argmax of
  *    that is argmin of squared distance — the rank never touches floats),
  *    and new centroids re-round onto the integer grid each iteration, so a
  *    rerun — or another engine replaying the same recipe — reproduces the
  *    identical model bit-for-bit.
  *
  * Determinism contract (what the q_x_kmeans oracle replays in SQL): seeds
  * are the k vectors ranked by (md5-hash of vec_id, vec_id); assignment
  * ties break to the smallest cluster id; empty clusters drop out; means
  * round half-up onto the quantization grid (sum and count are exact in
  * doubles far below 2^53, and IEEE division is correctly rounded, so both
  * engines compute the identical double before `floor(x + 0.5)`).
  */
object KMeans {

  /** Quantized centroids keyed by cluster id (ids are stable across
    * iterations; ids of emptied clusters disappear). */
  final case class Model(centroids: Seq[(Int, Array[Long])]) {
    require(centroids.nonEmpty, "k-means model has no centroids")
  }

  /** Deterministic seeds: the k vectors ranked by (hash64(vec_id), vec_id).
    * Hash-ranking is order-independent (no zipWithIndex over an arbitrary
    * scan order) and spreads seeds pseudo-randomly; the job is a top-k sort
    * (TakeOrdered) over the already-prepared (vec_id, q) frame, never a
    * global sort or a second source scan. */
  def seeds(emb: DataFrame, k: Int, idCol: String = "vec_id",
      embCol: String = "embedding"): Model =
    seedsPrepared(emb.filter(col(embCol).isNotNull)
      .select(col(idCol).as("vec_id"), VectorSearch.quantize(embCol).as("q")), k)

  private def seedsPrepared(prepared: DataFrame, k: Int): Model = {
    val picked = prepared
      .withColumn("h", Hashing.hash64(col("vec_id").cast("string")))
      .orderBy(col("h"), col("vec_id"))
      .limit(k)
      .select(col("q")).collect()
    require(picked.length >= 1, "k-means: empty input frame")
    Model(picked.toSeq.zipWithIndex.map { case (r, i) =>
      i -> r.getSeq[Long](0).toArray
    })
  }

  /** Cluster id (long) of each row under `model`, as a single map-side
    * expression: one integer literal-dot score per centroid, argmax via
    * `array_min` over (−score, cid) structs — ties to the smallest cluster
    * id by the struct's lexicographic ordering. Each dot product appears
    * in the plan exactly ONCE; a when-chain fold would copy the
    * accumulated score expression at every level, growing the expression
    * tree (and its evaluation cost) exponentially in k — measured 2.2 s →
    * 0.78 s on the warm sf0.1 IVF probe at k = 8 (fit 8.9 → 3.8 s). */
  private[operators] def clusterExpr(model: Model): Column =
    clusterExprOn(model, col("q"))

  /** (negscore, cid) struct per centroid — negscore = c·c − 2·q·c, so per
    * point d² = q·q + negscore and ordering by (negscore, cid) IS ordering
    * by (d², cid): argmin with ties to the smallest cluster id. */
  private def scoreStructs(model: Model, q: Column): Seq[Column] =
    model.centroids.map { case (cid, c) =>
      val cc = c.map(x => x * x).sum
      struct(
        (lit(cc) - DotProductLong(q, typedlit(c.toSeq)) * 2).as("negscore"),
        lit(cid.toLong).as("cid"))
    }

  /** [[clusterExpr]] over an arbitrary quantized-vector column (the PQ
    * joint fit assigns all subspace slices in one pass). */
  private[operators] def clusterExprOn(model: Model, q: Column): Column =
    array_min(array(scoreStructs(model, q): _*)).getField("cid")

  /** Minimum "negscore" (cc − 2·q·c) over the model's centroids — adding
    * q·q gives the exact integer squared distance to the nearest centroid.
    * Same array-min-of-structs shape as [[clusterExpr]] (each dot appears
    * once in the plan). */
  private def negScoreMin(model: Model): Column =
    array_min(array(model.centroids.map { case (_, c) =>
      val cc = c.map(x => x * x).sum
      lit(cc) - DotProductLong(col("q"), typedlit(c.toSeq)) * 2
    }: _*))

  /** Exact corpus inertia under `model`: Σ min-squared-distance, as one
    * decimal aggregate (order-independent, hence bit-reproducible). The
    * model-quality yardstick the init specs compare on. */
  def inertia(emb: DataFrame, model: Model, idCol: String = "vec_id",
      embCol: String = "embedding"): BigInt = {
    val d = emb.filter(col(embCol).isNotNull)
      .select(VectorSearch.quantize(embCol).as("q"))
      .withColumn("qq", DotProductLong(col("q"), col("q")))
      .agg(sum((col("qq") + negScoreMin(model)).cast("decimal(38,0)")).as("s"))
      .head().getDecimal(0)
    if (d == null) BigInt(0) else BigInt(d.toBigInteger)
  }

  private val U = 1L << 40

  /** kmeans‖ initialization (Bahmani et al. 2012), DETERMINISTIC: better
    * seeds for larger k than the plain hash-ranked pick, with the same
    * bit-reproducibility contract.
    *
    *  - `rounds` oversampling passes: each point is selected with
    *    probability ≈ l·d²(x)/φ (l = `oversampleFactor`·k, φ = Σd²), but
    *    the coin flip is the point's own 40-bit id-hash compared against
    *    the exact decimal inequality u·φ < l·d²·2⁴⁰ — no RNG, so every
    *    rerun (at any parallelism) picks the identical candidate set. Each
    *    pass is one map + a decimal aggregate; selected rows are capped at
    *    4·l (smallest u first — deterministic) before the O(l)-row collect.
    *  - candidates are then weighted by one [[clusterExpr]] count pass and
    *    reduced to k centers by a driver-side weighted Lloyd over the tiny
    *    candidate set (zero-weight duplicates drop out).
    *
    * Decimal bound: u·φ < 2⁴⁰·n·maxd² must stay inside decimal(38,0) —
    * holds through ~10¹² rows of unit-norm quantized embeddings (≈10³⁷);
    * the same contract style as [[graft.operators.Anomaly]] documents.
    * Keeps the invariant that matters at 100 TB: assignment stays a pure
    * map; the only extra cost is `rounds` corpus passes at init time. */
  private def seedsParallelPrepared(prepared: DataFrame, k: Int, rounds: Int,
      oversampleFactor: Int): Model = {
    val l = math.max(k * oversampleFactor, k)
    var cands: Seq[Array[Long]] = seedsPrepared(prepared, 1).centroids.map(_._2)
    for (r <- 1 to rounds) {
      val m = Model(cands.zipWithIndex.map { case (c, i) => i -> c })
      val d2 = prepared
        .withColumn("qq", DotProductLong(col("q"), col("q")))
        .withColumn("d2", col("qq") + negScoreMin(m))
        .withColumn("u", pmod(graft.functions.Hashing.hash64(
          concat(lit(s"km[par]$r:"), col("vec_id").cast("string"))), lit(U)))
      val phi = d2.agg(sum(col("d2").cast("decimal(38,0)"))).head().getDecimal(0)
      if (phi != null && phi.signum > 0) {
        val picked = d2
          .filter(col("u").cast("decimal(38,0)") * lit(phi) <
            col("d2").cast("decimal(38,0)") * lit(l.toLong) * lit(U))
          .orderBy(col("u"), col("vec_id"))
          .limit(4 * l)
          .select(col("q")).collect()
          .map(_.getSeq[Long](0).toArray)
        cands = cands ++ picked
      }
    }
    // weight candidates by their attracted point counts (duplicates tie to
    // the smaller id and the loser weighs 0 → dropped by the reduction)
    val cm = Model(cands.zipWithIndex.map { case (c, i) => i -> c })
    val weights = prepared.withColumn("cluster", clusterExpr(cm))
      .groupBy(col("cluster")).agg(count(lit(1)).as("w")).collect()
      .map(r => r.getLong(0).toInt -> r.getLong(1)).toMap
    val weighted = cands.zipWithIndex
      .map { case (c, i) => (c, weights.getOrElse(i, 0L)) }
      .filter(_._2 > 0L)
    Model(weightedLloyd(weighted, k, iters = 5).zipWithIndex.map(_.swap))
  }

  /** Driver-side weighted Lloyd over the (tiny) candidate set: deterministic
    * init (highest weight first, ties on content), integer grid means with
    * EXACT rational round-half-up — floor(s/w + 1/2) computed as BigInt
    * floor-division floor((2s + w) / 2w), no intermediate decimal/double
    * rounding that could flip an integer near a .5 boundary. (The
    * distributed [[update]] divides in IEEE double, which is bit-identical
    * across engines for the exact-integer inputs both paths see; this form
    * is additionally exact for ANY magnitude, and is what the SQL oracle
    * replays with HUGEINT arithmetic.) */
  /** floor(s/w + 1/2) exactly: floor((2s + w) / 2w) via BigInt floor
    * division (BigInt./ truncates toward zero, so negatives adjust).
    * Package-visible so the spec can pin the near-.5-boundary cases where
    * a DECIMAL128 intermediate quotient would flip the integer. */
  private[graft] def roundedMean(s: BigInt, w: BigInt): BigInt = {
    val n = 2 * s + w
    val d = 2 * w
    if (n.signum >= 0) n / d else -((-n + d - 1) / d)
  }

  private def weightedLloyd(cands: Seq[(Array[Long], Long)], k: Int,
      iters: Int): Seq[Array[Long]] = {
    def dist2(a: Array[Long], b: Array[Long]): BigInt = {
      var s = BigInt(0); var i = 0
      while (i < a.length) { val d = BigInt(a(i) - b(i)); s += d * d; i += 1 }
      s
    }
    var centers = cands.sortBy { case (c, w) => (-w, c.toSeq.mkString(",")) }
      .take(k).map(_._1)
    for (_ <- 1 to iters) {
      val assigned = cands.map { case (c, w) =>
        val best = centers.indices.minBy(i => (dist2(c, centers(i)), i))
        (best, c, w)
      }
      centers = assigned.groupBy(_._1).toSeq.sortBy(_._1).map { case (_, pts) =>
        val wsum = pts.map(_._3).sum
        val dim = pts.head._2.length
        Array.tabulate(dim) { j =>
          val s = pts.foldLeft(BigInt(0)) { case (acc, (_, c, w)) => acc + BigInt(c(j)) * w }
          roundedMean(s, BigInt(wsum)).toLong
        }
      }
    }
    centers
  }

  /** [[fit]] with kmeans‖ seeding — the larger-k production fit: same Lloyd
    * updates, same bit-reproducibility, better starting inertia. */
  def fitParallel(emb: DataFrame, k: Int = 8, iters: Int = 2, rounds: Int = 2,
      idCol: String = "vec_id", embCol: String = "embedding"): Model = {
    val prepared = emb.filter(col(embCol).isNotNull)
      .select(col(idCol).as("vec_id"), VectorSearch.quantize(embCol).as("q"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      (1 to iters).foldLeft(seedsParallelPrepared(prepared, k, rounds, 2)) {
        (m, _) => update(prepared, m)
      }
    } finally prepared.unpersist()
  }

  /** One Lloyd update: assign under `model`, recompute per-cluster means on
    * the quantization grid. The aggregate ships k·dim cells per map task;
    * the collect is k·dim rows. Emptied clusters drop out of the model. */
  private def update(prepared: DataFrame, model: Model): Model = {
    val cells = prepared
      .withColumn("cluster", clusterExpr(model))
      .select(col("cluster"), posexplode(col("q")).as(Seq("pos", "v")))
      .groupBy(col("cluster"), col("pos"))
      .agg(sum(col("v")).as("s"), count(lit(1)).as("n"))
      .withColumn("val", floor(col("s").cast("double") / col("n") + 0.5).cast("long"))
      .select(col("cluster"), col("pos"), col("val"))
      .collect()
    Model(cells.groupBy(_.getLong(0)).toSeq.sortBy(_._1).map { case (cid, rows) =>
      cid.toInt -> rows.sortBy(_.getInt(1)).map(_.getLong(2)).toArray
    })
  }

  /** Fit a k-means model: hash-ranked seeds + `iters` Lloyd rounds. The
    * prepared (id, q) frame is persisted across the iteration actions and
    * released before returning — the model itself carries no lineage. */
  def fit(emb: DataFrame, k: Int = 8, iters: Int = 2,
      idCol: String = "vec_id", embCol: String = "embedding"): Model = {
    val prepared = emb.filter(col(embCol).isNotNull)
      .select(col(idCol).as("vec_id"), VectorSearch.quantize(embCol).as("q"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      (1 to iters).foldLeft(seedsPrepared(prepared, k)) { (m, _) =>
        update(prepared, m)
      }
    } finally prepared.unpersist()
  }

  /** The fitted model in its persistable LONG-ROW form: (cluster, pos,
    * value) — k·dim rows of exact quantized-integer centroid cells. This is
    * the catalog-artifact shape: train once, store versioned
    * ([[saveModel]]), and any later job [[loadModel]]s + [[assign]]s
    * without touching the training corpus (the production
    * train-once/score-many split). */
  def modelDf(spark: org.apache.spark.sql.SparkSession, model: Model): DataFrame = {
    import spark.implicits._
    model.centroids.flatMap { case (cid, c) =>
      c.zipWithIndex.map { case (v, pos) => (cid.toLong, pos.toLong, v) }
    }.toDF("cluster", "pos", "value")
  }

  /** Persist the model as a versioned catalog table (atomic pointer-flip
    * commit, history/rollback like any other table — a bad re-fit is one
    * `rollback` away). */
  def saveModel(cat: graft.catalog.Catalog, table: String,
      spark: org.apache.spark.sql.SparkSession, model: Model): Unit =
    cat.write(table, modelDf(spark, model))

  /** Load a stored model ([[saveModel]]) back into the driver-literal form
    * every scoring path bakes into its map-side plan. The collect is k·dim
    * rows — model-sized, never corpus-sized. */
  def loadModel(cat: graft.catalog.Catalog, table: String): Model = {
    val cells = cat.read(table)
      .select(col("cluster"), col("pos"), col("value")).collect()
    require(cells.nonEmpty, s"k-means: stored model '$table' is empty")
    Model(cells.groupBy(_.getLong(0)).toSeq.sortBy(_._1).map { case (cid, rows) =>
      cid.toInt -> rows.sortBy(_.getLong(1)).map(_.getLong(2)).toArray
    })
  }

  /** Cluster occupancy under `model`'s own assignment — the (centroid,
    * weight) sufficient statistics an incremental update needs. One
    * map-side assignment + k-row aggregate; store it next to the model. */
  def clusterWeights(emb: DataFrame, model: Model, idCol: String = "vec_id",
      embCol: String = "embedding"): Map[Long, Long] =
    assign(emb, model, idCol, embCol)
      .groupBy(col("cluster")).agg(count(lit(1)).as("w"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

  /** Incremental (mini-batch) model update — continual clustering over a
    * drifting corpus: fold ONE new batch into a trained model WITHOUT
    * revisiting the training corpus, which is collapsed to its (centroid,
    * weight) sufficient statistics. Each batch row assigns to its nearest
    * current centroid (pure map); the merged cell is the weighted grid
    * mean floor((w·val + Σ batch_v) / (w + n_batch) + 0.5) — exactly one
    * [[update]] Lloyd step in which the old corpus participates as w
    * phantom copies of its centroid. Clusters the batch misses are
    * unchanged (the formula degenerates to floor(val + 0.5) = val).
    *
    * Cost: one batch-sized scan + a k·dim-cell collect — independent of
    * historical corpus size, the property that makes nightly model
    * refreshes O(night's data) at 100 TB. Double division mirrors
    * [[update]]'s rounding (all inputs integer-valued < 2^53 → identical
    * IEEE results in any engine). */
  def updateModel(batch: DataFrame, model: Model, weights: Map[Long, Long],
      embCol: String = "embedding"): Model = {
    val cells = batch.filter(col(embCol).isNotNull)
      .select(VectorSearch.quantize(embCol).as("q"))
      .withColumn("cluster", clusterExpr(model))
      .select(col("cluster"), posexplode(col("q")).as(Seq("pos", "v")))
      .groupBy(col("cluster"), col("pos"))
      .agg(sum(col("v")).as("s"), count(lit(1)).as("n"))
      .collect()
      .map(r => (r.getLong(0), r.getInt(1)) -> (r.getLong(2), r.getLong(3)))
      .toMap
    Model(model.centroids.map { case (cid, c) =>
      val w = weights.getOrElse(cid.toLong, 0L)
      cid -> c.zipWithIndex.map { case (v, pos) =>
        val (s, n) = cells.getOrElse((cid.toLong, pos), (0L, 0L))
        if (w + n == 0L) v
        else math.floor((w * v + s).toDouble / (w + n) + 0.5).toLong
      }
    })
  }

  /** (vec_id, cluster) for every row — a pure map over the corpus scan
    * (centroid literals baked into the plan; nothing is joined, shuffled,
    * or collected), so scoring a 100 TB corpus is scan-bound. */
  def assign(emb: DataFrame, model: Model, idCol: String = "vec_id",
      embCol: String = "embedding"): DataFrame =
    emb.filter(col(embCol).isNotNull)
      .select(col(idCol).as("vec_id"), VectorSearch.quantize(embCol).as("q"))
      .select(col("vec_id"), clusterExpr(model).as("cluster"))

  /** Per-point SIMPLIFIED silhouette under `model` — the clustering-quality
    * audit (Rousseeuw's silhouette with the O(n²) mean-pairwise distances
    * replaced by centroid distances, the standard large-scale form): with
    * a² the squared distance to the OWN (nearest) centroid and b² the
    * squared distance to the nearest OTHER centroid,
    *   sil = (b² − a²) / b²   (0 when b² = 0; a² ≤ b² by construction,
    * so max(a², b²) = b² and sil ∈ [0, 1] — squared-space variant, kept
    * squared because √ is a libm call the cross-engine contract bans).
    * Near-1 = well-separated, near-0 = on a cluster boundary; the
    * before/after yardstick for choosing k or auditing a SemDeDup pass.
    *
    * Scale: a pure MAP over the corpus scan — centroid literals in the
    * plan, argmin + runner-up from ONE sorted k-array per row, no join,
    * no shuffle. a²/b² are exact BIGINTs; sil is one IEEE division. */
  def silhouette(emb: DataFrame, model: Model, idCol: String = "vec_id",
      embCol: String = "embedding"): DataFrame = {
    require(model.centroids.length >= 2, "silhouette needs k >= 2")
    emb.filter(col(embCol).isNotNull)
      .select(col(idCol).as("vec_id"), VectorSearch.quantize(embCol).as("q"))
      .select(col("vec_id"), DotProductLong(col("q"), col("q")).as("qq"),
        slice(array_sort(array(scoreStructs(model, col("q")): _*)), 1, 2).as("t2"))
      .select(col("vec_id"),
        col("t2")(0).getField("cid").as("cluster"),
        (col("qq") + col("t2")(0).getField("negscore")).as("a2"),
        (col("qq") + col("t2")(1).getField("negscore")).as("b2"))
      .select(col("vec_id"), col("cluster"), col("a2"), col("b2"),
        when(col("b2") === 0L, lit(0.0))
          .otherwise((col("b2") - col("a2")).cast("double") / col("b2"))
          .as("sil"))
  }

  /** Cluster-balanced selection — keep the `quota` most PROTOTYPICAL rows
    * of every cluster (smallest exact squared distance to the assigned
    * centroid, ties by id): the diversity-preserving curation step between
    * SemDeDup-style near-dup removal and a global quality cut. A global
    * top-N by any score collapses onto the dominant modes; a per-cluster
    * quota keeps every region of embedding space represented while still
    * preferring each region's cleanest examples.
    *
    * Assignment and d² = q·q + min(c·c − 2·q·c) stay the pure-map
    * exact-integer forms of [[assign]]/[[inertia]] (centroid literals in
    * the plan, no join); the only shuffle is the per-cluster rank window —
    * k partitions, so pair with a larger k or a secondary salt if one
    * cluster dwarfs the rest. Output: (vec_id, cluster, d2, rank ≤ quota). */
  def clusterBalancedSelect(emb: DataFrame, model: Model, quota: Int,
      idCol: String = "vec_id", embCol: String = "embedding"): DataFrame = {
    require(quota > 0)
    TopK.perGroup(emb.filter(col(embCol).isNotNull)
        .select(col(idCol).as("vec_id"), VectorSearch.quantize(embCol).as("q"))
        .select(col("vec_id"), clusterExpr(model).as("cluster"),
          (DotProductLong(col("q"), col("q")) + negScoreMin(model)).as("d2")),
      Seq(col("cluster")), Seq(col("d2"), col("vec_id")), quota)
  }

  /** IVF ANN with the fitted model as the coarse quantizer — the production
    * IVF shape (inverted-file-flat): every corpus row buckets to its nearest
    * centroid MAP-SIDE, and a probe ranks candidates only inside the query's
    * cluster. Complements [[VectorSearch.ivfProbeTopK]]'s hyperplane-sign
    * buckets: learned centroids adapt to the data distribution, so list
    * sizes stay balanced where random hyperplanes would not. Persist the
    * bucketed frame sorted by `bucket` (as q_x_ann_index does) to file-prune
    * probes at corpus scale. */
  def ivfProbeTopK(emb: DataFrame, model: Model, queryPred: org.apache.spark.sql.Column,
      kNeighbors: Int, idCol: String = "vec_id", embCol: String = "embedding"): DataFrame = {
    val e = emb.filter(col(embCol).isNotNull)
      .select(col(idCol).as("vec_id"), VectorSearch.quantize(embCol).as("q"))
      .withColumn("nn", VectorSearch.dot("q", "q"))
      .withColumn("bucket", clusterExpr(model))
    VectorSearch.rankInBucket(e.filter(queryPred), e, kNeighbors)
  }

  /** Semantic dedup (SemDeDup, Abbas et al. 2023): embedding near-dup PAIRS
    * blocked by k-means cluster — candidates form only within a cluster
    * (the defining trick: a cluster-equality join bounds pair volume by
    * Σ cluster², and learned clusters put semantic copies together far more
    * reliably than random hyperplanes), then exact integer-cosine verify.
    * Same verify arithmetic as [[VectorSearch.nearDuplicates]]; only the
    * blocking key differs. */
  def semanticNearDups(emb: DataFrame, model: Model, threshold: Double = 0.8,
      idCol: String = "vec_id", embCol: String = "embedding"): DataFrame = {
    val e = emb.filter(col(embCol).isNotNull)
      .select(col(idCol).as("vec_id"), VectorSearch.quantize(embCol).as("q"))
      .withColumn("nn", VectorSearch.dot("q", "q"))
      .withColumn("cluster", clusterExpr(model))
    val a = e.select(col("vec_id").as("id1"), col("q").as("q1"),
      col("nn").as("n1"), col("cluster"))
    val b = e.select(col("vec_id").as("id2"), col("q").as("q2"),
      col("nn").as("n2"), col("cluster"))
    a.join(b, Seq("cluster")).filter(col("id1") < col("id2"))
      .withColumn("dp", VectorSearch.dot("q1", "q2"))
      .withColumn("sim", VectorSearch.cosine("dp", "n1", "n2"))
      .filter(col("sim") >= threshold)
      .select(col("id1"), col("id2"), col("sim"))
  }
}
