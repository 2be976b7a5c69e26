package graft

import org.apache.spark.sql.functions._
import graft.operators.KMeans

class KMeansSpec extends SparkSpec {
  import spark.implicits._

  /** Two obvious blobs in 4-d: around (+1,+1,+1,+1) and (-1,-1,-1,-1). */
  private def blobs = (0 until 10).map { i =>
    val sign = if (i % 2 == 0) 1.0f else -1.0f
    val jitter = 0.01f * i
    (i.toLong, Seq(sign + jitter, sign, sign - jitter, sign))
  }.toDF("vec_id", "embedding")

  test("k-means separates two obvious blobs") {
    val assigned = KMeans.assign(blobs, KMeans.fit(blobs, k = 2, iters = 3))
    val got = rows(assigned
      .withColumn("parity", col("vec_id") % 2)
      .groupBy("parity").agg(countDistinct("cluster").as("n_clusters"))
      .orderBy("parity"))
    // each parity blob maps to exactly one cluster...
    assert(got == Seq(Seq(0L, 1L), Seq(1L, 1L)))
    // ...and the two blobs land in different clusters
    assert(assigned.select("cluster").distinct().count() == 2)
  }

  test("clusterBalancedSelect: per-cluster quota, nearest-to-centroid first") {
    val model = KMeans.fit(blobs, k = 2, iters = 3)
    val sel = KMeans.clusterBalancedSelect(blobs, model, quota = 2)
      .select("vec_id", "cluster", "d2", "rank")
      .as[(Long, Long, Long, Long)].collect()
    // exactly quota rows per cluster, ranks 1..quota, d2 nondecreasing
    val byCluster = sel.groupBy(_._2)
    assert(byCluster.size == 2)
    byCluster.values.foreach { rs =>
      assert(rs.map(_._4).sorted.toSeq == Seq(1L, 2L))
      val ordered = rs.sortBy(_._4).map(_._3)
      assert(ordered.sliding(2).forall(p => p.head <= p.last))
    }
    // quota ≥ cluster size keeps everything
    assert(KMeans.clusterBalancedSelect(blobs, model, quota = 100).count() == 10)
  }

  test("fit is deterministic: two fits produce the identical model") {
    val m1 = KMeans.fit(blobs, k = 3, iters = 2)
    val m2 = KMeans.fit(blobs, k = 3, iters = 2)
    assert(m1.centroids.map { case (c, a) => (c, a.toSeq) } ==
      m2.centroids.map { case (c, a) => (c, a.toSeq) })
  }

  test("emptied clusters drop out of the model; assignment stays total") {
    // 3 seeds over data with only 2 distinct points: one seed's cluster
    // must empty after the first update
    val dup = Seq(
      (1L, Seq(1.0f, 1.0f)), (2L, Seq(1.0f, 1.0f)), (3L, Seq(1.0f, 1.0f)),
      (4L, Seq(-1.0f, -1.0f)), (5L, Seq(-1.0f, -1.0f))).toDF("vec_id", "embedding")
    val m = KMeans.fit(dup, k = 3, iters = 2)
    assert(m.centroids.size == 2)
    assert(KMeans.assign(dup, m).count() == 5)
  }

  test("assignment is a pure map: no exchange in the physical plan") {
    val m = KMeans.fit(blobs, k = 2, iters = 1)
    val plan = KMeans.assign(blobs, m).queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), s"unexpected shuffle:\n$plan")
  }

  test("kmeans IVF probe ranks only within the query's cluster") {
    val m = KMeans.fit(blobs, k = 2, iters = 3)
    val got = KMeans.ivfProbeTopK(blobs, m, col("vec_id") === 0, 3)
    val nids = rows(got.select("nid")).flatten.map(_.asInstanceOf[Long])
    // vec 0 is in the even-parity blob; every candidate comes from it
    assert(nids.nonEmpty && nids.forall(_ % 2 == 0))
    assert(rows(got.select("rank")).flatten == (1L to nids.size).toSeq)
  }

  test("semanticNearDups: pairs form only inside a cluster (same blob)") {
    val m = KMeans.fit(blobs, k = 2, iters = 3)
    val pairs = rows(KMeans.semanticNearDups(blobs, m, 0.9).select("id1", "id2"))
    assert(pairs.nonEmpty)
    // cross-blob cosine is ≈ −1, so every pair must share blob parity
    assert(pairs.forall(p =>
      (p(0).asInstanceOf[Long] - p(1).asInstanceOf[Long]) % 2 == 0))
  }

  test("null embeddings are excluded, not crashed on") {
    val withNull = blobs.union(Seq((99L, null: Seq[Float])).toDF("vec_id", "embedding"))
    assert(KMeans.assign(withNull, KMeans.fit(withNull, k = 2, iters = 2)).count() == 10)
  }

  test("kmeans|| seeding: lower inertia than hash seeds at equal iterations, bit-reproducible") {
    // one dominant blob + three tiny far-away blobs: uniform hash-ranked
    // seeds land in the big blob with high probability, while the
    // distance-weighted kmeans|| oversampling must reach the outliers
    val pts =
      (0 until 40).map(i => (i.toLong, Seq(0.001f * i, 0.0f, 0.0f, 0.0f))) ++
      Seq((100L, Seq(10f, 10f, 10f, 10f)), (101L, Seq(10f, 10f, 10f, 10.01f)),
          (200L, Seq(-10f, 10f, -10f, 10f)), (201L, Seq(-10f, 10f, -10f, 10.01f)),
          (300L, Seq(10f, -10f, 10f, -10f)), (301L, Seq(10f, -10f, 10f, -10.01f)))
    val df = pts.toDF("vec_id", "embedding")
    val simple = KMeans.fit(df, k = 4, iters = 2)
    val par = KMeans.fitParallel(df, k = 4, iters = 2)
    val (iSimple, iPar) = (KMeans.inertia(df, simple), KMeans.inertia(df, par))
    assert(iPar < iSimple, s"kmeans|| inertia $iPar not below hash-seed inertia $iSimple")
    // bit-reproducible: a rerun yields the identical model
    val par2 = KMeans.fitParallel(df, k = 4, iters = 2)
    assert(par.centroids.map { case (c, a) => (c, a.toSeq) } ==
      par2.centroids.map { case (c, a) => (c, a.toSeq) })
  }

  test("updateModel: zero-weight refresh ≡ one more Lloyd iteration") {
    // with every stored weight 0 the weighted merge degenerates to the
    // plain grid mean over the batch — i.e. exactly the Lloyd update fit
    // would run next. fit(iters=3) must therefore equal fit(iters=2)
    // incrementally refreshed with the full corpus at zero weights.
    val m2 = KMeans.fit(blobs, k = 2, iters = 2)
    val direct = KMeans.fit(blobs, k = 2, iters = 3)
    val incr = KMeans.updateModel(blobs, m2, weights = Map.empty)
    assert(incr.centroids.map { case (c, a) => (c, a.toSeq) } ==
      direct.centroids.map { case (c, a) => (c, a.toSeq) })
  }

  test("updateModel: clusters the batch misses keep their centroids exactly") {
    val m = KMeans.fit(blobs, k = 2, iters = 2)
    val w = KMeans.clusterWeights(blobs, m)
    // a NEW batch far inside positive territory: assigns to the positive
    // cluster only, and is distant enough that the damped merge must move it
    val batch = (0 until 4).map(i => (100L + i, Seq(3.0f, 3.0f, 3.0f, 3.0f)))
      .toDF("vec_id", "embedding")
    val batchClusters = KMeans.assign(batch, m)
      .select("cluster").distinct().as[Long].collect().toSet
    val updated = KMeans.updateModel(batch, m, w)
    val untouched = m.centroids.filterNot(c => batchClusters(c._1.toLong))
    assert(untouched.nonEmpty)
    untouched.foreach { case (cid, c) =>
      assert(updated.centroids.toMap.apply(cid).toSeq == c.toSeq)
    }
    // touched clusters moved toward the batch (weights make it damped, not frozen)
    val touched = m.centroids.filter(c => batchClusters(c._1.toLong))
    assert(touched.exists { case (cid, c) =>
      updated.centroids.toMap.apply(cid).toSeq != c.toSeq })
  }

  test("model round-trips through the catalog bit-exactly; stored assign ≡ live assign") {
    val cat = new graft.catalog.Catalog(spark,
      tempDir("graft-km-model").toString)
    val m = KMeans.fit(blobs, k = 3, iters = 2)
    KMeans.saveModel(cat, "km", spark, m)
    val loaded = KMeans.loadModel(cat, "km")
    assert(loaded.centroids.map { case (c, a) => (c, a.toSeq) } ==
      m.centroids.map { case (c, a) => (c, a.toSeq) })
    assert(rows(KMeans.assign(blobs, loaded).orderBy("vec_id")) ==
      rows(KMeans.assign(blobs, m).orderBy("vec_id")))
    // a re-fit writes a NEW version; rollback restores the previous model
    KMeans.saveModel(cat, "km", spark, KMeans.fit(blobs, k = 2, iters = 1))
    assert(KMeans.loadModel(cat, "km").centroids.size == 2)
    cat.rollback("km", cat.versions("km").head)
    assert(KMeans.loadModel(cat, "km").centroids.map(_._1) == m.centroids.map(_._1))
  }
  test("silhouette: blob members are well-separated, agree with assign, invariants hold") {
    val model = KMeans.fit(blobs, k = 2, iters = 3)
    val sil = KMeans.silhouette(blobs, model)
      .select("vec_id", "cluster", "a2", "b2", "sil")
      .as[(Long, Long, Long, Long, Double)].collect().sortBy(_._1)
    assert(sil.length == 10)
    // cluster column equals assign's argmin
    val assigned = KMeans.assign(blobs, model)
      .as[(Long, Long)].collect().toMap
    sil.foreach { case (id, c, a2, b2, s) =>
      assert(c == assigned(id))
      assert(a2 >= 0 && b2 >= a2, s"a2=$a2 b2=$b2")
      assert(s >= 0.0 && s <= 1.0)
      assert(b2 == 0 || math.abs(s - (b2 - a2).toDouble / b2) == 0.0)
    }
    // two tight blobs straddling the origin: every point far closer to its
    // own centroid than the opposite one
    assert(sil.forall(_._5 > 0.9), sil.mkString(","))
    // a boundary point (the origin) scores ~0 against the same model
    val boundary = Seq((99L, Seq(0.0f, 0.0f, 0.0f, 0.0f)))
      .toDF("vec_id", "embedding")
    val b = KMeans.silhouette(boundary, model).select("sil").as[Double].head()
    assert(b < 0.1, s"boundary sil $b")
  }
}
