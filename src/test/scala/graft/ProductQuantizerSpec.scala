package graft

import org.apache.spark.sql.functions._
import graft.operators.{ProductQuantizer => PQ, VectorSearch}

class ProductQuantizerSpec extends SparkSpec {
  import spark.implicits._

  /** Four well-separated blobs in 8-d (axis-aligned corners of the first
    * and second 4-d half-spaces), 6 points each with tiny jitter — PQ with
    * m=2 codebooks of 4 centroids can represent each blob near-exactly. */
  private def blobs = (0 until 24).map { i =>
    val b = i % 4
    val j = 0.01f * (i / 4)
    val lo = if (b % 2 == 0) 1.0f else -1.0f
    val hi = if (b / 2 == 0) 1.0f else -1.0f
    (i.toLong, Seq(lo + j, lo, lo - j, lo, hi, hi + j, hi, hi - j))
  }.toDF("vec_id", "embedding")

  test("mineBitextExact: margin accepts clear matches, rejects ambiguous ones") {
    import graft.operators.VectorSearch
    // src 1 matches tgt 10 clearly (tgt 11 is distant); src 2 sits between
    // two near-identical targets -> margin rejects; src 3 has a negative
    // runner-up -> auto-accept branch.
    val src = Seq(
      (1L, Seq(1.0f, 0.0f)),
      (2L, Seq(0.0f, 1.0f)),
      (3L, Seq(-1.0f, 0.1f))).toDF("vec_id", "embedding")
    val tgt = Seq(
      (10L, Seq(0.9f, 0.1f)),
      (11L, Seq(0.1f, 0.9f)),
      (12L, Seq(0.11f, 0.91f)),
      (13L, Seq(-0.9f, 0.0f))).toDF("vec_id", "embedding")
    val got = VectorSearch.mineBitextExact(src, tgt)
      .select("src_id", "tgt_id", "accepted")
      .as[(Long, Long, Boolean)].collect().sortBy(_._1)
    assert(got.map(r => (r._1, r._2)).toSeq == Seq((1L, 10L), (2L, 12L), (3L, 13L)))
    assert(got.map(_._3).toSeq == Seq(true, false, true))
  }

  test("mineBitextIvf: equals a per-bucket replay of the exact margin miner") {
    // 8 src x 10 tgt in 2-d; numPlanes=1 splits both sides into two
    // half-space buckets of the first deterministic hyperplane. Expected
    // result computed here in plain Scala: bucket both sides with the SAME
    // plane, per-src top-2 by quantized dot within the bucket, margin rule.
    val srcRows = (0 until 8).map(i =>
      (i.toLong, Seq(math.cos(i * 0.8).toFloat, math.sin(i * 0.8).toFloat)))
    val tgtRows = (0 until 10).map(i =>
      (100L + i, Seq(math.cos(i * 0.63 + 0.3).toFloat, math.sin(i * 0.63 + 0.3).toFloat)))
    val src = srcRows.toDF("vec_id", "embedding")
    val tgt = tgtRows.toDF("vec_id", "embedding")
    val pl = VectorSearch.planes(1, 2)(0)
    def q(v: Seq[Float]): Seq[Long] = v.map(x => math.round(x.toDouble * 10000))
    def bucket(v: Seq[Float]): Long =
      if (q(v).zip(pl).map { case (x, w) => x * w }.sum >= 0) 1L else 0L
    val expected = srcRows.flatMap { case (sid, sv) =>
      val cands = tgtRows.filter { case (_, tv) => bucket(tv) == bucket(sv) }
        .map { case (tid, tv) => (tid, q(sv).zip(q(tv)).map { case (a, b) => a * b }.sum) }
        .sortBy { case (tid, dp) => (-dp, tid) }.take(2)
      cands match {
        case Seq() => None
        case best +: rest =>
          val s2 = rest.headOption.map(_._2)
          val acc = best._2 > 0 &&
            (s2.forall(_ <= 0) || s2.forall(v => best._2 * 1000000L >= 1050000L * v))
          Some((sid, best._1, best._2, s2, acc))
      }
    }.sortBy(_._1)
    val got = VectorSearch.mineBitextIvf(src, tgt, numPlanes = 1, dim = 2)
      .as[(Long, Long, Long, Option[Long], Boolean)].collect().sortBy(_._1).toSeq
    assert(got == expected)
    // in-bucket best can never beat the global best
    val globalBest = VectorSearch.mineBitextExact(src, tgt)
      .select("src_id", "s1").as[(Long, Long)].collect().toMap
    got.foreach { case (sid, _, s1, _, _) => assert(s1 <= globalBest(sid)) }
  }

  test("encode: m codes per vector, each a live codebook cluster id") {
    val model = PQ.fit(blobs, m = 2, ksub = 4, iters = 2, dim = 8)
    assert(model.m == 2 && model.subDim == 4)
    val enc = rows(PQ.encode(blobs, model).select("codes"))
    assert(enc.size == 24)
    enc.foreach { case Seq(codes: scala.collection.Seq[_]) =>
      assert(codes.size == 2)
      codes.asInstanceOf[scala.collection.Seq[Long]].zipWithIndex.foreach {
        case (c, j) =>
          assert(model.books(j).centroids.exists(_._1.toLong == c),
            s"code $c not a centroid id of book $j")
      }
    }
  }

  test("adc top-k on separable blobs matches exact brute-force top-k") {
    val model = PQ.fit(blobs, m = 2, ksub = 4, iters = 3, dim = 8)
    val adc = PQ.adcTopK(blobs, model, col("vec_id") < 4, 5)
      .select("qid", "nid").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val exact = VectorSearch.bruteForceTopK(blobs, col("vec_id") < 4, 5)
      .select("qid", "nid").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // with per-blob codebook coverage the compressed ranking recovers the
    // exact neighbor set (same-blob points are ADC-indistinguishable but
    // rank ties break identically on nid in both paths)
    assert(adc == exact)
  }

  test("model round-trip through the catalog changes no code and no rank") {
    val model = PQ.fit(blobs, m = 2, ksub = 4, iters = 2, dim = 8)
    val root = tempDir("pq-spec").toString
    val cat = new graft.catalog.Catalog(spark, root)
    PQ.saveModel(cat, "pq", spark, model)
    val loaded = PQ.loadModel(cat, "pq")
    assert(loaded.subDim == model.subDim && loaded.m == model.m)
    loaded.books.zip(model.books).foreach { case (a, b) =>
      assert(a.centroids.map(_._1) == b.centroids.map(_._1))
      a.centroids.zip(b.centroids).foreach { case ((_, ca), (_, cb)) =>
        assert(ca.toSeq == cb.toSeq)
      }
    }
    // stored codes slot into adcTopK unchanged
    cat.write("codes", PQ.encode(blobs, model))
    val fresh = rows(PQ.adcTopK(blobs, model, col("vec_id") < 4, 5)
      .orderBy("qid", "rank"))
    val stored = rows(PQ.adcTopK(blobs, loaded, col("vec_id") < 4, 5,
      encoded = cat.read("codes")).orderBy("qid", "rank"))
    assert(fresh == stored)
  }

  test("ivfpq: probes only the query's inverted list, scores like plain ADC") {
    val coarse = graft.operators.KMeans.fit(blobs, k = 4, iters = 3)
    val model = PQ.fit(blobs, m = 2, ksub = 4, iters = 2, dim = 8)
    val probe = PQ.ivfpqProbeTopK(blobs, coarse, model, col("vec_id") < 4, 3)
    val buckets = graft.operators.KMeans.assign(blobs, coarse)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val got = probe.collect()
    assert(got.nonEmpty)
    // every returned neighbor shares the query's coarse bucket
    got.foreach(r => assert(buckets(r.getLong(0)) == buckets(r.getLong(1))))
    // sims agree with the unpruned ADC ranking for the same (qid, nid) pairs
    val full = PQ.adcTopK(blobs, model, col("vec_id") < 4, 24)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    got.foreach(r => assert(full((r.getLong(0), r.getLong(1))) == r.getDouble(2)))
    // the probe is an equi-join on bucket, never a nested loop over the corpus
    val plan = probe.queryExecution.executedPlan.toString
    assert(!plan.contains("BroadcastNestedLoopJoin") && !plan.contains("CartesianProduct"))
    // multi-probe covering EVERY bucket ≡ the unpruned global ADC ranking
    val nBuckets = coarse.centroids.size
    val allProbe = rows(PQ.ivfpqProbeTopK(blobs, coarse, model,
      col("vec_id") < 4, 5, nProbe = nBuckets).orderBy("qid", "rank"))
    val unpruned = rows(PQ.adcTopK(blobs, model, col("vec_id") < 4, 5)
      .orderBy("qid", "rank"))
    assert(allProbe == unpruned)
  }

  test("residual codebooks approximate true sims better than raw-vector ones") {
    val emb = spark.read.parquet(s"$sf0001/embeddings.parquet")
    val coarse = graft.operators.KMeans.fit(emb, k = 8, iters = 2)
    val plain = PQ.fit(emb, m = 4, ksub = 8, iters = 2, dim = 64)
    val resid = PQ.fitResidual(emb, coarse, m = 4, ksub = 8, iters = 2, dim = 64)
    val pred = col("vec_id") < 10
    def sims(df: org.apache.spark.sql.DataFrame): Map[(Long, Long), Double] =
      df.collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    val exact = sims(VectorSearch.bruteForceTopK(emb, pred, 600))
    val p = sims(PQ.ivfpqProbeTopK(emb, coarse, plain, pred, 600))
    val r = sims(PQ.ivfpqResidualProbeTopK(emb, coarse, resid, pred, 600))
    assert(p.keySet == r.keySet && p.nonEmpty) // same bucket-pruned candidates
    def meanErr(est: Map[(Long, Long), Double]) =
      est.map { case (k, v) => math.abs(v - exact(k)) }.sum / est.size
    val (pe, re) = (meanErr(p), meanErr(r))
    // residuals concentrate near zero, so the same ksub centroids resolve
    // finer structure — reconstruction error must drop, and materially so
    assert(re < pe, s"residual err $re not below plain err $pe")
  }

  test("two-stage rerank: exact sims on the shortlist, shortlist-bounded") {
    val model = PQ.fit(blobs, m = 2, ksub = 4, iters = 2, dim = 8)
    val got = PQ.adcShortlistRerank(blobs, model, col("vec_id") < 4,
      shortlist = 10, k = 3).collect()
    assert(got.nonEmpty)
    val exact = graft.operators.VectorSearch.bruteForceTopK(blobs, col("vec_id") < 4, 23)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    // re-ranked sims are the EXACT full-precision cosines, not ADC estimates
    got.foreach(r => assert(exact((r.getLong(0), r.getLong(1))) == r.getDouble(2)))
    val sl = PQ.adcTopK(blobs, model, col("vec_id") < 4, 10)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    got.foreach(r => assert(sl((r.getLong(0), r.getLong(1)))))
    // a shortlist smaller than k is refused
    intercept[IllegalArgumentException](
      PQ.adcShortlistRerank(blobs, model, col("vec_id") < 4, 2, 5))
  }

  test("fit refuses a dimension not divisible into m subspaces") {
    val e = intercept[IllegalArgumentException] {
      PQ.fit(blobs, m = 3, ksub = 2, dim = 8)
    }
    assert(e.getMessage.contains("not divisible"))
  }
}
