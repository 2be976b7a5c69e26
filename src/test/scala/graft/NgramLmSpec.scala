package graft

import org.apache.spark.sql.functions._
import graft.operators.{NgramLm, QualityFilter, Trend}

/** Model-based curation tier: bigram-LM cross-entropy, DSIR importance
  * weights, token entropy, and the exact-integer sequence statistics
  * (EWMA, least-squares trend). Values are checked against independent
  * in-JVM recomputations of the published formulas. */
class NgramLmSpec extends SparkSpec {
  import spark.implicits._

  private val micro = NgramLm.MicroScale

  test("crossEntropy: hand-checked bigram NLL on a 2-doc corpus") {
    // Train on doc 0 only: "a b a b" → bigrams (a,b),(b,a),(a,b);
    // c(a,b)=2, c(b,a)=1, c(a)=2, c(b)=1, V=2.
    val docs = Seq((0L, "a b a b"), (1L, "a b c")).toDF("doc_id", "text")
    val model = NgramLm.trainBigram(docs.filter($"doc_id" === 0))
    assert(model.vocabSize == 2)

    val got = NgramLm.crossEntropy(docs, model).orderBy("doc_id")
      .select("doc_id", "n_bigrams", "nll_micro").as[(Long, Long, Long)].collect()

    def lp(c12: Long, c1: Long): Long =
      math.round(math.log((c12 + 1.0) / (c1 + 2.0)) * micro)
    // doc 0: (a,b) twice + (b,a) once
    val nll0 = -(2 * lp(2, 2) + lp(1, 1))
    // doc 1: (a,b) seen, (b,c) unseen pair with seen context b
    val nll1 = -(lp(2, 2) + lp(0, 1))
    assert(got.toSeq == Seq((0L, 3L, nll0), (1L, 2L, nll1)))
  }

  test("crossEntropy: unseen context degrades to 1/V; short docs score NULL") {
    val docs = Seq((0L, "a b"), (1L, "z q"), (2L, "solo")).toDF("doc_id", "text")
    val model = NgramLm.trainBigram(docs.filter($"doc_id" === 0))
    val got = NgramLm.crossEntropy(docs, model).orderBy("doc_id").collect()
    // doc 1: both z,q unseen → p = 1/V = 1/2 per bigram
    val lpFloor = math.round(math.log(1.0 / 2.0) * micro)
    assert(got(1).getLong(2) == -lpFloor)
    // doc 2: no bigrams → n_bigrams 0, NULL nll/xent
    assert(got(2).getLong(1) == 0L && got(2).isNullAt(2) && got(2).isNullAt(3))
  }

  test("perplexityGate: gibberish scores above fluent text and is rejected") {
    val fluent = (0L until 20L).map(i => (i, "the cat sat on the mat and the dog sat on the rug"))
    val weird = Seq((100L, "zxq qxz vbn nbv plm mlp zxq qxz vbn nbv plm mlp"))
    val docs = (fluent ++ weird).toDF("doc_id", "text")
    val gated = NgramLm.perplexityGate(docs, docs.filter($"doc_id" < 20), quantile = 0.9)
    val byId = gated.select("doc_id", "keep").as[(Long, Boolean)].collect().toMap
    assert(!byId(100L), "the unseen-vocab doc must fall above the P90 cutoff")
    assert(byId(0L), "in-distribution docs must pass")
  }

  test("perplexityBuckets: per-group terciles, ordered buckets, NULL for unscoreable") {
    // lang en: 6 scoreable docs with increasing surprise; lang xx: 3 docs.
    // a pooled cutoff would dump all of xx into tail — per-group must not.
    val en = (0L until 6L).map { i =>
      val tail = Seq.fill(i.toInt)("zxq" + i).mkString(" ")
      (i, "en", s"the cat sat on the mat $tail".trim)
    }
    val xx = Seq((10L, "xx", "uno dos tres uno dos"),
      (11L, "xx", "uno dos tres cuatro"), (12L, "xx", "uno tres dos plq"))
    val short = Seq((20L, "en", "solo")) // 1 token: no bigrams → NULL bucket
    val docs = (en ++ xx ++ short).toDF("doc_id", "lang", "text")
    val b = NgramLm.perplexityBuckets(docs, docs.filter($"doc_id" % 2 === 0), "lang")
      .collect().map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[String]("lang"), Option(r.getAs[String]("bucket")),
          r.getAs[Double]("xent_nats")))).toMap
    assert(b(20L)._2.isEmpty, "unscoreable doc buckets NULL")
    // each lang has head docs: per-group cutoffs, not pooled
    for (lang <- Seq("en", "xx"))
      assert(b.values.exists(v => v._1 == lang && v._2.contains("head")),
        s"$lang must have a head bucket under per-group cutoffs")
    // bucket order respects xent order within each lang
    val rank = Map("head" -> 0, "middle" -> 1, "tail" -> 2)
    for (lang <- Seq("en", "xx")) {
      val scored = b.values.filter(v => v._1 == lang && v._2.nonEmpty).toSeq
      for (a <- scored; c <- scored if a._3 < c._3)
        assert(rank(a._2.get) <= rank(c._2.get),
          s"$lang: lower xent must never land in a later bucket")
    }
    // tercile sizes: en has 7 docs, 6 scoreable → head = docs with
    // xent <= 2nd smallest (ceil(6/3)=2)
    val enScored = b.values.filter(v => v._1 == "en" && v._2.nonEmpty)
    assert(enScored.count(_._2.contains("head")) == 2)
  }

  test("dsirWeights: target-like docs weigh higher than off-target docs") {
    val target = (0L until 10L).map(i => (i, "alpha beta gamma alpha beta"))
    val off = (100L until 110L).map(i => (i, "uno dos tres cuatro cinco"))
    val docs = (target ++ off).toDF("doc_id", "text")
    val w = NgramLm.dsirWeights(docs, docs.filter($"doc_id" < 10), dim = 64)
      .select("doc_id", "weight_micro").as[(Long, Long)].collect().toMap
    assert(w(0L) > w(100L),
      s"target doc weight ${w(0L)} must exceed off-target ${w(100L)}")
  }

  test("skipGramPairs: window clips at boundaries; counts match brute force") {
    val docs = Seq((0L, "a b c d"), (1L, "x"), (2L, "p q")).toDF("doc_id", "text")
    val got = NgramLm.skipGramPairs(docs, window = 2)
      .as[(String, String, Long)].collect()
      .map { case (c, x, n) => (c, x) -> n }.toMap
    // brute-force reference over each doc's token positions
    val ref = Seq("a b c d", "x", "p q").flatMap { t =>
      val tk = t.split(" ", -1)
      if (tk.length < 2) Nil
      else for {
        i <- tk.indices; j <- tk.indices
        if j != i && math.abs(j - i) <= 2
      } yield (tk(i), tk(j))
    }.groupBy(identity).map { case (p, xs) => p -> xs.size.toLong }
    assert(got == ref)
    // "a" sees b (d=1) and c (d=2) but NOT d (d=3)
    assert(got.contains(("a", "c")) && !got.contains(("a", "d")))
    intercept[IllegalArgumentException](NgramLm.skipGramPairs(docs, window = 0))
  }

  test("tokenEntropy: all-distinct doc ≈ ln(N); constant doc = 0") {
    val docs = Seq((0L, "a b c d"), (1L, "x x x x")).toDF("doc_id", "text")
    val got = QualityFilter.tokenEntropy(docs).orderBy("doc_id")
      .select("doc_id", "n_tokens", "n_distinct", "entropy_nats")
      .as[(Long, Long, Long, Double)].collect()
    assert(got(0)._4 == math.round(math.log(4.0) * micro).toDouble / micro)
    assert(got(0)._3 == 4L)
    assert(got(1)._4 == 0.0 && got(1)._3 == 1L)
  }

  test("interArrivalBuckets: integer log2 buckets, per-key gaps, zero-gap edge") {
    // user 7 gaps: 1 (bucket 1), 7 (bucket 3), 0 (bucket 1: bin(0)='0');
    // user 8 contributes no gap (single event)
    val ev = Seq((1L, 7L, 10L), (2L, 7L, 11L), (3L, 7L, 18L), (4L, 7L, 18L),
      (5L, 8L, 99L)).toDF("event_id", "user_id", "ts_us")
    val got = Trend.interArrivalBuckets(ev, "user_id", "ts_us", "event_id")
      .select("bucket", "n_gaps", "min_gap", "max_gap")
      .as[(Long, Long, Long, Long)].collect().sortBy(_._1)
    assert(got.toSeq == Seq((1L, 2L, 0L, 1L), (3L, 1L, 7L, 7L)))
  }

  test("dowProfile: epoch-day arithmetic pins Monday=0; shares sum to 1 per key") {
    // epoch day 0 (1970-01-01) was a THURSDAY → dow 3; day 4 = Monday → 0
    val us = 86400000000L
    val ev = Seq(("a", 0L * us), ("a", 4L * us), ("a", 4L * us + 5L), ("b", 11L * us))
      .toDF("k", "ts_us")
    val got = Trend.dowProfile(ev, "k", "ts_us")
      .select("k", "dow", "n_events", "key_total", "share")
      .as[(String, Long, Long, Long, Double)].collect().sortBy(r => (r._1, r._2))
    assert(got.toSeq == Seq(
      ("a", 0L, 2L, 3L, 2.0 / 3.0), // day 4 + same-day event: Monday
      ("a", 3L, 1L, 3L, 1.0 / 3.0), // day 0: Thursday
      ("b", 0L, 1L, 1L, 1.0)))      // day 11 = Monday again
  }

  test("ewmaHalf matches the renormalized EWMA recurrence per key") {
    val ev = Seq(
      (1L, 7L, 10L, 1.00), (2L, 7L, 20L, 2.00), (3L, 7L, 30L, 4.00),
      (4L, 8L, 10L, 10.00))
      .toDF("event_id", "user_id", "ts_us", "value")
    val got = Trend.ewmaHalf(ev, "user_id", Seq("ts_us", "event_id"),
        round(col("value") * 100, 0).cast("long"), window = 16)
      .select("event_id", "ewma").as[(Long, Double)].collect().toMap
    // Renormalized α=1/2 EWMA over full history (<16 events): weights 2^k.
    assert(got(1L) == 1.00)
    assert(got(2L) == (2 * 200 + 100).toDouble / (3 * 100)) // (2y2+y1)/3
    assert(got(3L) == (4 * 400 + 2 * 200 + 100).toDouble / (7 * 100))
    assert(got(4L) == 10.00)
  }

  test("ewmaHalf truncates at the window edge (frame, not full history)") {
    val ev = (1L to 5L).map(i => (i, 1L, i * 10, 100.0 * i))
      .toDF("event_id", "user_id", "ts_us", "value")
    val got = Trend.ewmaHalf(ev, "user_id", Seq("ts_us", "event_id"),
        round(col("value") * 100, 0).cast("long"), window = 2)
      .select("event_id", "ewma").as[(Long, Double)].collect().toMap
    // window=2: ewma_n = (2·x_n + x_{n−1}) / 3
    assert(got(5L) == (2 * 500 + 400).toDouble / 3)
  }

  test("linearTrend recovers an exact line and nulls degenerate keys") {
    // user 1: y = 300 + 50·x exactly; user 2: single point.
    val ev = (0L until 10L).map(i => (i, 1L, i * 10, (300 + 50 * i) / 100.0)) :+
      (99L, 2L, 0L, 1.23)
    val got = Trend.linearTrend(ev.toDF("event_id", "user_id", "ts_us", "value"),
        "user_id", Seq("ts_us", "event_id"), round(col("value") * 100, 0).cast("long"))
      .orderBy("user_id").collect()
    assert(got(0).getDouble(got(0).fieldIndex("slope_cents")) == 50.0)
    assert(got(0).getDouble(got(0).fieldIndex("intercept_cents")) == 300.0)
    assert(got(1).isNullAt(got(1).fieldIndex("slope_cents")))
  }

  test("rollingSlope: local fits catch a reversal; warmup NULL; shift-invariance") {
    // 12 points: rises +40/step for 8 steps, then falls -40/step — the
    // whole-series fit smears this; the trailing-8 local fit flips sign.
    val ys = (0 until 8).map(i => 40L * i) ++ (1 to 4).map(i => 280L - 40L * i)
    val ev = ys.zipWithIndex.map { case (y, i) =>
      (i.toLong, 1L, i.toLong * 10, y / 100.0) }
    val got = Trend.rollingSlope(ev.toDF("event_id", "user_id", "ts_us", "value"),
        "user_id", Seq("ts_us", "event_id"),
        round(col("value") * 100, 0).cast("long"), w = 8)
      .orderBy("pos").collect()
    val slopes = got.map(r =>
      if (r.isNullAt(r.fieldIndex("slope_fp"))) None
      else Some(r.getLong(r.fieldIndex("slope_fp"))))
    // positions 0..6: window not full → NULL
    assert(slopes.take(7).forall(_.isEmpty))
    // position 7: pure rise → slope exactly +40 (40e6 micro)
    assert(slopes(7).contains(40L * 1000000))
    // the local fit goes NEGATIVE well before the end
    assert(slopes.last.exists(_ < 0L), s"local reversal missed: ${slopes.last}")
    // shift-invariance: dropping the first row leaves later fits identical
    // (global x shifts by 1; the slope must not change)
    val shifted = Trend.rollingSlope(
        ev.drop(1).toDF("event_id", "user_id", "ts_us", "value"),
        "user_id", Seq("ts_us", "event_id"),
        round(col("value") * 100, 0).cast("long"), w = 8)
      .orderBy("pos").collect()
      .map(r => if (r.isNullAt(r.fieldIndex("slope_fp"))) None
                else Some(r.getLong(r.fieldIndex("slope_fp"))))
    assert(shifted.last == slopes.last)
  }

  test("binarySignature packs sign bits into 32-bit words; Hamming shortlist finds the near-dup") {
    import graft.operators.VectorSearch
    // 64-dim vector: positives exactly at dims 1 and 33 (1-based) → word0
    // bit0, word1 bit0
    val v = Array.tabulate(64)(i => if (i == 0 || i == 32) 1.0f else -1.0f)
    val df = Seq((0L, v.toSeq)).toDF("vec_id", "embedding")
    val sig = df.select(VectorSearch.binarySignature("embedding", 64).as("s"))
      .head().getSeq[Long](0)
    assert(sig == Seq(1L, 1L))
    // planted near-identical vector must Hamming-shortlist and re-rank #1
    val base = Array.tabulate(64)(i => math.sin(i + 1).toFloat)
    val near = base.clone(); near(5) = near(5) + 0.01f // same signs
    val far = Array.tabulate(64)(i => math.cos(3 * i + 2).toFloat)
    val emb = Seq((0L, base.toSeq), (1L, near.toSeq), (2L, far.toSeq),
      (3L, base.map(-_).toSeq)).toDF("vec_id", "embedding")
    val got = VectorSearch.binaryHammingTopK(emb, col("vec_id") === 0, 3, 1)
      .select("nid", "hamming").as[(Long, Long)].collect()
    assert(got.head._1 == 1L && got.head._2 == 0L,
      s"same-sign near-dup must rank first at Hamming 0: ${got.toSeq}")
  }

  test("per-language LM: minority-language docs score fluent under their own model") {
    // French docs are a minority; a pooled model would make them
    // high-xent, the per-lang model must not.
    val en = (0L until 20L).map(i => (i, "the cat sat on the mat again and again", "en"))
    val fr = (100L until 106L).map(i => (i, "le chat dort sur le tapis encore et encore", "fr"))
    val docs = (en ++ fr).toDF("doc_id", "text", "lang")
    val grouped = NgramLm.crossEntropyGrouped(docs,
      NgramLm.trainBigramGrouped(docs, "lang"), "lang")
      .select("doc_id", "xent_nats").as[(Long, Double)].collect().toMap
    val pooled = NgramLm.crossEntropy(docs, NgramLm.trainBigram(docs))
      .select("doc_id", "xent_nats").as[(Long, Double)].collect().toMap
    assert(grouped(100L) < pooled(100L),
      s"own-language model must score French lower-xent than the pooled model: " +
        s"grouped ${grouped(100L)} pooled ${pooled(100L)}")
    // unseen group scores NULL, not a fake 1/V
    val unseen = NgramLm.crossEntropyGrouped(
      Seq((999L, "hola mundo bueno", "es")).toDF("doc_id", "text", "lang"),
      NgramLm.trainBigramGrouped(docs, "lang"), "lang").collect().head
    assert(unseen.isNullAt(unseen.fieldIndex("nll_micro")))
  }

  test("pmiCollocations: an exclusive pair outranks a frequent independent pair") {
    // "san francisco" always co-occur (exclusive); "the dog" share "the"
    // with many other pairs → lower PMI despite equal pair count.
    val docs = (1L to 6L).map(i =>
      (i, "san francisco is great and the dog and the cat and the bird")).toDF("doc_id", "text")
    val got = NgramLm.pmiCollocations(docs, minCount = 5, k = 10)
      .select("w1", "w2", "rank").as[(String, String, Long)].collect()
      .map(r => (r._1, r._2) -> r._3).toMap
    assert(got(("san", "francisco")) < got(("the", "dog")),
      s"exclusive pair must outrank the common-word pair: $got")
  }

  test("lm model round-trips through the catalog with identical scores") {
    val cat = new graft.catalog.Catalog(spark,
      tempDir("graft-lm-spec").toString)
    val docs = Seq((0L, "a b a b c a"), (1L, "b c a b"), (2L, "q z q"))
      .toDF("doc_id", "text")
    val model = NgramLm.trainBigram(docs)
    NgramLm.saveModel(cat, "m", model)
    val direct = rows(NgramLm.crossEntropy(docs, model).orderBy("doc_id"))
    val stored = rows(NgramLm.crossEntropy(docs, NgramLm.loadModel(cat, "m"))
      .orderBy("doc_id"))
    assert(direct == stored)
  }

  test("psiDrift: identical halves ≈ 0, shifted distribution well above") {
    // bucket on i/2 so the even/odd event_id halves see the SAME bucket
    // sequence (plain i%10 would give the halves disjoint buckets)
    val same = (1L to 400L).map(i => ("a", i, (i / 2) % 10))
    val shifted = (1L to 400L).map(i =>
      ("b", i, if (i % 2 == 0) (i / 2) % 10 else (i / 2) % 3)) // odd half squeezed low
    val df = (same ++ shifted).toDF("g", "event_id", "bucket")
    val psi = graft.operators.Anomaly.psiDrift(
        df.filter($"event_id" % 2 === 0), df.filter($"event_id" % 2 === 1),
        "g", "bucket")
      .select("g", "psi").as[(String, Double)].collect().toMap
    assert(math.abs(psi("a")) < 0.01, s"uniform halves must be stable: ${psi("a")}")
    assert(psi("b") > 0.25, s"shifted halves must flag: ${psi("b")}")
  }

  test("ksDrift: identical samples 0, disjoint samples 1, hand case exact") {
    val a = (1L to 100L).toDF("v")
    // identical distributions → every cum difference is 0
    val same = graft.operators.Anomaly.ksDrift(a, a, "v")
      .select("n_ref", "n_cur", "ks_num", "ks")
      .as[(Long, Long, Long, Double)].head()
    assert(same == ((100L, 100L, 0L, 0.0)))
    // disjoint supports → at the ref's max value F_ref=1, F_cur=0 → KS=1
    val b = (1001L to 1100L).toDF("v")
    assert(graft.operators.Anomaly.ksDrift(a, b, "v")
      .select("ks").as[Double].head() == 1.0)
    // hand case: ref {1,2,3,4}, cur {3,4,5,6} — at v=2: |2·4 − 0·4| = 8,
    // KS = 8/16 = 0.5; ties and the inclusive CDF both exercised
    val r = Seq(1L, 2L, 3L, 4L).toDF("v")
    val c = Seq(3L, 4L, 5L, 6L).toDF("v")
    val got = graft.operators.Anomaly.ksDrift(r, c, "v")
      .select("n_ref", "n_cur", "ks_num", "ks")
      .as[(Long, Long, Long, Double)].head()
    assert(got == ((4L, 4L, 8L, 0.5)))
    // values spanning bucket boundaries (negative + >2^20) agree with the
    // same statistic computed from a tiny shift — prefix device is
    // bucket-transparent
    val wide = Seq(-5000000L, -1L, 0L, 3000000L).toDF("v")
    val wide2 = Seq(-5000000L, 0L, 0L, 9000000L).toDF("v")
    val ks1 = graft.operators.Anomaly.ksDrift(wide, wide2, "v")
      .select("ks_num").as[Long].head()
    assert(ks1 == 4L) // at v=-1: |2·4 − 1·4| = 4
  }

  test("domainExcessWeights: hard domain gets the excess mass, easy one the uniform floor") {
    // train on the repetitive domain-A text; domain B is unseen-bigram soup
    // → avg(B) > ref > avg(A) → excess(A)=0, excess(B)=total_excess
    // → weight(B) = 900000 + 50000, weight(A) = 0 + 50000
    val docs = Seq((0L, "a b a b a b", "A"), (2L, "a b a b", "A"),
      (1L, "q z q y x w", "B"), (3L, "m n o p q r", "B"))
      .toDF("doc_id", "text", "lang")
    val model = NgramLm.trainBigram(docs.filter($"doc_id" % 2 === 0))
    val w = NgramLm.domainExcessWeights(docs, model, "lang")
      .select("lang", "excess_micro", "weight_ppm")
      .as[(String, Long, Long)].collect().map(t => t._1 -> (t._2, t._3)).toMap
    assert(w("A")._1 == 0L, s"easy domain must carry zero excess: $w")
    assert(w("B")._1 > 0L)
    assert(w("A")._2 == 100000L / 2)
    assert(w("B")._2 == 900000L + 100000L / 2)
    // weights sum to ~1e6 (truncation may shave ulps, never exceed)
    assert(w.values.map(_._2).sum <= 1000000L)
  }

  test("domainExcessWeights: single domain falls back to uniform") {
    val docs = Seq((0L, "a b c", "A"), (1L, "a c b", "A")).toDF("doc_id", "text", "lang")
    val model = NgramLm.trainBigram(docs.filter($"doc_id" % 2 === 0))
    val w = NgramLm.domainExcessWeights(docs, model, "lang")
      .select("lang", "weight_ppm").as[(String, Long)].collect().toMap
    assert(w == Map("A" -> 1000000L))
  }

  test("spearman equals an exact reference") {
    // doubled average ranks (2·below + c + 1), integer moments and
    // num / sqrt(da·db), computed in plain Scala over the collected rows
    val df = ((1L to 80L).map(i => (i % 7, i * i % 31)) ++
      Seq((3L, 5L), (3L, 5L), (0L, 0L))).toDF("x", "y")
    val got = Trend.spearman(df, "x", "y", "x", "y").head()
    val xy = df.as[(Long, Long)].collect().toSeq
    def rank2(vs: Seq[Long]): Seq[BigInt] =
      vs.map(v => BigInt(2 * vs.count(_ < v) + vs.count(_ == v) + 1))
    val (a, b) = (rank2(xy.map(_._1)), rank2(xy.map(_._2)))
    val n = BigInt(xy.size)
    val (sa, sb) = (a.sum, b.sum)
    val num = (n * a.zip(b).map { case (p, q) => p * q }.sum - sa * sb).toDouble
    val da = (n * a.map(v => v * v).sum - sa * sa).toDouble
    val db = (n * b.map(v => v * v).sum - sb * sb).toDouble
    assert(got.getLong(2) == xy.size.toLong)
    assert(got.getAs[Double]("rho") == num / math.sqrt(da * db))
  }

  test("spearman: monotone nonlinearity scores 1, reversal -1, degenerate NULL") {
    val mono = (1L to 50L).map(i => (i, i * i)).toDF("x", "y")
    val up = Trend.spearman(mono, "x", "y", "x", "y").head()
    assert(up.getAs[Double]("rho") == 1.0,
      "rank correlation must ignore the nonlinearity Pearson would shear")
    val rev = (1L to 50L).map(i => (i, -i * i)).toDF("x", "y")
    assert(Trend.spearman(rev, "x", "y", "x", "y").head().getAs[Double]("rho") == -1.0)
    val const = (1L to 10L).map(i => (5L, i)).toDF("x", "y")
    assert(Trend.spearman(const, "x", "y", "x", "y").head().isNullAt(3),
      "zero rank variance has no defined rho")
    // ties: average ranks, invariant under repartitioning
    val tied = Seq((1L, 1L), (1L, 2L), (2L, 2L), (2L, 3L), (3L, 3L), (3L, 1L))
      .toDF("x", "y")
    val a = Trend.spearman(tied, "x", "y", "x", "y").head().getAs[Double]("rho")
    val b = Trend.spearman(tied.repartition(5), "x", "y", "x", "y")
      .head().getAs[Double]("rho")
    assert(a == b && a > -1.0 && a < 1.0)
  }

  test("lm + trend queries plan without cartesian products") {
    val d = sf0001
    Seq("q_x_lm_xent", "q_x_dsir_weights", "q_x_ewma", "q_x_trend").foreach { q =>
      val plan = SparkEntry.queries(q)(spark, d).queryExecution.executedPlan.toString
      assert(!plan.contains("CartesianProduct"), s"$q must not plan a cartesian")
    }
  }
}
