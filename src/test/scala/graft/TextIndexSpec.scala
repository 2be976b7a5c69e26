package graft

import org.apache.spark.sql.functions._
import graft.operators.TextIndex

class TextIndexSpec extends SparkSpec {
  import spark.implicits._

  private val docs = Seq(
    (1L, "spark merge sort merge"),
    (2L, "vector vector vector window"),
    (3L, "the quick spark window window"),
    (4L, "unrelated words only here"),
    (5L, "spark spark spark spark")
  ).toDF("doc_id", "text")

  private def naiveIndex: Map[(String, Long), Long] =
    Seq((1L, "spark merge sort merge"), (2L, "vector vector vector window"),
      (3L, "the quick spark window window"), (4L, "unrelated words only here"),
      (5L, "spark spark spark spark"))
      .flatMap { case (id, t) => t.split(" ").filter(_.nonEmpty).map(w => (w, id)) }
      .groupBy(identity).map { case (k, v) => k -> v.size.toLong }

  test("postings = exact (term, doc, tf) triples") {
    val got = TextIndex.postings(docs, "doc_id", "text")
      .as[(String, Long, Long)].collect().map(r => (r._1, r._2) -> r._3).toMap
    assert(got == naiveIndex)
  }

  test("phraseSearch: adjacency-exact, overlapping matches count, boundaries hold") {
    val post = TextIndex.positionalPostings(docs, "doc_id", "text")
    // "merge sort merge" occurs once in doc 1; "sort merge" once
    def hits(p: String*) = TextIndex.phraseSearch(post, p)
      .as[(Long, Long)].collect().toMap
    assert(hits("merge", "sort", "merge") == Map(1L -> 1L))
    assert(hits("sort", "merge") == Map(1L -> 1L))
    // overlapping occurrences each count: "spark spark" in doc 5 (4 sparks) = 3
    assert(hits("spark", "spark") == Map(5L -> 3L))
    // single-term phrase = term frequency per doc
    assert(hits("window") == Map(2L -> 1L, 3L -> 2L))
    // order matters: reversed phrase does not match
    assert(hits("sort", "spark").isEmpty)
    intercept[IllegalArgumentException](TextIndex.phraseSearch(post, Nil))
  }

  test("ndcgAtK: perfect ranking scores 1; reversal scores less; no gold is NULL") {
    val gold = Seq((1L, 3L), (2L, 2L), (3L, 1L)).toDF("nid", "rel")
    def ndcg(order: Seq[Long]): Option[Double] = {
      val ranked = order.zipWithIndex.map { case (n, i) => (n, (i + 1).toLong) }
        .toDF("nid", "rank")
      val r = TextIndex.ndcgAtK(ranked, gold, 3).head()
      if (r.isNullAt(2)) None else Some(r.getDouble(2))
    }
    assert(ndcg(Seq(1L, 2L, 3L)) == Some(1.0))
    val rev = ndcg(Seq(3L, 2L, 1L)).get
    assert(rev > 0 && rev < 1.0, s"reversed order must lose: $rev")
    // hand-check: w = micro 1/log2(i+1) baked weights
    val w = TextIndex.dcgWeightsMicro(3).toMap
    val dcgRev = 1L * w(1) + 2L * w(2) + 3L * w(3)
    val idcg = 3L * w(1) + 2L * w(2) + 1L * w(3)
    assert(rev == dcgRev.toDouble / idcg.toDouble)
    // unjudged docs in the ranking contribute 0, not an error
    assert(ndcg(Seq(9L, 1L, 2L)).get < 1.0)
    // empty gold: NDCG undefined → NULL
    val r0 = TextIndex.ndcgAtK(Seq((1L, 1L)).toDF("nid", "rank"),
      gold.filter(lit(false)), 3).head()
    assert(r0.isNullAt(2))
  }

  test("searchWeighted scores are the exact integer formula, ranked with doc_id tie-break") {
    val post = TextIndex.postings(docs, "doc_id", "text")
    val dfm = naiveIndex.keys.groupBy(_._1).map { case (t, ks) => t -> ks.size.toLong }
    val q = Seq("spark", "vector", "vector") // dup term must count once
    val expected = naiveIndex.toSeq
      .collect { case ((t, d), tf) if q.contains(t) => d -> tf * (1000000L / dfm(t)) }
      .groupBy(_._1).map { case (d, xs) => d -> xs.map(_._2).sum }
    val got = TextIndex.searchWeighted(post, q, k = 10)
      .select($"doc_id", $"score", $"rank").as[(Long, Long, Long)].collect()
    assert(got.map(r => r._1 -> r._2).toMap == expected)
    // rank: by score desc then doc_id; spark(df=3) weight 333333
    val ranked = got.sortBy(_._3).map(_._1).toSeq
    assert(ranked == expected.toSeq.sortBy { case (d, s) => (-s, d) }.map(_._1))
  }

  test("searchBM25Micro equals an independent in-JVM Okapi recomputation exactly") {
    val post = TextIndex.postings(docs, "doc_id", "text")
    val got = TextIndex.searchBM25Micro(post, Seq("spark", "window"), k = 10)
      .select($"doc_id", $"score_micro", $"rank").as[(Long, Long, Long)].collect()

    val idx = naiveIndex
    val dfm = idx.keys.groupBy(_._1).map { case (t, ks) => t -> ks.size.toLong }
    val dl = idx.toSeq.groupBy(_._1._2).map { case (d, xs) => d -> xs.map(_._2).sum }
    val n = dl.size; val avgdl = dl.values.sum.toDouble / n
    val (k1, b) = (1.2, 0.75)
    // mirrors the operator's expression tree association exactly — IEEE
    // arithmetic is association-sensitive, so the recompute must parenthesize
    // the way the Column expression does; round is Spark's HALF_UP
    def contribMicro(t: String, d: Long): Long = {
      val tf = idx((t, d)).toDouble
      val idf = math.log(1.0 + (n.toDouble - dfm(t).toDouble + 0.5) / (dfm(t).toDouble + 0.5))
      val tfNorm = (tf * (k1 + 1)) / (tf + k1 * ((1 - b) + (b * dl(d).toDouble) / avgdl))
      BigDecimal(idf * tfNorm * 1000000.0).setScale(0, BigDecimal.RoundingMode.HALF_UP).toLong
    }
    // each doc's score is the exact integer sum of its rounded contributions
    val expected = dl.keys.toSeq
      .map(d => d -> Seq("spark", "window").filter(t => idx.contains((t, d)))
        .map(t => contribMicro(t, d)).sum)
      .filter(_._2 > 0).toMap
    assert(got.map(r => r._1 -> r._2).toMap == expected)
    // ranked by score desc, then doc_id
    assert(got.sortBy(_._3).map(_._1).toSeq ==
      expected.toSeq.sortBy { case (d, sc) => (-sc, d) }.map(_._1))
  }

  test("searchWeightedPerGroup: independent top-k inside each group") {
    val post = TextIndex.postings(docs, "doc_id", "text")
    val groups = Seq((1L, "a"), (2L, "a"), (3L, "b"), (4L, "b"), (5L, "a"))
      .toDF("doc_id", "grp")
    val got = TextIndex.searchWeightedPerGroup(post, groups, "grp",
        Seq("spark", "vector"), kPerGroup = 1)
      .select($"grp", $"doc_id", $"rank").as[(String, Long, Long)].collect().toSet
    // group a: doc 2 wins (vector tf=3 × weight 10^6/df=1 = 3,000,000 beats
    // doc 5's spark tf=4 × 333,333); group b: doc 3 is its only hit
    assert(got == Set(("a", 2L, 1L), ("b", 3L, 1L)))
  }

  test("searchHybrid: lexical recall then cosine re-rank beats lexical order") {
    val docs = Seq(
      (1L, "apple banana apple"), // stronger lexical match (tf 2)...
      (2L, "apple cherry"),       // ...but doc 2's embedding matches the query
      (3L, "unrelated words")).toDF("doc_id", "text")
    val emb = Seq(
      (1L, Seq(0.0f, 1.0f)),
      (2L, Seq(0.9f, 0.1f)),
      (3L, Seq(0.9f, 0.1f))).toDF("vec_id", "embedding")
    val got = rows(TextIndex.searchHybrid(
        TextIndex.postings(docs, "doc_id", "text"), emb,
        Seq("apple"), Seq(0.9f, 0.1f), recallK = 10, k = 5)
      .select("doc_id", "rank"))
    // doc 3 never enters (no lexical match); doc 2 re-ranks above doc 1
    assert(got == Seq(Seq(2L, 1L), Seq(1L, 2L)))
  }

  test("searchRrf: presence in both lists beats either list alone; single-list docs survive") {
    val docs = Seq(
      (1L, "apple banana apple"), // lexical-only hit (embedding orthogonal)
      (2L, "apple cherry"),       // in BOTH lists → must fuse to rank 1
      (3L, "unrelated words")).toDF("doc_id", "text")
    val emb = Seq(
      (1L, Seq(0.0f, 1.0f)),
      (2L, Seq(0.9f, 0.1f)),
      (3L, Seq(0.85f, 0.15f))).toDF("vec_id", "embedding") // vector-only hit
    val got = rows(TextIndex.searchRrf(
        TextIndex.postings(docs, "doc_id", "text"), emb,
        Seq("apple"), Seq(0.9f, 0.1f), recallK = 2, k = 3)
      .select("doc_id", "rank_lex", "rank_vec", "rank"))
    // doc 2: lexical rank 2 + vector rank 1 → rrf 1/62 + 1/61 — tops both
    // single-list docs; doc 1 (lex 1 only: 1/61) beats doc 3 (vec 2: 1/62);
    // full-outer keeps the vector-only doc in the fused list
    assert(got == Seq(
      Seq(2L, 2L, 1L, 1L),
      Seq(1L, 1L, null, 2L),
      Seq(3L, null, 2L, 3L)))
  }

  test("searchHybrid plan: the candidate list broadcasts (no corpus-wide similarity shuffle)") {
    val docs = Seq((1L, "apple pie"), (2L, "apple tart")).toDF("doc_id", "text")
    val emb = Seq((1L, Seq(1.0f, 0.0f)), (2L, Seq(0.0f, 1.0f))).toDF("vec_id", "embedding")
    val plan = TextIndex.searchHybrid(
        TextIndex.postings(docs, "doc_id", "text"), emb,
        Seq("apple"), Seq(1.0f, 0.0f), recallK = 10, k = 5)
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), s"re-rank join must broadcast:\n$plan")
  }

  test("hashFeatures: positions bounded by dim, counts sum to token count, deterministic") {
    val feats = TextIndex.hashFeatures(docs, "doc_id", "text", dim = 16)
    assert(feats.filter($"pos" < 0 || $"pos" >= 16).count() == 0)
    // per-doc count mass equals the doc's token count (hashing only re-bins)
    val mass = feats.groupBy("doc_id").agg(sum($"cnt").as("m"))
      .as[(Long, Long)].collect().toMap
    val tokCounts = Map(1L -> 4L, 2L -> 4L, 3L -> 5L, 4L -> 4L, 5L -> 4L)
    assert(mass == tokCounts)
    // identical on a reshuffled input: pure function of content
    assert(feats.orderBy("doc_id", "pos").collect().toSeq ==
      TextIndex.hashFeatures(docs.repartition(7), "doc_id", "text", dim = 16)
        .orderBy("doc_id", "pos").collect().toSeq)
  }

  test("both searches degrade to zero rows on an empty corpus (no NPE)") {
    val empty = TextIndex.postings(
      Seq.empty[(Long, String)].toDF("doc_id", "text"), "doc_id", "text")
    assert(TextIndex.searchWeighted(empty, Seq("spark"), k = 3).count() == 0)
    assert(TextIndex.searchBM25Micro(empty, Seq("spark"), k = 3).count() == 0)
  }

  test("search touches only the query terms' postings, not the corpus scan") {
    val post = TextIndex.postings(docs, "doc_id", "text")
    val plan = TextIndex.searchWeighted(post, Seq("spark"), k = 3)
      .queryExecution.optimizedPlan.toString
    assert(plan.contains("spark"), plan) // the term filter survived into the plan
  }

  test("retrievalMetricsPerGroup: hand-checked MRR/recall/precision incl. edge groups") {
    val ranked = Seq(
      ("g1", 1L, 1L), ("g1", 2L, 2L), ("g1", 3L, 3L), // hit at rank 2
      ("g2", 4L, 1L), ("g2", 5L, 2L)                  // no gold at all
    ).toDF("grp", "nid", "rank")
    val gold = Seq(
      ("g1", 2L, 1L), ("g1", 9L, 2L), // one retrieved, one missed
      ("g3", 7L, 1L)                  // gold-only group, empty result list
    ).toDF("grp", "nid", "rel")
    val got = TextIndex.retrievalMetricsPerGroup(ranked, gold, "grp", 3)
      .orderBy("grp").collect()
    assert(got.length == 3)
    val g1 = got(0)
    assert(g1.getLong(1) == 2 && g1.getLong(2) == 1, g1.toString) // n_rel, n_hits
    assert(g1.getLong(3) == 2 && g1.getLong(4) == 500000, g1.toString) // first, rr
    assert(g1.getDouble(5) == 0.5 && g1.getDouble(6) == 1.0 / 3, g1.toString)
    val g2 = got(1) // no relevant docs: rr 0, recall NULL (unmeasurable)
    assert(g2.getLong(1) == 0 && g2.getLong(4) == 0 && g2.isNullAt(5), g2.toString)
    val g3 = got(2) // relevant exists, nothing retrieved: recall 0, rr 0
    assert(g3.getLong(1) == 1 && g3.getLong(2) == 0 && g3.isNullAt(3), g3.toString)
    assert(g3.getLong(4) == 0 && g3.getDouble(5) == 0.0, g3.toString)
  }

  test("tfIdfTopK: hand-checked scores; ubiquitous terms score zero and rank last") {
    import graft.operators.TextIndex
    // N=3; df(a)=3 → idf 0, df(b)=2 → ln(1.5)µ, df(c)=1 → ln(3)µ
    val docs = Seq((0L, "a a b"), (1L, "a c"), (2L, "a b")).toDF("doc_id", "text")
    val r = TextIndex.tfIdfTopK(docs, k = 2).collect()
      .map(x => (x.getLong(0), x.getAs[Long]("rank")) ->
        (x.getAs[String]("term"), x.getAs[Long]("score_micro"))).toMap
    val lnb = math.round(math.log(3.0 / 2.0) * 1e6)
    val lnc = math.round(math.log(3.0) * 1e6)
    assert(r((0L, 1L)) == (("b", lnb)))
    assert(r((0L, 2L)) == (("a", 0L)), "idf(everywhere-term) must be exactly 0")
    assert(r((1L, 1L)) == (("c", lnc)))
    assert(r((2L, 1L)) == (("b", lnb)))
  }
}
