package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Full-text retrieval over a document corpus: inverted index (postings +
  * document frequencies) and term-at-a-time scoring.
  *
  * Scale shape — every step is a standard shuffle-light relational op:
  *  - [[postings]] is explode + hash-aggregate on (term, doc): one shuffle,
  *    map-side partial combine; at 100 TB this is the same plan as a word
  *    count. Persist it via `Catalog.writeSorted(..., "term")` and term
  *    lookups prune to a handful of parquet files (min/max on the sort key) —
  *    the batch analogue of a search engine's posting-list seek.
  *  - [[docFrequencies]] / [[docLengths]] are one hash-agg each, k-row /
  *    doc-row outputs.
  *  - [[searchWeighted]] / [[searchBM25Micro]] touch ONLY the postings of
  *    the query's terms (a filter on the index's sort key — never a corpus
  *    scan), then one small hash-agg by doc and a top-k. Query cost scales
  *    with the matched postings, not the corpus.
  *
  * Scoring forms:
  *  - [[searchWeighted]]: rare-term-weighted overlap with PURE-INTEGER
  *    weights (`weightScale div df`), so scores are exact BIGINTs — the
  *    cross-engine-reproducible gate form (doubles from `ln` differ across
  *    libms in the last ulp; integer division does not).
  *  - [[searchBM25Micro]]: Okapi BM25 (k1/b, log-damped idf) with each
  *    term contribution rounded to integer micro units, so the per-doc sum
  *    is an exact BIGINT (gate q_x_bm25_exact).
  */
object TextIndex {

  /** Inverted index: one row per (term, doc) with the term frequency.
    * Terms come from the engine's whitespace tokenizer ([[graft.functions.Text.tokens]]);
    * empty-string tokens (leading/trailing/double spaces) are dropped. */
  def postings(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs.select(col(idCol).as("doc_id"),
        explode(graft.functions.Text.tokens(col(textCol))).as("term"))
      .filter(col("term") =!= "")
      .groupBy("term", "doc_id").agg(count(lit(1)).as("tf"))

  /** POSITIONAL postings: one row per term OCCURRENCE with its 0-based
    * token position — the index layout phrase and proximity queries need
    * (the bag-of-words [[postings]] can't see adjacency). Same
    * word-count shape, one explode, no shuffle until a consumer groups. */
  def positionalPostings(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs.select(col(idCol).as("doc_id"),
        posexplode(graft.functions.Text.tokens(col(textCol))).as(Seq("pos", "term")))
      .filter(col("term") =!= "")
      .select(col("term"), col("doc_id"), col("pos").cast("long").as("pos"))

  /** Exact phrase search over positional postings: a k-term phrase matches
    * where term_i sits at anchor+i for every i — k−1 equi-joins on
    * (doc_id, position), each join side pre-filtered to ONE term's
    * postings (term-frequency-sized, not corpus-sized; with the
    * term-sorted stored index those filters are file-pruned seeks).
    * Returns per-doc phrase occurrence counts — the "exact quote" lookup
    * of contamination forensics and boilerplate hunting. Plans as a
    * chain of shuffled equi-joins on (doc_id, anchor): volume is bounded
    * by the rarest term's postings list. */
  def phraseSearch(post: DataFrame, phrase: Seq[String]): DataFrame = {
    require(phrase.nonEmpty, "phrase must have at least one term")
    val anchored = phrase.zipWithIndex.map { case (t, i) =>
      post.filter(col("term") === t)
        .select(col("doc_id"), (col("pos") - i).as("anchor"))
    }
    anchored.reduce((a, b) => a.join(b, Seq("doc_id", "anchor")))
      .groupBy(col("doc_id")).agg(count(lit(1)).as("n_occurrences"))
  }

  /** Micro-quantized DCG discount weights 1/log2(i+1) for ranks 1..k —
    * computed ONCE on the driver and baked into both engines' plans as
    * integer literals, so NDCG needs no runtime transcendental anywhere. */
  def dcgWeightsMicro(k: Int): Seq[(Int, Long)] =
    (1 to k).map(i => i -> math.round(1e6 * math.log(2) / math.log(i + 1)))

  /** NDCG@k of a ranking against graded gold relevance — the standard
    * retrieval-eval metric (position-discounted gain over the ideal
    * ordering's gain). `ranked` carries (nid, rank 1..); `gold` carries
    * (nid, rel ≥ 0, integer grades). DCG = Σ rel·w(rank) with the
    * driver-baked micro weights (exact integer sum); IDCG takes the top-k
    * gold grades by (rel desc, nid); NDCG is ONE IEEE division. NULL when
    * IDCG = 0 (no relevant documents — the metric is undefined, not 0).
    * One row out. */
  def ndcgAtK(ranked: DataFrame, gold: DataFrame, k: Int): DataFrame = {
    require(k >= 1, s"k must be >= 1: $k")
    val w = typedlit(dcgWeightsMicro(k).toMap)
    val dcg = ranked.filter(col("rank") <= k)
      .join(gold, Seq("nid"), "left")
      .agg(coalesce(sum(coalesce(col("rel"), lit(0L)) *
        element_at(w, col("rank").cast("int"))), lit(0L)).as("dcg_micro"))
    val idcg = TopK.perGroup(gold.filter(col("rel") > 0), Nil,
        Seq(col("rel").desc, col("nid")), k, "irank")
      .agg(coalesce(sum(col("rel") * element_at(w, col("irank").cast("int"))), lit(0L))
        .as("idcg_micro"))
    dcg.crossJoin(broadcast(idcg))
      .select(col("dcg_micro"), col("idcg_micro"),
        when(col("idcg_micro") > 0,
          col("dcg_micro").cast("double") / col("idcg_micro").cast("double"))
          .as("ndcg"))
  }

  /** Per-query retrieval quality — MRR, recall@k, precision@k — over a
    * ranked result frame `(groupCol, nid, rank)` against per-group gold
    * labels `(groupCol, nid, rel)`, one output row per query group. The
    * standard eval battery next to [[ndcgAtK]], and like it exact by
    * construction: the reciprocal rank is integer-quantized at the source
    * (`1e6 div first_rel_rank` — a truncating integer divide both engines
    * define identically), hit/relevant counts are exact BIGINTs, and each
    * ratio is ONE final IEEE division. Groups with no relevant docs emit
    * NULL recall (not 0 — unmeasurable, the [[QualityFilter]] NULL-metric
    * convention); groups whose top-k holds no relevant doc emit
    * rr_micro = 0 and NULL first_rel_rank.
    *
    * Scale shape: two group-keyed aggregations over frames already capped
    * at k rows per group (ranked) or gold-sized, then group-cardinality
    * joins — nothing corpus-proportional survives the first agg. */
  def retrievalMetricsPerGroup(ranked: DataFrame, gold: DataFrame,
      groupCol: String, k: Int): DataFrame = {
    require(k >= 1, s"k must be >= 1: $k")
    val g = gold.filter(col("rel") > 0)
    val nrel = g.groupBy(groupCol).agg(count(lit(1)).as("n_rel"))
    val hits = ranked.filter(col("rank") <= k)
      .join(g, Seq(groupCol, "nid"))
      .groupBy(groupCol)
      .agg(count(lit(1)).as("n_hits"), min(col("rank")).as("first_rel_rank"))
    val spine = ranked.select(col(groupCol))
      .union(g.select(col(groupCol))).distinct()
    spine.join(nrel, Seq(groupCol), "left").join(hits, Seq(groupCol), "left")
      .select(col(groupCol),
        coalesce(col("n_rel"), lit(0L)).as("n_rel"),
        coalesce(col("n_hits"), lit(0L)).as("n_hits"),
        col("first_rel_rank"),
        coalesce(expr("1000000 div first_rel_rank"), lit(0L)).as("rr_micro"),
        when(coalesce(col("n_rel"), lit(0L)) > 0,
          coalesce(col("n_hits"), lit(0L)).cast("double") / col("n_rel"))
          .as("recall_at_k"),
        (coalesce(col("n_hits"), lit(0L)).cast("double") / k).as("precision_at_k"))
  }

  /** Per-term document frequency over a postings frame. */
  def docFrequencies(post: DataFrame): DataFrame =
    post.groupBy("term").agg(count(lit(1)).as("df"))

  /** Per-document token count (BM25's length normalizer) from postings. */
  def docLengths(post: DataFrame): DataFrame =
    post.groupBy("doc_id").agg(sum(col("tf")).as("dl"))

  /** Top-`k` TF-IDF terms per document — the classic "what is this document
    * about" keyword extractor and the sparse retrieval weight
    * (tf·ln(N/df)). The transcendental is micro-nat quantized AT THE
    * SOURCE (`idf_micro = round(ln(N/df)·10⁶)` — the [[NgramLm]] device),
    * so every score is the exact integer `tf·idf_micro` and the per-doc
    * top-k ordering (score desc, term) is bit-identical cross-engine.
    * Shape: ONE postings aggregate (it feeds both the scored side and the
    * df aggregate), a term-keyed df join-back with no hint (AQE broadcasts the
    * vocab-sized side when its measured stage fits
    * autoBroadcastJoinThreshold and keeps the term-keyed shuffle for a
    * web-scale vocabulary), a 1-row N broadcast, and a per-DOC window —
    * partitions are document-sized, never corpus-sized. Construction
    * runs no job, and nothing is left cached.
    *
    * `prebuilt`: a postings frame already derived from `docs` (the shared
    * serving index — same slot as ProductQuantizer's `encoded`); when
    * given, the corpus is never re-tokenized here. */
  def tfIdfTopK(docs: DataFrame, k: Int = 5,
      idCol: String = "doc_id", textCol: String = "text",
      prebuilt: Option[DataFrame] = None): DataFrame = {
    val post = prebuilt.getOrElse(postings(docs, idCol, textCol))
    val n = docs.agg(count(lit(1)).as("n_docs"))
    val scored = post
      .join(docFrequencies(post), Seq("term"))
      .crossJoin(broadcast(n))
      .withColumn("idf_micro",
        round(log(col("n_docs").cast("double") / col("df").cast("double")) * 1000000L, 0)
          .cast("long"))
      .withColumn("score_micro", col("tf") * col("idf_micro"))
    TopK.perGroup(scored, Seq(col("doc_id")), Seq(col("score_micro").desc, col("term")), k)
      .select(col("doc_id"), col("term"), col("tf"), col("df"),
        col("idf_micro"), col("score_micro"), col("rank"))
  }

  /** Feature hashing (the "hashing trick"): a fixed-`dim` sparse term-count
    * vector per document in LONG FORM (doc_id, pos, cnt) with
    * `pos = hash64(term) % dim` — no vocabulary to build or broadcast,
    * exact integers, engine-portable. Long form IS the scale
    * representation: it is word-count-shaped (explode + one hash agg) and
    * feeds the vector aggregates directly (a per-group centroid of hashed
    * features is one more GROUP BY over it, exactly like
    * [[VectorSearch.groupCentroids]]'s long rows). Densify at the edge
    * only if a consumer needs arrays. */
  def hashFeatures(docs: DataFrame, idCol: String, textCol: String,
      dim: Int = 256): DataFrame = {
    require(dim > 0, "hashFeatures: dim must be positive")
    docs.select(col(idCol).as("doc_id"),
        explode(graft.functions.Text.tokens(col(textCol))).as("term"))
      .filter(col("term") =!= "")
      .groupBy(col("doc_id"),
        (graft.functions.Hashing.hash64(col("term")) % dim).as("pos"))
      .agg(count(lit(1)).as("cnt"))
  }

  /** Top-`k` documents for `queryTerms` by descending integer score
    * `sum(tf * (weightScale div df))` — tf-weighted overlap where rare terms
    * dominate (df-linear damping; an exact-integer stand-in for idf).
    * Duplicate query terms are counted once. Ties break by doc_id ascending.
    * Output: doc_id, n_terms (distinct query terms matched), score, rank. */
  def searchWeighted(post: DataFrame, queryTerms: Seq[String], k: Int,
      weightScale: Long = 1000000L): DataFrame =
    TopK.perGroup(weightedScores(post, queryTerms, weightScale), Nil,
      Seq(col("score").desc, col("doc_id")), k)

  /** [[searchWeighted]] ranked WITHIN each document group (language,
    * source, ...): the quota-mixing form of retrieval — "best k hits per
    * language", not k global hits that one dominant group monopolizes.
    * `groups` maps doc_id → `groupCol`; docs without a group row drop out
    * (inner join). One group-key window after the same single-pass scoring. */
  def searchWeightedPerGroup(post: DataFrame, groups: DataFrame, groupCol: String,
      queryTerms: Seq[String], kPerGroup: Int,
      weightScale: Long = 1000000L): DataFrame =
    TopK.perGroup(weightedScores(post, queryTerms, weightScale).join(groups, "doc_id"),
      Seq(col(groupCol)), Seq(col("score").desc, col("doc_id")), kPerGroup)

  /** (doc_id, n_terms, score) for the query — shared by the global and
    * per-group rankers. */
  private def weightedScores(post: DataFrame, queryTerms: Seq[String],
      weightScale: Long): DataFrame = {
    val terms = queryTerms.distinct
    // document frequency of a term = row count of its own postings, so the
    // QUERY terms' dfs come from the already-filtered slice — on a
    // term-sorted stored index both derivations prune to the same files.
    // Not persisted: the result is lazy, so an in-call persist would live
    // for the session and leak across repeated searches; the
    // double-reference costs one extra filtered postings scan.
    val matched = post.filter(col("term").isin(terms: _*))
    val dfs = matched.groupBy("term").agg(count(lit(1)).as("df"))
    matched
      .join(dfs, "term") // k-term build side: broadcast hash join territory
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_terms"),
        sum(col("tf") * expr(s"$weightScale div df")).as("score"))
  }

  /** Hybrid retrieval (the RAG shape): lexical RECALL via [[searchWeighted]]
    * (top `recallK` docs for the query terms), then exact embedding-cosine
    * RE-RANK against a driver-side query vector — top `k` by similarity.
    *
    * Scale shape: the recall stage touches only the query terms' postings;
    * the (≤ recallK-row) candidate list then BROADCASTS against the
    * embedding table, so the corpus contributes one semi-joined probe —
    * never a full-corpus similarity pass. Arithmetic is the engine's
    * integer-quantized cosine ([[VectorSearch]]), so ranks are
    * deterministic and cross-engine exact (gate q_x_search_hybrid). */
  def searchHybrid(post: DataFrame, emb: DataFrame, queryTerms: Seq[String],
      queryVec: Seq[Float], recallK: Int, k: Int,
      idCol: String = "vec_id", embCol: String = "embedding",
      weightScale: Long = 1000000L): DataFrame = {
    // HALF_UP = half away from zero — the same rounding as the engine's
    // round() and the oracle's (math.round rounds half toward +inf and
    // would quantize negative .5 components differently from the corpus side)
    val qq = queryVec.map(x => BigDecimal(x.toDouble * VectorSearch.Scale)
      .setScale(0, BigDecimal.RoundingMode.HALF_UP).toLong).toArray
    val qn = qq.map(x => x * x).sum
    val cands = searchWeighted(post, queryTerms, recallK, weightScale)
      .select(col("doc_id"), col("score"))
    val e = emb.filter(col(embCol).isNotNull)
      .select(col(idCol).as("doc_id"), VectorSearch.quantize(embCol).as("cv"))
    TopK.perGroup(broadcast(cands).join(e, Seq("doc_id"))
        .withColumn("cn", VectorSearch.dot("cv", "cv"))
        .withColumn("dp", graft.expressions.DotProductLong(col("cv"), typedlit(qq.toSeq)))
        .withColumn("sim", expr(s"CAST(dp AS DOUBLE) / sqrt(CAST(cn AS DOUBLE) * CAST($qn AS DOUBLE))")),
        Nil, Seq(col("sim").desc, col("doc_id")), k)
      .select(col("doc_id"), col("score"), col("sim"), col("rank"))
  }

  /** Reciprocal-rank fusion (Cormack et al. 2009) of the lexical and
    * vector rankings — the OTHER standard hybrid-search shape, next to
    * [[searchHybrid]]'s recall-then-rerank: both lists rank independently
    * to `recallK` and fuse by Σ 1/(rrfK + rank), which needs no score
    * calibration between the two systems (ranks only).
    *
    * Scale shape: the lexical side touches only the query terms' postings;
    * the vector side is one corpus scan reduced to its top recallK; the
    * fusion join runs on two ≤recallK-row frames. Determinism:
    * integer-quantized cosine ranks, IEEE 1/(K+r) terms summed pairwise
    * (commutative in IEEE), ties to the smaller doc id — cross-engine exact
    * (gate q_x_search_rrf). */
  def searchRrf(post: DataFrame, emb: DataFrame, queryTerms: Seq[String],
      queryVec: Seq[Float], recallK: Int, k: Int, rrfK: Int = 60,
      idCol: String = "vec_id", embCol: String = "embedding",
      weightScale: Long = 1000000L): DataFrame = {
    val lex = searchWeighted(post, queryTerms, recallK, weightScale)
      .select(col("doc_id"), col("rank").as("rank_lex"))
    val qq = queryVec.map(x => BigDecimal(x.toDouble * VectorSearch.Scale)
      .setScale(0, BigDecimal.RoundingMode.HALF_UP).toLong).toArray
    val qn = qq.map(x => x * x).sum
    val vec = TopK.perGroup(emb.filter(col(embCol).isNotNull)
        .select(col(idCol).as("doc_id"), VectorSearch.quantize(embCol).as("cv"))
        .withColumn("cn", VectorSearch.dot("cv", "cv"))
        .withColumn("dp", graft.expressions.DotProductLong(col("cv"), typedlit(qq.toSeq)))
        .withColumn("sim", expr(s"CAST(dp AS DOUBLE) / sqrt(CAST(cn AS DOUBLE) * CAST($qn AS DOUBLE))")),
        Nil, Seq(col("sim").desc, col("doc_id")), recallK, "rank_vec")
      .select(col("doc_id"), col("rank_vec"))
    TopK.perGroup(lex.join(vec, Seq("doc_id"), "full_outer")
        .withColumn("rrf",
          coalesce(lit(1.0) / (lit(rrfK) + col("rank_lex")), lit(0.0)) +
            coalesce(lit(1.0) / (lit(rrfK) + col("rank_vec")), lit(0.0))),
        Nil, Seq(col("rrf").desc, col("doc_id")), k)
      .select(col("doc_id"), col("rank_lex"), col("rank_vec"), col("rrf"), col("rank"))
  }

  /** Okapi BM25 top-`k`: idf(t) = ln(1 + (N - df + 0.5)/(df + 0.5)),
    * tfNorm = tf·(k1+1) / (tf + k1·(1 − b + b·dl/avgdl)), with the
    * per-(term,doc) contribution QUANTIZED to an integer micro score:
    * contrib = round(idf·tfNorm·1e6). One filtered postings scan + two
    * broadcast-sized joins (term stats, doc lengths) + a one-row corpus
    * stats broadcast + one hash-agg + a global [[TopK]]; construction runs
    * no job. Everything feeding the round is either an exact
    * integer (tf, df, dl, N) or one deterministic IEEE chain over them
    * (avgdl = Σdl/N is a single exact division; +,·,/ are
    * bit-deterministic cross-engine — only libm `ln` carries the usual
    * negligible last-ulp-at-boundary caveat of the micro-nat contract, see
    * [[NgramLm]]). The per-doc score is then an exact BIGINT sum —
    * order-independent — so unlike a float sum this ranking IS hash-exact
    * against a SQL oracle. At 1e-6 granularity the ranking is
    * indistinguishable from the float form for any practical score range
    * (BM25 scores live in [0, ~30]). An empty corpus (avg(dl) null)
    * returns zero hits with the same schema. */
  def searchBM25Micro(post: DataFrame, queryTerms: Seq[String], k: Int,
      k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    val lens = docLengths(post)
    // N and Σdl ride a one-row broadcast side
    val stats = lens.agg(count(lit(1)).as("__n"), sum(col("dl")).as("__sdl"))
    val n = col("__n").cast("double")
    val avgdl = col("__sdl").cast("double") / n
    val terms = queryTerms.distinct
    val matched = post.filter(col("term").isin(terms: _*))
    val dfs = matched.groupBy("term").agg(count(lit(1)).as("df"))
    val idf = log(lit(1.0) + (n - col("df") + lit(0.5)) / (col("df") + lit(0.5)))
    val tfNorm = (col("tf") * lit(k1 + 1)) /
      (col("tf") + lit(k1) * (lit(1 - b) + lit(b) * col("dl") / avgdl))
    TopK.perGroup(matched
        .join(dfs, "term")
        .join(lens, "doc_id")
        .crossJoin(broadcast(stats))
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_terms"),
          sum(round(idf * tfNorm * lit(1000000.0), 0).cast("long")).as("score_micro")),
      Nil, Seq(col("score_micro").desc, col("doc_id")), k)
  }
}
