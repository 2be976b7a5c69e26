package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.functions.Text

/** N-gram language-model scoring for corpus curation — the model-based
  * quality tier that runs AFTER the heuristic batteries ([[QualityFilter]]):
  * CCNet-style perplexity filtering (Wenzek et al. 2020) scores every
  * document under a reference LM and gates on the corpus's own score
  * distribution, and DSIR (Xie et al. 2023) importance-weights raw documents
  * toward a target domain using hashed n-gram bag models.
  *
  * Reference scope: the reference pipeline (Redshift SQL, ~572 LoC) has no
  * model-based curation at all — this family is part of the training-data
  * extensions the engine adds on top (builder brief; SURVEY.md §7.8).
  *
  * == Cross-engine exactness contract ==
  * Log-probabilities are QUANTIZED to integer micro-nats at the single point
  * a transcendental enters: `logpMicro = round(ln(num/den) * 1e6)` where
  * `num`/`den` are exact integer counts. Everything downstream is integer
  * addition (order-independent, overflow-checked by magnitude: |logp| < 40
  * nats → 4e7 micro-nats; 1e5 tokens/doc → 4e12 ≪ 2^63) plus at most one
  * final IEEE division (deterministic). The only cross-engine hazard left is
  * a libm `ln` disagreeing in the last ulp EXACTLY at a 0.5e-6 rounding
  * boundary — probability ~1e-10 per distinct (num,den) pair, i.e. none in
  * practice. (Unquantized float scores cannot pass a hash-exact oracle
  * gate; quantizing at the source is what lets this family be hash-exact,
  * as [[TextIndex.searchBM25Micro]] does for BM25.)
  *
  * == 100 TB shape ==
  * Training is one word-count-shaped aggregate over the reference slice
  * (model is vocab²-bounded but Zipf-sparse — web bigram tables are ~1e8-1e9
  * rows, a plain parquet table). Scoring is an equi-join of the exploded
  * bigram stream against the model (AQE broadcasts when the model fits,
  * shuffles on the bigram key otherwise) followed by one per-doc aggregate.
  * No all-pairs anywhere; skew on stop-bigrams is bounded because the join
  * is key→model-row lookup (N:1), not pair-forming.
  */
object NgramLm {

  val MicroScale: Long = 1000000L

  /** Adjacent-token pairs of `textCol`, one row per OCCURRENCE:
    * (doc_id [, extraCols], w1, w2). Whitespace tokens keep empty fields
    * (Q.tokens convention), so token indices agree with DuckDB's
    * `string_split`.
    *
    * Shape: the pairs are pre-zipped (`zip_with` of the two shifted
    * slices) BEFORE the explode, so each generated row carries one
    * (w1, w2) struct and nothing else. The previous form posexploded w1
    * and kept the whole token array on every row for an `element_at`
    * lookup — O(L²) bytes per document through the Generate node, which
    * at sf1 made this helper the corpus-proportional cost of the entire
    * bigram family (pmi 14.8 s → the zip form + one-pass counts brought
    * the gate under the 2× bar). */
  def bigrams(docs: DataFrame, idCol: String = "doc_id",
      textCol: String = "text", extraCols: Seq[String] = Nil): DataFrame = {
    val toks = Text.tokens(col(textCol))
    val keys = ("doc_id" +: extraCols).map(col)
    val n = greatest(size(col("toks")) - 1, lit(0))
    val pairs = zip_with(
      slice(col("toks"), lit(1), n), slice(col("toks"), lit(2), n),
      (a, b) => struct(a.as("w1"), b.as("w2")))
    docs.select(col(idCol).as("doc_id") +: extraCols.map(col) :+ toks.as("toks"): _*)
      .select(keys :+ explode(pairs).as("p"): _*)
      .select(keys ++ Seq(col("p.w1").as("w1"), col("p.w2").as("w2")): _*)
  }

  /** Bigram LM "model": exact integer pair counts c(w1,w2), context counts
    * c(w1) (= bigram occurrences with that first token), and the training
    * vocabulary size V (distinct tokens). Laplace (add-one) smoothing is
    * applied at SCORE time so the model stays pure counts:
    * p(w2|w1) = (c(w1,w2)+1) / (c(w1)+V); an unseen context degrades to 1/V.
    */
  final case class BigramModel(pairs: DataFrame, contexts: DataFrame, vocabSize: Long)

  def trainBigram(trainDocs: DataFrame, idCol: String = "doc_id",
      textCol: String = "text"): BigramModel = {
    val bg = bigrams(trainDocs, idCol, textCol)
    val pairs = bg.groupBy("w1", "w2").agg(count(lit(1)).as("c12"))
    val contexts = bg.groupBy("w1").agg(count(lit(1)).as("c1"))
    val vocab = trainDocs
      .select(explode(Text.tokens(col(textCol))).as("tok"))
      .agg(count_distinct(col("tok"))).head().getLong(0)
    BigramModel(pairs, contexts, vocab)
  }

  /** Per-GROUP bigram models in one pass — the published CCNet shape: one
    * reference LM PER LANGUAGE, because a single pooled model scores every
    * non-majority language as "surprising" and a perplexity gate would gut
    * them. Model tables are keyed by the group column ((group,w1,w2) pairs,
    * (group,w1) contexts, (group, vocab_size)); scoring joins on the
    * grouped keys — same shapes and costs as the ungrouped form, the group
    * key just rides the shuffle keys. Docs whose group never appeared in
    * training score NULL (no model — a gate treats that as reject/route,
    * never silently 1/V). */
  final case class GroupedBigramModel(pairs: DataFrame, contexts: DataFrame, vocab: DataFrame)

  def trainBigramGrouped(trainDocs: DataFrame, groupCol: String,
      idCol: String = "doc_id", textCol: String = "text"): GroupedBigramModel = {
    val bg = bigrams(trainDocs, idCol, textCol, Seq(groupCol))
    GroupedBigramModel(
      bg.groupBy(groupCol, "w1", "w2").agg(count(lit(1)).as("c12")),
      bg.groupBy(groupCol, "w1").agg(count(lit(1)).as("c1")),
      trainDocs.select(col(groupCol), explode(Text.tokens(col(textCol))).as("tok"))
        .groupBy(groupCol).agg(count_distinct(col("tok")).as("vs")))
  }

  def crossEntropyGrouped(docs: DataFrame, model: GroupedBigramModel,
      groupCol: String, idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    val bg = bigrams(docs, idCol, textCol, Seq(groupCol))
    val logpMicro = round(
      log((coalesce(col("c12"), lit(0L)) + 1L).cast("double") /
          (coalesce(col("c1"), lit(0L)) + col("vs")).cast("double"))
        * MicroScale, 0).cast("long")
    val scored = bg
      .join(model.pairs, Seq(groupCol, "w1", "w2"), "left")
      .join(model.contexts, Seq(groupCol, "w1"), "left")
      .join(broadcast(model.vocab), Seq(groupCol), "left")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_bigrams"), sum(-logpMicro).as("nll_micro"))
    docs.select(col(idCol).as("doc_id"), col(groupCol)).join(scored, Seq("doc_id"), "left")
      .select(col("doc_id"), col(groupCol),
        coalesce(col("n_bigrams"), lit(0L)).as("n_bigrams"),
        col("nll_micro"),
        (col("nll_micro").cast("double") / (col("n_bigrams") * MicroScale))
          .as("xent_nats"))
  }

  /** Persist a trained model through the versioned catalog (pairs +
    * contexts tables and a 1-row meta table) — the production shape: the
    * reference LM is fit ONCE on the curated reference corpus and scoring
    * runs read the stored tables, exactly like the stored ANN/BPE/k-means
    * models. Round-tripping must not change any score (spec + gate). */
  def saveModel(cat: graft.catalog.Catalog, prefix: String, model: BigramModel): Unit = {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types.{LongType, StructField, StructType}
    val spark = model.pairs.sparkSession
    cat.write(s"${prefix}_pairs", model.pairs)
    cat.write(s"${prefix}_contexts", model.contexts)
    cat.write(s"${prefix}_meta", spark.createDataFrame(
      java.util.Arrays.asList(Row(model.vocabSize)),
      StructType(Seq(StructField("vocab_size", LongType)))))
  }

  def loadModel(cat: graft.catalog.Catalog, prefix: String): BigramModel =
    BigramModel(cat.read(s"${prefix}_pairs"), cat.read(s"${prefix}_contexts"),
      cat.read(s"${prefix}_meta").head().getLong(0))

  /** Per-document cross-entropy under the model, in exact micro-nats:
    * `n_bigrams`, `nll_micro` = Σ −round(ln(p)·1e6) (BIGINT, exact), and
    * `xent_nats` = nll_micro / (n_bigrams·1e6) (one IEEE division).
    * Documents with <2 tokens score NULL (no bigrams — a gate treats NULL
    * as reject, per the [[QualityFilter]] NULL-metric convention). */
  def crossEntropy(docs: DataFrame, model: BigramModel,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    val bg = bigrams(docs, idCol, textCol)
    val logpMicro = round(
      log((coalesce(col("c12"), lit(0L)) + 1L).cast("double") /
          (coalesce(col("c1"), lit(0L)) + model.vocabSize).cast("double"))
        * MicroScale, 0).cast("long")
    val scored = bg
      .join(model.pairs, Seq("w1", "w2"), "left")
      .join(model.contexts, Seq("w1"), "left")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_bigrams"), sum(-logpMicro).as("nll_micro"))
    docs.select(col(idCol).as("doc_id")).join(scored, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_bigrams"), lit(0L)).as("n_bigrams"),
        col("nll_micro"),
        (col("nll_micro").cast("double") / (col("n_bigrams") * MicroScale))
          .as("xent_nats"))
  }

  /** CCNet-style perplexity gate: score every document under a reference LM
    * trained on `trainDocs`, keep documents at or below the corpus's own
    * `quantile` of cross-entropy (low xent = fluent). Corpus-relative like
    * [[QualityFilter.quantileGate]], with the inequality flipped (lower is
    * better) and NULL (unscoreable) always rejected. */
  def perplexityGate(docs: DataFrame, trainDocs: DataFrame, quantile: Double,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    val scoredDocs = crossEntropy(docs, trainBigram(trainDocs, idCol, textCol),
      idCol, textCol)
    val cut = scoredDocs.agg(expr(s"percentile(xent_nats, $quantile)").as("cutoff"))
    scoredDocs.crossJoin(broadcast(cut))
      .withColumn("keep", coalesce(col("xent_nats") <= col("cutoff"), lit(false)))
  }

  /** CCNet's head/middle/tail corpus split (Wenzek et al. 2020 §4.3):
    * score every document under ITS OWN GROUP's reference LM
    * ([[crossEntropyGrouped]]), then bucket each group's documents at that
    * group's exact tercile cutoffs — head = most fluent third, tail =
    * least. Per-group cutoffs are the published point: a pooled threshold
    * sends every minority language to the tail. Cutoffs are ⌈n·q⌉
    * ceiling-rank order statistics of xent_nats
    * ([[QualityFilter.groupOrderStats]] — data values, no interpolation);
    * each doc's xent is ONE IEEE division of exact integers, so the
    * cutoff comparisons are bit-identical cross-engine. Unscoreable docs
    * (<2 tokens) bucket NULL, per the NULL-metric convention.
    * Shape: the grouped-LM scoring joins + a group-cardinality cut table
    * broadcast into a map-side CASE — no row-sized window anywhere. */
  def perplexityBuckets(docs: DataFrame, trainDocs: DataFrame, groupCol: String,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    val scored = crossEntropyGrouped(docs,
      trainBigramGrouped(trainDocs, groupCol, idCol, textCol),
      groupCol, idCol, textCol)
    val cuts = QualityFilter
      .groupOrderStats(scored, groupCol, "xent_nats", Seq(1L, 2L), 3L)
      .select(col(groupCol), col("p_1").as("__t1"), col("p_2").as("__t2"))
    scored.join(broadcast(cuts), Seq(groupCol), "left")
      .select(col("doc_id"), col(groupCol), col("n_bigrams"),
        col("nll_micro"), col("xent_nats"),
        when(col("xent_nats").isNull, lit(null).cast("string"))
          .when(col("xent_nats") <= col("__t1"), lit("head"))
          .when(col("xent_nats") <= col("__t2"), lit("middle"))
          .otherwise(lit("tail")).as("bucket"))
  }

  /** Pointwise-mutual-information collocations: the corpus's top-`k`
    * adjacent-token pairs by PMI = ln(p(w1,w2)/(p(w1)p(w2))) among pairs
    * seen ≥ `minCount` times — the classic collocation/multi-word-unit
    * miner (useful for tokenizer seeding and boilerplate discovery).
    * Unigram probs are over ALL token occurrences, pair probs over the
    * bigram stream. PMI is micro-nat quantized (the usual contract); the
    * ratio is computed in double with a pinned association order
    * (((c12·Nt)·Nt) / ((Nb·c1)·c2)) so both engines run the identical IEEE
    * chain.
    *
    * Shape: ONE corpus tokenize pass and ONE data-sized shuffle. Every
    * unigram occurrence is either the first element of exactly one
    * adjacent pair or its document's LAST token, so appending one
    * (last_token, NULL) sentinel struct to each document's zipped pair
    * array lets a single (w1, w2)-keyed count serve as BOTH tables:
    * rows with w2 ≠ NULL are the bigram counts, and grouping the whole
    * (pair-vocab-sized) frame by w1 reconstructs exact unigram occurrence
    * counts. The totals Nt/Nb are 1-row sums over that same frame
    * (Nt = Nb + #docs, since each doc contributes one sentinel), joined in
    * as a one-row broadcast side; construction runs the one job that
    * checkpoints the pair counts. The two
    * vocab-sized unigram join sides carry no hint: AQE broadcasts them
    * when their measured stages fit autoBroadcastJoinThreshold and keeps
    * token-keyed shuffles for a web-scale vocabulary. */
  def pmiCollocations(docs: DataFrame, minCount: Long = 5, k: Int = 50,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    val toks = Text.tokens(col(textCol))
    val n = greatest(size(toks) - 1, lit(0))
    val pairs = zip_with(slice(toks, lit(1), n), slice(toks, lit(2), n),
      (a, b) => struct(a.as("w1"), b.as("w2")))
    val withLast = concat(pairs, array(struct(
      element_at(toks, -1).as("w1"), lit(null).cast("string").as("w2"))))
    val counts = docs.select(explode(withLast).as("p"))
      .groupBy(col("p.w1").as("w1"), col("p.w2").as("w2"))
      .agg(count(lit(1)).as("n_pair"))
      .localCheckpoint() // read four times below; its blocks live with the plan
    val c1 = counts.groupBy(col("w1").as("tok"))
      .agg(sum(col("n_pair")).as("c"))
    val totals = c1.agg(coalesce(sum(col("c")), lit(0L)).as("__nt"))
      .crossJoin(counts.filter(col("w2").isNotNull)
        .agg(coalesce(sum(col("n_pair")), lit(0L)).as("__nb")))
    def side(name: String, as: String) = c1.select(col("tok").as(name), col("c").as(as))
    TopK.perGroup(counts
        .filter(col("w2").isNotNull && col("n_pair") >= minCount)
        .join(side("w1", "c1"), Seq("w1"))
        .join(side("w2", "c2"), Seq("w2"))
        .crossJoin(broadcast(totals))
        .withColumn("pmi_micro", round(log(
            (col("n_pair").cast("double") * col("__nt") * col("__nt")) /
            (col("__nb").cast("double") * col("c1") * col("c2"))) * MicroScale, 0)
          .cast("long")),
      Nil, Seq(col("pmi_micro").desc, col("w1"), col("w2")), k)
      .select(col("w1"), col("w2"), col("n_pair"), col("pmi_micro"), col("rank"))
  }

  /** DoReMi-style domain mixture reweighting (Xie et al. 2023, collapsed to
    * its one-shot excess-loss form): per domain, the average reference-LM
    * cross-entropy above the corpus-wide average — domains the reference
    * model finds HARDER than average get up-weighted, easier ones fall back
    * to the uniform floor. The full method trains a proxy model in the
    * loop; the excess-loss reweighting step is the part that is a data
    * pipeline operator, and one round of it is the widely-used static
    * approximation.
    *
    * weight_ppm(d) = (10⁶ − uniformPpm)·excess(d) div Σ excess
    *              + uniformPpm div K          (uniform when Σ excess = 0)
    * with excess(d) = max(0, avgNll(d) − avgNll(corpus)) in micro-nats per
    * bigram — truncating BIGINT divisions throughout, so weights are exact
    * cross-engine and partitioning-invariant. Overflow: excess ≤ the LM's
    * max per-bigram NLL (≈ ln(V)·10⁶ < 3·10⁷), ×10⁶ ≪ 2^63.
    *
    * Shape: per-doc scoring is [[crossEntropy]]'s model joins; everything
    * after is K-sized (one domain aggregate + two 1-row broadcast scalars).
    * Domains with no scoreable bigrams get avg 0 → excess 0 → the uniform
    * floor. */
  def domainExcessWeights(docs: DataFrame, model: BigramModel,
      groupCol: String, uniformPpm: Long = 100000L,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    require(uniformPpm >= 0 && uniformPpm <= 1000000L)
    val propPpm = 1000000L - uniformPpm
    val dom = crossEntropy(docs, model, idCol, textCol)
      .join(docs.select(col(idCol).as("doc_id"),
        col(groupCol).as("__grp")), Seq("doc_id"))
      .groupBy(col("__grp"))
      .agg(sum("n_bigrams").as("n_bigrams"),
        coalesce(sum("nll_micro"), lit(0L)).as("nll_micro"))
    val tot = dom.agg(sum("n_bigrams").as("tb"), sum("nll_micro").as("tn"),
      count(lit(1)).as("k"))
    val ex = dom.crossJoin(broadcast(tot))
      .select(col("__grp"), col("n_bigrams"), col("nll_micro"), col("k"),
        expr("nll_micro div greatest(n_bigrams, 1)").as("avg_micro"),
        expr("tn div greatest(tb, 1)").as("ref_micro"))
      .withColumn("excess_micro",
        greatest(col("avg_micro") - col("ref_micro"), lit(0L)))
    val te = ex.agg(coalesce(sum("excess_micro"), lit(0L)).as("total_excess"))
    ex.crossJoin(broadcast(te))
      .select(col("__grp").as(groupCol), col("n_bigrams"), col("nll_micro"),
        col("avg_micro"), col("ref_micro"), col("excess_micro"),
        when(col("total_excess") > 0,
          expr(s"(($propPpm * excess_micro) div total_excess) + ($uniformPpm div k)"))
          .otherwise(expr("1000000 div k")).as("weight_ppm"))
  }

  /** word2vec-style skip-gram training pairs: every (center, context) token
    * pair within `window` positions, aggregated to exact occurrence counts —
    * the co-occurrence table embedding trainers consume (and the input to
    * SGNS/GloVe-style factorizations). Pair generation is ONE map-side
    * codegen'd HOF chain (sequence → struct, flattened and exploded) — no
    * positional self-join. Windows clip at document boundaries; documents
    * shorter than 2 tokens contribute nothing.
    *
    * Symmetry halving: each unordered position pair {i, j} within the
    * window yields BOTH ordered rows (toks[i], toks[j]) and
    * (toks[j], toks[i]), so only the forward j > i pairs are generated
    * (window·tokens rows instead of 2·window·tokens through the explode +
    * partial agg — the occurrence-volume hot path) and the mirror is
    * restored afterwards on the far smaller DISTINCT-pair frame. Equal
    * tokens need no special case: cnt(x,x) rides the union twice and sums
    * to its doubled count exactly. */
  def skipGramPairs(docs: DataFrame, window: Int,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    require(window >= 1, s"window must be >= 1, got $window")
    // the (i, i+k) half-pairs for k = 1..window are `window` ZIPS of
    // shifted slices — one flat zip_with per offset instead of the
    // previous sequence→filter→nested-transform chain (three interpreted
    // HOF layers per token, the bigrams lesson applied to the general
    // window); multiset of pairs is identical
    val n = size(col("toks"))
    val parts = (1 to window).map { k =>
      zip_with(
        slice(col("toks"), lit(1), greatest(n - k, lit(0))),
        slice(col("toks"), lit(k + 1), greatest(n - k, lit(0))),
        (a, b) => struct(a.as("f"), b.as("s")))
    }
    val half = docs.select(Text.tokens(col(textCol)).as("toks"))
      .filter(size(col("toks")) >= 2)
      .select(explode(concat(parts: _*)).as("p"))
      .select(col("p.f").as("f"), col("p.s").as("s"))
      .groupBy("f", "s").agg(count(lit(1)).as("n"))
    half.select(col("f").as("center"), col("s").as("context"), col("n"))
      .unionAll(half.select(col("s").as("center"), col("f").as("context"), col("n")))
      .groupBy("center", "context").agg(sum(col("n")).as("n_pairs"))
  }

  /** DSIR importance weights (Xie et al. 2023, "Data Selection for Language
    * Models via Importance Resampling"): hash unigrams into `dim` buckets,
    * fit smoothed bag-of-buckets models on a TARGET slice and on the RAW
    * corpus, and weight each raw document by its log-likelihood ratio
    * Σ_b f_b·(ln p̂_target[b] − ln p̂_raw[b]). High weight = looks like the
    * target domain. Each model's bucket log-prob is quantized to micro-nats
    * independently; the per-doc weight is then an exact integer dot product
    * (`weight_micro`), so the whole column is hash-exact cross-engine.
    *
    * Shape: two dim-sized count aggregates (broadcast), one exploded-token
    * join by bucket id, one per-doc aggregate — the same two-scan silhouette
    * as [[QualityFilter.tokenRarity]] with a fixed-width model side. */
  def dsirWeights(docs: DataFrame, targetDocs: DataFrame, dim: Int = 256,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    def buckets(d: DataFrame): DataFrame =
      d.select(col(idCol).as("doc_id"),
          explode(Text.tokens(col(textCol))).as("tok"))
        .filter(col("tok") =!= "")
        .select(col("doc_id"), pmod(graft.functions.Hashing.hash64(col("tok")),
          lit(dim.toLong)).as("b"))

    // Smoothed bucket log-probs in micro-nats: round(ln((c_b+1)/(N+dim))·1e6).
    def model(d: DataFrame, outCol: String): DataFrame = {
      val counts = buckets(d).groupBy("b").agg(count(lit(1)).as("c"))
      val total = counts.agg(sum("c").as("n"))
      counts.crossJoin(broadcast(total))
        .select(col("b"), round(log((col("c") + 1L).cast("double") /
            (col("n") + dim).cast("double")) * MicroScale, 0)
          .cast("long").as(outCol))
    }
    val target = model(targetDocs, "lp_target")
    val raw = model(docs, "lp_raw")
    // Unseen bucket in either model → that model's smoothed floor ln(1/(N+dim));
    // computed from the broadcast totals so the formula stays uniform.
    val tTotal = buckets(targetDocs).count()
    val rTotal = buckets(docs).count()
    def floorMicro(n: Long): Long =
      math.round(math.log(1.0 / (n + dim)) * MicroScale)

    buckets(docs)
      .groupBy("doc_id", "b").agg(count(lit(1)).as("f"))
      .join(broadcast(target), Seq("b"), "left")
      .join(broadcast(raw), Seq("b"), "left")
      .groupBy("doc_id")
      .agg(sum(col("f") *
          (coalesce(col("lp_target"), lit(floorMicro(tTotal))) -
           coalesce(col("lp_raw"), lit(floorMicro(rTotal)))))
        .as("weight_micro"),
        sum("f").as("n_tokens"))
      .select(col("doc_id"), col("n_tokens"), col("weight_micro"),
        (col("weight_micro").cast("double") / (col("n_tokens") * MicroScale))
          .as("avg_logratio_nats"))
  }
}
