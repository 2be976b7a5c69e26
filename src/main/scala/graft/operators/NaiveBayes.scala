package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.functions.Text
import CacheGuard.PersistTrackedOps

/** Multinomial Naive Bayes text classification — the model-based curation
  * classifier tier: public large-corpus pipelines gate documents with a
  * cheap linear text classifier (a fastText-style quality/domain model in
  * the GPT-3 and LLaMA data recipes; CCNet's language filter is the same
  * silhouette). Naive Bayes over unigram counts IS that linear model with a
  * closed-form, exactly-reproducible fit: per-class log-probabilities are
  * token-count ratios, so training is one aggregate and there is no SGD
  * ordering nondeterminism anywhere.
  *
  * Reference scope: the reference pipeline (Redshift SQL, ~572 LoC) has no
  * model-based curation; this extends the training-data surface alongside
  * [[NgramLm]] (SURVEY.md §7.8).
  *
  * == Exactness contract ==
  * [[NgramLm]]'s micro-nat device: every ln is rounded ONCE to integer
  * micro-nats as it enters (smoothed token log-probs, per-class floors,
  * class priors), so a document score is an exact BIGINT dot product and
  * argmax/ties are deterministic integer comparisons (ties break on the
  * lexically smallest label). Magnitude: |logp| < 40 nats → 4e7 micro-nats;
  * 1e5 tokens/doc → 4e12 ≪ 2^63.
  *
  * == 100 TB shape ==
  * Training is one (label, token)-count aggregate over the labeled slice —
  * the model is class-vocab-sized (a plain table), never collected. Scoring
  * decomposes score(d,l) = prior_l + n_tokens(d)·floor_l + Σ_seen f·(lp−floor_l):
  * the unseen-token mass is folded into the closed-form n·floor term, so the
  * only join is doc-token-counts ⋈ model on the token key (N:1 lookup,
  * ≤ K rows out per distinct doc token — never class-crossed over the full
  * token stream) followed by one (doc,label) aggregate and one top-1 window.
  * AQE broadcasts the model when it fits; otherwise it shuffles on the token
  * key like any word-count.
  */
object NaiveBayes {

  val MicroScale: Long = NgramLm.MicroScale

  /** Trained model: `tokenProbs` (label, tok, lp_micro) — add-one-smoothed
    * log p(tok|label) in micro-nats; `labels` (label, prior_micro,
    * floor_micro) — smoothed class prior round(ln((n_l+1)/(n+K))·1e6) and
    * the per-class unseen-token floor round(ln(1/(N_l+V))·1e6). */
  final case class NbModel(tokenProbs: DataFrame, labels: DataFrame)

  private def docTokens(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs.select(col(idCol).as("doc_id"),
        explode(Text.tokens(col(textCol))).as("tok"))
      .filter(col("tok") =!= "")

  /** Fit on `labeled` (must carry `labelCol`): one token-count aggregate +
    * class-cardinality bookkeeping, all exact integers until the single
    * quantized ln per model row. */
  def train(labeled: DataFrame, labelCol: String,
      idCol: String = "doc_id", textCol: String = "text"): NbModel = {
    val lt = labeled.select(col(labelCol).as("label"), col(idCol).as("doc_id"),
      col(textCol).as("text"))
    // label rides the explode scan directly — no token⋈doc_id join
    val tokens = lt.select(col("label"), explode(Text.tokens(col("text"))).as("tok"))
      .filter(col("tok") =!= "")
    val counts = tokens.groupBy("label", "tok").agg(count(lit(1)).as("c"))
    // vocab = distinct tokens across the WHOLE training slice (shared
    // denominator V, the standard multinomial-NB smoothing base)
    val vocab = counts.agg(count_distinct(col("tok")).as("v"))
    val classTotals = counts.groupBy("label").agg(sum("c").as("n_l"))
    val docCounts = lt.groupBy("label").agg(count(lit(1)).as("nd_l"))
    val totals = lt.agg(count(lit(1)).as("nd"), count_distinct(col("label")).as("k"))
    val labels = docCounts.join(classTotals, Seq("label"), "left")
      .crossJoin(broadcast(totals)).crossJoin(broadcast(vocab))
      .select(col("label"),
        round(log((col("nd_l") + 1L).cast("double") / (col("nd") + col("k")).cast("double"))
          * MicroScale, 0).cast("long").as("prior_micro"),
        round(log(lit(1.0) / (coalesce(col("n_l"), lit(0L)) + col("v")).cast("double"))
          * MicroScale, 0).cast("long").as("floor_micro"))
    val tokenProbs = counts
      .join(classTotals, Seq("label"))
      .crossJoin(broadcast(vocab))
      .select(col("label"), col("tok"),
        round(log((col("c") + 1L).cast("double") / (col("n_l") + col("v")).cast("double"))
          * MicroScale, 0).cast("long").as("lp_micro"))
    NbModel(tokenProbs, labels)
  }

  /** Per-(doc, label) exact integer scores:
    * score = prior + n_tokens·floor + Σ_{tokens seen by the class} f·(lp−floor). */
  def scores(docs: DataFrame, model: NbModel,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    // persisted: both the length aggregate and the seen-token join read
    // this frame — unpersisted, each replays the token explode + count
    // over the corpus. Session-lifetime cache contract as in TextDedup.
    val f = docTokens(docs, idCol, textCol)
      .groupBy("doc_id", "tok").agg(count(lit(1)).as("f"))
      .persistTracked()
    val nTok = f.groupBy("doc_id").agg(sum("f").as("n_tokens"))
    val seen = f.join(model.tokenProbs, Seq("tok"))
      .join(model.labels.select(col("label"), col("floor_micro")), Seq("label"))
      .groupBy("doc_id", "label")
      .agg(sum(col("f") * (col("lp_micro") - col("floor_micro"))).as("delta_micro"))
    docs.select(col(idCol).as("doc_id"))
      .join(nTok, Seq("doc_id"), "left")
      .crossJoin(broadcast(model.labels))
      .join(seen, Seq("doc_id", "label"), "left")
      .select(col("doc_id"), col("label"),
        (col("prior_micro") + coalesce(col("n_tokens"), lit(0L)) * col("floor_micro")
          + coalesce(col("delta_micro"), lit(0L))).as("score_micro"))
  }

  /** Top-1 prediction per document (deterministic: score desc, label asc)
    * over a (doc_id, label, score_micro) frame from [[scores]] — one
    * persisted scores run feeds the classify/confusion/margin/AUC/PR gates
    * without re-deriving the token explode per consumer. The argmax is a
    * HASH AGGREGATE over a (−score, label) struct min — scores are exact
    * integers so the negation is lossless and the struct ordering
    * reproduces (score desc, label asc) without the sort a row_number
    * window would pay per doc group. */
  def classifyFromScores(scoreFrame: DataFrame): DataFrame =
    scoreFrame
      .groupBy(col("doc_id"))
      .agg(min(struct((-col("score_micro")).as("ns"), col("label"))).as("top"))
      .select(col("doc_id"), col("top.label").as("predicted"),
        (-col("top.ns")).as("score_micro"))

  /** Margin-calibration bins — the reliability-diagram primitive for a
    * score-based gate: bucket documents by the classifier's DECISION
    * MARGIN (top-1 minus top-2 score, exact integer micro-nats — the
    * confidence proxy that needs no softmax/exp, so no transcendental
    * enters) and report per-bucket accuracy against gold. A
    * well-calibrated-enough filter shows accuracy rising monotonically
    * with margin; routing low-margin docs to review is the standard
    * "abstain band" play. Bins are `margin div binMicro` capped at
    * `maxBin`; docs with a single candidate class (no runner-up) are
    * unmeasurable and excluded. Counts exact; accuracy is ONE IEEE
    * division per bin. Output is bin-cardinality-sized.
    *
    * Inputs: a [[scores]] frame and a (doc_id, gold) frame. Scale shape:
    * one window over the (doc, K-class) score frame (the frame
    * [[classifyFromScores]] aggregates), then a bin-keyed count — nothing
    * beyond [[scores]]' existing shuffles plus one K-bounded window. */
  def marginBinsFromScores(scoreFrame: DataFrame, gold: DataFrame,
      binMicro: Long = 200000L, maxBin: Long = 10L): DataFrame = {
    require(binMicro > 0 && maxBin >= 0)
    val top2 = TopK.perGroup(scoreFrame, Seq(col("doc_id")),
        Seq(col("score_micro").desc, col("label")), 2, "rk")
      .groupBy("doc_id")
      .agg(max(when(col("rk") === 1, col("score_micro"))).as("s1"),
        max(when(col("rk") === 1, col("label"))).as("pred"),
        max(when(col("rk") === 2, col("score_micro"))).as("s2"))
    top2
      .join(gold, "doc_id")
      .filter(col("s2").isNotNull)
      .select(
        least(expr(s"(s1 - s2) div $binMicro"), lit(maxBin)).as("margin_bin"),
        when(col("pred") === col("gold"), 1L).otherwise(0L).as("correct"))
      .groupBy("margin_bin")
      .agg(count(lit(1)).as("n_docs"), sum(col("correct")).as("n_correct"))
      .withColumn("accuracy",
        col("n_correct").cast("double") / col("n_docs"))
  }

  /** Per-class precision / recall / F1 from a [[confusionFromScores]]
    * matrix — the standard classifier-eval report. All counts stay exact
    * integers; each metric is ONE IEEE division (F1 as
    * 2·tp/(n_gold+n_pred), never the p·r composition — one rounding,
    * cross-engine exact). Classes that are gold-only or predicted-only
    * still get a row (full join); a zero denominator yields NULL.
    * K-bounded output. */
  def metrics(conf: DataFrame): DataFrame = {
    val byGold = conf.groupBy(col("gold").as("label")).agg(sum("n_docs").as("n_gold"))
    val byPred = conf.groupBy(col("predicted").as("label")).agg(sum("n_docs").as("n_pred"))
    val tps = conf.filter(col("gold") === col("predicted"))
      .select(col("gold").as("label"), col("n_docs").as("tp"))
    byGold.join(byPred, Seq("label"), "full")
      .join(tps, Seq("label"), "left")
      .select(col("label"),
        coalesce(col("tp"), lit(0L)).as("tp"),
        coalesce(col("n_gold"), lit(0L)).as("n_gold"),
        coalesce(col("n_pred"), lit(0L)).as("n_pred"))
      .select(col("label"), col("tp"), col("n_gold"), col("n_pred"),
        when(col("n_pred") > 0,
          col("tp").cast("double") / col("n_pred").cast("double")).as("prec"),
        when(col("n_gold") > 0,
          col("tp").cast("double") / col("n_gold").cast("double")).as("recall"),
        when(col("n_gold") + col("n_pred") > 0,
          (lit(2.0) * col("tp").cast("double"))
            / (col("n_gold") + col("n_pred")).cast("double")).as("f1"))
  }

  /** Cohen's kappa over a confusion frame — chance-corrected agreement
    * between the two labelings (predicted vs gold, or any two raters):
    * κ = (p_o − p_e)/(1 − p_e) with p_o the observed agreement rate and
    * p_e = Σ_k marginal_a(k)·marginal_b(k)/n² the rate two independent
    * raters with these marginals would agree by chance. The standard
    * label-quality audit before trusting crowd/model labels for training.
    *
    * Computed as ONE IEEE division of exact integers:
    * κ = (n·agree − Σ_k rowₖ·colₖ) / (n² − Σ_k rowₖ·colₖ) — never the
    * p_o/p_e composition, which would stack three roundings. All work is
    * over the K²-bounded confusion frame (model-sized). NULL when the
    * denominator is 0 (both raters constant and identical — κ undefined). */
  def cohenKappa(conf: DataFrame): DataFrame = {
    val byGold = conf.groupBy(col("gold").as("label")).agg(sum("n_docs").as("n_gold"))
    val byPred = conf.groupBy(col("predicted").as("label")).agg(sum("n_docs").as("n_pred"))
    val peNum = byGold.join(byPred, Seq("label"), "inner")
      .agg(coalesce(sum(col("n_gold") * col("n_pred")), lit(0L)).as("pe_num"))
    conf.agg(sum("n_docs").as("n_items"),
        coalesce(sum(when(col("gold") === col("predicted"), col("n_docs"))
          .otherwise(0L)), lit(0L)).as("n_agree"))
      .crossJoin(broadcast(peNum))
      .select(col("n_items"), col("n_agree"), col("pe_num"),
        when(col("n_items") * col("n_items") - col("pe_num") =!= 0L,
          (col("n_items") * col("n_agree") - col("pe_num")).cast("double") /
            (col("n_items") * col("n_items") - col("pe_num")).cast("double"))
          .as("kappa"))
  }

  /** Confusion matrix of [[classifyFromScores]] against a (doc_id, gold)
    * frame — the classifier-eval surface (per-(gold, predicted) counts,
    * K²-bounded). */
  def confusionFromScores(scoreFrame: DataFrame, gold: DataFrame): DataFrame =
    gold.join(classifyFromScores(scoreFrame), Seq("doc_id"))
      .groupBy("gold", "predicted").agg(count(lit(1)).as("n_docs"))
}
