package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Threshold-free classifier evaluation over EXACT INTEGER scores — ROC-AUC
  * (tie-aware Mann–Whitney) and the precision/recall curve, one-vs-rest per
  * label. These are the metrics a score-based curation gate is tuned by
  * BEFORE a threshold exists: [[NaiveBayes.marginBins]] audits a chosen
  * operating point; AUC/PR rank every operating point at once.
  *
  * Reference scope: the reference pipeline (Redshift SQL control plane) has
  * no classifier eval; this extends the model-based curation tier
  * (SURVEY.md §7.8) beside [[NaiveBayes]].
  *
  * == Exactness contract ==
  * Scores are already integers (micro-nats, [[NgramLm]] device), so every
  * pairwise comparison is an integer comparison and the tie-aware U
  * statistic is an exact BIGINT: 2U = Σ_s n_pos(s)·(2·n_neg_below(s) +
  * n_neg(s)) — each positive counts 2 per strictly-lower negative and 1 per
  * tied negative. AUC = 2U / (2·n_pos·n_neg) is ONE IEEE division; same for
  * each precision/recall ratio. Overflow bound: 2U ≤ 2·n_pos·n_neg, so any
  * per-label class size product below 2^62 (≈ 2·10⁹ docs per side) is exact.
  *
  * == 100 TB shape ==
  * A global rank would need a corpus sort; instead scores collapse to the
  * per-(label, score)-DISTINCT frame (one hash agg — the only corpus-sized
  * shuffle) and the cumulative "negatives strictly below" is a per-label
  * [[PrefixSum]] over score buckets (`shiftright(s, bucketBits)` —
  * arithmetic shift = floor division, monotone in s). No window partition
  * is ever corpus-sized, unlike the single label-partitioned cumsum the
  * DuckDB oracles use (same semantic, oracle-scale algorithm). Outputs are
  * label- / distinct-score-cardinality-sized.
  */
object Eval {

  /** Per-(label, score) positive/negative counts plus exact cumulative
    * counts STRICTLY BELOW the score, via a per-label [[PrefixSum]].
    * Input `scored`: (doc_id, label, score col); `gold`: (doc_id, gold).
    * A doc is positive for label L iff gold = L (one-vs-rest). */
  private[operators] def cumBelowPerLabel(scored: DataFrame, gold: DataFrame,
      scoreCol: String, bucketBits: Int): DataFrame = {
    val perScore = scored
      .join(gold, Seq("doc_id"))
      .select(col("label"), col(scoreCol).cast("long").as("s"),
        when(col("gold") === col("label"), 1L).otherwise(0L).as("pos"))
      .groupBy("label", "s")
      .agg(sum("pos").as("np"), (count(lit(1)) - sum("pos")).as("nn"))
      .withColumn("b", shiftright(col("s"), bucketBits))
    PrefixSum.running(perScore, Seq("label"), "b", Seq(col("s")),
        "np" -> "cum_pos", "nn" -> "cum_neg")
      .select(col("label"), col("s"), col("np"), col("nn"),
        (col("cum_pos") - col("np")).as("pos_below"),
        (col("cum_neg") - col("nn")).as("neg_below"))
  }

  /** One-vs-rest ROC-AUC per label, ties handled exactly (Mann–Whitney with
    * midrank): (label, n_pos, n_neg, u2, auc) where u2 = 2U is the exact
    * integer numerator and auc = u2/(2·n_pos·n_neg) — NULL when a label has
    * no positives or no negatives (AUC undefined). */
  def aucPerLabel(scored: DataFrame, gold: DataFrame,
      scoreCol: String = "score_micro", bucketBits: Int = 20): DataFrame =
    cumBelowPerLabel(scored, gold, scoreCol, bucketBits)
      .groupBy("label")
      .agg(sum("np").as("n_pos"), sum("nn").as("n_neg"),
        sum(col("np") * (lit(2L) * col("neg_below") + col("nn"))).as("u2"))
      .select(col("label"), col("n_pos"), col("n_neg"), col("u2"),
        when(col("n_pos") > 0 && col("n_neg") > 0,
          col("u2").cast("double")
            / (lit(2L) * col("n_pos") * col("n_neg")).cast("double")).as("auc"))

  /** One-vs-rest precision/recall curve per label: one row per DISTINCT
    * score s that some document attains, scoring the gate "keep iff
    * score ≥ s" — tp/fp are exact integers derived from the same
    * cumulative frame as [[aucPerLabel]] (count_{≥s} = total − count_{<s}),
    * prec/recall ONE IEEE division each. Output is distinct-score-sized;
    * downstream pickers (max-F1, precision-floor) reduce it further. */
  def prCurvePerLabel(scored: DataFrame, gold: DataFrame,
      scoreCol: String = "score_micro", bucketBits: Int = 20): DataFrame = {
    val cum = cumBelowPerLabel(scored, gold, scoreCol, bucketBits)
    val totals = cum.groupBy("label")
      .agg(sum("np").as("n_pos"), sum("nn").as("n_neg"))
    cum.join(totals, Seq("label"))
      .select(col("label"), col("s").as("threshold_micro"),
        (col("n_pos") - col("pos_below")).as("tp"),
        (col("n_neg") - col("neg_below")).as("fp"),
        col("n_pos"))
      .select(col("label"), col("threshold_micro"), col("tp"), col("fp"),
        col("n_pos"),
        (col("tp").cast("double") / (col("tp") + col("fp")).cast("double"))
          .as("prec"),
        when(col("n_pos") > 0,
          col("tp").cast("double") / col("n_pos").cast("double")).as("recall"))
  }

  /** Mutual information between two CATEGORICAL columns — the dataset-bias
    * audit ("how much does source predict language?"): MI = Σ_xy p_xy ·
    * ln(p_xy / (p_x·p_y)), reported per cell as the exact integer
    * `pmi_micro = round(ln((n_xy·N)/(n_x·n_y))·10⁶)` (the [[NgramLm]]
    * quantize-at-source device, association order pinned to
    * (n_xy·N)/(n_x·n_y) as one double ratio) plus the corpus total
    * `mi_micro = Σ n_xy·pmi_micro` — an exact BIGINT whose single IEEE
    * division by N·10⁶ yields MI in nats. MI = 0 ⇔ independent;
    * high MI = a confounded dataset a mixture gate should re-balance.
    * Shape: one joint census + two marginal censuses joined on the
    * K-cardinality cell frame; no window, no collect. */
  def categoricalMi(df: DataFrame, xCol: String, yCol: String): DataFrame = {
    val base = df.select(col(xCol).cast("string").as("x"),
      col(yCol).cast("string").as("y"))
    val joint = base.groupBy("x", "y").agg(count(lit(1)).as("n_xy"))
    val mx = base.groupBy("x").agg(count(lit(1)).as("n_x"))
    val my = base.groupBy("y").agg(count(lit(1)).as("n_y"))
    val n = base.agg(count(lit(1)).as("n"))
    val cells = joint.join(mx, Seq("x")).join(my, Seq("y"))
      .crossJoin(broadcast(n))
      .withColumn("pmi_micro", round(log(
          (col("n_xy").cast("double") * col("n").cast("double")) /
          (col("n_x").cast("double") * col("n_y").cast("double"))) * 1000000L, 0)
        .cast("long"))
    val tot = cells
      .agg(sum(col("n_xy") * col("pmi_micro")).as("mi_micro"),
        first(col("n")).as("__n"))
      .select(col("mi_micro"),
        (col("mi_micro").cast("double") / (col("__n") * lit(1000000L)).cast("double"))
          .as("mi_nats"))
    cells.crossJoin(broadcast(tot))
      .select(col("x").as(xCol), col("y").as(yCol), col("n_xy"), col("n_x"),
        col("n_y"), col("pmi_micro"), col("mi_micro"), col("mi_nats"))
  }

  /** ROUGE-2-style clipped bigram overlap between (candidate, reference)
    * document PAIRS — the reference-based generation/summarization metric,
    * and (flipped) a targeted contamination probe between specific pairs:
    * overlap = Σ_g min(c_cand(g), c_ref(g)) over the candidate's bigrams g
    * (the clipped count of BLEU's modified precision). precision = o/|cand|
    * and recall = o/|ref| are ONE IEEE division each (NULL when the side
    * has no bigrams); their harmonic mean needs no float chain —
    * F1 = 2PR/(P+R) = 2o/(|cand|+|ref|) — so it ships as the exact integer
    * `f1_ppm = 2·o·10⁶ div (|cand|+|ref|)`.
    *
    * Shape: one corpus-sized gram-count aggregate; the clip join keys on
    * (ref_id, gram), so candidate volume shuffles once per PAIR, never
    * corpus² — pair selection (who is compared to whom) is the caller's
    * blocking contract, same as [[TextDedup]] candidates. */
  def bigramOverlap(pairs: DataFrame, docs: DataFrame,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    val g = NgramLm.bigrams(docs, idCol, textCol)
      .groupBy(col("doc_id"), concat_ws(" ", col("w1"), col("w2")).as("gram"))
      .agg(count(lit(1)).as("c"))
    val tot = g.groupBy("doc_id").agg(sum("c").as("t"))
    val p = pairs.select(col("cand_id").cast("long").as("cand_id"),
      col("ref_id").cast("long").as("ref_id"))
    val ov = p
      .join(g.withColumnRenamed("doc_id", "cand_id"), Seq("cand_id"))
      .join(g.select(col("doc_id").as("ref_id"), col("gram"),
        col("c").as("rc")), Seq("ref_id", "gram"), "left")
      .groupBy("cand_id", "ref_id")
      .agg(sum(least(col("c"), coalesce(col("rc"), lit(0L)))).as("o"))
    p.join(ov, Seq("cand_id", "ref_id"), "left")
      .join(tot.select(col("doc_id").as("cand_id"), col("t").as("ct")),
        Seq("cand_id"), "left")
      .join(tot.select(col("doc_id").as("ref_id"), col("t").as("rt")),
        Seq("ref_id"), "left")
      .select(col("cand_id"), col("ref_id"),
        coalesce(col("o"), lit(0L)).as("n_overlap"),
        coalesce(col("ct"), lit(0L)).as("n_cand"),
        coalesce(col("rt"), lit(0L)).as("n_ref"))
      .withColumn("precision", expr("n_overlap / nullif(n_cand, 0)"))
      .withColumn("recall", expr("n_overlap / nullif(n_ref, 0)"))
      .withColumn("f1_ppm",
        expr("(2 * n_overlap * 1000000) div greatest(n_cand + n_ref, 1)"))
  }
}
