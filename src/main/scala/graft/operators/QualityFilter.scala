package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.functions.Text

/** Document quality scoring + filtering — the standard pre-training corpus
  * gate (length bounds, alphabetic ratio, stopword density). Pure map-side
  * column arithmetic: at 100 TB this runs inside the scan's whole-stage
  * codegen with zero shuffles, and the filter prunes downstream volume
  * before any expensive dedup/similarity stage.
  */
object QualityFilter {

  final case class Thresholds(
      minTokens: Long = 20,
      maxTokens: Long = 1 << 20,
      minAlphaRatio: Double = 0.6,
      minStopRatio: Double = 0.01)

  /** Adds n_tokens / n_chars / n_letters / n_stopwords / alpha_ratio /
    * stop_ratio / quality_score columns (deterministic arithmetic). */
  def scored(docs: DataFrame, textCol: String = "text",
      stopwords: Seq[String] = Seq("the", "a", "of", "and", "in", "to")): DataFrame =
    docs
      .withColumn("toks", Text.tokens(col(textCol)))
      .withColumn("n_tokens", size(col("toks")).cast("long"))
      .withColumn("n_chars", length(col(textCol)).cast("long"))
      .withColumn("n_letters", Text.letterCount(col(textCol)))
      .withColumn("n_stopwords", Text.vocabHits("toks", stopwords))
      .withColumn("alpha_ratio", col("n_letters") / col("n_chars").cast("double"))
      .withColumn("stop_ratio", col("n_stopwords") / col("n_tokens").cast("double"))
      .withColumn("quality_score", col("alpha_ratio") * 0.5 + col("stop_ratio") * 0.5)
      .drop("toks")

  /** Rows passing the thresholds, with a `keep` verdict retained for audit. */
  def verdicts(docs: DataFrame, t: Thresholds = Thresholds()): DataFrame =
    scored(docs).withColumn("keep",
      col("n_tokens") >= t.minTokens && col("n_tokens") <= t.maxTokens &&
        col("alpha_ratio") >= t.minAlphaRatio && col("stop_ratio") >= t.minStopRatio)

  def filter(docs: DataFrame, t: Thresholds = Thresholds()): DataFrame =
    verdicts(docs, t).filter(col("keep")).drop("keep")

  /** Repetition score: fraction of DUPLICATED k-token shingles,
    * `1 − n_distinct / n_total` (0 = no repetition, →1 = one phrase looped)
    * — the crawl-quality signal that catches boilerplate and keyword
    * stuffing, which sail through length/alphabetic gates. Integer counts,
    * one exact double division at the end; map-side like everything here. */
  def repetitionScored(docs: DataFrame, textCol: String = "text", k: Int = 3): DataFrame =
    docs
      .withColumn("toks", Text.tokens(col(textCol)))
      .withColumn("n_shingles",
        greatest(size(col("toks")).cast("long") - (k - 1), lit(0L)))
      .withColumn("n_distinct", size(Text.shingles("toks", k)).cast("long"))
      .withColumn("repetition",
        when(col("n_shingles") > 0,
          lit(1.0) - col("n_distinct").cast("double") / col("n_shingles").cast("double"))
          .otherwise(lit(0.0)))
      .drop("toks")

  /** Corpus-LM quality surrogate without a language model (the CCNet idea —
    * score documents by how typical their n-grams are — with corpus counts
    * standing in for LM probabilities, so no libm/perplexity floats ever
    * enter the result): `coverage` = fraction of the doc's bigram
    * occurrences seen `minCount`+ times corpus-wide. Low coverage flags
    * gibberish/OCR noise/wrong-tokenization docs whose token PAIRS are rare
    * even when each token is common (the unigram stopword gate misses
    * those). Shape: one span_hash shuffle + one doc agg
    * ([[TextDedup.spanDupStats]] at width 2). */
  def bigramCoverage(docs: DataFrame, minCount: Long = 3,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame =
    TextDedup.spanDupStats(docs, width = 2, minCount = minCount,
        idCol = idCol, textCol = textCol)
      .select(col("doc_id"), col("n_spans").as("n_bigrams"),
        col("n_dup_spans").as("n_common"), col("dup_fraction").as("coverage"))

  /** Token-rarity features from the corpus's OWN frequency table — the
    * unigram half of frequency-based quality filtering: a doc whose rarest
    * token is corpus-unique (`min_tok_freq` = 1, `n_hapax` > 0) carries
    * OCR noise / mojibake / random IDs; a doc whose RAREST token is still
    * very common is pure boilerplate vocabulary. All-integer outputs, so
    * the gate is cross-engine exact (no log-probability floats — the same
    * design rule as [[bigramCoverage]]).
    *
    * Shape: one token-occurrence stream feeds (a) a word-count-shaped
    * frequency aggregate (vocab-sized result) and (b) an equi-join of that
    * table back onto the stream + one per-doc aggregate. The corpus is
    * scanned twice — the standard trade at 100 TB, where persisting the
    * exploded occurrence stream would cost more than the re-scan; the
    * vocab side is broadcast-eligible whenever the vocabulary fits (AQE
    * decides), else it is a plain token-keyed shuffle join. */
  def tokenRarity(docs: DataFrame,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    def occurrences = docs.select(col(idCol).as("doc_id"),
      explode(Text.tokens(col(textCol))).as("tok"))
    val freq = occurrences.groupBy(col("tok")).agg(count(lit(1)).as("tok_freq"))
    occurrences.join(freq, "tok")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_tokens"),
        min(col("tok_freq")).as("min_tok_freq"),
        max(col("tok_freq")).as("max_tok_freq"),
        sum(when(col("tok_freq") === 1, 1L).otherwise(0L)).as("n_hapax"))
  }

  /** Unigram (token) Shannon entropy per document, in exact micro-nat
    * integer form: with N tokens and per-token counts n_t,
    * `H = (1/N)·Σ_t n_t·ln(N/n_t)`. Low entropy = few tokens dominate
    * (looped phrases, tag soup, keyword stuffing); high entropy ≈ ln(N) =
    * all-distinct text. Complements [[repetitionScored]] (which only sees
    * EXACT k-shingle repeats — entropy also catches shuffled repetition).
    *
    * Cross-engine exactness: each distinct (n_t, N) pair contributes
    * `n_t · round(ln(N/n_t)·1e6)` — integer products summed exactly —
    * and the final division by N·1e6 is one IEEE op (the
    * [[graft.operators.NgramLm]] micro-nat quantization contract).
    * Shape: one explode + two-level aggregate, shuffled on (doc_id, tok)
    * then doc_id — embarrassingly parallel per document at 100 TB. */
  def tokenEntropy(docs: DataFrame,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    val perTok = docs
      .select(col(idCol).as("doc_id"), explode(Text.tokens(col(textCol))).as("tok"))
      .groupBy("doc_id", "tok").agg(count(lit(1)).as("nt"))
    val perDoc = perTok
      .withColumn("n", sum("nt").over(
        org.apache.spark.sql.expressions.Window.partitionBy("doc_id")))
      .groupBy("doc_id")
      .agg(max("n").as("n_tokens"),
        count(lit(1)).as("n_distinct"),
        sum(col("nt") * round(log(col("n").cast("double") / col("nt").cast("double"))
          * NgramLm.MicroScale, 0).cast("long")).as("h_micro_sum"))
    perDoc.select(col("doc_id"), col("n_tokens"), col("n_distinct"),
      (col("h_micro_sum").cast("double") / (col("n_tokens") * NgramLm.MicroScale))
        .as("entropy_nats"))
  }

  /** Corpus-RELATIVE quality gating: keep rows whose metric reaches the
    * corpus's own `quantile` of that metric — the production form of
    * threshold selection (fixed constants go stale as the corpus shifts;
    * "drop the bottom quartile" does not). The exact interpolated
    * percentile is one aggregate whose 1-row result broadcasts into a
    * map-side flag — no second scan shape, engine-portable arithmetic
    * (Spark `percentile` ≡ DuckDB `quantile_cont`). */
  def quantileGate(df: DataFrame, metricCol: String, quantile: Double): DataFrame = {
    val cut = df.agg(expr(s"percentile($metricCol, $quantile)").as("cutoff"))
    df.crossJoin(broadcast(cut))
      .withColumn("keep", keepVerdict(metricCol))
  }

  /** NULL metrics never pass a gate (percentile ignores them, so a NULL
    * can't influence the cutoff either) — `keep` is always a real boolean,
    * so `filter(col("keep"))` audits every input row instead of silently
    * three-valued-logic-dropping the NULLs. */
  private def keepVerdict(metricCol: String) =
    coalesce(col(metricCol) >= col("cutoff"), lit(false))

  /** Per-GROUP corpus-relative gating: each group (language / source /
    * shard) gets its OWN exact-percentile cutoff — the real curation shape.
    * A corpus-global P25 is dominated by the majority language: it
    * under-gates that language and guts the low-resource ones (their whole
    * distribution can sit below a global cutoff). Shape: one grouped
    * exact-percentile aggregate whose result is group-cardinality-sized,
    * broadcast back into a map-side flag — same two-pass scan cost as the
    * global [[quantileGate]] at any corpus size. */
  def quantileGateGrouped(df: DataFrame, groupCol: String, metricCol: String,
      quantile: Double): DataFrame = {
    // Null-SAFE join: groupBy computes a cutoff for the NULL group, and a
    // plain equi-join would never match it back — rows with a NULL group
    // would vanish from the output (neither keep=true nor keep=false).
    // `<=>` keeps every input row, matching the global gate's contract.
    val cuts = df.groupBy(col(groupCol).as("__gate_group"))
      .agg(expr(s"percentile($metricCol, $quantile)").as("cutoff"))
    df.join(broadcast(cuts), col(groupCol) <=> col("__gate_group"), "left")
      .drop("__gate_group")
      .withColumn("keep", keepVerdict(metricCol))
  }

  /** Per-group quantile NORMALIZATION: replace a raw score with its exact
    * within-group percentile (fixed-point, (rank−1)·10⁶ div (n−1)) — the
    * calibration step before any cross-source threshold: "top 20% of
    * arxiv" and "top 20% of web" become the same number even when the raw
    * score distributions are incomparable (quality classifiers routinely
    * score sources on different scales). Ties share a rank (and thus a
    * percentile) — deterministic with no tie-break column; a singleton
    * group normalizes to 0. One group-partitioned window; group sizes
    * bound the partition (source/language cardinalities, not the corpus). */
  def quantileNormalizeGrouped(df: DataFrame, groupCol: String,
      metricCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // NULL metrics get NULL pct_fp (not percentile 0): Spark's default
    // NULLS FIRST would silently rank them lowest while the DuckDB replay
    // form defaults NULLS LAST — pin the ordering explicitly and exclude
    // NULLs from both the rank and the group size, so the two engines
    // agree and a NULL score never masquerades as "worst in group".
    val w = Window.partitionBy(col(groupCol)).orderBy(col(metricCol).asc_nulls_last)
    val g = Window.partitionBy(col(groupCol))
    df.withColumn("__r", rank().over(w).cast("long"))
      .withColumn("__n", count(col(metricCol)).over(g))
      .withColumn("pct_fp", when(col(metricCol).isNotNull,
        expr("(__r - 1) * 1000000 div greatest(__n - 1, 1)")))
      .drop("__r", "__n")
  }

  /** Equal-frequency (quantile) binning — the classic numeric-feature
    * discretization for ML feature engineering and histogram-equalized
    * monitoring: k−1 EXACT percentile cutoffs (broadcast) turn the metric
    * into a map-side bin id `1 + |{cuts < value}|`, so a value at or below
    * the first cutoff lands in bin 1 and ties share a bin (the scale-safe
    * form — a global ntile would sort the corpus on one task, and its
    * arbitrary tie-splitting is not reproducible). NULL metrics bin NULL.
    *
    * Cut derivation: the value histogram is a parallel hash aggregate
    * (the cumulative rank and the total both read it); ranks
    * come from a cumulative sum over that value-CARDINALITY-sized frame
    * on one partition (the [[winsorize]] silhouette — the same one-task
    * sort of the distinct values that `percentile`'s reducer does); and
    * the k−1 interpolated cuts replicate Spark `percentile`'s arithmetic
    * EXACTLY — position = q·(n−1), cut = (⌈pos⌉−pos)·v[⌊pos⌋] +
    * (pos−⌊pos⌋)·v[⌈pos⌉], same double expression order — so the bins
    * equal those of `percentile` (and DuckDB's quantile_cont on the gate
    * fixtures, proven by the unchanged oracle). Construction runs no job. */
  def equalFrequencyBins(df: DataFrame, metricCol: String, k: Int): DataFrame = {
    require(k >= 2, s"need at least 2 bins, got $k")
    import org.apache.spark.sql.expressions.Window
    val m = col(metricCol)
    val hist = df.filter(m.isNotNull).groupBy(m.as("__v"))
      .agg(count(lit(1)).as("__c"))
    // The explicit pmod key is constant-valued but non-foldable,
    // documenting that one partition is the DESIGN here and silencing
    // WindowExec's unbounded-frame warning. Exact integer cumsum.
    val cum = hist.withColumn("__cum", sum(col("__c")).over(
      Window.partitionBy(pmod(col("__c"), lit(1))).orderBy(col("__v"))
        .rowsBetween(Window.unboundedPreceding, 0)))
    val n = hist.agg(coalesce(sum(col("__c")), lit(0L)).as("__n"))
    val qLits = (1 until k).map(i => lit(i.toDouble / k))
    val cutSpec = broadcast(n
      .select(explode(array(qLits: _*)).as("__q"), col("__n"))
      .select((col("__q") * (col("__n") - 1).cast("double")).as("__pos"))
      .select(col("__pos"), floor(col("__pos")).cast("long").as("__lo"),
        ceil(col("__pos")).cast("long").as("__hi")))
    // value at 0-based rank r = the histogram row with __cum−__c ≤ r < __cum;
    // one pass picks both neighbors (k−1 spec rows broadcast, OR-condition)
    val loHit = col("__lo") >= col("__cum") - col("__c") && col("__lo") < col("__cum")
    val hiHit = col("__hi") >= col("__cum") - col("__c") && col("__hi") < col("__cum")
    val cuts = cum.join(cutSpec, loHit || hiHit)
      .groupBy(col("__pos"), col("__lo"), col("__hi"))
      .agg(max(when(loHit, col("__v"))).as("__lov"),
        max(when(hiHit, col("__v"))).as("__hiv"))
      .select(when(col("__lo") === col("__hi"), col("__lov").cast("double"))
        .otherwise(
          (col("__hi").cast("double") - col("__pos")) * col("__lov").cast("double") +
          (col("__pos") - col("__lo").cast("double")) * col("__hiv").cast("double"))
        .as("__cut"))
      .agg(sort_array(collect_list(col("__cut"))).as("__cuts"))
    df.crossJoin(broadcast(cuts))
      .withColumn("bin",
        expr(s"CASE WHEN $metricCol IS NULL THEN NULL ELSE " +
          s"CAST(size(filter(__cuts, c -> $metricCol > c)) + 1 AS BIGINT) END"))
      .drop("__cuts")
  }

  /** Two-sided winsorization at exact type-1 (ceiling) order statistics:
    * clamp `metricCol` into [v_(⌈n·lo⌉), v_(⌈n·hi⌉)] where v_(k) is the
    * k-th smallest value. The outlier-taming transform for reward/weight
    * columns feeding a training mix — unlike dropping, every row survives;
    * unlike interpolated percentiles, the cut points ARE data values, so
    * on integer metrics the whole op is exact integer arithmetic with no
    * IEEE interpolation to disagree across engines (quantile fractions are
    * exact rationals loNum/den, hiNum/den; cut ranks use ceiling division
    * (n·q + den−1) div den).
    *
    * Shape: one value-keyed histogram aggregate, a cumulative sum over the
    * VALUE-CARDINALITY-sized histogram (single-partition window — bounded
    * by distinct metric values, not rows, the same silhouette as the exact
    * percentile scans), one 1-row cut aggregate broadcast into a map-side
    * clamp. NULL metrics pass through NULL and do not shift the ranks. */
  def winsorize(df: DataFrame, metricCol: String,
      loNum: Long, hiNum: Long, den: Long): DataFrame = {
    require(0 <= loNum && loNum <= hiNum && hiNum <= den,
      s"need 0 <= lo <= hi <= 1, got $loNum/$den..$hiNum/$den")
    val m = col(metricCol)
    val hist = df.filter(m.isNotNull).groupBy(m.as("__v"))
      .agg(count(lit(1)).as("__c"))
    val cum = hist.withColumn("__cum", sum(col("__c")).over(
      org.apache.spark.sql.expressions.Window.orderBy(col("__v"))
        .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)))
    // n from the (value-cardinality-sized) histogram — a df.count() here
    // would re-scan the table
    val n = hist.agg(sum(col("__c")).as("__n"))
    val cuts = cum.crossJoin(broadcast(n)).agg(
      min(when(col("__cum") >= expr(s"(__n * $loNum + ${den - 1}) div $den"),
        col("__v"))).as("lo_cut"),
      min(when(col("__cum") >= expr(s"(__n * $hiNum + ${den - 1}) div $den"),
        col("__v"))).as("hi_cut"))
    // least/greatest SKIP nulls in both engines (greatest(NULL, lo) = lo),
    // so NULL pass-through needs the explicit branch
    df.crossJoin(broadcast(cuts))
      .withColumn(s"${metricCol}_w", when(m.isNull, lit(null))
        .otherwise(least(greatest(m, col("lo_cut")), col("hi_cut"))))
  }

  /** Per-GROUP winsorization: each group (language / source / shard)
    * clamps at its OWN exact ceiling-rank order statistics — the grouped
    * companion to [[winsorize]], for the same reason [[quantileGateGrouped]]
    * exists: a global clamp is majority-group-dominated and mangles the
    * minority groups' tails. Cut derivation is one (group, value)
    * histogram + a group-partitioned cumulative window (value-cardinality
    * sized per group, never row-sized) + a group-keyed 1-row-per-group cut
    * aggregate joined back map-side. All integer arithmetic. */
  def winsorizeGrouped(df: DataFrame, groupCol: String, metricCol: String,
      loNum: Long, hiNum: Long, den: Long): DataFrame = {
    require(0 <= loNum && loNum <= hiNum && hiNum <= den,
      s"need 0 <= lo <= hi <= 1, got $loNum/$den..$hiNum/$den")
    val m = col(metricCol)
    val g = col(groupCol)
    val hist = df.filter(m.isNotNull).groupBy(g.as("__g"), m.as("__v"))
      .agg(count(lit(1)).as("__c"))
    val cum = hist.withColumn("__cum", sum(col("__c")).over(
      org.apache.spark.sql.expressions.Window.partitionBy(col("__g"))
        .orderBy(col("__v"))
        .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)))
      .withColumn("__n", sum(col("__c")).over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("__g"))))
    val cuts = cum.groupBy(col("__g").as(groupCol)).agg(
      min(when(col("__cum") >= expr(s"(__n * $loNum + ${den - 1}) div $den"),
        col("__v"))).as("lo_cut"),
      min(when(col("__cum") >= expr(s"(__n * $hiNum + ${den - 1}) div $den"),
        col("__v"))).as("hi_cut"))
    df.join(broadcast(cuts), Seq(groupCol), "left")
      .withColumn(s"${metricCol}_w", when(m.isNull, lit(null))
        .otherwise(least(greatest(m, col("lo_cut")), col("hi_cut"))))
  }

  /** Exact per-group order statistics: one row per group with the
    * ⌈n·q⌉-th smallest metric value for each requested quantile
    * (numerator/den exact rationals) — the p50/p95/p99 SLA report, in
    * the same pure-integer type-1 form as [[winsorize]] (data-valued
    * results, no interpolation, NULLs excluded from ranks). One
    * (group, value) histogram + a grouped cumulative window
    * (value-cardinality-sized) + one cut aggregate. */
  def groupOrderStats(df: DataFrame, groupCol: String, metricCol: String,
      numerators: Seq[Long], den: Long): DataFrame = {
    require(numerators.nonEmpty && numerators.forall(n => n >= 0 && n <= den),
      s"quantile numerators must lie in [0, $den]")
    val m = col(metricCol)
    val g = col(groupCol)
    val cum = df.filter(m.isNotNull).groupBy(g.as("__g"), m.as("__v"))
      .agg(count(lit(1)).as("__c"))
      .withColumn("__cum", sum(col("__c")).over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("__g"))
          .orderBy(col("__v"))
          .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)))
      .withColumn("__n", sum(col("__c")).over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("__g"))))
    val aggs = numerators.map { q =>
      min(when(col("__cum") >= expr(s"(__n * $q + ${den - 1}) div $den"),
        col("__v"))).as(s"p_$q")
    }
    cum.groupBy(col("__g").as(groupCol))
      .agg(max(col("__n")).as("n_values"), aggs: _*)
  }

  /** The published Gopher document-quality rule set (Rae et al. 2021,
    * "Scaling Language Models: ... Gopher", App. A1.1) — the standard
    * heuristic battery run BEFORE any model-based filtering:
    * word-count bounds, mean-word-length band, symbol-to-word ratio
    * ('#' and '...' — markup/truncation debris), minimum fraction of
    * words containing a letter, and a minimum stopword-hit count.
    *
    * Every metric is exact integer counting followed by at most one IEEE
    * division (deterministic cross-engine), and each rule is ALSO exposed
    * as its own boolean so curation can audit which rule killed a document
    * (the production question is never "did it fail" but "why").
    * Pure map-side column arithmetic — whole-stage codegen, zero shuffles,
    * same 100 TB shape as [[scored]]. */
  final case class GopherThresholds(
      minWords: Long = 50,
      maxWords: Long = 100000,
      minMeanWordLen: Double = 3.0,
      maxMeanWordLen: Double = 10.0,
      maxSymbolRatio: Double = 0.1,
      minAlphaWordRatio: Double = 0.8,
      minStopwordHits: Long = 2)

  def gopherScored(docs: DataFrame, t: GopherThresholds = GopherThresholds(),
      textCol: String = "text",
      stopwords: Seq[String] = Seq("the", "a", "of", "and", "in", "to")): DataFrame =
    docs
      .withColumn("toks", Text.tokens(col(textCol)))
      .withColumn("n_words", size(col("toks")).cast("long"))
      // Σ word length via one fold — NOT length(text) − (n−1), which would
      // bake in the single-space-join assumption of this fixture.
      .withColumn("sum_word_len",
        expr("aggregate(toks, 0L, (acc, t) -> acc + length(t))"))
      .withColumn("n_symbol_words",
        ((length(col(textCol)) - length(regexp_replace(col(textCol), "#", ""))) +
          (length(col(textCol)) -
            length(regexp_replace(col(textCol), "\\.\\.\\.", ""))) / 3).cast("long"))
      .withColumn("n_alpha_words",
        expr("size(filter(toks, t -> t rlike '[a-zA-Z]'))").cast("long"))
      .withColumn("n_stopword_hits", Text.vocabHits("toks", stopwords))
      .withColumn("mean_word_len",
        when(col("n_words") > 0,
          col("sum_word_len").cast("double") / col("n_words")).otherwise(lit(0.0)))
      .withColumn("symbol_ratio",
        when(col("n_words") > 0,
          col("n_symbol_words").cast("double") / col("n_words")).otherwise(lit(0.0)))
      .withColumn("alpha_word_ratio",
        when(col("n_words") > 0,
          col("n_alpha_words").cast("double") / col("n_words")).otherwise(lit(0.0)))
      .withColumn("r_word_count",
        col("n_words") >= t.minWords && col("n_words") <= t.maxWords)
      .withColumn("r_mean_len",
        col("mean_word_len") >= t.minMeanWordLen &&
          col("mean_word_len") <= t.maxMeanWordLen)
      .withColumn("r_symbol", col("symbol_ratio") <= t.maxSymbolRatio)
      .withColumn("r_alpha", col("alpha_word_ratio") >= t.minAlphaWordRatio)
      .withColumn("r_stop", col("n_stopword_hits") >= t.minStopwordHits)
      .withColumn("keep",
        col("r_word_count") && col("r_mean_len") && col("r_symbol") &&
          col("r_alpha") && col("r_stop"))
      .drop("toks")

  /** Per-document out-of-vocabulary rate against a vocabulary table — the
    * tokenizer-coverage audit (a doc whose tokens mostly miss the model's
    * vocabulary trains badly and usually signals wrong language, encoding
    * damage, or non-text): n_tokens, n_oov and their ratio per doc.
    * Shape: token explode + ONE broadcast left join against the
    * (vocab-sized) table + per-doc aggregate — no corpus-keyed shuffle
    * beyond the doc rollup. Companion to [[graft.operators.BpeVocab]]'s
    * fertility audit: fertility measures how finely known text splits,
    * OOV rate how much text is not known at all. */
  def oovRate(docs: DataFrame, vocab: DataFrame, idCol: String = "doc_id",
      textCol: String = "text"): DataFrame =
    docs.select(col(idCol).as("doc_id"),
        explode(Text.tokens(col(textCol))).as("tok"))
      .join(broadcast(vocab.select(col("tok")).distinct()
        .withColumn("__known", lit(1))), Seq("tok"), "left")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_tokens"),
        sum(when(col("__known").isNull, 1L).otherwise(0L)).as("n_oov"))
      .withColumn("oov_rate",
        col("n_oov").cast("double") / col("n_tokens").cast("double"))

  /** Classic readability + lexical-diversity signals — the curation band
    * between raw Gopher heuristics and a trained quality model: Flesch
    * reading ease and Flesch–Kincaid grade (Kincaid et al. 1975 — the
    * formulas every readability-filtered corpus cites) plus type–token
    * ratio. All inputs are EXACT integer counts per doc:
    *   - sentences: runs of terminal punctuation `[.!?]+` (min 1 so a
    *     fragment without punctuation scores as one sentence, not ÷0);
    *   - words: whitespace runs;
    *   - syllables: the standard vowel-group heuristic — runs of
    *     `[aeiouy]+` per lowercased word, min 1 per word;
    *   - distinct words: case-folded exact distinct (TTR numerator).
    * The three float outputs each apply the published constants to ONE
    * ratio of exact integers with a fixed parenthesization, so IEEE-double
    * evaluation is bit-identical cross-engine. Pure map-side HOF
    * arithmetic — zero shuffles at any scale. */
  def readability(docs: DataFrame, idCol: String = "doc_id",
      textCol: String = "text"): DataFrame = {
    val syllables =
      "aggregate(transform(__words, w -> " +
        "greatest(1, size(regexp_extract_all(lower(w), '[aeiouy]+', 0)))), " +
        "0L, (a, x) -> a + CAST(x AS LONG))"
    docs
      .withColumn("__words", split(trim(col(textCol)), "\\s+"))
      .withColumn("n_sentences",
        greatest(lit(1L),
          size(regexp_extract_all(col(textCol), lit("[.!?]+"), lit(0))).cast("long")))
      .withColumn("n_words", size(col("__words")).cast("long"))
      .withColumn("n_syllables", expr(syllables))
      .withColumn("n_distinct_words",
        expr("size(array_distinct(transform(__words, w -> lower(w))))").cast("long"))
      .withColumn("wps", col("n_words").cast("double") / col("n_sentences").cast("double"))
      .withColumn("spw", col("n_syllables").cast("double") / col("n_words").cast("double"))
      .select(col(idCol).as("doc_id"), col("n_sentences"), col("n_words"),
        col("n_syllables"), col("n_distinct_words"),
        (col("n_distinct_words").cast("double") / col("n_words").cast("double")).as("ttr"),
        ((lit(0.39) * col("wps") + lit(11.8) * col("spw")) - lit(15.59)).as("fk_grade"),
        ((lit(206.835) - lit(1.015) * col("wps")) - lit(84.6) * col("spw")).as("reading_ease"))
  }
}
