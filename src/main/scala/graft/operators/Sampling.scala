package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.Hashing

/** Training-data selection operators: deterministic sampling and per-group
  * quota ("data mixing") selection.
  *
  * Both are built for reproducibility at corpus scale: selection is a pure
  * function of document identity (portable md5-derived hash), never of
  * partition layout or RNG state — re-running the pipeline on a re-shuffled
  * 100 TB corpus selects exactly the same documents. `sample()`/`rand()`
  * cannot promise that (seeded per-partition), so they are deliberately not
  * used.
  */
object Sampling {

  /** Deterministic hash bucket in [0, buckets) from a key column. */
  def hashBucket(key: Column, buckets: Int = 100): Column =
    Hashing.hash64(key.cast("string")) % buckets

  /** Keep `pct`% of rows, chosen by hash bucket of `keyCol` — stable across
    * runs, partitionings, and engines; map-side only (rides the scan). */
  def hashSample(df: DataFrame, keyCol: String, pct: Int, buckets: Int = 100): DataFrame =
    df.filter(hashBucket(col(keyCol), buckets) < pct * buckets / 100)

  /** Sequence packing (the pretraining concat-then-chunk layout): place
    * each document at its cumulative-token offset inside fixed
    * `tokenBudget` training sequences. Documents shard by id hash (shards
    * pack independently in parallel — the 100 TB axis), order
    * deterministically within shard, and get
    * `seq_id = cum_before div budget`, `offset = cum_before mod budget`
    * (offset packing: a doc may straddle a boundary, as concat-and-chunk
    * does). Pure integer arithmetic over one per-shard window — the same
    * layout on every rerun. */
  def packSequences(docs: DataFrame, tokenCount: Column, idCol: String,
      tokenBudget: Int, shards: Int = 64): DataFrame = {
    val w = Window.partitionBy(col("shard")).orderBy(col(idCol))
      .rowsBetween(Window.unboundedPreceding, -1)
    docs.select(col(idCol), tokenCount.cast("long").as("n_tokens"),
        hashBucket(col(idCol), shards).as("shard"))
      .withColumn("cum_before", coalesce(sum(col("n_tokens")).over(w), lit(0L)))
      .withColumn("seq_id", expr(s"cum_before div $tokenBudget"))
      .withColumn("offset", (col("cum_before") % tokenBudget).cast("long"))
  }

  /** Curriculum-ordered sequence packing: documents are staged into
    * `phases` difficulty tiers (exact equal-frequency bins of
    * `difficultyCol` — [[QualityFilter.equalFrequencyBins]], broadcast
    * cutoffs, map-side stamp) and packed WITHIN (phase, shard), so a
    * trainer consuming sequences in (phase, shard, seq_id) order sees
    * easy→hard — curriculum learning's data layout — while each phase
    * keeps [[packSequences]]'s exact deterministic offsets. Same 100 TB
    * shape: phases×shards independent pack windows, one shuffle. No
    * global rank is materialized — (phase, shard, seq_id) IS the order
    * key, so nothing ever sorts on one task. NULL-difficulty docs land in
    * phase NULL (binning convention) for the caller to route. */
  def packSequencesCurriculum(docs: DataFrame, tokenCount: Column, idCol: String,
      difficultyCol: String, phases: Int, tokenBudget: Int,
      shards: Int = 64): DataFrame = {
    val binned = QualityFilter.equalFrequencyBins(docs, difficultyCol, phases)
      .withColumnRenamed("bin", "phase")
    val w = Window.partitionBy(col("phase"), col("shard")).orderBy(col(idCol))
      .rowsBetween(Window.unboundedPreceding, -1)
    binned.select(col(idCol), tokenCount.cast("long").as("n_tokens"),
        col("phase"), hashBucket(col(idCol), shards).as("shard"))
      .withColumn("cum_before", coalesce(sum(col("n_tokens")).over(w), lit(0L)))
      .withColumn("seq_id", expr(s"cum_before div $tokenBudget"))
      .withColumn("offset", (col("cum_before") % tokenBudget).cast("long"))
  }

  /** Document chunking: split long documents into `maxTokens`-token windows
    * overlapping by `overlap` tokens (stride = maxTokens − overlap) — the
    * long-document half of sequence shaping (chunk first, then pack). Pure
    * map-side flatMap via `explode(sequence(...))`: one output row per
    * chunk with its token range, no shuffle, deterministic. The final chunk
    * may be shorter; a document shorter than one window yields one chunk. */
  def chunkDocuments(docs: DataFrame, tokenCount: Column, idCol: String,
      maxTokens: Int, overlap: Int): DataFrame = {
    require(overlap >= 0 && overlap < maxTokens, "need 0 <= overlap < maxTokens")
    val stride = maxTokens - overlap
    docs.select(col(idCol), tokenCount.cast("long").as("n_tokens"))
      // a null token count (null text) yields NO chunks — greatest/least
      // would otherwise skip the null and fabricate a full-size chunk
      .filter(col("n_tokens").isNotNull)
      .withColumn("n_chunks", // pure-integer ceil: exact on both engines
        greatest(lit(1L), expr(s"(n_tokens - $overlap + $stride - 1) div $stride")))
      .withColumn("chunk_id", explode(expr("sequence(0L, n_chunks - 1)")))
      .withColumn("start_tok", col("chunk_id") * stride)
      .withColumn("end_tok", least(col("start_tok") + maxTokens, col("n_tokens")))
      .select(col(idCol), col("n_tokens"), col("chunk_id"), col("start_tok"), col("end_tok"))
  }

  /** Deterministic corpus shuffle: a dense 1..N training order from the
    * portable hash of each document id — the epoch-shuffling step of a
    * pretraining pipeline. Same order on every rerun/partitioning/engine
    * (hash64 of identity, not RNG), and different seeds give independent
    * epoch orders. Scale shape: the order is assigned by the DISTRIBUTED
    * range-sort + zipWithIndex path ([[SurrogateKeys.assignScalable]]) —
    * no single-partition window at any corpus size. */
  def shuffleOrder(df: DataFrame, idCol: String, seed: Long = 0L,
      posCol: String = "shuffle_pos"): DataFrame =
    graft.ops.SurrogateKeys.assignScalable(
        df.withColumn("__shuffle_h", Hashing.hash64(concat_ws(":",
          lit(seed.toString), col(idCol).cast("string")))),
        posCol, 0L, "__shuffle_h", idCol)
      .drop("__shuffle_h")

  /** Weighted mixture sampling — the per-source RATE step of a training-data
    * mix ("keep all of en, half of fr, a tenth of the crawl"). Each group
    * keeps its `ratesPct`-percent slice of hash buckets; groups absent from
    * the map keep `defaultPct`. Two properties the naive `sample()` lacks:
    *  - determinism: selection is a pure function of document identity —
    *    identical output on any partitioning, rerun, or engine;
    *  - nested rates: the kept set at 30% is a SUBSET of the kept set at
    *    50% (both are prefixes of the same bucket order), so adjusting mix
    *    weights between runs changes the minimum possible set of documents
    *    — incremental pipelines re-process only the delta.
    * Map-side only: the filter rides the scan, no shuffle at any scale. */
  def mixtureSample(df: DataFrame, groupCol: String, ratesPct: Map[String, Int],
      keyCol: String, defaultPct: Int = 100, buckets: Int = 100): DataFrame = {
    require((ratesPct.values.toSeq :+ defaultPct).forall(p => p >= 0 && p <= 100),
      "mixtureSample: rates are integer percents in [0, 100]")
    val rate = ratesPct.foldLeft(lit(defaultPct)) { case (acc, (g, p)) =>
      when(col(groupCol) === lit(g), lit(p)).otherwise(acc)
    }
    df.filter(hashBucket(col(keyCol), buckets) * 100 < rate * buckets)
  }

  /** Deterministic train/validation/test split: each row lands in exactly one
    * split by its identity-hash bucket — `[0, trainPct)` → train,
    * `[trainPct, trainPct+valPct)` → val, the rest → test. Because buckets
    * come from the portable identity hash (not RNG), the split is identical
    * on every rerun, partitioning, and engine, and it is STRATUM-UNIFORM
    * without a shuffle: within any subpopulation (language, source, ...) the
    * hash is uniform, so each stratum splits at the same rates — no
    * per-stratum pass needed. Nested like [[mixtureSample]]: growing
    * trainPct only MOVES rows from test/val into train, it never reshuffles
    * existing train membership — incremental re-splits touch only the
    * boundary slice. Map-side only; rides the scan at any scale.
    *
    * The hash domain is SALTED ("|split") so the split is independent of
    * [[hashSample]]/[[mixtureSample]] selections on the same key: those
    * stages keep bucket-prefix slices of the UNSALTED hash, and an
    * unsalted split would stamp a 50%-sampled corpus 100% train (every
    * survivor has bucket < 50 < trainPct) — no holdouts, silently. */
  def stratifiedSplit(df: DataFrame, keyCol: String, trainPct: Int, valPct: Int,
      buckets: Int = 100): DataFrame = {
    require(trainPct >= 0 && valPct >= 0 && trainPct + valPct <= 100,
      "stratifiedSplit: need trainPct, valPct >= 0 and trainPct + valPct <= 100")
    val b = Hashing.hash64(concat(col(keyCol).cast("string"), lit("|split"))) % buckets
    df.withColumn("split",
      when(b * 100 < trainPct * buckets, "train")
        .when(b * 100 < (trainPct + valPct) * buckets, "val")
        .otherwise("test"))
  }

  /** Deterministic k-fold cross-validation assignment: fold =
    * identity-hash(key) mod k over a salted domain ("|fold" — independent
    * of every other hash-derived sampling/split decision in the pipeline,
    * like [[stratifiedSplit]]'s salt). Zero shuffles, reproducible at any
    * parallelism, re-derivable row-by-row by any engine (the audit
    * property CV assignments need: fold membership must survive recompute,
    * re-partitioning, and engine migration). Folds are hash-uniform, not
    * exactly equal-sized — the standard trade for a stateless stamp. */
  def kFoldAssign(df: DataFrame, keyCol: String, k: Int): DataFrame = {
    require(k >= 2, s"need k >= 2 folds, got $k")
    df.withColumn("fold",
      Hashing.hash64(concat(col(keyCol).cast("string"), lit("|fold"))) % k)
  }

  /** Per-group TOKEN-budget quota — the unit real mixing recipes are
    * written in ("20B tokens of web, 5B of code"), where a doc-count quota
    * silently skews toward short documents. Docs are taken in identity-hash
    * order (salted domain, like [[stratifiedSplit]] — independent of every
    * other sampling decision, reproducible at any parallelism) and a doc
    * survives iff the group's running token total INCLUDING it fits the
    * budget. One group-key shuffle carrying a running-sum window; emits
    * cum_tokens + keep for audit, like the gates here always do. */
  def tokenBudgetPerGroup(df: DataFrame, groupCol: String, tokenCol: String,
      budget: Long, keyCol: String): DataFrame = {
    val w = Window.partitionBy(col(groupCol))
      .orderBy(Hashing.hash64(concat(col(keyCol).cast("string"), lit("|tokquota"))),
        col(keyCol))
    df.withColumn("cum_tokens", sum(col(tokenCol)).over(w))
      .withColumn("keep", col("cum_tokens") <= budget)
  }

  /** Water-filling allocation of ONE total token budget across groups — the
    * "we can afford B tokens, how much from each source" planner that sits
    * above [[tokenBudgetPerGroup]]'s fixed per-group quota: small sources
    * keep everything, large sources are capped at a common level L chosen so
    * the allocation fills the budget,
    *   quota_g = min(c_g, L),  L = max level with Σ_g min(c_g, L) ≤ B
    * (the max-min-fair / water-filling solution; quotas undershoot B by
    * < #capped-groups tokens because L is integral — deterministic, no
    * fractional-token tie to break).
    *
    * The level solve is FULLY DISTRIBUTED over the k-row group-count frame:
    * one ascending prefix-sum window, one argmax aggregate for the uncapped
    * count i* (feasibility S_{i−1} + (k−i+1)·c_i ≤ B is monotone in i), one
    * 1-row broadcast back. No driver state, so k can be every domain in the
    * crawl. Doc selection inside each group is the [[tokenBudgetPerGroup]]
    * device: salted identity-hash order + running-sum window, keep while
    * cum ≤ quota. Emits per doc: group_tokens, quota, cum_tokens, keep. */
  def waterFillBudget(df: DataFrame, groupCol: String, tokenCol: String,
      keyCol: String, budget: Long): DataFrame = {
    val counts = df.groupBy(col(groupCol)).agg(sum(col(tokenCol)).as("group_tokens"))
    val wAsc = Window.orderBy(col("group_tokens"), col(groupCol))
    val ranked = counts
      .withColumn("i", row_number().over(wAsc).cast("long"))
      .withColumn("s", sum(col("group_tokens")).over(wAsc))
      .crossJoin(broadcast(counts.agg(count(lit(1)).cast("long").as("k"))))
    val lvl = ranked
      .crossJoin(broadcast(ranked.agg(
        max(when((col("s") - col("group_tokens"))
            + (col("k") - col("i") + 1) * col("group_tokens") <= budget, col("i"))
          .otherwise(0L)).as("istar"))))
      .agg(
        max(col("k")).as("kk"), max(col("istar")).as("ii"),
        max(when(col("i") === col("istar"), col("s"))).as("s_at"))
      .select(when(col("ii") >= col("kk"), lit(null).cast("long"))
        .otherwise(expr(s"($budget - coalesce(s_at, 0L)) div (kk - ii)")).as("level"))
    val quotas = counts.crossJoin(broadcast(lvl))
      .select(col(groupCol), col("group_tokens"),
        least(col("group_tokens"), coalesce(col("level"), col("group_tokens"))).as("quota"))
    val wSel = Window.partitionBy(col(groupCol))
      .orderBy(Hashing.hash64(concat(col(keyCol).cast("string"), lit("|tokquota"))),
        col(keyCol))
    df.withColumn("cum_tokens", sum(col(tokenCol)).over(wSel))
      .join(broadcast(quotas), Seq(groupCol))
      .withColumn("keep", col("cum_tokens") <= col("quota"))
  }

  /** Temperature-flattened source mixing at α = 1/2 — the multilingual /
    * multi-source rebalancing rule (sample source s ∝ p_s^α, the mT5 /
    * XLM-R recipe): kept counts become ∝ √n_s, so minority sources gain
    * share without duplication (the smallest source keeps ~everything,
    * a 100× bigger one keeps ~10×, not 100×). Per-source keep-rates
    * r_s = √(n_min/n_s) are derived from ONE group-count aggregate
    * (source-cardinality collect, model-sized) and applied map-side by
    * salted identity-hash bucket — deterministic, engine-portable,
    * independent of every other sampling stage.
    *
    * α is pinned to 1/2 because IEEE-754 sqrt is CORRECTLY ROUNDED on
    * every platform — the rates replay bit-exactly in any engine. An
    * arbitrary α needs libm `pow`, whose rounding is platform-defined;
    * route that through the micro-nat quantization device ([[NgramLm]]) if
    * ever needed. NULL group rows are dropped (no defined rate). */
  def temperatureSampleHalf(df: DataFrame, groupCol: String, keyCol: String,
      buckets: Int = 10000): DataFrame = {
    val counts = df.filter(col(groupCol).isNotNull)
      .groupBy(col(groupCol)).agg(count(lit(1)).as("n"))
      .collect().map(r => r.get(0) -> r.getLong(1))
    require(counts.nonEmpty, "temperatureSampleHalf: no non-null groups")
    val nMin = counts.map(_._2).min
    val rate = counts.foldLeft(lit(0L)) { case (acc, (g, n)) =>
      when(col(groupCol) === lit(g),
        lit(math.floor(math.sqrt(nMin.toDouble / n.toDouble) * buckets).toLong))
        .otherwise(acc)
    }
    df.filter(
      Hashing.hash64(concat(col(keyCol).cast("string"), lit("|temp"))) % buckets
        < rate)
  }

  /** Split-leakage audit: content values whose documents landed in MORE
    * THAN ONE split — the train/test contamination check run after
    * [[stratifiedSplit]] (hash-of-id splits are disjoint in IDS by
    * construction, but nothing stops the same CONTENT from carrying two
    * ids; an eval set leaking near-boilerplate into train inflates every
    * benchmark it guards). `contentCol` is whatever identity matters —
    * the raw text for exact leakage, a shingle prefix / minhash band for
    * near-leakage. Output per leaked content hash: doc count, split
    * count, and the sorted split list (`collect_set` order is
    * partition-dependent; `sort_array` makes it deterministic).
    *
    * Scale: one hash agg on the content hash (word-count-shaped); the
    * leaked survivor set is collision-sized, orders of magnitude smaller
    * than the corpus. */
  def splitLeakage(df: DataFrame, contentCol: String,
      splitCol: String = "split"): DataFrame =
    df.select(Hashing.hash64(col(contentCol).cast("string")).as("content_h"),
        col(splitCol).as("__s"))
      .groupBy("content_h")
      .agg(count(lit(1)).as("n_docs"),
        count_distinct(col("__s")).as("n_splits"),
        array_join(sort_array(collect_set(col("__s"))), ",").as("splits"))
      .filter(col("n_splits") >= 2)

  /** Weighted sampling WITHOUT replacement by systematic (grid) selection —
    * "sample ~k documents with probability ∝ weight" (tokens, quality
    * score), the true ∝-weight draw the quota/budget gates approximate:
    * rows are laid on a line in deterministic hash order, each covering an
    * interval of its exact integer weight, and a grid of stride
    * ⌊Σw / k⌋ picks every interval containing a grid point. Pure integer
    * arithmetic end-to-end — no `pow`/`ln` of the Efraimidis–Spirakis
    * exponential-race form, so the draw replays bit-exactly cross-engine
    * and is rerun/partitioning-invariant. Rows with w ≥ stride are ALWAYS
    * selected (their interval must contain a grid point) — the
    * inclusion-probability-∝-weight contract, not a bug. Zero-weight rows
    * are never selected. Returns the selected rows as (id, w, cum).
    *
    * Scale: the exact prefix sum is a [[PrefixSum]] over hash buckets —
    * no corpus-sized window partition. */
  def weightedSystematic(df: DataFrame, idCol: String, weightCol: String,
      k: Long, bucketShift: Int = 44): DataFrame = {
    require(k > 0)
    val base = hashLine(df, idCol, weightCol, "ws:", bucketShift)
    val tot = base.agg(sum("w").as("tot"))
    PrefixSum.running(base, Nil, "b", Seq(col("h"), col("id")), "w" -> "cum")
      .crossJoin(broadcast(tot))
      .withColumn("stride", expr(s"greatest(tot div $k, 1)"))
      .filter(expr("(cum div stride) > ((cum - w) div stride)"))
      .select(col("id"), col("w"), col("cum"))
  }

  /** Training-export shard plan: lay documents on a line in deterministic
    * hash order, cut it greedily into contiguous shards of ≈`budget`
    * tokens (a document goes to shard ⌊tokens-before-it / budget⌋, so a
    * shard overshoots by at most one document — the standard greedy
    * contiguous sharding every JSONL/tfrecord exporter uses), and emit the
    * MANIFEST: per shard, doc/token counts, the covered hash range, and a
    * position-independent checksum — what a downstream loader validates
    * before training starts.
    *
    * Determinism: order is (salted hash, id) — rerun/partitioning
    * invariant, and the same prefix-sum line as [[weightedSystematic]].
    * Scale: the exact prefix sum is a [[PrefixSum]] over hash buckets —
    * no corpus-sized window partition anywhere; the manifest aggregate is
    * shard-count-sized. */
  def shardPlan(df: DataFrame, idCol: String, tokenCol: String, budget: Long,
      bucketShift: Int = 44): DataFrame = {
    require(budget > 0)
    PrefixSum.running(hashLine(df, idCol, tokenCol, "shard:", bucketShift),
        Nil, "b", Seq(col("h"), col("id")), "w" -> "cum")
      .withColumn("shard", expr(s"(cum - w) div $budget"))
      .groupBy(col("shard"))
      .agg(count(lit(1)).as("n_docs"), sum(col("w")).as("n_tokens"),
        min(col("h")).as("first_hash"), max(col("h")).as("last_hash"),
        sum(expr("h % 1000000007")).as("checksum"))
  }

  /** (id, w) laid on the line in (salted hash, id) order: `h` the salted
    * hash and `b` its top bits, a monotone bucket of (h, id). */
  private def hashLine(df: DataFrame, idCol: String, weightCol: String,
      salt: String, bucketShift: Int): DataFrame =
    df.select(col(idCol).as("id"), col(weightCol).cast("long").as("w"))
      .withColumn("h", Hashing.hash64(concat(lit(salt), col("id").cast("string"))))
      .withColumn("b", expr(s"h div ${1L << bucketShift}"))
}
