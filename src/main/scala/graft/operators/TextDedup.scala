package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.functions.Text

/** Document deduplication operators — the library surface behind the
  * q_x_dedup_* gate queries. Input contract: a DataFrame with an id column
  * and a text column; outputs are pair/cluster frames.
  *
  * Scale invariant shared by all near-dup variants: candidate pairs come
  * from EQUALITY joins on blocking keys (prefix, MinHash band, SimHash
  * band), never from a cross join — shuffle volume is O(docs × keys) and
  * per-bucket work is bucket², with AQE handling skewed buckets. Exact
  * verification (Jaccard / Hamming) runs only on candidates.
  *
  * No operator here leaves a frame cached: a frame read from 2+ join
  * branches is recomputed per branch. A long-lived service looping dedup
  * over many corpora should materialize the shingle/fingerprint frame to a
  * table (e.g. `Catalog.write`) and manage its lifetime explicitly.
  */
object TextDedup {

  /** Exact dedup: one hash aggregate, keep the smallest id per content hash. */
  def exact(docs: DataFrame, idCol: String = "doc_id", textCol: String = "text"): DataFrame =
    docs.groupBy(md5(col(textCol)).as("content_hash"))
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("n_copies"))

  /** Default duplicated-span window: 8 tokens — long enough that a shared
    * span is evidence of copying rather than idiom, short enough that
    * boilerplate fragments embedded in otherwise-distinct documents are
    * still caught (document-level near-dup misses exactly those). */
  val DefaultSpanWidth = 8

  /** One row per w-token sliding-window occurrence: (doc_id, span_hash).
    * The hashed fixed-width span is the distributable approximation of
    * suffix-array substring dedup (Lee et al., "Deduplicating Training Data
    * Makes Language Models Better"): a repeated ≥w-token substring is
    * repeated at every w-token window inside it, so window-hash multiplicity
    * ≥ 2 detects it without any corpus-wide suffix sort. Row volume is
    * Σ(doc tokens) — the corpus token count — produced map-side. */
  def spanOccurrences(docs: DataFrame, width: Int = DefaultSpanWidth,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame =
    docs.select(col(idCol).as("doc_id"), Text.tokens(col(textCol)).as("toks"))
      .select(col("doc_id"), explode(Text.spanHashes("toks", width)).as("span_hash"))

  /** Per-span statistics of a document set: (span_hash, n_docs,
    * n_occurrences) — one hash aggregate over the span stream. These
    * partials are exactly MERGEABLE across doc-disjoint document sets (a
    * doc contributes all its spans to exactly one set, so both counts add),
    * so a span inventory can be kept per batch and merged by sum. */
  def spanStats(docs: DataFrame, width: Int = DefaultSpanWidth,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame =
    spanOccurrences(docs, width, idCol, textCol)
      .groupBy(col("span_hash"))
      .agg(countDistinct(col("doc_id")).as("n_docs"), count(lit(1)).as("n_occurrences"))

  /** Spans that occur 2+ times corpus-wide (the cross-document copy /
    * boilerplate inventory): one hash aggregate over the span stream — at
    * 100 TB this is word-count-shaped, shuffling (span_hash, partial counts)
    * only, with map-side combine collapsing within-partition repeats. */
  def duplicatedSpans(docs: DataFrame, width: Int = DefaultSpanWidth,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame =
    spanStats(docs, width, idCol, textCol)
      .filter(col("n_occurrences") >= 2)

  /** Duplicated-span REMOVAL (the full Lee-et-al substring-dedup
    * operation, in its conservative whole-occurrence form): every token
    * covered by a w-token window that occurs `minCount`+ times corpus-wide
    * is dropped from the document, and the scrubbed text re-assembled.
    * Complements [[spanDupStats]] (which only scores): this is the
    * transform a cleaning pipeline actually applies.
    *
    * Shape: one span_hash window count (as spanDupStats), one per-doc
    * collect of flagged START POSITIONS (array sized by the doc's flagged
    * spans, order-irrelevant — only membership is tested), one join back
    * to the corpus, then a pure map: token i survives iff no flagged start
    * p has p ≤ i ≤ p+w−1 (HOF filter+exists — codegen-friendly, no UDF). */
  def scrubDuplicatedSpans(docs: DataFrame, width: Int = DefaultSpanWidth,
      minCount: Long = 2,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    val flaggedPos = positionedSpans(docs, width, idCol, textCol)
      .withColumn("total", count(lit(1)).over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("span_hash"))))
      .filter(col("total") >= minCount)
      .groupBy(col("doc_id")).agg(collect_list(col("pos")).as("fpos"))
    scrubAssemble(docs, flaggedPos, width, idCol, textCol)
  }

  /** Duplicated-span removal in the published Lee-et-al form: KEEP ONE
    * occurrence of each duplicated span, drop the rest. The keeper is the
    * occurrence with the smallest (doc_id, pos) — an order-deterministic
    * rule, so reruns (and the DuckDB oracle) pick the identical keeper at
    * any parallelism. A token survives iff it is covered by NO flagged
    * (non-keeper) occurrence; tokens of the keeper occurrence survive
    * unless a DIFFERENT duplicated span's flagged occurrence overlaps them.
    *
    * Same shape as [[scrubDuplicatedSpans]] plus one rank: the span_hash
    * window now also computes row_number ordered by (doc_id, pos) — both
    * window functions share the single span_hash shuffle. */
  def scrubDuplicatedSpansKeepOne(docs: DataFrame, width: Int = DefaultSpanWidth,
      minCount: Long = 2,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window.partitionBy(col("span_hash"))
    val flaggedPos = positionedSpans(docs, width, idCol, textCol)
      .withColumn("total", count(lit(1)).over(w))
      .withColumn("rk", row_number().over(w.orderBy(col("doc_id"), col("pos"))))
      .filter(col("total") >= minCount && col("rk") >= 2)
      .groupBy(col("doc_id")).agg(collect_list(col("pos")).as("fpos"))
    scrubAssemble(docs, flaggedPos, width, idCol, textCol)
  }

  /** (doc_id, pos, span_hash) — every w-token window occurrence WITH its
    * start position (the scrub variants need positions; [[spanOccurrences]]
    * deliberately drops them). */
  private def positionedSpans(docs: DataFrame, width: Int,
      idCol: String, textCol: String): DataFrame =
    docs.select(col(idCol).as("doc_id"), Text.tokens(col(textCol)).as("toks"))
      .select(col("doc_id"),
        posexplode(Text.spanHashes("toks", width)).as(Seq("pos", "span_hash")))

  /** Shared scrub tail: join flagged start positions back to the corpus and
    * re-assemble — token i survives iff no flagged start p has
    * p ≤ i ≤ p+w−1 (HOF filter+exists — codegen-friendly, no UDF). */
  private def scrubAssemble(docs: DataFrame, flaggedPos: DataFrame, width: Int,
      idCol: String, textCol: String): DataFrame =
    docs.select(col(idCol).as("doc_id"), Text.tokens(col(textCol)).as("toks"))
      .join(flaggedPos, Seq("doc_id"), "left")
      .withColumn("fpos", coalesce(col("fpos"), array().cast("array<int>")))
      .withColumn("kept", expr(
        s"filter(toks, (t, i) -> NOT exists(fpos, p -> i >= p AND i <= p + ${width - 1}))"))
      .select(col("doc_id"),
        concat_ws(" ", col("kept")).as("text_scrubbed"),
        size(col("toks")).cast("long").as("n_tokens"),
        size(col("kept")).cast("long").as("n_tokens_kept"))

  /** Per-document duplicated-span profile: of the doc's w-token windows, how
    * many occur `minCount`+ times corpus-wide (at 2, "also occurs elsewhere —
    * another doc or another position, both copies by the substring-dedup
    * definition"; higher thresholds grade spans by commonness instead, see
    * [[graft.operators.QualityFilter.bigramCoverage]]). `dup_fraction` is
    * the doc-level filter signal ("mostly-duplicated documents"); docs
    * shorter than w keep a row with n_spans = 0 and NULL fraction.
    *
    * Shape: ONE shuffle on span_hash (window count — no self-join and no
    * second scan of the span stream), then one hash agg on doc_id. */
  def spanDupStats(docs: DataFrame, width: Int = DefaultSpanWidth,
      minCount: Long = 2,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    val counted = spanOccurrences(docs, width, idCol, textCol)
      .withColumn("total", count(lit(1)).over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("span_hash"))))
    val perDoc = counted.groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_spans"),
        sum(when(col("total") >= minCount, 1L).otherwise(0L)).as("n_dup_spans"))
    docs.select(col(idCol).as("doc_id")).join(perDoc, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_spans"), lit(0L)).as("n_spans"),
        coalesce(col("n_dup_spans"), lit(0L)).as("n_dup_spans"),
        when(col("n_spans") > 0,
          col("n_dup_spans") / col("n_spans").cast("double")).as("dup_fraction"))
  }

  /** id + toks + distinct 3-shingles + 3-token-prefix blocking key. */
  def shingled(docs: DataFrame, idCol: String = "doc_id", textCol: String = "text"): DataFrame =
    docs.select(col(idCol).as("doc_id"), Text.tokens(col(textCol)).as("toks"))
      .withColumn("sh", Text.shingles("toks"))
      .withColumn("pfx", concat_ws(" ", slice(col("toks"), 1, 3)))

  /** Pairwise corpus-overlap ESTIMATES from group signatures: the fraction
    * of agreeing MinHash components estimates the Jaccard similarity of the
    * two groups' shingle sets (the defining MinHash property). With
    * [[groupSignatures]] this compares corpora using k longs per group —
    * never touching the shingle sets again: the sketch workflow for
    * "how much does source A overlap source B" across a 100 TB corpus. */
  def corpusOverlap(docs: DataFrame, groupCol: String, numHashes: Int = 16): DataFrame = {
    val sigs = groupSignatures(docs, groupCol, numHashes)
    val a = sigs.select(col(groupCol).as("g1"), col("sig").as("s1"))
    val b = sigs.select(col(groupCol).as("g2"), col("sig").as("s2"))
    a.join(b, col("g1") < col("g2"))
      .withColumn("jaccard_est",
        expr(s"size(filter(zip_with(s1, s2, (x, y) -> x = y), m -> m)) / CAST($numHashes AS DOUBLE)"))
      .select(col("g1"), col("g2"), col("jaccard_est"))
  }

  /** Prefix buckets above this size stop self-joining and divert to the
    * banded-MinHash path: a self-join inside one bucket is bucket²/2 pairs,
    * and real corpora HAVE pathological prefixes ("terms of service for…"
    * boilerplate) whose buckets would otherwise produce quadratic pair
    * volume with no cap. 1024² /2 ≈ 0.5M verifies per worst-case bucket is
    * the bounded price; everything larger pays O(docs × bands) instead. */
  val DefaultMaxPrefixBucket = 1024

  /** Prefix-blocked n-gram Jaccard near-dup pairs (id1 < id2, jac ≥ t).
    *
    * Buckets larger than `maxBucket` divert through banded MinHash
    * ([[bandFrame]]): candidate volume inside an oversized bucket becomes
    * O(docs × bands) band-key collisions instead of bucket² pairs.
    * Verification stays exact-Jaccard on both paths; only candidate RECALL
    * inside a diverted bucket becomes the probabilistic LSH recall (a
    * boilerplate-prefix bucket is exactly where prefix blocking carries no
    * signal anyway — sharing "terms of service for" is not evidence of
    * near-duplication). */
  def ngramJaccard(docs: DataFrame, threshold: Double = 0.5,
      maxBucket: Int = DefaultMaxPrefixBucket,
      numHashes: Int = 16, numBands: Int = 8): DataFrame =
    ngramCandidates(docs, maxBucket, numHashes, numBands)
      .withColumn("jaccard", Text.jaccard("sh1", "sh2"))
      .filter(col("jaccard") >= threshold)
      .select(col("id1"), col("id2"), col("jaccard"))

  /** Candidate pairs (id1 < id2, with both shingle sets) feeding
    * [[ngramJaccard]]'s exact verify — public so the bucket-cap guarantee
    * is testable: pair volume from an oversized bucket must be band-collision
    * bound, not bucket². Small prefix buckets self-join; docs in oversized
    * buckets form candidates via MinHash band keys instead (band collisions
    * may also pair docs across two oversized buckets — extra recall, never
    * less exactness, since every candidate still passes exact Jaccard). */
  def ngramCandidates(docs: DataFrame, maxBucket: Int = DefaultMaxPrefixBucket,
      numHashes: Int = 16, numBands: Int = 8): DataFrame = {
    val s = shingled(docs).select(col("doc_id"), col("sh"), col("pfx"))
    // Bucket census: one cheap aggregate whose result is prefix-cardinality
    // sized; broadcast to both branch filters.
    val bigRaw = s.groupBy(col("pfx")).agg(count(lit(1)).as("n"))
      .filter(col("n") > maxBucket).select(col("pfx"))
    // With no oversized bucket, skip the band branch: always building it made
    // the sf0.1 first call slower in 5 of 6 pairs (ngram +0.44 s, clusters +0.77 s).
    if (bigRaw.isEmpty) return Pairs.within(s, "pfx", "doc_id", "sh")
    val big = broadcast(bigRaw)
    val prefixPairs = Pairs.within(s.join(big, Seq("pfx"), "left_anti"), "pfx", "doc_id", "sh")
    val diverted = s.join(big, Seq("pfx"), "left_semi").withColumn("hs", shingleHashes)
    prefixPairs.unionByName(
      withSides(bandCandidates(diverted, numHashes, numBands), diverted, "sh"))
  }

  /** MinHash signatures + banded LSH candidates + exact-Jaccard verify.
    * One md5 per shingle; the k permutations are affine maps mod 2^31-1
    * (operands bounded so the arithmetic never overflows a long).
    * All k signature minima come from ONE pass over the shingle-hash array
    * via the codegen'd [[graft.expressions.MinHashSignatures]], not k
    * interpreted `array_min(transform(...))` re-traversals. */
  private val MinHashPrime = 2147483647L
  private def aCoeffs(numHashes: Int): Seq[Long] = (0 until numHashes).map(j => 2L * j + 3)
  private def bCoeffs(numHashes: Int): Seq[Long] = (0 until numHashes).map(j => 101L * j + 7)

  /** THE portable shingle-hash expression (60-bit md5 prefix mod the
    * Mersenne prime), single source of truth for every MinHash path — the
    * DuckDB oracles mirror this exact formula. */
  private def shingleHashes: org.apache.spark.sql.Column =
    expr(s"transform(sh, s -> CAST(conv(substring(md5(s),1,15),16,10) AS BIGINT) % $MinHashPrime)")

  /** Full 60-bit shingle hashes (no Mersenne reduction — membership tests
    * need the whole space; the mod-P form is only for affine permutations). */
  private def shingleHashes60: org.apache.spark.sql.Column =
    expr(s"transform(sh, s -> CAST(conv(substring(md5(s),1,15),16,10) AS BIGINT))")


  /** GROUP-level MinHash signatures (per source/language/shard) via the
    * custom mergeable aggregate [[graft.expressions.MinHashAgg]]: the
    * signature of the UNION of the group's shingle sets, computed with a
    * fixed-size buffer that merges by element-wise min — corpus-level
    * similarity/containment estimates with no shingle-set shuffle. */
  def groupSignatures(docs: DataFrame, groupCol: String,
      numHashes: Int = 16, textCol: String = "text"): DataFrame = {
    val base = docs.select(col(groupCol), Text.tokens(col(textCol)).as("toks"))
      .withColumn("sh", Text.shingles("toks"))
      .withColumn("hs", shingleHashes)
    base.groupBy(col(groupCol))
      .agg(graft.expressions.MinHashAgg(col("hs"),
          aCoeffs(numHashes), bCoeffs(numHashes), MinHashPrime).as("sig"),
        count(lit(1)).as("n_docs"))
  }

  /** (doc_id, sh, hs) frame: shingles plus one 60-bit md5 hash per shingle
    * reduced mod the Mersenne prime, TRIMMED to exactly the columns the
    * MinHash compositions read (signatures + verify). At extreme corpus
    * scale a materialized temp table plays this role (or just the
    * (doc_id, band) index, re-deriving shingles for the candidate-only
    * verify). */
  private def hashedShingles(docs: DataFrame): DataFrame =
    shingled(docs)
      .withColumn("hs", shingleHashes)
      .select(col("doc_id"), col("sh"), col("hs"))

  /** (doc_id, band) pairs: all `numHashes` signature minima in one codegen'd
    * pass ([[graft.expressions.MinHashSignatures]]), concatenated into
    * `numBands` band keys. At 100 TB this is the frame a persisted LSH index
    * materializes — incremental dedup joins new batches against it. */
  private def bandFrame(base: DataFrame, numHashes: Int, numBands: Int): DataFrame = {
    require(numHashes % numBands == 0, "numHashes must be divisible by numBands")
    val rows = numHashes / numBands
    val sigs = base.withColumn("sigs",
      graft.expressions.MinHashSignatures(col("hs"),
        aCoeffs(numHashes), bCoeffs(numHashes), MinHashPrime))
    val bandKeys = (0 until numBands).map { bn =>
      val parts = (0 until rows).map(r => element_at(col("sigs"), rows * bn + r + 1))
      concat((lit(s"$bn|") +: parts.flatMap(p => Seq(p, lit(":"))).dropRight(1)): _*)
    }
    sigs.select(col("doc_id"), explode(array(bandKeys: _*)).as("band"))
  }

  /** Candidate pairs (id1 < id2) that share a MinHash band, each once. A
    * doc has `numBands` band rows, so nothing rides the band join (see
    * [[Pairs.within]]); the verify step re-joins its payload with
    * [[withSides]]. */
  private def bandCandidates(base: DataFrame, numHashes: Int, numBands: Int): DataFrame =
    Pairs.within(bandFrame(base, numHashes, numBands), "band", "doc_id").distinct()

  /** `pairs` plus each column `c` of `side` (keyed by doc_id) as `c1` for
    * id1 and `c2` for id2. */
  private def withSides(pairs: DataFrame, side: DataFrame, cols: String*): DataFrame = {
    def one(n: Int) =
      side.select(col("doc_id").as(s"id$n") +: cols.map(c => col(c).as(s"$c$n")): _*)
    pairs.join(one(1), Seq("id1")).join(one(2), Seq("id2"))
  }

  def minhashLsh(docs: DataFrame, threshold: Double = 0.5,
      numHashes: Int = 16, numBands: Int = 8): DataFrame = {
    val base = hashedShingles(docs)
    withSides(bandCandidates(base, numHashes, numBands), base, "sh")
      .withColumn("jaccard", Text.jaccard("sh1", "sh2"))
      .filter(col("jaccard") >= threshold)
      .select(col("id1"), col("id2"), col("jaccard"))
  }

  /** Asymmetric near-CONTAINMENT pairs: for each LSH candidate pair, both
    * directed containments c12 = |S1∩S2|/|S1| and c21 = |S1∩S2|/|S2| over
    * the distinct 3-shingle sets, kept when either direction reaches
    * `threshold` — the copy-detection signal Jaccard dilutes (a short doc
    * quoted verbatim inside a long one has Jaccard ≈ |S1|/|S2| → 0 but
    * c12 ≈ 1). Same id-sized band shuffle as [[minhashLsh]].
    *
    * Candidate-recall caveat (by construction): MinHash bands collide on
    * JACCARD, so extreme-ratio containments (tiny-in-huge) may not band-
    * collide. At 100 TB the high-recall path for verbatim inclusion at any
    * length ratio is the fixed-width span inventory ([[duplicatedSpans]]);
    * this operator covers the comparable-size near-containment band in
    * between. */
  def containmentPairs(docs: DataFrame, threshold: Double = 0.8,
      numHashes: Int = 16, numBands: Int = 8): DataFrame = {
    // the band join and both verify joins read the shingle frame: one eager
    // checkpoint, whose blocks live as long as the returned plan
    val base = hashedShingles(docs).localCheckpoint()
    withSides(bandCandidates(base, numHashes, numBands), base, "sh")
      .filter(size(col("sh1")) > 0 && size(col("sh2")) > 0)
      .withColumn("c12", Text.containment("sh1", "sh2"))
      .withColumn("c21", Text.containment("sh2", "sh1"))
      .filter(greatest(col("c12"), col("c21")) >= threshold)
      .select(col("id1"), col("id2"), col("c12"), col("c21"))
  }

  /** [[containmentPairs]] with HASH-ARRAY verify — the production form at
    * corpus scale: the verify joins ship each candidate's distinct 60-bit
    * shingle HASHES (8 bytes/shingle) instead of the shingle strings
    * themselves (~30+ bytes each), cutting the dominant shuffle of the
    * verify stage ~4× (SCALE.md measured the string form at 144 s on the
    * replica-dense sf1 tier, almost all of it shipping shingle text).
    * Containments are computed over the hashed sets with the same exact
    * integer set arithmetic; both engines hash with the shared md5-prefix
    * formula, so the gate stays bit-exact. A 60-bit collision inside one
    * document would shrink its set by one — astronomically unlikely and
    * identical on both engines if it ever happened. */
  def containmentPairsHashed(docs: DataFrame, threshold: Double = 0.8,
      numHashes: Int = 16, numBands: Int = 8): DataFrame = {
    val base = hashedShingles(docs).localCheckpoint() // as in containmentPairs
    withSides(bandCandidates(base, numHashes, numBands),
        base.select(col("doc_id"), array_distinct(shingleHashes60).as("h")), "h")
      .filter(size(col("h1")) > 0 && size(col("h2")) > 0)
      .withColumn("c12", Text.containment("h1", "h2"))
      .withColumn("c21", Text.containment("h2", "h1"))
      .filter(greatest(col("c12"), col("c21")) >= threshold)
      .select(col("id1"), col("id2"), col("c12"), col("c21"))
  }

  /** Sketch-error audit of the MinHash estimator on its own candidates:
    * for every banded-LSH candidate pair, the signature-agreement estimate
    * (matching components / numHashes — the defining MinHash property)
    * side by side with the EXACT shingle-set Jaccard, both as micro
    * fixed-point integers plus their absolute gap. This is the
    * check-your-sketch step a production dedup pipeline runs before
    * trusting a (numHashes, bands) configuration at scale: the err_fp
    * distribution IS the measured estimator error (σ ≈ √(j(1−j)/k)),
    * and a bad hash family or band layout shows up as estimates
    * detaching from truth. Everything is exact integer arithmetic —
    * the audit itself is engine-replayable, not a rows-only contract.
    * Same id-sized band shuffle as [[minhashLsh]]; the verify joins read
    * the same shingle frame. */
  def minhashErrorAudit(docs: DataFrame, numHashes: Int = 16,
      numBands: Int = 8): DataFrame = {
    val base = hashedShingles(docs)
    val withSigs = base.withColumn("sg",
      graft.expressions.MinHashSignatures(col("hs"),
        aCoeffs(numHashes), bCoeffs(numHashes), MinHashPrime))
    withSides(bandCandidates(base, numHashes, numBands), withSigs, "sh", "sg")
      .withColumn("n_match_sig",
        expr("size(filter(zip_with(sg1, sg2, (x, y) -> x = y), b -> b))").cast("long"))
      .withColumn("n_inter", expr("size(array_intersect(sh1, sh2))").cast("long"))
      .withColumn("n_union",
        (size(col("sh1")) + size(col("sh2"))).cast("long") - col("n_inter"))
      .withColumn("est_fp", expr(s"n_match_sig * 1000000 div $numHashes"))
      .withColumn("jac_fp", expr("n_inter * 1000000 div greatest(n_union, 1)"))
      .select(col("id1"), col("id2"), col("n_match_sig"), col("n_inter"),
        col("n_union"), col("est_fp"), col("jac_fp"),
        abs(col("est_fp") - col("jac_fp")).as("err_fp"))
  }

  /** Incremental near-dup: each NEW batch document against an EXISTING
    * corpus — the shape every recurring crawl-ingest pipeline actually runs
    * (never re-dedup the whole corpus). Batch band keys equi-join corpus
    * band keys, so there is NO corpus self-join: candidate volume is
    * O(batch × collisions), and the corpus side is exactly what a persisted
    * LSH band index provides. Returns (batch_id, corpus_id, jaccard ≥ t). */
  def minhashLshIncremental(corpus: DataFrame, batch: DataFrame, threshold: Double = 0.5,
      numHashes: Int = 16, numBands: Int = 8): DataFrame = {
    val cBase = hashedShingles(corpus)
    val bBase = hashedShingles(batch)
    val cands = bandFrame(bBase, numHashes, numBands)
      .select(col("doc_id").as("batch_id"), col("band"))
      .join(bandFrame(cBase, numHashes, numBands)
        .select(col("doc_id").as("corpus_id"), col("band")), Seq("band"))
      .select(col("batch_id"), col("corpus_id")).distinct()
    cands
      .join(bBase.select(col("doc_id").as("batch_id"), col("sh").as("sh1")), Seq("batch_id"))
      .join(cBase.select(col("doc_id").as("corpus_id"), col("sh").as("sh2")), Seq("corpus_id"))
      .withColumn("jaccard", Text.jaccard("sh1", "sh2"))
      .filter(col("jaccard") >= threshold)
      .select(col("batch_id"), col("corpus_id"), col("jaccard"))
  }

  /** The persistable LSH index of a corpus: its (doc_id, band) frame —
    * exactly the corpus side [[minhashLshIncremental]] recomputes every run.
    * Build once, store via `Catalog.write("lsh_bands", …)`, and every
    * subsequent batch joins against the stored index via
    * [[minhashLshIndexed]] — the recurring-crawl shape where the 100 TB
    * corpus is never re-tokenized, re-shingled, or re-hashed. The index is
    * id+band only (two narrow columns, ≈ numBands rows per doc), NOT the
    * shingle sets: verification re-shingles just the candidate docs.
    * `numHashes`/`numBands` are baked into the band keys — query with the
    * SAME values used at build time (mismatched keys simply never collide). */
  def buildBandIndex(corpus: DataFrame, numHashes: Int = 16, numBands: Int = 8): DataFrame =
    bandFrame(
      shingled(corpus).withColumn("hs", shingleHashes).select(col("doc_id"), col("hs")),
      numHashes, numBands)

  /** Incremental near-dup against a PRE-BUILT band index ([[buildBandIndex]]):
    * batch bands equi-join the stored index — the corpus side contributes no
    * tokenize/shingle/hash work at all. Exact-Jaccard verification re-shingles
    * ONLY the corpus docs that appear in a candidate pair (a semi-join keeps
    * the corpus scan pruned to candidates; at 100 TB that's the difference
    * between reading a few collided documents and re-processing the corpus).
    * Returns (batch_id, corpus_id, jaccard ≥ threshold). */
  def minhashLshIndexed(corpus: DataFrame, bandIndex: DataFrame, batch: DataFrame,
      threshold: Double = 0.5, numHashes: Int = 16, numBands: Int = 8): DataFrame = {
    val bBase = hashedShingles(batch)
    val cands = bandFrame(bBase, numHashes, numBands)
      .select(col("doc_id").as("batch_id"), col("band"))
      .join(bandIndex.select(col("doc_id").as("corpus_id"), col("band")), Seq("band"))
      .select(col("batch_id"), col("corpus_id")).distinct()
    val candCorpus = corpus.join(
      cands.select(col("corpus_id").as("doc_id")).distinct(), Seq("doc_id"), "left_semi")
    val sh2 = shingled(candCorpus).select(col("doc_id").as("corpus_id"), col("sh").as("sh2"))
    cands
      .join(bBase.select(col("doc_id").as("batch_id"), col("sh").as("sh1")), Seq("batch_id"))
      .join(sh2, Seq("corpus_id"))
      .withColumn("jaccard", Text.jaccard("sh1", "sh2"))
      .filter(col("jaccard") >= threshold)
      .select(col("batch_id"), col("corpus_id"), col("jaccard"))
  }

  /** Benchmark decontamination: per EVAL document, the fraction of its
    * k-token shingles that appear ANYWHERE in the training corpus — the
    * standard train/test overlap check run before any evaluation is
    * trusted. One distinct over corpus shingles + one equality join; no
    * document pairing at all, so cost is linear in total shingle volume.
    * At 100 TB the corpus shingle set is the big side: materialize it once
    * per corpus release (it is corpus-content-addressed), or replace the
    * join with a Bloom filter over corpus shingle hashes when approximate
    * one-sided error is acceptable (false contamination only — safe:
    * over-flagging never leaks eval data). Eval docs with fewer than k
    * tokens have no shingles and are absent from the output (nothing to
    * contaminate). Returns (eval_id, n_shingles, n_contaminated, rate). */
  def contamination(corpus: DataFrame, eval: DataFrame): DataFrame = {
    // Membership is tested on the portable 60-bit shingle hash, not the
    // shingle string: the distinct/broadcast/join then move 8-byte longs
    // instead of ~50-byte strings (measured 4× on the whole op). Both
    // engines compute the identical hash, so results stay exact across
    // engines; a 60-bit collision (≪ 1e-6 at billions of shingles) could
    // only over-count contamination — the safe direction.
    val corpusShingles = shingled(corpus)
      .select(explode(shingleHashes60).as("h")).distinct()
      .withColumn("__hit", lit(true))
    shingled(eval)
      .select(col("doc_id").as("eval_id"), explode(shingleHashes60).as("h"))
      .join(corpusShingles, Seq("h"), "left")
      .groupBy(col("eval_id"))
      .agg(count(lit(1)).as("n_shingles"), count(col("__hit")).as("n_contaminated"))
      .withColumn("contamination",
        col("n_contaminated") / col("n_shingles").cast("double"))
  }

  /** Incremental EXACT dedup: batch documents whose content hash is absent
    * from the corpus (left-anti on md5 — one hash join, no comparisons). */
  def exactIncremental(corpus: DataFrame, batch: DataFrame,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    val b = batch.select(col(idCol).as("doc_id"), md5(col(textCol)).as("content_hash"))
    val c = corpus.select(md5(col(textCol)).as("content_hash")).distinct()
    b.join(c, Seq("content_hash"), "left_anti").select(col("doc_id"), col("content_hash"))
  }

  /** Near-dup CLUSTERS from a pair list: connected components by iterative
    * min-label propagation (each node adopts the smallest id reachable so
    * far; converges in O(diameter) rounds ≤ maxIters). The cluster minimum
    * is the canonical "keep" document; everything else is droppable.
    *
    * Scale shape: each round is one groupBy over the edge list — the
    * standard large-graph connected-components pattern (label propagation,
    * not union-find, because state must live in the data, not the driver).
    * Near-dup graphs have tiny diameters (dup clusters are cliques-ish), so
    * a handful of rounds suffices at any corpus size.
    */
  def clusters(pairs: DataFrame, maxIters: Int = 10): DataFrame = {
    // Own loop, not GraphRank.connectedComponents: that took 26 build jobs, not 15,
    // and a 1.3 s slower sf0.1 first call on q_x_dedup_clusters (5 pairs).

    // Undirected edge list, both directions. localCheckpoint (not cache):
    // the frame is re-read every round, and checkpointing cuts its plan off
    // from the upstream pair pipeline once materialized.
    val edges = pairs.select(col("id1").as("src"), col("id2").as("dst"))
      .unionByName(pairs.select(col("id2").as("src"), col("id1").as("dst")))
      .distinct().localCheckpoint()
    // Initialization IS the first propagation round: label = min(self, best
    // neighbor) comes free from one aggregate over the edge list, saving a
    // whole join+checkpoint round (near-dup graphs are clique-ish, so this
    // often converges immediately and the loop just confirms it).
    var labels = edges.groupBy(col("src"))
      .agg(least(col("src"), min(col("dst"))).as("label"))
      .withColumnRenamed("src", "id").localCheckpoint()
    var converged = false
    var i = 1
    while (!converged && i < maxIters) {
      val neighborMin = edges
        .join(labels.withColumnRenamed("id", "dst").withColumnRenamed("label", "nl"), Seq("dst"))
        .groupBy(col("src").as("id")).agg(min(col("nl")).as("nmin"))
      // One job per round: the eager localCheckpoint materializes the new
      // labels AND truncates lineage (without it each round's plan nests the
      // previous one — at corpus scale that means unbounded plan growth and
      // full-recompute recovery after executor loss; a production run on an
      // unreliable cluster would use checkpoint() to durable storage every
      // few rounds instead). The per-row `chg` flag rides along so
      // convergence is a short-circuit scan of the checkpointed blocks, not
      // a second join.
      val stepped = labels.join(neighborMin, Seq("id"), "left")
        .select(col("id"),
          least(col("label"), coalesce(col("nmin"), col("label"))).as("label"),
          (coalesce(col("nmin"), col("label")) < col("label")).as("chg"))
        .localCheckpoint()
      converged = stepped.filter(col("chg")).isEmpty
      labels = stepped.select(col("id"), col("label"))
      i += 1
    }
    labels.select(col("id").as("doc_id"), col("label").as("cluster_id"))
  }
  /** Keeper selection over near-dup clusters by SOURCE PRIORITY: within
    * each cluster the kept document is the one with the smallest
    * (priority, doc_id) — the production dedup policy when sources rank
    * (curated > crawled mirror), where [[clusters]]' plain min-id keeper
    * would keep whichever copy happens to carry the smaller id. One
    * cluster-key window over the (small) cluster frame; the join to doc
    * metadata is cluster-membership-sized, not corpus-sized.
    *
    * Missing metadata cannot win or vanish: docs absent from `docMeta`
    * (LEFT join) or carrying a NULL priority rank LAST (nulls-last, also
    * DuckDB's ascending default) — an unranked crawl copy never beats a
    * curated priority-0 doc, and it still appears in the output as a
    * droppable non-keeper rather than silently surviving the dedup. */
  def clusterKeepersByPriority(clusterDf: DataFrame, docMeta: DataFrame,
      priorityCol: String, idCol: String = "doc_id"): DataFrame =
    clusterDf.join(
        docMeta.select(col(idCol).as("doc_id"), col(priorityCol).as("priority")),
        Seq("doc_id"), "left")
      .withColumn("rk", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("cluster_id"))
          .orderBy(col("priority").asc_nulls_last, col("doc_id"))))
      .select(col("cluster_id"), col("doc_id"), col("priority"),
        (col("rk") === 1).as("is_keeper"))

  /** Number of SimHash fingerprint bits: 60, because the portable
    * md5-derived [[Hashing.hash64]] carries 60 bits of entropy (production
    * SimHash is 64-bit; bits beyond the hash width would be constant-zero
    * and only dilute banding). 32 bits under-separates at web-corpus scale. */
  val SimHashBits = 60
  private val SimHashBands = 4                  // 4 bands × 15 bits
  private val BandBits = SimHashBits / SimHashBands

  /** Token-frequency-weighted SimHash fingerprint (sign of each per-bit
    * vote), computed MAP-SIDE in one pass per document by the codegen'd
    * [[graft.expressions.SimHash]] — no token explode, no vote shuffle. The
    * equivalent explode→60-vote-aggregate formulation (kept as the DuckDB
    * oracle) shuffles a 60-column partial aggregate per document; this form
    * makes fingerprinting a pure map over the corpus scan, so at 100 TB the
    * candidate join is the only shuffle in the whole dedup. */
  def simhash(docs: DataFrame, idCol: String = "doc_id", textCol: String = "text"): DataFrame =
    docs.select(col(idCol).as("doc_id"),
      graft.expressions.SimHash(Text.tokens(col(textCol)), SimHashBits).as("simhash"))

  /** SimHash near-dup pairs: block on any of 4 15-bit bands (a pair with
    * ≤ 3 differing bits is GUARANTEED to share a band; beyond that recall is
    * probabilistic, as in any banded LSH), then exact popcount verify.
    * Each fingerprint explodes into its 4 band keys `(band << 15) | slice`
    * (the band index keeps equal slices at different positions apart), so
    * one self-join reads the fingerprints once per side; the hamming filter
    * runs before the distinct, which then shuffles only surviving pairs. */
  def simhashNearDups(docs: DataFrame, maxHamming: Int = 11): DataFrame = {
    val mask = (1L << BandBits) - 1
    val bandKeys = (0 until SimHashBands).map(b =>
      lit(b.toLong << BandBits).bitwiseOR(shiftright(col("simhash"), BandBits * b).bitwiseAND(mask)))
    // both sides of the band join read the fingerprints: one eager checkpoint,
    // whose blocks live as long as the returned plan (dropping it made the
    // sf0.1 first call 0.2 s slower, 6 of 6 pairs)
    val keyed = simhash(docs).localCheckpoint().select(col("doc_id"), col("simhash"),
      explode(array(bandKeys: _*)).as("bk"))
    Pairs.within(keyed, "bk", "doc_id", "simhash")
      .select(col("id1"), col("id2"),
        expr("bit_count(simhash1 ^ simhash2)").cast("long").as("hamming"))
      .filter(col("hamming") <= maxHamming)
      .distinct()
  }

  /** Boilerplate-paragraph removal by DOCUMENT FREQUENCY (the
    * RefinedWeb/Dolma companion rule to [[dedupParagraphs]]): a paragraph
    * appearing in more than `maxDocFreq` DISTINCT documents is boilerplate
    * (nav menus, cookie banners, footers) and is removed EVERYWHERE —
    * including its first occurrence, which first-wins dedup would keep.
    * Same explode → one content-keyed aggregate → rebuild shape; the
    * distinct-doc census replaces the first-occurrence window. */
  def dropFrequentParagraphs(docs: DataFrame, maxDocFreq: Long,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    val paras = docs.select(col(idCol).as("doc_id"),
        posexplode(split(col(textCol), "\n")).as(Seq("idx", "para")))
      .withColumn("__norm", lower(trim(col("para"))))
    val freq = paras.groupBy(col("__norm"))
      .agg(countDistinct(col("doc_id")).as("df"))
    val rebuilt = paras
      .join(freq, Seq("__norm"))
      .filter(col("df") <= maxDocFreq)
      .groupBy(col("doc_id"))
      .agg(
        array_join(
          transform(array_sort(collect_list(struct(col("idx"), col("para")))),
            x => x.getField("para")), "\n").as("text_kept"),
        count(lit(1)).as("kept_paras"))
    docs.select(col(idCol).as("doc_id"),
        size(split(col(textCol), "\n")).cast("long").as("__n_paras"))
      .join(rebuilt, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("text_kept"), lit("")).as("text_kept"),
        coalesce(col("kept_paras"), lit(0L)).as("kept_paras"),
        (col("__n_paras") - coalesce(col("kept_paras"), lit(0L))).as("removed_paras"))
  }

  /** CCNet-style cross-corpus paragraph dedup (Wenzek et al. 2020, §3.1 —
    * the recipe that removed ~70% of raw CommonCrawl text): paragraphs are
    * the dedup unit, a paragraph's first occurrence in corpus order is
    * kept, every later occurrence (in the same doc or any other doc) is
    * dropped, and surviving documents are rebuilt from their kept
    * paragraphs in original order. Normalization before comparison is
    * lower+trim (CCNet normalizes harder — digits, punctuation — which
    * composes here by pre-mapping the text column).
    *
    * Emits one row per INPUT doc: (doc_id, text_dedup, kept_paras,
    * removed_paras) — a fully-duplicated doc survives as an empty string
    * with kept_paras = 0 so the pipeline can drop or audit it explicitly.
    *
    * Shape: one `posexplode` (paragraph-volume-shaped, map-side), ONE
    * row_number window keyed on the normalized paragraph — this is the only
    * data shuffle, the word-count shape — then one per-doc rebuild
    * aggregate. First-occurrence order is (doc_id, idx): deterministic,
    * partition-layout-independent. At 100 TB, key the window on
    * `xxhash64(norm)` instead of the full string to shrink the shuffle
    * payload ~10× (collision risk 2⁻⁶⁴·pairs; CCNet itself dedups on a
    * 64-bit hash) — the string key here keeps the oracle exact. */
  def dedupParagraphs(docs: DataFrame, idCol: String = "doc_id",
      textCol: String = "text"): DataFrame = {
    val paras = docs.select(col(idCol).as("doc_id"),
        posexplode(split(col(textCol), "\n")).as(Seq("idx", "para")))
    val rebuilt = TopK.perGroup(paras, Seq(lower(trim(col("para")))),
        Seq(col("doc_id"), col("idx")), 1, "__rn")
      .groupBy(col("doc_id"))
      .agg(
        array_join(
          transform(array_sort(collect_list(struct(col("idx"), col("para")))),
            x => x.getField("para")), "\n").as("text_dedup"),
        count(lit(1)).as("kept_paras"))
    docs.select(col(idCol).as("doc_id"),
        size(split(col(textCol), "\n")).cast("long").as("__n_paras"))
      .join(rebuilt, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("text_dedup"), lit("")).as("text_dedup"),
        coalesce(col("kept_paras"), lit(0L)).as("kept_paras"),
        (col("__n_paras") - coalesce(col("kept_paras"), lit(0L))).as("removed_paras"))
  }
}
