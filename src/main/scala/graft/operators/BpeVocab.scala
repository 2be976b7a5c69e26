package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Tokenizer-vocabulary induction over the corpus: byte-pair-encoding merge
  * learning (Sennrich et al. 2016), as a corpus-scale iterative pipeline —
  * the "train the tokenizer" step of a training-data run.
  *
  * Scale shape (the reason BPE fits Spark at 100 TB): the corpus collapses
  * to its WORD VOCABULARY first (one word-count aggregate — the only
  * corpus-sized job). Every learning iteration then runs on the vocab frame
  * (≪ corpus): one pair-count hash agg + a 1-ROW collect (the argmax
  * merge), and the merge applies as a pure map. Lineage stays flat: the
  * vocab frame is re-persisted per step and the previous incarnation
  * dropped, k-means-style.
  *
  * Determinism: symbol sequences are SEP-joined strings (U+0001; words
  * containing it are DROPPED at vocab build — see [[wordVocab]]), merges
  * apply via a greedy left-to-right fold (the reference BPE step — same
  * fold in Spark's `aggregate` HOF and DuckDB's `list_reduce`, so the
  * q_x_bpe gates replay learning in SQL), and argmax ties break
  * lexicographically on (left, right). Counts weight by word frequency,
  * the standard formulation.
  */
object BpeVocab {

  /** Symbol separator inside a word's encoding (U+0001: absent from text). */
  val Sep = "\u0001"

  final case class Merge(step: Int, left: String, right: String, weight: Long) {
    def pair: String = left + Sep + right
    def merged: String = left + right
  }

  /** (word, freq) — the one corpus-sized aggregate. Words containing the
    * separator itself (U+0001 DOES occur in raw crawl bytes) are dropped
    * here: letting one through would silently corrupt the symbol encoding
    * of every merge that touches it. */
  def wordVocab(docs: DataFrame, textCol: String = "text"): DataFrame =
    docs.select(explode(graft.functions.Text.tokens(col(textCol))).as("word"))
      .filter(length(col("word")) > 0 && !col("word").contains(Sep))
      .groupBy(col("word")).agg(count(lit(1)).as("freq"))

  /** Initial symbol state: each word as its SEP-joined character sequence
    * (char-based `substring`, portable to the oracle's replay). */
  def initSymbols(vocab: DataFrame): DataFrame =
    vocab.select(
      expr(s"array_join(transform(sequence(1, length(word)), i -> substring(word, i, 1)), '$Sep')")
        .as("sym"),
      col("freq"))

  /** Frequency-weighted counts of adjacent symbol pairs. */
  def pairCounts(syms: DataFrame): DataFrame =
    syms
      .withColumn("s", split(col("sym"), Sep))
      .filter(size(col("s")) >= 2)
      .select(explode(expr(
        "transform(sequence(0, size(s) - 2), i -> struct(s[i] AS left, s[i + 1] AS right))"))
        .as("p"), col("freq"))
      .groupBy(col("p.left").as("left"), col("p.right").as("right"))
      .agg(sum(col("freq")).as("weight"))

  /** The next merge: highest weight, ties to the lexicographically smallest
    * (left, right). One 1-row collect. */
  private def topPair(syms: DataFrame, step: Int): Option[Merge] =
    pairCounts(syms).orderBy(col("weight").desc, col("left"), col("right"))
      .limit(1).collect().headOption
      .map(r => Merge(step, r.getString(0), r.getString(1), r.getLong(2)))

  /** One merge applied to a symbol column: a greedy left-to-right FOLD over
    * the symbol sequence — append each symbol, fusing it with the
    * accumulator's LAST symbol when that last symbol is exactly `left` and
    * the incoming one is `right`. This is the reference BPE step. A flat
    * string `replace` of `left SEP right` cannot express it: unanchored it
    * fuses across symbol boundaries (`[th, i]` corrupted by an (h, i)
    * merge), anchored it misses every other occurrence in repeated chains
    * (`[a,a,a,a]`); the fold handles both (spec-pinned), and DuckDB replays
    * it verbatim via `list_reduce` (q_x_bpe_* oracles). */
  private def applyMerge(sym: org.apache.spark.sql.Column, m: Merge) = {
    val s = split(sym, Sep)
    aggregate(
      slice(s, lit(2), size(s) - 1),
      element_at(s, 1),
      (acc, x) => when(
        (acc === lit(m.left) || endswith(acc, lit(Sep + m.left))) && x === lit(m.right),
        concat(acc.substr(lit(1), length(acc) - lit(m.left.length)), lit(m.merged)))
        .otherwise(concat(acc, lit(Sep), x)))
  }

  /** Learn `steps` merges with the word vocabulary RESIDENT IN DRIVER
    * MEMORY. The corpus-sized work is exactly one job — [[wordVocab]]'s
    * word-count aggregate — whose result (distinct words + frequencies,
    * ≪ corpus: a few million rows for web-scale crawls) is collected once;
    * every merge step then runs as the classic in-memory BPE loop with
    * incrementally-maintained pair counts (Sennrich et al. 2016's reference
    * implementation shape). A 32k–100k-merge production vocabulary costs
    * zero additional cluster jobs — the per-merge
    * agg-plus-collect of the distributed twin ([[learnDistributed]], kept
    * for the equivalence spec) would need 2 jobs PER MERGE, a driver-
    * coordination wall regardless of cluster size. Encode stays a pure
    * distributed map either way. */
  def learn(docs: DataFrame, steps: Int, textCol: String = "text",
      minFreq: Long = 1L): Seq[Merge] = {
    // `minFreq` bounds the collect: on web-scale corpora the vocab's tail is
    // dominated by hapax words (typos, ids, junk), and dropping freq <
    // minFreq keeps driver memory proportional to the REPEATED vocabulary
    // rather than the raw distinct-word count. Semantics caveat: pruned
    // words' pair occurrences no longer contribute weight, so a tie decided
    // by a hapax can flip — use minFreq > 1 only where that tolerance is
    // acceptable (it is, for training-tokenizer vocab builds; pinned by
    // BpeVocabSpec's prune-equivalence test).
    val vocabDf = wordVocab(docs, textCol)
    val pruned = if (minFreq > 1L) vocabDf.filter(col("freq") >= minFreq) else vocabDf
    val vocab = pruned.collect().map(r => (r.getString(0), r.getLong(1)))
    learnLocal(vocab, steps)
  }

  /** UTF-8 byte order — Spark's UTF8String and DuckDB's default collation
    * both compare strings this way, and [[topPair]]'s ORDER BY ties broke
    * on it; the in-memory loop must tie-break identically (Java's String
    * ordering differs above the BMP). */
  private def utf8Lt(a: String, b: String): Boolean = {
    val x = a.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    val y = b.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    var i = 0
    while (i < x.length && i < y.length) {
      val c = (x(i) & 0xff) - (y(i) & 0xff)
      if (c != 0) return c < 0
      i += 1
    }
    x.length < y.length
  }

  /** The greedy left-to-right merge fold of [[applyMerge]], driver-side:
    * append each symbol, fusing with the accumulator's last symbol when
    * (last, incoming) == (left, right). Greedy = non-overlapping:
    * [a,a,a] under (a,a) → [aa,a]. */
  private def applyMergeLocal(syms: Array[String], left: String,
      right: String, merged: String): Array[String] = {
    val out = new scala.collection.mutable.ArrayBuffer[String](syms.length)
    out += syms(0)
    var i = 1
    while (i < syms.length) {
      if (out(out.length - 1) == left && syms(i) == right)
        out(out.length - 1) = merged
      else out += syms(i)
      i += 1
    }
    out.toArray
  }

  /** In-memory BPE merge loop over a collected (word, freq) vocabulary.
    * Pair counts are maintained INCREMENTALLY: a merge touches only the
    * words that contain its pair (tracked per pair), so step cost is
    * proportional to affected words, not the vocabulary — the property
    * that lets 32k+ merges finish in driver seconds. Semantics are pinned
    * to [[learnDistributed]] by BpePropertySpec: same counts (adjacent
    * occurrences weighted by word freq), same greedy fold, same
    * (weight desc, left, right) argmax with binary-UTF-8 ties. */
  private[graft] def learnLocal(vocab: Array[(String, Long)], steps: Int): Seq[Merge] = {
    import scala.collection.mutable
    // split on CODE POINTS: Spark's substring/length count code points,
    // and toCharArray would halve anything outside the BMP
    val words: Array[Array[String]] =
      vocab.map { case (w, _) =>
        w.codePoints().toArray.map(cp => new String(Character.toChars(cp)))
      }
    val freqs: Array[Long] = vocab.map(_._2)

    def pairsOf(syms: Array[String]): mutable.LinkedHashMap[(String, String), Long] = {
      val m = mutable.LinkedHashMap.empty[(String, String), Long]
      var i = 0
      while (i + 1 < syms.length) {
        val p = (syms(i), syms(i + 1))
        m.update(p, m.getOrElse(p, 0L) + 1L)
        i += 1
      }
      m
    }

    val pairCount = mutable.HashMap.empty[(String, String), Long]
    val pairWords = mutable.HashMap.empty[(String, String), mutable.BitSet]
    var wi = 0
    while (wi < words.length) {
      pairsOf(words(wi)).foreach { case (p, mult) =>
        pairCount.update(p, pairCount.getOrElse(p, 0L) + mult * freqs(wi))
        pairWords.getOrElseUpdate(p, mutable.BitSet.empty) += wi
      }
      wi += 1
    }

    def bestPair(): Option[((String, String), Long)] = {
      var best: (String, String) = null
      var bestW = 0L
      pairCount.foreach { case (p, w) =>
        if (w > bestW || (w == bestW && best != null &&
            (utf8Lt(p._1, best._1) ||
              (p._1 == best._1 && utf8Lt(p._2, best._2)))))
          { best = p; bestW = w }
      }
      Option(best).map(p => (p, bestW))
    }

    val merges = Seq.newBuilder[Merge]
    var step = 1
    var done = false
    while (step <= steps && !done) {
      bestPair() match {
        case Some(((l, r), w)) =>
          merges += Merge(step, l, r, w)
          val merged = l + r
          val affected = pairWords.getOrElse((l, r), mutable.BitSet.empty).toArray
          affected.foreach { i =>
            val before = pairsOf(words(i))
            words(i) = applyMergeLocal(words(i), l, r, merged)
            val after = pairsOf(words(i))
            (before.keySet ++ after.keySet).foreach { p =>
              val delta = (after.getOrElse(p, 0L) - before.getOrElse(p, 0L)) * freqs(i)
              if (delta != 0L) {
                val nw = pairCount.getOrElse(p, 0L) + delta
                if (nw > 0L) pairCount.update(p, nw) else pairCount.remove(p)
              }
              if (after.contains(p))
                pairWords.getOrElseUpdate(p, mutable.BitSet.empty) += i
              else if (before.contains(p))
                pairWords.get(p).foreach { s => s -= i; if (s.isEmpty) pairWords.remove(p) }
            }
          }
        case None => done = true
      }
      step += 1
    }
    merges.result()
  }

  /** The per-merge DISTRIBUTED loop (one vocab-sized pair-count agg + 1-row
    * collect per step, re-persisted/count-materialized each round): kept as
    * the cross-checking twin for [[learn]] — BpePropertySpec proves both
    * emit the identical merge sequence on arbitrary corpora. Useful only
    * when the word vocabulary itself cannot fit on the driver; at 2 Spark
    * jobs per merge it cannot reach production vocab sizes. */
  private[graft] def learnDistributed(docs: DataFrame, steps: Int,
      textCol: String = "text"): Seq[Merge] = {
    val lvl = org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
    var syms = initSymbols(wordVocab(docs, textCol)).persist(lvl)
    val merges = Seq.newBuilder[Merge]
    var step = 0
    var done = false
    try {
      while (step < steps && !done) {
        topPair(syms, step + 1) match {
          case Some(m) =>
            merges += m
            val parent = syms
            syms = syms.select(applyMerge(col("sym"), m).as("sym"), col("freq")).persist(lvl)
            // materialize before dropping the parent from cache
            try syms.count() finally parent.unpersist()
          case None => done = true
        }
        step += 1
      }
    } finally syms.unpersist()
    merges.result()
  }

  /** The learned merge table as a frame (the q_x_bpe_merges gate surface). */
  def mergesDf(spark: SparkSession, merges: Seq[Merge]): DataFrame = {
    import spark.implicits._
    merges.map(m => (m.step.toLong, m.left, m.right, m.weight))
      .toDF("step", "left", "right", "weight")
  }

  /** Persist the learned merge table as a versioned catalog artifact —
    * train the tokenizer once, encode from any later job ([[loadMerges]]):
    * the production split a session-held merge list cannot give. */
  def saveMerges(cat: graft.catalog.Catalog, table: String,
      spark: SparkSession, merges: Seq[Merge]): Unit =
    cat.write(table, mergesDf(spark, merges))

  /** Load a stored merge table back into the driver-literal list the encode
    * paths bake into their plans. Merge ORDER is semantic (each step's fold
    * sees the previous step's symbols), so steps are re-sorted; the collect
    * is merge-table-sized (hundreds to ~100k rows), never corpus-sized. */
  def loadMerges(cat: graft.catalog.Catalog, table: String): Seq[Merge] =
    cat.read(table).select(col("step"), col("left"), col("right"), col("weight"))
      .collect()
      .map(r => Merge(r.getLong(0).toInt, r.getString(1), r.getString(2), r.getLong(3)))
      .sortBy(_.step).toSeq

  /** (word, sym): every DISTINCT word with its fully-merged symbol string —
    * the shared front half of [[encodedLength]] and [[encodeIdHistogram]].
    * The merge folds (the dominant encode cost: one `aggregate` HOF pass
    * per merge) run ONCE PER VOCAB ENTRY here, not once per corpus word
    * occurrence; the corpus stream then just equi-joins word → sym. At any
    * corpus size the fold work is vocab-bounded — the same collapse that
    * makes [[learn]] scale (measured 3.6 → 0.6 s on the sf0.1 token-id
    * gate vs per-occurrence folding). */
  private def encodedVocab(docs: DataFrame, merges: Seq[Merge],
      textCol: String): DataFrame = {
    val v0 = wordVocab(docs, textCol).select(col("word"))
      .withColumn("sym", expr(
        s"array_join(transform(sequence(1, length(word)), i -> substring(word, i, 1)), '$Sep')"))
    merges.foldLeft(v0)((df, m) => df.withColumn("sym", applyMerge(col("sym"), m)))
  }

  /** The corpus word stream: (doc_id, word) per occurrence, Sep-safe. */
  private def wordStream(docs: DataFrame, idCol: String, textCol: String,
      extraCols: Seq[String] = Nil): DataFrame =
    docs.select(col(idCol).as("doc_id") +: extraCols.map(col) :+
      explode(graft.functions.Text.tokens(col(textCol))).as("word"): _*)
      .filter(length(col("word")) > 0 && !col("word").contains(Sep))

  /** Token-id view of the encoded corpus: (doc_id, id, n) — each document's
    * bag of BPE token ids, with the ENGINE-PORTABLE id definition "dense
    * rank of the symbol in the sorted distinct symbol inventory of the
    * encoded corpus" (no hidden tokenizer state; the q_x_bpe_ids oracle
    * re-derives the identical ids). Shape: one symbol explode + a
    * broadcast-sized vocab join + one hash agg; the vocab ranking window
    * runs on the (tiny) distinct-symbol frame only. */
  def encodeIdHistogram(docs: DataFrame, merges: Seq[Merge],
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    // both the symbol-id inventory and the word→sym map derive from the
    // VOCAB-sized [[encodedVocab]] (computed twice — two word-count aggs —
    // rather than persisting anything: the session-lifetime cache leak this
    // shape used to have is gone, and the corpus stream pays no folds at
    // all, just two broadcast joins)
    val ev = encodedVocab(docs, merges, textCol)
    val vocab = symbolIds(ev)
    wordStream(docs, idCol, textCol)
      .join(broadcast(ev), Seq("word"))
      .select(col("doc_id"), explode(split(col("sym"), Sep)).as("symbol"))
      .join(broadcast(vocab), Seq("symbol"))
      .groupBy(col("doc_id"), col("id"))
      .agg(count(lit(1)).as("n"))
  }

  /** The id table itself: (symbol, id) with id = dense rank of the symbol
    * in the sorted distinct symbol inventory — the window runs on the
    * vocab-sized distinct frame only. */
  private def symbolIds(ev: DataFrame): DataFrame =
    ev.select(explode(split(col("sym"), Sep)).as("symbol")).distinct()
      .withColumn("id", row_number().over(
        org.apache.spark.sql.expressions.Window.orderBy(col("symbol"))).cast("long"))

  /** ORDERED token-id stream of the encoded corpus — (doc_id, widx, sidx,
    * id): widx = the word's position in the document, sidx = the symbol's
    * position within the word. [[encodeIdHistogram]] emits the bag; this
    * preserves sequence, which is what a training run actually consumes
    * (and what [[decodeIdStream]] needs to invert). Same plan: the folds
    * run per DISTINCT word in the vocab-sized [[encodedVocab]], the corpus
    * stream pays two broadcast joins and two positional explodes. */
  def encodeIdStream(docs: DataFrame, merges: Seq[Merge],
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    val ev = encodedVocab(docs, merges, textCol)
    docs.select(col(idCol).as("doc_id"),
        posexplode(graft.functions.Text.tokens(col(textCol))).as(Seq("widx", "word")))
      .filter(length(col("word")) > 0 && !col("word").contains(Sep))
      .join(broadcast(ev), Seq("word"))
      .select(col("doc_id"), col("widx"),
        posexplode(split(col("sym"), Sep)).as(Seq("sidx", "symbol")))
      .join(broadcast(symbolIds(ev)), Seq("symbol"))
      .select(col("doc_id"), col("widx").cast("long").as("widx"),
        col("sidx").cast("long").as("sidx"), col("id"))
  }

  /** Decode an ordered id stream back to text through an id→symbol table:
    * symbols concatenate within a word (a BPE merge is a concatenation, so
    * no out-of-band continuation marker exists at word level), words join
    * with single spaces. Output (doc_id, decoded). Shape: one broadcast
    * join on the id + two hash aggs whose collect_lists are word- and
    * doc-bounded (a document's own tokens — the same per-row bound every
    * tokenize step already carries). */
  def decodeIdStream(ids: DataFrame, vocab: DataFrame): DataFrame =
    ids.join(broadcast(vocab), Seq("id"))
      .groupBy(col("doc_id"), col("widx"))
      .agg(array_join(transform(
        array_sort(collect_list(struct(col("sidx"), col("symbol")))),
        x => x("symbol")), "").as("word"))
      .groupBy(col("doc_id"))
      .agg(array_join(transform(
        array_sort(collect_list(struct(col("widx"), col("word")))),
        x => x("word")), " ").as("decoded"))

  /** Tokenizer integrity gate: decode(encode(doc)) must reproduce the
    * Sep-safe token-normalized document EXACTLY, for every document — the
    * invariant that makes token ids a faithful storage format (a vocab
    * table with a collided or stale id silently corrupts training text;
    * this catches it corpus-wide). Output (doc_id, n_ids, roundtrip_ok).
    * The expected side is map-side (filter + array_join of the doc's own
    * tokens); the decode side is the REAL inversion through the id table,
    * not an algebraic shortcut. */
  def roundtrip(docs: DataFrame, merges: Seq[Merge],
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    val ev = encodedVocab(docs, merges, textCol)
    val ids = encodeIdStream(docs, merges, idCol, textCol)
    val decoded = decodeIdStream(ids, symbolIds(ev))
    val counts = ids.groupBy(col("doc_id")).agg(count(lit(1)).as("n_ids"))
    docs.select(col(idCol).as("doc_id"),
        array_join(filter(graft.functions.Text.tokens(col(textCol)),
          w => length(w) > 0 && !w.contains(Sep)), " ").as("expected"))
      .join(decoded, Seq("doc_id"), "left")
      .join(counts, Seq("doc_id"), "left")
      .select(col("doc_id"), coalesce(col("n_ids"), lit(0L)).as("n_ids"),
        (coalesce(col("decoded"), lit("")) === col("expected")).as("roundtrip_ok"))
  }

  /** Encode documents with a learned merge list: per doc, the BPE symbol
    * count after all merges — the corpus stream joins the encoded vocab
    * (folds run per DISTINCT word, see [[encodedVocab]]) and sums symbol
    * counts: the tokenizer-throughput shape for corpus-wide token
    * budgeting. Broadcast fits test-scale vocabs; a web-scale vocabulary
    * would drop the hint and let the word-count-shaped shuffle join run. */
  def encodedLength(docs: DataFrame, merges: Seq[Merge],
      idCol: String = "doc_id", textCol: String = "text"): DataFrame =
    wordStream(docs, idCol, textCol)
      .join(broadcast(encodedVocab(docs, merges, textCol)), Seq("word"))
      .select(col("doc_id"), (size(split(col("sym"), Sep))).cast("long").as("n"))
      .groupBy(col("doc_id")).agg(sum(col("n")).as("n_bpe_symbols"))

  /** Tokenizer fertility audit: per-document BPE symbols per word — the
    * standard tokenizer-fit metric (fertility ≈ 1 means the vocab covers
    * the text in whole words; high fertility flags domains/languages the
    * tokenizer fragments, which inflates training cost and starves their
    * effective context). Same encode plan as [[encodedLength]] (merge
    * literals folded per DISTINCT word, broadcast back over the word
    * stream) plus an exact word count; the ratio is ONE IEEE division of
    * exact BIGINTs. */
  /** [[fertility]] aggregated per group (language / source / shard):
    * corpus-level symbols-per-word per group from the SAME one-encode
    * plan — the multilingual audit that catches a tokenizer starving its
    * minority languages (the per-doc form can't show a group-level skew
    * at a glance). Group ratio = Σsymbols/Σwords, one IEEE division per
    * group row. */
  def fertilityPerGroup(docs: DataFrame, merges: Seq[Merge], groupCol: String,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame =
    wordStream(docs.withColumn("__grp", col(groupCol)), idCol, textCol,
        extraCols = Seq("__grp"))
      .join(broadcast(encodedVocab(docs, merges, textCol)), Seq("word"))
      .select(col("__grp").as(groupCol),
        (size(split(col("sym"), Sep))).cast("long").as("n"))
      .groupBy(col(groupCol))
      .agg(sum(col("n")).as("n_bpe_symbols"), count(lit(1)).as("n_words"))
      .withColumn("fertility",
        col("n_bpe_symbols").cast("double") / col("n_words").cast("double"))

  def fertility(docs: DataFrame, merges: Seq[Merge],
      idCol: String = "doc_id", textCol: String = "text"): DataFrame =
    wordStream(docs, idCol, textCol)
      .join(broadcast(encodedVocab(docs, merges, textCol)), Seq("word"))
      .select(col("doc_id"), (size(split(col("sym"), Sep))).cast("long").as("n"))
      .groupBy(col("doc_id")).agg(sum(col("n")).as("n_bpe_symbols"),
        count(lit(1)).as("n_words"))
      .withColumn("fertility",
        col("n_bpe_symbols").cast("double") / col("n_words").cast("double"))
}
