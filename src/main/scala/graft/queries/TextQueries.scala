package graft.queries

import org.apache.spark.sql.functions._
import graft.operators.TopK
import Q._

/** Text-analysis + document-dedup operators over the `documents` table —
  * the training-data-pipeline extensions (builder brief; SURVEY.md §7.8).
  *
  * Scale design: every operator here is embarrassingly parallel per document
  * except the pair-forming dedup joins, which NEVER do an all-pairs cross
  * join — candidates come from equality joins on cheap blocking keys (token
  * prefix, MinHash LSH bands, SimHash half-fingerprints), so the shuffle is
  * bucket-sized, not O(n²). At 100 TB the bucket join is a plain shuffled
  * equi-join that AQE load-balances; skewed buckets (boilerplate prefixes)
  * would be handled by salting the block key.
  */
object TextQueries {

  private val stopwords = Seq("the", "a", "of", "and", "in", "to")
  private val stopIn = stopwords.map(w => s"'$w'").mkString(", ")

  /** DuckDB CTEs matching [[graft.operators.TextDedup.shingled]]. */
  private val shingledSql: String =
    s"""tk AS (SELECT doc_id, $tokensSql AS toks FROM documents),
        shd AS (SELECT doc_id, toks, ${shingles3Sql("toks")} AS sh,
                array_to_string(toks[1:3], ' ') AS pfx FROM tk)"""

  /** DuckDB side of [[graft.functions.Text.jaccard]] (order-insensitive,
    * integer-exact → identical doubles on both engines). */
  private val jacSql =
    "len(list_filter(a.sh, x -> list_contains(b.sh, x))) / CAST(len(a.sh) + len(b.sh) - len(list_filter(a.sh, x -> list_contains(b.sh, x))) AS DOUBLE)"

  // ---- MinHash constants (one md5 per shingle, then 16 cheap affine perms
  // mod a Mersenne prime; 8 bands × 2 rows) ----
  private val P = 2147483647L
  private val numHashes = 16
  private val numBands = 8
  private def aj(j: Int): Long = 2L * j + 3
  private def bj(j: Int): Long = 101L * j + 7

  /** Oracle for the batch-vs-corpus incremental dedups (shared by the
    * recompute-the-corpus and the persisted-index variants — the index must
    * not change the answer): odd ids are the batch, even ids the corpus. */
  private lazy val incrementalOracleSql: String = {
    val sigExprs = (0 until numHashes).map(j =>
      s"list_min(list_transform(hs, h -> (${aj(j)} * h + ${bj(j)}) % $P)) AS sig$j").mkString(", ")
    val bandList = (0 until numBands).map(bn =>
      s"'$bn|' || sig${2 * bn} || ':' || sig${2 * bn + 1}").mkString(", ")
    s"""WITH $shingledSql,
        hsh AS (SELECT doc_id, sh,
                list_transform(sh, s -> ${hash64Sql("s")} % $P) AS hs FROM shd),
        sigs AS (SELECT doc_id, sh, $sigExprs FROM hsh),
        bands AS (SELECT doc_id, unnest([$bandList]) AS band FROM sigs),
        cands AS (SELECT DISTINCT bb.doc_id AS batch_id, cb.doc_id AS corpus_id
                  FROM bands bb JOIN bands cb ON bb.band = cb.band
                  WHERE bb.doc_id % 2 = 1 AND cb.doc_id % 2 = 0)
        SELECT batch_id, corpus_id, $jacSql AS jaccard
        FROM cands JOIN shd a ON a.doc_id = batch_id JOIN shd b ON b.doc_id = corpus_id
        WHERE $jacSql >= 0.5"""
  }

  /** DuckDB CTEs (`tok`/`h`/`v`/`f`) computing the 60-bit SimHash fingerprint
    * exactly as [[graft.operators.TextDedup.simhash]] does. */
  private val simhashFingerprintSql: String = {
    val bits = graft.operators.TextDedup.SimHashBits
    val votes = (0 until bits).map(i =>
      s"sum(CASE WHEN (h >> $i) & 1 = 1 THEN 1 ELSE -1 END) AS b$i").mkString(", ")
    val fp = (0 until bits).map(i =>
      s"CASE WHEN b$i > 0 THEN (CAST(1 AS BIGINT) << $i) ELSE 0 END").mkString(" + ")
    s"""WITH tok AS (SELECT doc_id, unnest($tokensSql) AS t FROM documents),
        h AS (SELECT doc_id, ${hash64Sql("t")} AS h FROM tok),
        v AS (SELECT doc_id, $votes FROM h GROUP BY doc_id),
        f AS (SELECT doc_id, $fp AS simhash FROM v)"""
  }

  /** DuckDB replay of [[graft.operators.BpeVocab.learn]] (3 merge steps,
    * unrolled): word vocab → chr(1)-joined char symbols, then per step a
    * pair-count (parallel unnest of the shifted symbol slices), the argmax
    * merge (ties lexicographic — binary UTF-8 order in both engines), and
    * the greedy left-to-right merge FOLD via `list_reduce` — the identical
    * algorithm to the operator's `aggregate` HOF (a flat string replace
    * would fuse across symbol boundaries / skip repeated chains). */
  private def bpeFoldSql(symExpr: String): String =
    s"""list_reduce(string_split($symExpr, chr(1)),
          (acc, x) -> CASE WHEN (acc = lft OR right(acc, length(lft) + 1) = chr(1) || lft)
                            AND x = rgt
                      THEN substring(acc, 1, length(acc) - length(lft)) || lft || rgt
                      ELSE acc || chr(1) || x END)"""

  private lazy val bpeCtes: String = {
    def pairCte(p: String, v: String) =
      s"""$p AS (SELECT lft, rgt, CAST(sum(freq) AS BIGINT) AS weight FROM (
            SELECT unnest(s[1:len(s)-1]) AS lft, unnest(s[2:len(s)]) AS rgt, freq
            FROM (SELECT string_split(sym, chr(1)) AS s, freq FROM $v) WHERE len(s) >= 2)
          GROUP BY 1, 2)"""
    def mCte(m: String, p: String) =
      s"$m AS (SELECT lft, rgt, weight FROM $p ORDER BY weight DESC, lft, rgt LIMIT 1)"
    def vCte(vn: String, v: String, m: String) =
      s"$vn AS (SELECT ${bpeFoldSql("sym")} AS sym, freq FROM $v CROSS JOIN $m)"
    s"""w AS (SELECT unnest($tokensSql) AS word FROM documents),
        v0 AS (SELECT array_to_string(list_transform(generate_series(1, length(word)),
                 i -> word[i]), chr(1)) AS sym, count(*) AS freq
               FROM w WHERE length(word) > 0 AND NOT contains(word, chr(1)) GROUP BY 1),
        ${pairCte("p1", "v0")}, ${mCte("m1", "p1")}, ${vCte("v1", "v0", "m1")},
        ${pairCte("p2", "v1")}, ${mCte("m2", "p2")}, ${vCte("v2", "v1", "m2")},
        ${pairCte("p3", "v2")}, ${mCte("m3", "p3")}"""
  }

  /** Per-(session, sfDir) learned BPE merges — train-once-probe-many, same
    * pattern as VectorQueries' kmeansModels: q_x_bpe_merges and
    * q_x_bpe_encode share one fit instead of re-learning per invocation. */
  private val bpeMerges = new Memo[Seq[graft.operators.BpeVocab.Merge]]

  private def learnedMerges(s: org.apache.spark.sql.SparkSession, d: String) =
    bpeMerges(s, d)(graft.operators.BpeVocab.learn(t(s, d, "documents"), 3))

  /** Oracle shared by the in-session and stored-merges encode gates — a
    * merge table round-tripped through the catalog must encode identically. */
  private lazy val bpeEncodeOracleSql: String =
    s"""WITH $bpeCtes,
        dw AS (SELECT doc_id, array_to_string(list_transform(
                 generate_series(1, length(word)), i -> word[i]), chr(1)) AS sym
               FROM (SELECT doc_id, unnest($tokensSql) AS word FROM documents)
               WHERE length(word) > 0 AND NOT contains(word, chr(1))),
        enc1 AS (SELECT doc_id, ${bpeFoldSql("sym")} AS sym FROM dw CROSS JOIN m1),
        enc2 AS (SELECT doc_id, ${bpeFoldSql("sym")} AS sym FROM enc1 CROSS JOIN m2),
        enc3 AS (SELECT doc_id, ${bpeFoldSql("sym")} AS sym FROM enc2 CROSS JOIN m3)
        SELECT doc_id, CAST(sum(len(string_split(sym, chr(1)))) AS BIGINT) AS n_bpe_symbols
        FROM enc3 GROUP BY doc_id"""

  lazy val all: Seq[QueryDef] = Seq(

    // Text quality scoring: token/char/letter counts, stopword ratio, and a
    // deterministic composite score — all integer-exact or fixed-order double
    // arithmetic so both engines agree bitwise.
    QueryDef("q_x_text_stats",
      (s, d) => t(s, d, "documents")
        .select(col("doc_id"), col("text"), tokens(col("text")).as("toks"))
        .select(
          col("doc_id"),
          size(col("toks")).cast("long").as("n_tokens"),
          length(col("text")).cast("long").as("n_chars"),
          length(regexp_replace(col("text"), "[^a-zA-Z]", "")).cast("long").as("n_letters"),
          expr(s"size(filter(toks, t -> t IN ($stopIn)))").cast("long").as("n_stopwords"))
        .withColumn("alpha_ratio", col("n_letters") / col("n_chars").cast("double"))
        .withColumn("stop_ratio", col("n_stopwords") / col("n_tokens").cast("double"))
        .withColumn("quality_score", col("alpha_ratio") * 0.5 + col("stop_ratio") * 0.5),
      Some(s"""SELECT doc_id, n_tokens, n_chars, n_letters, n_stopwords,
               n_letters / CAST(n_chars AS DOUBLE) AS alpha_ratio,
               n_stopwords / CAST(n_tokens AS DOUBLE) AS stop_ratio,
               (n_letters / CAST(n_chars AS DOUBLE)) * 0.5 + (n_stopwords / CAST(n_tokens AS DOUBLE)) * 0.5 AS quality_score
               FROM (SELECT doc_id,
                     len($tokensSql) AS n_tokens,
                     length(text) AS n_chars,
                     length(regexp_replace(text, '[^a-zA-Z]', '', 'g')) AS n_letters,
                     len(list_filter($tokensSql, t -> t IN ($stopIn))) AS n_stopwords
                     FROM documents)""")),

    // Quality filtering: the pre-training corpus gate (length bounds + alpha
    // ratio + stopword density) — map-side only, verdict kept for audit.
    QueryDef("q_x_quality_filter",
      (s, d) => graft.operators.QualityFilter.verdicts(t(s, d, "documents"))
        .select(col("doc_id"), col("n_tokens"), col("alpha_ratio"),
          col("stop_ratio"), col("keep")),
      Some(s"""SELECT doc_id, n_tokens,
               n_letters / CAST(n_chars AS DOUBLE) AS alpha_ratio,
               n_stopwords / CAST(n_tokens AS DOUBLE) AS stop_ratio,
               (n_tokens >= 20 AND n_tokens <= 1048576
                AND n_letters / CAST(n_chars AS DOUBLE) >= 0.6
                AND n_stopwords / CAST(n_tokens AS DOUBLE) >= 0.01) AS keep
               FROM (SELECT doc_id,
                     len($tokensSql) AS n_tokens,
                     length(text) AS n_chars,
                     length(regexp_replace(text, '[^a-zA-Z]', '', 'g')) AS n_letters,
                     len(list_filter($tokensSql, t -> t IN ($stopIn))) AS n_stopwords
                     FROM documents)""")),

    // The published Gopher heuristic rule battery (Rae et al. 2021 App.
    // A1.1): word-count band, mean-word-length band, symbol-to-word ratio,
    // alpha-word fraction, stopword-hit floor — each rule surfaced as its
    // own boolean (curation needs "WHY was it dropped"). All integer counts
    // + one IEEE division per ratio → cross-engine exact. Word bounds are
    // tightened to this fixture's 10–99-token docs so the verdict is mixed.
    QueryDef("q_x_gopher_rules",
      (s, d) => graft.operators.QualityFilter.gopherScored(
          t(s, d, "documents"),
          graft.operators.QualityFilter.GopherThresholds(
            minWords = 30, maxWords = 90, minStopwordHits = 2))
        .select(col("doc_id"), col("n_words"), col("mean_word_len"),
          col("symbol_ratio"), col("alpha_word_ratio"), col("n_stopword_hits"),
          col("r_word_count"), col("r_mean_len"), col("r_symbol"),
          col("r_alpha"), col("r_stop"), col("keep")),
      Some(s"""WITH raw AS (SELECT doc_id,
                 CAST(len($tokensSql) AS BIGINT) AS n_words,
                 CAST(list_sum(list_transform($tokensSql, t -> length(t))) AS BIGINT)
                   AS sum_word_len,
                 CAST((length(text) - length(replace(text, '#', ''))) +
                   (length(text) - length(replace(text, '...', ''))) / 3 AS BIGINT)
                   AS n_symbol_words,
                 CAST(len(list_filter($tokensSql,
                   t -> regexp_matches(t, '[a-zA-Z]'))) AS BIGINT) AS n_alpha_words,
                 CAST(len(list_filter($tokensSql, t -> t IN ($stopIn))) AS BIGINT)
                   AS n_stopword_hits
                 FROM documents),
               m AS (SELECT doc_id, n_words, n_stopword_hits,
                 CASE WHEN n_words > 0
                   THEN sum_word_len / CAST(n_words AS DOUBLE) ELSE 0.0 END
                   AS mean_word_len,
                 CASE WHEN n_words > 0
                   THEN n_symbol_words / CAST(n_words AS DOUBLE) ELSE 0.0 END
                   AS symbol_ratio,
                 CASE WHEN n_words > 0
                   THEN n_alpha_words / CAST(n_words AS DOUBLE) ELSE 0.0 END
                   AS alpha_word_ratio
                 FROM raw)
               SELECT doc_id, n_words, mean_word_len, symbol_ratio,
                 alpha_word_ratio, n_stopword_hits,
                 (n_words >= 30 AND n_words <= 90) AS r_word_count,
                 (mean_word_len >= 3.0 AND mean_word_len <= 10.0) AS r_mean_len,
                 (symbol_ratio <= 0.1) AS r_symbol,
                 (alpha_word_ratio >= 0.8) AS r_alpha,
                 (n_stopword_hits >= 2) AS r_stop,
                 (n_words >= 30 AND n_words <= 90
                  AND mean_word_len >= 3.0 AND mean_word_len <= 10.0
                  AND symbol_ratio <= 0.1 AND alpha_word_ratio >= 0.8
                  AND n_stopword_hits >= 2) AS keep
               FROM m""")),

    // Length distribution: exact interpolated quantiles (Spark `percentile`
    // and DuckDB `quantile_cont` share the linear-interpolation definition;
    // integer inputs → identical doubles) + bucketed histogram.
    QueryDef("q_x_length_quantiles",
      (s, d) => t(s, d, "documents")
        .select(size(tokens(col("text"))).cast("long").as("n"))
        .agg(
          expr("percentile(n, 0.25)").as("p25"),
          expr("percentile(n, 0.5)").as("p50"),
          expr("percentile(n, 0.75)").as("p75"),
          expr("percentile(n, 0.95)").as("p95")),
      Some(s"""SELECT quantile_cont(n, 0.25) AS p25, quantile_cont(n, 0.5) AS p50,
               quantile_cont(n, 0.75) AS p75, quantile_cont(n, 0.95) AS p95
               FROM (SELECT len($tokensSql) AS n FROM documents)""")),

    // Grouped exact quantiles: per-language interpolated percentiles (same
    // linear-interpolation definition on both engines; integer inputs).
    QueryDef("q_x_group_quantiles",
      (s, d) => t(s, d, "documents")
        .select(col("lang"), size(tokens(col("text"))).cast("long").as("n"))
        .groupBy(col("lang"))
        .agg(expr("percentile(n, 0.5)").as("p50"),
          expr("percentile(n, 0.9)").as("p90"),
          count(lit(1)).as("n_docs")),
      Some(s"""SELECT lang, quantile_cont(n, 0.5) AS p50, quantile_cont(n, 0.9) AS p90,
               count(*) AS n_docs
               FROM (SELECT lang, len($tokensSql) AS n FROM documents) GROUP BY lang""")),

    // ...and the sketch variant (the exact/approx pairing, like
    // q_x_user_distinct/_approx): approx_percentile's mergeable GK-style
    // summary is the 100 TB path — fixed state per group instead of the
    // exact percentile's full sorted buffer. The sketch VALUE is
    // implementation-defined, so the gate hashes the sketch's CONTRACT
    // instead: per group, the returned element's rank interval
    // [count(<v)+1, count(≤v)] must intersect (q ± ε)·N with ε = 1/accuracy
    // (±1 slack for endpoint rounding). Spark evaluates the bound; the
    // oracle emits the literal trues — a violated bound flips a boolean
    // and fails the hash, the q_x_ndcg bake-the-invariant pattern.
    QueryDef("q_x_group_quantiles_approx",
      (s, d) => {
        val base = t(s, d, "documents")
          .select(col("lang"), size(tokens(col("text"))).cast("long").as("n"))
        val apx = base.groupBy(col("lang"))
          .agg(expr("approx_percentile(n, 0.5, 1000)").as("p50a"),
            expr("approx_percentile(n, 0.9, 1000)").as("p90a"))
        def inEps(q: Double, lt: org.apache.spark.sql.Column,
            le: org.apache.spark.sql.Column): org.apache.spark.sql.Column = {
          val nd = count(lit(1)).cast("double")
          val lo = lit(q) * nd - nd / 1000 - 1
          val hi = lit(q) * nd + nd / 1000 + 1
          (lt + 1).cast("double") <= hi && le.cast("double") >= lo
        }
        base.join(broadcast(apx), "lang")
          .groupBy(col("lang"))
          .agg(count(lit(1)).as("n_docs"),
            inEps(0.5,
              sum(when(col("n") < col("p50a"), 1L).otherwise(0L)),
              sum(when(col("n") <= col("p50a"), 1L).otherwise(0L))).as("p50_in_eps"),
            inEps(0.9,
              sum(when(col("n") < col("p90a"), 1L).otherwise(0L)),
              sum(when(col("n") <= col("p90a"), 1L).otherwise(0L))).as("p90_in_eps"))
      },
      Some("""SELECT lang, count(*) AS n_docs, true AS p50_in_eps,
              true AS p90_in_eps FROM documents GROUP BY lang""")),

    QueryDef("q_x_length_histogram",
      (s, d) => t(s, d, "documents")
        .select((floor(size(tokens(col("text"))) / 10) * 10).cast("long").as("bucket"))
        .groupBy(col("bucket")).agg(count(lit(1)).as("n_docs")),
      Some(s"""SELECT CAST(floor(len($tokensSql) / 10) * 10 AS BIGINT) AS bucket,
               count(*) AS n_docs FROM documents GROUP BY 1""")),

    // Array-function surface over token sets: intersect / except / overlap
    // against a fixed vocabulary (set results sorted+joined to scalars —
    // both engines order set ops arbitrarily).
    QueryDef("q_f6_array_ops",
      (s, d) => {
        val vocab = array(stopwords.map(lit): _*)
        t(s, d, "documents")
          .select(col("doc_id"), tokens(col("text")).as("toks"))
          .select(
            col("doc_id"),
            array_join(sort_array(array_intersect(array_distinct(col("toks")), vocab)), "|")
              .as("common_stopwords"),
            size(array_except(array_distinct(col("toks")), vocab)).cast("long")
              .as("n_non_stopword_types"),
            arrays_overlap(col("toks"), vocab).as("has_stopword"))
      },
      Some(s"""SELECT doc_id,
               COALESCE(array_to_string(list_sort(list_intersect(list_distinct($tokensSql),
                 [$stopIn])), '|'), '') AS common_stopwords,
               len(list_filter(list_distinct($tokensSql),
                 t -> NOT list_contains([$stopIn], t))) AS n_non_stopword_types,
               list_has_any($tokensSql, [$stopIn]) AS has_stopword
               FROM documents""")),

    // Corpus token statistics (BPE-ish accounting rolls up the same way).
    QueryDef("q_x_token_totals",
      (s, d) => t(s, d, "documents")
        .select(size(tokens(col("text"))).cast("long").as("n"))
        .agg(sum(col("n")).as("total_tokens"), count(lit(1)).as("n_docs"),
          min(col("n")).as("min_tokens"), max(col("n")).as("max_tokens")),
      Some(s"""SELECT CAST(sum(n) AS BIGINT) AS total_tokens, count(*) AS n_docs,
               CAST(min(n) AS BIGINT) AS min_tokens, CAST(max(n) AS BIGINT) AS max_tokens
               FROM (SELECT len($tokensSql) AS n FROM documents)""")),

    // Language-ID by character-trigram profile scoring with a fixed
    // priority tie-break (operators.LangId). The synthetic corpus uses
    // English vocabulary under every label, so the checked property is
    // deterministic scoring, not accuracy.
    QueryDef("q_x_lang_id",
      (s, d) => graft.operators.LangId.predict(
          t(s, d, "documents").select(col("doc_id"), col("lang"), col("text")))
        .select((Seq(col("doc_id"), col("lang"), col("pred_lang")) ++
          graft.operators.LangId.profiles.map { case (l, _) => col(s"s_$l") }): _*),
      Some {
        val langs = graft.operators.LangId.profiles.map(_._1)
        val scores = graft.operators.LangId.profiles.map { case (l, marks) =>
          val inList = marks.map(m => "'" + m.replace("'", "''") + "'").mkString(", ")
          s"len(list_filter(tg, t -> t IN ($inList))) AS s_$l"
        }.mkString(",\n                     ")
        val pred = langs.init.zipWithIndex.map { case (l, i) =>
          val cond = langs.drop(i + 1).map(o => s"s_$l >= s_$o").mkString(" AND ")
          s"WHEN $cond THEN '$l'"
        }.mkString(" ")
        s"""SELECT doc_id, lang, CASE $pred ELSE '${langs.last}' END AS pred_lang,
            ${langs.map(l => s"s_$l").mkString(", ")}
            FROM (SELECT doc_id, lang, $scores
                  FROM (SELECT doc_id, lang,
                        CASE WHEN length(text) >= 3
                             THEN list_distinct(list_transform(generate_series(1, length(text) - 2),
                                  i -> substr(text, i, 3)))
                             ELSE [] END AS tg
                        FROM documents))"""
      }),

    // Corpus vocabulary: global token frequencies, deterministic top-20
    // (explode → hash agg → top-k; one shuffle at any scale).
    QueryDef("q_x_vocab_topk",
      (s, d) => {
        val counts = t(s, d, "documents")
          .select(explode(tokens(col("text"))).as("tok"))
          .groupBy(col("tok")).agg(count(lit(1)).as("n"))
        TopK.perGroup(counts, Nil, Seq(col("n").desc, col("tok")), 20)
          .select(col("tok"), col("n"), col("rank"))
      },
      Some(s"""SELECT tok, n, rank FROM (
               SELECT tok, count(*) AS n,
                      row_number() OVER (ORDER BY count(*) DESC, tok) AS rank
               FROM (SELECT unnest($tokensSql) AS tok FROM documents) GROUP BY tok)
               WHERE rank <= 20""")),

    // BPE-ish token accounting: regex word/number/punct-run classes (the
    // pre-tokenizer shape of GPT-style BPE), next to whitespace counts.
    // Identical class semantics in Java regex and RE2 for ASCII classes.
    QueryDef("q_x_token_bpe",
      (s, d) => t(s, d, "documents").select(
        col("doc_id"),
        size(split(col("text"), " ")).cast("long").as("n_ws_tokens"),
        expr("size(regexp_extract_all(text, '[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9 ]+', 0))")
          .cast("long").as("n_bpe_tokens")),
      Some(s"""SELECT doc_id,
               len($tokensSql) AS n_ws_tokens,
               len(regexp_extract_all(text, '[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9 ]+')) AS n_bpe_tokens
               FROM documents""")),

    // Tokenizer training: the first 3 BPE merges learned over the corpus —
    // the corpus collapses to its word vocab (one corpus-sized agg); each
    // step is a vocab-sized pair count + a 1-row argmax collect.
    QueryDef("q_x_bpe_merges",
      (s, d) => graft.operators.BpeVocab.mergesDf(s, learnedMerges(s, d)),
      Some(s"""WITH $bpeCtes
               SELECT CAST(1 AS BIGINT) AS step, lft AS "left", rgt AS "right", weight FROM m1
               UNION ALL SELECT 2, lft, rgt, weight FROM m2
               UNION ALL SELECT 3, lft, rgt, weight FROM m3""")),

    // Tokenizer throughput: per-doc symbol count after the 3 learned merges
    // — encoding is a pure map (merge literals baked into the plan), the
    // corpus-wide token-budgeting shape.
    QueryDef("q_x_bpe_encode",
      (s, d) => graft.operators.BpeVocab.encodedLength(
        t(s, d, "documents"), learnedMerges(s, d)),
      Some(bpeEncodeOracleSql)),

    // Tokenizer fertility: BPE symbols per word, per document — the
    // tokenizer-fit audit (high fertility = the vocab fragments this
    // document's domain; the per-language form is how real pipelines
    // catch under-served languages). Ratio of exact BIGINTs, one IEEE
    // division; the encode side is q_x_bpe_encode's plan verbatim.
    QueryDef("q_x_bpe_fertility",
      (s, d) => graft.operators.BpeVocab.fertility(
        t(s, d, "documents"), learnedMerges(s, d)),
      Some(s"""WITH $bpeCtes,
        dw AS (SELECT doc_id, array_to_string(list_transform(
                 generate_series(1, length(word)), i -> word[i]), chr(1)) AS sym
               FROM (SELECT doc_id, unnest($tokensSql) AS word FROM documents)
               WHERE length(word) > 0 AND NOT contains(word, chr(1))),
        enc1 AS (SELECT doc_id, ${bpeFoldSql("sym")} AS sym FROM dw CROSS JOIN m1),
        enc2 AS (SELECT doc_id, ${bpeFoldSql("sym")} AS sym FROM enc1 CROSS JOIN m2),
        enc3 AS (SELECT doc_id, ${bpeFoldSql("sym")} AS sym FROM enc2 CROSS JOIN m3),
        agg AS (SELECT doc_id,
                  CAST(sum(len(string_split(sym, chr(1)))) AS BIGINT) AS n_bpe_symbols,
                  CAST(count(*) AS BIGINT) AS n_words
                FROM enc3 GROUP BY doc_id)
        SELECT doc_id, n_bpe_symbols, n_words,
               CAST(n_bpe_symbols AS DOUBLE) / CAST(n_words AS DOUBLE) AS fertility
        FROM agg""")),

    // Per-language fertility: corpus-level symbols-per-word per lang from
    // the same one-encode plan — the multilingual tokenizer audit (a vocab
    // fit on the majority language shows up as elevated minority-language
    // fertility here, invisible in per-doc rows).
    QueryDef("q_x_bpe_fertility_per_lang",
      (s, d) => graft.operators.BpeVocab.fertilityPerGroup(
        t(s, d, "documents"), learnedMerges(s, d), "lang"),
      Some(s"""WITH $bpeCtes,
        dw AS (SELECT doc_id, lang, array_to_string(list_transform(
                 generate_series(1, length(word)), i -> word[i]), chr(1)) AS sym
               FROM (SELECT doc_id, lang, unnest($tokensSql) AS word FROM documents)
               WHERE length(word) > 0 AND NOT contains(word, chr(1))),
        enc1 AS (SELECT doc_id, lang, ${bpeFoldSql("sym")} AS sym FROM dw CROSS JOIN m1),
        enc2 AS (SELECT doc_id, lang, ${bpeFoldSql("sym")} AS sym FROM enc1 CROSS JOIN m2),
        enc3 AS (SELECT doc_id, lang, ${bpeFoldSql("sym")} AS sym FROM enc2 CROSS JOIN m3),
        agg AS (SELECT lang,
                  CAST(sum(len(string_split(sym, chr(1)))) AS BIGINT) AS n_bpe_symbols,
                  CAST(count(*) AS BIGINT) AS n_words
                FROM enc3 GROUP BY lang)
        SELECT lang, n_bpe_symbols, n_words,
               CAST(n_bpe_symbols AS DOUBLE) / CAST(n_words AS DOUBLE) AS fertility
        FROM agg""")),

    // Encoding under a STORED merge table: learn → Catalog.write (versioned
    // artifact) → loadMerges → encode — the tokenizer-as-artifact production
    // shape (train once, every later job encodes from the stored table).
    // Same oracle as q_x_bpe_encode: the catalog round-trip must not change
    // one symbol count.
    QueryDef("q_x_bpe_encode_stored",
      (s, d) => {
        val cat = new graft.catalog.Catalog(s, scratch(s, d, "graft-bpe-merges"))
        if (!cat.exists("bpe_merges"))
          graft.operators.BpeVocab.saveMerges(cat, "bpe_merges", s, learnedMerges(s, d))
        graft.operators.BpeVocab.encodedLength(
          t(s, d, "documents"),
          graft.operators.BpeVocab.loadMerges(cat, "bpe_merges"))
      },
      Some(bpeEncodeOracleSql)),

    // Tokenizer output: each doc's bag of BPE token IDS under the learned
    // merges — ids are dense ranks over the encoded corpus's sorted symbol
    // inventory, a fully data-derived (hence cross-engine) vocabulary.
    QueryDef("q_x_bpe_ids",
      (s, d) => graft.operators.BpeVocab.encodeIdHistogram(
        t(s, d, "documents"), learnedMerges(s, d)),
      Some(s"""WITH $bpeCtes,
               dw AS (SELECT doc_id, array_to_string(list_transform(
                        generate_series(1, length(word)), i -> word[i]), chr(1)) AS sym
                      FROM (SELECT doc_id, unnest($tokensSql) AS word FROM documents)
                      WHERE length(word) > 0 AND NOT contains(word, chr(1))),
               enc1 AS (SELECT doc_id, ${bpeFoldSql("sym")} AS sym FROM dw CROSS JOIN m1),
               enc2 AS (SELECT doc_id, ${bpeFoldSql("sym")} AS sym FROM enc1 CROSS JOIN m2),
               enc3 AS (SELECT doc_id, ${bpeFoldSql("sym")} AS sym FROM enc2 CROSS JOIN m3),
               sy AS (SELECT doc_id, unnest(string_split(sym, chr(1))) AS symbol FROM enc3),
               vocab AS (SELECT symbol, row_number() OVER (ORDER BY symbol) AS id
                         FROM (SELECT DISTINCT symbol FROM sy))
               SELECT doc_id, CAST(id AS BIGINT) AS id, count(*) AS n
               FROM sy JOIN vocab USING (symbol) GROUP BY 1, 2""")),

    // Tokenizer integrity roundtrip: decode(encode(doc)) through the
    // data-derived id table must reproduce the Sep-safe token-normalized
    // text of EVERY document — the invariant that makes token ids a
    // faithful storage format (a collided/stale vocab id silently corrupts
    // training text; this catches it corpus-wide). The decode side really
    // inverts the id stream (id → symbol join, positional reassembly), not
    // an algebraic shortcut; the oracle replays encode, id assignment,
    // decode, and the comparison.
    QueryDef("q_x_bpe_roundtrip",
      (s, d) => graft.operators.BpeVocab.roundtrip(
        t(s, d, "documents"), learnedMerges(s, d)),
      Some(s"""WITH $bpeCtes,
               tkf AS (SELECT doc_id, list_filter($tokensSql,
                         w -> length(w) > 0 AND NOT contains(w, chr(1))) AS toks
                       FROM documents),
               dw AS (SELECT doc_id, widx,
                        array_to_string(list_transform(
                          generate_series(1, length(toks[widx])),
                          i -> toks[widx][i]), chr(1)) AS sym
                      FROM (SELECT doc_id, toks,
                              unnest(generate_series(1, len(toks))) AS widx
                            FROM tkf)),
               enc1 AS (SELECT doc_id, widx, ${bpeFoldSql("sym")} AS sym
                        FROM dw CROSS JOIN m1),
               enc2 AS (SELECT doc_id, widx, ${bpeFoldSql("sym")} AS sym
                        FROM enc1 CROSS JOIN m2),
               enc3 AS (SELECT doc_id, widx, ${bpeFoldSql("sym")} AS sym
                        FROM enc2 CROSS JOIN m3),
               sy AS (SELECT doc_id, widx, sidx, syms[sidx] AS symbol
                      FROM (SELECT doc_id, widx, syms,
                              unnest(generate_series(1, len(syms))) AS sidx
                            FROM (SELECT doc_id, widx,
                                    string_split(sym, chr(1)) AS syms
                                  FROM enc3))),
               vocab AS (SELECT symbol, row_number() OVER (ORDER BY symbol) AS id
                         FROM (SELECT DISTINCT symbol FROM sy)),
               ids AS (SELECT doc_id, widx, sidx, id FROM sy JOIN vocab USING (symbol)),
               dec AS (SELECT doc_id, widx,
                         string_agg(v2.symbol, '' ORDER BY sidx) AS word
                       FROM ids JOIN vocab v2 USING (id) GROUP BY 1, 2),
               txt AS (SELECT doc_id, string_agg(word, ' ' ORDER BY widx) AS decoded
                       FROM dec GROUP BY 1),
               nn AS (SELECT doc_id, count(*) AS n_ids FROM ids GROUP BY 1),
               expd AS (SELECT doc_id, array_to_string(toks, ' ') AS expected
                        FROM tkf)
               SELECT e.doc_id, CAST(COALESCE(nn.n_ids, 0) AS BIGINT) AS n_ids,
                 COALESCE(txt.decoded, '') = e.expected AS roundtrip_ok
               FROM expd e LEFT JOIN txt USING (doc_id)
               LEFT JOIN nn USING (doc_id)""")),

    // Partition-directory layout: the corpus stored hive-style by language
    // (Catalog.writePartitioned), queried with a partition filter — whole
    // lang= directories prune at file-listing time, before any I/O. The
    // oracle scans the flat table; results must be identical.
    QueryDef("q_x_partitioned_scan",
      (s, d) => {
        val cat = new graft.catalog.Catalog(s, scratch(s, d, "graft-part"))
        if (!cat.exists("docs_by_lang"))
          cat.writePartitioned("docs_by_lang", t(s, d, "documents"), "lang")
        cat.read("docs_by_lang").filter(col("lang") === "en")
          .groupBy(col("source"))
          .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("sum_chars"))
      },
      Some("""SELECT source, count(*) AS n_docs, CAST(sum(n_chars) AS BIGINT) AS sum_chars
              FROM documents WHERE lang = 'en' GROUP BY 1""")),

    // Corpus-relative quality gate: keep docs at or above the corpus P25
    // of token count — dynamic thresholds instead of stale constants. One
    // exact-percentile aggregate broadcast into a map-side flag.
    QueryDef("q_x_quantile_gate",
      (s, d) => graft.operators.QualityFilter.quantileGate(
        t(s, d, "documents")
          .select(col("doc_id"), size(tokens(col("text"))).cast("long").as("n_tokens")),
        "n_tokens", 0.25),
      Some(s"""SELECT doc_id, n_tokens, cutoff,
                      coalesce(n_tokens >= cutoff, false) AS keep
               FROM (SELECT doc_id, len($tokensSql) AS n_tokens FROM documents)
               CROSS JOIN (SELECT quantile_cont(len($tokensSql), 0.25) AS cutoff
                           FROM documents)""")),

    // Per-LANGUAGE quantile gate: each language gets its own P25 cutoff —
    // a corpus-global percentile is dominated by the majority language and
    // guts low-resource ones. One grouped exact-percentile agg (group-
    // cardinality-sized) broadcast back as a map-side flag.
    QueryDef("q_x_quantile_gate_grouped",
      (s, d) => graft.operators.QualityFilter.quantileGateGrouped(
        t(s, d, "documents").select(col("lang"), col("doc_id"),
          size(tokens(col("text"))).cast("long").as("n_tokens")),
        "lang", "n_tokens", 0.25),
      Some(s"""SELECT m.lang, doc_id, n_tokens, cutoff,
                      coalesce(n_tokens >= cutoff, false) AS keep
               FROM (SELECT lang, doc_id, len($tokensSql) AS n_tokens FROM documents) m
               LEFT JOIN (SELECT lang, quantile_cont(len($tokensSql), 0.25) AS cutoff
                          FROM documents GROUP BY lang) c
                 ON m.lang IS NOT DISTINCT FROM c.lang""")),

    // Content fingerprint: md5 over the sorted distinct token set (word-order
    // insensitive document identity; the rolling-hash variant lives in
    // graft.functions.TextFunctions with ScalaTest coverage).
    QueryDef("q_x_fingerprint",
      (s, d) => t(s, d, "documents").select(col("doc_id"),
        graft.functions.Text.setFingerprint(tokens(col("text"))).as("fingerprint")),
      Some(s"""SELECT doc_id,
               md5(array_to_string(list_sort(list_distinct($tokensSql)), ' ')) AS fingerprint
               FROM documents""")),

    // Exact dedup: group identical content by hash, keep the smallest id.
    // At scale this is one hash-partitioned aggregate — no comparisons.
    QueryDef("q_x_dedup_exact",
      (s, d) => graft.operators.TextDedup.exact(t(s, d, "documents")),
      Some("""SELECT md5(text) AS content_hash, CAST(min(doc_id) AS BIGINT) AS keep_id,
              count(*) AS n_copies FROM documents GROUP BY md5(text)""")),

    // Substring-level dedup (hashed fixed-width spans standing in for a
    // suffix array): every 8-token window hashed map-side, one hash agg —
    // spans occurring 2+ times corpus-wide are the copy/boilerplate
    // inventory. Word-count-shaped at 100 TB.
    QueryDef("q_x_dup_spans",
      (s, d) => graft.operators.TextDedup.duplicatedSpans(t(s, d, "documents")),
      Some(s"""WITH tk AS (SELECT doc_id, $tokensSql AS toks FROM documents),
               sp AS (SELECT doc_id, unnest(CASE WHEN len(toks) >= 8
                        THEN list_transform(generate_series(1, len(toks) - 7),
                             i -> ${hash64Sql("array_to_string(toks[i:i+7], ' ')")})
                        ELSE [] END) AS span_hash FROM tk)
               SELECT span_hash, count(DISTINCT doc_id) AS n_docs,
                      count(*) AS n_occurrences
               FROM sp GROUP BY span_hash HAVING count(*) >= 2""")),

    // Per-document duplicated-span fraction: the "mostly duplicated text"
    // filter signal. One window count over span_hash + one doc-level agg;
    // docs shorter than the window keep n_spans = 0 / NULL fraction.
    QueryDef("q_x_span_fraction",
      (s, d) => graft.operators.TextDedup.spanDupStats(t(s, d, "documents")),
      Some(s"""WITH tk AS (SELECT doc_id, $tokensSql AS toks FROM documents),
               sp AS (SELECT doc_id, unnest(CASE WHEN len(toks) >= 8
                        THEN list_transform(generate_series(1, len(toks) - 7),
                             i -> ${hash64Sql("array_to_string(toks[i:i+7], ' ')")})
                        ELSE [] END) AS span_hash FROM tk),
               c AS (SELECT doc_id, count(*) OVER (PARTITION BY span_hash) AS total FROM sp),
               agg AS (SELECT doc_id, count(*) AS n_spans,
                       CAST(sum(CASE WHEN total >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_spans
                       FROM c GROUP BY doc_id)
               SELECT d.doc_id,
                      coalesce(n_spans, 0) AS n_spans,
                      coalesce(n_dup_spans, 0) AS n_dup_spans,
                      CASE WHEN n_spans > 0
                           THEN n_dup_spans / CAST(n_spans AS DOUBLE) END AS dup_fraction
               FROM documents d LEFT JOIN agg ON d.doc_id = agg.doc_id""")),

    // Corpus-LM quality surrogate: fraction of each doc's bigrams seen 3+
    // times corpus-wide (corpus counts standing in for LM probabilities —
    // no floats beyond one final division). Same word-count shape as the
    // span inventory, at width 2.
    QueryDef("q_x_bigram_coverage",
      (s, d) => graft.operators.QualityFilter.bigramCoverage(t(s, d, "documents")),
      Some(s"""WITH tk AS (SELECT doc_id, $tokensSql AS toks FROM documents),
               sp AS (SELECT doc_id, unnest(CASE WHEN len(toks) >= 2
                        THEN list_transform(generate_series(1, len(toks) - 1),
                             i -> ${hash64Sql("array_to_string(toks[i:i+1], ' ')")})
                        ELSE [] END) AS bg FROM tk),
               c AS (SELECT doc_id, count(*) OVER (PARTITION BY bg) AS total FROM sp),
               agg AS (SELECT doc_id, count(*) AS n_bigrams,
                       CAST(sum(CASE WHEN total >= 3 THEN 1 ELSE 0 END) AS BIGINT) AS n_common
                       FROM c GROUP BY doc_id)
               SELECT d.doc_id,
                      coalesce(n_bigrams, 0) AS n_bigrams,
                      coalesce(n_common, 0) AS n_common,
                      CASE WHEN n_bigrams > 0
                           THEN n_common / CAST(n_bigrams AS DOUBLE) END AS coverage
               FROM documents d LEFT JOIN agg ON d.doc_id = agg.doc_id""")),

    // Unicode canonicalization ahead of every byte-keyed operator: NFC
    // composition + accent folding via the codegen'd UnicodeNormalize
    // expression. The corpus is ASCII, so a DECOMPOSED mixed-accent suffix
    // is injected to make the gate real work: NFC must compose it (len
    // shrinks 19 -> 16), folding must strip the marks — verified against
    // DuckDB's independent utf8proc implementation per row.
    QueryDef("q_x_normalize",
      (s, d) => {
        val suffix = " café über piña"
        def raw = concat(col("text"), lit(suffix))
        t(s, d, "documents").select(
          col("doc_id"),
          graft.functions.Text.nfc(raw).as("norm_text"),
          graft.functions.Text.stripAccents(raw).as("folded"),
          length(raw).cast("long").as("len_raw"),
          length(graft.functions.Text.nfc(raw)).cast("long").as("len_nfc"))
      },
      Some(s"""SELECT doc_id,
               nfc_normalize(text || ' café über piña') AS norm_text,
               strip_accents(text || ' café über piña') AS folded,
               length(text || ' café über piña') AS len_raw,
               length(nfc_normalize(text || ' café über piña')) AS len_nfc
               FROM documents""")),

    // Markup strip (TextClean.stripMarkup): each document is wrapped in a
    // deterministic HTML shell (tags, a style block, a comment, a script
    // whose BODY must vanish — not just its tags — and entities), then
    // stripped back to visible text. Both engines run the identical
    // RE2∩Java regex chain independently; whitespace collapses so the
    // cleaned text tokenizes like the original. Pure map-side codegen.
    QueryDef("q_x_html_strip",
      (s, d) => {
        val html = concat(
          lit("<html><head><style>p{color:red}</style></head><body><!-- nav -->" +
            "<h1>Doc "), col("doc_id"),
          lit("</h1><script type=\"a\">var x=1&&2;</script><p>"), col("text"),
          lit(" &amp; more&nbsp;tail</p></body></html>"))
        graft.operators.TextClean.stripMarkup(
            t(s, d, "documents").select(col("doc_id"), html.as("text")))
          .select(col("doc_id"), col("text_clean"), col("clean_chars"))
      },
      Some("""WITH h AS (SELECT doc_id,
                '<html><head><style>p{color:red}</style></head><body><!-- nav --><h1>Doc '
                || CAST(doc_id AS VARCHAR)
                || '</h1><script type="a">var x=1&&2;</script><p>' || text
                || ' &amp; more&nbsp;tail</p></body></html>' AS html
                FROM documents),
              s1 AS (SELECT doc_id, regexp_replace(html,
                '(?s)<(script|style)[^>]*>.*?</(script|style)>', ' ', 'g') AS t FROM h),
              s2 AS (SELECT doc_id, regexp_replace(t, '(?s)<!--.*?-->', ' ', 'g') AS t FROM s1),
              s3 AS (SELECT doc_id, regexp_replace(t, '<[^>]*>', ' ', 'g') AS t FROM s2),
              s4 AS (SELECT doc_id, replace(replace(replace(replace(replace(replace(t,
                '&amp;', '&'), '&lt;', '<'), '&gt;', '>'), '&quot;', '"'),
                '&#39;', ''''), '&nbsp;', ' ') AS t FROM s3),
              s5 AS (SELECT doc_id,
                trim(regexp_replace(t, '\s+', ' ', 'g')) AS text_clean FROM s4)
              SELECT doc_id, text_clean,
                CAST(length(text_clean) AS BIGINT) AS clean_chars FROM s5""")),

    // PII redaction (TextClean.redactPii): deterministic email / phone /
    // IPv4 injections redact to typed placeholders with per-doc audit
    // counts. Emails redact before IPs so `u@host` can't leave a host
    // behind to double-count. The corpus itself is PII-free (probed), so
    // the injected occurrences are exactly what must be found.
    QueryDef("q_x_pii_redact",
      (s, d) => {
        val withPii = concat(lit("Contact u"), col("doc_id"),
          lit("@example.com or +1415555"), col("doc_id") % 1000,
          lit(" node 10.0."), col("doc_id") % 256, lit("."), col("doc_id") % 100,
          lit(" says "), col("text"))
        graft.operators.TextClean.redactPii(
            t(s, d, "documents").select(col("doc_id"), withPii.as("text")))
          .select(col("doc_id"), col("n_emails"), col("n_phones"),
            col("n_ips"), col("text_redacted"))
      },
      Some(s"""WITH p AS (SELECT doc_id,
                 'Contact u' || CAST(doc_id AS VARCHAR)
                 || '@example.com or +1415555' || CAST(doc_id % 1000 AS VARCHAR)
                 || ' node 10.0.' || CAST(doc_id % 256 AS VARCHAR)
                 || '.' || CAST(doc_id % 100 AS VARCHAR)
                 || ' says ' || text AS t FROM documents),
               r1 AS (SELECT doc_id, t,
                 regexp_replace(t, '${graft.operators.TextClean.EmailPattern}',
                   '<EMAIL>', 'g') AS t1 FROM p),
               r2 AS (SELECT doc_id, t, t1,
                 regexp_replace(t1, '\\+[0-9]{7,15}', '<PHONE>', 'g') AS t2 FROM r1),
               r3 AS (SELECT doc_id, t, t1, t2, regexp_replace(t2,
                 '${graft.operators.TextClean.Ipv4Pattern}', '<IP>', 'g') AS t3 FROM r2)
               SELECT doc_id,
                 CAST(len(regexp_extract_all(t,
                   '${graft.operators.TextClean.EmailPattern}')) AS BIGINT) AS n_emails,
                 CAST(len(regexp_extract_all(t1,
                   '\\+[0-9]{7,15}')) AS BIGINT) AS n_phones,
                 CAST(len(regexp_extract_all(t2,
                   '${graft.operators.TextClean.Ipv4Pattern}')) AS BIGINT) AS n_ips,
                 t3 AS text_redacted
               FROM r3""")),

    // URL census (TextClean.extractUrls): deterministic URL injections
    // exploded to (doc, url, host, registrable-domain) rows and censused
    // per domain — the crawl-curation census a domain blocklist keys on.
    QueryDef("q_x_url_census",
      (s, d) => {
        val withUrls = concat(lit("visit https://w"), col("doc_id") % 5,
          lit(".site"), col("doc_id") % 11, lit(".org/p/"), col("doc_id"),
          lit(" and http://ads.tracker"), col("doc_id") % 2, lit(".io plus "),
          col("text"))
        graft.operators.TextClean.extractUrls(
            t(s, d, "documents").select(col("doc_id"), withUrls.as("text")))
          .groupBy(col("domain"))
          .agg(count(lit(1)).as("n_urls"), count_distinct(col("doc_id")).as("n_docs"))
      },
      Some(s"""WITH p AS (SELECT doc_id,
                 'visit https://w' || CAST(doc_id % 5 AS VARCHAR)
                 || '.site' || CAST(doc_id % 11 AS VARCHAR)
                 || '.org/p/' || CAST(doc_id AS VARCHAR)
                 || ' and http://ads.tracker' || CAST(doc_id % 2 AS VARCHAR)
                 || '.io plus ' || text AS t FROM documents),
               u AS (SELECT doc_id, unnest(regexp_extract_all(t,
                 '${graft.operators.TextClean.UrlPattern}', 0)) AS url FROM p),
               h AS (SELECT doc_id,
                 regexp_extract(url, '^https?://([A-Za-z0-9.-]+)', 1) AS host FROM u)
               SELECT regexp_extract(host, '([A-Za-z0-9-]+\\.[A-Za-z0-9-]+)$$', 1)
                   AS domain,
                 count(*) AS n_urls, count(DISTINCT doc_id) AS n_docs
               FROM h GROUP BY 1""")),

    // Per-source quantile normalization (QualityFilter
    // .quantileNormalizeGrouped): each doc's length score becomes its
    // exact within-source percentile, so a single cross-source threshold
    // ("keep the top half everywhere") means the same thing in every
    // source regardless of raw-scale differences. Ties share a
    // percentile; fixed-point integer arithmetic replayed verbatim.
    QueryDef("q_x_quantile_normalize",
      (s, d) => graft.operators.QualityFilter.quantileNormalizeGrouped(
          t(s, d, "documents").select(col("doc_id"), col("source"), col("n_chars")),
          "source", "n_chars")
        .withColumn("keep_top_half", col("pct_fp") >= 500000L),
      Some("""SELECT doc_id, source, n_chars,
                (rank() OVER (PARTITION BY source ORDER BY n_chars) - 1)
                  * 1000000
                  // greatest(count(*) OVER (PARTITION BY source) - 1, 1)
                  AS pct_fp,
                (rank() OVER (PARTITION BY source ORDER BY n_chars) - 1)
                  * 1000000
                  // greatest(count(*) OVER (PARTITION BY source) - 1, 1)
                  >= 500000 AS keep_top_half
              FROM documents""")),

    // Homoglyph folding (TextClean.foldConfusables): docs with doc_id%3=0
    // get their Latin 'a'/'o' swapped for Cyrillic а/о (the spam spoof);
    // the fold must restore the original bytes exactly (text_folded =
    // original text — hashed), count the damage, and flag the spoofed
    // docs. translate() is unicode-aware in both engines.
    QueryDef("q_x_homoglyph_fold",
      (s, d) => {
        val spoofed = when(col("doc_id") % 3 === 0,
          translate(col("text"), "ao", "ао")).otherwise(col("text"))
        graft.operators.TextClean.foldConfusables(
          t(s, d, "documents").select(col("doc_id"), col("text"))
            .withColumn("synth", spoofed), textCol = "synth")
          .withColumn("fold_restores", col("text_folded") === col("text"))
          .select(col("doc_id"), col("n_confusables"), col("is_spoofed"),
            col("fold_restores"))
      },
      Some(s"""WITH s AS (SELECT doc_id, text,
                 CASE WHEN doc_id % 3 = 0
                      THEN translate(text, 'ao', 'ао')
                      ELSE text END AS synth
               FROM documents)
               SELECT doc_id,
                 CAST(length(synth) - length(translate(synth,
                   '${graft.operators.TextClean.ConfusableFrom}', ''))
                   AS BIGINT) AS n_confusables,
                 length(synth) - length(translate(synth,
                   '${graft.operators.TextClean.ConfusableFrom}', '')) > 0
                   AS is_spoofed,
                 translate(synth,
                   '${graft.operators.TextClean.ConfusableFrom}',
                   '${graft.operators.TextClean.ConfusableTo}') = text
                   AS fold_restores
               FROM s""")),

    // URL-keyed crawl dedup (TextClean.canonicalUrl + dedupByCanonicalUrl):
    // four deterministic recrawl variants of each page (www + casing,
    // fragment, utm params, :80 + trailing slash) must collapse to ONE
    // canonical key; keeper = min doc_id per key. The URL-level pass that
    // runs before any content dedup.
    QueryDef("q_x_url_dedup",
      (s, d) => {
        val a = (col("doc_id") % 5).cast("string")
        val b = (col("doc_id") % 13).cast("string")
        val hostPath = concat(lit("Site"), a, lit(".com/Art/"), b)
        val url = when(col("doc_id") % 4 === 0,
            concat(lit("http://www."), hostPath))
          .when(col("doc_id") % 4 === 1,
            concat(lit("HTTP://"), hostPath, lit("#sec2")))
          .when(col("doc_id") % 4 === 2,
            concat(lit("http://"), hostPath,
              lit("?utm_source=feed&utm_campaign=x")))
          .otherwise(concat(lit("http://www.Site"), a, lit(".com:80/Art/"),
            b, lit("/")))
        graft.operators.TextClean.dedupByCanonicalUrl(
          t(s, d, "documents").select(col("doc_id"), url.as("url")))
      },
      Some("""WITH u0 AS (SELECT doc_id,
                CASE doc_id % 4
                  WHEN 0 THEN 'http://www.Site' || CAST(doc_id % 5 AS VARCHAR)
                    || '.com/Art/' || CAST(doc_id % 13 AS VARCHAR)
                  WHEN 1 THEN 'HTTP://Site' || CAST(doc_id % 5 AS VARCHAR)
                    || '.com/Art/' || CAST(doc_id % 13 AS VARCHAR) || '#sec2'
                  WHEN 2 THEN 'http://Site' || CAST(doc_id % 5 AS VARCHAR)
                    || '.com/Art/' || CAST(doc_id % 13 AS VARCHAR)
                    || '?utm_source=feed&utm_campaign=x'
                  ELSE 'http://www.Site' || CAST(doc_id % 5 AS VARCHAR)
                    || '.com:80/Art/' || CAST(doc_id % 13 AS VARCHAR) || '/'
                END AS url FROM documents),
              u1 AS (SELECT doc_id, regexp_replace(url, '#.*$', '') AS nf
                     FROM u0),
              u2 AS (SELECT doc_id,
                lower(regexp_extract(nf, '^([A-Za-z][A-Za-z0-9+.-]*)://', 1))
                  AS sch,
                regexp_replace(regexp_replace(
                  lower(regexp_extract(nf,
                    '^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]*)', 1)),
                  '^www\.', ''), ':(80|443)$', '') AS hst,
                regexp_extract(nf,
                  '^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*(.*)$', 1) AS rst
                FROM u1),
              u3 AS (SELECT doc_id, sch || '://' || hst ||
                regexp_replace(regexp_replace(regexp_replace(regexp_replace(
                  rst,
                  '&(utm_[A-Za-z0-9_]+|fbclid|gclid)=[^&#]*', '', 'g'),
                  '\?(utm_[A-Za-z0-9_]+|fbclid|gclid)=[^&#]*&', '?', 'g'),
                  '\?(utm_[A-Za-z0-9_]+|fbclid|gclid)=[^&#]*$', '', 'g'),
                  '/$', '') AS url_canon
                FROM u2)
              SELECT doc_id, url_canon,
                min(doc_id) OVER (PARTITION BY url_canon) AS keeper_id,
                CAST(count(*) OVER (PARTITION BY url_canon) AS BIGINT)
                  AS n_dupes,
                doc_id = min(doc_id) OVER (PARTITION BY url_canon)
                  AS is_keeper
              FROM u3""")),

    // Domain blocklist: documents linking into a blocked registrable
    // domain drop (distinct offender set, broadcast semi-join); URL-free
    // and clean-linking docs survive. RefinedWeb-style crawl hygiene.
    QueryDef("q_x_domain_blocklist",
      (s, d) => {
        import s.implicits._
        val withUrls = concat(lit("see http://ads.tracker"), col("doc_id") % 2,
          lit(".io plus "), col("text"))
        graft.operators.TextClean.filterBlockedDomains(
            t(s, d, "documents").select(col("doc_id"), withUrls.as("text"),
              col("lang")),
            Seq("tracker0.io", "never-linked.example").toDF("domain"))
          .select(col("doc_id"), col("lang"))
      },
      Some("""SELECT doc_id, lang FROM documents WHERE doc_id % 2 = 1""")),

    // Domain-level quality census (TextClean.domainQuality): the "domain
    // trust" table a crawl prioritizer / blocklist review reads — per
    // registrable domain, linking-doc count, URL count, and MICRO-AVERAGED
    // text quality from exact integer numerators (Σ letters / Σ chars,
    // Σ stopword hits / Σ tokens — one IEEE division per ratio at the end;
    // never a float mean of per-doc scores, whose summation order is
    // partition- and engine-dependent). Same URL injection as the census.
    QueryDef("q_x_domain_quality",
      (s, d) => {
        val withUrls = concat(lit("visit https://w"), col("doc_id") % 5,
          lit(".site"), col("doc_id") % 11, lit(".org/p/"), col("doc_id"),
          lit(" and http://ads.tracker"), col("doc_id") % 2, lit(".io plus "),
          col("text"))
        graft.operators.TextClean.domainQuality(
          t(s, d, "documents").select(col("doc_id"), withUrls.as("text")))
      },
      Some(s"""WITH p AS (SELECT doc_id,
                 'visit https://w' || CAST(doc_id % 5 AS VARCHAR)
                 || '.site' || CAST(doc_id % 11 AS VARCHAR)
                 || '.org/p/' || CAST(doc_id AS VARCHAR)
                 || ' and http://ads.tracker' || CAST(doc_id % 2 AS VARCHAR)
                 || '.io plus ' || text AS t FROM documents),
               u AS (SELECT doc_id, unnest(regexp_extract_all(t,
                 '${graft.operators.TextClean.UrlPattern}', 0)) AS url FROM p),
               dm AS (SELECT doc_id, regexp_extract(
                   regexp_extract(url, '^https?://([A-Za-z0-9.-]+)', 1),
                   '([A-Za-z0-9-]+\\.[A-Za-z0-9-]+)$$', 1) AS domain FROM u),
               l AS (SELECT domain, doc_id, count(*) AS n_urls FROM dm
                     WHERE domain <> '' GROUP BY 1, 2),
               st AS (SELECT doc_id,
                 CAST(len(string_split(t, ' ')) AS BIGINT) AS n_tokens,
                 CAST(length(t) AS BIGINT) AS n_chars,
                 CAST(length(regexp_replace(t, '[^a-zA-Z]', '', 'g')) AS BIGINT)
                   AS n_letters,
                 CAST(len(list_filter(string_split(t, ' '),
                   x -> x IN ($stopIn))) AS BIGINT) AS n_stopwords
                 FROM p)
               SELECT domain, count(*) AS n_docs,
                 CAST(sum(n_urls) AS BIGINT) AS n_urls,
                 CAST(sum(n_tokens) AS BIGINT) AS n_tokens,
                 CAST(sum(n_chars) AS BIGINT) AS n_chars,
                 CAST(sum(n_letters) AS BIGINT) AS n_letters,
                 CAST(sum(n_stopwords) AS BIGINT) AS n_stopwords,
                 CAST(sum(n_letters) AS DOUBLE) / CAST(sum(n_chars) AS DOUBLE)
                   AS alpha_ratio,
                 CAST(sum(n_stopwords) AS DOUBLE) / CAST(sum(n_tokens) AS DOUBLE)
                   AS stop_ratio
               FROM l JOIN st USING (doc_id) GROUP BY 1""")),

    // Split-leakage audit (Sampling.splitLeakage): content keys whose
    // documents span MORE THAN ONE train/val/test split — hash-of-id
    // splits are id-disjoint by construction, but identical CONTENT under
    // two ids leaks eval text into train. Content key here = the 3-token
    // prefix (the near-boilerplate identity; the fixture has ~26 colliding
    // prefix groups). One content-hash agg; survivors collision-sized.
    QueryDef("q_x_split_leakage",
      (s, d) => {
        val withSplit = graft.operators.Sampling.stratifiedSplit(
            t(s, d, "documents"), "doc_id", 80, 10)
          .withColumn("content",
            array_join(slice(graft.functions.Text.tokens(col("text")), 1, 3), " "))
        graft.operators.Sampling.splitLeakage(withSplit, "content")
      },
      Some(s"""WITH sp AS (SELECT doc_id, text,
                 CASE WHEN ${hash64Sql("CAST(doc_id AS VARCHAR) || '|split'")}
                        % 100 < 80 THEN 'train'
                      WHEN ${hash64Sql("CAST(doc_id AS VARCHAR) || '|split'")}
                        % 100 < 90 THEN 'val'
                      ELSE 'test' END AS split FROM documents),
               c AS (SELECT ${hash64Sql(
                 "array_to_string((string_split(text, ' '))[1:3], ' ')")}
                   AS content_h, split FROM sp)
               SELECT content_h, count(*) AS n_docs,
                 CAST(count(DISTINCT split) AS BIGINT) AS n_splits,
                 string_agg(DISTINCT split, ',' ORDER BY split) AS splits
               FROM c GROUP BY 1
               HAVING count(DISTINCT split) >= 2""")),

    // Token-rarity features from the corpus's own frequency table — the
    // unigram frequency-filtering signal (docs whose rarest token is
    // corpus-unique carry noise; all-integer outputs, cross-engine exact).
    QueryDef("q_x_token_rarity",
      (s, d) => graft.operators.QualityFilter.tokenRarity(t(s, d, "documents")),
      Some(s"""WITH tok AS (SELECT doc_id, unnest($tokensSql) AS tok FROM documents),
               f AS (SELECT tok, count(*) AS tok_freq FROM tok GROUP BY tok)
               SELECT doc_id, count(*) AS n_tokens,
                      min(tok_freq) AS min_tok_freq,
                      max(tok_freq) AS max_tok_freq,
                      CAST(sum(CASE WHEN tok_freq = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_hapax
               FROM tok JOIN f USING (tok) GROUP BY doc_id""")),

    // Duplicated-span REMOVAL: tokens covered by a corpus-repeated 8-token
    // window are dropped and the text reassembled — the transform half of
    // substring dedup (the inventory above is the detection half).
    QueryDef("q_x_scrub_spans",
      (s, d) => graft.operators.TextDedup.scrubDuplicatedSpans(t(s, d, "documents")),
      Some(s"""WITH tk AS (SELECT doc_id, $tokensSql AS toks FROM documents),
               sp AS (SELECT doc_id,
                        unnest(CASE WHEN len(toks) >= 8
                          THEN generate_series(0, len(toks) - 8) ELSE [] END) AS pos,
                        unnest(CASE WHEN len(toks) >= 8
                          THEN list_transform(generate_series(1, len(toks) - 7),
                               i -> ${hash64Sql("array_to_string(toks[i:i+7], ' ')")})
                          ELSE [] END) AS span_hash FROM tk),
               c AS (SELECT doc_id, pos,
                     count(*) OVER (PARTITION BY span_hash) AS total FROM sp),
               f AS (SELECT doc_id, list(pos) AS fpos FROM c WHERE total >= 2 GROUP BY doc_id)
               SELECT doc_id,
                      -- array_to_string([]) is NULL in DuckDB; Spark's
                      -- concat_ws over an empty array is '' — align on ''
                      coalesce(array_to_string(list_transform(keep, i -> toks[i]), ' '), '')
                        AS text_scrubbed,
                      CAST(len(toks) AS BIGINT) AS n_tokens,
                      CAST(len(keep) AS BIGINT) AS n_tokens_kept
               FROM (SELECT t.doc_id, toks,
                       list_filter(generate_series(1, len(toks)),
                         i -> len(list_filter(coalesce(fpos, CAST([] AS BIGINT[])),
                                p -> i - 1 >= p AND i - 1 <= p + 7)) = 0) AS keep
                     FROM tk t LEFT JOIN f USING (doc_id))""")),

    // Keep-one duplicated-span removal (the published Lee-et-al form): the
    // occurrence with the smallest (doc_id, pos) per duplicated span
    // SURVIVES; every other occurrence is scrubbed. One extra row_number in
    // the same span_hash window — keeper choice is order-deterministic, so
    // both engines pick the identical one.
    QueryDef("q_x_scrub_spans_keep_one",
      (s, d) => graft.operators.TextDedup.scrubDuplicatedSpansKeepOne(t(s, d, "documents")),
      Some(s"""WITH tk AS (SELECT doc_id, $tokensSql AS toks FROM documents),
               sp AS (SELECT doc_id,
                        unnest(CASE WHEN len(toks) >= 8
                          THEN generate_series(0, len(toks) - 8) ELSE [] END) AS pos,
                        unnest(CASE WHEN len(toks) >= 8
                          THEN list_transform(generate_series(1, len(toks) - 7),
                               i -> ${hash64Sql("array_to_string(toks[i:i+7], ' ')")})
                          ELSE [] END) AS span_hash FROM tk),
               c AS (SELECT doc_id, pos,
                     count(*) OVER (PARTITION BY span_hash) AS total,
                     row_number() OVER (PARTITION BY span_hash
                                        ORDER BY doc_id, pos) AS rk FROM sp),
               f AS (SELECT doc_id, list(pos) AS fpos FROM c
                     WHERE total >= 2 AND rk >= 2 GROUP BY doc_id)
               SELECT doc_id,
                      coalesce(array_to_string(list_transform(keep, i -> toks[i]), ' '), '')
                        AS text_scrubbed,
                      CAST(len(toks) AS BIGINT) AS n_tokens,
                      CAST(len(keep) AS BIGINT) AS n_tokens_kept
               FROM (SELECT t.doc_id, toks,
                       list_filter(generate_series(1, len(toks)),
                         i -> len(list_filter(coalesce(fpos, CAST([] AS BIGINT[])),
                                p -> i - 1 >= p AND i - 1 <= p + 7)) = 0) AS keep
                     FROM tk t LEFT JOIN f USING (doc_id))""")),

    // N-gram Jaccard near-dup: prefix-blocked candidate pairs + exact
    // 3-shingle Jaccard ≥ 0.5. Blocking keeps pair formation linear-ish.
    QueryDef("q_x_dedup_ngram",
      (s, d) => graft.operators.TextDedup.ngramJaccard(t(s, d, "documents"), 0.5),
      Some(s"""WITH $shingledSql
               SELECT a.doc_id AS id1, b.doc_id AS id2, $jacSql AS jaccard
               FROM shd a JOIN shd b ON a.pfx = b.pfx AND a.doc_id < b.doc_id
               WHERE $jacSql >= 0.5""")),

    // Near-dup clustering: connected components over the verified pair list
    // (iterative min-label propagation; the cluster min is the keeper).
    // Oracle: recursive-CTE transitive closure — same components.
    QueryDef("q_x_dedup_clusters",
      (s, d) => graft.operators.TextDedup.clusters(
        graft.operators.TextDedup.ngramJaccard(t(s, d, "documents"), 0.5)),
      Some(s"""WITH RECURSIVE $shingledSql,
               pairs AS (SELECT a.doc_id AS id1, b.doc_id AS id2
                         FROM shd a JOIN shd b ON a.pfx = b.pfx AND a.doc_id < b.doc_id
                         WHERE $jacSql >= 0.5),
               edges AS (SELECT id1 AS src, id2 AS dst FROM pairs
                         UNION SELECT id2, id1 FROM pairs),
               reach AS (SELECT src, dst FROM edges
                         UNION
                         SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src)
               SELECT src AS doc_id, least(src, min(dst)) AS cluster_id
               FROM reach GROUP BY src""")),

    // Source-priority keeper selection over the near-dup clusters: within
    // each cluster keep the doc with the smallest (priority, doc_id) — the
    // production policy when sources rank (curated beats crawled mirror).
    // Priority here derives from the source suffix so both engines compute
    // the identical ranking.
    QueryDef("q_x_dedup_keeper",
      (s, d) => {
        val docs = t(s, d, "documents")
        graft.operators.TextDedup.clusterKeepersByPriority(
          graft.operators.TextDedup.clusters(
            graft.operators.TextDedup.ngramJaccard(docs, 0.5)),
          docs.select(col("doc_id"),
            expr("CAST(substring(source, 4) AS BIGINT) % 3").as("prio")),
          "prio")
      },
      Some(s"""WITH RECURSIVE $shingledSql,
               pairs AS (SELECT a.doc_id AS id1, b.doc_id AS id2
                         FROM shd a JOIN shd b ON a.pfx = b.pfx AND a.doc_id < b.doc_id
                         WHERE $jacSql >= 0.5),
               edges AS (SELECT id1 AS src, id2 AS dst FROM pairs
                         UNION SELECT id2, id1 FROM pairs),
               reach AS (SELECT src, dst FROM edges
                         UNION
                         SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src),
               comp AS (SELECT src AS doc_id, least(src, min(dst)) AS cluster_id
                        FROM reach GROUP BY src)
               SELECT cluster_id, doc_id, priority, rk = 1 AS is_keeper FROM (
                 SELECT c.cluster_id, c.doc_id,
                        CAST(substring(d.source, 4) AS BIGINT) % 3 AS priority,
                        row_number() OVER (PARTITION BY c.cluster_id
                          ORDER BY CAST(substring(d.source, 4) AS BIGINT) % 3,
                                   c.doc_id) AS rk
                 FROM comp c JOIN documents d USING (doc_id))""")),

    // MinHash + LSH near-dup: 16 permutations (one md5 per shingle + affine
    // maps mod 2^31-1), 8 bands of 2 rows; band-bucket equi-join forms
    // candidates; exact Jaccard verifies. The canonical 100 TB dedup shape:
    // shuffle volume is |docs|×bands, never |docs|².
    QueryDef("q_x_dedup_minhash",
      (s, d) => graft.operators.TextDedup.minhashLsh(t(s, d, "documents"), 0.5, numHashes, numBands),
      Some {
        val sigExprs = (0 until numHashes).map(j =>
          s"list_min(list_transform(hs, h -> (${aj(j)} * h + ${bj(j)}) % $P)) AS sig$j").mkString(", ")
        val bandList = (0 until numBands).map(bn =>
          s"'$bn|' || sig${2 * bn} || ':' || sig${2 * bn + 1}").mkString(", ")
        s"""WITH $shingledSql,
            hsh AS (SELECT doc_id, sh,
                    list_transform(sh, s -> ${hash64Sql("s")} % $P) AS hs FROM shd),
            sigs AS (SELECT doc_id, sh, $sigExprs FROM hsh),
            bands AS (SELECT doc_id, sh, unnest([$bandList]) AS band FROM sigs),
            cands AS (SELECT DISTINCT a.doc_id AS id1, b.doc_id AS id2
                      FROM bands a JOIN bands b ON a.band = b.band AND a.doc_id < b.doc_id)
            SELECT id1, id2, $jacSql AS jaccard
            FROM cands JOIN shd a ON a.doc_id = id1 JOIN shd b ON b.doc_id = id2
            WHERE $jacSql >= 0.5"""
      }),

    // Sketch-error audit (TextDedup.minhashErrorAudit): per LSH candidate,
    // the signature-agreement MinHash estimate vs the exact shingle
    // Jaccard, both micro fixed-point — the measured estimator error that
    // qualifies a (numHashes, bands) config before a 100 TB run. Exact
    // integers end-to-end, so the audit itself is oracle-hashed.
    QueryDef("q_x_minhash_audit",
      (s, d) => graft.operators.TextDedup.minhashErrorAudit(
        t(s, d, "documents"), numHashes, numBands),
      Some {
        val sigExprs = (0 until numHashes).map(j =>
          s"list_min(list_transform(hs, h -> (${aj(j)} * h + ${bj(j)}) % $P)) AS sig$j").mkString(", ")
        val bandList = (0 until numBands).map(bn =>
          s"'$bn|' || sig${2 * bn} || ':' || sig${2 * bn + 1}").mkString(", ")
        val matchSum = (0 until numHashes).map(j =>
          s"(CASE WHEN sa.sig$j = sb.sig$j THEN 1 ELSE 0 END)").mkString(" + ")
        val inter = "len(list_filter(a.sh, x -> list_contains(b.sh, x)))"
        s"""WITH $shingledSql,
            hsh AS (SELECT doc_id, sh,
                    list_transform(sh, s -> ${hash64Sql("s")} % $P) AS hs FROM shd),
            sigs AS (SELECT doc_id, sh, $sigExprs FROM hsh),
            bands AS (SELECT doc_id, unnest([$bandList]) AS band FROM sigs),
            cands AS (SELECT DISTINCT a.doc_id AS id1, b.doc_id AS id2
                      FROM bands a JOIN bands b ON a.band = b.band AND a.doc_id < b.doc_id),
            m AS (SELECT id1, id2,
                    CAST($matchSum AS BIGINT) AS n_match_sig,
                    CAST($inter AS BIGINT) AS n_inter,
                    CAST(len(a.sh) + len(b.sh) - $inter AS BIGINT) AS n_union
                  FROM cands
                  JOIN shd a ON a.doc_id = id1 JOIN shd b ON b.doc_id = id2
                  JOIN sigs sa ON sa.doc_id = id1 JOIN sigs sb ON sb.doc_id = id2)
            SELECT id1, id2, n_match_sig, n_inter, n_union,
                   n_match_sig * 1000000 // $numHashes AS est_fp,
                   n_inter * 1000000 // greatest(n_union, 1) AS jac_fp,
                   abs(n_match_sig * 1000000 // $numHashes
                     - n_inter * 1000000 // greatest(n_union, 1)) AS err_fp
            FROM m"""
      }),

    // Asymmetric near-containment over the same LSH candidates: both
    // directed |S1∩S2|/|Si| ratios, kept when either reaches 0.8 — catches
    // quoted-inside/boilerplate-wrapped copies whose Jaccard is diluted by
    // the larger doc. Integer set sizes → one exact division per direction.
    QueryDef("q_x_dedup_containment",
      (s, d) => graft.operators.TextDedup.containmentPairs(
        t(s, d, "documents"), 0.8, numHashes, numBands),
      Some {
        val sigExprs = (0 until numHashes).map(j =>
          s"list_min(list_transform(hs, h -> (${aj(j)} * h + ${bj(j)}) % $P)) AS sig$j").mkString(", ")
        val bandList = (0 until numBands).map(bn =>
          s"'$bn|' || sig${2 * bn} || ':' || sig${2 * bn + 1}").mkString(", ")
        val inter = "len(list_filter(a.sh, x -> list_contains(b.sh, x)))"
        val c12 = s"$inter / CAST(len(a.sh) AS DOUBLE)"
        val c21 = s"$inter / CAST(len(b.sh) AS DOUBLE)"
        s"""WITH $shingledSql,
            hsh AS (SELECT doc_id, sh,
                    list_transform(sh, s -> ${hash64Sql("s")} % $P) AS hs FROM shd),
            sigs AS (SELECT doc_id, sh, $sigExprs FROM hsh),
            bands AS (SELECT doc_id, unnest([$bandList]) AS band FROM sigs),
            cands AS (SELECT DISTINCT a.doc_id AS id1, b.doc_id AS id2
                      FROM bands a JOIN bands b ON a.band = b.band AND a.doc_id < b.doc_id)
            SELECT id1, id2, $c12 AS c12, $c21 AS c21
            FROM cands JOIN shd a ON a.doc_id = id1 JOIN shd b ON b.doc_id = id2
            WHERE len(a.sh) > 0 AND len(b.sh) > 0
              AND greatest($c12, $c21) >= 0.8"""
      }),

    // The HASH-ARRAY verify form of the same containment (SCALE.md's
    // documented sf1 lever, now gated): the verify joins ship distinct
    // 60-bit shingle hashes (8 B each) instead of shingle strings (~30 B),
    // cutting the dominant verify shuffle ~4× on replica-dense corpora;
    // both engines hash with the shared md5-prefix formula, so the set
    // arithmetic — and the gate — stays exact.
    QueryDef("q_x_dedup_containment_hashed",
      (s, d) => graft.operators.TextDedup.containmentPairsHashed(
        t(s, d, "documents"), 0.8, numHashes, numBands),
      Some {
        val sigExprs = (0 until numHashes).map(j =>
          s"list_min(list_transform(hs, h -> (${aj(j)} * h + ${bj(j)}) % $P)) AS sig$j").mkString(", ")
        val bandList = (0 until numBands).map(bn =>
          s"'$bn|' || sig${2 * bn} || ':' || sig${2 * bn + 1}").mkString(", ")
        val inter = "len(list_filter(a.h, x -> list_contains(b.h, x)))"
        val c12 = s"$inter / CAST(len(a.h) AS DOUBLE)"
        val c21 = s"$inter / CAST(len(b.h) AS DOUBLE)"
        s"""WITH $shingledSql,
            hsh AS (SELECT doc_id, sh,
                    list_transform(sh, s -> ${hash64Sql("s")} % $P) AS hs FROM shd),
            h60 AS (SELECT doc_id,
                    list_distinct(list_transform(sh, s -> ${hash64Sql("s")})) AS h
                    FROM shd),
            sigs AS (SELECT doc_id, $sigExprs FROM hsh),
            bands AS (SELECT doc_id, unnest([$bandList]) AS band FROM sigs),
            cands AS (SELECT DISTINCT a.doc_id AS id1, b.doc_id AS id2
                      FROM bands a JOIN bands b ON a.band = b.band AND a.doc_id < b.doc_id)
            SELECT id1, id2, $c12 AS c12, $c21 AS c21
            FROM cands JOIN h60 a ON a.doc_id = id1 JOIN h60 b ON b.doc_id = id2
            WHERE len(a.h) > 0 AND len(b.h) > 0
              AND greatest($c12, $c21) >= 0.8"""
      }),

    // Incremental near-dup: NEW batch (odd ids) against the EXISTING corpus
    // (even ids) — batch bands equi-join corpus bands, no corpus self-join.
    // The recurring-crawl shape: at 100 TB the corpus side is a persisted
    // LSH band index, and only the new batch is shingled per run.
    QueryDef("q_x_dedup_incremental",
      (s, d) => {
        val docs = t(s, d, "documents")
        graft.operators.TextDedup.minhashLshIncremental(
          docs.filter(col("doc_id") % 2 === 0), docs.filter(col("doc_id") % 2 === 1),
          0.5, numHashes, numBands)
      },
      Some(incrementalOracleSql)),

    // Same dedup through the PERSISTED band index: buildBandIndex → catalog
    // write → read back → batch join. The corpus contributes ZERO tokenize/
    // shingle/hash work at query time (verification re-shingles only the
    // candidate docs, behind a semi-join) — the recurring-crawl shape where
    // the 100 TB corpus index is built once and queried per batch. Shares
    // the incremental oracle: the stored index must change nothing.
    QueryDef("q_x_dedup_index",
      (s, d) => {
        val docs = t(s, d, "documents")
        val corpus = docs.filter(col("doc_id") % 2 === 0)
        // an index is built ONCE and queried per batch — build/write on the
        // first call per (session, sf), read-only thereafter (bench rerun 2
        // measures the query-an-index shape, which is the operator's point)
        val cat = new graft.catalog.Catalog(s, scratch(s, d, "graft-lsh-index"))
        if (!cat.exists("lsh_bands"))
          cat.write("lsh_bands",
            graft.operators.TextDedup.buildBandIndex(corpus, numHashes, numBands))
        graft.operators.TextDedup.minhashLshIndexed(
          corpus, cat.read("lsh_bands"), docs.filter(col("doc_id") % 2 === 1),
          0.5, numHashes, numBands)
      },
      Some(incrementalOracleSql)),

    // Incremental exact dedup: batch documents whose content hash is new to
    // the corpus — one left-anti hash join, the cheapest "is this novel"
    // gate a crawl pipeline runs before anything else.
    QueryDef("q_x_dedup_new_exact",
      (s, d) => {
        val docs = t(s, d, "documents")
        graft.operators.TextDedup.exactIncremental(
          docs.filter(col("doc_id") % 2 === 0), docs.filter(col("doc_id") % 2 === 1))
      },
      Some("""SELECT doc_id, md5(text) AS content_hash FROM documents
              WHERE doc_id % 2 = 1 AND md5(text) NOT IN
                (SELECT md5(text) FROM documents WHERE doc_id % 2 = 0)""")),

    // Corpus-level MinHash signatures per language via the custom mergeable
    // TypedImperativeAggregate (MinHashAgg): signature of the UNION of each
    // group's shingle sets, merged by element-wise min — fixed-size state,
    // no shingle shuffle. Oracle: min over the per-doc signatures (min
    // commutes with min).
    QueryDef("q_x_minhash_corpus",
      (s, d) => graft.operators.TextDedup.groupSignatures(
          t(s, d, "documents"), "lang", numHashes)
        .select(col("lang") +:
          (0 until numHashes).map(j => element_at(col("sig"), j + 1).as(s"sig$j")) :+
          col("n_docs"): _*),
      Some {
        val sigExprs = (0 until numHashes).map(j =>
          s"list_min(list_transform(hs, h -> (${aj(j)} * h + ${bj(j)}) % $P)) AS sig$j").mkString(", ")
        val mins = (0 until numHashes).map(j =>
          s"CAST(min(sig$j) AS BIGINT) AS sig$j").mkString(", ")
        s"""WITH tk AS (SELECT doc_id, lang, $tokensSql AS toks FROM documents),
            shd AS (SELECT doc_id, lang, ${shingles3Sql("toks")} AS sh FROM tk),
            hsh AS (SELECT doc_id, lang,
                    list_transform(sh, s -> ${hash64Sql("s")} % $P) AS hs FROM shd),
            sigs AS (SELECT lang, $sigExprs FROM hsh)
            SELECT lang, $mins, count(*) AS n_docs FROM sigs GROUP BY lang"""
      }),

    // Corpus overlap from the sketches alone: fraction of agreeing MinHash
    // components between two language groups estimates their shingle-set
    // Jaccard — k longs per group, the shingle sets are never compared.
    QueryDef("q_x_corpus_overlap",
      (s, d) => graft.operators.TextDedup.corpusOverlap(
        t(s, d, "documents"), "lang", numHashes),
      Some {
        val sigExprs = (0 until numHashes).map(j =>
          s"list_min(list_transform(hs, h -> (${aj(j)} * h + ${bj(j)}) % $P)) AS sig$j").mkString(", ")
        val mins = (0 until numHashes).map(j => s"min(sig$j) AS sig$j").mkString(", ")
        val agree = (0 until numHashes).map(j =>
          s"CASE WHEN a.sig$j = b.sig$j THEN 1 ELSE 0 END").mkString(" + ")
        s"""WITH tk AS (SELECT doc_id, lang, $tokensSql AS toks FROM documents),
            shd AS (SELECT doc_id, lang, ${shingles3Sql("toks")} AS sh FROM tk),
            hsh AS (SELECT doc_id, lang,
                    list_transform(sh, s -> ${hash64Sql("s")} % $P) AS hs FROM shd),
            sigs AS (SELECT lang, $sigExprs FROM hsh),
            g AS (SELECT lang, $mins FROM sigs GROUP BY lang)
            SELECT a.lang AS g1, b.lang AS g2,
                   ($agree) / CAST($numHashes AS DOUBLE) AS jaccard_est
            FROM g a JOIN g b ON a.lang < b.lang"""
      }),

    // SimHash fingerprints: 60-bit (all the entropy the portable md5-derived
    // hash carries), token-frequency weighted (sign of the per-bit vote).
    QueryDef("q_x_simhash", (s, d) => graft.operators.TextDedup.simhash(t(s, d, "documents")),
      Some(simhashFingerprintSql + "\n            SELECT doc_id, simhash FROM f")),

    // SimHash near-dup pairs: block on any of 4 15-bit bands (≤ 3 differing
    // bits guarantees a shared band), then exact popcount verify ≤ 11 of 60
    // bits (the 32-bit gate used ≤ 6 of 32 — same differing-bit fraction).
    QueryDef("q_x_dedup_simhash",
      (s, d) => graft.operators.TextDedup.simhashNearDups(t(s, d, "documents"), 11),
      Some {
        val bandJoins = (0 until 4).map { b =>
          s"""SELECT a.doc_id AS id1, b.doc_id AS id2,
              CAST(bit_count(xor(a.simhash, b.simhash)) AS BIGINT) AS hamming
              FROM fb a JOIN fb b ON a.bk$b = b.bk$b AND a.doc_id < b.doc_id
              WHERE bit_count(xor(a.simhash, b.simhash)) <= 11"""
        }.mkString("\n            UNION\n            ")
        val bandCols = (0 until 4).map(b =>
          s"(simhash >> ${15 * b}) & 32767 AS bk$b").mkString(", ")
        s"""$simhashFingerprintSql,
            fb AS (SELECT doc_id, simhash, $bandCols FROM f)
            $bandJoins"""
      }),

    // Temperature-flattened language mixing at α = 1/2 (the mT5/XLM-R
    // rebalancing rule): kept counts ∝ √n_lang, minority languages gain
    // share without duplication. Rates replay exactly because IEEE sqrt is
    // correctly rounded on both engines; selection is the salted portable
    // hash, independent of every other sampling stage.
    QueryDef("q_x_mix_temperature",
      (s, d) => graft.operators.Sampling.temperatureSampleHalf(
        t(s, d, "documents").select(col("doc_id"), col("lang")), "lang", "doc_id"),
      Some(s"""WITH c AS (SELECT lang, count(*) AS n FROM documents
                          WHERE lang IS NOT NULL GROUP BY 1),
               mn AS (SELECT min(n) AS nmin FROM c),
               r AS (SELECT lang, CAST(floor(sqrt(CAST(mn.nmin AS DOUBLE)
                       / CAST(n AS DOUBLE)) * 10000) AS BIGINT) AS rate
                     FROM c, mn)
               SELECT d.doc_id, d.lang FROM documents d JOIN r USING (lang)
               WHERE ${hash64Sql("CAST(doc_id AS VARCHAR) || '|temp'")} % 10000
                     < r.rate""")),

    // Deterministic corpus sampling: selection is a pure function of the
    // document id (portable hash bucket), never RNG/partition state — the
    // same 10% of a 100 TB corpus is selected on every rerun and engine.
    QueryDef("q_x_sample_hash",
      (s, d) => graft.operators.Sampling.hashSample(
          t(s, d, "documents").select(col("doc_id"), col("lang")), "doc_id", 10)
        .withColumn("bucket", graft.operators.Sampling.hashBucket(col("doc_id"))),
      Some(s"""SELECT doc_id, lang,
               ${hash64Sql("CAST(doc_id AS VARCHAR)")} % 100 AS bucket
               FROM documents
               WHERE ${hash64Sql("CAST(doc_id AS VARCHAR)")} % 100 < 10""")),

    // Weighted sampling WITHOUT replacement (~50 docs ∝ token count) by
    // systematic grid selection over the exact integer cumulative-weight
    // line in deterministic hash order — the true ∝-weight draw, pure
    // integer end-to-end (no pow/ln race), rerun/engine/partitioning
    // stable. The Spark side walks the line with a TWO-LEVEL prefix sum
    // (no corpus-sized window); the oracle's single cumsum is the
    // semantic, not the algorithm.
    QueryDef("q_x_sample_weighted",
      (s, d) => graft.operators.Sampling.weightedSystematic(
          t(s, d, "documents")
            .select(col("doc_id"), size(tokens(col("text"))).cast("long").as("n_tokens")),
          "doc_id", "n_tokens", k = 50L)
        .select(col("id").as("doc_id"), col("w").as("n_tokens"), col("cum")),
      Some(s"""WITH b AS (SELECT doc_id,
                 CAST(len($tokensSql) AS BIGINT) AS w,
                 ${hash64Sql("'ws:' || CAST(doc_id AS VARCHAR)")} AS h
               FROM documents),
               c AS (SELECT doc_id, w,
                       CAST(sum(w) OVER (ORDER BY h, doc_id) AS BIGINT) AS cum
                     FROM b),
               t AS (SELECT sum(w) AS tot FROM b)
               SELECT doc_id, w AS n_tokens, cum FROM c, t
               WHERE (cum // greatest(tot // 50, 1))
                   > ((cum - w) // greatest(tot // 50, 1))""")),

    // Preference-pair construction (operators.Dialog.preferencePairs):
    // within each (lang, source) stratum, pair the best-scored document
    // (by fixed-point alpha ratio) with the worst, keeping pairs whose
    // margin clears 1000 micro-units — the RM/DPO data-prep step, one
    // group-count-sized struct-extremes aggregate. The oracle states the
    // same extremes as rank-1 rows of two opposite windows.
    QueryDef("q_x_pref_pairs",
      (s, d) => graft.operators.Dialog.preferencePairs(
        t(s, d, "documents")
          .withColumn("grp", concat_ws("/", col("lang"), col("source")))
          .withColumn("score_fp",
            expr("cast(length(regexp_replace(text, '[^a-zA-Z]', '')) as bigint)" +
              " * 1000000 div greatest(length(text), 1)")),
        "grp", "doc_id", "score_fp", minMargin = 1000L),
      Some("""WITH s AS (SELECT lang || '/' || source AS grp, doc_id AS id,
                 (length(regexp_replace(text, '[^a-zA-Z]', '', 'g')) * 1000000)
                   // greatest(length(text), 1) AS score
               FROM documents),
               r AS (SELECT grp, id, score,
                       row_number() OVER (PARTITION BY grp
                         ORDER BY score DESC, id) AS rb,
                       row_number() OVER (PARTITION BY grp
                         ORDER BY score ASC, id) AS rw,
                       count(*) OVER (PARTITION BY grp) AS n_cands
                     FROM s)
               SELECT b.grp, b.id AS chosen_id, b.score AS chosen_score,
                      w.id AS rejected_id, w.score AS rejected_score,
                      b.score - w.score AS margin,
                      CAST(b.n_cands AS BIGINT) AS n_cands
               FROM r b JOIN r w ON b.grp = w.grp AND b.rb = 1 AND w.rw = 1
               WHERE b.id <> w.id AND b.score - w.score >= 1000""")),

    // Shard-plan manifest (operators.Sampling.shardPlan): greedy
    // contiguous ~4000-token shards over the hash-ordered corpus line,
    // manifest rows with counts, hash range, and a position-independent
    // checksum — the export-validation artifact. Two-level exact prefix
    // sum (no corpus-sized window partition); the oracle's single global
    // window states the same line.
    QueryDef("q_x_shard_plan",
      (s, d) => graft.operators.Sampling.shardPlan(
        t(s, d, "documents")
          .select(col("doc_id"), size(tokens(col("text"))).cast("long").as("n_tokens")),
        "doc_id", "n_tokens", budget = 4000L),
      Some(s"""WITH b AS (SELECT doc_id,
                 CAST(len($tokensSql) AS BIGINT) AS w,
                 ${hash64Sql("'shard:' || CAST(doc_id AS VARCHAR)")} AS h
               FROM documents),
               c AS (SELECT doc_id, w, h,
                       CAST(COALESCE(sum(w) OVER (ORDER BY h, doc_id
                         ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                         AS BIGINT) AS cum_before
                     FROM b)
               SELECT cum_before // 4000 AS shard,
                      CAST(count(*) AS BIGINT) AS n_docs,
                      CAST(sum(w) AS BIGINT) AS n_tokens,
                      min(h) AS first_hash, max(h) AS last_hash,
                      CAST(sum(h % 1000000007) AS BIGINT) AS checksum
               FROM c GROUP BY 1""")),

    // Benchmark decontamination: per eval doc (odd ids), the fraction of
    // its 3-shingles present anywhere in the training corpus (even ids) —
    // the train/test overlap check. One corpus-shingle distinct + one
    // equality join; linear, no document pairing.
    QueryDef("q_x_contamination",
      (s, d) => {
        val docs = t(s, d, "documents")
        graft.operators.TextDedup.contamination(
          docs.filter(col("doc_id") % 2 === 0), docs.filter(col("doc_id") % 2 === 1))
      },
      Some(s"""WITH $shingledSql,
               cs AS (SELECT DISTINCT ${hash64Sql("s")} AS h FROM
                      (SELECT unnest(sh) AS s FROM shd WHERE doc_id % 2 = 0)),
               es AS (SELECT eval_id, ${hash64Sql("s")} AS h FROM
                      (SELECT doc_id AS eval_id, unnest(sh) AS s FROM shd
                       WHERE doc_id % 2 = 1))
               SELECT eval_id, count(*) AS n_shingles,
                      count(cs.h) AS n_contaminated,
                      count(cs.h) / CAST(count(*) AS DOUBLE) AS contamination
               FROM es LEFT JOIN cs ON es.h = cs.h
               GROUP BY eval_id""")),

    // Deterministic corpus shuffle: dense 1..N epoch order from the portable
    // id hash — rerun/partitioning/engine stable, assigned by the
    // DISTRIBUTED range-sort + zipWithIndex path (no single-partition
    // window at any corpus size; the oracle's global window is the
    // semantic, not the algorithm).
    QueryDef("q_x_shuffle_order",
      (s, d) => graft.operators.Sampling.shuffleOrder(
        t(s, d, "documents").select(col("doc_id")), "doc_id"),
      Some(s"""SELECT doc_id,
               CAST(row_number() OVER (
                 ORDER BY ${hash64Sql("'0:' || CAST(doc_id AS VARCHAR)")}, doc_id)
                 AS BIGINT) AS shuffle_pos
               FROM documents""")),

    // Character-class profile: digit/upper/space/punctuation counts and
    // ratios per document — the charset-sanity signal (mojibake, ASCII-art,
    // number dumps) next to the alpha-ratio gate. Map-side regexp strips;
    // identical ASCII classes on both engines; ratios are one exact double
    // division each.
    QueryDef("q_x_charclass",
      (s, d) => t(s, d, "documents").select(
          col("doc_id"),
          length(col("text")).cast("long").as("n_chars"),
          length(regexp_replace(col("text"), "[^0-9]", "")).cast("long").as("n_digits"),
          length(regexp_replace(col("text"), "[^A-Z]", "")).cast("long").as("n_upper"),
          length(regexp_replace(col("text"), "[^ ]", "")).cast("long").as("n_spaces"))
        .withColumn("digit_ratio", col("n_digits") / col("n_chars").cast("double"))
        .withColumn("upper_ratio", col("n_upper") / col("n_chars").cast("double")),
      Some("""SELECT doc_id, n_chars, n_digits, n_upper, n_spaces,
              n_digits / CAST(n_chars AS DOUBLE) AS digit_ratio,
              n_upper / CAST(n_chars AS DOUBLE) AS upper_ratio
              FROM (SELECT doc_id,
                    length(text) AS n_chars,
                    length(regexp_replace(text, '[^0-9]', '', 'g')) AS n_digits,
                    length(regexp_replace(text, '[^A-Z]', '', 'g')) AS n_upper,
                    length(regexp_replace(text, '[^ ]', '', 'g')) AS n_spaces
                    FROM documents)""")),

    // Heavy hitters via the mergeable Misra-Gries sketch (TopKSketch, the
    // engine's second custom TypedImperativeAggregate): fixed-size counter
    // buffers merge across partitions — no key-cardinality shuffle, the
    // 100 TB diagnostic for skew/salting decisions. Capacity (32) exceeds
    // the distinct-lang count, so the sketch is in its EXACT regime here
    // and oracle-checkable; the approximate regime is property-tested.
    QueryDef("q_x_heavy_hitters",
      (s, d) => t(s, d, "documents")
        .agg(graft.expressions.TopKSketch(col("lang"), 32, 5).as("hh"))
        .select(posexplode(col("hh")).as(Seq("pos", "e")))
        .select((col("pos") + 1).cast("long").as("rank"),
          col("e.key").as("lang"), col("e.n").as("n_docs")),
      Some("""SELECT CAST(row_number() OVER (ORDER BY count(*) DESC, lang) AS BIGINT) AS rank,
              lang, count(*) AS n_docs
              FROM documents GROUP BY lang ORDER BY 1 LIMIT 5""")),

    // Count–min sketch point-query contract on the 20 hottest l_suppkey
    // values: no-underestimate (structural) + the ε·N overestimate bound
    // (boundMult 3 ≫ textbook e), both evaluated on the data and HASHED —
    // a drifting sketch flips a boolean. Same contract-gating device as
    // the HLL band and GK rank-window gates.
    QueryDef("q_x_cms_contract",
      (s, d) => graft.operators.Skew.cmsContract(
        t(s, d, "lineitem").select(col("l_suppkey")), "l_suppkey",
        depth = 4, widthBits = 10, boundMult = 3, topN = 20),
      Some(s"""WITH it AS (SELECT CAST(l_suppkey AS VARCHAR) AS k FROM lineitem),
               ex AS (SELECT k, md5('0:' || k) AS h, unnest([0, 1, 2, 3]) AS s FROM it),
               sk AS (SELECT s,
                        CAST(('0x' || substr(h, 1 + 8 * s, 8)) AS BIGINT) % 1024 AS b,
                        count(*) AS c
                      FROM ex GROUP BY 1, 2),
               tru AS (SELECT k, count(*) AS n FROM it GROUP BY 1),
               top AS (SELECT k, n,
                         CAST(row_number() OVER (ORDER BY n DESC, k) AS BIGINT) AS rank
                       FROM tru ORDER BY n DESC, k LIMIT 20),
               eb AS (SELECT k, s,
                        CAST(('0x' || substr(h, 1 + 8 * s, 8)) AS BIGINT) % 1024 AS b
                      FROM (SELECT k, md5('0:' || k) AS h, unnest([0, 1, 2, 3]) AS s
                            FROM top)),
               est AS (SELECT eb.k, min(sk.c) AS cms_n
                       FROM eb JOIN sk USING (s, b) GROUP BY 1),
               tot AS (SELECT count(*) AS nt FROM it)
               SELECT t.rank, t.k AS skey, CAST(t.n AS BIGINT) AS true_n,
                 CAST(e.cms_n AS BIGINT) AS cms_n,
                 e.cms_n >= t.n AS no_underestimate,
                 (e.cms_n - t.n) <= ((3 * nt) // 1024) AS within_bound
               FROM top t JOIN est e ON t.k = e.k CROSS JOIN tot""")),

    // Repetition scoring: duplicated-3-gram fraction per document — the
    // boilerplate/keyword-stuffing signal of a crawl-quality pipeline
    // (integer shingle counts, one exact double division; map-side).
    QueryDef("q_x_repetition",
      (s, d) => graft.operators.QualityFilter.repetitionScored(
          t(s, d, "documents").select(col("doc_id"), col("text")))
        .select(col("doc_id"), col("n_shingles"), col("n_distinct"), col("repetition")),
      Some(s"""SELECT doc_id,
               CAST(greatest(len($tokensSql) - 2, 0) AS BIGINT) AS n_shingles,
               CAST(len(${shingles3Sql(tokensSql)}) AS BIGINT) AS n_distinct,
               CASE WHEN len($tokensSql) - 2 > 0
                    THEN CAST(1 AS DOUBLE) - CAST(len(${shingles3Sql(tokensSql)}) AS DOUBLE)
                         / CAST(len($tokensSql) - 2 AS DOUBLE)
                    ELSE CAST(0 AS DOUBLE) END AS repetition
               FROM documents""")),

    // Weighted mixture sampling: per-language keep rates (en 80%, fr 50%,
    // de 25%, rest 10%) over deterministic hash buckets — the mix-weights
    // step of corpus assembly. Selection is identity-pure (rerun/partition
    // stable) and rates are nested (30% ⊂ 50%), so weight changes reprocess
    // only deltas. Map-side filter riding the scan.
    QueryDef("q_x_mix_weighted",
      (s, d) => graft.operators.Sampling.mixtureSample(
          t(s, d, "documents").select(col("doc_id"), col("lang")), "lang",
          Map("en" -> 80, "fr" -> 50, "de" -> 25), "doc_id", defaultPct = 10)
        .withColumn("bucket", graft.operators.Sampling.hashBucket(col("doc_id"))),
      Some(s"""SELECT doc_id, lang,
               ${hash64Sql("CAST(doc_id AS VARCHAR)")} % 100 AS bucket
               FROM documents
               WHERE ${hash64Sql("CAST(doc_id AS VARCHAR)")} % 100 <
                 (CASE lang WHEN 'en' THEN 80 WHEN 'fr' THEN 50
                            WHEN 'de' THEN 25 ELSE 10 END)""")),

    // PII scrubbing: emails then digit runs replaced with typed placeholders
    // (map-side regexp over the scan; ASCII classes agree across engines).
    // The gate carries the md5 of the redacted text, not the text itself.
    QueryDef("q_x_redact_pii",
      (s, d) => t(s, d, "documents").select(
        col("doc_id"),
        md5(graft.functions.Text.redactPii(col("text"))).as("redacted_hash"),
        expr("size(regexp_extract_all(text, '[0-9]+', 0))").cast("long").as("n_num_runs")),
      Some("""SELECT doc_id,
              md5(regexp_replace(regexp_replace(text,
                  '[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\.[a-zA-Z]{2,}', '<EMAIL>', 'g'),
                  '[0-9]+', '<NUM>', 'g')) AS redacted_hash,
              len(regexp_extract_all(text, '[0-9]+')) AS n_num_runs
              FROM documents""")),

    // Data mixing: top-20 documents per language by letter-density score —
    // the per-source quota step of a training-data pipeline. One group-key
    // shuffle.
    QueryDef("q_x_mix_quota",
      (s, d) => {
        val scored = t(s, d, "documents").select(col("doc_id"), col("lang"),
          (graft.functions.Text.letterCount(col("text")) /
            length(col("text")).cast("double")).as("score"))
        TopK.perGroup(scored, Seq(col("lang")), Seq(col("score").desc, col("doc_id")), 20)
      },
      Some("""SELECT doc_id, lang, score, rank FROM (
              SELECT doc_id, lang, score,
                     row_number() OVER (PARTITION BY lang ORDER BY score DESC, doc_id) AS rank
              FROM (SELECT doc_id, lang,
                    length(regexp_replace(text, '[^a-zA-Z]', '', 'g')) / CAST(length(text) AS DOUBLE) AS score
                    FROM documents))
              WHERE rank <= 20""")),

    // Per-source TOKEN-budget quota — the unit real mixing recipes are
    // written in ("N tokens of web, M of code"); doc-count quotas skew
    // toward short docs. Identity-hash order (salted domain), running
    // window sum, keep while the cumulative total fits the budget.
    QueryDef("q_x_mix_token_budget",
      (s, d) => graft.operators.Sampling.tokenBudgetPerGroup(
        t(s, d, "documents").select(col("source"), col("doc_id"),
          size(tokens(col("text"))).cast("long").as("n_tokens")),
        "source", "n_tokens", 800L, "doc_id"),
      Some(s"""SELECT source, doc_id, n_tokens, cum_tokens,
                      cum_tokens <= 800 AS keep
               FROM (SELECT source, doc_id, n_tokens,
                       CAST(sum(n_tokens) OVER (PARTITION BY source
                            ORDER BY h, doc_id ROWS UNBOUNDED PRECEDING) AS BIGINT)
                         AS cum_tokens
                     FROM (SELECT source, doc_id, len($tokensSql) AS n_tokens,
                             ${hash64Sql("(CAST(doc_id AS VARCHAR) || '|tokquota')")} AS h
                           FROM documents))""")),

    // Water-filling of one TOTAL char budget (60% of the corpus) across
    // sources (Sampling.waterFillBudget): small sources keep everything,
    // large ones cap at the common level L = max level with
    // Σ min(c_g, L) ≤ B. The oracle replays the k-row prefix-sum level
    // solve, the argmax feasibility rule, and the salted-hash keep order.
    QueryDef("q_x_mix_waterfill",
      (s, d) => {
        val docs = t(s, d, "documents")
          .select(col("source"), col("doc_id"), col("n_chars"))
        val total = docs.agg(sum("n_chars")).head().getLong(0)
        graft.operators.Sampling
          .waterFillBudget(docs, "source", "n_chars", "doc_id", total * 6 / 10)
          .groupBy(col("source")).agg(
            max(col("group_tokens")).as("n_tokens_total"),
            max(col("quota")).as("quota"),
            sum(when(col("keep"), 1L).otherwise(0L)).as("n_docs_kept"),
            sum(when(col("keep"), col("n_chars")).otherwise(0L)).as("n_tokens_kept"))
      },
      Some(s"""WITH d AS (SELECT doc_id, source, n_chars FROM documents),
              b AS (SELECT (sum(n_chars) * 6) // 10 AS budget FROM d),
              g AS (SELECT source, sum(n_chars) AS c FROM d GROUP BY 1),
              r AS (SELECT source, c,
                      CAST(row_number() OVER (ORDER BY c, source) AS BIGINT) AS i,
                      sum(c) OVER (ORDER BY c, source ROWS UNBOUNDED PRECEDING) AS s,
                      (SELECT CAST(count(*) AS BIGINT) FROM g) AS k
                    FROM g),
              f AS (SELECT max(CASE WHEN (s - c) + (k - i + 1) * c <= b.budget
                                    THEN i ELSE 0 END) AS istar
                    FROM r, b),
              lv AS (SELECT CASE WHEN f.istar >= (SELECT k FROM r LIMIT 1) THEN NULL
                       ELSE (b.budget
                             - coalesce((SELECT s FROM r, f WHERE r.i = f.istar), 0))
                            // ((SELECT k FROM r LIMIT 1) - f.istar) END AS level
                     FROM f, b),
              q AS (SELECT r.source, r.c,
                      least(r.c, coalesce(lv.level, r.c)) AS quota FROM r, lv),
              ks AS (SELECT d.source, d.n_chars,
                       sum(n_chars) OVER (PARTITION BY source ORDER BY
                         ${hash64Sql("(CAST(doc_id AS VARCHAR) || '|tokquota')")},
                         doc_id ROWS UNBOUNDED PRECEDING) AS cum
                     FROM d)
              SELECT q.source,
                CAST(q.c AS BIGINT) AS n_tokens_total,
                CAST(q.quota AS BIGINT) AS quota,
                CAST(coalesce(sum(CASE WHEN ks.cum <= q.quota THEN 1 END), 0)
                     AS BIGINT) AS n_docs_kept,
                CAST(coalesce(sum(CASE WHEN ks.cum <= q.quota THEN ks.n_chars END), 0)
                     AS BIGINT) AS n_tokens_kept
              FROM ks JOIN q USING (source)
              GROUP BY q.source, q.c, q.quota""")),

    // Sequence packing: documents placed at their cumulative-token offset
    // inside 4096-token training sequences, 8 hash shards packing
    // independently — the concat-then-chunk pretraining layout as one
    // per-shard window of integer arithmetic.
    QueryDef("q_x_pack_sequences",
      (s, d) => graft.operators.Sampling.packSequences(
        t(s, d, "documents"), size(tokens(col("text"))), "doc_id", 4096, 8),
      Some(s"""SELECT doc_id, n_tokens, shard,
               CAST(COALESCE(sum(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS cum_before,
               CAST(COALESCE(sum(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) // 4096 AS BIGINT) AS seq_id,
               CAST(COALESCE(sum(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) % 4096 AS BIGINT) AS offset
               FROM (SELECT doc_id, CAST(len($tokensSql) AS BIGINT) AS n_tokens,
                     ${hash64Sql("CAST(doc_id AS VARCHAR)")} % 8 AS shard
                     FROM documents)""")),

    // Curriculum-ordered packing: 4 equal-frequency difficulty phases on
    // n_chars (short = easy), sequences packed within (phase, shard) —
    // consuming in (phase, shard, seq_id) order is the easy→hard
    // curriculum layout. No global rank: the tuple IS the order key.
    QueryDef("q_x_curriculum",
      (s, d) => graft.operators.Sampling.packSequencesCurriculum(
        t(s, d, "documents"), size(tokens(col("text"))), "doc_id",
        "n_chars", phases = 4, tokenBudget = 4096, shards = 8),
      Some(s"""WITH b AS (SELECT doc_id, CAST(len($tokensSql) AS BIGINT) AS n_tokens,
                 n_chars, ${hash64Sql("CAST(doc_id AS VARCHAR)")} % 8 AS shard
                 FROM documents),
               c AS (SELECT quantile_cont(n_chars, [0.25, 0.5, 0.75]) AS cuts
                     FROM documents),
               p AS (SELECT doc_id, n_tokens, shard,
                       CAST(1 + len(list_filter(cuts, x -> n_chars > x)) AS BIGINT)
                         AS phase
                     FROM b, c)
               SELECT doc_id, n_tokens, phase, shard,
                 CAST(COALESCE(sum(n_tokens) OVER (PARTITION BY phase, shard
                   ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                   0) AS BIGINT) AS cum_before,
                 CAST(COALESCE(sum(n_tokens) OVER (PARTITION BY phase, shard
                   ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                   0) // 4096 AS BIGINT) AS seq_id,
                 CAST(COALESCE(sum(n_tokens) OVER (PARTITION BY phase, shard
                   ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                   0) % 4096 AS BIGINT) AS offset
               FROM p""")),

    // Document chunking: long docs split into 50-token windows overlapping
    // by 10 (stride 40) — map-side flatMap (explode over a sequence), one
    // row per chunk with its token range, no shuffle.
    QueryDef("q_x_chunk_docs",
      (s, d) => graft.operators.Sampling.chunkDocuments(
        t(s, d, "documents"), size(tokens(col("text"))), "doc_id", 50, 10),
      Some(s"""SELECT doc_id, n_tokens,
               unnest(generate_series(0, n_chunks - 1)) AS chunk_id,
               unnest(list_transform(generate_series(0, n_chunks - 1), c -> c * 40)) AS start_tok,
               unnest(list_transform(generate_series(0, n_chunks - 1),
                 c -> least(c * 40 + 50, n_tokens))) AS end_tok
               FROM (SELECT doc_id, CAST(n_tokens AS BIGINT) AS n_tokens,
                     greatest(1, (n_tokens - 10 + 39) // 40) AS n_chunks
                     FROM (SELECT doc_id, len($tokensSql) AS n_tokens FROM documents))""")),

    // TRAINING-DATA CAPSTONE: the full selection pipeline composed from the
    // library operators in ONE lazy plan — quality gate (map-side) → exact
    // dedup keep-list (hash aggregate + join) → deterministic 50% hash
    // sample (map-side) → sequence packing (per-shard window) → one summary
    // row. What a real corpus build runs nightly; Catalyst fuses the
    // map-side stages into the scan.
    QueryDef("q_x_training_capstone",
      (s, d) => {
        val docs = t(s, d, "documents")
        val quality = graft.operators.QualityFilter.filter(docs)
        val keep = graft.operators.TextDedup.exact(quality)
          .select(col("keep_id").as("doc_id"))
        val deduped = quality.join(keep, Seq("doc_id"))
        val sampled = graft.operators.Sampling.hashSample(deduped, "doc_id", 50)
        val packed = graft.operators.Sampling.packSequences(
          sampled, col("n_tokens"), "doc_id", 2048, 4)
        packed.agg(
          count(lit(1)).as("n_docs"),
          sum(col("n_tokens")).as("total_tokens"),
          countDistinct(concat_ws("|", col("shard"), col("seq_id"))).as("n_sequences"),
          max(col("seq_id")).as("max_seq_id"))
      },
      Some(s"""WITH sc AS (SELECT doc_id, text,
                 len($tokensSql) AS n_tokens, length(text) AS n_chars,
                 length(regexp_replace(text, '[^a-zA-Z]', '', 'g')) AS n_letters,
                 len(list_filter($tokensSql, t -> t IN ($stopIn))) AS n_stopwords
               FROM documents),
               q AS (SELECT doc_id, text, n_tokens FROM sc
                     WHERE n_tokens >= 20 AND n_tokens <= 1048576
                       AND n_letters / CAST(n_chars AS DOUBLE) >= 0.6
                       AND n_stopwords / CAST(n_tokens AS DOUBLE) >= 0.01),
               k AS (SELECT CAST(min(doc_id) AS BIGINT) AS doc_id FROM q GROUP BY md5(text)),
               dd AS (SELECT q.doc_id, q.n_tokens FROM q JOIN k ON q.doc_id = k.doc_id),
               sm AS (SELECT doc_id, CAST(n_tokens AS BIGINT) AS n_tokens,
                      ${hash64Sql("CAST(doc_id AS VARCHAR)")} % 4 AS shard FROM dd
                      WHERE ${hash64Sql("CAST(doc_id AS VARCHAR)")} % 100 < 50),
               pk AS (SELECT shard, n_tokens,
                      COALESCE(sum(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id
                        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) // 2048 AS seq_id
                      FROM sm)
               SELECT count(*) AS n_docs, CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
                      count(DISTINCT CAST(shard AS VARCHAR) || '|' || CAST(seq_id AS VARCHAR))
                        AS n_sequences,
                      CAST(max(seq_id) AS BIGINT) AS max_seq_id
               FROM pk""")),

    // Multimodal plumbing: opaque binary payload column + typed metadata.
    // This gate proves the binary-column schema/arithmetic round-trips; the
    // codec cycles of graft.multimodal have their own gates below.
    QueryDef("q_x_binary_meta",
      (s, d) => t(s, d, "documents").select(
        col("doc_id"),
        length(col("text").cast("binary")).cast("long").as("n_bytes"),
        md5(col("text")).as("content_hash"),
        (hash64(col("text")) % 997).as("stub_feature")),
      Some(s"""SELECT doc_id, octet_length(CAST(text AS BLOB)) AS n_bytes,
               md5(text) AS content_hash, ${hash64Sql("text")} % 997 AS stub_feature
               FROM documents""")),

    // Multimodal REAL codec path: every document's bytes go through a
    // genuine PNG encode→decode cycle (JDK javax.imageio) inside
    // mapPartitions; decoded width/height/nonzero-pixel-count are pure
    // arithmetic over octet_length, so the oracle proves the codec pass
    // preserved the payload exactly (grayscale PNG is lossless; UTF-8 text
    // has no NUL bytes, so padding is the only zero pixel).
    QueryDef("q_x_png_roundtrip",
      (s, d) => graft.multimodal.Multimodal.pngRoundTrip(t(s, d, "documents")),
      Some("""SELECT doc_id, CAST(64 AS BIGINT) AS png_w,
              CAST(greatest(1, (octet_length(CAST(text AS BLOB)) + 63) // 64) AS BIGINT) AS png_h,
              CAST(octet_length(CAST(text AS BLOB)) AS BIGINT) AS n_payload_bytes
              FROM documents""")),

    // Sample-domain WAV audio features through a REAL codec cycle: each
    // document's bytes become PCM16 samples in a canonical WAV
    // (wavSynth), which audioFeatures chunk-walks back to samples and
    // reduces to RMS / peak / zero-crossings / duration — all integer
    // arithmetic except one IEEE sqrt. The oracle reproduces every number
    // from the text alone (ASCII corpus: chars ≡ bytes), so a stubbed or
    // broken decode cannot pass.
    // Multi-frame GIF round-trip: each doc's bytes split into two halves,
    // packed as grayscale frames of a REAL animated GIF, decoded back
    // frame-by-frame — n_frames and per-frame nonzero pixel counts are
    // pure arithmetic over the byte length (UTF-8 text has no NUL bytes),
    // so the oracle proves a genuine multi-frame codec cycle preserved
    // both frames.
    // MP3 FRAME-layer cycle: docs' bytes ride the frame bodies of a real
    // VBR MPEG-1 Layer III stream (legal headers, exact frame lengths),
    // then a frame walk re-derives frame count / bitrate band / frame-exact
    // duration — all arithmetic over octet_length, so the oracle proves a
    // genuine header walk (the 128→160→192 bitrate cycle means frame
    // lengths differ per frame; a first-frame-only probe cannot pass).
    // Only the entropy-coded sample decode remains stubbed.
    QueryDef("q_x_mp3_frames",
      (s, d) => graft.multimodal.Multimodal.mp3FrameStats(
        graft.multimodal.Multimodal.mp3Synth(t(s, d, "documents"))),
      Some("""SELECT doc_id,
              CAST(greatest(1, (octet_length(CAST(text AS BLOB)) + 63) // 64) AS BIGINT)
                AS n_frames,
              CAST(44100 AS INT) AS sample_rate,
              CAST(greatest(1, (octet_length(CAST(text AS BLOB)) + 63) // 64)
                   * 1152000 // 44100 AS BIGINT) AS duration_ms,
              CAST(128 AS INT) AS min_kbps,
              CAST(CASE WHEN greatest(1, (octet_length(CAST(text AS BLOB)) + 63) // 64) >= 3 THEN 192
                        WHEN greatest(1, (octet_length(CAST(text AS BLOB)) + 63) // 64) = 2 THEN 160
                        ELSE 128 END AS INT) AS max_kbps,
              greatest(1, (octet_length(CAST(text AS BLOB)) + 63) // 64) > 1 AS vbr
              FROM documents""")),

    QueryDef("q_x_gif_frames",
      (s, d) => graft.multimodal.Multimodal.gifRoundTrip(t(s, d, "documents")),
      Some("""SELECT doc_id, CAST(2 AS BIGINT) AS n_frames,
              CAST((octet_length(CAST(text AS BLOB)) + 1) // 2 AS BIGINT) AS f0_nonzero,
              CAST(octet_length(CAST(text AS BLOB)) // 2 AS BIGINT) AS f1_nonzero
              FROM documents""")),

    // Nearest-neighbor resize through TWO real codec cycles (encode→decode
    // source, resize, encode→decode result): the 16×16 thumbnail's exact
    // pixel sum is re-derived by the oracle from the text alone via the
    // identical integer source-index map — a stubbed decode or a float
    // resampler cannot match it. Same ASCII/non-empty enforcement as the
    // audio gate (byte ≡ char code on both sides, filtered identically).
    QueryDef("q_x_image_resize",
      (s, d) => graft.multimodal.Multimodal.imageResizeProbe(
        t(s, d, "documents")
          .filter(octet_length(col("text")) === length(col("text")) &&
            col("text") =!= "")),
      Some("""WITH d AS (SELECT doc_id, text, length(text) AS n FROM documents
                WHERE octet_length(CAST(text AS BLOB)) = length(text) AND text <> ''),
              dims AS (SELECT doc_id, text, n,
                greatest(1, (n + 63) // 64) AS srch FROM d),
              idx AS (SELECT doc_id, text, n,
                flatten(list_transform(generate_series(0, 15), y ->
                  list_transform(generate_series(0, 15), x ->
                    ((y * srch) // 16) * 64 + ((x * 64) // 16)))) AS ids
                FROM dims)
              SELECT doc_id, CAST(16 AS BIGINT) AS dst_w, CAST(16 AS BIGINT) AS dst_h,
                CAST(list_sum(list_transform(ids, i ->
                  CASE WHEN i < n THEN ord(text[i+1]) ELSE 0 END)) AS BIGINT) AS pixel_sum,
                CAST(len(list_filter(ids, i -> i < n)) AS BIGINT) AS n_nonzero
              FROM idx""")),

    // Perceptual image dedup: dHash (9×8 nearest-neighbor thumbnail of the
    // REAL-decoded grayscale image, 64 horizontal-gradient bits as two
    // non-negative BIGINT words) + the exact-hash census — near-duplicate
    // IMAGE detection with the same group-on-signature shape as text
    // dedup. The oracle re-derives every bit from the payload arithmetic,
    // so a stubbed decode or a float resampler cannot pass.
    QueryDef("q_x_image_phash",
      (s, d) => {
        val h = graft.multimodal.Multimodal.imageDHash(
          t(s, d, "documents")
            .filter(octet_length(col("text")) === length(col("text")) &&
              col("text") =!= ""))
        // census as a window count: the join-back form ran the codec pass
        // TWICE (both sides of the self-join re-decoded every image)
        h.select(col("doc_id"), col("phash_hi"), col("phash_lo"),
          count(lit(1)).over(org.apache.spark.sql.expressions.Window
            .partitionBy("phash_hi", "phash_lo")).as("n_same"))
      },
      Some("""WITH d AS (SELECT doc_id, text, length(text) AS n FROM documents
                WHERE octet_length(CAST(text AS BLOB)) = length(text) AND text <> ''),
              t AS (SELECT doc_id, n, text, greatest(1, (n + 63) // 64) AS srch FROM d),
              th AS (SELECT doc_id,
                flatten(list_transform(generate_series(0, 7), y ->
                  list_transform(generate_series(0, 8), x ->
                    CASE WHEN ((y * srch) // 8) * 64 + ((x * 64) // 9) < n
                         THEN ord(text[((y * srch) // 8) * 64 + ((x * 64) // 9) + 1])
                         ELSE 0 END))) AS tb
                FROM t),
              hw AS (SELECT doc_id,
                CAST(list_sum(flatten(list_transform(generate_series(4, 7), y ->
                  list_transform(generate_series(0, 7), x ->
                    CASE WHEN tb[y*9+x+1] > tb[y*9+x+2]
                         THEN (CAST(1 AS BIGINT) << (y*8+x-32)) ELSE 0 END))))
                  AS BIGINT) AS phash_hi,
                CAST(list_sum(flatten(list_transform(generate_series(0, 3), y ->
                  list_transform(generate_series(0, 7), x ->
                    CASE WHEN tb[y*9+x+1] > tb[y*9+x+2]
                         THEN (CAST(1 AS BIGINT) << (y*8+x)) ELSE 0 END))))
                  AS BIGINT) AS phash_lo
                FROM th)
              SELECT doc_id, phash_hi, phash_lo,
                CAST(count(*) OVER (PARTITION BY phash_hi, phash_lo) AS BIGINT) AS n_same
              FROM hw""")),

    // The oracle derives samples from CHARACTERS (split + ord) while
    // wavSynth packs BYTES — equal only for pure-ASCII, non-empty text.
    // That assumption is ENFORCED, not assumed: both sides filter to
    // octet_length = char_length AND text <> '', so a non-ASCII or empty
    // doc drops from both identically instead of silently diverging.
    QueryDef("q_x_audio_features",
      (s, d) => graft.multimodal.Multimodal.audioFeatures(
        graft.multimodal.Multimodal.wavSynth(t(s, d, "documents")
          .filter(octet_length(col("text")) === length(col("text")) &&
            col("text") =!= ""))),
      Some("""WITH s AS (SELECT doc_id,
                list_transform(split(text, ''), c -> CAST((ord(c) - 128) * 256 AS BIGINT)) AS sm
              FROM documents
              WHERE octet_length(CAST(text AS BLOB)) = length(text) AND text <> '')
              SELECT doc_id AS media_id,
                     CAST(8000 AS INTEGER) AS sample_rate,
                     CAST(1 AS INTEGER) AS n_channels,
                     CAST(len(sm) AS BIGINT) AS n_samples,
                     CAST(len(sm) * 1000 // 8000 AS BIGINT) AS duration_ms,
                     CAST(list_max(list_transform(sm, x -> abs(x))) AS BIGINT) AS peak,
                     CAST(list_sum(list_transform(sm, x -> x * x)) AS BIGINT) AS sum_sq,
                     sqrt(list_sum(list_transform(sm, x -> x * x)) / CAST(len(sm) AS DOUBLE)) AS rms,
                     CAST(len(list_filter(generate_series(2, len(sm)),
                          i -> (sm[i-1] < 0) <> (sm[i] < 0))) AS BIGINT) AS n_zero_crossings
              FROM s""")),

    // Integer audio decimation (Multimodal.audioDecimate): every 4th PCM16
    // sample through the REAL WAV encode→decode cycle at 8000→2000 Hz,
    // stats replayed by the oracle from the source characters, plus the
    // recoded_ok codec-roundtrip proof (hashed as literal true — a decode
    // or re-encode defect flips it). Same ASCII-enforcement filter as
    // q_x_audio_features.
    QueryDef("q_x_audio_decimate",
      (s, d) => graft.multimodal.Multimodal.audioDecimate(
        graft.multimodal.Multimodal.wavSynth(t(s, d, "documents")
          .filter(octet_length(col("text")) === length(col("text")) &&
            col("text") =!= "")), factor = 4),
      Some("""WITH s AS (SELECT doc_id,
                list_transform(split(text, ''), c -> CAST((ord(c) - 128) * 256 AS BIGINT)) AS sm
              FROM documents
              WHERE octet_length(CAST(text AS BLOB)) = length(text) AND text <> ''),
              dd AS (SELECT doc_id, sm,
                list_transform(list_filter(generate_series(1, len(sm)),
                  i -> (i - 1) % 4 = 0), i -> sm[i]) AS dm
              FROM s)
              SELECT doc_id AS media_id,
                     CAST(4 AS INTEGER) AS factor,
                     CAST(2000 AS INTEGER) AS sample_rate_out,
                     CAST(len(sm) AS BIGINT) AS n_samples_in,
                     CAST(len(dm) AS BIGINT) AS n_samples_out,
                     CAST(list_max(list_transform(dm, x -> abs(x))) AS BIGINT) AS peak,
                     CAST(list_sum(list_transform(dm, x -> x * x)) AS BIGINT) AS sum_sq,
                     CAST(len(list_filter(generate_series(2, len(dm)),
                          i -> (dm[i-1] < 0) <> (dm[i] < 0))) AS BIGINT) AS n_zero_crossings,
                     true AS recoded_ok
              FROM dd""")),

    // C4-style line+page cleaning (TextClean.c4Clean): the synthetic doc
    // exercises every rule — a punctuation-less title line, a
    // "enable JavaScript" notice, a <5-word line (all line-dropped), plus
    // page-level kills: doc_id%7=0 gains a '{' line, doc_id%11=3 gains a
    // 'Lorem ipsum' line, doc_id%5=0 loses its third good line and falls
    // under min_lines=3. One map-side HOF chain on both engines.
    QueryDef("q_x_c4_filter",
      (s, d) => {
        val nl = lit("\n")
        val synth = concat(
          lit("Title for doc "), col("doc_id"), nl,
          col("text"), lit("."), nl,
          lit("Please enable JavaScript to view this page."), nl,
          lit("Too few words."), nl,
          lit("Delivery was quick and the product works well."), nl,
          when(col("doc_id") % 5 === 0, lit("Nope."))
            .otherwise(concat(lit("Customer "), col("doc_id"),
              lit(" left a five star review today."))),
          when(col("doc_id") % 7 === 0, concat(nl, lit("{\"nav\": true}")))
            .otherwise(lit("")),
          when(col("doc_id") % 11 === 3, concat(nl, lit("Lorem ipsum dolor sit amet.")))
            .otherwise(lit("")))
        graft.operators.TextClean.c4Clean(
          t(s, d, "documents").select(col("doc_id"), synth.as("text")))
      },
      Some("""WITH docs AS (SELECT doc_id,
                'Title for doc ' || CAST(doc_id AS VARCHAR) || chr(10) ||
                text || '.' || chr(10) ||
                'Please enable JavaScript to view this page.' || chr(10) ||
                'Too few words.' || chr(10) ||
                'Delivery was quick and the product works well.' || chr(10) ||
                CASE WHEN doc_id % 5 = 0 THEN 'Nope.'
                     ELSE 'Customer ' || CAST(doc_id AS VARCHAR)
                          || ' left a five star review today.' END ||
                CASE WHEN doc_id % 7 = 0 THEN chr(10) || '{"nav": true}' ELSE '' END ||
                CASE WHEN doc_id % 11 = 3 THEN chr(10) || 'Lorem ipsum dolor sit amet.'
                     ELSE '' END AS text
                FROM documents),
              k AS (SELECT doc_id, text,
                      list_filter(string_split(text, chr(10)), x ->
                        regexp_matches(x, '[.!?"]$')
                        AND len(string_split_regex(trim(x), ' +')) >= 5
                        AND NOT contains(lower(x), 'javascript')) AS kept,
                      len(string_split(text, chr(10))) AS n_lines
                    FROM docs)
              SELECT doc_id, array_to_string(kept, chr(10)) AS text_clean,
                CAST(len(kept) AS BIGINT) AS kept_lines,
                CAST(n_lines - len(kept) AS BIGINT) AS dropped_lines
              FROM k
              WHERE NOT contains(lower(text), 'lorem ipsum')
                AND NOT contains(text, '{')
                AND len(kept) >= 3""")),

    // CCNet-style cross-corpus paragraph dedup (TextDedup.dedupParagraphs):
    // para1 duplicates across every doc of a source (kept only in that
    // source's lowest doc_id), para3 duplicates globally (kept only in doc
    // 0), doc_id%4=0 docs repeat their own body paragraph (same-doc dup —
    // removed), and the body + closing note are unique (always kept).
    // First-occurrence = lowest (doc_id, idx), replayed by one window.
    QueryDef("q_x_paragraph_dedup",
      (s, d) => {
        val nl = lit("\n")
        val synth = concat(
          lit("Shared boilerplate header from "), col("source"), lit("."), nl,
          col("text"), nl,
          lit("Copyright 2024 Example Corp. All rights reserved."), nl,
          when(col("doc_id") % 4 === 0, col("text"))
            .otherwise(concat(lit("Unique closing note for document "),
              col("doc_id"), lit("."))))
        graft.operators.TextDedup.dedupParagraphs(
          t(s, d, "documents").select(col("doc_id"), synth.as("text")))
      },
      Some("""WITH docs AS (SELECT doc_id,
                'Shared boilerplate header from ' || source || '.' || chr(10) ||
                text || chr(10) ||
                'Copyright 2024 Example Corp. All rights reserved.' || chr(10) ||
                CASE WHEN doc_id % 4 = 0 THEN text
                     ELSE 'Unique closing note for document '
                          || CAST(doc_id AS VARCHAR) || '.' END AS text
                FROM documents),
              arr AS (SELECT doc_id, string_split(text, chr(10)) AS ls FROM docs),
              p AS (SELECT doc_id, i - 1 AS idx, ls[i] AS para
                    FROM arr, UNNEST(range(1, len(ls) + 1)) AS t(i)),
              r AS (SELECT doc_id, idx, para, row_number() OVER
                      (PARTITION BY lower(trim(para)) ORDER BY doc_id, idx) AS rn
                    FROM p),
              kept AS (SELECT doc_id,
                         string_agg(para, chr(10) ORDER BY idx) AS text_dedup,
                         count(*) AS kept_paras
                       FROM r WHERE rn = 1 GROUP BY doc_id)
              SELECT d.doc_id,
                coalesce(k.text_dedup, '') AS text_dedup,
                CAST(coalesce(k.kept_paras, 0) AS BIGINT) AS kept_paras,
                CAST(len(string_split(d.text, chr(10)))
                     - coalesce(k.kept_paras, 0) AS BIGINT) AS removed_paras
              FROM docs d LEFT JOIN kept k USING (doc_id)""")),

    // T5-style span corruption (SpanCorruption.corrupt): length-3 grid
    // chunks, each masked iff hash64(doc:chunk) % 5 = 0; inputs carry
    // numbered sentinels, targets the masked content behind the matching
    // sentinels. The oracle replays the hash coin, the sentinel running
    // count, and both string rebuilds chunk by chunk.
    QueryDef("q_x_span_corrupt",
      (s, d) => graft.operators.SpanCorruption.corrupt(
        t(s, d, "documents").select(col("doc_id"), col("text")),
        spanLen = 3, everyK = 5),
      Some(s"""WITH dd AS (SELECT doc_id, string_split(text, ' ') AS toks
                           FROM documents),
              c AS (SELECT doc_id, toks,
                      CAST(len(toks) AS BIGINT) AS n_tokens,
                      (len(toks) + 2) // 3 AS nc
                    FROM dd),
              f AS (SELECT doc_id, toks, n_tokens, nc,
                      list_transform(range(0, nc), c2 ->
                        ${hash64Sql(
                          "(CAST(doc_id AS VARCHAR) || ':' || CAST(c2 AS VARCHAR))")}
                        % 5 = 0) AS flags
                    FROM c),
              sx AS (SELECT *, list_transform(range(0, nc), c2 ->
                       len(list_filter(flags[1:CAST(c2 AS INTEGER)], x -> x))) AS sidx
                     FROM f)
              SELECT doc_id, n_tokens,
                CAST(len(list_filter(flags, x -> x)) AS BIGINT) AS n_spans,
                array_to_string(list_transform(range(0, nc), c2 ->
                  CASE WHEN flags[CAST(c2 + 1 AS INTEGER)]
                       THEN '<extra_id_'
                            || CAST(sidx[CAST(c2 + 1 AS INTEGER)] AS VARCHAR) || '>'
                       ELSE array_to_string(
                              toks[CAST(c2 * 3 + 1 AS INTEGER)
                                   : CAST(c2 * 3 + 3 AS INTEGER)], ' ') END),
                  ' ') AS input,
                coalesce(array_to_string(list_filter(list_transform(range(0, nc), c2 ->
                  CASE WHEN flags[CAST(c2 + 1 AS INTEGER)]
                       THEN '<extra_id_'
                            || CAST(sidx[CAST(c2 + 1 AS INTEGER)] AS VARCHAR) || '> '
                            || array_to_string(
                                 toks[CAST(c2 * 3 + 1 AS INTEGER)
                                      : CAST(c2 * 3 + 3 AS INTEGER)], ' ')
                       ELSE '' END), p -> p <> ''), ' '), '') AS target
              FROM sx""")),

    // Fill-in-the-middle rearrangement (SpanCorruption.fim): two
    // doc-identity-hash cut points split each selected document (50%
    // deterministic fim_rate) into prefix/middle/suffix, emitted in PSM
    // order with sentinels; unselected docs pass through verbatim. The
    // oracle replays the apply coin, both cuts, and all three slices.
    QueryDef("q_x_fim",
      (s, d) => graft.operators.SpanCorruption.fim(
        t(s, d, "documents").select(col("doc_id"), col("text")), rate10 = 5),
      Some(s"""WITH dd AS (SELECT doc_id, string_split(text, ' ') AS toks
                           FROM documents),
              c AS (SELECT doc_id, toks, CAST(len(toks) AS BIGINT) AS n_tokens,
                      ${hash64Sql("(CAST(doc_id AS VARCHAR) || ':fim')")}
                        % 10 < 5 AS fim_applied,
                      ${hash64Sql("(CAST(doc_id AS VARCHAR) || ':cuta')")}
                        % (len(toks) + 1) AS ca,
                      ${hash64Sql("(CAST(doc_id AS VARCHAR) || ':cutb')")}
                        % (len(toks) + 1) AS cb
                    FROM dd)
              SELECT doc_id, n_tokens, fim_applied,
                CAST(least(ca, cb) AS BIGINT) AS cut_lo,
                CAST(greatest(ca, cb) AS BIGINT) AS cut_hi,
                CASE WHEN NOT fim_applied THEN array_to_string(toks, ' ')
                     ELSE '<PRE> '
                       || coalesce(array_to_string(
                            toks[1:CAST(least(ca, cb) AS INTEGER)], ' '), '')
                       || ' <SUF> '
                       || coalesce(array_to_string(
                            toks[CAST(greatest(ca, cb) + 1 AS INTEGER)
                              :CAST(n_tokens AS INTEGER)], ' '), '')
                       || ' <MID> '
                       || coalesce(array_to_string(
                            toks[CAST(least(ca, cb) + 1 AS INTEGER)
                              :CAST(greatest(ca, cb) AS INTEGER)], ' '), '')
                END AS output
              FROM c""")),

    // Needle-in-a-haystack construction (SpanCorruption.insertNeedle):
    // one identifying sentence spliced per document at a hash-determined
    // token offset, position and value recorded for the eval harness, and
    // recovered_ok re-extracts the value from the spliced text by regex —
    // a self-checking round trip the oracle hashes (literal replay).
    QueryDef("q_x_needle",
      (s, d) => graft.operators.SpanCorruption.insertNeedle(
        t(s, d, "documents").select(col("doc_id"), col("text"))),
      Some(s"""WITH dd AS (SELECT doc_id, string_split(text, ' ') AS toks
                           FROM documents),
              c AS (SELECT doc_id, toks, CAST(len(toks) AS BIGINT) AS n_tokens,
                      ${hash64Sql("(CAST(doc_id AS VARCHAR) || ':npos')")}
                        % (len(toks) + 1) AS np,
                      ${hash64Sql("(CAST(doc_id AS VARCHAR) || ':nval')")}
                        % 10000 AS nv
                    FROM dd),
              o AS (SELECT doc_id, n_tokens,
                      CAST(np AS BIGINT) AS needle_pos,
                      CAST(nv AS BIGINT) AS needle_value,
                      coalesce(array_to_string(
                        toks[1:CAST(np AS INTEGER)], ' '), '')
                      || (CASE WHEN np > 0 THEN ' ' ELSE '' END)
                      || 'The magic number for document '
                      || CAST(doc_id AS VARCHAR) || ' is '
                      || CAST(nv AS VARCHAR) || '.'
                      || (CASE WHEN np < n_tokens THEN ' ' ELSE '' END)
                      || coalesce(array_to_string(
                           toks[CAST(np + 1 AS INTEGER)
                             :CAST(n_tokens AS INTEGER)], ' '), '')
                        AS output
                    FROM c)
              SELECT doc_id, n_tokens, needle_pos, needle_value, output,
                regexp_extract(output,
                  'The magic number for document \\d+ is (\\d+)\\.', 1)
                  = CAST(needle_value AS VARCHAR) AS recovered_ok
              FROM o""")),

    // Boilerplate-paragraph removal by document frequency
    // (TextDedup.dropFrequentParagraphs): same synthetic corpus as
    // q_x_paragraph_dedup, but the per-source header (df≈docs/source) and
    // the global copyright line (df=corpus) now vanish EVERYWHERE —
    // including their first occurrences — while df=1 paragraphs survive
    // untouched. maxDocFreq=10 sits safely between df=1 and the smallest
    // per-source count at every sf tier.
    QueryDef("q_x_boilerplate_drop",
      (s, d) => {
        val nl = lit("\n")
        val synth = concat(
          lit("Shared boilerplate header from "), col("source"), lit("."), nl,
          col("text"), nl,
          lit("Copyright 2024 Example Corp. All rights reserved."), nl,
          when(col("doc_id") % 4 === 0, col("text"))
            .otherwise(concat(lit("Unique closing note for document "),
              col("doc_id"), lit("."))))
        graft.operators.TextDedup.dropFrequentParagraphs(
          t(s, d, "documents").select(col("doc_id"), synth.as("text")),
          maxDocFreq = 10L)
      },
      Some("""WITH docs AS (SELECT doc_id,
                'Shared boilerplate header from ' || source || '.' || chr(10) ||
                text || chr(10) ||
                'Copyright 2024 Example Corp. All rights reserved.' || chr(10) ||
                CASE WHEN doc_id % 4 = 0 THEN text
                     ELSE 'Unique closing note for document '
                          || CAST(doc_id AS VARCHAR) || '.' END AS text
                FROM documents),
              arr AS (SELECT doc_id, string_split(text, chr(10)) AS ls FROM docs),
              p AS (SELECT doc_id, i - 1 AS idx, ls[i] AS para,
                      lower(trim(ls[i])) AS norm
                    FROM arr, UNNEST(range(1, len(ls) + 1)) AS t(i)),
              freq AS (SELECT norm, count(DISTINCT doc_id) AS df FROM p GROUP BY 1),
              kept AS (SELECT doc_id,
                         string_agg(para, chr(10) ORDER BY idx) AS text_kept,
                         count(*) AS kept_paras
                       FROM p JOIN freq USING (norm) WHERE df <= 10
                       GROUP BY doc_id)
              SELECT d.doc_id,
                coalesce(k.text_kept, '') AS text_kept,
                CAST(coalesce(k.kept_paras, 0) AS BIGINT) AS kept_paras,
                CAST(len(string_split(d.text, chr(10)))
                     - coalesce(k.kept_paras, 0) AS BIGINT) AS removed_paras
              FROM docs d LEFT JOIN kept k USING (doc_id)""")),

    // Structural-markup census (TextClean.markupCensus): doc_id-dependent
    // injections exercise each counter — a heading on even ids, an
    // indented code line on %3=0, a pipe-table row on %4=0, a list item on
    // %5=0 — plus one always-on ';'-terminated line, so code_frac varies
    // across docs. One map-side HOF chain on both engines.
    QueryDef("q_x_markup_census",
      (s, d) => {
        val nl = lit("\n")
        val synth = concat(
          lit("plain prose opening line for doc "), col("doc_id"),
          when(col("doc_id") % 2 === 0, concat(nl, lit("# Heading "), col("doc_id")))
            .otherwise(lit("")),
          nl, col("text"),
          when(col("doc_id") % 3 === 0, concat(nl, lit("    indented_code(x);")))
            .otherwise(lit("")),
          when(col("doc_id") % 4 === 0, concat(nl, lit("| col_a | col_b |")))
            .otherwise(lit("")),
          when(col("doc_id") % 5 === 0, concat(nl, lit("- first list item")))
            .otherwise(lit("")),
          nl, lit("closing statement;"))
        graft.operators.TextClean.markupCensus(
          t(s, d, "documents").select(col("doc_id"), synth.as("text")))
      },
      Some("""WITH docs AS (SELECT doc_id,
                'plain prose opening line for doc ' || CAST(doc_id AS VARCHAR) ||
                CASE WHEN doc_id % 2 = 0
                     THEN chr(10) || '# Heading ' || CAST(doc_id AS VARCHAR)
                     ELSE '' END ||
                chr(10) || text ||
                CASE WHEN doc_id % 3 = 0 THEN chr(10) || '    indented_code(x);'
                     ELSE '' END ||
                CASE WHEN doc_id % 4 = 0 THEN chr(10) || '| col_a | col_b |'
                     ELSE '' END ||
                CASE WHEN doc_id % 5 = 0 THEN chr(10) || '- first list item'
                     ELSE '' END ||
                chr(10) || 'closing statement;' AS text
                FROM documents),
              c AS (SELECT doc_id, string_split(text, chr(10)) AS ls FROM docs)
              SELECT doc_id,
                CAST(len(ls) AS BIGINT) AS n_lines,
                CAST(len(list_filter(ls, l ->
                  regexp_matches(l, '^(    |\t)|[;{}]$'))) AS BIGINT) AS n_code_lines,
                CAST(len(list_filter(ls, l ->
                  regexp_matches(l, '^#{1,6} '))) AS BIGINT) AS n_heading_lines,
                CAST(len(list_filter(ls, l ->
                  regexp_matches(l, '^\|.*\|$'))) AS BIGINT) AS n_table_lines,
                CAST(len(list_filter(ls, l ->
                  regexp_matches(l, '^[-*] '))) AS BIGINT) AS n_list_lines,
                CAST(len(list_filter(ls, l ->
                  regexp_matches(l, '^(    |\t)|[;{}]$'))) AS DOUBLE)
                  / CAST(len(ls) AS DOUBLE) AS code_frac
              FROM c""")),

    // Out-of-vocabulary rate vs the corpus top-100 vocabulary
    // (QualityFilter.oovRate): every doc's tokens checked against the
    // (count desc, tok) top-100 table via one broadcast join — the
    // tokenizer-coverage audit. Injected rare tokens ('rare_<doc_id>')
    // guarantee nonzero OOV everywhere; the oracle re-derives the
    // vocabulary and the per-doc counts from scratch.
    QueryDef("q_x_oov_rate",
      (s, d) => {
        val withRare = t(s, d, "documents").select(col("doc_id"),
          concat(col("text"), lit(" rare_"), col("doc_id"),
            lit(" rare_"), col("doc_id")).as("text"))
        val vocab = TopK.perGroup(withRare
          .select(explode(tokens(col("text"))).as("tok"))
          .groupBy(col("tok")).agg(count(lit(1)).as("n")),
          Nil, Seq(col("n").desc, col("tok")), 100)
        graft.operators.QualityFilter.oovRate(withRare, vocab)
      },
      Some(s"""WITH docs AS (SELECT doc_id,
                 text || ' rare_' || CAST(doc_id AS VARCHAR)
                      || ' rare_' || CAST(doc_id AS VARCHAR) AS text
                 FROM documents),
               tk AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM docs),
               vocab AS (SELECT tok FROM (
                           SELECT tok, row_number() OVER
                             (ORDER BY count(*) DESC, tok) AS rank
                           FROM tk GROUP BY tok) WHERE rank <= 100)
               SELECT doc_id,
                 CAST(count(*) AS BIGINT) AS n_tokens,
                 CAST(coalesce(sum(CASE WHEN vocab.tok IS NULL THEN 1 END), 0)
                      AS BIGINT) AS n_oov,
                 CAST(coalesce(sum(CASE WHEN vocab.tok IS NULL THEN 1 END), 0)
                      AS DOUBLE) / CAST(count(*) AS DOUBLE) AS oov_rate
               FROM tk LEFT JOIN vocab USING (tok)
               GROUP BY doc_id""")),

    // Segment-level code-switch census (LangId.codeSwitchCensus): every doc
    // opens with an English sentence; non-English docs add one sentence in
    // their own language (strong marker trigrams), doc_id%3=0 docs a third
    // English one — so en docs census as monolingual and the rest as
    // code-switched, with the deterministic (count desc, lang) majority
    // tie-break exercised by the 1-1 splits. Oracle replays the segment
    // split, per-segment trigram scoring, argmax, and majority window.
    QueryDef("q_x_code_switch",
      (s, d) => {
        val langSent = when(col("lang") === "fr", lit("le jour de la vie est que belle"))
          .when(col("lang") === "es", lit("el cambio y los cantos del lado"))
          .when(col("lang") === "de", lit("der junge und die schule sind sich"))
          .when(col("lang") === "zh", lit("的是了在有"))
          .otherwise(lit("the other thing of the land"))
        val synth = concat(
          lit("the thing and the king are singing of the month. "),
          langSent, lit("."),
          when(col("doc_id") % 3 === 0, lit(" the closing thing of the story."))
            .otherwise(lit("")))
        graft.operators.LangId.codeSwitchCensus(
          t(s, d, "documents").select(col("doc_id"), synth.as("text")))
      },
      Some {
        val langs = graft.operators.LangId.profiles.map(_._1)
        val scores = graft.operators.LangId.profiles.map { case (l, marks) =>
          val inList = marks.map(m => "'" + m.replace("'", "''") + "'").mkString(", ")
          s"len(list_filter(tg, t -> t IN ($inList))) AS s_$l"
        }.mkString(",\n                     ")
        val pred = langs.init.zipWithIndex.map { case (l, i) =>
          val cond = langs.drop(i + 1).map(o => s"s_$l >= s_$o").mkString(" AND ")
          s"WHEN $cond THEN '$l'"
        }.mkString(" ")
        s"""WITH docs AS (SELECT doc_id,
              'the thing and the king are singing of the month. ' ||
              CASE lang WHEN 'fr' THEN 'le jour de la vie est que belle'
                        WHEN 'es' THEN 'el cambio y los cantos del lado'
                        WHEN 'de' THEN 'der junge und die schule sind sich'
                        WHEN 'zh' THEN '的是了在有'
                        ELSE 'the other thing of the land' END || '.' ||
              CASE WHEN doc_id % 3 = 0 THEN ' the closing thing of the story.'
                   ELSE '' END AS text
              FROM documents),
            segs AS (SELECT doc_id, seg FROM (
                       SELECT doc_id, unnest(string_split_regex(text, '[.!?]+ *')) AS seg
                       FROM docs)
                     WHERE trim(seg) <> ''),
            sc AS (SELECT doc_id, $scores
                   FROM (SELECT doc_id,
                           CASE WHEN length(seg) >= 3
                                THEN list_distinct(list_transform(
                                       generate_series(1, length(seg) - 2),
                                       i -> substr(seg, CAST(i AS INTEGER), 3)))
                                ELSE [] END AS tg
                         FROM segs)),
            pv AS (SELECT doc_id, CASE $pred ELSE '${langs.last}' END AS pred_lang
                   FROM sc),
            votes AS (SELECT doc_id, pred_lang, count(*) AS n_segs
                      FROM pv GROUP BY 1, 2),
            rk AS (SELECT doc_id, pred_lang, n_segs, row_number() OVER
                     (PARTITION BY doc_id ORDER BY n_segs DESC, pred_lang) AS r
                   FROM votes)
            SELECT doc_id,
              CAST(sum(n_segs) AS BIGINT) AS n_segments,
              CAST(count(*) AS BIGINT) AS n_langs,
              max(CASE WHEN r = 1 THEN pred_lang END) AS majority_lang,
              CAST(max(CASE WHEN r = 1 THEN n_segs END) AS DOUBLE)
                / CAST(sum(n_segs) AS DOUBLE) AS majority_frac,
              count(*) > 1 AS is_code_switched
            FROM rk GROUP BY doc_id"""
      }),

    // Flesch–Kincaid readability + TTR (QualityFilter.readability): the
    // synthetic doc wraps the corpus text in real sentences so the
    // punctuation-run sentence counter has work to do. Integer counts are
    // exact; the three float outputs are published-constant arithmetic on
    // one ratio each with pinned parenthesization (bit-identical IEEE).
    QueryDef("q_x_readability",
      (s, d) => graft.operators.QualityFilter.readability(
        t(s, d, "documents").select(col("doc_id"),
          concat(lit("Intro sentence for doc "), col("doc_id"), lit(". "),
            col("text"), lit(". Was it useful? Yes!")).as("text"))),
      Some("""WITH docs AS (SELECT doc_id,
                'Intro sentence for doc ' || CAST(doc_id AS VARCHAR) || '. ' ||
                text || '. Was it useful? Yes!' AS text FROM documents),
              w AS (SELECT doc_id, text,
                      string_split_regex(trim(text), '\s+') AS words FROM docs),
              c AS (SELECT doc_id,
                      greatest(1, len(regexp_extract_all(text, '[.!?]+'))) AS n_sentences,
                      len(words) AS n_words,
                      list_aggregate(list_transform(words, w2 ->
                        greatest(1, len(regexp_extract_all(lower(w2), '[aeiouy]+')))),
                        'sum') AS n_syllables,
                      len(list_distinct(list_transform(words, w2 -> lower(w2))))
                        AS n_distinct_words
                    FROM w)
              SELECT doc_id,
                CAST(n_sentences AS BIGINT) AS n_sentences,
                CAST(n_words AS BIGINT) AS n_words,
                CAST(n_syllables AS BIGINT) AS n_syllables,
                CAST(n_distinct_words AS BIGINT) AS n_distinct_words,
                CAST(n_distinct_words AS DOUBLE) / CAST(n_words AS DOUBLE) AS ttr,
                (CAST(0.39 AS DOUBLE)
                   * (CAST(n_words AS DOUBLE) / CAST(n_sentences AS DOUBLE))
                 + CAST(11.8 AS DOUBLE)
                   * (CAST(n_syllables AS DOUBLE) / CAST(n_words AS DOUBLE)))
                - CAST(15.59 AS DOUBLE) AS fk_grade,
                (CAST(206.835 AS DOUBLE)
                 - CAST(1.015 AS DOUBLE)
                   * (CAST(n_words AS DOUBLE) / CAST(n_sentences AS DOUBLE)))
                - CAST(84.6 AS DOUBLE)
                   * (CAST(n_syllables AS DOUBLE) / CAST(n_words AS DOUBLE))
                  AS reading_ease
              FROM c""")),

    // Luhn card-number redaction (TextClean.redactLuhn): every doc carries
    // a valid test card (redacted), a checksum-failing twin (kept), and a
    // doc_id-derived 15-digit run whose Luhn validity both engines compute
    // independently — the checksum fold itself is the cross-engine contract.
    QueryDef("q_x_luhn_redact",
      (s, d) => graft.operators.TextClean.redactLuhn(
          t(s, d, "documents").select(col("doc_id"),
            concat(col("text"), lit(" card 4111111111111111 ref 4111111111111112 order 9"),
              lpad(col("doc_id").cast("string"), 14, "0"), lit(" end")).as("text")))
        .select(col("doc_id"), col("n_digit_runs"), col("n_cc"), col("text_redacted")),
      Some("""WITH docs AS (SELECT doc_id,
                text || ' card 4111111111111111 ref 4111111111111112 order 9' ||
                lpad(CAST(doc_id AS VARCHAR), 14, '0') || ' end' AS text
                FROM documents),
              tk AS (SELECT doc_id, string_split(text, ' ') AS toks FROM docs)
              SELECT doc_id,
                CAST(len(list_filter(toks, t ->
                  regexp_matches(t, '^[0-9]{13,19}$'))) AS BIGINT) AS n_digit_runs,
                CAST(len(list_filter(toks, t ->
                  regexp_matches(t, '^[0-9]{13,19}$') AND
                  list_aggregate(list_transform(string_split(reverse(t), ''), (c, i) ->
                    CASE WHEN i % 2 = 1 THEN COALESCE(TRY_CAST(c AS INT), 0)
                         WHEN COALESCE(TRY_CAST(c AS INT), 0) * 2 > 9
                           THEN COALESCE(TRY_CAST(c AS INT), 0) * 2 - 9
                         ELSE COALESCE(TRY_CAST(c AS INT), 0) * 2 END),
                    'sum') % 10 = 0))
                  AS BIGINT) AS n_cc,
                array_to_string(list_transform(toks, t ->
                  CASE WHEN regexp_matches(t, '^[0-9]{13,19}$') AND
                    list_aggregate(list_transform(string_split(reverse(t), ''), (c, i) ->
                      CASE WHEN i % 2 = 1 THEN COALESCE(TRY_CAST(c AS INT), 0)
                           WHEN COALESCE(TRY_CAST(c AS INT), 0) * 2 > 9
                             THEN COALESCE(TRY_CAST(c AS INT), 0) * 2 - 9
                           ELSE COALESCE(TRY_CAST(c AS INT), 0) * 2 END),
                      'sum') % 10 = 0
                  THEN '<CC>' ELSE t END), ' ') AS text_redacted
              FROM tk""")),

    // HyperLogLog distinct-count sketch over the corpus TOKEN stream — the
    // vocabulary-cardinality census a mixing/dedup plan starts from, as a
    // constant-size reduction instead of a COUNT(DISTINCT) key shuffle.
    // Register table is exact integers on the portable hash; the oracle
    // replays register-by-register and the one pinned IEEE chain. Token
    // cardinality >> 2.5m exercises the RAW harmonic-mean branch.
    QueryDef("q_x_hll_tokens",
      (s, d) => graft.operators.Sketches.hllDistinct(
        t(s, d, "documents").select(explode(tokens(col("text"))).as("tok")),
        "tok", p = 10),
      Some(hllOracleSql(s"SELECT unnest($tokensSql) AS t FROM documents"))),

    // Same sketch on a SMALL-cardinality column (lang): exercises the
    // small-range LINEAR-COUNTING branch (raw ≤ 2.5m with empty registers),
    // whose logarithm is micro-nat quantized at the transcendental.
    QueryDef("q_x_hll_small",
      (s, d) => graft.operators.Sketches.hllDistinct(
        t(s, d, "documents").select(col("lang").as("t")), "t", p = 10),
      Some(hllOracleSql("SELECT lang AS t FROM documents")))
  )

  /** DuckDB replay of [[graft.operators.Sketches.hllDistinct]] (p = 10) over
    * a `t`-valued source subquery: identical register rule (trailing-zeros
    * rho on the 60-bit hash suffix), identical exact BIGINT numerator over
    * the common 2^51 denominator, and the identical pinned constant chain —
    * 2251799813685248.0 is 2^51 exactly. */
  private def hllOracleSql(src: String): String =
    s"""WITH v AS ($src),
        h AS (SELECT ${hash64Sql("t")} AS h FROM v WHERE t IS NOT NULL),
        r AS (SELECT h & 1023 AS j, h >> 10 AS v FROM h),
        rh AS (SELECT j, CASE WHEN v = 0 THEN 51
                 ELSE CAST(bit_count(~v & (v - 1)) AS BIGINT) + 1 END AS rho FROM r),
        reg AS (SELECT j, max(rho) AS m_reg FROM rh GROUP BY j),
        bym AS (SELECT m_reg, count(*) AS c FROM reg GROUP BY m_reg),
        agg AS (SELECT coalesce(CAST(sum(c) AS BIGINT), 0) AS n_occupied,
                       coalesce(CAST(max(m_reg) AS BIGINT), 0) AS m_max,
                       coalesce(CAST(sum(c * (CAST(1 AS BIGINT) << CAST(51 - m_reg AS INT)))
                         AS BIGINT), 0) AS occ_num FROM bym),
        fin AS (SELECT CAST(1024 AS BIGINT) AS m, n_occupied,
                       CAST(1024 - n_occupied AS BIGINT) AS n_zero, m_max,
                       CAST(occ_num + (1024 - n_occupied) * (CAST(1 AS BIGINT) << 51)
                         AS BIGINT) AS denom_num FROM agg),
        est AS (SELECT *, (0.7213 / (1 + 1.079 / 1024.0)) * (1024.0 * 1024.0)
                  * 2251799813685248.0 / CAST(denom_num AS DOUBLE) AS raw FROM fin)
        SELECT m, n_occupied, n_zero, m_max, denom_num,
          CASE WHEN raw <= 2560.0 AND n_zero > 0 THEN 'linear' ELSE 'raw' END AS branch,
          CASE WHEN raw <= 2560.0 AND n_zero > 0
               THEN CAST(m * CAST(round(ln(CAST(m AS DOUBLE) / CAST(n_zero AS DOUBLE))
                 * 1000000, 0) AS BIGINT) AS DOUBLE) / 1000000.0
               ELSE raw END AS estimate
        FROM est"""
}
