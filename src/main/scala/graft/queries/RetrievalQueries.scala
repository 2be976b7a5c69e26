package graft.queries

import org.apache.spark.sql.functions._
import Q._

/** Round-4 surface: range joins, inverted-index text retrieval, stratified
  * splits, and Z-order clustering — each as an oracle-gated query over the
  * driver tables (see the operator scaladocs for the 100 TB shapes).
  */
object RetrievalQueries {

  /** DuckDB twin of [[graft.operators.ZOrder.zValue]]'s bit-spreading
    * network (decimal literals of the Morton masks; pure `| & <<` BIGINT
    * arithmetic — identical on both engines). */
  private def spreadSql(e: String): String = {
    val rounds = Seq(
      (16, 281470681808895L),      // 0x0000FFFF0000FFFF
      (8, 71777214294589695L),     // 0x00FF00FF00FF00FF
      (4, 1085102592571150095L),   // 0x0F0F0F0F0F0F0F0F
      (2, 3689348814741910323L),   // 0x3333333333333333
      (1, 6148914691236517205L))   // 0x5555555555555555
    rounds.foldLeft(s"CAST($e AS BIGINT)") { case (acc, (sh, mask)) =>
      s"((($acc) | (($acc) << $sh)) & $mask)"
    }
  }

  private val searchTerms = Seq("vector", "merge", "window", "spark")
  private val searchTermsSql = searchTerms.map(t => s"'$t'").mkString(", ")

  /** Shared by the inline, stored-index, and incrementally-built-index
    * search gates: the retrieval result must be identical no matter how the
    * index was materialized. */
  private val searchOracleSql: String =
    s"""WITH tok AS (SELECT doc_id, unnest($tokensSql) AS term FROM documents),
        p AS (SELECT term, doc_id, count(*) AS tf FROM tok
              WHERE term <> '' GROUP BY 1, 2),
        dfs AS (SELECT term, count(*) AS df FROM p GROUP BY 1),
        m AS (SELECT doc_id, count(*) AS n_terms,
                     sum(tf * (1000000 // df)) AS score
              FROM p JOIN dfs USING (term)
              WHERE term IN ($searchTermsSql) GROUP BY 1)
        SELECT doc_id, CAST(n_terms AS BIGINT) AS n_terms,
               CAST(score AS BIGINT) AS score, CAST(rank AS BIGINT) AS rank
        FROM (SELECT m.*, row_number() OVER (ORDER BY score DESC, doc_id) AS rank
              FROM m)
        WHERE rank <= 10"""

  /** Shared persisted postings frame — SEVEN gates (text_search, ndcg,
    * retrieval_eval, search_hybrid, search_rrf, search_per_lang,
    * bm25_exact) consume the identical tokenize + (term, doc) count build;
    * before this cache each replayed the corpus explode (the r8 verdict
    * flagged q_x_search_rrf paying ~1 s to re-derive what search_hybrid
    * had just built). The stored-index gates (indexed/incremental) are
    * deliberately NOT routed through it: they prove the catalog path. */
  private val postingsFrames = new java.util.concurrent.ConcurrentHashMap[
    (org.apache.spark.sql.SparkSession, String), org.apache.spark.sql.DataFrame]()

  private def sharedPostings(s: org.apache.spark.sql.SparkSession, d: String)
      : org.apache.spark.sql.DataFrame = {
    postingsFrames.keySet.removeIf(_._1.sparkContext.isStopped)
    Q.cached(postingsFrames.computeIfAbsent((s, d), _ =>
      graft.operators.TextIndex.postings(t(s, d, "documents"), "doc_id", "text")))
  }

  /** Per-(session, sfDir) roots for the stored postings indexes —
    * write-once-read-many, like the IVF / LSH band indexes. */
  private val textIndexRoots =
    new java.util.concurrent.ConcurrentHashMap[(org.apache.spark.sql.SparkSession, String), String]()

  /** Per-(session, sfDir) roots for the stored POSITIONAL index. */
  private val posIndexRoots =
    new java.util.concurrent.ConcurrentHashMap[(org.apache.spark.sql.SparkSession, String), String]()

  lazy val all: Seq[QueryDef] = Seq(

    // Point-in-interval range join as a bucketed equi-join: each supplier
    // claims the price band [40·acctbal, 40·acctbal + 25000]; count orders
    // whose total price falls inside. The oracle writes the bare BETWEEN
    // join (DuckDB plans an IEJoin); the engine must produce the identical
    // aggregate from the bucket-blocked plan — no NestedLoopJoin at any
    // scale. Width = the band span, so each interval explodes to ≤ 2 buckets.
    QueryDef("q_x_range_join",
      (s, d) => {
        val intervals = t(s, d, "supplier").select(col("s_suppkey"),
          (col("s_acctbal") * 40).as("lo"),
          (col("s_acctbal") * 40 + 25000).as("hi"))
        graft.operators.RangeJoin.pointInInterval(
            t(s, d, "orders").select(col("o_totalprice")), "o_totalprice",
            intervals, "lo", "hi", bucketWidth = 25000.0)
          .groupBy("s_suppkey")
          .agg(count(lit(1)).as("n_orders"),
            sum(cents(col("o_totalprice"))).as("sum_cents"))
      },
      Some(s"""SELECT s_suppkey, count(*) AS n_orders,
               CAST(sum(${centsSql("o_totalprice")}) AS BIGINT) AS sum_cents
               FROM supplier JOIN orders
                 ON o_totalprice >= s_acctbal*40 AND o_totalprice <= s_acctbal*40 + 25000
               GROUP BY 1""")),

    // Interval-overlap join, first-shared-bucket dedup: customer balance
    // windows vs supplier balance windows (span 500, width 500) — how many
    // customers sit within ±500 of each supplier's balance.
    QueryDef("q_x_interval_overlap",
      (s, d) => {
        val cust = t(s, d, "customer").select(col("c_custkey"),
          (col("c_acctbal") - 500).as("c_lo"), (col("c_acctbal") + 500).as("c_hi"))
        val supp = t(s, d, "supplier").select(col("s_suppkey"),
          col("s_acctbal").as("s_lo"), (col("s_acctbal") + 500).as("s_hi"))
        graft.operators.RangeJoin.intervalOverlap(
            cust, "c_lo", "c_hi", supp, "s_lo", "s_hi", bucketWidth = 500.0)
          .groupBy("s_suppkey").agg(count(lit(1)).as("n_customers"))
      },
      Some("""SELECT s_suppkey, count(*) AS n_customers
              FROM (SELECT c_custkey, c_acctbal - 500 AS c_lo, c_acctbal + 500 AS c_hi
                    FROM customer) c
              JOIN (SELECT s_suppkey, s_acctbal AS s_lo, s_acctbal + 500 AS s_hi
                    FROM supplier) s
                ON c.c_lo <= s.s_hi AND s.s_lo <= c.c_hi
              GROUP BY 1""")),

    // Exact phrase search over POSITIONAL postings: the 3-term phrase
    // matches where term_i sits at anchor+i — two (doc, anchor)
    // equi-joins, each side pre-filtered to one term's postings (bounded
    // by the rarest term's list). The "exact quote" lookup of
    // contamination forensics; the oracle scans every window directly.
    QueryDef("q_x_phrase_search",
      (s, d) => graft.operators.TextIndex.phraseSearch(
        graft.operators.TextIndex.positionalPostings(
          t(s, d, "documents"), "doc_id", "text"),
        Seq("slow", "hash", "batch")),
      Some(s"""WITH tk AS (SELECT doc_id, $tokensSql AS toks FROM documents),
               m AS (SELECT doc_id,
                       len(list_filter(generate_series(1, greatest(len(toks) - 2, 0)),
                         i -> toks[i] = 'slow' AND toks[i+1] = 'hash'
                              AND toks[i+2] = 'batch')) AS n
                     FROM tk)
               SELECT doc_id, CAST(n AS BIGINT) AS n_occurrences
               FROM m WHERE n > 0""")),

    // NDCG@10 of the weighted-term ranking against graded gold relevance
    // (rel = tf of 'vector') — the retrieval-eval metric. Discount
    // weights 1/log2(rank+1) are micro-quantized ONCE on the driver and
    // baked into BOTH plans as integer literals, so no engine evaluates a
    // transcendental; DCG/IDCG are exact integer sums, NDCG one IEEE
    // division.
    QueryDef("q_x_ndcg",
      (s, d) => {
        val post = sharedPostings(s, d)
        val ranked = graft.operators.TextIndex.searchWeighted(post, searchTerms, 10)
          .select(col("doc_id").as("nid"), col("rank"))
        val gold = post.filter(col("term") === "vector")
          .select(col("doc_id").as("nid"), col("tf").as("rel"))
        graft.operators.TextIndex.ndcgAtK(ranked, gold, 10)
      },
      Some {
        val wl = graft.operators.TextIndex.dcgWeightsMicro(10)
          .map(_._2).mkString("[", ", ", "]")
        s"""WITH tok AS (SELECT doc_id, unnest($tokensSql) AS term FROM documents),
            p AS (SELECT term, doc_id, count(*) AS tf FROM tok
                  WHERE term <> '' GROUP BY 1, 2),
            dfs AS (SELECT term, count(*) AS df FROM p GROUP BY 1),
            m AS (SELECT doc_id, sum(tf * (1000000 // df)) AS score
                  FROM p JOIN dfs USING (term)
                  WHERE term IN ($searchTermsSql) GROUP BY 1),
            r AS (SELECT doc_id, rank FROM
                    (SELECT doc_id, row_number() OVER
                       (ORDER BY score DESC, doc_id) AS rank FROM m)
                  WHERE rank <= 10),
            g AS (SELECT doc_id, tf AS rel FROM p WHERE term = 'vector'),
            dcg AS (SELECT CAST(COALESCE(sum(COALESCE(g.rel, 0) * ($wl)[r.rank]), 0)
                      AS BIGINT) AS dcg_micro
                    FROM r LEFT JOIN g USING (doc_id)),
            ig AS (SELECT rel, row_number() OVER (ORDER BY rel DESC, doc_id) AS irank
                   FROM g WHERE rel > 0),
            idcg AS (SELECT CAST(COALESCE(sum(rel * ($wl)[irank]), 0) AS BIGINT)
                       AS idcg_micro
                     FROM ig WHERE irank <= 10)
            SELECT dcg_micro, idcg_micro,
                   CASE WHEN idcg_micro > 0
                     THEN CAST(dcg_micro AS DOUBLE) / CAST(idcg_micro AS DOUBLE)
                   END AS ndcg
            FROM dcg, idcg"""
      }),

    // The rest of the retrieval-eval battery beside q_x_ndcg: per-language
    // MRR / recall@10 / precision@10 of the weighted-score ranking against
    // the same tf-of-'vector' gold labels, one row per query group.
    // Reciprocal ranks are integer-quantized at the source (1e6 div rank),
    // counts exact, each ratio one IEEE division — hash-exact end to end.
    QueryDef("q_x_retrieval_eval",
      (s, d) => {
        val post = sharedPostings(s, d)
        val groups = t(s, d, "documents").select(col("doc_id"), col("lang"))
        val ranked = graft.operators.TextIndex.searchWeightedPerGroup(
            post, groups, "lang", searchTerms, kPerGroup = 10)
          .select(col("lang"), col("doc_id").as("nid"), col("rank"))
        val gold = post.filter(col("term") === "vector")
          .join(groups, "doc_id")
          .select(col("lang"), col("doc_id").as("nid"), col("tf").as("rel"))
        graft.operators.TextIndex.retrievalMetricsPerGroup(
          ranked, gold, "lang", 10)
      },
      Some(s"""WITH tok AS (SELECT doc_id, unnest($tokensSql) AS term FROM documents),
               p AS (SELECT term, doc_id, count(*) AS tf FROM tok
                     WHERE term <> '' GROUP BY 1, 2),
               dfs AS (SELECT term, count(*) AS df FROM p GROUP BY 1),
               m AS (SELECT doc_id, sum(tf * (1000000 // df)) AS score
                     FROM p JOIN dfs USING (term)
                     WHERE term IN ($searchTermsSql) GROUP BY 1),
               r AS (SELECT lang, doc_id, rank FROM
                       (SELECT m.doc_id, d.lang, row_number() OVER
                          (PARTITION BY d.lang ORDER BY score DESC, m.doc_id)
                          AS rank
                        FROM m JOIN documents d USING (doc_id))
                     WHERE rank <= 10),
               g AS (SELECT d.lang, p.doc_id, p.tf AS rel
                     FROM p JOIN documents d USING (doc_id)
                     WHERE p.term = 'vector' AND p.tf > 0),
               nrel AS (SELECT lang, count(*) AS n_rel FROM g GROUP BY 1),
               h AS (SELECT r.lang, count(*) AS n_hits,
                       min(r.rank) AS first_rel_rank
                     FROM r JOIN g ON r.lang = g.lang AND r.doc_id = g.doc_id
                     GROUP BY 1),
               langs AS (SELECT lang FROM r UNION SELECT lang FROM g)
               SELECT l.lang, COALESCE(n_rel, 0) AS n_rel,
                 COALESCE(n_hits, 0) AS n_hits, first_rel_rank,
                 COALESCE(1000000 // first_rel_rank, 0) AS rr_micro,
                 CASE WHEN COALESCE(n_rel, 0) > 0
                   THEN CAST(COALESCE(n_hits, 0) AS DOUBLE) / n_rel
                 END AS recall_at_k,
                 CAST(COALESCE(n_hits, 0) AS DOUBLE) / 10 AS precision_at_k
               FROM langs l LEFT JOIN nrel USING (lang)
                    LEFT JOIN h USING (lang)""")),

    // Phrase search through a PERSISTED positional index: positional
    // postings written once term-sorted (term-range file pruning, the
    // posting-list-seek analogue), the same phrase query reads the stored
    // table. Same oracle as q_x_phrase_search — the stored layout must
    // not change one count.
    QueryDef("q_x_phrase_search_indexed",
      (s, d) => {
        val cat = new graft.catalog.Catalog(s,
          tempRoot(posIndexRoots, s, d, "graft-pos-index"))
        if (!cat.exists("pos_postings"))
          cat.writeSorted("pos_postings",
            graft.operators.TextIndex.positionalPostings(
              t(s, d, "documents"), "doc_id", "text"),
            8, "term")
        graft.operators.TextIndex.phraseSearch(cat.read("pos_postings"),
          Seq("slow", "hash", "batch"))
      },
      Some(s"""WITH tk AS (SELECT doc_id, $tokensSql AS toks FROM documents),
               m AS (SELECT doc_id,
                       len(list_filter(generate_series(1, greatest(len(toks) - 2, 0)),
                         i -> toks[i] = 'slow' AND toks[i+1] = 'hash'
                              AND toks[i+2] = 'batch')) AS n
                     FROM tk)
               SELECT doc_id, CAST(n AS BIGINT) AS n_occurrences
               FROM m WHERE n > 0""")),

    // Inverted-index search, integer-exact scoring: top-10 documents for a
    // 4-term query by sum(tf · (10^6 div df)) — rare terms dominate. The
    // engine path touches only the query terms' postings; the oracle
    // recomputes the whole index inline.
    QueryDef("q_x_text_search",
      (s, d) => graft.operators.TextIndex.searchWeighted(
        sharedPostings(s, d), searchTerms, k = 10),
      Some(searchOracleSql)),

    // Search through the PERSISTED index: postings written once via
    // Catalog.writeSorted(..., "term") — term-range file layout, so a term
    // lookup prunes to a few parquet files by min/max stats (the batch
    // analogue of a posting-list seek) — then the same top-10 query reads
    // the stored table. Same oracle: the stored index must not change one
    // rank.
    QueryDef("q_x_text_search_indexed",
      (s, d) => {
        val cat = new graft.catalog.Catalog(s,
          tempRoot(textIndexRoots, s, d, "graft-text-index"))
        if (!cat.exists("postings"))
          cat.writeSorted("postings",
            graft.operators.TextIndex.postings(t(s, d, "documents"), "doc_id", "text"),
            8, "term")
        graft.operators.TextIndex.searchWeighted(cat.read("postings"), searchTerms, k = 10)
      },
      Some(searchOracleSql)),

    // Hybrid retrieval (the RAG shape): lexical recall (top-50 by the
    // integer-weighted term score) re-ranked by exact embedding cosine
    // against a query vector (vec_id 0's embedding) — top-5 by similarity.
    // The candidate list broadcasts against the embedding table; the corpus
    // never sees a full similarity pass.
    QueryDef("q_x_search_hybrid",
      (s, d) => {
        val emb = t(s, d, "embeddings")
        val qv = emb.filter(col("vec_id") === 0)
          .select("embedding").head().getSeq[Float](0)
        graft.operators.TextIndex.searchHybrid(
          sharedPostings(s, d), emb, searchTerms, qv, recallK = 50, k = 5)
      },
      Some(s"""WITH tok AS (SELECT doc_id, unnest($tokensSql) AS term FROM documents),
               p AS (SELECT term, doc_id, count(*) AS tf FROM tok
                     WHERE term <> '' GROUP BY 1, 2),
               dfs AS (SELECT term, count(*) AS df FROM p GROUP BY 1),
               m AS (SELECT doc_id, sum(tf * (1000000 // df)) AS score
                     FROM p JOIN dfs USING (term)
                     WHERE term IN ($searchTermsSql) GROUP BY 1),
               r AS (SELECT doc_id, CAST(score AS BIGINT) AS score FROM (
                       SELECT m.*, row_number() OVER (ORDER BY score DESC, doc_id) AS rnk
                       FROM m) WHERE rnk <= 50),
               e AS (SELECT vec_id, list_transform(embedding,
                       x -> CAST(round(CAST(x AS DOUBLE) * 10000, 0) AS DOUBLE)) AS q
                     FROM embeddings WHERE embedding IS NOT NULL),
               qv AS (SELECT q FROM e WHERE vec_id = 0),
               scored AS (SELECT r.doc_id, r.score,
                          list_dot_product(e.q, (SELECT q FROM qv)) /
                          sqrt(list_dot_product(e.q, e.q) *
                               (SELECT list_dot_product(q, q) FROM qv)) AS sim
                          FROM r JOIN e ON e.vec_id = r.doc_id)
               SELECT doc_id, score, sim, CAST(rank AS BIGINT) AS rank FROM (
                 SELECT scored.*, row_number() OVER (ORDER BY sim DESC, doc_id) AS rank
                 FROM scored) WHERE rank <= 5""")),

    // Reciprocal-rank fusion of the lexical and vector top-50 lists
    // (Σ 1/(60+rank) — no score calibration, ranks only): the OTHER
    // standard hybrid shape next to recall-then-rerank. Lexical side
    // touches only the query terms' postings; vector side is one corpus
    // scan cut to its top 50; fusion joins two ≤50-row frames.
    QueryDef("q_x_search_rrf",
      (s, d) => {
        val emb = t(s, d, "embeddings")
        val qv = emb.filter(col("vec_id") === 0)
          .select("embedding").head().getSeq[Float](0)
        graft.operators.TextIndex.searchRrf(
          sharedPostings(s, d), emb, searchTerms, qv, recallK = 50, k = 5)
      },
      Some(s"""WITH tok AS (SELECT doc_id, unnest($tokensSql) AS term FROM documents),
               p AS (SELECT term, doc_id, count(*) AS tf FROM tok
                     WHERE term <> '' GROUP BY 1, 2),
               dfs AS (SELECT term, count(*) AS df FROM p GROUP BY 1),
               m AS (SELECT doc_id, sum(tf * (1000000 // df)) AS score
                     FROM p JOIN dfs USING (term)
                     WHERE term IN ($searchTermsSql) GROUP BY 1),
               r AS (SELECT doc_id, CAST(rnk AS BIGINT) AS rank_lex FROM (
                       SELECT m.*, row_number() OVER (ORDER BY score DESC, doc_id) AS rnk
                       FROM m) WHERE rnk <= 50),
               e AS (SELECT vec_id, list_transform(embedding,
                       x -> CAST(round(CAST(x AS DOUBLE) * 10000, 0) AS DOUBLE)) AS q
                     FROM embeddings WHERE embedding IS NOT NULL),
               qv AS (SELECT q FROM e WHERE vec_id = 0),
               sims AS (SELECT vec_id AS doc_id,
                        list_dot_product(q, (SELECT q FROM qv)) /
                        sqrt(list_dot_product(q, q) *
                             (SELECT list_dot_product(q, q) FROM qv)) AS sim FROM e),
               tv AS (SELECT doc_id, CAST(rnk AS BIGINT) AS rank_vec FROM (
                        SELECT doc_id, row_number() OVER (ORDER BY sim DESC, doc_id) AS rnk
                        FROM sims) WHERE rnk <= 50),
               f AS (SELECT coalesce(r.doc_id, tv.doc_id) AS doc_id, rank_lex, rank_vec,
                     coalesce(CAST(1 AS DOUBLE) / (60 + rank_lex), 0) +
                     coalesce(CAST(1 AS DOUBLE) / (60 + rank_vec), 0) AS rrf
                     FROM r FULL OUTER JOIN tv ON r.doc_id = tv.doc_id)
               SELECT doc_id, rank_lex, rank_vec, rrf, CAST(rank AS BIGINT) AS rank FROM (
                 SELECT f.*, row_number() OVER (ORDER BY rrf DESC, doc_id) AS rank FROM f)
               WHERE rank <= 5""")),

    // INCREMENTAL index maintenance: bootstrap the postings table from half
    // the corpus, append the other half's postings as a file-level O(batch)
    // catalog append (doc-disjoint batches → (term, doc) rows are disjoint,
    // so postings compose by union) — then search the chained table. Same
    // oracle again: an index grown batch-by-batch retrieves exactly what a
    // from-scratch build does, which is what lets a recurring crawl keep
    // ONE living index instead of re-tokenizing the corpus per batch.
    QueryDef("q_x_text_index_incremental",
      (s, d) => {
        val cat = new graft.catalog.Catalog(s,
          tempRoot(textIndexRoots, s, d + "#incr", "graft-text-incr"))
        if (!cat.exists("postings")) {
          val docs = t(s, d, "documents")
          cat.write("postings", graft.operators.TextIndex.postings(
            docs.filter(col("doc_id") % 2 === 0), "doc_id", "text"))
          cat.append("postings", graft.operators.TextIndex.postings(
            docs.filter(col("doc_id") % 2 === 1), "doc_id", "text"))
        }
        graft.operators.TextIndex.searchWeighted(cat.read("postings"), searchTerms, k = 10)
      },
      Some(searchOracleSql)),

    // Per-group retrieval: the same scoring ranked WITHIN each language —
    // top-3 hits per lang, so no dominant group monopolizes the result set
    // (the quota-mixing form of search).
    QueryDef("q_x_search_per_lang",
      (s, d) => graft.operators.TextIndex.searchWeightedPerGroup(
        sharedPostings(s, d),
        t(s, d, "documents").select(col("doc_id"), col("lang")), "lang",
        searchTerms, kPerGroup = 3),
      Some(s"""WITH tok AS (SELECT doc_id, unnest($tokensSql) AS term FROM documents),
               p AS (SELECT term, doc_id, count(*) AS tf FROM tok
                     WHERE term <> '' GROUP BY 1, 2),
               dfs AS (SELECT term, count(*) AS df FROM p GROUP BY 1),
               m AS (SELECT doc_id, count(*) AS n_terms,
                            sum(tf * (1000000 // df)) AS score
                     FROM p JOIN dfs USING (term)
                     WHERE term IN ($searchTermsSql) GROUP BY 1)
               SELECT doc_id, CAST(n_terms AS BIGINT) AS n_terms,
                      CAST(score AS BIGINT) AS score, lang, CAST(rank AS BIGINT) AS rank
               FROM (SELECT m.*, d.lang,
                            row_number() OVER (PARTITION BY d.lang
                              ORDER BY score DESC, doc_id) AS rank
                     FROM m JOIN documents d USING (doc_id))
               WHERE rank <= 3""")),

    // BM25 with micro-quantized per-(term,doc) contributions — the
    // hash-exact gate form of Okapi BM25: idf's ln is quantized to an
    // integer at the one point a transcendental enters, the per-doc score
    // becomes an exact BIGINT sum, and the whole top-10 IS oracle-checked.
    // A float-summed BM25 cannot be a gate query: libm ln and float
    // summation order differ across engines in the last ulp, which a hash
    // compare cannot tolerate.
    QueryDef("q_x_bm25_exact",
      (s, d) => graft.operators.TextIndex.searchBM25Micro(
        sharedPostings(s, d), searchTerms, k = 10, k1 = 1.2, b = 0.75),
      Some {
        val (k1, b) = (1.2, 0.75)
        s"""WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term
                         FROM documents),
            post AS (SELECT term, doc_id, count(*) AS tf FROM tok
                     WHERE term <> '' GROUP BY 1, 2),
            lens AS (SELECT doc_id, CAST(sum(tf) AS BIGINT) AS dl FROM post GROUP BY 1),
            st AS (SELECT count(*) AS n, CAST(sum(dl) AS BIGINT) AS sdl FROM lens),
            m AS (SELECT * FROM post WHERE term IN ($searchTermsSql)),
            dfs AS (SELECT term, count(*) AS df FROM m GROUP BY 1),
            sc AS (SELECT m.doc_id, count(*) AS n_terms,
                     CAST(sum(CAST(round(
                       ln(1.0 + ((CAST(st.n AS DOUBLE) - df) + 0.5) / (df + 0.5))
                       * ((tf * ${k1 + 1}) /
                          (tf + $k1 * (${1 - b} + $b * dl / (CAST(st.sdl AS DOUBLE) / st.n))))
                       * 1000000.0, 0) AS BIGINT)) AS BIGINT) AS score_micro
                   FROM m JOIN dfs USING (term) JOIN lens USING (doc_id), st
                   GROUP BY 1)
            SELECT doc_id, n_terms, score_micro, rank
            FROM (SELECT *, CAST(row_number() OVER
                    (ORDER BY score_micro DESC, doc_id) AS BIGINT) AS rank
                  FROM sc)
            WHERE rank <= 10"""
      }),

    // Feature hashing: fixed-256-dim sparse term-count vectors in long form
    // — the no-vocabulary text→vector bridge. Exact integer counts on a
    // portable hash, so the whole vector set is hash-equal across engines.
    QueryDef("q_x_hash_features",
      (s, d) => graft.operators.TextIndex.hashFeatures(
        t(s, d, "documents"), "doc_id", "text", dim = 256),
      Some(s"""SELECT doc_id, ${hash64Sql("term")} % 256 AS pos, count(*) AS cnt
               FROM (SELECT doc_id, unnest($tokensSql) AS term FROM documents)
               WHERE term <> '' GROUP BY 1, 2""")),

    // Top-5 TF-IDF keywords per document: idf micro-nat quantized at the
    // source so scores are exact integers tf·idf_micro and the per-doc
    // ranking replays bit-identically; window partitions are doc-sized.
    QueryDef("q_x_tfidf_topk",
      (s, d) => graft.operators.TextIndex.tfIdfTopK(t(s, d, "documents"), k = 5,
        prebuilt = Some(sharedPostings(s, d))),
      Some(s"""WITH post AS (SELECT doc_id, term, count(*) AS tf
                 FROM (SELECT doc_id, unnest($tokensSql) AS term FROM documents)
                 WHERE term <> '' GROUP BY 1, 2),
               dfreq AS (SELECT term, count(*) AS df FROM post GROUP BY 1),
               nn AS (SELECT count(*) AS n_docs FROM documents),
               sc AS (SELECT doc_id, term, tf, df,
                        CAST(round(ln(CAST(n_docs AS DOUBLE) / df) * 1000000, 0)
                          AS BIGINT) AS idf_micro
                      FROM post JOIN dfreq USING (term), nn)
               SELECT doc_id, term, tf, df, idf_micro, score_micro, rank
               FROM (SELECT *, tf * idf_micro AS score_micro,
                       CAST(row_number() OVER (PARTITION BY doc_id
                         ORDER BY tf * idf_micro DESC, term) AS BIGINT) AS rank
                     FROM sc)
               WHERE rank <= 5""")),

    // Stratified train/val/test split: 80/10/10 by identity hash, counted
    // per (lang, split) — the oracle re-derives the same split from the
    // portable hash, proving the split is engine-reproducible, and the
    // per-language counts exhibit the stratum uniformity the operator
    // promises (no per-stratum pass needed).
    QueryDef("q_x_split_stratified",
      (s, d) => graft.operators.Sampling.stratifiedSplit(
          t(s, d, "documents"), "doc_id", trainPct = 80, valPct = 10)
        .groupBy("lang", "split").agg(count(lit(1)).as("n")),
      Some(s"""SELECT lang, split, count(*) AS n
               FROM (SELECT lang,
                       CASE WHEN h < 80 THEN 'train'
                            WHEN h < 90 THEN 'val'
                            ELSE 'test' END AS split
                     FROM (SELECT lang,
                             ${hash64Sql("(CAST(doc_id AS VARCHAR) || '|split')")} % 100 AS h
                           FROM documents))
               GROUP BY 1, 2""")),

    // Deterministic 5-fold CV assignment: fold = salted identity hash mod 5,
    // stamped per document AND censused per (lang, fold) — the oracle
    // re-derives every fold from the portable hash, proving assignments
    // survive engine migration; the census shows hash-uniformity.
    QueryDef("q_x_kfold",
      (s, d) => graft.operators.Sampling.kFoldAssign(
          t(s, d, "documents"), "doc_id", k = 5)
        .groupBy("lang", "fold").agg(count(lit(1)).as("n")),
      Some(s"""SELECT lang,
                 ${hash64Sql("(CAST(doc_id AS VARCHAR) || '|fold')")} % 5 AS fold,
                 count(*) AS n
               FROM documents GROUP BY 1, 2""")),

    // Gap-fill resampling: every user's event stream projected onto a daily
    // grid with the latest event forward-filled — grid explode + the NATIVE
    // as-of join, oracled against DuckDB's own ASOF JOIN (no (user, ts)
    // ties in the data, probed — both engines' as-of semantics coincide).
    QueryDef("q_x_gapfill",
      (s, d) => graft.operators.Resample.gapFillForward(
          Q.events(s, d).select(col("user_id"), col("ts_us"), col("event_id"), col("value")),
          "user_id", "ts_us", "event_id", "value", step = 86400000000L)
        .select(col("user_id"), col("ts_us"),
          col("matched_event_id"), col("matched_value")),
      Some("""WITH e AS (SELECT user_id, epoch_us(ts) AS ts_us, event_id, value
                         FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL),
              b AS (SELECT user_id,
                           (min(ts_us) + 86400000000 - 1) // 86400000000 AS k0,
                           max(ts_us) // 86400000000 AS k1
                    FROM e GROUP BY 1),
              g AS (SELECT user_id, unnest(generate_series(k0, k1)) * 86400000000 AS ts_us
                    FROM b WHERE k0 <= k1)
              SELECT g.user_id, g.ts_us,
                     e.event_id AS matched_event_id, e.value AS matched_value
              FROM g ASOF JOIN e ON g.user_id = e.user_id AND e.ts_us <= g.ts_us""")),

    // Z-order clustering: the Morton code of (custkey, order epoch-day) per
    // order — the sort key a 2-D-queried 100 TB fact table would be written
    // in. The oracle replays the identical bit-spreading network in SQL, so
    // the clustering layout itself is proven engine-exact; the file-pruning
    // payoff is measured in ZOrderSpec.
    QueryDef("q_x_zorder",
      (s, d) => t(s, d, "orders").select(col("o_orderkey"),
        graft.operators.ZOrder.zValue(
          col("o_custkey"),
          datediff(col("o_orderdate").cast("date"), lit("1970-01-01"))).as("zval")),
      Some {
        val day = "date_diff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE))"
        s"""SELECT o_orderkey,
            (${spreadSql("o_custkey")} | (${spreadSql(day)} << 1)) AS zval
            FROM orders"""
      })
  )
}
