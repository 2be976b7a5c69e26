package graft.queries

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import Q._

/** Similarity search over the `embeddings` table (64-dim float vectors).
  *
  * Cross-engine exactness strategy: floats are quantized to integers
  * (round(x*10000)) before any arithmetic, so dot products and norms are
  * EXACT integers (well under 2^53) on both engines; the final cosine is one
  * IEEE divide/sqrt over identical inputs → bitwise-identical doubles, which
  * makes top-k ranks and thresholds deterministic.
  *
  * Scale design:
  *  - [[q_x_embed_topk]] is the brute-force baseline: broadcast the (small)
  *    query set against the full corpus — one scan, no shuffle, O(Q·N) work
  *    fanned across executors.
  *  - [[q_x_dedup_embed]] is the scale path: random-hyperplane LSH buckets
  *    (deterministic planes derived from md5) turn all-pairs similarity into
  *    an equi-join on bucket id — O(Σ bucket²) ≪ O(N²). The same shape backs
  *    an IVF-style ANN: probe the query's bucket instead of the corpus.
  */
object VectorQueries {

  /** The oracle embeds the SAME hyperplane constants the Spark operator uses
    * ([[graft.operators.VectorSearch.planes]]) as list literals. */
  private val numPlanes = 8
  private val planes: Array[Array[Long]] = graft.operators.VectorSearch.planes(numPlanes, 64)

  /** Per-(session, sfDir) fitted k-means model — trained once, probed many,
    * like a production coarse quantizer (the first gate touching it pays
    * the fit; q_x_kmeans and q_x_ann_kmeans share it). */
  private val kmeansModels = new Memo[graft.operators.KMeans.Model]

  private def kmeansModel(s: SparkSession, d: String): graft.operators.KMeans.Model =
    kmeansModels(s, d)(graft.operators.KMeans.fit(t(s, d, "embeddings"), k = 8, iters = 2))

  /** Oracle shared by the inline and stored-index ANN probes (vec_id < 20
    * queried against the full corpus — the index must change nothing). */
  private lazy val ivfOracleSql: String = {
    val planeList = planes.map(p => s"[${p.map(_.toDouble).mkString(", ")}]")
    val bucketSql = (0 until numPlanes).map { p =>
      s"(CASE WHEN list_dot_product(q, ${planeList(p)}) >= 0 THEN ${1L << p} ELSE 0 END)"
    }.mkString(" + ")
    s"""WITH e AS (SELECT vec_id, $quantSql AS q FROM embeddings),
        n AS (SELECT vec_id, q, list_dot_product(q, q) AS nn, $bucketSql AS bucket FROM e),
        p AS (SELECT a.vec_id AS qid, b.vec_id AS nid,
              list_dot_product(a.q, b.q) / sqrt(a.nn * b.nn) AS sim
              FROM n a JOIN n b ON a.bucket = b.bucket
              AND a.vec_id < 20 AND b.vec_id <> a.vec_id)
        SELECT qid, nid, sim, rank FROM (
          SELECT qid, nid, sim,
                 row_number() OVER (PARTITION BY qid ORDER BY sim DESC, nid) AS rank
          FROM p) WHERE rank <= 3"""
  }

  /** DuckDB-side quantization (int-valued doubles — exact for dot products). */
  private val quantSql = "list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * 10000, 0) AS DOUBLE))"

  /** Oracle for the INT8-compressed stored IVF index: corpus side re-derives
    * the int8 codes (max-abs symmetric, floor(x·127/mx + 0.5)) and ranks on
    * them directly — cosine is scale-invariant, so the reconstruction scale
    * cancels and every rank is exact integer dot/norms + one IEEE divide. */
  private lazy val int8IvfOracleSql: String = {
    val planeList = planes.map(p => s"[${p.map(_.toDouble).mkString(", ")}]")
    val bucketSql = (0 until numPlanes).map { p =>
      s"(CASE WHEN list_dot_product(q, ${planeList(p)}) >= 0 THEN ${1L << p} ELSE 0 END)"
    }.mkString(" + ")
    s"""WITH e AS (SELECT vec_id, $quantSql AS q FROM embeddings),
        n AS (SELECT vec_id, q, list_dot_product(q, q) AS nn, $bucketSql AS bucket FROM e),
        i8 AS (SELECT vec_id, bucket,
                 list_transform(q, x -> CASE WHEN mx = 0 THEN CAST(0 AS DOUBLE)
                   ELSE floor(x * 127.0 / mx + 0.5) END) AS v8
               FROM (SELECT vec_id, bucket, q,
                       list_max(list_transform(q, x -> abs(x))) AS mx FROM n)),
        c AS (SELECT vec_id, bucket, v8, list_dot_product(v8, v8) AS nn8 FROM i8),
        p AS (SELECT a.vec_id AS qid, b.vec_id AS nid,
              list_dot_product(a.q, b.v8) / sqrt(a.nn * b.nn8) AS sim
              FROM n a JOIN c b ON a.bucket = b.bucket
              AND a.vec_id < 20 AND b.vec_id <> a.vec_id)
        SELECT qid, nid, sim, rank FROM (
          SELECT qid, nid, sim,
                 row_number() OVER (PARTITION BY qid ORDER BY sim DESC, nid) AS rank
          FROM p) WHERE rank <= 3"""
  }

  /** Unrolled 2-iteration Lloyd replay of [[graft.operators.KMeans]] (same
    * seeds, same integer argmax with ties to the smallest cid, same
    * round-half-up grid means — every intermediate is an integer-valued
    * double well under 2^53, so both engines rank and round identically). */
  private def assignCte(name: String, cents: String) =
    s"""$name AS (SELECT vec_id, q, cid FROM (
          SELECT e.vec_id, e.q, s.cid,
            row_number() OVER (PARTITION BY e.vec_id
              ORDER BY 2 * list_dot_product(e.q, s.q) - list_dot_product(s.q, s.q) DESC,
                       s.cid) AS rn
          FROM e CROSS JOIN $cents s) WHERE rn = 1)"""

  private lazy val kmeansCtes: String = {
    val k = 8
    def centCte(name: String, assigned: String) =
      s"""$name AS (SELECT cid, list(val ORDER BY pos) AS q FROM (
            SELECT cid, pos, floor(sum(v) / count(*) + 0.5) AS val FROM (
              SELECT cid, unnest(generate_series(0, len(q) - 1)) AS pos, unnest(q) AS v
              FROM $assigned)
            GROUP BY cid, pos) GROUP BY cid)"""
    s"""e AS (SELECT vec_id, $quantSql AS q FROM embeddings WHERE embedding IS NOT NULL),
        seeds AS (SELECT cid, q FROM (
          SELECT row_number() OVER (
            ORDER BY ${hash64Sql("CAST(vec_id AS VARCHAR)")}, vec_id) - 1 AS cid, q
          FROM e) WHERE cid < $k),
        ${assignCte("a1", "seeds")},
        ${centCte("c1", "a1")},
        ${assignCte("a2", "c1")},
        ${centCte("c2", "a2")},
        ${assignCte("a3", "c2")}"""
  }

  private lazy val kmeansOracleSql: String =
    s"""WITH $kmeansCtes
        SELECT vec_id, CAST(cid AS BIGINT) AS cluster FROM a3"""

  /** Replay of [[graft.operators.KMeans.updateModel]]: weights from the
    * current model's own assignment (a3), batch cells from a3 restricted
    * to the batch predicate, merged cells as the weighted grid mean, then
    * one more assignment pass under the merged model. */
  private lazy val kmeansUpdateOracleSql: String =
    s"""WITH $kmeansCtes,
        w AS (SELECT cid, count(*) AS w FROM a3 GROUP BY cid),
        c2u AS (SELECT cid, unnest(generate_series(0, len(q) - 1)) AS pos,
                       unnest(q) AS v FROM c2),
        bc AS (SELECT cid, pos, sum(v) AS s, count(*) AS n FROM (
                 SELECT cid, unnest(generate_series(0, len(q) - 1)) AS pos,
                        unnest(q) AS v
                 FROM a3 WHERE vec_id % 7 = 3) GROUP BY cid, pos),
        m AS (SELECT cid, list(val ORDER BY pos) AS q FROM (
                SELECT c2u.cid, c2u.pos,
                  CASE WHEN coalesce(w.w, 0) + coalesce(bc.n, 0) = 0 THEN c2u.v
                       ELSE floor((coalesce(w.w, 0) * c2u.v + coalesce(bc.s, 0))
                            / (coalesce(w.w, 0) + coalesce(bc.n, 0)) + 0.5) END AS val
                FROM c2u LEFT JOIN w ON c2u.cid = w.cid
                         LEFT JOIN bc ON c2u.cid = bc.cid AND c2u.pos = bc.pos)
              GROUP BY cid),
        ${assignCte("a4", "m")}
        SELECT vec_id, CAST(cid AS BIGINT) AS cluster FROM a4"""

  /** Oracle shared by the in-session and stored-model k-means ANN probes —
    * a model round-tripped through the catalog must not change a rank. */
  private lazy val kmeansAnnOracleSql: String =
    s"""WITH $kmeansCtes,
        n AS (SELECT vec_id, q, list_dot_product(q, q) AS nn, cid FROM a3),
        p AS (SELECT a.vec_id AS qid, b.vec_id AS nid,
              list_dot_product(a.q, b.q) / sqrt(a.nn * b.nn) AS sim
              FROM n a JOIN n b ON a.cid = b.cid
              AND a.vec_id < 20 AND b.vec_id <> a.vec_id)
        SELECT qid, nid, sim, rank FROM (
          SELECT qid, nid, sim,
                 row_number() OVER (PARTITION BY qid ORDER BY sim DESC, nid) AS rank
          FROM p) WHERE rank <= 3"""

  /** Per-(session, sfDir) kmeans‖-seeded model (fitParallel defaults:
    * k=8, iters=2, rounds=2) — the production init, oracle-gated. */
  private val kmeansParallelModels = new Memo[graft.operators.KMeans.Model]

  private def kmeansParallelModel(s: SparkSession, d: String): graft.operators.KMeans.Model =
    kmeansParallelModels(s, d)(
      graft.operators.KMeans.fitParallel(t(s, d, "embeddings"), k = 8, iters = 2, rounds = 2))

  /** Full SQL replay of [[graft.operators.KMeans.fitParallel]] — the
    * deterministic kmeans‖ init IS engine-portable, end to end:
    *   1. the single hash-ranked seed;
    *   2. `rounds`=2 oversampling passes — each point's 40-bit id-hash
    *      coin u tested against the exact integer inequality
    *      u·φ < d²·l·2⁴⁰ (HUGEINT — mirrors Spark's decimal(38,0)),
    *      survivors capped at 4·l smallest-u-first, appended in order;
    *   3. candidate weights = one corpus argmax-assignment count;
    *   4. 5 driver-Lloyd iterations over the weighted candidates: init
    *      ranked by (weight DESC, comma-joined content, candidate index —
    *      the stable-sort key), exact rational means
    *      floor((2s+w)/2w) via nonneg-remainder HUGEINT floor division,
    *      index COMPACTION when a cluster empties (row_number over
    *      surviving ids — the in-memory loop reindexes its Seq);
    *   5. 2 distributed Lloyd updates (double-division floor(s/n + 0.5),
    *      cluster ids KEPT — `update` never reindexes);
    *   6. the final corpus assignment.
    * Every intermediate is an exact integer or an integer-valued double
    * < 2^53, so ranks, coins and means agree bit-for-bit. */
  private lazy val kmeansParallelOracleSql: String = {
    val k = 8
    val l = 16 // oversampleFactor * k
    val cap = 4 * l
    val U = "1099511627776" // 2^40
    // one oversampling round: d² against cands, hash coin, exact inequality
    def round(r: Int, cands: String, out: String) =
      s"""d$r AS MATERIALIZED (SELECT e.vec_id, min(list_dot_product(e.q, e.q)
                    + list_dot_product(c.q, c.q)
                    - 2 * list_dot_product(e.q, c.q)) AS d2
                  FROM e CROSS JOIN $cands c GROUP BY e.vec_id),
          u$r AS MATERIALIZED (SELECT d$r.vec_id, e.q, d2,
                    ${hash64Sql(s"'km[par]$r:' || CAST(d$r.vec_id AS VARCHAR)")} % $U AS u
                  FROM d$r JOIN e ON d$r.vec_id = e.vec_id),
          phi$r AS MATERIALIZED (SELECT sum(CAST(d2 AS HUGEINT)) AS phi FROM u$r),
          p$r AS MATERIALIZED (SELECT q, row_number() OVER (ORDER BY u, vec_id) AS rnk
                  FROM u$r, phi$r
                  WHERE CAST(u AS HUGEINT) * phi < CAST(d2 AS HUGEINT) * $l * $U),
          $out AS MATERIALIZED (SELECT idx, q FROM $cands
                   UNION ALL
                   SELECT (SELECT max(idx) FROM $cands) + rnk AS idx, q
                   FROM p$r WHERE rnk <= $cap)"""
    // one driver-Lloyd iteration: weighted assignment + exact rational
    // means + index compaction (the in-memory Seq reindexes on empties)
    def lloyd(i: Int): String = {
      val prev = s"l${i - 1}"
      s"""la$i AS MATERIALIZED (SELECT idx, q, w, ci FROM (
            SELECT c.idx, c.q, c.w, p.ci,
              row_number() OVER (PARTITION BY c.idx
                ORDER BY 2 * list_dot_product(c.q, p.q) - list_dot_product(p.q, p.q) DESC,
                         p.ci) AS rn
            FROM wc c CROSS JOIN $prev p) WHERE rn = 1),
          l$i AS MATERIALIZED (SELECT row_number() OVER (ORDER BY ci) - 1 AS ci, q FROM (
            SELECT ci, list(val ORDER BY pos) AS q FROM (
              SELECT ci, pos,
                CAST((num - ((num % den) + den) % den) // den AS DOUBLE) AS val
              FROM (
                SELECT ci, pos,
                  2 * sum(CAST(v AS HUGEINT) * CAST(w AS HUGEINT))
                    + sum(CAST(w AS HUGEINT)) AS num,
                  2 * sum(CAST(w AS HUGEINT)) AS den
                FROM (SELECT ci, w, unnest(generate_series(0, len(q) - 1)) AS pos,
                             unnest(q) AS v FROM la$i)
                GROUP BY ci, pos))
            GROUP BY ci))"""
    }
    // one distributed Lloyd update: corpus assignment + double-rounded
    // means, cluster ids kept (update() never reindexes)
    def distUpdate(i: Int, cents: String): String =
      s"""fa$i AS MATERIALIZED (SELECT vec_id, q, ci FROM (
            SELECT e.vec_id, e.q, c.ci,
              row_number() OVER (PARTITION BY e.vec_id
                ORDER BY 2 * list_dot_product(e.q, c.q) - list_dot_product(c.q, c.q) DESC,
                         c.ci) AS rn
            FROM e CROSS JOIN $cents c) WHERE rn = 1),
          g$i AS MATERIALIZED (SELECT ci, list(val ORDER BY pos) AS q FROM (
            SELECT ci, pos, floor(sum(v) / count(*) + 0.5) AS val
            FROM (SELECT ci, unnest(generate_series(0, len(q) - 1)) AS pos,
                         unnest(q) AS v FROM fa$i)
            GROUP BY ci, pos) GROUP BY ci)"""
    s"""WITH e AS MATERIALIZED (SELECT vec_id, $quantSql AS q FROM embeddings
                   WHERE embedding IS NOT NULL),
        c0 AS MATERIALIZED (SELECT 0 AS idx, q FROM (
          SELECT q, row_number() OVER (
            ORDER BY ${hash64Sql("CAST(vec_id AS VARCHAR)")}, vec_id) AS rn
          FROM e) WHERE rn = 1),
        ${round(1, "c0", "c1")},
        ${round(2, "c1", "c2")},
        wgt AS MATERIALIZED (SELECT ci AS idx, count(*) AS w FROM (
          SELECT vec_id, ci FROM (
            SELECT e.vec_id, c.idx AS ci,
              row_number() OVER (PARTITION BY e.vec_id
                ORDER BY 2 * list_dot_product(e.q, c.q) - list_dot_product(c.q, c.q) DESC,
                         c.idx) AS rn
            FROM e CROSS JOIN c2 c) WHERE rn = 1) GROUP BY ci),
        wc AS MATERIALIZED (SELECT c.idx, c.q, wgt.w FROM c2 c JOIN wgt ON c.idx = wgt.idx),
        l0 AS MATERIALIZED (SELECT rn - 1 AS ci, q FROM (
          SELECT q, row_number() OVER (
            ORDER BY w DESC, array_to_string(q, ','), idx) AS rn
          FROM wc) WHERE rn <= $k),
        ${(1 to 5).map(lloyd).mkString(",\n        ")},
        ${distUpdate(1, "l5")},
        ${distUpdate(2, "g1")},
        af AS MATERIALIZED (SELECT vec_id, ci FROM (
          SELECT e.vec_id, c.ci,
            row_number() OVER (PARTITION BY e.vec_id
              ORDER BY 2 * list_dot_product(e.q, c.q) - list_dot_product(c.q, c.q) DESC,
                       c.ci) AS rn
          FROM e CROSS JOIN g2 c) WHERE rn = 1)
        SELECT vec_id, CAST(ci AS BIGINT) AS cluster FROM af"""
  }

  /** Per-(session, sfDir) fitted PQ codebooks (m=4 × 16-dim subspaces,
    * ksub=8, iters=2) — trained once, probed by both PQ gates. */
  private val pqModels = new Memo[graft.operators.ProductQuantizer.PQModel]

  private def pqModel(s: SparkSession, d: String): graft.operators.ProductQuantizer.PQModel =
    pqModels(s, d)(graft.operators.ProductQuantizer.fit(
      t(s, d, "embeddings"), m = 4, ksub = 8, iters = 2, dim = 64))

  /** Per-(session, sfDir) MATERIALIZED code frames — the index tables of a
    * serving deployment, shared across the PQ/IVF-PQ probe gates the same
    * way [[pqModel]]/[[kmeansModel]] share the fitted models: the per-row
    * encode argmins (the expensive step, and a large literal plan to
    * re-analyze) run once per session, every probe reads the
    * localCheckpointed codes. */
  private val codeFrames = new Memo[org.apache.spark.sql.DataFrame]

  private def codeFrame(s: SparkSession, d: String, kind: String)(
      build: => org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
    codeFrames(s, s"$d#$kind")(build.localCheckpoint())

  private def pqCodes(s: SparkSession, d: String) =
    codeFrame(s, d, "pq")(graft.operators.ProductQuantizer.encode(
      t(s, d, "embeddings"), pqModel(s, d)))

  private def ivfpqCodes(s: SparkSession, d: String) =
    codeFrame(s, d, "ivfpq")(graft.operators.ProductQuantizer.encodeIvf(
      t(s, d, "embeddings"), kmeansModel(s, d), pqModel(s, d)))

  private def ivfpqResidualCodes(s: SparkSession, d: String) =
    codeFrame(s, d, "ivfpq_residual")(graft.operators.ProductQuantizer.encodeResidual(
      t(s, d, "embeddings"), kmeansModel(s, d), pqResidualModel(s, d)))

  /** Oracle for the PQ-ADC gates: replay each subspace's k-means fit on
    * LIST SLICES of the quantized vectors (quantize∘slice ≡ slice∘quantize;
    * the CTEs per subspace are the q_x_kmeans fit replay verbatim, suffixed
    * and sliced), then score queries against the per-subspace
    * reconstructions with exact integer dot/norm sums. */
  private val (pqM, pqSub, pqKsub) = (4, 16, 8)

  /** The m per-subspace fit replays (each the q_x_kmeans CTE chain on a
    * list slice). References an `e` CTE (vec_id, quantized q) — composable
    * after either a bare `e` or the full coarse-quantizer [[kmeansCtes]]. */
  private lazy val pqFitCtes: String = pqFitCtesFrom("e")

  private def pqFitCtesFrom(src: String): String = {
    val (m, sub, ksub) = (pqM, pqSub, pqKsub)
    def assignCteJ(j: Int, name: String, cents: String) =
      s"""$name AS (SELECT vec_id, q, cid FROM (
            SELECT e.vec_id, e.q, s.cid,
              row_number() OVER (PARTITION BY e.vec_id
                ORDER BY 2 * list_dot_product(e.q, s.q) - list_dot_product(s.q, s.q) DESC,
                         s.cid) AS rn
            FROM e$j e CROSS JOIN $cents s) WHERE rn = 1)"""
    def centCteJ(name: String, assigned: String) =
      s"""$name AS (SELECT cid, list(val ORDER BY pos) AS q FROM (
            SELECT cid, pos, floor(sum(v) / count(*) + 0.5) AS val FROM (
              SELECT cid, unnest(generate_series(0, len(q) - 1)) AS pos, unnest(q) AS v
              FROM $assigned)
            GROUP BY cid, pos) GROUP BY cid)"""
    val fits = (0 until m).map { j =>
      s"""e$j AS MATERIALIZED (SELECT vec_id, q[${j * sub + 1}:${j * sub + sub}] AS q FROM $src),
          seeds$j AS (SELECT cid, q FROM (
            SELECT row_number() OVER (
              ORDER BY ${hash64Sql("CAST(vec_id AS VARCHAR)")}, vec_id) - 1 AS cid, q
            FROM e$j) WHERE cid < $ksub),
          ${assignCteJ(j, s"a1_$j", s"seeds$j")},
          ${centCteJ(s"c1_$j", s"a1_$j")},
          ${assignCteJ(j, s"a2_$j", s"c1_$j")},
          ${centCteJ(s"c2_$j", s"a2_$j")},
          ${assignCteJ(j, s"a3_$j", s"c2_$j")}"""
    }.mkString(",\n        ")
    fits
  }

  /** The shared ADC tail: per-subspace (query-slice · reconstruction)
    * partials → summed exact dot/norm → ranked sim. `candJoin(j)` supplies
    * the FROM/WHERE picking each subspace's candidate rows. */
  private def pqScoreCtes(candJoin: Int => String): String = {
    val parts = (0 until pqM).map { j =>
      s"""SELECT qs.qid, a.vec_id AS nid, qs.qn,
          list_dot_product(qs.q[${j * pqSub + 1}:${j * pqSub + pqSub}], c.q) AS pd,
          list_dot_product(c.q, c.q) AS pn
          ${candJoin(j)}"""
    }.mkString(" UNION ALL ")
    s"""part AS ($parts),
        sc AS (SELECT qid, nid, sum(pd) / sqrt(any_value(qn) * sum(pn)) AS sim
               FROM part GROUP BY qid, nid)"""
  }

  private def pqScoreSql(kNN: Int, candJoin: Int => String): String =
    s"""${pqScoreCtes(candJoin)}
        SELECT qid, nid, sim, rank FROM (
          SELECT qid, nid, sim,
                 row_number() OVER (PARTITION BY qid ORDER BY sim DESC, nid) AS rank
          FROM sc) WHERE rank <= $kNN"""

  /** Two-stage oracle: PQ-ADC shortlist (rank ≤ 20) → exact cosine
    * re-rank of only those pairs against the full-precision vectors. */
  private lazy val pqRerankOracleSql: String =
    s"""WITH e AS MATERIALIZED (SELECT vec_id, $quantSql AS q FROM embeddings
          WHERE embedding IS NOT NULL),
        $pqFitCtes,
        qs AS (SELECT vec_id AS qid, q, list_dot_product(q, q) AS qn
               FROM e WHERE vec_id < 10),
        ${pqScoreCtes(j =>
          s"""FROM qs, a3_$j a JOIN c2_$j c ON a.cid = c.cid
              WHERE a.vec_id <> qs.qid""")},
        shortlist AS (SELECT qid, nid FROM (
          SELECT qid, nid,
                 row_number() OVER (PARTITION BY qid ORDER BY sim DESC, nid) AS rk
          FROM sc) WHERE rk <= 20),
        n2 AS (SELECT vec_id, q, list_dot_product(q, q) AS nn FROM e),
        ex AS (SELECT s.qid, s.nid,
               list_dot_product(a.q, b.q) / sqrt(a.nn * b.nn) AS sim
               FROM shortlist s JOIN n2 a ON a.vec_id = s.qid
               JOIN n2 b ON b.vec_id = s.nid)
        SELECT qid, nid, sim, rank FROM (
          SELECT qid, nid, sim,
                 row_number() OVER (PARTITION BY qid ORDER BY sim DESC, nid) AS rank
          FROM ex) WHERE rank <= 5"""

  private lazy val pqAnnOracleSql: String =
    s"""WITH e AS MATERIALIZED (SELECT vec_id, $quantSql AS q FROM embeddings
          WHERE embedding IS NOT NULL),
        $pqFitCtes,
        qs AS (SELECT vec_id AS qid, q, list_dot_product(q, q) AS qn
               FROM e WHERE vec_id < 10),
        ${pqScoreSql(5, j =>
          s"""FROM qs, a3_$j a JOIN c2_$j c ON a.cid = c.cid
              WHERE a.vec_id <> qs.qid""")}"""

  /** IVF-PQ: the coarse-quantizer replay ([[kmeansCtes]], whose a3 carries
    * each vector's bucket) restricts candidates to the query's inverted
    * list; scoring is the same PQ-ADC tail. */
  private lazy val ivfpqOracleSql: String =
    s"""WITH $kmeansCtes,
        $pqFitCtes,
        qs AS (SELECT a.vec_id AS qid, a.q, list_dot_product(a.q, a.q) AS qn,
                      a.cid AS bucket
               FROM a3 a WHERE a.vec_id < 10),
        ${pqScoreSql(3, j =>
          s"""FROM qs JOIN a3 cb ON cb.cid = qs.bucket AND cb.vec_id <> qs.qid
              JOIN a3_$j a ON a.vec_id = cb.vec_id
              JOIN c2_$j c ON a.cid = c.cid""")}"""

  /** Multi-probe IVF-PQ oracle: each query fans out to its 2 nearest
    * coarse buckets (same (negscore, cid) order as every assignment);
    * scoring is the shared ADC tail over the widened candidate set. */
  private lazy val ivfpqMultiOracleSql: String =
    s"""WITH $kmeansCtes,
        $pqFitCtes,
        qs AS (SELECT vec_id AS qid, q, list_dot_product(q, q) AS qn
               FROM e WHERE vec_id < 10),
        prb AS (SELECT qid, cid AS bucket FROM (
          SELECT qs.qid, c.cid,
            row_number() OVER (PARTITION BY qs.qid
              ORDER BY list_dot_product(c.q, c.q) - 2 * list_dot_product(qs.q, c.q),
                       c.cid) AS rn
          FROM qs CROSS JOIN c2 c) WHERE rn <= 2),
        ${pqScoreSql(3, j =>
          s"""FROM qs JOIN prb ON prb.qid = qs.qid
              JOIN a3 cb ON cb.cid = prb.bucket AND cb.vec_id <> qs.qid
              JOIN a3_$j a ON a.vec_id = cb.vec_id
              JOIN c2_$j c ON a.cid = c.cid""")}"""

  /** Residual IVF-PQ oracle: coarse fit replay → integer residuals per
    * vector (a3 row − its c2 centroid) → the m subspace fits replayed ON
    * the residual lists → in-bucket ADC with the expanded-norm identity
    * |cb + pqrec|² = |cb|² + 2·(cb·pqrec) + |pqrec|² (every term an exact
    * integer-valued double, summed below 2⁵³ before the one sqrt). */
  private lazy val ivfpqResidualOracleSql: String = {
    val parts = (0 until pqM).map { j =>
      val (lo, hi) = (j * pqSub + 1, j * pqSub + pqSub)
      s"""SELECT qs.qid, r.vec_id AS nid, qs.qn,
          list_dot_product(qs.q[$lo:$hi], c.q) AS pd,
          list_dot_product(c.q, c.q) AS pn,
          list_dot_product(cc.q[$lo:$hi], c.q) AS px,
          list_dot_product(qs.q, cc.q) AS qb,
          list_dot_product(cc.q, cc.q) AS cbn
          FROM qs JOIN res r ON r.bucket = qs.bucket AND r.vec_id <> qs.qid
          JOIN a3_$j a ON a.vec_id = r.vec_id
          JOIN c2_$j c ON a.cid = c.cid
          JOIN c2 cc ON cc.cid = qs.bucket"""
    }.mkString(" UNION ALL ")
    s"""WITH $kmeansCtes,
        res AS MATERIALIZED (SELECT a.vec_id,
          list_transform(generate_series(1, len(a.q)), i -> a.q[i] - c.q[i]) AS q,
          a.cid AS bucket
          FROM a3 a JOIN c2 c ON a.cid = c.cid),
        ${pqFitCtesFrom("res")},
        qs AS (SELECT a.vec_id AS qid, a.q, list_dot_product(a.q, a.q) AS qn,
                      a.cid AS bucket
               FROM a3 a WHERE a.vec_id < 10),
        part AS ($parts),
        sc AS (SELECT qid, nid,
               (any_value(qb) + sum(pd)) /
                 sqrt(any_value(qn) * (any_value(cbn) + 2 * sum(px) + sum(pn))) AS sim
               FROM part GROUP BY qid, nid)
        SELECT qid, nid, sim, rank FROM (
          SELECT qid, nid, sim,
                 row_number() OVER (PARTITION BY qid ORDER BY sim DESC, nid) AS rank
          FROM sc) WHERE rank <= 3"""
  }

  /** Per-(session, sfDir) residual PQ codebooks (trained on coarse-model
    * residuals; shares the cached coarse model). */
  private val pqResidualModels = new Memo[graft.operators.ProductQuantizer.PQModel]

  private def pqResidualModel(s: SparkSession, d: String): graft.operators.ProductQuantizer.PQModel =
    pqResidualModels(s, d)(graft.operators.ProductQuantizer.fitResidual(
      t(s, d, "embeddings"), kmeansModel(s, d), m = 4, ksub = 8, iters = 2, dim = 64))

  /** Oracle for q_x_search_mmr: the greedy MMR loop unrolled as k−1 chained
    * CTE rounds (plain SQL — no recursive CTE needed because k is a small
    * fixed constant; the recursive form couldn't aggregate over the whole
    * picked-so-far set anyway). Arithmetic mirrors
    * [[graft.operators.VectorSearch.mmrRerank]] term for term: integer dots,
    * one sqrt+division per sim, `0.5·sim − 0.5·max_picked_sim`, ties on nid. */
  private def mmrOracleSql(queryPred: String, n: Int, k: Int): String = {
    val head =
      s"""WITH e AS (SELECT vec_id, $quantSql AS q FROM embeddings),
          nrm AS (SELECT vec_id, q, list_dot_product(q, q) AS nn FROM e),
          cand AS (SELECT qid, nid, sim FROM (
            SELECT a.vec_id AS qid, b.vec_id AS nid,
                   list_dot_product(a.q, b.q) / sqrt(a.nn * b.nn) AS sim,
                   row_number() OVER (PARTITION BY a.vec_id
                     ORDER BY list_dot_product(a.q, b.q) / sqrt(a.nn * b.nn) DESC,
                              b.vec_id) AS rnk
            FROM nrm a JOIN nrm b ON $queryPred AND b.vec_id <> a.vec_id)
            WHERE rnk <= $n),
          cv AS (SELECT c.qid, c.nid, c.sim, x.q, x.nn
                 FROM cand c JOIN nrm x ON x.vec_id = c.nid),
          pair AS (SELECT x.qid, x.nid AS a_nid, y.nid AS b_nid,
                   list_dot_product(x.q, y.q) / sqrt(x.nn * y.nn) AS psim
                   FROM cv x JOIN cv y ON x.qid = y.qid AND x.nid <> y.nid),
          selall1 AS (SELECT qid, nid, 1 AS pick, sim FROM (
            SELECT qid, nid, sim, row_number() OVER (PARTITION BY qid
              ORDER BY sim DESC, nid) AS rn FROM cand) WHERE rn = 1)"""
    val rounds = (2 to k).map { i =>
      s""", sel$i AS (SELECT qid, nid, $i AS pick, sim FROM (
            SELECT c.qid, c.nid, c.sim,
              row_number() OVER (PARTITION BY c.qid
                ORDER BY 0.5 * c.sim - 0.5 * m.red DESC, c.nid) AS rn
            FROM cand c
            JOIN (SELECT p.qid, p.a_nid, max(p.psim) AS red FROM pair p
                  JOIN selall${i - 1} s ON s.qid = p.qid AND s.nid = p.b_nid
                  GROUP BY p.qid, p.a_nid) m
              ON m.qid = c.qid AND m.a_nid = c.nid
            WHERE NOT EXISTS (SELECT 1 FROM selall${i - 1} s2
                              WHERE s2.qid = c.qid AND s2.nid = c.nid))
            WHERE rn = 1),
          selall$i AS (SELECT * FROM selall${i - 1} UNION ALL SELECT * FROM sel$i)"""
    }.mkString
    head + rounds +
      s" SELECT qid, nid, CAST(pick AS BIGINT) AS pick, sim FROM selall$k"
  }

  /** Per-(session, sfDir) fitted PCA model (gram moments + dominant
    * direction): the three PCA gates share ONE corpus scan + power fit. */
  private val pcaModels = new Memo[(graft.operators.Pca.GramStats, Array[Long])]

  private def pcaModel(s: SparkSession, d: String)
      : (graft.operators.Pca.GramStats, Array[Long]) = pcaModels(s, d) {
    val g = graft.operators.Pca.gramStats(t(s, d, "embeddings"))
    (g, graft.operators.Pca.principalDirection(graft.operators.Pca.covNumerator(g)))
  }

  /** Shared oracle CTEs: exact-integer moments (BIGINT gram — products stay
    * under 2⁶³ through sf1), HUGEINT covariance numerator M = n·G − s·sᵀ. */
  private val pcaBaseSql: String =
    s"""e AS MATERIALIZED (SELECT vec_id, list_transform(embedding,
              x -> CAST(round(CAST(x AS DOUBLE)*10000, 0) AS BIGINT)) AS q
            FROM embeddings WHERE embedding IS NOT NULL),
        tot AS MATERIALIZED (SELECT count(*) AS n FROM e),
        dims AS MATERIALIZED (SELECT unnest(generate_series(1, (SELECT max(len(q)) FROM e))) AS di),
        sm AS MATERIALIZED (SELECT di, sum(q[di]) AS sd FROM e, dims GROUP BY di),
        g AS MATERIALIZED (SELECT a.di, b.di AS dj, sum(e.q[a.di]*e.q[b.di]) AS gg
              FROM e, dims a, dims b WHERE a.di <= b.di GROUP BY 1, 2),
        mu AS MATERIALIZED (SELECT g.di, g.dj,
                 CAST(tot.n AS HUGEINT)*g.gg
                   - CAST(sa.sd AS HUGEINT)*CAST(sb.sd AS HUGEINT) AS m
               FROM g, tot, sm sa, sm sb WHERE sa.di = g.di AND sb.di = g.dj)"""

  /** DuckDB twin of [[graft.operators.Pca.int128Words]]: sign-split
    * base-10¹⁸ BIGINT word pair of an exact-integer HUGEINT expression
    * (abs-first so `//`/`%` only ever see non-negative operands — no
    * negative-division convention in play). */
  private def int128SplitSql(expr: String, hiName: String, loName: String): String =
    s"""CAST(CASE WHEN $expr < 0 THEN -1 ELSE 1 END
           * (abs($expr) // 1000000000000000000) AS BIGINT) AS $hiName,
        CAST(CASE WHEN $expr < 0 THEN -1 ELSE 1 END
           * (abs($expr) % 1000000000000000000) AS BIGINT) AS $loName"""

  /** Power-iteration replay: `iters` unrolled (matvec → max-abs →
    * round-half-away quantize) CTE triples over the full-symmetric matrix,
    * then the first-nonzero-positive sign convention. Ends with CTE `vv`
    * holding (i, v) — the signed micro-unit direction. */
  private def pcaPowerSql(iters: Int): String = {
    val steps = (1 to iters).map { k =>
      s"""w$k AS MATERIALIZED (SELECT mf.di AS i, sum(mf.m * v${k - 1}.v) AS w
                  FROM mf JOIN v${k - 1} ON mf.dj = v${k - 1}.i GROUP BY 1),
          x$k AS MATERIALIZED (SELECT max(abs(w)) AS mx FROM w$k),
          v$k AS MATERIALIZED (SELECT i, CAST(CASE WHEN w < 0 THEN -1 ELSE 1 END AS HUGEINT)
                    * ((abs(w)*2000000 + mx) // (2*mx)) AS v
                  FROM w$k, x$k)"""
    }.mkString(",\n")
    s"""$pcaBaseSql,
        mf AS MATERIALIZED (SELECT di, dj, m FROM mu UNION ALL SELECT dj, di, m FROM mu WHERE di < dj),
        d0 AS (SELECT di FROM mf WHERE di = dj ORDER BY m DESC, di LIMIT 1),
        v0 AS MATERIALIZED (SELECT di AS i, CAST(CASE WHEN di = (SELECT di FROM d0)
                 THEN 1000000 ELSE 0 END AS HUGEINT) AS v FROM dims),
        $steps,
        sg AS (SELECT CASE WHEN (SELECT v FROM v$iters WHERE v <> 0 ORDER BY i LIMIT 1) < 0
                 THEN -1 ELSE 1 END AS s),
        vv AS MATERIALIZED (SELECT i, v * sg.s AS v FROM v$iters, sg)"""
  }

  lazy val all: Seq[QueryDef] = Seq(

    // PCA covariance structure (operators.Pca): the exact covariance
    // NUMERATOR matrix n·G − s·sᵀ (n²× covariance, never divided) over the
    // quantized corpus — the embedding-diagnostics surface (anisotropy,
    // collapsed dims) computed in ONE treeAggregate corpus scan. int128
    // cells emit as sign-split base-10¹⁸ BIGINT word pairs (HUGEINT /
    // DECIMAL(38,0) have no shared cross-engine physical representation).
    QueryDef("q_x_pca_gram",
      (s, d) => {
        val df = graft.operators.Pca.covNumeratorDF(s, pcaModel(s, d)._1)
        val (hi, lo) = graft.operators.Pca.int128Words(col("m"))
        df.select(col("di"), col("dj"), hi.as("m_hi"), lo.as("m_lo"))
      },
      Some(s"""WITH $pcaBaseSql
               SELECT di, dj, ${int128SplitSql("m", "m_hi", "m_lo")} FROM mu""")),

    // The shard-merge path of the same moments: fit GramStats on the
    // even/odd vec_id halves SEPARATELY, merge losslessly (moments are
    // plain sums), and emit the identical covariance numerator — the
    // oracle is byte-for-byte q_x_pca_gram's, so the gate proves
    // shard-and-merge ≡ one-scan (the incremental-refresh verb for a
    // corpus that outgrows a single pass).
    QueryDef("q_x_pca_gram_merged",
      (s, d) => {
        val emb = t(s, d, "embeddings")
        val g = graft.operators.Pca.mergeGram(
          graft.operators.Pca.gramStats(emb.filter(col("vec_id") % 2 === 0)),
          graft.operators.Pca.gramStats(emb.filter(col("vec_id") % 2 === 1)))
        val df = graft.operators.Pca.covNumeratorDF(s, g)
        val (hi, lo) = graft.operators.Pca.int128Words(col("m"))
        df.select(col("di"), col("dj"), hi.as("m_hi"), lo.as("m_lo"))
      },
      Some(s"""WITH $pcaBaseSql
               SELECT di, dj, ${int128SplitSql("m", "m_hi", "m_lo")} FROM mu""")),

    // Dominant eigendirection by 12 quantized power iterations — every
    // iterate renormalized to integer micro-units with ONE rounding per
    // component, so the oracle replays the entire fit cell-by-cell as
    // chained CTEs (the SemDeDup-style projection axis, exactly derivable
    // on any exact-integer engine).
    QueryDef("q_x_pca_power",
      (s, d) => graft.operators.Pca.directionDF(s, pcaModel(s, d)._2),
      Some(s"""WITH ${pcaPowerSql(12)}
               SELECT i AS dim, CAST(v AS BIGINT) AS v_micro FROM vv""")),

    // Per-vector centered principal score n·(q·v) − (s·v) — exact integers,
    // pure map against the broadcast direction; Σ over the corpus is
    // EXACTLY zero (centering never divides). Same two-word int128
    // canonicalization as q_x_pca_gram.
    QueryDef("q_x_pca_project",
      (s, d) => {
        val (g, v) = pcaModel(s, d)
        val p = graft.operators.Pca.project(t(s, d, "embeddings"), g, v)
        val (hi, lo) = graft.operators.Pca.int128Words(col("pc1_num"))
        p.select(col("vec_id"), hi.as("pc1_hi"), lo.as("pc1_lo"))
      },
      Some(s"""WITH ${pcaPowerSql(12)},
               sv AS (SELECT sum(CAST(sm.sd AS HUGEINT) * vv.v) AS sv
                      FROM sm JOIN vv ON sm.di = vv.i),
               qv AS (SELECT e.vec_id, sum(CAST(e.q[vv.i] AS HUGEINT) * vv.v) AS qv
                      FROM e, vv GROUP BY 1),
               pr AS (SELECT qv.vec_id,
                        CAST(tot.n AS HUGEINT)*qv.qv - sv.sv AS m
                      FROM qv, tot, sv)
               SELECT vec_id, ${int128SplitSql("m", "pc1_hi", "pc1_lo")}
               FROM pr""")),


    // Product-quantization ANN (Jégou et al.): 64-dim corpus compressed to
    // 4 codebook ids per vector; ADC ranks full-precision queries against
    // the codes via literal-map codebook lookups — the memory-bound 100 TB
    // ANN shape (the scan reads 4 small ints, not 64 floats, per vector).
    QueryDef("q_x_ann_pq",
      (s, d) => graft.operators.ProductQuantizer.adcTopK(
        t(s, d, "embeddings"), pqModel(s, d), col("vec_id") < 10, 5,
        encoded = pqCodes(s, d)),
      Some(pqAnnOracleSql)),

    // The same probe against STORED codes + a stored codebook: encode →
    // catalog write (codes table + model cells) → load both back → ADC
    // reads only the persisted codes. The index round-trip must change no
    // rank — same oracle as q_x_ann_pq.
    QueryDef("q_x_ann_pq_stored",
      (s, d) => {
        val pq = graft.operators.ProductQuantizer
        val cat = new graft.catalog.Catalog(s, scratch(s, d, "graft-pq-store"))
        if (!cat.exists("pq_model")) {
          pq.saveModel(cat, "pq_model", s, pqModel(s, d))
          cat.write("pq_codes", pq.encode(t(s, d, "embeddings"), pqModel(s, d)))
        }
        pq.adcTopK(t(s, d, "embeddings"), pq.loadModel(cat, "pq_model"),
          col("vec_id") < 10, 5, encoded = cat.read("pq_codes"))
      },
      Some(pqAnnOracleSql)),

    // IVF-PQ: the billion-scale composite — the k-means coarse quantizer
    // prunes candidates to the query's inverted list (equi-join on bucket)
    // while PQ codes compress what the probe reads. Reuses BOTH fitted
    // models; the oracle composes both fit replays.
    QueryDef("q_x_ann_ivfpq",
      (s, d) => graft.operators.ProductQuantizer.ivfpqProbeTopK(
        t(s, d, "embeddings"), kmeansModel(s, d), pqModel(s, d),
        col("vec_id") < 10, 3, encoded = ivfpqCodes(s, d)),
      Some(ivfpqOracleSql)),

    // Two-stage search: PQ shortlist (top-20 over compressed codes) →
    // exact cosine re-rank of just those pairs against full vectors — the
    // production serving shape (PQ-sized scan, exact final ranks).
    QueryDef("q_x_ann_rerank",
      (s, d) => graft.operators.ProductQuantizer.adcShortlistRerank(
        t(s, d, "embeddings"), pqModel(s, d), col("vec_id") < 10,
        shortlist = 20, k = 5, encoded = pqCodes(s, d)),
      Some(pqRerankOracleSql)),

    // Matryoshka cascade: 16-dim-prefix cosine shortlist (top-50) → exact
    // full-dim re-rank (top-5). The MRL nesting-doll tier of the
    // compression ladder — stage 1 does dim/4 of the arithmetic (and with
    // a prefix-only index, dim/4 of the bytes).
    QueryDef("q_x_ann_matryoshka",
      (s, d) => graft.operators.VectorSearch.matryoshkaTopK(
        t(s, d, "embeddings"), col("vec_id") < 10,
        prefixDim = 16, shortlist = 50, k = 5),
      Some(s"""WITH e AS (SELECT vec_id, $quantSql AS q FROM embeddings),
               f AS (SELECT vec_id, q, q[1:16] AS qp FROM e),
               n AS (SELECT vec_id, q, qp, list_dot_product(q, q) AS nn,
                       list_dot_product(qp, qp) AS np FROM f),
               p AS (SELECT a.vec_id AS qid, b.vec_id AS nid,
                       a.q AS aq, b.q AS bq, a.nn AS ann, b.nn AS bnn,
                       list_dot_product(a.qp, b.qp) / sqrt(a.np * b.np) AS psim
                     FROM n a JOIN n b
                     ON a.vec_id < 10 AND b.vec_id <> a.vec_id),
               s AS (SELECT *, row_number() OVER
                       (PARTITION BY qid ORDER BY psim DESC, nid) AS prank FROM p),
               c AS (SELECT qid, nid,
                       list_dot_product(aq, bq) / sqrt(ann * bnn) AS sim
                     FROM s WHERE prank <= 50)
               SELECT qid, nid, sim, rank FROM (
                 SELECT qid, nid, sim, row_number() OVER
                   (PARTITION BY qid ORDER BY sim DESC, nid) AS rank FROM c)
               WHERE rank <= 5""")),

    // Metadata-filtered exact search: the candidate predicate (label = 1)
    // applies BEFORE ranking, so k survivors are guaranteed — pre-filter,
    // the recall-safe half of the filtered-ANN trade.
    QueryDef("q_x_ann_filtered",
      (s, d) => graft.operators.VectorSearch.bruteForceTopKFiltered(
        t(s, d, "embeddings"), col("vec_id") < 20, col("label") === 1, 5),
      Some(s"""WITH e AS (SELECT vec_id, label, $quantSql AS q FROM embeddings),
               n AS (SELECT vec_id, label, q, list_dot_product(q, q) AS nn FROM e),
               p AS (SELECT a.vec_id AS qid, b.vec_id AS nid,
                     list_dot_product(a.q, b.q) / sqrt(a.nn * b.nn) AS sim
                     FROM n a JOIN n b ON a.vec_id < 20 AND b.vec_id <> a.vec_id
                     AND b.label = 1)
               SELECT qid, nid, sim, rank FROM (
                 SELECT qid, nid, sim,
                        row_number() OVER (PARTITION BY qid ORDER BY sim DESC, nid) AS rank
                 FROM p) WHERE rank <= 5""")),

    // Multi-probe IVF-PQ: each query probes its 2 nearest inverted lists —
    // the standard recall knob; the fan-out multiplies only the broadcast
    // query side, never the corpus scan.
    QueryDef("q_x_ann_ivfpq_multiprobe",
      (s, d) => graft.operators.ProductQuantizer.ivfpqProbeTopK(
        t(s, d, "embeddings"), kmeansModel(s, d), pqModel(s, d),
        col("vec_id") < 10, 3, nProbe = 2, encoded = ivfpqCodes(s, d)),
      Some(ivfpqMultiOracleSql)),

    // Residual IVF-PQ (FAISS-default by_residual=true): codebooks quantize
    // coarse-centroid RESIDUALS, spending their resolution where the
    // bucket didn't explain the vector — better recall at identical code
    // size. The cross term dots two literal lookups; no reconstruction
    // materializes.
    QueryDef("q_x_ann_ivfpq_residual",
      (s, d) => graft.operators.ProductQuantizer.ivfpqResidualProbeTopK(
        t(s, d, "embeddings"), kmeansModel(s, d), pqResidualModel(s, d),
        col("vec_id") < 10, 3, encoded = ivfpqResidualCodes(s, d)),
      Some(ivfpqResidualOracleSql)),

    // MMR diversity re-rank (Carbonell & Goldstein): top-20 candidates per
    // query, then 5 greedy picks trading relevance against similarity to
    // what's already picked (λ = 0.5) — the anti-crowding pass after ANN.
    QueryDef("q_x_search_mmr",
      (s, d) => graft.operators.VectorSearch.mmrRerank(
        t(s, d, "embeddings"), col("vec_id") < 10, n = 20, k = 5),
      Some(mmrOracleSql("a.vec_id < 10", n = 20, k = 5))),

    // Contrastive triples for embedding training: per anchor the strongest
    // in-bucket positive (sim ≥ 0.3) and the hardest in-bucket negative
    // (highest sim < 0.3 — the near-miss that teaches the margin). Same
    // LSH bucket join as the near-dup paths; two ranks in one shuffle.
    QueryDef("q_x_contrastive_pairs",
      (s, d) => graft.operators.VectorSearch.contrastiveTriples(
        t(s, d, "embeddings"), lit(true), 0.3, 0.3, numPlanes, 64),
      Some {
        val planeList = planes.map(p => s"[${p.map(_.toDouble).mkString(", ")}]")
        val bucketSql = (0 until numPlanes).map { p =>
          s"(CASE WHEN list_dot_product(q, ${planeList(p)}) >= 0 THEN ${1L << p} ELSE 0 END)"
        }.mkString(" + ")
        s"""WITH e AS (SELECT vec_id, $quantSql AS q FROM embeddings),
            n AS (SELECT vec_id, q, list_dot_product(q, q) AS nn, $bucketSql AS bucket FROM e),
            p AS (SELECT a.vec_id AS qid, b.vec_id AS nid,
                  list_dot_product(a.q, b.q) / sqrt(a.nn * b.nn) AS sim
                  FROM n a JOIN n b ON a.bucket = b.bucket AND b.vec_id <> a.vec_id),
            pos AS (SELECT qid, nid AS pos_id, sim AS pos_sim FROM (
              SELECT qid, nid, sim,
                     row_number() OVER (PARTITION BY qid ORDER BY sim DESC, nid) AS rn
              FROM p WHERE sim >= 0.3) WHERE rn = 1),
            neg AS (SELECT qid, nid AS neg_id, sim AS neg_sim FROM (
              SELECT qid, nid, sim,
                     row_number() OVER (PARTITION BY qid ORDER BY sim DESC, nid) AS rn
              FROM p WHERE sim < 0.3) WHERE rn = 1)
            SELECT qid, pos_id, pos_sim, neg_id, neg_sim
            FROM pos JOIN neg USING (qid)"""
      }),

    // Brute-force cosine top-k: queries = vec_id < 50, k = 5, self excluded.
    QueryDef("q_x_embed_topk",
      (s, d) => graft.operators.VectorSearch.bruteForceTopK(
        t(s, d, "embeddings"), col("vec_id") < 50, 5),
      Some(s"""WITH e AS (SELECT vec_id, $quantSql AS q FROM embeddings),
               n AS (SELECT vec_id, q, list_dot_product(q, q) AS nn FROM e),
               p AS (SELECT a.vec_id AS qid, b.vec_id AS nid,
                     list_dot_product(a.q, b.q) / sqrt(a.nn * b.nn) AS sim
                     FROM n a JOIN n b ON a.vec_id < 50 AND b.vec_id <> a.vec_id)
               SELECT qid, nid, sim, rank FROM (
                 SELECT qid, nid, sim,
                        row_number() OVER (PARTITION BY qid ORDER BY sim DESC, nid) AS rank
                 FROM p) WHERE rank <= 5""")),

    // Binary (sign-bit) tier of the compression ladder: 1 bit/dim packed
    // into 32-bit words (float32 → 32×), Hamming shortlist of 50 per
    // query, exact integer-cosine re-rank to top-5. Exact integer Hamming
    // + exact dots → fully hash-checked ranking.
    QueryDef("q_x_ann_binary",
      (s, d) => graft.operators.VectorSearch.binaryHammingTopK(
        t(s, d, "embeddings"), col("vec_id") < 10, shortlist = 50, k = 5),
      Some(s"""WITH e AS (SELECT vec_id, $quantSql AS q,
                 list_transform(generate_series(0, 1), w ->
                   CAST(list_sum(list_transform(generate_series(1, 32), i ->
                     CASE WHEN embedding[w * 32 + i] > 0
                          THEN (CAST(1 AS BIGINT) << (i - 1)) ELSE 0 END))
                     AS BIGINT)) AS sig
               FROM embeddings),
               n AS (SELECT vec_id, q, sig, list_dot_product(q, q) AS nn FROM e),
               h AS (SELECT a.vec_id AS qid, b.vec_id AS nid,
                       CAST(bit_count(xor(a.sig[1], b.sig[1]))
                          + bit_count(xor(a.sig[2], b.sig[2])) AS BIGINT) AS hamming,
                       list_dot_product(a.q, b.q) / sqrt(a.nn * b.nn) AS sim
                     FROM n a JOIN n b ON a.vec_id < 10 AND b.vec_id <> a.vec_id),
               s AS (SELECT *, row_number() OVER
                       (PARTITION BY qid ORDER BY hamming, nid) AS hrank FROM h)
               SELECT qid, nid, hamming, sim, rank
               FROM (SELECT qid, nid, hamming, sim,
                       CAST(row_number() OVER
                         (PARTITION BY qid ORDER BY sim DESC, nid) AS BIGINT) AS rank
                     FROM s WHERE hrank <= 50)
               WHERE rank <= 5""")),

    // IVF-style ANN: rank neighbors only within the query's LSH bucket —
    // the scan-pruned scale path next to the exact brute-force baseline.
    QueryDef("q_x_ann_ivf",
      (s, d) => graft.operators.VectorSearch.ivfProbeTopK(
        t(s, d, "embeddings"), col("vec_id") < 20, 3, numPlanes, dim = 64),
      Some(ivfOracleSql)),

    // Index-quality audit: recall@5 of the IVF probe against the exact
    // brute-force top-5, per query — the measure-your-index step that
    // qualifies a bucketing config before a corpus-scale deployment (the
    // ANN twin of q_x_minhash_audit). Both rankings are deterministic, so
    // the audit hashes exactly; recall is an integer fixed-point ratio.
    QueryDef("q_x_ann_recall_audit",
      (s, d) => {
        val emb = t(s, d, "embeddings")
        val ex = graft.operators.VectorSearch.bruteForceTopK(
          emb, col("vec_id") < 20, 5).select(col("qid"), col("nid"))
        val ap = graft.operators.VectorSearch.ivfProbeTopK(
            emb, col("vec_id") < 20, 5, numPlanes, dim = 64)
          .select(col("qid"), col("nid"), lit(1L).as("hit"))
        ex.join(ap, Seq("qid", "nid"), "left")
          .groupBy(col("qid"))
          .agg(sum(coalesce(col("hit"), lit(0L))).as("n_hits"))
          .select(col("qid"), col("n_hits"),
            expr("n_hits * 1000000 div 5").as("recall_fp"))
      },
      Some {
        val planeList = planes.map(p => s"[${p.map(_.toDouble).mkString(", ")}]")
        val bucketSql = (0 until numPlanes).map { p =>
          s"(CASE WHEN list_dot_product(q, ${planeList(p)}) >= 0 THEN ${1L << p} ELSE 0 END)"
        }.mkString(" + ")
        s"""WITH e AS (SELECT vec_id, $quantSql AS q FROM embeddings),
            n AS (SELECT vec_id, q, list_dot_product(q, q) AS nn,
                    $bucketSql AS bucket FROM e),
            pall AS (SELECT a.vec_id AS qid, b.vec_id AS nid,
                  list_dot_product(a.q, b.q) / sqrt(a.nn * b.nn) AS sim
                  FROM n a JOIN n b ON a.vec_id < 20 AND b.vec_id <> a.vec_id),
            ex AS (SELECT qid, nid FROM (
                     SELECT qid, nid, row_number() OVER
                       (PARTITION BY qid ORDER BY sim DESC, nid) AS r
                     FROM pall) WHERE r <= 5),
            pb AS (SELECT a.vec_id AS qid, b.vec_id AS nid,
                  list_dot_product(a.q, b.q) / sqrt(a.nn * b.nn) AS sim
                  FROM n a JOIN n b ON a.bucket = b.bucket
                  AND a.vec_id < 20 AND b.vec_id <> a.vec_id),
            ap AS (SELECT qid, nid FROM (
                     SELECT qid, nid, row_number() OVER
                       (PARTITION BY qid ORDER BY sim DESC, nid) AS r
                     FROM pb) WHERE r <= 5)
            SELECT ex.qid, CAST(count(ap.nid) AS BIGINT) AS n_hits,
                   CAST(count(ap.nid) * 1000000 // 5 AS BIGINT) AS recall_fp
            FROM ex LEFT JOIN ap ON ex.qid = ap.qid AND ex.nid = ap.nid
            GROUP BY 1"""
      }),

    // ANN through the PERSISTED IVF index: buildIvfIndex → catalog write →
    // read back → probe. Only the query rows are quantized/bucketed at
    // query time; the corpus side is the stored index scan — one embedding
    // corpus serving many retrieval batches. Same oracle as q_x_ann_ivf:
    // the stored index must not change a single rank.
    QueryDef("q_x_ann_index",
      (s, d) => {
        val emb = t(s, d, "embeddings")
        val cat = new graft.catalog.Catalog(s, scratch(s, d, "graft-ivf-index"))
        if (!cat.exists("ivf_index"))
          cat.writeSorted("ivf_index",
            graft.operators.VectorSearch.buildIvfIndex(emb, numPlanes, dim = 64),
            4, "bucket")
        graft.operators.VectorSearch.ivfProbeTopKIndexed(
          cat.read("ivf_index"), emb.filter(col("vec_id") < 20), 3, numPlanes, dim = 64)
      },
      Some(ivfOracleSql)),

    // ANN through the INT8-compressed stored index: same IVF shape as
    // q_x_ann_index but the stored payload is (v8 tinyint codes + scale +
    // nn8) — ~8x smaller raw vector bytes, the 100 TB index-storage lever.
    // Ranking uses the codes directly (cosine is scale-invariant), so the
    // probe is exact and oracle-able; displacement vs full-width ranks is
    // quantization-bounded (spec-pinned).
    QueryDef("q_x_ann_index_int8",
      (s, d) => {
        val emb = t(s, d, "embeddings")
        val cat = new graft.catalog.Catalog(s, scratch(s, d, "graft-ivf-index"))
        if (!cat.exists("ivf_index_int8"))
          cat.writeSorted("ivf_index_int8",
            graft.operators.VectorSearch.buildIvfIndexInt8(emb, numPlanes, dim = 64),
            4, "bucket")
        graft.operators.VectorSearch.ivfProbeTopKIndexedInt8(
          cat.read("ivf_index_int8"), emb.filter(col("vec_id") < 20), 3, numPlanes, dim = 64)
      },
      Some(int8IvfOracleSql)),

    // Johnson-Lindenstrauss random projection (64 → 16 dims): the pre-ANN
    // compression map — deterministic integer planes, exact dots, zero
    // shuffles. The oracle replays the identical plane literals.
    QueryDef("q_x_random_projection",
      (s, d) => graft.operators.VectorSearch.randomProjection(
        t(s, d, "embeddings"), outDim = 16, dim = 64),
      Some {
        val pl = graft.operators.VectorSearch.planes(16, 64)
        val posList = (0 until 16).mkString("[", ", ", "]")
        val valList = pl.map(p =>
          s"CAST(list_dot_product(q, [${p.map(_.toDouble).mkString(", ")}]) AS BIGINT)")
          .mkString("[", ", ", "]")
        s"""SELECT vec_id, CAST(pos AS BIGINT) AS pos, value FROM (
              SELECT vec_id, unnest($posList) AS pos, unnest($valList) AS value
              FROM (SELECT vec_id, $quantSql AS q FROM embeddings
                    WHERE embedding IS NOT NULL))"""
      }),

    // INT8 compression: per-vector symmetric max-abs quantization to
    // [-127, 127] — the 4x storage cut a 100 TB embedding store takes
    // before index build. Map-only; exact integers + one IEEE rescale, so
    // both engines emit identical codes and scales.
    QueryDef("q_x_embed_int8",
      (s, d) => graft.operators.VectorSearch.int8Components(t(s, d, "embeddings")),
      Some(s"""SELECT vec_id, CAST(pos AS BIGINT) AS pos,
                      CAST(CASE WHEN mx = 0 THEN 0
                           ELSE floor(v * 127.0 / mx + 0.5) END AS BIGINT) AS v8,
                      CAST(mx AS DOUBLE) / 127 AS scale
               FROM (SELECT vec_id, mx,
                       unnest(generate_series(0, len(q) - 1)) AS pos,
                       unnest(q) AS v
                     FROM (SELECT vec_id, q,
                             list_max(list_transform(q, x -> abs(x))) AS mx
                           FROM (SELECT vec_id, $quantSql AS q FROM embeddings
                                 WHERE embedding IS NOT NULL)))""")),

    // Mean pooling: per-group embedding centroid in long-row form — the
    // cluster-prototype aggregate. Integer sums are order-independent, so
    // the final double division is identical on both engines.
    QueryDef("q_x_embed_centroid",
      (s, d) => graft.operators.VectorSearch.groupCentroids(
        t(s, d, "embeddings"), col("vec_id") % 4),
      Some(s"""SELECT grp, pos, CAST(sum(val) AS DOUBLE) / count(*) AS centroid,
               count(*) AS n_vectors
               FROM (SELECT vec_id % 4 AS grp,
                     unnest(generate_series(0, len(q) - 1)) AS pos,
                     unnest(q) AS val
                     FROM (SELECT vec_id, $quantSql AS q FROM embeddings))
               GROUP BY 1, 2""")),

    // Distributed k-means (Lloyd's): centroids live on the driver as
    // integer literals, so every assignment pass is a pure map over the
    // corpus scan (zero joins/shuffles) and each update is one hash agg +
    // a k·dim-row collect — the MLlib shape, declaratively. Fully
    // deterministic (quantized grid, hash-ranked seeds), hence oracle-exact.
    QueryDef("q_x_kmeans",
      (s, d) => graft.operators.KMeans.assign(t(s, d, "embeddings"), kmeansModel(s, d)),
      Some(kmeansOracleSql)),

    // Per-point simplified silhouette under the shared fitted model — the
    // clustering-quality audit (own-centroid d² vs nearest-other d², both
    // exact BIGINTs; sil = (b²−a²)/b² is one IEEE division). The oracle
    // refits the identical model (kmeansCtes' c2) and ranks each point's
    // k distances by (d², cid) — per point q·q is constant, so that
    // ordering equals the Spark side's (negscore, cid) struct sort.
    // Embedding hygiene census — the ingest gate before indexing a batch:
    // NULL / all-zero / near-zero / wrong-dimension counts plus the exact
    // quantized-norm² range, one map-side pass + a 1-row aggregate (all
    // BIGINT counts and single-vector norms — nothing corpus-summed).
    QueryDef("q_x_embed_audit",
      (s, d) => graft.operators.VectorSearch.embeddingAudit(
        t(s, d, "embeddings"), expectedDim = 64),
      Some(s"""WITH n AS (SELECT embedding,
                 CASE WHEN embedding IS NULL THEN NULL
                      ELSE CAST(list_dot_product(q, q) AS BIGINT) END AS norm2,
                 len(embedding) AS dim
               FROM (SELECT embedding, $quantSql AS q FROM embeddings))
               SELECT CAST(count(*) AS BIGINT) AS n_vectors,
                 CAST(count(*) FILTER (embedding IS NULL) AS BIGINT) AS n_null,
                 CAST(count(*) FILTER (norm2 = 0) AS BIGINT) AS n_zero,
                 CAST(count(*) FILTER (norm2 > 0 AND norm2 < 10000) AS BIGINT)
                   AS n_tiny,
                 CAST(count(*) FILTER (embedding IS NOT NULL AND dim <> 64)
                   AS BIGINT) AS n_wrong_dim,
                 CAST(min(norm2) AS BIGINT) AS min_norm2,
                 CAST(max(norm2) AS BIGINT) AS max_norm2
               FROM n""")),

    QueryDef("q_x_silhouette",
      (s, d) => graft.operators.KMeans.silhouette(
        t(s, d, "embeddings"), kmeansModel(s, d)),
      Some(s"""WITH $kmeansCtes,
               dd AS (SELECT e.vec_id, c2.cid,
                        CAST(list_dot_product(e.q, e.q)
                             + list_dot_product(c2.q, c2.q)
                             - 2 * list_dot_product(e.q, c2.q) AS BIGINT) AS d2
                      FROM e CROSS JOIN c2),
               rk AS (SELECT vec_id, cid, d2, row_number() OVER
                        (PARTITION BY vec_id ORDER BY d2, cid) AS r
                      FROM dd)
               SELECT a.vec_id, CAST(a.cid AS BIGINT) AS cluster,
                      a.d2 AS a2, b.d2 AS b2,
                      CASE WHEN b.d2 = 0 THEN CAST(0 AS DOUBLE)
                           ELSE CAST(b.d2 - a.d2 AS DOUBLE) / b.d2 END AS sil
               FROM (SELECT vec_id, cid, d2 FROM rk WHERE r = 1) a
               JOIN (SELECT vec_id, d2 FROM rk WHERE r = 2) b USING (vec_id)""")),

    // Bitext mining with the margin criterion (VectorSearch
    // .mineBitextExact): label-0 vectors as the "source language", label-1
    // as the "target"; each source's best target is accepted only when the
    // best dot beats the runner-up by the 1.05 fixed-point margin ratio —
    // one integer compare, no division. The oracle replays the cross join,
    // the top-2 window, and the accept rule verbatim.
    QueryDef("q_x_bitext_mining",
      (s, d) => {
        val emb = t(s, d, "embeddings")
        graft.operators.VectorSearch.mineBitextExact(
          emb.filter(col("label") === 0), emb.filter(col("label") === 1))
      },
      Some(s"""WITH a AS (SELECT vec_id AS src_id, $quantSql AS q FROM embeddings
                          WHERE label = 0 AND embedding IS NOT NULL),
               b AS (SELECT vec_id AS tgt_id, $quantSql AS q FROM embeddings
                     WHERE label = 1 AND embedding IS NOT NULL),
               sc AS (SELECT a.src_id, b.tgt_id,
                        CAST(list_dot_product(a.q, b.q) AS BIGINT) AS dot
                      FROM a CROSS JOIN b),
               rk AS (SELECT src_id, tgt_id, dot, row_number() OVER
                        (PARTITION BY src_id ORDER BY dot DESC, tgt_id) AS r
                      FROM sc),
               t2 AS (SELECT src_id,
                        max(CASE WHEN r = 1 THEN tgt_id END) AS tgt_id,
                        max(CASE WHEN r = 1 THEN dot END) AS s1,
                        max(CASE WHEN r = 2 THEN dot END) AS s2
                      FROM rk WHERE r <= 2 GROUP BY 1)
               SELECT src_id, tgt_id, s1, s2,
                 (s1 > 0 AND (coalesce(s2, 0) <= 0
                              OR s1 * 1000000 >= 1050000 * s2)) AS accepted
               FROM t2""")),

    // The corpus-scale form of the same miner (VectorSearch.mineBitextIvf):
    // BOTH language sides hash through the SAME 4 LSH hyperplanes, so
    // candidates come from one bucket equi-join (O(Σ per-bucket src·tgt))
    // instead of the all-pairs cross join — the CCMatrix shape. Margin
    // arithmetic unchanged; best/runner-up are the in-bucket top-2. The
    // oracle replays the shared bucketing on both sides, the bucket join,
    // and the accept rule verbatim.
    QueryDef("q_x_bitext_mining_ivf",
      (s, d) => {
        val emb = t(s, d, "embeddings")
        graft.operators.VectorSearch.mineBitextIvf(
          emb.filter(col("label") === 0), emb.filter(col("label") === 1),
          numPlanes = 4, dim = 64)
      },
      Some {
        val planeList = planes.map(p => s"[${p.map(_.toDouble).mkString(", ")}]")
        val bucket4 = (0 until 4).map { p =>
          s"(CASE WHEN list_dot_product(q, ${planeList(p)}) >= 0 THEN ${1L << p} ELSE 0 END)"
        }.mkString(" + ")
        s"""WITH a AS (SELECT vec_id AS src_id, q, $bucket4 AS bucket
                       FROM (SELECT vec_id, $quantSql AS q FROM embeddings
                             WHERE label = 0 AND embedding IS NOT NULL)),
               b AS (SELECT vec_id AS tgt_id, q, $bucket4 AS bucket
                     FROM (SELECT vec_id, $quantSql AS q FROM embeddings
                           WHERE label = 1 AND embedding IS NOT NULL)),
               sc AS (SELECT a.src_id, b.tgt_id,
                        CAST(list_dot_product(a.q, b.q) AS BIGINT) AS dot
                      FROM a JOIN b ON a.bucket = b.bucket),
               rk AS (SELECT src_id, tgt_id, dot, row_number() OVER
                        (PARTITION BY src_id ORDER BY dot DESC, tgt_id) AS r
                      FROM sc),
               t2 AS (SELECT src_id,
                        max(CASE WHEN r = 1 THEN tgt_id END) AS tgt_id,
                        max(CASE WHEN r = 1 THEN dot END) AS s1,
                        max(CASE WHEN r = 2 THEN dot END) AS s2
                      FROM rk WHERE r <= 2 GROUP BY 1)
               SELECT src_id, tgt_id, s1, s2,
                 (s1 > 0 AND (coalesce(s2, 0) <= 0
                              OR s1 * 1000000 >= 1050000 * s2)) AS accepted
               FROM t2"""
      }),

    // Cluster-balanced prototypicality selection: per k-means cluster keep
    // the 30 rows nearest their centroid (exact integer d², ties by id) —
    // the diversity-preserving quota between SemDeDup and a global quality
    // cut. The oracle replays the fit, the assignment, d² against the
    // final centroids, and the per-cluster rank verbatim.
    QueryDef("q_x_select_cluster_balanced",
      (s, d) => graft.operators.KMeans.clusterBalancedSelect(
        t(s, d, "embeddings"), kmeansModel(s, d), quota = 30),
      Some(s"""WITH $kmeansCtes,
               dd AS (SELECT a3.vec_id, a3.cid,
                        CAST(list_dot_product(a3.q, a3.q)
                             - 2 * list_dot_product(a3.q, c.q)
                             + list_dot_product(c.q, c.q) AS BIGINT) AS d2
                      FROM a3 JOIN c2 c ON a3.cid = c.cid)
               SELECT vec_id, CAST(cid AS BIGINT) AS cluster, d2,
                 CAST(rk AS BIGINT) AS rank
               FROM (SELECT vec_id, cid, d2,
                       row_number() OVER (PARTITION BY cid ORDER BY d2, vec_id) AS rk
                     FROM dd)
               WHERE rk <= 30""")),

    // IVF ANN with the k-means model as coarse quantizer (the production
    // IVF-Flat shape): corpus rows bucket to their nearest centroid
    // map-side; probes rank only inside the query's cluster. The oracle
    // replays the full fit, then the in-cluster ranking.
    QueryDef("q_x_ann_kmeans",
      (s, d) => graft.operators.KMeans.ivfProbeTopK(
        t(s, d, "embeddings"), kmeansModel(s, d), col("vec_id") < 20, 3),
      Some(kmeansAnnOracleSql)),

    // The same probe through a STORED model: fit → Catalog.write (versioned
    // k·dim-cell table) → loadModel → assign — the train-once/score-many
    // production shape, where the scoring job never sees the training
    // corpus. The model is exact integers, so the round-trip through
    // parquet changes nothing: same oracle as q_x_ann_kmeans.
    QueryDef("q_x_ann_kmeans_stored",
      (s, d) => {
        val cat = new graft.catalog.Catalog(s, scratch(s, d, "graft-kmeans-model"))
        if (!cat.exists("kmeans_model"))
          graft.operators.KMeans.saveModel(cat, "kmeans_model", s, kmeansModel(s, d))
        graft.operators.KMeans.ivfProbeTopK(
          t(s, d, "embeddings"),
          graft.operators.KMeans.loadModel(cat, "kmeans_model"),
          col("vec_id") < 20, 3)
      },
      Some(kmeansAnnOracleSql)),

    // kmeans‖ (Bahmani et al.) as the PRODUCTION fit path, oracle-gated end
    // to end: deterministic oversampling (id-hash coins against the exact
    // u·φ < d²·l·2⁴⁰ inequality), candidate weighting, the driver-side
    // weighted Lloyd reduction, and 2 distributed updates — all replayed in
    // SQL. Proves the better-seeded init (lower inertia at larger k, spec-
    // verified) carries the same engine-portability contract as plain fit.
    QueryDef("q_x_kmeans_parallel",
      (s, d) => graft.operators.KMeans.assign(
        t(s, d, "embeddings"), kmeansParallelModel(s, d)),
      Some(kmeansParallelOracleSql)),

    // Incremental (mini-batch) model refresh — continual clustering: fold
    // one batch (vec_id % 7 = 3 stands in for the night's new data) into
    // the trained model via its (centroid, weight) sufficient statistics,
    // never revisiting the training corpus; then re-assign the corpus
    // under the refreshed model. The oracle replays the weighted grid-mean
    // merge cell by cell.
    QueryDef("q_x_kmeans_update",
      (s, d) => {
        val emb = t(s, d, "embeddings")
        val m = kmeansModel(s, d)
        val w = graft.operators.KMeans.clusterWeights(emb, m)
        val m2 = graft.operators.KMeans.updateModel(
          emb.filter(col("vec_id") % 7 === 3), m, w)
        graft.operators.KMeans.assign(emb, m2)
      },
      Some(kmeansUpdateOracleSql)),

    // Semantic dedup (SemDeDup): near-dup pairs blocked by k-means CLUSTER
    // instead of hyperplane bucket — learned clusters put semantic copies
    // together, so candidate volume is Σ cluster² with better recall per
    // candidate. Threshold 0.3 as in q_x_dedup_embed (random synthetic
    // embeddings; a real corpus uses ≥0.9).
    QueryDef("q_x_dedup_semantic",
      (s, d) => graft.operators.KMeans.semanticNearDups(
        t(s, d, "embeddings"), kmeansModel(s, d), 0.3),
      Some(s"""WITH $kmeansCtes,
               n AS (SELECT vec_id, q, list_dot_product(q, q) AS nn, cid FROM a3)
               SELECT a.vec_id AS id1, b.vec_id AS id2,
                      list_dot_product(a.q, b.q) / sqrt(a.nn * b.nn) AS sim
               FROM n a JOIN n b ON a.cid = b.cid AND a.vec_id < b.vec_id
               WHERE list_dot_product(a.q, b.q) / sqrt(a.nn * b.nn) >= 0.3""")),

    // LSH-bucketed embedding near-dup: 8 random-hyperplane sign bits → 256
    // buckets; exact cosine verify within buckets. Threshold 0.3 because the
    // synthetic embeddings are random (max pairwise cosine ≈ 0.5 — probed);
    // a real corpus would use ≥0.9 (the operator default is 0.8).
    QueryDef("q_x_dedup_embed",
      (s, d) => graft.operators.VectorSearch.nearDuplicates(
        t(s, d, "embeddings"), 0.3, numPlanes, dim = 64),
      Some {
        val planeList = planes.map(p => s"[${p.map(_.toDouble).mkString(", ")}]")
        val bucketSql = (0 until numPlanes).map { p =>
          s"(CASE WHEN list_dot_product(q, ${planeList(p)}) >= 0 THEN ${1L << p} ELSE 0 END)"
        }.mkString(" + ")
        s"""WITH e AS (SELECT vec_id, $quantSql AS q FROM embeddings),
            n AS (SELECT vec_id, q, list_dot_product(q, q) AS nn, $bucketSql AS bucket FROM e)
            SELECT a.vec_id AS id1, b.vec_id AS id2,
                   list_dot_product(a.q, b.q) / sqrt(a.nn * b.nn) AS sim
            FROM n a JOIN n b ON a.bucket = b.bucket AND a.vec_id < b.vec_id
            WHERE list_dot_product(a.q, b.q) / sqrt(a.nn * b.nn) >= 0.3"""
      }),

    // Similarity histogram over the SAME LSH candidate pairs — the
    // threshold-calibration audit ("where does candidate mass sit before
    // I commit to cosine ≥ X"). Bins at floor(sim·20); sims are
    // bit-identical cross-engine so bin edges cannot disagree.
    QueryDef("q_x_sim_histogram",
      (s, d) => graft.operators.VectorSearch.similarityHistogram(
        t(s, d, "embeddings"), numPlanes, dim = 64),
      Some {
        val planeList = planes.map(p => s"[${p.map(_.toDouble).mkString(", ")}]")
        val bucketSql = (0 until numPlanes).map { p =>
          s"(CASE WHEN list_dot_product(q, ${planeList(p)}) >= 0 THEN ${1L << p} ELSE 0 END)"
        }.mkString(" + ")
        s"""WITH e AS (SELECT vec_id, $quantSql AS q FROM embeddings),
            n AS (SELECT vec_id, q, list_dot_product(q, q) AS nn, $bucketSql AS bucket FROM e),
            p AS (SELECT list_dot_product(a.q, b.q) / sqrt(a.nn * b.nn) AS sim
                  FROM n a JOIN n b ON a.bucket = b.bucket AND a.vec_id < b.vec_id)
            SELECT CAST(floor(sim * 20) AS BIGINT) AS bin, count(*) AS n_pairs,
                   min(sim) AS min_sim, max(sim) AS max_sim
            FROM p GROUP BY 1"""
      }),

    // Incremental embedding near-dup (the recurring-ingest shape on the
    // vector side, mirroring minhash's incremental form): odd vec_ids are
    // the batch, even the corpus — batch buckets equi-join corpus buckets,
    // never a corpus self-join.
    QueryDef("q_x_dedup_embed_incremental",
      (s, d) => {
        val emb = t(s, d, "embeddings")
        graft.operators.VectorSearch.nearDuplicatesIncremental(
          emb.filter(col("vec_id") % 2 === 0), emb.filter(col("vec_id") % 2 === 1),
          0.3, numPlanes, dim = 64)
      },
      Some {
        val planeList = planes.map(p => s"[${p.map(_.toDouble).mkString(", ")}]")
        val bucketSql = (0 until numPlanes).map { p =>
          s"(CASE WHEN list_dot_product(q, ${planeList(p)}) >= 0 THEN ${1L << p} ELSE 0 END)"
        }.mkString(" + ")
        s"""WITH e AS (SELECT vec_id, $quantSql AS q FROM embeddings),
            n AS (SELECT vec_id, q, list_dot_product(q, q) AS nn, $bucketSql AS bucket FROM e)
            SELECT a.vec_id AS batch_id, b.vec_id AS corpus_id,
                   list_dot_product(a.q, b.q) / sqrt(a.nn * b.nn) AS sim
            FROM n a JOIN n b ON a.bucket = b.bucket
              AND a.vec_id % 2 = 1 AND b.vec_id % 2 = 0
            WHERE list_dot_product(a.q, b.q) / sqrt(a.nn * b.nn) >= 0.3"""
      })
  )
}
