package graft.queries

import org.apache.spark.sql.functions._
import Q._

/** Iterative graph analytics over relations — the link-centrality quality
  * signal of web-scale corpus curation, exercised here on the TPC-H
  * part↔supplier co-occurrence graph (the densest natural graph in the
  * fixtures). See [[graft.operators.GraphRank]] for the fixed-point
  * exactness and per-iteration shuffle-shape contracts.
  */
object GraphQueries {

  /** Per-(session, sfDir) co-purchase edge list shared by the triangle and
    * degree gates (identical derivation) — built once, persisted, and
    * re-persisted on access because the bench session clearCache()s
    * between queries. */
  private val coEdges = new Memo[org.apache.spark.sql.DataFrame]

  private def coPurchaseEdges(s: org.apache.spark.sql.SparkSession, d: String)
      : org.apache.spark.sql.DataFrame =
    Q.cached(coEdges(s, d)(
      graft.operators.GraphRank.coOccurrenceEdges(
        t(s, d, "lineitem"), "l_orderkey", "l_partkey", minShared = 2L)))

  /** DuckDB replay of [[graft.operators.GraphRank.kCore]]: `rounds` peel
    * rounds as chained MATERIALIZED CTEs (default-inlined CTEs would
    * re-expand e(i−1) exponentially — each round references its
    * predecessor three times). */
  private def kCoreOracle(k: Long, rounds: Int): String = {
    val head =
      """WITH m AS MATERIALIZED (SELECT DISTINCT l_orderkey AS g, l_partkey AS i FROM lineitem),
         e0 AS MATERIALIZED (SELECT x.i AS a, y.i AS b FROM m x JOIN m y
              ON x.g = y.g AND x.i < y.i GROUP BY 1, 2 HAVING count(*) >= 2)"""
    val peels = (1 to rounds).map { i =>
      s"""d$i AS MATERIALIZED (SELECT n, count(*) AS dg FROM
            (SELECT a AS n FROM e${i - 1} UNION ALL SELECT b FROM e${i - 1}) GROUP BY 1),
          e$i AS MATERIALIZED (SELECT a, b FROM e${i - 1}
            WHERE a IN (SELECT n FROM d$i WHERE dg >= $k)
              AND b IN (SELECT n FROM d$i WHERE dg >= $k))"""
    }
    (head +: peels).mkString(",\n") +
      s"""\nSELECT n, count(*) AS core_degree FROM
          (SELECT a AS n FROM e$rounds UNION ALL SELECT b FROM e$rounds) GROUP BY 1"""
  }

  /** DuckDB replay of [[graft.operators.GraphRank.labelPropagation]]:
    * `rounds` synchronous adopt-the-majority-neighbor-label rounds as
    * chained MATERIALIZED CTEs (argmax = row_number over (count DESC,
    * label) — the same (−count, label) struct-min order as the Spark
    * side). */
  private def lpaOracle(rounds: Int): String = {
    val head =
      """WITH m AS MATERIALIZED (SELECT DISTINCT l_orderkey AS g, l_partkey AS i FROM lineitem),
         e AS MATERIALIZED (SELECT x.i AS a, y.i AS b FROM m x JOIN m y
              ON x.g = y.g AND x.i < y.i GROUP BY 1, 2 HAVING count(*) >= 2),
         und AS MATERIALIZED (SELECT a AS src, b AS dst FROM e
              UNION ALL SELECT b, a FROM e),
         l0 AS MATERIALIZED (SELECT DISTINCT src AS n, src AS community FROM und)"""
    val steps = (1 to rounds).map { i =>
      s"""c$i AS MATERIALIZED (SELECT und.dst AS n, l${i - 1}.community, count(*) AS c
            FROM und JOIN l${i - 1} ON und.src = l${i - 1}.n GROUP BY 1, 2),
          l$i AS MATERIALIZED (SELECT n, community FROM
            (SELECT n, community, row_number() OVER
               (PARTITION BY n ORDER BY c DESC, community) AS rk FROM c$i)
            WHERE rk = 1)"""
    }
    (head +: steps).mkString(",\n") + s"\nSELECT n, community FROM l$rounds"
  }

  /** One (propagate, jump) pair of the pointer-doubled min-label CC round
    * as chained MATERIALIZED CTEs: neighbor-min in the left-join-LEAST
    * merge form (value-identical to the Spark side's self-loop fold — min
    * over the same per-node label sets), then the label-of-label pointer
    * jump as a keyed self-join. `prev` is the previous label CTE name,
    * `p` the pair index; edges are read from CTE `und`, emitting
    * nm$p/pp$p/l$p. */
  private def ccPair(p: Int, prev: String, und: String = "und",
      lbl: String = "l", comp: String = "component"): String =
    s"""nm$lbl$p AS MATERIALIZED (SELECT $und.dst AS n, min($prev.$comp) AS nbr_min
          FROM $und JOIN $prev ON $und.src = $prev.n GROUP BY 1),
        pp$lbl$p AS MATERIALIZED (SELECT l.n,
            least(l.$comp, COALESCE(nm$lbl$p.nbr_min, l.$comp)) AS $comp
          FROM $prev l LEFT JOIN nm$lbl$p USING (n)),
        $lbl$p AS MATERIALIZED (SELECT p.n, q.$comp
          FROM pp$lbl$p p JOIN pp$lbl$p q ON p.$comp = q.n)"""

  /** DuckDB replay of [[graft.operators.GraphRank.connectedComponents]]
    * (pointer-doubled form): `pairs` chained (propagate, jump) rounds —
    * coverage 2^pairs−1 hops, converged on the gate fixture (spec pins
    * diameter ≤ 8, so 4 pairs ≥ the old 8 plain rounds), after which the
    * Spark side's early-out yields the identical fixed point. */
  private def ccOracle(pairs: Int): String = {
    val head =
      """WITH m AS MATERIALIZED (SELECT DISTINCT l_orderkey AS g, l_partkey AS i FROM lineitem),
         e AS MATERIALIZED (SELECT x.i AS a, y.i AS b FROM m x JOIN m y
              ON x.g = y.g AND x.i < y.i GROUP BY 1, 2 HAVING count(*) >= 2),
         und AS MATERIALIZED (SELECT a AS src, b AS dst FROM e
              UNION ALL SELECT b, a FROM e),
         l0 AS MATERIALIZED (SELECT DISTINCT src AS n, src AS component FROM und)"""
    val steps = (1 to pairs).map(i => ccPair(i, s"l${i - 1}"))
    (head +: steps).mkString(",\n") + s"\nSELECT n, component FROM l$pairs"
  }

  lazy val all: Seq[QueryDef] = Seq(

    // 3 damped PageRank iterations over the undirected part↔supplier graph
    // (node ids disambiguated part→2k, supplier→2k+1). Fixed-point BIGINT
    // ranks make the iteration bit-identical cross-engine — the oracle
    // replays every truncating division verbatim.
    QueryDef("q_x_pagerank",
      (s, d) => {
        val edges = t(s, d, "lineitem")
          .select((col("l_partkey") * 2).as("src"),
            (col("l_suppkey") * 2 + 1).as("dst"))
          .distinct()
        graft.operators.GraphRank.pageRank(
            graft.operators.GraphRank.undirected(edges), iters = 3)
          .select(col("node"), col("rank").as("rank_fp"))
      },
      Some("""WITH ed AS MATERIALIZED (SELECT DISTINCT l_partkey*2 AS src, l_suppkey*2+1 AS dst
                          FROM lineitem),
              und AS MATERIALIZED (SELECT DISTINCT src, dst FROM
                      (SELECT src, dst FROM ed
                       UNION ALL SELECT dst AS src, src AS dst FROM ed)),
              nodes AS MATERIALIZED (SELECT DISTINCT src AS node FROM
                        (SELECT src FROM und UNION ALL SELECT dst FROM und)),
              deg AS MATERIALIZED (SELECT src AS node, count(*) AS outdeg FROM und GROUP BY 1),
              nn AS MATERIALIZED (SELECT count(*) AS n_nodes FROM nodes),
              r0 AS MATERIALIZED (SELECT node, 1000000000 // n_nodes AS rank FROM nodes CROSS JOIN nn),
              c1 AS MATERIALIZED (SELECT und.dst AS node, sum(r0.rank // deg.outdeg) AS inflow
                     FROM und JOIN r0 ON und.src = r0.node
                              JOIN deg ON und.src = deg.node GROUP BY 1),
              r1 AS MATERIALIZED (SELECT nodes.node,
                            (150000000 // nn.n_nodes) + ((85 * coalesce(c1.inflow, 0)) // 100) AS rank
                     FROM nodes CROSS JOIN nn LEFT JOIN c1 ON nodes.node = c1.node),
              c2 AS MATERIALIZED (SELECT und.dst AS node, sum(r1.rank // deg.outdeg) AS inflow
                     FROM und JOIN r1 ON und.src = r1.node
                              JOIN deg ON und.src = deg.node GROUP BY 1),
              r2 AS MATERIALIZED (SELECT nodes.node,
                            (150000000 // nn.n_nodes) + ((85 * coalesce(c2.inflow, 0)) // 100) AS rank
                     FROM nodes CROSS JOIN nn LEFT JOIN c2 ON nodes.node = c2.node),
              c3 AS MATERIALIZED (SELECT und.dst AS node, sum(r2.rank // deg.outdeg) AS inflow
                     FROM und JOIN r2 ON und.src = r2.node
                              JOIN deg ON und.src = deg.node GROUP BY 1),
              r3 AS MATERIALIZED (SELECT nodes.node,
                            (150000000 // nn.n_nodes) + ((85 * coalesce(c3.inflow, 0)) // 100) AS rank
                     FROM nodes CROSS JOIN nn LEFT JOIN c3 ON nodes.node = c3.node)
              SELECT node, CAST(rank AS BIGINT) AS rank_fp FROM r3""")),

    // Personalized PageRank seeded on nation-0 suppliers: restart mass
    // concentrates on the seed set, so ranks measure graph proximity to it
    // — the "parts/suppliers similar to these" recommendation shape. Same
    // fixed-point arithmetic as q_x_pagerank; rank-0 (unreached) nodes are
    // filtered on both sides.
    QueryDef("q_x_pagerank_seeded",
      (s, d) => {
        val edges = t(s, d, "lineitem")
          .select((col("l_partkey") * 2).as("src"),
            (col("l_suppkey") * 2 + 1).as("dst"))
          .distinct()
        val seeds = t(s, d, "supplier").filter(col("s_nationkey") === 0)
          .select((col("s_suppkey") * 2 + 1).as("node"))
        graft.operators.GraphRank.personalizedPageRank(
            graft.operators.GraphRank.undirected(edges), seeds, iters = 3)
          .filter(col("rank") > 0)
          .select(col("node"), col("rank").as("rank_fp"))
      },
      Some("""WITH ed AS MATERIALIZED (SELECT DISTINCT l_partkey*2 AS src, l_suppkey*2+1 AS dst
                          FROM lineitem),
              und AS MATERIALIZED (SELECT DISTINCT src, dst FROM
                      (SELECT src, dst FROM ed
                       UNION ALL SELECT dst AS src, src AS dst FROM ed)),
              nodes AS MATERIALIZED (SELECT DISTINCT src AS node FROM
                        (SELECT src FROM und UNION ALL SELECT dst FROM und)),
              deg AS MATERIALIZED (SELECT src AS node, count(*) AS outdeg FROM und GROUP BY 1),
              sd AS MATERIALIZED (SELECT DISTINCT s_suppkey*2+1 AS node FROM supplier
                     WHERE s_nationkey = 0),
              ns AS MATERIALIZED (SELECT count(*) AS n_seeds FROM sd),
              ws AS MATERIALIZED (SELECT nodes.node,
                            CASE WHEN sd.node IS NOT NULL THEN 1 ELSE 0 END AS is_seed,
                            greatest(ns.n_seeds, 1) AS n_seeds
                     FROM nodes CROSS JOIN ns LEFT JOIN sd ON nodes.node = sd.node),
              r0 AS MATERIALIZED (SELECT node, (is_seed * 1000000000) // n_seeds AS rank FROM ws),
              c1 AS MATERIALIZED (SELECT und.dst AS node, sum(r0.rank // deg.outdeg) AS inflow
                     FROM und JOIN r0 ON und.src = r0.node
                              JOIN deg ON und.src = deg.node GROUP BY 1),
              r1 AS MATERIALIZED (SELECT ws.node,
                            ((ws.is_seed * 150000000) // ws.n_seeds)
                            + ((85 * coalesce(c1.inflow, 0)) // 100) AS rank
                     FROM ws LEFT JOIN c1 ON ws.node = c1.node),
              c2 AS MATERIALIZED (SELECT und.dst AS node, sum(r1.rank // deg.outdeg) AS inflow
                     FROM und JOIN r1 ON und.src = r1.node
                              JOIN deg ON und.src = deg.node GROUP BY 1),
              r2 AS MATERIALIZED (SELECT ws.node,
                            ((ws.is_seed * 150000000) // ws.n_seeds)
                            + ((85 * coalesce(c2.inflow, 0)) // 100) AS rank
                     FROM ws LEFT JOIN c2 ON ws.node = c2.node),
              c3 AS MATERIALIZED (SELECT und.dst AS node, sum(r2.rank // deg.outdeg) AS inflow
                     FROM und JOIN r2 ON und.src = r2.node
                              JOIN deg ON und.src = deg.node GROUP BY 1),
              r3 AS MATERIALIZED (SELECT ws.node,
                            ((ws.is_seed * 150000000) // ws.n_seeds)
                            + ((85 * coalesce(c3.inflow, 0)) // 100) AS rank
                     FROM ws LEFT JOIN c3 ON ws.node = c3.node)
              SELECT node, CAST(rank AS BIGINT) AS rank_fp FROM r3 WHERE rank > 0""")),

    // Exact triangle census of the part co-purchase graph (parts sharing
    // ≥2 orders). Co-occurrence pair volume is per-order k² (orders hold
    // ≤7 parts — bucket-bounded, never corpus²); the count itself is two
    // node-keyed equi-joins, no adjacency blowup. One row out.
    QueryDef("q_x_triangles",
      (s, d) => {
        graft.operators.GraphRank.triangleStats(coPurchaseEdges(s, d))
      },
      Some("""WITH m AS (SELECT DISTINCT l_orderkey AS g, l_partkey AS i FROM lineitem),
              e AS (SELECT x.i AS a, y.i AS b FROM m x JOIN m y
                    ON x.g = y.g AND x.i < y.i
                    GROUP BY 1, 2 HAVING count(*) >= 2),
              w AS (SELECT e1.a, e1.b, e2.b AS c FROM e e1 JOIN e e2 ON e1.b = e2.a),
              tri AS (SELECT count(*) AS n_triangles FROM w
                      JOIN e e3 ON w.a = e3.a AND w.c = e3.b),
              nodes AS MATERIALIZED (SELECT count(DISTINCT n) AS n_nodes FROM
                        (SELECT a AS n FROM e UNION ALL SELECT b FROM e)),
              ne AS (SELECT count(*) AS n_edges FROM e)
              SELECT n_nodes, n_edges, n_triangles
              FROM nodes CROSS JOIN ne CROSS JOIN tri""")),

    // Market-basket association rules over order→part memberships: both
    // directed rules per co-purchased pair with support/confidence/lift,
    // each a single IEEE division of exact integer counts (bit-identical
    // cross-engine), top-50 by (lift, confidence, a, b).
    QueryDef("q_x_assoc_rules",
      (s, d) => graft.operators.GraphRank.associationRules(
        t(s, d, "lineitem"), "l_orderkey", "l_partkey", minShared = 2L, k = 50),
      Some("""WITH m AS (SELECT DISTINCT l_orderkey AS g, l_partkey AS i FROM lineitem),
              ng AS (SELECT count(DISTINCT g) AS n_groups FROM m),
              ic AS (SELECT i, count(*) AS n_i FROM m GROUP BY 1),
              pc AS (SELECT x.i AS a, y.i AS b, count(*) AS n_ab
                     FROM m x JOIN m y ON x.g = y.g AND x.i < y.i
                     GROUP BY 1, 2 HAVING count(*) >= 2),
              dir AS (SELECT a AS antecedent, b AS consequent, n_ab,
                             ia.n_i AS n_ante, ib.n_i AS n_cons, ng.n_groups
                      FROM pc JOIN ic ia ON pc.a = ia.i
                              JOIN ic ib ON pc.b = ib.i, ng
                      UNION ALL
                      SELECT b, a, n_ab, ib.n_i, ia.n_i, ng.n_groups
                      FROM pc JOIN ic ia ON pc.a = ia.i
                              JOIN ic ib ON pc.b = ib.i, ng),
              r AS (SELECT antecedent, consequent, n_ab,
                           CAST(n_ab AS DOUBLE) / n_groups AS support,
                           CAST(n_ab AS DOUBLE) / n_ante AS confidence,
                           CAST(n_ab * n_groups AS DOUBLE) /
                             CAST(n_ante * n_cons AS DOUBLE) AS lift
                    FROM dir)
              SELECT antecedent, consequent, n_ab, support, confidence, lift, rank
              FROM (SELECT *, CAST(row_number() OVER (ORDER BY lift DESC,
                      confidence DESC, antecedent, consequent) AS BIGINT) AS rank
                    FROM r)
              WHERE rank <= 50""")),

    // 3-core of the co-purchase graph: peel nodes of degree <3 for exactly
    // 12 synchronous rounds (the sf0.01 graph converges in 10; rounds past
    // convergence are the identity on BOTH sides, so the fixed budget keeps
    // Spark's early-exit loop and the oracle's chained MATERIALIZED CTEs in
    // exact agreement at any sf). The dense-community extractor: nodes that
    // survive are in a subgraph where everyone has ≥3 in-subgraph partners.
    QueryDef("q_x_k_core",
      (s, d) => graft.operators.GraphRank.kCore(coPurchaseEdges(s, d), 3L, 12),
      Some(kCoreOracle(3, 12)),
    ),

    // Synchronous label-propagation communities, 4 rounds, deterministic
    // (−count, label) argmax tie-break — the corpus-clustering companion
    // to connected components (CC merges everything touching; LPA finds
    // dense cores inside one component). Fixed round budget IS the spec.
    QueryDef("q_x_lpa_communities",
      (s, d) => graft.operators.GraphRank.labelPropagation(coPurchaseEdges(s, d), 4),
      Some(lpaOracle(4))),

    // Connected components of the co-purchase graph by pointer-doubled
    // min-label propagation (Shiloach–Vishkin shortcut): each round is a
    // neighbor-min propagate + a label-of-label jump, so coverage is
    // 2^rounds−1 hops, and the monotone label-sum early-out stops one
    // round past the fixed point. The oracle replays 7 fixed pairs
    // (coverage ≥ 254 hops; the graph converges at ≤6 pairs on every
    // tier, sf0.001→sf1, measured) — both sides reach the SAME fixed
    // point, so the hash is exact. NOTE the old 8 plain rounds were NOT
    // converged at sf0.01+ (diameter ~100): the gate only matched by
    // verbatim replay; this form computes the true components. The entity-resolution
    // closure: dedup pairs → components → one keeper per component.
    QueryDef("q_x_connected_components",
      (s, d) => graft.operators.GraphRank.connectedComponents(
        coPurchaseEdges(s, d), 8),
      Some(ccOracle(7))),

    // Degree distribution of the same co-purchase graph: how many nodes
    // have each undirected degree — the scale-freeness probe that decides
    // whether a graph needs skew handling. Node degrees from one union +
    // hash agg; the histogram is degree-cardinality-sized.
    QueryDef("q_x_degree_hist",
      (s, d) => {
        val edges = coPurchaseEdges(s, d)
        edges.select(col("a").as("n")).union(edges.select(col("b").as("n")))
          .groupBy(col("n")).agg(count(lit(1)).as("degree"))
          .groupBy(col("degree")).agg(count(lit(1)).as("n_nodes"))
      },
      Some("""WITH m AS (SELECT DISTINCT l_orderkey AS g, l_partkey AS i FROM lineitem),
              e AS (SELECT x.i AS a, y.i AS b FROM m x JOIN m y
                    ON x.g = y.g AND x.i < y.i
                    GROUP BY 1, 2 HAVING count(*) >= 2),
              deg AS MATERIALIZED (SELECT n, count(*) AS degree FROM
                      (SELECT a AS n FROM e UNION ALL SELECT b FROM e) GROUP BY 1)
              SELECT degree, count(*) AS n_nodes FROM deg GROUP BY 1""")),

    // 2 rounds of HITS over the DIRECTED part→supplier graph: parts are pure
    // hubs, suppliers pure authorities (bipartite), so the gate checks both
    // score channels and the zero-score channel at once. L1-normalized
    // fixed-point BIGINT half-steps — the oracle replays every truncating
    // division and both normalizing totals per round verbatim.
    QueryDef("q_x_hits",
      (s, d) => {
        val edges = t(s, d, "lineitem")
          .select((col("l_partkey") * 2).as("src"),
            (col("l_suppkey") * 2 + 1).as("dst"))
          .distinct()
        graft.operators.GraphRank.hits(edges, iters = 2)
      },
      Some(hitsOracle(2))),

    // Neighbor-set Jaccard over the co-purchase graph — the link-prediction
    // / graph-entity-resolution score ("how interchangeable are these two
    // parts, structurally"). Candidates come from the wedge equi-join
    // (pairs sharing ≥1 neighbor, Σ deg² volume — the minShared=2 edge
    // sparsifier keeps degrees bounded), similarity is exact integers plus
    // ONE truncating fixed-point division, replayed verbatim by the oracle.
    QueryDef("q_x_neighbor_jaccard",
      (s, d) => graft.operators.GraphRank.neighborJaccard(
        coPurchaseEdges(s, d).select(col("a").as("src"), col("b").as("dst")),
        minCommon = 2L),
      Some("""WITH m AS MATERIALIZED (SELECT DISTINCT l_orderkey AS g, l_partkey AS i
                                      FROM lineitem),
              e AS MATERIALIZED (SELECT x.i AS a, y.i AS b FROM m x JOIN m y
                   ON x.g = y.g AND x.i < y.i GROUP BY 1, 2 HAVING count(*) >= 2),
              und AS MATERIALIZED (SELECT a AS src, b AS dst FROM e
                   UNION ALL SELECT b, a FROM e),
              cmn AS (SELECT e1.src AS a, e2.src AS b, count(*) AS n_common
                      FROM und e1 JOIN und e2 ON e1.dst = e2.dst AND e1.src < e2.src
                      GROUP BY 1, 2 HAVING count(*) >= 2),
              deg AS MATERIALIZED (SELECT src AS node, count(*) AS deg FROM und GROUP BY 1)
              SELECT cmn.a, cmn.b,
                CAST(cmn.n_common AS BIGINT) AS n_common,
                CAST(da.deg AS BIGINT) AS deg_a,
                CAST(db.deg AS BIGINT) AS deg_b,
                CAST((cmn.n_common * 1000000) // (da.deg + db.deg - cmn.n_common)
                     AS BIGINT) AS jac_fp
              FROM cmn JOIN deg da ON cmn.a = da.node
                       JOIN deg db ON cmn.b = db.node""")),

    // HUB-CAPPED neighbor Jaccard — the production form at web scale
    // (SCALE.md's documented sf1 lever, now gated): wedge volume is
    // Σ deg(center)², so centers above maxDeg=20 mediate no wedges;
    // n_common becomes the hub-discounted overlap (deterministic lower
    // bound — a hub everyone shares carries no similarity signal) while
    // deg_a/deg_b stay true degrees. Run on the part↔supplier bipartite
    // graph, whose supplier side has REAL hubs (degree up to ~700 at
    // sf0.1: uncapped wedge volume grows quadratically — 499k pairs at
    // cap 40 vs 14k at cap 20). The oracle replays the same cap.
    QueryDef("q_x_neighbor_jaccard_capped",
      (s, d) => graft.operators.GraphRank.neighborJaccardCapped(
        t(s, d, "lineitem")
          .select((col("l_partkey") * 2).as("src"),
            (col("l_suppkey") * 2 + 1).as("dst"))
          .distinct(),
        maxDeg = 20L, minCommon = 2L),
      Some("""WITH ed AS MATERIALIZED (SELECT DISTINCT l_partkey*2 AS a, l_suppkey*2+1 AS b
                          FROM lineitem),
              und AS MATERIALIZED (SELECT a AS src, b AS dst FROM ed
                   UNION ALL SELECT b, a FROM ed),
              deg AS MATERIALIZED (SELECT src AS node, count(*) AS deg FROM und GROUP BY 1),
              ctr AS (SELECT und.src, und.dst FROM und
                      JOIN deg ON und.dst = deg.node AND deg.deg <= 20),
              cmn AS (SELECT e1.src AS a, e2.src AS b, count(*) AS n_common
                      FROM ctr e1 JOIN ctr e2 ON e1.dst = e2.dst AND e1.src < e2.src
                      GROUP BY 1, 2 HAVING count(*) >= 2)
              SELECT cmn.a, cmn.b,
                CAST(cmn.n_common AS BIGINT) AS n_common,
                CAST(da.deg AS BIGINT) AS deg_a,
                CAST(db.deg AS BIGINT) AS deg_b,
                CAST((cmn.n_common * 1000000) // (da.deg + db.deg - cmn.n_common)
                     AS BIGINT) AS jac_fp
              FROM cmn JOIN deg da ON cmn.a = da.node
                       JOIN deg db ON cmn.b = db.node""")),

    // Multi-source BFS over the co-purchase graph: hop distance from the
    // "trusted seed" part set (p_size = 50) — the link-distance-from-
    // curated-set corpus signal (TrustRank's propagation skeleton) and the
    // k-hop reachability primitive. 4 fixed min-plus rounds, replayed
    // verbatim by chained CTEs; min is order-free so the gate is exact
    // whether or not the frontier drained.
    QueryDef("q_x_bfs_hops",
      (s, d) => graft.operators.GraphRank.bfsHops(
        coPurchaseEdges(s, d),
        t(s, d, "part").filter(col("p_size") === 50)
          .select(col("p_partkey").as("n")),
        rounds = 4),
      Some(bfsOracle(4))),

    // Incremental connected components: a deterministic 1-in-5 slice of
    // the co-purchase edges arrives as the NEW batch against a STORED
    // labeling (fitted once on the rest and persisted through the
    // catalog, like the stored LSH/IVF indexes — a real deployment reads
    // yesterday's labels, it does not refit them). Contraction maps batch
    // endpoints through the old labels, min-label rounds run on the
    // batch-bounded contracted graph only, old nodes re-resolve through
    // their root. No old-edge scan anywhere: the recurring-crawl
    // dedup-graph maintenance shape.
    QueryDef("q_x_cc_incremental",
      (s, d) => {
        val gr = graft.operators.GraphRank
        val edges = coPurchaseEdges(s, d)
        val isNew = graft.functions.Hashing.hash64(
          concat(col("a").cast("string"), lit(":"), col("b").cast("string"))) % 5 === 0
        val cat = new graft.catalog.Catalog(s, scratch(s, d, "graft-cc-labels"))
        if (!cat.exists("cc_labels"))
          cat.write("cc_labels",
            gr.connectedComponents(edges.filter(!isNew).select("a", "b"), rounds = 8))
        gr.connectedComponentsIncremental(cat.read("cc_labels"),
          edges.filter(isNew).select("a", "b"), rounds = 4)
      },
      Some(ccIncOracle(7, 4))),

    // End-to-end entity resolution: FastSS deletion-variant candidate
    // pairs over supplier names (operators.RecordLinkage) → levenshtein≤1
    // verified edges → connected components (8 min-label rounds) → one
    // golden record per cluster (the min-id member IS the component
    // label; its name is the canonical survivor). The classic
    // dedup-then-survive warehouse closure, every stage the equi-join
    // form — no block² compare, no driver graph state.
    QueryDef("q_x_er_resolve",
      (s, d) => {
        // connectedComponents persists, and releases, its own copy of the
        // pairs, and nothing reads them after it returns
        val pairs = graft.operators.RecordLinkage.editNeighborPairs(
            t(s, d, "supplier"), "s_suppkey", "s_name")
          .select(col("id1").as("a"), col("id2").as("b"))
        val comp = graft.operators.GraphRank.connectedComponents(pairs, rounds = 8)
        val sizes = comp.groupBy(col("component"))
          .agg(count(lit(1)).as("n_members"))
        comp.join(sizes, Seq("component"))
          .join(t(s, d, "supplier")
            .select(col("s_suppkey").cast("long").as("component"),
              col("s_name").as("canonical_name")), Seq("component"))
          .select(col("n").as("member"), col("component").as("cluster"),
            col("n_members"), col("canonical_name"))
      },
      Some(erOracle(4)))
  )

  /** DuckDB replay of [[graft.operators.GraphRank.hits]]: per round, the
    * authority half-step (raw inflow, L1 total, normalize) then the hub
    * half-step, every `//` and `greatest(…,1)` guard verbatim. */
  private def hitsOracle(iters: Int): String = {
    val S = graft.operators.GraphRank.Scale
    // every CTE is MATERIALIZED: default-inlined chained rounds re-expand
    // the whole prefix per reference, which at sf1 ground DuckDB into a
    // >78 GB temp spill (the bfs/cc oracles learned this first)
    val head =
      s"""WITH ed AS MATERIALIZED (SELECT DISTINCT l_partkey*2 AS src,
                      l_suppkey*2+1 AS dst FROM lineitem),
          nodes AS MATERIALIZED (SELECT DISTINCT node FROM
                    (SELECT src AS node FROM ed UNION ALL SELECT dst FROM ed)),
          nn AS MATERIALIZED (SELECT count(*) AS n_nodes FROM nodes),
          h0 AS MATERIALIZED (SELECT node, $S // n_nodes AS hub
                              FROM nodes CROSS JOIN nn)"""
    val rounds = (1 to iters).map { i =>
      s"""ra$i AS MATERIALIZED (SELECT ed.dst AS node, sum(h${i - 1}.hub) AS raw
             FROM ed JOIN h${i - 1} ON ed.src = h${i - 1}.node GROUP BY 1),
          ta$i AS MATERIALIZED (SELECT greatest(COALESCE(sum(raw), 1), 1) AS total FROM ra$i),
          a$i AS MATERIALIZED (SELECT nodes.node,
                    (COALESCE(ra$i.raw, 0) * $S) // ta$i.total AS auth
                  FROM nodes CROSS JOIN ta$i
                       LEFT JOIN ra$i ON nodes.node = ra$i.node),
          rh$i AS MATERIALIZED (SELECT ed.src AS node, sum(a$i.auth) AS raw
             FROM ed JOIN a$i ON ed.dst = a$i.node GROUP BY 1),
          th$i AS MATERIALIZED (SELECT greatest(COALESCE(sum(raw), 1), 1) AS total FROM rh$i),
          h$i AS MATERIALIZED (SELECT nodes.node,
                    (COALESCE(rh$i.raw, 0) * $S) // th$i.total AS hub
                  FROM nodes CROSS JOIN th$i
                       LEFT JOIN rh$i ON nodes.node = rh$i.node)"""
    }
    (head +: rounds).mkString(",\n") +
      s"""\nSELECT h$iters.node, CAST(h$iters.hub AS BIGINT) AS hub_fp,
              CAST(a$iters.auth AS BIGINT) AS auth_fp
          FROM h$iters JOIN a$iters USING (node)"""
  }

  /** DuckDB replay of [[graft.operators.GraphRank.bfsHops]] on the
    * co-purchase graph with the p_size=50 seed set: `rounds` min-plus
    * rounds as chained MATERIALIZED CTEs. The replay uses the full-outer
    * LEAST merge form — value-identical to the Spark side's weight-0
    * self-loop fold (both compute min over {dist(n)} ∪ {dist(m)+1 : m→n});
    * min is order-free so form differences can't shift a value. */
  private def bfsOracle(rounds: Int): String = {
    val inf = Long.MaxValue
    val head =
      """WITH m AS MATERIALIZED (SELECT DISTINCT l_orderkey AS g, l_partkey AS i FROM lineitem),
         e AS MATERIALIZED (SELECT x.i AS a, y.i AS b FROM m x JOIN m y
              ON x.g = y.g AND x.i < y.i GROUP BY 1, 2 HAVING count(*) >= 2),
         und AS MATERIALIZED (SELECT a AS src, b AS dst FROM e
              UNION ALL SELECT b, a FROM e),
         l0 AS MATERIALIZED (SELECT DISTINCT p_partkey AS n, CAST(0 AS BIGINT) AS dist
              FROM part WHERE p_size = 50)"""
    val steps = (1 to rounds).map { i =>
      s"""nm$i AS MATERIALIZED (SELECT und.dst AS n, min(l${i - 1}.dist) + 1 AS d
            FROM und JOIN l${i - 1} ON und.src = l${i - 1}.n GROUP BY 1),
          l$i AS MATERIALIZED (SELECT COALESCE(l.n, nm.n) AS n,
              LEAST(COALESCE(l.dist, $inf), COALESCE(nm.d, $inf)) AS dist
            FROM l${i - 1} l FULL JOIN nm$i nm ON l.n = nm.n)"""
    }
    (head +: steps).mkString(",\n") +
      s"\nSELECT n, CAST(dist AS BIGINT) AS dist FROM l$rounds"
  }

  /** DuckDB replay of [[graft.operators.GraphRank
    * .connectedComponentsIncremental]] on the hash-split co-purchase
    * graph: `oldRounds` min-label rounds over the 4/5 "old" slice, the
    * batch contraction (endpoints mapped through old labels, self for
    * unknown, least/greatest orient, distinct), `incRounds` rounds over
    * the contracted set, then the node-sized resolve join. */
  private def ccIncOracle(oldPairs: Int, incPairs: Int): String = {
    val splitHash = hash64Sql("(CAST(a AS VARCHAR) || ':' || CAST(b AS VARCHAR))")
    val head =
      s"""WITH m AS MATERIALIZED (SELECT DISTINCT l_orderkey AS g, l_partkey AS i FROM lineitem),
         e AS MATERIALIZED (SELECT x.i AS a, y.i AS b FROM m x JOIN m y
              ON x.g = y.g AND x.i < y.i GROUP BY 1, 2 HAVING count(*) >= 2),
         eo AS MATERIALIZED (SELECT a, b FROM e WHERE $splitHash % 5 <> 0),
         en AS MATERIALIZED (SELECT a, b FROM e WHERE $splitHash % 5 = 0),
         undo AS MATERIALIZED (SELECT a AS src, b AS dst FROM eo
              UNION ALL SELECT b, a FROM eo),
         lo0 AS MATERIALIZED (SELECT DISTINCT src AS n, src AS component FROM undo)"""
    val oldSteps = (1 to oldPairs).map(i => ccPair(i, s"lo${i - 1}", "undo", "lo"))
    val contract =
      s"""ec AS MATERIALIZED (SELECT DISTINCT least(x, y) AS a, greatest(x, y) AS b
            FROM (SELECT COALESCE(la.component, en.a) AS x,
                         COALESCE(lb.component, en.b) AS y
                  FROM en LEFT JOIN lo$oldPairs la ON en.a = la.n
                          LEFT JOIN lo$oldPairs lb ON en.b = lb.n)
            WHERE x <> y),
         undc AS MATERIALIZED (SELECT a AS src, b AS dst FROM ec
              UNION ALL SELECT b, a FROM ec),
         mc0 AS MATERIALIZED (SELECT DISTINCT src AS n, src AS component FROM undc)"""
    val incSteps = (1 to incPairs).map(i => ccPair(i, s"mc${i - 1}", "undc", "mc"))
    val resolve =
      s"""alln AS (SELECT n, component FROM lo$oldPairs
            UNION ALL
            SELECT n, n AS component FROM (
              SELECT DISTINCT n FROM
                (SELECT a AS n FROM en UNION ALL SELECT b FROM en)
              WHERE n NOT IN (SELECT n FROM lo$oldPairs)))
          SELECT alln.n, COALESCE(mc.root, alln.component) AS component
          FROM alln LEFT JOIN
            (SELECT n AS component, component AS root FROM mc$incPairs) mc
            USING (component)"""
    (Seq(head) ++ oldSteps ++ Seq(contract) ++ incSteps).mkString(",\n") +
      ",\n" + resolve
  }

  /** DuckDB replay of the q_x_er_resolve closure: the FastSS variant
    * candidate CTE (as in q_x_fuzzy_pairs, over supplier names), the
    * levenshtein≤1 verify, then `pairs` pointer-doubled CC rounds
    * (coverage 2^pairs−1 ≥ the fixture's cluster diameters) and the
    * per-cluster golden-record join. */
  private def erOracle(pairs: Int): String = {
    val head =
      """WITH c AS (SELECT s_suppkey AS id, s_name AS nm FROM supplier),
         v AS (SELECT id, nm, unnest(list_prepend(nm,
                 list_transform(generate_series(1, len(nm)),
                   i -> substr(nm, 1, i-1) || substr(nm, i+1)))) AS variant
               FROM c),
         cand AS (SELECT DISTINCT a.id AS id1, b.id AS id2,
                    a.nm AS k1, b.nm AS k2
                  FROM v a JOIN v b ON a.variant = b.variant AND a.id < b.id),
         e AS MATERIALIZED (SELECT id1 AS a, id2 AS b FROM cand
              WHERE levenshtein(k1, k2) <= 1),
         und AS MATERIALIZED (SELECT a AS src, b AS dst FROM e
              UNION ALL SELECT b, a FROM e),
         l0 AS MATERIALIZED (SELECT DISTINCT src AS n, src AS component FROM und)"""
    val steps = (1 to pairs).map(i => ccPair(i, s"l${i - 1}"))
    (head +: steps).mkString(",\n") +
      s"""\nSELECT l.n AS member, l.component AS cluster, cl.n_members,
               s.s_name AS canonical_name
          FROM l$pairs l
          JOIN (SELECT component, CAST(count(*) AS BIGINT) AS n_members
                FROM l$pairs GROUP BY 1) cl USING (component)
          JOIN supplier s ON s.s_suppkey = l.component"""
  }
}
