package graft

import org.apache.spark.sql.functions._
import graft.operators.GraphRank

class GraphRankSpec extends SparkSpec with JobCounting {
  import spark.implicits._

  private def ranks(df: org.apache.spark.sql.DataFrame): Map[Long, Long] =
    df.as[(Long, Long)].collect().toMap

  test("one iteration on a 3-node star matches the hand-computed fixed point") {
    // 1—2, 1—3 undirected. r0 = 10^9 div 3 = 333333333 each; outdeg 1:2, 2:1, 3:1.
    // inflow(1) = 333333333 + 333333333; inflow(2) = inflow(3) = 333333333 div 2.
    // base = 150000000 div 3 = 50000000.
    val edges = Seq((1L, 2L), (1L, 3L)).toDF("src", "dst")
    val r = ranks(GraphRank.pageRank(GraphRank.undirected(edges), iters = 1))
    assert(r(1L) == 50000000L + 85L * 666666666L / 100L) // 616666666
    assert(r(2L) == 50000000L + 85L * 166666666L / 100L) // 191666666
    assert(r(2L) == r(3L), "symmetric nodes must rank identically")
  }

  test("hub accumulates rank over iterations; totals stay near Scale") {
    // star: 0 connected to 1..9 — the hub must dominate every leaf
    val edges = (1L to 9L).map(i => (0L, i)).toDF("src", "dst")
    val r = ranks(GraphRank.pageRank(GraphRank.undirected(edges), iters = 5))
    val (hub, leaves) = (r(0L), (1L to 9L).map(r))
    assert(leaves.toSet.size == 1, "identical leaves must tie exactly")
    assert(hub > 4 * leaves.head, "hub must dominate")
    // truncation leaks mass downward only, and only a few ulps per node/iter
    val total = r.values.sum
    assert(total <= GraphRank.Scale && total > GraphRank.Scale - 1000)
  }

  test("zero iterations returns the uniform prior") {
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 4L)).toDF("src", "dst")
    val r = ranks(GraphRank.pageRank(GraphRank.undirected(edges), iters = 0))
    assert(r.values.toSet == Set(GraphRank.Scale / 4))
  }

  test("neighborJaccard: hand-checked similarities on a 5-node graph") {
    // 1—{3,4}, 2—{3,4,5}: nodes 3,4 are structural twins (jac=1); 1 and 2
    // overlap 2/3; 5 hangs off 2 only.
    val edges = Seq((1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L), (2L, 5L)).toDF("src", "dst")
    val got = GraphRank.neighborJaccard(edges)
      .select("a", "b", "n_common", "deg_a", "deg_b", "jac_fp")
      .as[(Long, Long, Long, Long, Long, Long)].collect().sortBy(r => (r._1, r._2))
    assert(got.toSeq == Seq(
      (1L, 2L, 2L, 2L, 3L, 666666L),   // N(1)={3,4} vs N(2)={3,4,5}
      (3L, 4L, 2L, 2L, 2L, 1000000L),  // identical neighborhoods
      (3L, 5L, 1L, 2L, 1L, 500000L),
      (4L, 5L, 1L, 2L, 1L, 500000L)))
    // minCommon prunes the single-wedge tail before the degree joins
    val pruned = GraphRank.neighborJaccard(edges, minCommon = 2L)
      .select("a", "b").as[(Long, Long)].collect().sortBy(identity)
    assert(pruned.toSeq == Seq((1L, 2L), (3L, 4L)))
  }

  test("neighborJaccardCapped: hub centers mediate no wedges; degrees stay true") {
    // star hub 100 wired to 1..5 (deg 5) plus a private wedge 1-6-2:
    // uncapped, every pair in 1..5 shares the hub; capped at 4, the hub
    // mediates nothing and only the 6-centered wedge (1,2) survives.
    val edges = ((1L to 5L).map(i => (100L, i)) ++ Seq((6L, 1L), (6L, 2L)))
      .toDF("src", "dst")
    val capped = GraphRank.neighborJaccardCapped(edges, maxDeg = 4L)
      .select("a", "b", "n_common", "deg_a", "deg_b", "jac_fp")
      .as[(Long, Long, Long, Long, Long, Long)].collect().toSet
    // deg_a/deg_b are TRUE degrees (node 1: hub + 6 = 2), n_common the
    // hub-discounted overlap (only low-degree centers count): (1,2) via
    // center 6, and (6,100) via their shared low-degree neighbors {1,2} —
    // but NO pair in 1..5 via the hub (uncapped they all pair)
    assert(capped == Set((1L, 2L, 1L, 2L, 2L, 333333L),
      (6L, 100L, 2L, 2L, 5L, 400000L)))
    assert(!capped.exists(p => p._1 == 3L || p._2 == 3L),
      "hub-mediated-only pairs must be gone")
    // uncapped form sees all hub-mediated pairs too
    val un = GraphRank.neighborJaccard(edges).select("a", "b")
      .as[(Long, Long)].collect().toSet
    assert(un.contains((3L, 4L)) && un.contains((1L, 2L)))
  }

  test("plan: no cartesian product; the only nested-loop is the 1-row scalar broadcast") {
    val edges = Seq((1L, 2L), (1L, 3L), (2L, 3L)).toDF("src", "dst")
    val plan = GraphRank.pageRank(GraphRank.undirected(edges), iters = 2)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"), s"cartesian in plan:\n$plan")
    // the node-count crossJoin is a BROADCAST nested loop over exactly one
    // row per side pair — acceptable; a non-broadcast NLJ would not be
    val nlj = "BroadcastNestedLoopJoin".r.findAllIn(plan).size
    assert(nlj <= 3, s"unexpected nested-loop joins ($nlj) in plan:\n$plan")
  }

  test("personalized PageRank: restart mass stays near the seed; unreachable nodes rank 0") {
    // two components: 1—2—3 and 4—5; seed {1} → component {4,5} must stay 0
    val edges = Seq((1L, 2L), (2L, 3L), (4L, 5L)).toDF("src", "dst")
    val seeds = Seq(1L).toDF("node")
    val r = ranks(GraphRank.personalizedPageRank(
      GraphRank.undirected(edges), seeds, iters = 3))
    assert(r(4L) == 0L && r(5L) == 0L)
    // NOT r(1) > r(2): on a short path at small iteration counts the walk
    // oscillates and the middle node can legitimately hold the most mass;
    // what must hold is positivity in the seed's component and decay at
    // the far end (3 is strictly further than 2).
    assert(r(1L) > 0L && r(2L) > r(3L) && r(3L) > 0L, s"unexpected ranks: $r")
    // one hand-checked iteration: r0 = (1e9, 0, 0, 0, 0); after iter 1:
    // node1 = base + 0 (no inflow: 2,3 rank 0) = 150000000; node2 gets
    // 85% of r0(1) div outdeg(1)=1 → 850000000
    val r1 = ranks(GraphRank.personalizedPageRank(
      GraphRank.undirected(edges), seeds, iters = 1))
    assert(r1(1L) == 150000000L && r1(2L) == 850000000L && r1(3L) == 0L)
  }

  test("personalized PageRank with an EMPTY seed set is all-zero, not an error") {
    val edges = Seq((1L, 2L)).toDF("src", "dst")
    val none = Seq.empty[Long].toDF("node")
    val r = ranks(GraphRank.personalizedPageRank(
      GraphRank.undirected(edges), none, iters = 2))
    assert(r.values.toSet == Set(0L))
  }

  test("coOccurrenceEdges: minShared sparsifies single-basket pairs; a < b ordering") {
    val m = Seq((10L, 1L), (10L, 2L), (20L, 2L), (20L, 1L), (30L, 1L), (30L, 3L))
      .toDF("g", "i")
    val e = GraphRank.coOccurrenceEdges(m, "g", "i", minShared = 2L)
      .as[(Long, Long)].collect().toSet
    assert(e == Set((1L, 2L))) // (1,3) shares only one group → dropped
    val all = GraphRank.coOccurrenceEdges(m, "g", "i", minShared = 1L)
      .as[(Long, Long)].collect().toSet
    assert(all == Set((1L, 2L), (1L, 3L)))
    assert(all.forall { case (a, b) => a < b })
  }

  test("triangleStats counts exactly on a hand-built graph") {
    // 1-2-3 closed, 3-4 dangling: one triangle, 4 nodes, 4 edges
    val edges = Seq((1L, 2L), (2L, 3L), (1L, 3L), (3L, 4L)).toDF("a", "b")
    val row = GraphRank.triangleStats(edges).as[(Long, Long, Long)].head()
    assert(row == ((4L, 4L, 1L)))
    // K4 has 4 triangles
    val k4 = (for (a <- 1L to 4L; b <- a + 1 to 4L) yield (a, b)).toDF("a", "b")
    assert(GraphRank.triangleStats(k4).as[(Long, Long, Long)].head() == ((4L, 6L, 4L)))
  }

  test("kCore: each round's edge count comes from its checkpoint job, not a recount") {
    // K4 plus the chain 4-5-6: one input checkpoint and two peel rounds
    val edges = ((for (a <- 1L to 4L; b <- a + 1 to 4L) yield (a, b)) ++
      Seq((4L, 5L), (5L, 6L))).toDF("a", "b")
    // kCore narrows its rounds from the session width: pin it, so the
    // plan and its job count do not depend on the host's cores
    val width = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "4")
    val (core, jobs) = try jobsDuring(GraphRank.kCore(edges, 3L, 10))
      finally spark.conf.set("spark.sql.shuffle.partitions", width)
    assert(jobs == 9) // 15 when each checkpoint was followed by a count()
    assert(ranks(core) == Map(1L -> 3L, 2L -> 3L, 3L -> 3L, 4L -> 3L))
  }

  test("kCore: peels a dangling chain off a K4; brute-force parity; extra rounds identity") {
    // K4 on {1..4} plus chain 4-5-6: 3-core = the K4 exactly (5,6 peel in 2 rounds)
    val edges = ((for (a <- 1L to 4L; b <- a + 1 to 4L) yield (a, b)) ++
      Seq((4L, 5L), (5L, 6L))).toDF("a", "b")
    val core = ranks(GraphRank.kCore(edges, 3L, 10))
    assert(core == Map(1L -> 3L, 2L -> 3L, 3L -> 3L, 4L -> 3L))
    // rounds beyond convergence are the identity (the oracle-agreement
    // contract: fixed-budget replay ≡ early-exit loop)
    assert(ranks(GraphRank.kCore(edges, 3L, 25)) == core)
    // brute-force reference on a random-ish graph for k=2
    val es = (0 until 40).map(i => (i.toLong % 13, (i * 7L + 3) % 17 + 13))
      .distinct.filter(p => p._1 != p._2)
    val ref = {
      var e = es.toSet
      var stable = false
      while (!stable) {
        val deg = e.toSeq.flatMap(p => Seq(p._1, p._2)).groupBy(identity)
          .map { case (n, xs) => n -> xs.size }
        val surv = deg.filter(_._2 >= 2).keySet
        val ne = e.filter(p => surv(p._1) && surv(p._2))
        stable = ne == e; e = ne
      }
      e.toSeq.flatMap(p => Seq(p._1, p._2)).groupBy(identity)
        .map { case (n, xs) => n -> xs.size.toLong }
    }
    assert(ranks(GraphRank.kCore(es.toDF("a", "b"), 2L, 30)) == ref)
  }

  test("labelPropagation: two dense cliques bridge into two communities; deterministic") {
    // K4 on {1..4} + K4 on {11..14} + one bridge 4-11
    val k4a = for (a <- 1L to 4L; b <- a + 1 to 4L) yield (a, b)
    val k4b = for (a <- 11L to 14L; b <- a + 1 to 14L) yield (a, b)
    val edges = (k4a ++ k4b :+ ((4L, 11L))).toDF("a", "b")
    val com = ranks(GraphRank.labelPropagation(edges, 4))
    assert(com.size == 8)
    // each clique converges to ONE community; the two differ
    val ca = (1L to 3L).map(com).toSet
    val cb = (12L to 14L).map(com).toSet
    assert(ca.size == 1 && cb.size == 1 && ca != cb,
      s"cliques must settle to distinct communities, got $com")
    // deterministic under repartitioning (sync rounds + pinned tie-break)
    val again = ranks(GraphRank.labelPropagation(edges.repartition(5), 4))
    assert(again == com)
  }

  test("connectedComponents: two chains + isolate-free edge set, exact min labels") {
    // chain 1-2-3-4 (diameter 3) and pair 10-11: components {1},{10}
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 4L), (10L, 11L)).toDF("a", "b")
    val com = ranks(GraphRank.connectedComponents(edges, 4))
    assert(com == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L, 10L -> 10L, 11L -> 10L))
    // rounds past convergence are the identity (the oracle-budget contract)
    assert(ranks(GraphRank.connectedComponents(edges, 9)) == com)
    // deterministic under repartitioning
    assert(ranks(GraphRank.connectedComponents(edges.repartition(5), 4)) == com)
  }

  test("bfsHops: hand-checked distances; horizon; off-graph seed survives") {
    // chain 1-2-3-4-5, pair 10-11; seeds {1, 99} (99 not in the graph)
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L), (10L, 11L)).toDF("a", "b")
    val seeds = Seq(99L, 1L).toDF("n")
    val d2 = ranks(GraphRank.bfsHops(edges, seeds, rounds = 2))
    // horizon: node 4 is 3 hops out — absent at rounds=2
    assert(d2 == Map(1L -> 0L, 2L -> 1L, 3L -> 2L, 99L -> 0L))
    val d4 = ranks(GraphRank.bfsHops(edges, seeds, rounds = 4))
    assert(d4 == Map(1L -> 0L, 2L -> 1L, 3L -> 2L, 4L -> 3L, 5L -> 4L, 99L -> 0L))
    // rounds past drain are the identity; component {10,11} never appears
    assert(ranks(GraphRank.bfsHops(edges, seeds, rounds = 7)) == d4)
    // deterministic under repartitioning
    assert(ranks(GraphRank.bfsHops(edges.repartition(5), seeds, rounds = 4)) == d4)
    // two seeds in one component: every node takes the NEARER seed
    val dm = ranks(GraphRank.bfsHops(edges, Seq(1L, 5L).toDF("n"), rounds = 4))
    assert(dm == Map(1L -> 0L, 2L -> 1L, 3L -> 2L, 4L -> 1L, 5L -> 0L))
  }

  test("ccIncremental: merge via batch, new nodes, no-op batch; ≡ full refit") {
    // old graph: chains 1-2-3 and 10-11; components {1},{10}
    val oldE = Seq((1L, 2L), (2L, 3L), (10L, 11L)).toDF("a", "b")
    val oldL = GraphRank.connectedComponents(oldE, 4)
    // batch: bridge 3-10 (merges the two components) + new pair 20-21
    val batch = Seq((3L, 10L), (20L, 21L)).toDF("a", "b")
    val inc = ranks(GraphRank.connectedComponentsIncremental(oldL, batch, 4))
    assert(inc == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 10L -> 1L, 11L -> 1L,
      20L -> 20L, 21L -> 20L))
    // ≡ refitting the union graph from scratch
    val full = ranks(GraphRank.connectedComponents(
      oldE.unionByName(batch), 6))
    assert(inc == full, "incremental must equal the full refit")
    // a batch whose edges stay inside one old component changes nothing
    val noop = ranks(GraphRank.connectedComponentsIncremental(
      oldL, Seq((1L, 3L)).toDF("a", "b"), 4))
    assert(noop == ranks(oldL))
  }

  test("connectedComponents: gate budget (8) converged on the sf0.001 graph") {
    val edges = GraphRank.coOccurrenceEdges(
      spark.read.parquet(s"$sf0001/lineitem.parquet"),
      "l_orderkey", "l_partkey", minShared = 2L)
    val at8 = ranks(GraphRank.connectedComponents(edges, 8))
    val at10 = ranks(GraphRank.connectedComponents(edges, 10))
    assert(at8 == at10,
      "q_x_connected_components' 8-round budget has NOT converged — raise it")
  }

  test("hits: no cartesian; scalar totals broadcast; edge side never re-sorts") {
    val edges = Seq((1L, 2L), (1L, 3L), (2L, 3L)).toDF("src", "dst")
    val plan = GraphRank.hits(edges, iters = 2)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"), s"cartesian in plan:\n$plan")
    // 4 normalizing totals + 1 node count ride as 1-row broadcast scalars
    // ≤ 2 per round (the L1 totals) + the node count; per-half-step
    // checkpoints keep this LINEAR in iters (the raw frames are referenced
    // twice — un-truncated, the lazy plan nested exponentially: 46 NLJs)
    val nlj = "BroadcastNestedLoopJoin".r.findAllIn(plan).size
    assert(nlj <= 6, s"unexpected nested-loop joins ($nlj) in plan:\n$plan")
  }

  test("hits: hand-computed 2-round fixed point on a directed bipartite graph") {
    // 1→10, 2→10, 2→11; N=4, h0 = 250000000 each.
    // round 1: rawA(10)=5e8, rawA(11)=2.5e8, total 7.5e8 →
    //   auth(10)=666666666, auth(11)=333333333;
    //   rawH(1)=666666666, rawH(2)=999999999, total 1666666665 →
    //   hub(1)=400000000 exact, hub(2)=600000000 exact.
    // round 2: rawA(10)=1e9, rawA(11)=6e8, total 1.6e9 →
    //   auth(10)=625000000, auth(11)=375000000;
    //   rawH(1)=6.25e8, rawH(2)=1e9, total 1.625e9 →
    //   hub(1)=384615384, hub(2)=615384615.
    val edges = Seq((1L, 10L), (2L, 10L), (2L, 11L)).toDF("src", "dst")
    val r = GraphRank.hits(edges, iters = 2)
      .as[(Long, Long, Long)].collect().map(t => t._1 -> (t._2, t._3)).toMap
    assert(r(10L) == (0L, 625000000L))
    assert(r(11L) == (0L, 375000000L))
    assert(r(1L) == (384615384L, 0L))
    assert(r(2L) == (615384615L, 0L))
    // partitioning-invariant (pure integer arithmetic)
    val r2 = GraphRank.hits(edges.repartition(5), iters = 2)
      .as[(Long, Long, Long)].collect().map(t => t._1 -> (t._2, t._3)).toMap
    assert(r2 == r)
  }

  test("determinism: identical ranks across repeated runs and partitionings") {
    val edges = Seq((1L, 2L), (1L, 3L), (2L, 3L), (3L, 4L), (4L, 5L), (5L, 1L))
      .toDF("src", "dst")
    val a = ranks(GraphRank.pageRank(GraphRank.undirected(edges), iters = 3))
    val b = ranks(GraphRank.pageRank(
      GraphRank.undirected(edges.repartition(7)), iters = 3))
    assert(a == b)
  }

  test("connectedComponents level-budget contract: partial labels, early-out") {
    // THE BUDGET CONTRACT, pinned so a user is never surprised: `rounds`
    // caps contraction LEVELS. Each level composes 3-hop ball-min labels,
    // so on a monotone-id chain (the additive worst case) labels advance
    // exactly 3 ids per level — a budget too small leaves PARTIAL labels
    // (monotone toward the fixed point, always an id inside the node's
    // own component), and raising the budget is the remedy. Early-out
    // (the contracted edge set drains) makes any surplus budget free.
    val path = (0L until 30L).map(i => (i, i + 1)).toDF("a", "b")
    val at2 = ranks(GraphRank.connectedComponents(path, 2))
    assert(at2(30L) == 24L, "2 levels × 3 hops: partial label 30−6, NOT converged")
    assert((0L to 6L).forall(at2(_) == 0L), "within-coverage nodes converge")
    val at10 = ranks(GraphRank.connectedComponents(path, 10))
    assert(at10.values.toSet == Set(0L), "full convergence within the budget")
    assert(ranks(GraphRank.connectedComponents(path, 50)) == at10,
      "surplus budget is free (early-out) and the identity on the result")
  }

  test("bfsHops/labelPropagation round-budget property: generated graphs with " +
      "diameter > budget equal an R-round synchronous reference, not the fixed point") {
    // THE FIXED-ROUND CONTRACT, pinned generatively: on a graph whose
    // diameter exceeds `rounds`, both operators return EXACTLY the state
    // after `rounds` synchronous rounds (bfs: min-dist horizon; lpa: the
    // spec'd most-frequent/min-label update) — the documented
    // non-converged behavior, not a silent extra round and not the fixed
    // point. Reference implementations are independent in-test Scala.
    def refBfs(edges: Seq[(Long, Long)], seeds: Seq[Long], rounds: Int): Map[Long, Long] = {
      val adj = (edges ++ edges.map(_.swap)).groupBy(_._1)
        .view.mapValues(_.map(_._2)).toMap
      var dist = seeds.map(_ -> 0L).toMap
      val nodes = adj.keySet ++ seeds
      (1 to rounds).foreach { _ =>
        dist = nodes.iterator.flatMap { n =>
          val c = dist.get(n).toSeq ++
            adj.getOrElse(n, Nil).flatMap(m => dist.get(m).map(_ + 1L))
          if (c.isEmpty) None else Some(n -> c.min)
        }.toMap
      }
      dist
    }
    def refLpa(edges: Seq[(Long, Long)], rounds: Int): Map[Long, Long] = {
      val adj = (edges ++ edges.map(_.swap)).groupBy(_._1)
        .view.mapValues(_.map(_._2)).toMap
      var lab = adj.keys.map(n => n -> n).toMap
      (1 to rounds).foreach { _ =>
        lab = adj.map { case (n, ns) =>
          // .toSeq first: mapping the groupBy Map directly would key the
          // tuples by -count and collapse tied labels
          val best = ns.groupBy(lab).toSeq
            .map { case (l, ms) => (-ms.size.toLong, l) }.min
          n -> best._2
        }
      }
      lab
    }
    val rng = new scala.util.Random(20260816L)
    (1 to 3).foreach { trial =>
      // random tree over shuffled ids (shuffling exercises the min-label
      // tie-breaks), n = 24, so diameter is very likely > budget 3
      val ids = rng.shuffle((0L until 24L).toVector)
      val path = ids.sliding(2).map(p => (p(0), p(1))).toVector // diameter 23
      val chords = Vector((ids(0), ids(12)), (ids(5), ids(18)))
      val edges = path ++ (if (trial > 1) chords else Vector.empty)
      val df = edges.toDF("a", "b")
      val seeds = Seq(ids.head)
      val budget = 3
      val gotB = ranks(GraphRank.bfsHops(df, seeds.toDF("n"), budget))
      assert(gotB == refBfs(edges, seeds, budget),
        s"trial $trial: bfs must equal the $budget-round synchronous reference")
      assert(gotB.size < ids.size,
        s"trial $trial: diameter > budget must leave unreached nodes (non-converged)")
      val gotL = ranks(GraphRank.labelPropagation(df, budget))
      assert(gotL == refLpa(edges, budget),
        s"trial $trial: lpa must equal the $budget-round synchronous reference")
      // and the budget is the spec: one more round is a DIFFERENT state
      // on a path this long (min labels keep spreading)
      assert(refLpa(edges, budget + 1) != gotL,
        s"trial $trial: graph converged within budget — generator too small")
    }
  }}
