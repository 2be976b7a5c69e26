package graft

import org.apache.spark.sql.functions._
import graft.operators.{Sampling, TopK}

/** Training-data selection: deterministic sampling, quota mixing, redaction. */
class SamplingSpec extends SparkSpec {
  import spark.implicits._

  test("waterFillBudget: small groups keep all, large cap at the common level") {
    // c: A=20 (two docs), B=50, C=100; budget 100 → 1 uncapped group,
    // level = (100−20) div 2 = 40 → quotas A=20, B=40, C=40. B and C's
    // single docs exceed their quota and drop (atomic docs undershoot).
    val df = Seq(("A", 1L, 10L), ("A", 2L, 10L), ("B", 3L, 50L), ("C", 4L, 100L))
      .toDF("src", "id", "tok")
    val out = Sampling.waterFillBudget(df, "src", "tok", "id", 100L)
      .select("src", "quota", "keep").as[(String, Long, Boolean)].collect()
    assert(out.filter(_._1 == "A").forall(r => r._2 == 20L && r._3))
    assert(out.filter(_._1 == "B").toSeq == Seq(("B", 40L, false)))
    assert(out.filter(_._1 == "C").toSeq == Seq(("C", 40L, false)))
    // budget ≥ total → every group uncapped, everything kept
    val all = Sampling.waterFillBudget(df, "src", "tok", "id", 200L)
      .select("quota", "keep").as[(Long, Boolean)].collect()
    assert(all.forall(_._2) && all.map(_._1).sorted.toSeq == Seq(20L, 20L, 50L, 100L))
    // budget below every group: istar=0, level = B div k
    val tight = Sampling.waterFillBudget(df, "src", "tok", "id", 30L)
      .select("src", "quota", "keep").as[(String, Long, Boolean)].collect()
    assert(tight.forall(_._2 == 10L))
    assert(tight.count(_._3) == 1 && tight.filter(_._3).head._1 == "A")
  }

  test("hashSample: deterministic, partition-independent, ~pct of rows") {
    val df = spark.range(1000).toDF("id")
    val a = rows(Sampling.hashSample(df, "id", 10).orderBy("id"))
    val b = rows(Sampling.hashSample(df.repartition(7), "id", 10).orderBy("id"))
    assert(a == b)
    assert(a.size > 50 && a.size < 200) // ~100 expected of 1000
  }

  test("TopK.perGroup: top-k per group, deterministic tie-break on key") {
    val df = Seq(("en", 1L, 0.5), ("en", 2L, 0.9), ("en", 3L, 0.9), ("fr", 4L, 0.1))
      .toDF("lang", "doc_id", "score")
    val top = TopK.perGroup(df, Seq(col("lang")), Seq(col("score").desc, col("doc_id")), 2)
    assert(top.schema("rank").dataType == org.apache.spark.sql.types.LongType)
    // tie at 0.9 resolves to the smaller doc_id first; fr's one row is
    // fewer than k, so the whole group survives
    assert(rows(top.orderBy("lang", "rank").select("lang", "doc_id", "rank")) ==
      Seq(Seq("en", 2L, 1L), Seq("en", 3L, 2L), Seq("fr", 4L, 1L)))
    // k = 1 is keep-first: the tie's smaller key wins, one row per group
    val first = TopK.perGroup(df, Seq(col("lang")),
      Seq(col("score").desc, col("doc_id")), 1, "rn")
    assert(rows(first.orderBy("lang").select("lang", "doc_id", "rn")) ==
      Seq(Seq("en", 2L, 1L), Seq("fr", 4L, 1L)))
    // k larger than every group keeps every row, ranked
    assert(rows(TopK.perGroup(df, Seq(col("lang")),
      Seq(col("score").desc, col("doc_id")), 10).orderBy("lang", "rank")
      .select("doc_id")) == Seq(Seq(2L), Seq(3L), Seq(1L), Seq(4L)))
    // empty keys: one global ranking across the groups
    assert(rows(TopK.perGroup(df, Nil, Seq(col("score").desc, col("doc_id")), 3)
      .orderBy("rank").select("doc_id", "rank")) ==
      Seq(Seq(2L, 1L), Seq(3L, 2L), Seq(1L, 3L)))
  }

  test("TopK.perGroup plans a per-partition top-k, keyed and global") {
    val df = spark.range(100).select((col("id") % 5).as("g"), col("id").as("s"), col("id").as("k"))
    def plan(keys: Seq[org.apache.spark.sql.Column]) =
      TopK.perGroup(df, keys, Seq(col("s").desc, col("k")), 3).queryExecution.executedPlan.toString
    // keyed: a partial WindowGroupLimit prunes before the group-key exchange
    assert(plan(Seq(col("g"))).contains("WindowGroupLimit"))
    // global: the same rank filter becomes a per-partition top-k + merge
    assert(plan(Nil).contains("TakeOrderedAndProject"))
  }

  test("tokenBudgetPerGroup: kept totals fit the budget, nested under budget growth, deterministic") {
    val df = (1L to 40L).map(i => (s"g${i % 2}", i, 50L + i % 7)).toDF("g", "id", "n_tok")
    val small = graft.operators.Sampling.tokenBudgetPerGroup(df, "g", "n_tok", 300L, "id")
    // every kept doc's running total fits the budget
    assert(small.filter(col("keep") && col("cum_tokens") > 300).count() == 0)
    // per group, the FIRST dropped doc in hash order would have overflowed:
    // dropped docs all have cum_tokens > budget
    assert(small.filter(!col("keep") && col("cum_tokens") <= 300).count() == 0)
    // nested: everything kept at 300 stays kept at 600
    val big = graft.operators.Sampling.tokenBudgetPerGroup(df, "g", "n_tok", 600L, "id")
    val keptSmall = rows(small.filter(col("keep")).select("id")).flatten.toSet
    val keptBig = rows(big.filter(col("keep")).select("id")).flatten.toSet
    assert(keptSmall.subsetOf(keptBig) && keptBig.size > keptSmall.size)
    // deterministic across reruns
    assert(rows(small.orderBy("id")) ==
      rows(graft.operators.Sampling.tokenBudgetPerGroup(df, "g", "n_tok", 300L, "id").orderBy("id")))
  }

  test("tokenBudgetPerGroup ≡ in-JVM reference on randomized inputs") {
    // 40 randomized-ish rows (deterministic arithmetic fixture), three
    // groups, uneven token counts — replicate the operator's rule exactly
    // in plain Scala: salted-hash order per group, keep while the running
    // total INCLUDING the doc fits the budget
    val rows0 = (1L to 40L).map(i => (s"g${i % 3}", i, 11L + (i * 7) % 23))
    val df = rows0.toDF("g", "id", "n_tok")
    val budget = 120L
    val expected = rows0.groupBy(_._1).flatMap { case (_, grp) =>
      val ordered = grp.sortBy { case (_, id, _) =>
        (graft.functions.Hashing.hash64Local(s"$id|tokquota"), id) }
      var cum = 0L
      ordered.map { case (_, id, n) => cum += n; id -> ((cum, cum <= budget)) }
    }.toMap
    val got = rows(graft.operators.Sampling
      .tokenBudgetPerGroup(df, "g", "n_tok", budget, "id")
      .select("id", "cum_tokens", "keep"))
      .map(r => r(0).asInstanceOf[Long] ->
        ((r(1).asInstanceOf[Long], r(2).asInstanceOf[Boolean]))).toMap
    assert(got == expected)
  }

  test("packSequences: offsets bounded by budget, cumsum consistent per shard") {
    val df = spark.range(100).toDF("doc_id").withColumn("n", col("doc_id") % 7 + 1)
    val packed = Sampling.packSequences(df, col("n"), "doc_id", 10, 4).cache()
    assert(packed.count() == 100)
    assert(packed.filter(col("offset") < 0 || col("offset") >= 10).count() == 0)
    assert(packed.filter(col("seq_id") * 10 + col("offset") =!= col("cum_before")).count() == 0)
    // per shard: cum_before of each doc equals the sum of earlier docs' tokens
    val bad = packed.as("a").join(packed.as("b"),
        col("a.shard") === col("b.shard") && col("b.doc_id") < col("a.doc_id"))
      .groupBy(col("a.doc_id"), col("a.cum_before"))
      .agg(sum(col("b.n_tokens")).as("expect"))
      .filter(col("expect") =!= col("cum_before"))
    assert(bad.count() == 0)
    packed.unpersist()
  }

  test("chunkDocuments: overlapping windows, short docs get one chunk, ranges cover") {
    val df = Seq((1L, 5L), (2L, 50L), (3L, 51L), (4L, 130L)).toDF("doc_id", "n")
    val got = rows(Sampling.chunkDocuments(df, col("n"), "doc_id", 50, 10)
      .orderBy("doc_id", "chunk_id").select("doc_id", "chunk_id", "start_tok", "end_tok"))
    assert(got == Seq(
      Seq(1L, 0L, 0L, 5L),                        // shorter than one window
      Seq(2L, 0L, 0L, 50L),                       // exactly one window
      Seq(3L, 0L, 0L, 50L), Seq(3L, 1L, 40L, 51L), // one token spills over
      Seq(4L, 0L, 0L, 50L), Seq(4L, 1L, 40L, 90L), Seq(4L, 2L, 80L, 130L)))
  }

  test("mixtureSample: per-group rates, nested selections, deterministic") {
    val docs = (1L to 1000L).map(i => (i, if (i % 2 == 0) "en" else "fr"))
      .toDF("doc_id", "lang")
    val kept = Sampling.mixtureSample(docs, "lang", Map("en" -> 60, "fr" -> 20), "doc_id")
    val byLang = rows(kept.groupBy("lang").count().orderBy("lang"))
      .map(r => r(0) -> r(1).asInstanceOf[Long]).toMap
    // hash buckets approximate the rates (500 docs per lang)
    assert(byLang("en") > 250 && byLang("en") < 350, s"en kept ${byLang("en")}")
    assert(byLang("fr") > 60 && byLang("fr") < 140, s"fr kept ${byLang("fr")}")
    // nested: the 20% fr selection is a subset of a 60% fr selection
    val frWide = Sampling.mixtureSample(docs, "lang", Map("fr" -> 60), "doc_id", defaultPct = 0)
    val frNarrow = Sampling.mixtureSample(docs, "lang", Map("fr" -> 20), "doc_id", defaultPct = 0)
    assert(frNarrow.join(frWide, Seq("doc_id"), "left_anti").count() == 0)
    // deterministic across repartitioning
    assert(rows(Sampling.mixtureSample(docs.repartition(13), "lang",
        Map("en" -> 60, "fr" -> 20), "doc_id").orderBy("doc_id")) ==
      rows(kept.orderBy("doc_id")))
    // rate 0 and default 0 drop everything not listed
    assert(Sampling.mixtureSample(docs, "lang", Map("en" -> 0), "doc_id",
      defaultPct = 0).count() == 0)
  }

  test("shuffleOrder: dense 1..N, partition-independent, seed changes order") {
    val docs = (1L to 200L).toDF("doc_id")
    val pos = rows(Sampling.shuffleOrder(docs, "doc_id").orderBy("shuffle_pos"))
    assert(pos.map(_(1)) == (1L to 200L), "positions must be dense 1..N")
    assert(pos.map(_(0).asInstanceOf[Long]).toSet == (1L to 200L).toSet)
    // hash order, not id order
    assert(pos.map(_(0)) != (1L to 200L))
    // identical on a different partitioning
    assert(rows(Sampling.shuffleOrder(docs.repartition(11), "doc_id")
      .orderBy("doc_id")) == rows(Sampling.shuffleOrder(docs, "doc_id").orderBy("doc_id")))
    // a different seed is a different epoch order
    assert(rows(Sampling.shuffleOrder(docs, "doc_id", seed = 1).orderBy("doc_id")) !=
      rows(Sampling.shuffleOrder(docs, "doc_id").orderBy("doc_id")))
  }

  test("repetitionScored: looped phrases score high, varied text scores 0") {
    val docs = Seq(
      (1L, "a b c a b c a b c a b c"),     // 10 shingles, 3 distinct
      (2L, "one two three four five six"), // all distinct → 0.0
      (3L, "x y")                          // < k tokens → 0 shingles, 0.0
    ).toDF("doc_id", "text")
    val got = rows(graft.operators.QualityFilter.repetitionScored(docs)
      .orderBy("doc_id").select("n_shingles", "n_distinct", "repetition"))
    assert(got == Seq(Seq(10L, 3L, 0.7), Seq(4L, 4L, 0.0), Seq(0L, 0L, 0.0)))
  }

  test("stratifiedSplit: exhaustive partition, nested under rate growth, stratum-uniform") {
    val docs = spark.range(5000).select(col("id").as("doc_id"),
      (col("id") % 7).cast("string").as("grp"))
    val split = Sampling.stratifiedSplit(docs, "doc_id", 80, 10)
    // every row lands in exactly one split
    assert(split.count() == 5000)
    assert(rows(split.groupBy("split").count()).map(_.head).toSet ==
      Set("train", "val", "test"))
    // deterministic: identical membership after a reshuffle
    assert(rows(split.orderBy("doc_id").select("doc_id", "split")) ==
      rows(Sampling.stratifiedSplit(docs.repartition(13), "doc_id", 80, 10)
        .orderBy("doc_id").select("doc_id", "split")))
    // nested: train@60 ⊂ train@80; val@80 starts where train@80 ends, so a
    // doc moving out of test can only move into val/train, never the reverse
    val t60 = rows(Sampling.stratifiedSplit(docs, "doc_id", 60, 10)
      .filter(col("split") === "train").select("doc_id")).map(_.head).toSet
    val t80 = rows(split.filter(col("split") === "train").select("doc_id"))
      .map(_.head).toSet
    assert(t60.subsetOf(t80))
    // stratum-uniform without a per-group pass: each of the 7 groups splits
    // near 80/10/10 (hash uniformity; wide tolerance, zero flake)
    val perGrp = rows(split.groupBy("grp", "split").count())
      .map(r => (r(0), r(1)) -> r(2).asInstanceOf[Long]).toMap
    for (g <- 0 until 7) {
      val n = perGrp.collect { case ((gg, _), c) if gg == g.toString => c }.sum
      val tr = perGrp.getOrElse((g.toString, "train"), 0L).toDouble / n
      assert(tr > 0.70 && tr < 0.90, s"group $g train share $tr")
    }
    // independence from the sampling stages: a 50%-hash-sampled corpus must
    // still split ~80/10/10 (with an UNSALTED split hash every survivor of
    // hashSample(50) has bucket < 50 < trainPct and val/test come out EMPTY)
    val sampledSplit = Sampling.stratifiedSplit(
      Sampling.hashSample(docs, "doc_id", 50), "doc_id", 80, 10)
    val shares = rows(sampledSplit.groupBy("split").count())
      .map(r => r.head -> r(1).asInstanceOf[Long]).toMap
    val total = shares.values.sum.toDouble
    assert(shares.keySet == Set("train", "val", "test"),
      s"holdouts vanished after sampling: $shares")
    assert(shares("train") / total > 0.70 && shares("train") / total < 0.90, shares)
  }

  test("redactPii: emails replaced before digit runs, digits typed") {
    val got = rows(Seq("mail a1@b2.com or call 555 1234 now").toDF("text")
      .select(graft.functions.Text.redactPii(col("text")))).head.head
    assert(got == "mail <EMAIL> or call <NUM> <NUM> now")
  }

  test("packSequencesCurriculum: phases order by difficulty; per-phase packing ≡ packSequences") {
    val docs = (1L to 120L).map(i => (i, i % 40 + 1, s"t$i"))
      .toDF("doc_id", "difficulty", "text")
    val got = Sampling.packSequencesCurriculum(
        docs, lit(10L), "doc_id", "difficulty", phases = 4, tokenBudget = 64, shards = 2)
      .select("doc_id", "phase", "shard", "cum_before", "seq_id", "offset")
      .as[(Long, Long, Long, Long, Long, Long)].collect()
    // phase is monotone in difficulty: every phase-1 doc is easier than
    // every phase-4 doc
    val diff = docs.select("doc_id", "difficulty").as[(Long, Long)].collect().toMap
    val byPhase = got.groupBy(_._2).map { case (p, xs) => p -> xs.map(x => diff(x._1)) }
    assert(byPhase.keySet == Set(1L, 2L, 3L, 4L))
    assert(byPhase(1L).max <= byPhase(4L).min)
    // within each phase, the layout IS packSequences of that slice
    for (p <- 1L to 4L) {
      val slice = docs.filter(col("difficulty").isin(byPhase(p).distinct.toIndexedSeq: _*))
      val ref = Sampling.packSequences(slice, lit(10L), "doc_id", 64, 2)
        .select("doc_id", "shard", "cum_before", "seq_id", "offset")
        .as[(Long, Long, Long, Long, Long)].collect().toSet
      val cur = got.filter(_._2 == p).map(x => (x._1, x._3, x._4, x._5, x._6)).toSet
      assert(cur == ref, s"phase $p layout differs from plain packing of its slice")
    }
  }

  test("kFoldAssign: deterministic, partition-independent, disjoint hash domain from split") {
    val df = (0L until 500L).map(i => (i, s"d$i")).toDF("doc_id", "text")
    val a = Sampling.kFoldAssign(df, "doc_id", 5)
      .select("doc_id", "fold").as[(Long, Long)].collect().toMap
    val b = Sampling.kFoldAssign(df.repartition(7), "doc_id", 5)
      .select("doc_id", "fold").as[(Long, Long)].collect().toMap
    assert(a == b, "fold stamp must be partition-independent")
    assert(a.values.toSet.subsetOf((0L until 5L).toSet))
    // every fold populated and roughly uniform on 500 keys
    val sizes = a.values.groupBy(identity).map(_._2.size)
    assert(sizes.size == 5 && sizes.min > 50, s"fold sizes $sizes")
    // salted domain: fold is NOT a function of the split bucket (they'd
    // correlate perfectly if both hashed the bare key)
    val split = Sampling.stratifiedSplit(df, "doc_id", 80, 10)
      .select("doc_id", "split").as[(Long, String)].collect().toMap
    val trainFolds = a.filter { case (k, _) => split(k) == "train" }.values.toSet
    assert(trainFolds == (0L until 5L).toSet, "train slice must span all folds")
    intercept[IllegalArgumentException](Sampling.kFoldAssign(df, "doc_id", 1))
  }

  test("targetEncodeLoo: self excluded, singleton NULL, null target NULL") {
    val df = Seq(("a", 10L), ("a", 20L), ("a", 30L), ("b", 7L), ("c", 1L), ("c", 3L))
      .toDF("cat", "t")
    val got = graft.operators.Encoders.targetEncodeLoo(df, "cat", "t")
      .select("cat", "t", "loo_mean").collect()
      .map(r => (r.getString(0), r.getLong(1)) ->
        (if (r.isNullAt(2)) None else Some(r.getDouble(2)))).toMap
    assert(got(("a", 10L)) == Some(25.0)) // (20+30)/2
    assert(got(("a", 20L)) == Some(20.0)) // (10+30)/2
    assert(got(("b", 7L)) == None)        // singleton: no peers
    assert(got(("c", 1L)) == Some(3.0))
    // null target: encodes NULL, and peers ignore it in sum AND count
    val withNull = Seq(("x", Some(4L)), ("x", Some(8L)), ("x", Option.empty[Long]))
      .toDF("cat", "t")
    val g2 = graft.operators.Encoders.targetEncodeLoo(withNull, "cat", "t")
      .select("t", "loo_mean").collect()
      .map(r => (if (r.isNullAt(0)) None else Some(r.getLong(0))) ->
        (if (r.isNullAt(1)) None else Some(r.getDouble(1)))).toMap
    assert(g2(Some(4L)) == Some(8.0) && g2(Some(8L)) == Some(4.0) && g2(None) == None)
  }

  test("temperatureSampleHalf: kept counts flatten toward sqrt(n), smallest kept whole") {
    // sources sized 100 / 400 / 10000: α=1/2 keep-rates 1, 1/2, 1/10
    val df = ((0 until 100).map(i => (i.toLong, "tiny"))
      ++ (0 until 400).map(i => (1000L + i, "mid"))
      ++ (0 until 10000).map(i => (100000L + i, "big"))).toDF("doc_id", "src")
    val kept = graft.operators.Sampling.temperatureSampleHalf(df, "src", "doc_id")
      .groupBy("src").count().collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(kept("tiny") == 100L, "smallest source keeps everything (rate = 1)")
    // hash buckets are uniform: expect ~200 of mid (rate 1/2), ~1000 of big
    assert(math.abs(kept("mid") - 200L) <= 40, s"mid: ${kept("mid")}")
    assert(math.abs(kept("big") - 1000L) <= 150, s"big: ${kept("big")}")
    // deterministic: identical rerun, identical selection
    val again = graft.operators.Sampling.temperatureSampleHalf(df, "src", "doc_id")
      .agg(sum(col("doc_id"))).head().getLong(0)
    val first = graft.operators.Sampling.temperatureSampleHalf(df, "src", "doc_id")
      .agg(sum(col("doc_id"))).head().getLong(0)
    assert(again == first)
    // NULL groups drop
    val withNull = Seq((1L, null.asInstanceOf[String]), (2L, "a")).toDF("doc_id", "src")
    assert(graft.operators.Sampling.temperatureSampleHalf(withNull, "src", "doc_id")
      .filter(col("src").isNull).count() == 0L)
  }

  test("splitLeakage: flags content spanning splits; split list sorted; clean content silent") {
    val df = Seq(
      (1L, "dup text", "train"), (2L, "dup text", "test"),
      (3L, "dup text", "train"),
      (4L, "train only", "train"), (5L, "train only", "train"),
      (6L, "unique", "val")).toDF("doc_id", "content", "split")
    val got = graft.operators.Sampling.splitLeakage(df, "content").collect()
    assert(got.length == 1, "only cross-split content is leakage")
    val r = got.head
    assert(r.getAs[Long]("n_docs") == 3L)
    assert(r.getAs[Long]("n_splits") == 2L)
    assert(r.getAs[String]("splits") == "test,train")
    assert(r.getAs[Long]("content_h") ==
      df.select(graft.functions.Hashing.hash64(lit("dup text"))).head().getLong(0))
  }

  test("weightedSystematic: ~k selected, heavy rows always in, zero weight never, partition-invariant") {
    val df = (1L to 400L).map(i => (i, if (i == 7L) 10000L else 10L))
      .toDF("doc_id", "w")
      .union(Seq((999L, 0L)).toDF("doc_id", "w"))
    val sel = Sampling.weightedSystematic(df, "doc_id", "w", k = 20L)
      .select("id").as[Long].collect().toSet
    // total = 10000 + 399*10 + 0 = 13990, stride = 699: the w=10000 row
    // spans ≥14 grid points → always selected; light rows fill the rest
    assert(sel.contains(7L), "a row with w >= stride must always be selected")
    assert(!sel.contains(999L), "zero-weight rows are never selected")
    // 20 grid points, but ~14 land inside the heavy row's interval and
    // collapse to ONE selection (without-replacement: a heavy row is
    // selected once, not multiple times) → ~7 distinct rows
    assert(sel.size >= 5 && sel.size <= 21, s"grid-point count bounds selections, got ${sel.size}")
    val sel2 = Sampling.weightedSystematic(df.repartition(7), "doc_id", "w", k = 20L)
      .select("id").as[Long].collect().toSet
    assert(sel2 == sel, "selection must be partitioning-invariant")
    // two-level prefix == flat cumsum: cum values are a permutation-free
    // exact prefix in (h, id) order, so max(cum) == total weight
    val cums = Sampling.weightedSystematic(df, "doc_id", "w", k = 1L)
      .agg(max("cum")).head().getLong(0)
    assert(cums == 13990L, s"grid stride k=1 keeps the last row; max cum = total, got $cums")
  }

  test("shardPlan: manifest totals, greedy-contiguous budget shape, partition-invariant") {
    val df = (1L to 300L).map(i => (i, 10L + (i % 7))).toDF("doc_id", "w")
    val plan = Sampling.shardPlan(df, "doc_id", "w", budget = 500L)
      .select("shard", "n_docs", "n_tokens", "first_hash", "last_hash")
      .as[(Long, Long, Long, Long, Long)].collect().sortBy(_._1)
    // nothing lost: doc and token totals survive the sharding exactly
    assert(plan.map(_._2).sum == 300L)
    assert(plan.map(_._3).sum == (1L to 300L).map(i => 10L + (i % 7)).sum)
    // shards are contiguous on the hash line and numbered densely from 0
    assert(plan.map(_._1).toSeq == plan.indices.map(_.toLong))
    plan.sliding(2).foreach { case Array(a, b) =>
      assert(a._5 < b._4, "shard hash ranges must not interleave")
    case _ => () }
    // greedy ⌊cum/budget⌋ cut: every shard but the last spans its budget
    // within one straddling doc (max w = 16), and none is empty
    plan.dropRight(1).foreach { s =>
      assert(s._3 >= 500L - 16L && s._3 <= 500L + 16L,
        s"shard ${s._1} tokens ${s._3} outside greedy band") }
    val again = Sampling.shardPlan(df.repartition(11), "doc_id", "w", budget = 500L)
      .select("shard", "n_docs", "n_tokens", "first_hash", "last_hash")
      .as[(Long, Long, Long, Long, Long)].collect().sortBy(_._1)
    assert(again.toSeq == plan.toSeq, "manifest must be partitioning-invariant")
  }
}
