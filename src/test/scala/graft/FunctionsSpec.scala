package graft

import org.apache.spark.sql.functions._
import graft.functions.{Hashing, Text}
import graft.operators.{TextDedup, VectorSearch}

/** Library-surface tests for the text/hashing/vector operator API. */
class FunctionsSpec extends SparkSpec {
  import spark.implicits._

  test("spanHashes expression ≡ the md5 HOF form on random/unicode/null tokens") {
    // the codegen'd one-pass span hasher must be BIT-identical to the SQL
    // composition it replaced — including concat_ws's null-token skipping,
    // multi-byte UTF-8, and the short-array empty result
    val rng = new scala.util.Random(7)
    val words = Vector("a", "bb", "caffé", "naïve", "東京", "x1", "", "zz")
    val arrs: Seq[Seq[String]] =
      Seq.fill(40)(Seq.fill(rng.nextInt(20))(words(rng.nextInt(words.size)))) ++
      Seq(Seq("one", null, "three", "four", "five", "six", "seven", "eight", "nine"),
        Seq("short"), Seq.empty[String], null)
    val df = arrs.toDF("toks")
    val w = 8
    val hof = df.select(coalesce(
      when(size(col("toks")) >= w, expr(
        s"transform(sequence(0, size(toks) - $w), i -> " +
          Hashing.hash64Expr(s"concat_ws(' ', slice(toks, i + 1, $w))") + ")")),
      array().cast("array<bigint>")).as("h"))
    val native = df.select(graft.functions.Text.spanHashes("toks", w).as("h"))
    assert(rows(native) == rows(hof))
    // width-2 path (the bigram shape)
    val hof2 = df.select(coalesce(
      when(size(col("toks")) >= 2, expr(
        "transform(sequence(0, size(toks) - 2), i -> " +
          Hashing.hash64Expr("concat_ws(' ', slice(toks, i + 1, 2))") + ")")),
      array().cast("array<bigint>")).as("h"))
    assert(rows(df.select(graft.functions.Text.spanHashes("toks", 2).as("h"))) == rows(hof2))
  }

  test("hash64: column and driver-side twins agree; values are 60-bit non-negative") {
    val inputs = Seq("", "a", "hello world", "caffé")
    val fromCol = rows(inputs.toDF("s").select(Hashing.hash64(col("s")))).flatten
      .map(_.asInstanceOf[Long])
    val local = inputs.map(Hashing.hash64Local)
    assert(fromCol == local)
    assert(fromCol.forall(h => h >= 0 && h < (1L << 60)))
  }

  test("setFingerprint is order-insensitive") {
    val df = Seq("a b c", "c b a").toDF("text").select(Text.tokens(col("text")).as("toks"))
    val set = rows(df.select(Text.setFingerprint(col("toks")))).flatten.distinct
    assert(set.size == 1)
  }

  test("shingles: k-grams with distinctness, short docs yield empty") {
    val df = Seq("a b c d", "a b", "x x x x x").toDF("text")
      .select(Text.tokens(col("text")).as("toks"))
      .select(Text.shingles("toks").as("sh"))
    val got = rows(df).map(_.head.asInstanceOf[collection.Seq[String]].toSeq)
    assert(got(0) == Seq("a b c", "b c d"))
    assert(got(1) == Seq())
    assert(got(2) == Seq("x x x")) // distinct collapses repeats
  }

  test("jaccard: exact on known sets") {
    val df = Seq((Seq("a", "b", "c"), Seq("b", "c", "d"))).toDF("s1", "s2")
    assert(rows(df.select(Text.jaccard("s1", "s2"))).head.head == 0.5)
  }

  test("exact dedup collapses identical texts") {
    val docs = Seq((1L, "same text"), (2L, "same text"), (3L, "other")).toDF("doc_id", "text")
    val got = rows(TextDedup.exact(docs).orderBy("keep_id")
      .select("keep_id", "n_copies"))
    assert(got == Seq(Seq(1L, 2L), Seq(3L, 1L)))
  }

  test("dedupParagraphs: first occurrence wins, order survives, empty docs stay") {
    val docs = Seq(
      (1L, "shared header\nbody one\nshared footer"),
      (2L, "shared header\nbody two\nshared footer"),
      // same-doc repeat: second 'echo' goes; Shared header dedups
      // case-insensitively against doc 1's
      (3L, "echo\nSHARED HEADER\necho"),
      // every paragraph already seen → survives as the empty-string row
      (4L, "shared header\nshared footer")
    ).toDF("doc_id", "text")
    val got = graft.operators.TextDedup.dedupParagraphs(docs)
      .select("doc_id", "text_dedup", "kept_paras", "removed_paras")
      .as[(Long, String, Long, Long)].collect().sortBy(_._1)
    assert(got.toSeq == Seq(
      (1L, "shared header\nbody one\nshared footer", 3L, 0L),
      (2L, "body two", 1L, 2L),
      (3L, "echo", 1L, 2L),
      (4L, "", 0L, 2L)))
  }

  test("dropFrequentParagraphs: boilerplate vanishes everywhere, rare paras stay") {
    val docs = Seq(
      (1L, "nav menu\nbody one\nfooter"),
      (2L, "nav menu\nbody two\nfooter"),
      (3L, "nav menu\nbody three\nfooter")).toDF("doc_id", "text")
    val got = graft.operators.TextDedup.dropFrequentParagraphs(docs, maxDocFreq = 2L)
      .select("doc_id", "text_kept", "kept_paras", "removed_paras")
      .as[(Long, String, Long, Long)].collect().sortBy(_._1)
    // df(nav menu)=df(footer)=3 > 2 -> gone EVERYWHERE incl. doc 1
    assert(got.toSeq == Seq(
      (1L, "body one", 1L, 2L),
      (2L, "body two", 1L, 2L),
      (3L, "body three", 1L, 2L)))
  }

  test("spanCorrupt: sentinels number sequentially and input+target reconstruct the doc") {
    val docs = Seq(
      (1L, (1 to 20).map(i => s"w$i").mkString(" ")),
      (2L, "a b"), // single chunk
      (3L, (1 to 7).map(i => s"t$i").mkString(" "))).toDF("doc_id", "text")
    val out = graft.operators.SpanCorruption.corrupt(docs, spanLen = 3, everyK = 2)
      .select("doc_id", "n_tokens", "n_spans", "input", "target")
      .as[(Long, Long, Long, String, String)].collect()
    val sentinel = "<extra_id_(\\d+)>".r
    out.foreach { case (id, nTok, nSpans, input, target) =>
      // sentinel ids in input are 0..n_spans-1 in order
      val ids = sentinel.findAllMatchIn(input).map(_.group(1).toInt).toSeq
      assert(ids == (0 until nSpans.toInt), s"doc $id sentinel order")
      // reconstruct: substitute each sentinel with its target span
      val spans = target.split("(?=<extra_id_)").filter(_.nonEmpty).map { part =>
        val m = sentinel.findFirstMatchIn(part).get
        s"<extra_id_${m.group(1)}>" -> part.substring(m.matched.length).trim
      }.toMap
      val rebuilt = sentinel.replaceAllIn(input,
        m => java.util.regex.Matcher.quoteReplacement(spans(m.matched)))
      val original = docs.filter($"doc_id" === id).select("text").as[String].head()
      assert(rebuilt == original, s"doc $id roundtrip")
      assert(nTok == original.split(" ").length)
    }
    // with everyK=2 and multiple chunks, at least one doc has a masked span
    assert(out.map(_._3).sum > 0)
  }

  test("fim: PSM reassembles the document; passthrough verbatim; cuts in range") {
    val docs = (1L to 40L).map(i =>
      (i, (1 to (i % 9).toInt).map(j => s"t$j").mkString(" "))) // incl empty text
      .toDF("doc_id", "text")
    val out = graft.operators.SpanCorruption.fim(docs, rate10 = 5)
      .select("doc_id", "n_tokens", "fim_applied", "cut_lo", "cut_hi", "output")
      .as[(Long, Long, Boolean, Long, Long, String)].collect()
    val texts = docs.as[(Long, String)].collect().toMap
    val psm = "^<PRE> (.*) <SUF> (.*) <MID> (.*)$".r
    out.foreach { case (id, nTok, applied, lo, hi, output) =>
      assert(0 <= lo && lo <= hi && hi <= nTok, s"doc $id cuts out of range")
      if (!applied) assert(output == texts(id), s"doc $id passthrough")
      else {
        val m = psm.findFirstMatchIn(output)
          .getOrElse(fail(s"doc $id not PSM: $output"))
        // prefix ++ middle ++ suffix = original token stream
        val rebuilt = Seq(m.group(1), m.group(3), m.group(2))
          .flatMap(s => if (s.isEmpty) Nil else s.split(" ").toSeq)
        val orig =
          if (texts(id).isEmpty) Seq("") else texts(id).split(" ").toSeq
        assert(rebuilt == orig.filter(_.nonEmpty), s"doc $id roundtrip")
      }
    }
    // the deterministic coin actually splits the corpus both ways
    assert(out.exists(_._3) && out.exists(!_._3))
  }

  test("duplicated spans: cross-doc copies and within-doc repeats both count") {
    // doc 1 and 2 share an 8-token run; doc 3 repeats its own 8-token run;
    // doc 4 is unrelated; doc 5 is shorter than the window.
    val shared = (1 to 8).map(i => s"c$i").mkString(" ")
    val docs = Seq(
      (1L, s"u1 u2 $shared v1 v2"),
      (2L, s"w1 $shared"),
      (3L, s"$shared $shared"), // windows inside the doubled run also repeat
      (4L, (1 to 12).map(i => s"z$i").mkString(" ")),
      (5L, "too short")).toDF("doc_id", "text")
    val dup = TextDedup.duplicatedSpans(docs)
    // the shared window's hash must be among the duplicated spans, seen in 3 docs
    val sharedHash = Hashing.hash64Local(shared)
    val row = rows(dup.filter(col("span_hash") === sharedHash)
      .select("n_docs", "n_occurrences")).head
    assert(row == Seq(3L, 4L)) // docs 1,2,3 — doc 3 contains it twice
    // no span from the unrelated doc is flagged
    val doc4Spans = rows(TextDedup.spanOccurrences(docs).filter(col("doc_id") === 4L)
      .select("span_hash")).flatten.toSet
    assert(rows(dup).map(_.head).toSet.intersect(doc4Spans).isEmpty)
  }

  test("sigmaOutliers: integer-exact 3-sigma flags, per-key independence") {
    // key A: 10 near-constant points + one spike; key B: constant (σ = 0)
    val a = (1 to 10).map(i => ("A", i.toLong, 100L + (i % 2))) :+ (("A", 11L, 500L))
    val b = (1 to 5).map(i => ("B", i.toLong, 7L))
    val df = (a ++ b).toDF("k", "t", "v")
    val got = rows(graft.operators.Anomaly.sigmaOutliers(df, Seq("k"), "v")
      .filter(col("is_anomaly")).select("k", "t"))
    assert(got == Seq(Seq("A", 11L))) // only the spike; σ=0 key flags nothing
    // single-point groups never flag (n−1 = 0 ⇒ inequality is 0 > 0)
    val single = Seq(("C", 1L, 42L)).toDF("k", "t", "v")
    assert(rows(graft.operators.Anomaly.sigmaOutliers(single, Seq("k"), "v")
      .select("is_anomaly")).flatten == Seq(false))
  }

  test("madOutliers: flags spikes k-sigma masks; MAD=0 degenerate case") {
    import graft.operators.Anomaly
    // TWO equal huge spikes in 12 points: they inflate sigma enough that
    // the integer 3-sigma test flags NEITHER (masking) — median/MAD flags
    // both. The stable points (100/101) stay unflagged in both tests.
    val series = ((1 to 10).map(i => ("A", i.toLong, 100L + (i % 2))) ++
      Seq(("A", 11L, 5000L), ("A", 12L, 5000L))).toDF("k", "t", "v")
    val robust = rows(Anomaly.madOutliers(series, Seq("k"), "v")
      .filter(col("is_anomaly")).select("t").orderBy("t")).flatten
    assert(robust == Seq(11L, 12L))
    val sigma = rows(Anomaly.sigmaOutliers(series, Seq("k"), "v")
      .filter(col("is_anomaly")).select("t")).flatten
    assert(sigma.isEmpty) // masked — the robust test exists for exactly this
    // ≥50%-constant series: MAD = 0, every deviation flags (documented)
    val const = (Seq(("B", 1L, 7L), ("B", 2L, 7L), ("B", 3L, 7L), ("B", 4L, 9L)))
      .toDF("k", "t", "v")
    val g = rows(Anomaly.madOutliers(const, Seq("k"), "v")
      .filter(col("is_anomaly")).select("t")).flatten
    assert(g == Seq(4L))
  }

  test("robustStats scoring: train==score set ≡ madOutliers; missing keys NULL") {
    import graft.operators.Anomaly
    val series = ((1 to 10).map(i => ("A", i.toLong, 100L + (i % 2))) ++
      Seq(("A", 11L, 5000L), ("A", 12L, 5000L))).toDF("k", "t", "v")
    val viaStats = rows(Anomaly.flagAgainstRobustStats(series,
      Anomaly.robustStats(series, Seq("k"), "v"), Seq("k"), "v")
      .orderBy("t").select("t", "is_anomaly"))
    val viaWindow = rows(Anomaly.madOutliers(series, Seq("k"), "v")
      .orderBy("t").select("t", "is_anomaly"))
    assert(viaStats == viaWindow)
    // unknown key scores NULL, never false
    val scored = rows(Anomaly.flagAgainstRobustStats(
      Seq(("Z", 1L, 9L)).toDF("k", "t", "v"),
      Anomaly.robustStats(series, Seq("k"), "v"), Seq("k"), "v")
      .select("is_anomaly"))
    assert(scored.head.head == null)
  }

  test("scrubDuplicatedSpans: covered tokens removed, clean docs untouched") {
    val shared = (1 to 8).map(i => s"c$i").mkString(" ")
    val docs = Seq(
      (1L, s"u1 u2 $shared u3"), // one flagged window at pos 2 → drops c1..c8
      (2L, s"$shared"),          // the whole doc is the shared window → empty
      (3L, "v1 v2 v3 v4 v5 v6 v7 v8 v9"), // unique → untouched
      (4L, "tiny")).toDF("doc_id", "text")
    val got = rows(graft.operators.TextDedup.scrubDuplicatedSpans(docs).orderBy("doc_id"))
    assert(got == Seq(
      Seq(1L, "u1 u2 u3", 11L, 3L),
      Seq(2L, "", 8L, 0L),
      Seq(3L, "v1 v2 v3 v4 v5 v6 v7 v8 v9", 9L, 9L),
      Seq(4L, "tiny", 1L, 1L)))
  }

  test("anomaly stats merge exactly; scoring a series against its own stats ≡ sigmaOutliers") {
    import graft.operators.Anomaly
    val series = ((1 to 10).map(i => ("A", i.toLong, 100L + (i % 3))) :+ (("A", 11L, 400L)))
      .++((1 to 6).map(i => ("B", i.toLong, 50L + i)))
      .toDF("k", "t", "v")
    // mergeable moments: per-half stats merged == whole-series stats
    val whole = rows(Anomaly.stats(series, Seq("k"), "v").orderBy("k"))
    val merged = rows(Anomaly.stats(series.filter(col("t") <= 5), Seq("k"), "v")
      .unionByName(Anomaly.stats(series.filter(col("t") > 5), Seq("k"), "v"))
      .groupBy("k").agg(sum("n").as("n"), sum("s").as("s"), sum("sq").as("sq"))
      .orderBy("k"))
    assert(merged == whole)
    // train == score set ⇒ identical flags to the windowed form
    val viaStats = rows(Anomaly.flagAgainstStats(series,
      Anomaly.stats(series, Seq("k"), "v"), Seq("k"), "v").orderBy("k", "t")
      .select("k", "t", "is_anomaly"))
    val viaWindow = rows(Anomaly.sigmaOutliers(series, Seq("k"), "v").orderBy("k", "t")
      .select("k", "t", "is_anomaly"))
    assert(viaStats == viaWindow)
    // a key with no stats row reports NULL, not false
    val scored = rows(Anomaly.flagAgainstStats(
      Seq(("Z", 1L, 9L)).toDF("k", "t", "v"),
      Anomaly.stats(series, Seq("k"), "v"), Seq("k"), "v"))
    assert(scored.head.last == null)
  }

  test("span inventory plan: map-side hashing, no join anywhere") {
    val docs = Seq((1L, (1 to 20).map("t" + _).mkString(" "))).toDF("doc_id", "text")
    val plan = TextDedup.duplicatedSpans(docs).queryExecution.executedPlan.toString
    assert(!plan.contains("Join"), s"span inventory must not join:\n$plan")
    assert(plan.contains("HashAggregate"))
  }

  test("spanDupStats: per-doc fraction; short docs keep a zero row") {
    val shared = (1 to 8).map(i => s"c$i").mkString(" ")
    val docs = Seq(
      (1L, shared),                                  // 1 span, duplicated
      (2L, s"$shared x1 x2"),                        // 3 spans, 1 duplicated
      (3L, (1 to 9).map(i => s"q$i").mkString(" ")), // 2 spans, none duplicated
      (4L, "too short")).toDF("doc_id", "text")
    val got = rows(TextDedup.spanDupStats(docs).orderBy("doc_id"))
    assert(got == Seq(
      Seq(1L, 1L, 1L, 1.0),
      Seq(2L, 3L, 1L, 1.0 / 3),
      Seq(3L, 2L, 0L, 0.0),
      Seq(4L, 0L, 0L, null)))
  }

  test("quantileGate: corpus-relative cutoff keeps the top of the distribution") {
    val df = (1L to 8L).map(i => (i, i * 10)).toDF("doc_id", "m")
    // P25 of 10..80 (interpolated) = 27.5 → keep m ≥ 27.5 (docs 3..8)
    val got = rows(graft.operators.QualityFilter.quantileGate(df, "m", 0.25)
      .filter(col("keep")).select("doc_id").orderBy("doc_id")).flatten
    assert(got == (3L to 8L))
  }

  test("quantileGateGrouped: each group gets its own cutoff, not the global one") {
    // group A: 10..80 (P25 = 27.5), group B: 1000..8000 (P25 = 2750) — a
    // GLOBAL P25 would pass all of B and gut A; per-group cutoffs keep the
    // top 3/4 of each
    val df = ((1L to 8L).map(i => ("A", i, i * 10)) ++
      (11L to 18L).map(i => ("B", i, (i - 10) * 1000))).toDF("g", "doc_id", "m")
    val got = graft.operators.QualityFilter.quantileGateGrouped(df, "g", "m", 0.25)
    val kept = rows(got.filter(col("keep")).select("g", "doc_id").orderBy("doc_id"))
    assert(kept.map(_(1)) == ((3L to 8L) ++ (13L to 18L)))
    // cutoffs really differ per group
    assert(rows(got.select("g", "cutoff").distinct().orderBy("g")) ==
      Seq(Seq("A", 27.5), Seq("B", 2750.0)))
  }

  test("quantileGateGrouped: NULL groups are gated, not silently dropped") {
    // A NULL group key gets its own cutoff via the null-safe join — before
    // the fix these rows vanished (equi-join never matches NULL keys).
    val df = Seq(
      (Some("A"), 1L, Some(10L)), (Some("A"), 2L, Some(20L)),
      (None, 3L, Some(100L)), (None, 4L, Some(200L)),
      (None, 5L, None) // NULL metric: keep must be false, not NULL
    ).toDF("g", "doc_id", "m")
    val got = graft.operators.QualityFilter.quantileGateGrouped(df, "g", "m", 0.5)
    assert(got.count() == 5, "every input row must survive the gate join")
    val byId = rows(got.select("doc_id", "keep").orderBy("doc_id"))
    // NULL-group median of (100, 200) = 150 → doc 3 fails, doc 4 passes;
    // doc 5 (NULL metric) is keep=false — a real boolean, never NULL.
    assert(byId == Seq(Seq(1L, false), Seq(2L, true),
      Seq(3L, false), Seq(4L, true), Seq(5L, false)))
  }

  test("quantileGate: NULL metric rows are kept in output with keep=false") {
    val df = Seq((1L, Some(10L)), (2L, Some(20L)), (3L, None)).toDF("doc_id", "m")
    val got = rows(graft.operators.QualityFilter.quantileGate(df, "m", 0.5)
      .select("doc_id", "keep").orderBy("doc_id"))
    assert(got == Seq(Seq(1L, false), Seq(2L, true), Seq(3L, false)))
  }

  test("nfc/stripAccents: compose decomposed text, fold accents, pass nulls") {
    val dec = "cafe\u0301 u\u0308ber"   // decomposed: 11 code points
    val comp = "caf\u00e9 \u00fcber"    // composed: 9
    val df = Seq((1L, dec), (2L, comp), (3L, null.asInstanceOf[String]))
      .toDF("id", "s")
    val got = rows(df.select(col("id"),
      graft.functions.Text.nfc(col("s")).as("n"),
      graft.functions.Text.stripAccents(col("s")).as("f"),
      length(graft.functions.Text.nfc(col("s"))).as("ln")).orderBy("id"))
    assert(got == Seq(
      Seq(1L, comp, "cafe uber", 9),
      Seq(2L, comp, "cafe uber", 9),
      Seq(3L, null, null, null)))
    // NFKC also folds compatibility forms (the ligature fi U+FB01)
    val k = rows(Seq("\ufb01n").toDF("s").select(
      graft.expressions.UnicodeNormalize(col("s"), "NFKC")))
    assert(k == Seq(Seq("fin")))
  }

  test("tokenRarity: corpus-frequency features count hapax occurrences") {
    val docs = Seq(
      (1L, "the the rare"),   // "the" freq 3, "rare" freq 1 (hapax)
      (2L, "the common"),     // "common" freq 2
      (3L, "common")).toDF("doc_id", "text")
    val got = rows(graft.operators.QualityFilter.tokenRarity(docs)
      .select("doc_id", "n_tokens", "min_tok_freq", "max_tok_freq", "n_hapax")
      .orderBy("doc_id"))
    assert(got == Seq(
      Seq(1L, 3L, 1L, 3L, 1L),   // rarest = hapax "rare"
      Seq(2L, 2L, 2L, 3L, 0L),
      Seq(3L, 1L, 2L, 2L, 0L)))
  }

  test("bigramCoverage: common-bigram fraction against corpus counts") {
    // "a b" occurs 3x corpus-wide (docs 1,1,2), everything else is rare
    val docs = Seq(
      (1L, "a b c a b"),   // bigrams: a-b, b-c, c-a, a-b → 2/4 common
      (2L, "a b"),         // 1/1 common
      (3L, "x y z"),       // 0/2 common
      (4L, "solo")).toDF("doc_id", "text")
    val got = rows(graft.operators.QualityFilter.bigramCoverage(docs, minCount = 3)
      .orderBy("doc_id"))
    assert(got == Seq(
      Seq(1L, 4L, 2L, 0.5),
      Seq(2L, 1L, 1L, 1.0),
      Seq(3L, 2L, 0L, 0.0),
      Seq(4L, 0L, 0L, null)))
  }

  test("minhash LSH finds an obvious near-dup and skips unrelated docs") {
    val base = (1 to 30).map(i => s"tok$i").mkString(" ")
    val nearDup = (1 to 28).map(i => s"tok$i").mkString(" ") + " tokX tokY"
    val other = (100 to 130).map(i => s"w$i").mkString(" ")
    val docs = Seq((1L, base), (2L, nearDup), (3L, other)).toDF("doc_id", "text")
    val pairs = rows(TextDedup.minhashLsh(docs, 0.5).select("id1", "id2"))
    assert(pairs == Seq(Seq(1L, 2L)))
  }

  test("containmentPairs: quoted-inside doc has high c12, diluted jaccard") {
    // doc 1 (30 shingles) fully contained in doc 2 (30 + 14 extra): jaccard
    // ≈ 0.68 but c12 = 1.0 — and an unrelated doc stays out.
    val core = (1 to 32).map(i => s"tok$i").mkString(" ")
    val wrapped = core + " " + (200 to 213).map(i => s"x$i").mkString(" ")
    val other = (300 to 340).map(i => s"w$i").mkString(" ")
    val docs = Seq((1L, core), (2L, wrapped), (3L, other)).toDF("doc_id", "text")
    val got = rows(TextDedup.containmentPairs(docs, 0.9)
      .select("id1", "id2", "c12", "c21"))
    assert(got.map(r => (r(0), r(1), r(2))) == Seq((1L, 2L, 1.0)),
      s"core-in-wrapped must be the only ≥0.9 containment pair: $got")
    assert(got.head(3).asInstanceOf[Double] < 0.9,
      "reverse direction (wrapped in core) must stay below threshold")
  }

  test("containmentPairsHashed ≡ containmentPairs (hash-array verify parity)") {
    // the 60-bit hash-array verify must reproduce the string-set form
    // exactly on collision-free fixtures — same pairs, same ratios
    val core = (1 to 32).map(i => s"tok$i").mkString(" ")
    val wrapped = core + " " + (200 to 213).map(i => s"x$i").mkString(" ")
    val other = (300 to 340).map(i => s"w$i").mkString(" ")
    val docs = Seq((1L, core), (2L, wrapped), (3L, other)).toDF("doc_id", "text")
    val a = rows(TextDedup.containmentPairs(docs, 0.5)
      .select("id1", "id2", "c12", "c21"))
    val b = rows(TextDedup.containmentPairsHashed(docs, 0.5)
      .select("id1", "id2", "c12", "c21"))
    assert(a == b, s"hashed verify diverged: $a vs $b")
    assert(a.nonEmpty)
  }

  test("ngram prefix buckets above the cap divert to banded MinHash") {
    // 100 mutually-dissimilar docs behind one boilerplate 3-token prefix
    // (the pathological bucket), plus a planted near-dup pair in the SAME
    // bucket — the cap must bound pair volume without losing the dup.
    val boiler = "terms of service"
    val docs = (1 to 100).map(i =>
      (i.toLong, s"$boiler ${(1 to 20).map(k => s"u${i}_$k").mkString(" ")}")) ++
      Seq((201L, s"$boiler alpha beta gamma delta epsilon zeta eta theta"),
        (202L, s"$boiler alpha beta gamma delta epsilon zeta eta iota"))
    val df = docs.toDF("doc_id", "text")
    // Uncapped: the single bucket self-joins into bucket²/2 candidates.
    val uncapped = TextDedup.ngramCandidates(df, maxBucket = 10000).count()
    assert(uncapped == 102L * 101 / 2)
    // Capped: candidates are band collisions, nowhere near quadratic.
    val capped = TextDedup.ngramCandidates(df, maxBucket = 10).count()
    assert(capped < uncapped / 10, s"capped=$capped uncapped=$uncapped")
    // The planted near-dup survives the diversion (J = 0.8 ≥ 0.5).
    val pairs = rows(TextDedup.ngramJaccard(df, 0.5, maxBucket = 10)
      .select("id1", "id2"))
    assert(pairs.contains(Seq(201L, 202L)))
    // Sanity: small buckets still flow through the exact prefix path.
    val small = Seq((1L, "one two three four five"), (2L, "one two three four six"))
      .toDF("doc_id", "text")
    assert(rows(TextDedup.ngramJaccard(small, 0.4).select("id1", "id2")) ==
      Seq(Seq(1L, 2L)))
  }

  test("lshBuckets fails loudly on embedding dim mismatch") {
    val emb = Seq((1L, Seq(0.1f, 0.2f))).toDF("vec_id", "embedding")
    val e = intercept[Throwable](
      graft.operators.VectorSearch.lshBuckets(emb, 8, dim = 64).collect())
    def messages(t: Throwable): String =
      if (t == null) "" else t.toString + messages(t.getCause)
    assert(messages(e).contains("lshBuckets"))
  }

  test("incremental dedup: batch joins corpus bands only, exact path left-antis") {
    val base = (1 to 30).map(i => s"tok$i").mkString(" ")
    val nearDup = (1 to 28).map(i => s"tok$i").mkString(" ") + " tokX tokY"
    val corpus = Seq((10L, base), (30L, "something else entirely here")).toDF("doc_id", "text")
    val batch = Seq((21L, nearDup), (23L, "fresh new content words")).toDF("doc_id", "text")
    val pairs = rows(TextDedup.minhashLshIncremental(corpus, batch, 0.5)
      .select("batch_id", "corpus_id"))
    assert(pairs == Seq(Seq(21L, 10L)))
    val novel = rows(TextDedup.exactIncremental(
        corpus, Seq((21L, base), (22L, "unseen")).toDF("doc_id", "text"))
      .select("doc_id"))
    assert(novel == Seq(Seq(22L))) // 21 duplicates corpus content → dropped
  }

  test("contamination: planted overlap measured exactly, novel eval is clean") {
    val corpus = Seq((1L, (1 to 30).map(i => s"a$i").mkString(" "))).toDF("doc_id", "text")
    val eval = Seq(
      (11L, (1 to 10).map(i => s"a$i").mkString(" ")), // fully contained → 1.0
      (12L, (1 to 10).map(i => s"z$i").mkString(" ")), // novel → 0.0
      (13L, "a1 a2 a3 z1 z2 z3"),                      // 1 of 4 shingles hit → 0.25
      (14L, "xy")                                      // < 3 tokens → no shingles, absent
    ).toDF("doc_id", "text")
    val got = rows(TextDedup.contamination(corpus, eval)
      .orderBy("eval_id").select("eval_id", "n_shingles", "n_contaminated", "contamination"))
    assert(got == Seq(
      Seq(11L, 8L, 8L, 1.0),
      Seq(12L, 8L, 0L, 0.0),
      Seq(13L, 4L, 1L, 0.25)))
  }

  test("persisted band index: same pairs, corpus contributes no signature work") {
    val base = (1 to 30).map(i => s"tok$i").mkString(" ")
    val nearDup = (1 to 28).map(i => s"tok$i").mkString(" ") + " tokX tokY"
    val corpus = Seq((10L, base), (30L, "something else entirely here")).toDF("doc_id", "text")
    val batch = Seq((21L, nearDup), (23L, "fresh new content words")).toDF("doc_id", "text")
    // build once, store in the catalog, query against the stored frame
    val cat = new graft.catalog.Catalog(spark,
      java.nio.file.Files.createTempDirectory("graft-lsh-spec").toString)
    cat.write("lsh_bands", TextDedup.buildBandIndex(corpus))
    val indexed = TextDedup.minhashLshIndexed(corpus, cat.read("lsh_bands"), batch, 0.5)
    // plan shape FIRST (pre-execution, so AQE prints one plan, not
    // final+initial): the corpus side enters only as (a) the stored band
    // index scan and (b) the semi-join-pruned verify input — there is no
    // corpus tokenize/shingle/signature pipeline in the plan at all.
    val plan = indexed.queryExecution.executedPlan.toString
    assert(plan.contains(cat.currentPath("lsh_bands").get),
      "indexed dedup must scan the stored band index")
    assert(plan.contains("LeftSemi"), "corpus verify side must be semi-join pruned")
    // signature computations: indexed (batch-only, printed at the persisted
    // candidate frame's two consumers) must not exceed the incremental path
    // (batch + corpus)
    val incPlan = TextDedup.minhashLshIncremental(corpus, batch, 0.5)
      .queryExecution.executedPlan.toString
    def sigs(p: String) = "minhash_sigs".r.findAllIn(p).size
    assert(sigs(plan) > 0 && sigs(plan) <= sigs(incPlan))
    // values: the obvious near-dup pair, identical to the recompute path
    assert(rows(indexed.select("batch_id", "corpus_id")) == Seq(Seq(21L, 10L)))
    assert(rows(indexed.orderBy("batch_id", "corpus_id")) ==
      rows(TextDedup.minhashLshIncremental(corpus, batch, 0.5)
        .orderBy("batch_id", "corpus_id")))
  }

  test("SimHash expression matches the explode+vote composition and the portable hash") {
    val docs = Seq((1L, "the quick brown fox"), (2L, "lazy dogs sleep all day"),
      (3L, "the quick brown fox jumps")).toDF("doc_id", "text")
    // map-side expression vs the vote-aggregate formulation it replaced
    val bits = TextDedup.SimHashBits
    val h = docs.select(col("doc_id"), explode(Text.tokens(col("text"))).as("tok"))
      .select(col("doc_id"), graft.functions.Hashing.hash64(col("tok")).as("h"))
    val votes = (0 until bits).map(i =>
      sum(when(expr(s"shiftright(h, $i) & 1") === 1, 1).otherwise(-1)).as(s"b$i"))
    val fp = (0 until bits).map(i =>
      when(col(s"b$i") > 0, lit(1L << i)).otherwise(lit(0L))).reduce(_ + _)
    val composed = h.groupBy(col("doc_id")).agg(votes.head, votes.tail: _*)
      .select(col("doc_id"), fp.as("simhash"))
    assert(rows(TextDedup.simhash(docs).orderBy("doc_id")) ==
      rows(composed.orderBy("doc_id")))
    // hash60 (driver-side) vs the engine-wide portable md5 hash column
    val got = graft.expressions.SimHash.hash60("fox".getBytes("UTF-8"))
    val exp = rows(Seq("fox").toDF("s").select(graft.functions.Hashing.hash64(col("s")))).head.head
    assert(got == exp)
  }

  test("MinHashAgg: partition-independent, equals the min of per-doc signatures") {
    val docs = Seq((1L, "en", "a b c d e f"), (2L, "en", "c d e f g h"),
      (3L, "fr", "x y z w v u"), (4L, "fr", "p q r s t u")).toDF("doc_id", "lang", "text")
    def sigs(df: org.apache.spark.sql.DataFrame) =
      rows(TextDedup.groupSignatures(df, "lang").orderBy("lang")
        .select(col("lang"), expr("array_join(transform(sig, x -> CAST(x AS STRING)), '|')")))
    // mergeable buffer: any partitioning yields the same group signature
    assert(sigs(docs.repartition(1)) == sigs(docs.repartition(7)))
    // the group signature is the element-wise min of per-doc signatures
    // (min over the union = min of mins)
    def arr(v: Any): Seq[Long] = v.asInstanceOf[collection.Seq[Long]].toSeq
    val perDoc = rows(TextDedup.groupSignatures(docs, "doc_id").orderBy("doc_id"))
      .map(r => r.head.asInstanceOf[Long] -> arr(r(1))).toMap
    val byLang = rows(TextDedup.groupSignatures(docs, "lang").orderBy("lang"))
      .map(r => r.head.toString -> arr(r(1))).toMap
    def elemMin(a: Seq[Long], b: Seq[Long]) = a.zip(b).map { case (x, y) => math.min(x, y) }
    assert(byLang("en") == elemMin(perDoc(1L), perDoc(2L)))
    assert(byLang("fr") == elemMin(perDoc(3L), perDoc(4L)))
  }

  test("TopKSketch: exact when capacity covers keys; MG bounds hold when it doesn't") {
    import graft.expressions.TopKSketch
    // exact regime: capacity 8 > 3 distinct keys → true counts, stable order
    val small = (Seq.fill(50)("a") ++ Seq.fill(30)("b") ++ Seq.fill(20)("c"))
      .toDF("k").repartition(7)
    val exact = rows(small.agg(TopKSketch(col("k"), 8, 3).as("hh"))
      .select(explode(col("hh")).as("e")).select("e.key", "e.n"))
    assert(exact == Seq(Seq("a", 50L), Seq("b", 30L), Seq("c", 20L)))
    // null is a key like any other — a null-heavy FK is the canonical hot
    // key this diagnostic exists to find (matches the exact GROUP BY)
    val withNulls = (Seq.fill(60)(null: String) ++ Seq.fill(10)("x"))
      .toDF("k").repartition(5)
    val nullTop = rows(withNulls.agg(TopKSketch(col("k"), 4, 2).as("hh"))
      .select(explode(col("hh")).as("e")).select("e.key", "e.n"))
    assert(nullTop == Seq(Seq(null, 60L), Seq("x", 10L)))
    // approximate regime: 200 distinct tail keys vs one hot key, capacity 16.
    // MG guarantees: the hot key survives (true count > N/(capacity+1)) and
    // its estimate undershoots by at most N/(capacity+1).
    val n = 2200
    val hot = Seq.fill(1000)("hot") ++ (0 until 1200).map(i => s"t${i % 200}")
    val sketched = rows(hot.toDF("k").repartition(13)
      .agg(TopKSketch(col("k"), 16, 16).as("hh"))
      .select(explode(col("hh")).as("e")).select("e.key", "e.n"))
      .map(r => r(0).toString -> r(1).asInstanceOf[Long]).toMap
    assert(sketched.contains("hot"), s"hot key evicted: $sketched")
    val err = 1000L - sketched("hot")
    assert(err >= 0 && err <= n / 17, s"estimate error $err exceeds N/(m+1)")
  }

  test("simhash: near-dup docs land within small hamming distance") {
    val base = (1 to 40).map(i => s"tok$i").mkString(" ")
    val nearDup = (1 to 38).map(i => s"tok$i").mkString(" ") + " zz yy"
    val docs = Seq((1L, base), (2L, nearDup), (3L, "completely different words here now")).toDF("doc_id", "text")
    val pairs = rows(TextDedup.simhashNearDups(docs, 11).select("id1", "id2"))
    assert(pairs.contains(Seq(1L, 2L)))
    assert(!pairs.exists(p => p.contains(3L)))
  }

  test("as-of join: latest at-or-before match, ties to right side, null when none") {
    val left = Seq((100L, 7L, 50L, 1.0), (101L, 7L, 20L, 2.0), (102L, 8L, 10L, 3.0))
      .toDF("event_id", "user_id", "tus", "value")
    val right = Seq((1L, 7L, 10L, 0.1), (2L, 7L, 50L, 0.2), (3L, 9L, 5L, 0.3))
      .toDF("event_id", "user_id", "tus", "value")
    val got = rows(graft.operators.AsOfJoin.lastAtOrBefore(
        left, right, "user_id", "tus", "event_id", "value")
      .orderBy("event_id").select("event_id", "matched_event_id", "matched_value"))
    assert(got == Seq(
      Seq(100L, 2L, 0.2),    // tie at tus=50 → the coincident click matches
      Seq(101L, 1L, 0.1),    // latest click ≤ 20 is at 10
      Seq(102L, null, null)  // user 8 has no clicks
    ))
    // native physical operator: identical semantics to the composition
    val nat = rows(graft.operators.AsOfJoin.native(
        left, right, "user_id", "tus", "event_id", "value")
      .orderBy("event_id").select("event_id", "matched_event_id", "matched_value"))
    assert(nat == got)
    // and its plan is the custom exec, not a window
    val natPlan = graft.operators.AsOfJoin.native(
      left, right, "user_id", "tus", "event_id", "value")
      .queryExecution.executedPlan.toString
    assert(natPlan.contains("AsOfJoin") && !natPlan.contains("Window"))
    // tolerance variant: the match at staleness 10 nulls out under tolerance 5
    val tol = rows(graft.operators.AsOfJoin.lastAtOrBeforeWithin(
        left, right, "user_id", "tus", "event_id", "value", 5L)
      .orderBy("event_id").select("event_id", "matched_event_id", "staleness"))
    assert(tol == Seq(
      Seq(100L, 2L, 0L),     // coincident → staleness 0, kept
      Seq(101L, null, null), // staleness 10 > 5 → treated as no match
      Seq(102L, null, null)))
    // non-integral ts rejected with units guidance (date minus long is an
    // interval, not a staleness)
    val eDate = intercept[IllegalArgumentException](
      graft.operators.AsOfJoin.nativeWithin(
        left.withColumn("tus", expr("date_add(date'2024-01-01', cast(tus as int))")),
        right.withColumn("tus", expr("date_add(date'2024-01-01', cast(tus as int))")),
        "user_id", "tus", "event_id", "value", 5L))
    assert(eDate.getMessage.contains("integral"))
    // native tolerance: same columns, same rows as the window form
    val tolNat = graft.operators.AsOfJoin.nativeWithin(
      left, right, "user_id", "tus", "event_id", "value", 5L)
    assert(tolNat.columns.toSeq == graft.operators.AsOfJoin.lastAtOrBeforeWithin(
      left, right, "user_id", "tus", "event_id", "value", 5L).columns.toSeq)
    assert(rows(tolNat.orderBy("event_id")
      .select("event_id", "matched_event_id", "staleness")) == tol)
  }

  test("native as-of join: date/int keys, multi-payload, mixed key types rejected") {
    import java.sql.Date
    // INT key, DATE time axis, three payloads (string, long, date)
    val left = Seq((1, Date.valueOf("2024-03-15"), "a"),
        (1, Date.valueOf("2024-01-05"), "b"),
        (2, Date.valueOf("2024-02-01"), "c"))
      .toDF("k", "d", "tag")
    val right = Seq((1, Date.valueOf("2024-03-15"), 10L, "s10", Date.valueOf("2024-03-01")),
        (1, Date.valueOf("2024-03-15"), 11L, "s11", Date.valueOf("2024-03-02")),
        (1, Date.valueOf("2024-01-01"), 12L, "s12", Date.valueOf("2024-01-01")),
        (3, Date.valueOf("2024-01-01"), 13L, "s13", Date.valueOf("2024-01-01")))
      .toDF("k", "d", "rid", "status", "eff")
    val got = rows(graft.operators.AsOfJoin.native(
        left, right, "k", "d", "rid", "status", "eff")
      .orderBy("tag").select("tag", "matched_rid", "matched_status", "matched_eff"))
    assert(got == Seq(
      // date tie at 2024-03-15 → largest rid (11), all payloads from ITS row
      Seq("a", 11L, "s11", Date.valueOf("2024-03-02")),
      Seq("b", 12L, "s12", Date.valueOf("2024-01-01")),
      Seq("c", null, null, null)))
    // matches the window composition run per payload
    val comp = graft.operators.AsOfJoin.lastAtOrBefore(left, right, "k", "d", "rid", "status")
    assert(rows(comp.orderBy("tag").select("tag", "matched_rid", "matched_status")) ==
      got.map(_.take(3)))
    // mixed key widths must be rejected (hash co-partitioning is type-sensitive)
    val longKeyRight = right.withColumn("k", col("k").cast("long"))
    val e = intercept[IllegalArgumentException](
      graft.operators.AsOfJoin.native(left, longKeyRight, "k", "d", "rid", "status"))
    assert(e.getMessage.contains("SAME type"))
    // non-orderable key types must be rejected
    val e2 = intercept[IllegalArgumentException](
      graft.operators.AsOfJoin.native(
        left.withColumn("k", col("k").cast("string")),
        right.withColumn("k", col("k").cast("string")), "k", "d", "rid", "status"))
    assert(e2.getMessage.contains("unsupported"))
  }

  test("clusters: transitive chains collapse to the minimum id") {
    // components: {1,2,3} via 1-2, 2-3; {10,11}; singletons don't appear
    val pairs = Seq((1L, 2L), (2L, 3L), (10L, 11L)).toDF("id1", "id2")
    val got = rows(TextDedup.clusters(pairs).orderBy("doc_id"))
    assert(got == Seq(Seq(1L, 1L), Seq(2L, 1L), Seq(3L, 1L), Seq(10L, 10L), Seq(11L, 10L)))
  }

  test("clusterKeepersByPriority: exactly one keeper per cluster, ranked by (priority, id)") {
    val pairs = Seq((1L, 2L), (2L, 3L), (10L, 11L)).toDF("id1", "id2")
    // doc 3 has the best (lowest) priority in {1,2,3}; 10/11 tie on
    // priority → smaller id keeps
    val meta = Seq((1L, 2L), (2L, 1L), (3L, 0L), (10L, 5L), (11L, 5L))
      .toDF("doc_id", "prio")
    val got = rows(TextDedup.clusterKeepersByPriority(
      TextDedup.clusters(pairs), meta, "prio").orderBy("cluster_id", "doc_id"))
    assert(got == Seq(
      Seq(1L, 1L, 2L, false), Seq(1L, 2L, 1L, false), Seq(1L, 3L, 0L, true),
      Seq(10L, 10L, 5L, true), Seq(10L, 11L, 5L, false)))
    // invariant: one keeper per cluster
    val keepers = TextDedup.clusterKeepersByPriority(TextDedup.clusters(pairs), meta, "prio")
      .filter(col("is_keeper")).groupBy("cluster_id").count()
    assert(rows(keepers.select("count")).flatten.forall(_ == 1L))
    // missing metadata ranks LAST and stays droppable — it neither wins
    // the cluster nor silently vanishes from the output
    val partial = Seq((2L, 5L), (3L, 5L), (10L, 1L), (11L, 1L)).toDF("doc_id", "prio")
    val got2 = rows(TextDedup.clusterKeepersByPriority(
      TextDedup.clusters(pairs), partial, "prio").orderBy("cluster_id", "doc_id"))
    assert(got2 == Seq(
      Seq(1L, 1L, null, false), Seq(1L, 2L, 5L, true), Seq(1L, 3L, 5L, false),
      Seq(10L, 10L, 1L, true), Seq(10L, 11L, 1L, false)))
  }

  test("quality filter: short and letter-poor docs are rejected") {
    val docs = Seq(
      (1L, ("the quick brown fox jumps over a lazy dog and then some more words " * 2).trim),
      (2L, "too short"),
      (3L, "1234 5678 9012 3456 7890 " * 6 + "the a of and in to numbers only mostly here")
    ).toDF("doc_id", "text")
    val v = graft.operators.QualityFilter.verdicts(docs)
    val keep = rows(v.filter(col("keep")).select("doc_id")).flatten
    assert(keep == Seq(1L))
    val kept = graft.operators.QualityFilter.filter(docs)
    assert(rows(kept.select("doc_id")).flatten == Seq(1L))
    assert(!kept.columns.contains("keep"))
  }

  test("gopher rules: each rule kills exactly its target document") {
    import graft.operators.QualityFilter
    val base = "the quick brown fox jumps over a lazy dog and then some more"
    val docs = Seq(
      (1L, (base + " ") * 5 + base),                  // clean: passes all
      (2L, "the a short"),                            // r_word_count (too few)
      (3L, ("a b c d e f g h i j " * 8).trim),        // r_mean_len (mean=1)
      (4L, (base + " ") * 5 + base + " " + "# # # # # # # # # # # # # # #"),
      (5L, (("1234 5678 " * 18).trim + " the a of")), // r_alpha (<80% alpha words)
      (6L, ("quick brown fox jumps over lazy dog " * 6).trim) // r_stop (no hits)
    ).toDF("doc_id", "text")
    val t = QualityFilter.GopherThresholds(minWords = 10, maxWords = 200)
    val v = QualityFilter.gopherScored(docs, t).orderBy("doc_id")
    val got = rows(v.select("doc_id", "r_word_count", "r_mean_len", "r_symbol",
      "r_alpha", "r_stop", "keep"))
    assert(got == Seq(
      Seq(1L, true, true, true, true, true, true),
      Seq(2L, false, true, true, true, true, false),
      Seq(3L, true, false, true, true, true, false),
      Seq(4L, true, true, false, true, true, false),
      Seq(5L, true, true, true, false, true, false),
      Seq(6L, true, true, true, true, false, false)))
    // '...' counts as ONE symbol occurrence (three chars / 3), not three
    val ell = Seq((7L, (base + " ") * 5 + base + " " + ("... " * 15).trim))
      .toDF("doc_id", "text")
    val e = rows(QualityFilter.gopherScored(ell, t)
      .select("n_symbol_words", "r_symbol")).head
    assert(e == Seq(15L, false))
  }

  test("mmrRerank: diversity beats redundancy at low lambda, reduces to relevance at 1.0") {
    // 0 = query; 1 and 2 are EXACT duplicates (most relevant); 3 is diverse.
    val emb = Seq(
      (0L, Seq(1.0f, 0.0f)),
      (1L, Seq(0.99f, 0.1f)),
      (2L, Seq(0.99f, 0.1f)),
      (3L, Seq(0.3f, 0.95f))).toDF("vec_id", "embedding")
    def picks(lambda: Double): Seq[Seq[Any]] =
      rows(VectorSearch.mmrRerank(emb, col("vec_id") === 0, n = 3, k = 3, lambda)
        .orderBy("qid", "pick").select("qid", "nid", "pick"))
    // λ=0.3: after picking dup #1 (nid tie-break over #2), the OTHER dup's
    // max-sim-to-picked is 1.0 — the diversity penalty sends the diverse
    // doc #3 ahead of it; the remaining dup lands last.
    assert(picks(0.3) == Seq(Seq(0L, 1L, 1L), Seq(0L, 3L, 2L), Seq(0L, 2L, 3L)))
    // λ=1.0: no diversity term — pure relevance order, ties on nid.
    assert(picks(1.0) == Seq(Seq(0L, 1L, 1L), Seq(0L, 2L, 2L), Seq(0L, 3L, 3L)))
    // picks carry the ORIGINAL query sim, matching brute-force ranking's sims
    val bf = rows(VectorSearch.bruteForceTopK(emb, col("vec_id") === 0, 3)
      .select("nid", "sim")).map(r => r.head -> r(1)).toMap
    val ps = rows(VectorSearch.mmrRerank(emb, col("vec_id") === 0, n = 3, k = 3, 0.3)
      .select("nid", "sim"))
    ps.foreach { case Seq(nid, sim) => assert(bf(nid) == sim) }
  }

  test("matryoshkaTopK: full-coverage shortlist ≡ brute force; narrow prefix can differ") {
    // 4-dim embeddings on the sf fixture style: prefix = first 2 dims
    val emb = (0L until 30L).map { i =>
      (i, Seq(math.sin(i * 1.7).toFloat, math.cos(i * 0.9).toFloat,
        math.sin(i * 0.31 + 1).toFloat, math.cos(i * 2.3).toFloat))
    }.toDF("vec_id", "embedding")
    // shortlist covering the whole corpus → the re-rank IS brute force
    val mx = rows(VectorSearch.matryoshkaTopK(emb, col("vec_id") < 3,
      prefixDim = 2, shortlist = 29, k = 5).orderBy("qid", "rank"))
    val bf = rows(VectorSearch.bruteForceTopK(emb, col("vec_id") < 3, 5)
      .orderBy("qid", "rank"))
    assert(mx == bf)
    // shortlist=k (no slack): ranks come from the prefix ordering's picks —
    // output is k rows per query regardless
    val tight = VectorSearch.matryoshkaTopK(emb, col("vec_id") < 3,
      prefixDim = 2, shortlist = 5, k = 5)
    assert(tight.groupBy("qid").count().select("count").as[Long].collect()
      .forall(_ == 5L))
    intercept[IllegalArgumentException](VectorSearch.matryoshkaTopK(
      emb, col("vec_id") < 3, prefixDim = 2, shortlist = 3, k = 5))
  }

  test("filtered search pre-filters: k survivors where post-filter would starve") {
    val emb = Seq(
      (0L, Seq(1.0f, 0.0f), 0),
      (1L, Seq(0.99f, 0.1f), 0),  // most similar — but wrong label
      (2L, Seq(0.95f, 0.2f), 0),
      (3L, Seq(0.5f, 0.86f), 1),
      (4L, Seq(0.3f, 0.95f), 1)).toDF("vec_id", "embedding", "label")
    val got = rows(VectorSearch.bruteForceTopKFiltered(
      emb, col("vec_id") === 0, col("label") === 1, 2).orderBy("rank")
      .select("nid", "rank"))
    // both label-1 docs surface, even though the global top-2 are label-0 —
    // post-filtering a top-2 would have returned NOTHING
    assert(got == Seq(Seq(3L, 1L), Seq(4L, 2L)))
  }

  test("contrastiveTriples matches an in-JVM reference on arbitrary vectors") {
    // deterministic pseudo-random 8-d vectors
    val emb = (0 until 40).map { i =>
      (i.toLong, (0 until 8).map(j => ((i * 37 + j * 11) % 19 - 9) / 10.0f))
    }.toDF("vec_id", "embedding")
    val (posThr, negThr) = (0.3, 0.3)
    // 2 planes → 4 coarse buckets, so buckets mix similar AND dissimilar
    // vectors and both picks have real candidates
    val got = VectorSearch.contrastiveTriples(emb, lit(true), posThr, negThr,
        numPlanes = 2, dim = 8)
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getDouble(2), r.getLong(3), r.getDouble(4))).toMap
    // reference: same buckets, exact sims, greedy picks
    val bucket = VectorSearch.lshBuckets(emb, 2, 8)
      .select("vec_id", "bucket").collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val sims = VectorSearch.bruteForceTopK(emb, lit(true), 40)
      .select("qid", "nid", "sim").collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    val want = (0L until 40L).flatMap { a =>
      val cands = (0L until 40L).filter(b => b != a && bucket(b) == bucket(a))
        .map(b => (b, sims((a, b))))
      val pos = cands.filter(_._2 >= posThr).sortBy { case (b, s) => (-s, b) }.headOption
      val neg = cands.filter(_._2 < negThr).sortBy { case (b, s) => (-s, b) }.headOption
      for (p <- pos; n <- neg) yield a -> (p._1, p._2, n._1, n._2)
    }.toMap
    assert(want.nonEmpty, "fixture produced no triples — adjust it")
    assert(got == want)
  }

  test("randomProjection: deterministic long-row output, map-only plan") {
    val emb = Seq(
      (1L, Seq(1.0f, 0.0f, 0.0f, 0.0f)),
      (2L, Seq(1.0f, 0.0f, 0.0f, 0.0f)), // identical → identical projection
      (3L, Seq(0.0f, 1.0f, 0.0f, 0.0f))).toDF("vec_id", "embedding")
    val proj = VectorSearch.randomProjection(emb, outDim = 2, dim = 4)
    val got = rows(proj.orderBy("vec_id", "pos"))
    assert(got.size == 6) // 3 vectors × 2 components
    // identical inputs project identically; distinct inputs differ somewhere
    assert(got.take(2).map(_.drop(1)) == got.slice(2, 4).map(_.drop(1)))
    assert(got.take(2).map(_.last) != got.slice(4, 6).map(_.last))
    // pure map: no exchange anywhere
    val plan = proj.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), plan)
  }

  test("nearDuplicatesIndexed ≡ incremental recompute: the stored index changes nothing") {
    val emb = (0L until 20L).map(i =>
      (i, (1 to 8).map(j => ((i % 4) * 0.3f + j * 0.01f)))).toDF("vec_id", "embedding")
    val corpus = emb.filter(col("vec_id") % 2 === 0)
    val batch = emb.filter(col("vec_id") % 2 === 1)
    val direct = rows(VectorSearch.nearDuplicatesIncremental(corpus, batch, 0.5, 8, dim = 8)
      .orderBy("batch_id", "corpus_id"))
    val viaIndex = rows(VectorSearch.nearDuplicatesIndexed(
        VectorSearch.buildIvfIndex(corpus, 8, dim = 8), batch, 0.5, 8, dim = 8)
      .orderBy("batch_id", "corpus_id"))
    assert(direct.nonEmpty && direct == viaIndex)
  }

  test("int8Components: codes bounded, reconstruction within scale/2, zero vectors safe") {
    val emb = Seq(
      (1L, Seq(0.5f, -1.0f, 0.25f, 0.003f)),
      (2L, Seq(0.0f, 0.0f, 0.0f, 0.0f)),       // all-zero → v8 0, scale 0
      (3L, Seq(-0.0001f, 0.0001f, 1.2f, -1.2f))).toDF("vec_id", "embedding")
    val out = VectorSearch.int8Components(emb)
    assert(out.filter(abs(col("v8")) > 127).count() == 0)
    assert(rows(out.filter(col("vec_id") === 2L).select("v8", "scale")).forall(_ == Seq(0L, 0.0)))
    // reconstruction: |q − v8·scale| ≤ scale/2 per component (q = exact
    // quantized integer) — the defining symmetric-quantization bound
    val q = emb.select(col("vec_id"), posexplode(VectorSearch.quantize("embedding"))
      .as(Seq("pos", "v"))).withColumn("pos", col("pos").cast("long"))
    val bad = out.join(q, Seq("vec_id", "pos"))
      .filter(col("scale") > 0 &&
        abs(col("v") - col("v8") * col("scale")) > col("scale") / 2 + 1e-9)
    assert(bad.count() == 0)
  }

  test("vector search: identical vectors rank first with sim 1.0") {
    val v = (1 to 64).map(_.toFloat / 100)
    val w = (1 to 64).map(i => (65 - i).toFloat / 100)
    val emb = Seq((0L, v), (1L, v), (2L, w)).toDF("vec_id", "embedding")
    val topk = rows(VectorSearch.bruteForceTopK(emb, col("vec_id") < 1, 2)
      .orderBy("rank").select("nid", "sim"))
    assert(topk.head(0) == 1L && topk.head(1) == 1.0)
    // near-dup LSH also pairs the identical vectors
    val nd = rows(VectorSearch.nearDuplicates(emb, 0.99).select("id1", "id2"))
    assert(nd == Seq(Seq(0L, 1L)))
  }

  test("persisted IVF index: same ranks as the inline probe, corpus from storage") {
    val rnd = new scala.util.Random(7)
    val emb = (0L until 40L).map(i => (i, Seq.fill(16)(rnd.nextFloat() - 0.5f)))
      .toDF("vec_id", "embedding")
    val cat = new graft.catalog.Catalog(spark,
      java.nio.file.Files.createTempDirectory("graft-ivf-spec").toString)
    cat.writeSorted("ivf_index", VectorSearch.buildIvfIndex(emb, 4, dim = 16), 2, "bucket")
    val probed = VectorSearch.ivfProbeTopKIndexed(
      cat.read("ivf_index"), emb.filter(col("vec_id") < 5), 3, 4, dim = 16)
    // plan reads the stored index; only the query rows touch the raw embeddings
    val plan = probed.queryExecution.executedPlan.toString
    assert(plan.contains(cat.currentPath("ivf_index").get),
      "indexed probe must scan the stored IVF index")
    // identical to the inline probe over the same corpus
    val inline = VectorSearch.ivfProbeTopK(emb, col("vec_id") < 5, 3, 4, dim = 16)
    assert(rows(probed.orderBy("qid", "rank")) == rows(inline.orderBy("qid", "rank")))
    assert(rows(probed).nonEmpty)
  }

  test("int8 IVF index: tinyint payload, bounded sim error, bounded rank displacement") {
    val rnd = new scala.util.Random(11)
    val emb = (0L until 60L).map(i => (i, Seq.fill(16)(rnd.nextFloat() - 0.5f)))
      .toDF("vec_id", "embedding")
    val cat = new graft.catalog.Catalog(spark,
      java.nio.file.Files.createTempDirectory("graft-ivf8-spec").toString)
    cat.writeSorted("idx8", VectorSearch.buildIvfIndexInt8(emb, 4, dim = 16), 2, "bucket")
    val stored = cat.read("idx8")
    // storage claim: codes really are tinyint (1/8th the long payload)
    assert(stored.schema("v8").dataType.asInstanceOf[org.apache.spark.sql.types.ArrayType]
      .elementType == org.apache.spark.sql.types.ByteType)
    val full = VectorSearch.ivfProbeTopK(emb, col("vec_id") < 8, 3, 4, dim = 16)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> (r.getDouble(2), r.getLong(3))).toMap
    val int8 = VectorSearch.ivfProbeTopKIndexedInt8(
        stored, emb.filter(col("vec_id") < 8), 3, 4, dim = 16)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> (r.getDouble(2), r.getLong(3))).toMap
    assert(int8.nonEmpty)
    // sim error bound: per-component error ≤ scale/2 ⇒ cosine shift well
    // under 0.07 at dim 16 / 127 levels — every shared pair must respect it
    for (((pair, (s8, _)), _) <- int8.zipWithIndex; (sf, _) <- full.get(pair))
      assert(math.abs(s8 - sf) <= 0.07, s"pair $pair: int8 sim $s8 vs full $sf")
    // rank displacement: the full-width top-1 neighbor of every query must
    // appear in the int8 top-3 (same bucket set, quantization-bounded sims)
    val fullTop1 = full.collect { case ((q, n), (_, 1L)) => q -> n }
    val int8ByQ = int8.keySet.groupBy(_._1).view.mapValues(_.map(_._2)).toMap
    for ((q, n1) <- fullTop1)
      assert(int8ByQ(q).contains(n1),
        s"query $q: full-width top-1 $n1 missing from int8 top-3 ${int8ByQ(q)}")
  }
  test("embeddingAudit: null, zero, tiny, wrong-dim, and norm range all flagged") {
    import spark.implicits._
    val rows = Seq(
      (0L, Some(Seq(1.0f, 0.0f))),            // norm2 = 1e8
      (1L, Some(Seq(0.0f, 0.0f))),            // all-zero
      (2L, None),                             // null embedding
      (3L, Some(Seq(0.0001f, 0.0f))),         // quantizes to (1,0): norm2 = 1 -> tiny
      (4L, Some(Seq(1.0f, 1.0f, 1.0f))),      // wrong dimension (norm2 = 3e8)
      (5L, Some(Seq(2.0f, 0.0f))))            // norm2 = 4e8 (max)
      .toDF("vec_id", "embedding")
    val got = VectorSearch.embeddingAudit(rows, expectedDim = 2)
      .as[(Long, Long, Long, Long, Long, Long, Long)].head()
    assert(got == ((6L, 1L, 1L, 1L, 1L, 0L, 400000000L)), got.toString)
  }
}
