package graft

import org.apache.spark.sql.functions._
import graft.operators.BpeVocab

class BpeVocabSpec extends SparkSpec {
  import spark.implicits._

  test("learn: classic low/lower corpus merges the dominant pair first") {
    // "lo" appears in every word occurrence (5+2+2=9 weighted), so the
    // first merge must fuse l+o; the second extends it ("lo"+"w", 9).
    val docs = Seq((1L, "low low low low low lower lower lowest lowest"))
      .toDF("doc_id", "text")
    val merges = BpeVocab.learn(docs, 2)
    assert(merges.map(m => (m.step, m.left, m.right, m.weight)) ==
      Seq((1, "l", "o", 9L), (2, "lo", "w", 9L)))
  }

  test("merge application is leftmost-non-overlapping (aaa → (aa)a)") {
    val docs = Seq((1L, "aaa aaa")).toDF("doc_id", "text")
    val merges = BpeVocab.learn(docs, 1)
    assert(merges.head.left == "a" && merges.head.right == "a")
    // weight counts BOTH adjacent pairs inside 'aaa' (2 per word, 2 words)
    assert(merges.head.weight == 4L)
    // after the merge each 'aaa' is (aa)(a) → 2 symbols per word, 4 total
    val enc = rows(BpeVocab.encodedLength(docs, merges))
    assert(enc == Seq(Seq(1L, 4L)))
  }

  test("merges never fuse across symbol boundaries (th|i survives an (h,i) merge)") {
    // corpus where (t,h) merges first, then (h,i): the word 'thi' is
    // [th, i] after merge 1 and must STAY two symbols — a flat string
    // replace of "h SEP i" would corrupt it to one symbol 'thi'
    val docs = Seq((1L, "th th th hi hi thi")).toDF("doc_id", "text")
    val merges = BpeVocab.learn(docs, 2)
    assert(merges.map(m => (m.left, m.right)) == Seq(("t", "h"), ("h", "i")))
    // thi = [th, i] (2 symbols), th = [th] (1), hi = [hi] (1)
    assert(rows(BpeVocab.encodedLength(docs, merges)) == Seq(Seq(1L, 3L + 2L + 2L)))
  }

  test("repeated chains merge greedily left-to-right (aaaa → aa aa)") {
    val docs = Seq((1L, "aaaa aaaa")).toDF("doc_id", "text")
    val merges = BpeVocab.learn(docs, 1)
    // each 'aaaa' → [aa][aa]: 2 symbols per word
    assert(rows(BpeVocab.encodedLength(docs, merges)) == Seq(Seq(1L, 4L)))
  }

  test("words containing the separator are dropped, not corrupted") {
    val docs = Seq((1L, "ok ok ok bad" + BpeVocab.Sep + "word")).toDF("doc_id", "text")
    val vocab = rows(BpeVocab.wordVocab(docs).select("word")).flatten
    assert(vocab == Seq("ok"))
  }

  test("ties break lexicographically on (left, right)") {
    // "ab" and "cd" both occur twice; (a,b) < (c,d)
    val docs = Seq((1L, "ab ab cd cd")).toDF("doc_id", "text")
    val m = BpeVocab.learn(docs, 1).head
    assert((m.left, m.right) == ("a", "b"))
  }

  test("learn stops early when no pairs remain") {
    val docs = Seq((1L, "a b c")).toDF("doc_id", "text") // all 1-char words
    assert(BpeVocab.learn(docs, 5).isEmpty)
  }

  test("encodeIdHistogram: dense sorted-symbol ids, per-doc counts") {
    val docs = Seq((1L, "ab ab b"), (2L, "b")).toDF("doc_id", "text")
    val merges = BpeVocab.learn(docs, 1) // merges (a,b) — weight 2
    assert((merges.head.left, merges.head.right) == ("a", "b"))
    // encoded symbols: doc1 = [ab][ab][b], doc2 = [b]; sorted inventory:
    // "ab" → 1, "b" → 2
    val got = rows(BpeVocab.encodeIdHistogram(docs, merges).orderBy("doc_id", "id"))
    assert(got == Seq(Seq(1L, 1L, 2L), Seq(1L, 2L, 1L), Seq(2L, 2L, 1L)))
  }

  test("encodedLength without merges is the character count per doc") {
    val docs = Seq((1L, "ab cde"), (2L, "x")).toDF("doc_id", "text")
    assert(rows(BpeVocab.encodedLength(docs, Nil).orderBy("doc_id")) ==
      Seq(Seq(1L, 5L), Seq(2L, 1L)))
  }

  test("fertility: chars-per-word with no merges; merges reduce it toward 1") {
    val docs = Seq((1L, "ab cde"), (2L, "x")).toDF("doc_id", "text")
    val noMerges = BpeVocab.fertility(docs, Nil).orderBy("doc_id")
      .select("doc_id", "n_bpe_symbols", "n_words", "fertility")
      .as[(Long, Long, Long, Double)].collect()
    assert(noMerges(0) == ((1L, 5L, 2L, 2.5)))
    assert(noMerges(1) == ((2L, 1L, 1L, 1.0)))
    // a corpus of one repeated word: enough merges fuse it whole → fertility 1
    val rep = Seq((1L, "ab ab ab")).toDF("doc_id", "text")
    val merges = BpeVocab.learn(rep, 1)
    val f = BpeVocab.fertility(rep, merges).select("fertility").as[Double].head()
    assert(f == 1.0, s"fully merged word must reach fertility 1, got $f")
  }

  test("learn is deterministic across runs") {
    val docs = graft.queries.Q.t(spark, sf0001, "documents")
    assert(BpeVocab.learn(docs, 3) == BpeVocab.learn(docs, 3))
  }

  test("minFreq prune: identical merge sequence on a corpus with a hapax tail") {
    // Repeated words carry all the pair weight; the hapax tail ("zq-ish"
    // junk) contributes no pair that competes with any repeated pair, so
    // pruning freq<2 must not change a single merge decision.
    val docs = Seq(
      (1L, "low low low low low lower lower lowest lowest"),
      (2L, "zq xv qj vk jx kz wq qx")).toDF("doc_id", "text")
    val full = BpeVocab.learn(docs, 4)
    val pruned = BpeVocab.learn(docs, 4, minFreq = 2L)
    assert(pruned == full)
    assert(full.nonEmpty)
  }

  test("minFreq prune drives the driver-resident vocab to repeated words only") {
    val docs = Seq((1L, "aa aa bb cc")).toDF("doc_id", "text")
    // freq>=2 keeps only "aa" → the sole learnable merge is (a,a), weight 2.
    val pruned = BpeVocab.learn(docs, 3, minFreq = 2L)
    assert(pruned.map(m => (m.left, m.right, m.weight)) == Seq(("a", "a", 2L)))
  }

  test("roundtrip: decode(encode(doc)) reproduces every doc; id stream ordered") {
    val docs = Seq(
      (1L, "low lower lowest low low"),
      (2L, "newest widest lowest"),
      (3L, "low  low"), // double space: empty token dropped by normalization
      (4L, "solo")).toDF("doc_id", "text")
    val merges = BpeVocab.learn(docs, 3)
    val rt = BpeVocab.roundtrip(docs, merges).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[Long]("n_ids"), r.getAs[Boolean]("roundtrip_ok")))).toMap
    assert(rt.size == 4 && rt.values.forall(_._2), s"all docs roundtrip: $rt")
    assert(rt(4L)._1 >= 1L)
    // the id stream is a faithful ordered encoding: ids of doc 1 word 0
    // and word 3 ("low" twice) are identical sequences
    val ids = BpeVocab.encodeIdStream(docs, merges)
      .filter(col("doc_id") === 1L).collect()
      .groupBy(_.getAs[Long]("widx"))
      .map { case (w, rs) =>
        w -> rs.sortBy(_.getAs[Long]("sidx")).map(_.getAs[Long]("id")).toSeq }
    assert(ids(0L) == ids(3L) && ids(0L) == ids(4L))
    assert(ids(1L) != ids(0L))
  }

  test("roundtrip detects a corrupted id table") {
    val docs = Seq((1L, "ab cd ab")).toDF("doc_id", "text")
    val merges = BpeVocab.learn(docs, 1)
    val ids = BpeVocab.encodeIdStream(docs, merges)
    // swap the symbols behind two ids: decode must no longer match
    val vocabIds = ids.select(col("id")).distinct().orderBy(col("id"))
      .collect().map(_.getLong(0))
    assert(vocabIds.length >= 2)
    val corrupt = Seq((vocabIds(0), "XX"), (vocabIds(1), "YY")).toDF("id", "symbol")
    val dec = BpeVocab.decodeIdStream(ids, corrupt).collect().head
    assert(dec.getAs[String]("decoded") != "ab cd ab")
  }

  test("merges round-trip through the catalog; stored encode ≡ live encode") {
    val docs = Seq((1L, "low low low low low lower lower lowest lowest"))
      .toDF("doc_id", "text")
    val cat = new graft.catalog.Catalog(spark,
      tempDir("graft-bpe-merges").toString)
    val merges = BpeVocab.learn(docs, 2)
    BpeVocab.saveMerges(cat, "merges", spark, merges)
    assert(BpeVocab.loadMerges(cat, "merges") == merges)
    assert(rows(BpeVocab.encodedLength(docs, BpeVocab.loadMerges(cat, "merges"))
        .orderBy("doc_id")) ==
      rows(BpeVocab.encodedLength(docs, merges).orderBy("doc_id")))
  }
}
