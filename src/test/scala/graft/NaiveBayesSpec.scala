package graft

import org.apache.spark.sql.functions._
import graft.operators.NaiveBayes

/** Multinomial NB classifier: hand-checked micro-nat scores, deterministic
  * argmax/tie-break, separable-corpus sanity, confusion bookkeeping. */
class NaiveBayesSpec extends SparkSpec {
  import spark.implicits._

  private val micro = NaiveBayes.MicroScale
  private def mn(x: Double): Long = math.round(math.log(x) * micro)
  private def gold(docs: org.apache.spark.sql.DataFrame) =
    docs.select(col("doc_id"), col("lang").as("gold"))

  test("scores: hand-checked on a 2-class corpus") {
    // class x: "a a b" (N_x=3), class y: "c c" (N_y=2); V=3, nd=2, k=2.
    val train = Seq((0L, "a a b", "x"), (1L, "c c", "y")).toDF("doc_id", "text", "lang")
    val model = NaiveBayes.train(train, "lang")
    // score doc "a c": n_tokens=2
    val docs = Seq((10L, "a c")).toDF("doc_id", "text")
    val got = NaiveBayes.scores(docs, model)
      .select("label", "score_micro").as[(String, Long)].collect().toMap

    val priorX = mn(2.0 / 4.0); val floorX = mn(1.0 / 6.0)
    val lpXa = mn(3.0 / 6.0)
    val expX = priorX + 2 * floorX + (lpXa - floorX) // c unseen in x
    val priorY = mn(2.0 / 4.0); val floorY = mn(1.0 / 5.0)
    val lpYc = mn(3.0 / 5.0)
    val expY = priorY + 2 * floorY + (lpYc - floorY) // a unseen in y
    assert(got == Map("x" -> expX, "y" -> expY))
  }

  test("classify: tokenless doc scores pure prior; ties break label-asc") {
    val train = Seq((0L, "a", "x"), (1L, "b", "y")).toDF("doc_id", "text", "lang")
    val model = NaiveBayes.train(train, "lang")
    // "" tokenizes to one empty token which is filtered → n_tokens 0 →
    // score = prior for both classes (equal priors) → tie → "x" (label asc)
    val got = NaiveBayes.classifyFromScores(
        NaiveBayes.scores(Seq((9L, "")).toDF("doc_id", "text"), model))
      .select("predicted").as[String].head()
    assert(got == "x")
  }

  test("classify: separable corpus predicts the right class everywhere") {
    val mk = (lang: String, word: String) => (0L until 10L).map(i =>
      (lang.hashCode.toLong * 100 + i, s"$word $word $word common", lang))
    val docs = (mk("en", "hello") ++ mk("fr", "bonjour") ++ mk("de", "hallo"))
      .toDF("doc_id", "text", "lang")
    val model = NaiveBayes.train(docs, "lang")
    val conf = NaiveBayes.confusionFromScores(NaiveBayes.scores(docs, model), gold(docs))
      .select("gold", "predicted", "n_docs").as[(String, String, Long)].collect()
    assert(conf.toSet == Set(("en", "en", 10L), ("fr", "fr", 10L), ("de", "de", 10L)))
  }

  test("confusion: row counts cover every scored doc exactly once") {
    val docs = Seq((0L, "a b", "x"), (1L, "b c", "y"), (2L, "q", "x"))
      .toDF("doc_id", "text", "lang")
    val model = NaiveBayes.train(docs, "lang")
    val total = NaiveBayes.confusionFromScores(NaiveBayes.scores(docs, model), gold(docs))
      .agg(sum("n_docs")).head().getLong(0)
    assert(total == 3L)
  }

  test("metrics: hand-checked precision/recall/F1, gold-only class included") {
    // confusion: gold a→pred a ×3, gold a→pred b ×1, gold b→pred b ×2,
    // gold c→pred a ×1 (c never predicted)
    val conf = Seq(("a", "a", 3L), ("a", "b", 1L), ("b", "b", 2L), ("c", "a", 1L))
      .toDF("gold", "predicted", "n_docs")
    val m = NaiveBayes.metrics(conf).collect()
      .map(r => r.getString(0) -> r).toMap
    val a = m("a") // tp=3, n_gold=4, n_pred=4
    assert(a.getLong(1) == 3 && a.getDouble(4) == 0.75 && a.getDouble(5) == 0.75
      && a.getDouble(6) == 0.75)
    val b = m("b") // tp=2, n_gold=2, n_pred=3
    assert(b.getDouble(4) == 2.0 / 3.0 && b.getDouble(5) == 1.0
      && b.getDouble(6) == 4.0 / 5.0)
    val c = m("c") // never predicted: precision NULL, recall 0
    assert(c.isNullAt(4) && c.getDouble(5) == 0.0 && c.getDouble(6) == 0.0)
  }

  test("cohenKappa: hand-checked; perfect agreement = 1; constant raters NULL") {
    // classic 2×2: a→a 20, a→b 5, b→a 10, b→b 15; n=50, agree=35
    // pe_num = rowa·cola + rowb·colb = 25·30 + 25·20 = 1250
    // κ = (50·35 − 1250)/(2500 − 1250) = 500/1250 = 0.4
    val conf = Seq(("a", "a", 20L), ("a", "b", 5L), ("b", "a", 10L), ("b", "b", 15L))
      .toDF("gold", "predicted", "n_docs")
    val r = NaiveBayes.cohenKappa(conf).head()
    assert((r.getLong(0), r.getLong(1), r.getLong(2)) == ((50L, 35L, 1250L)))
    assert(r.getDouble(3) == 0.4)
    // diagonal-only confusion with >1 class: κ = 1 exactly
    val perfect = Seq(("a", "a", 7L), ("b", "b", 3L)).toDF("gold", "predicted", "n_docs")
    assert(NaiveBayes.cohenKappa(perfect).head().getDouble(3) == 1.0)
    // both raters constant and identical: denominator 0 → κ NULL
    val const = Seq(("a", "a", 9L)).toDF("gold", "predicted", "n_docs")
    assert(NaiveBayes.cohenKappa(const).head().isNullAt(3))
  }

  test("train: label absent from training is never predicted") {
    val train = Seq((0L, "a a", "x"), (1L, "b b", "y")).toDF("doc_id", "text", "lang")
    val model = NaiveBayes.train(train, "lang")
    val preds = NaiveBayes.classifyFromScores(NaiveBayes.scores(
        Seq((5L, "zz zz"), (6L, "a b")).toDF("doc_id", "text"), model))
      .select("predicted").as[String].collect().toSet
    assert(preds.subsetOf(Set("x", "y")))
  }

  test("marginBins: separable corpus bins at accuracy 1.0; counts cover all docs") {
    val train = Seq((0L, "a a a", "x"), (1L, "b b b", "y")).toDF("doc_id", "text", "lang")
    val model = NaiveBayes.train(train, "lang")
    val docs = Seq((10L, "a a", "x"), (11L, "b b", "y"), (12L, "a", "x"))
      .toDF("doc_id", "text", "lang")
    val bins = NaiveBayes.marginBinsFromScores(NaiveBayes.scores(docs, model), gold(docs))
      .select("margin_bin", "n_docs", "n_correct", "accuracy")
      .as[(Long, Long, Long, Double)].collect()
    assert(bins.map(_._2).sum == 3, "every 2-class doc falls in exactly one bin")
    bins.foreach { case (b, n, c, acc) =>
      assert(b >= 0 && c == n && acc == 1.0, s"separable corpus must be all-correct: $bins")
    }
    // a wrong-gold doc lands in a bin with accuracy < 1
    val flipped = Seq((20L, "a a a a", "y")).toDF("doc_id", "text", "lang")
    val fb = NaiveBayes.marginBinsFromScores(NaiveBayes.scores(flipped, model), gold(flipped))
      .select("n_docs", "n_correct").as[(Long, Long)].collect()
    assert(fb.toSeq == Seq((1L, 0L)))
  }
}
