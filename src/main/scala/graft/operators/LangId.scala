package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Character-n-gram language identification: score each language by how many
  * of the text's distinct character trigrams appear in that language's
  * marker-trigram profile; argmax with a fixed priority tie-break.
  *
  * The profiles are tiny curated sets (classic top trigrams per language —
  * "the"/"and"/"ing" for English, "de "/"es "/"ent" for French, …); a
  * production profile would be learned from labeled corpora, but the
  * operator shape is identical: one map-side array intersection per
  * (doc, lang), no shuffle, codegen-friendly builtins only.
  */
object LangId {

  /** language -> marker char-trigrams (space-padded forms included — word
    * boundaries carry most of the signal at trigram length). */
  val profiles: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "and", "ing", "ion", " th", "he ", "er ", " of"),
    "fr" -> Seq("es ", "de ", " de", "le ", "ent", " le", "la ", "que"),
    "es" -> Seq(" el", "el ", "los", " y ", "ión", "ar ", "ado", "nte"),
    "de" -> Seq("der", "die", "und", "sch", "ein", "ich", "en ", "cht"),
    "zh" -> Seq("的", "是", "了", "在", "有")
  )

  /** Distinct char-trigram array for a text column name. (Guard len<3:
    * Spark's sequence(1, 0) counts DOWN — it must never be reached.) */
  private def trigramsExpr(textCol: String): String =
    s"IF(length($textCol) >= 3, " +
      s"array_distinct(transform(sequence(1, length($textCol) - 2), i -> substring($textCol, i, 3))), " +
      s"CAST(array() AS ARRAY<STRING>))"

  private def sqlQuote(s: String) = "'" + s.replace("'", "''") + "'"

  /** Adds s_<lang> score columns and a pred_lang argmax column. */
  def predict(docs: DataFrame, textCol: String = "text"): DataFrame = {
    val withTg = docs.withColumn("__tg", expr(trigramsExpr(textCol)))
    val scored = profiles.foldLeft(withTg) { case (df, (lang, marks)) =>
      val inList = marks.map(sqlQuote).mkString(", ")
      df.withColumn(s"s_$lang", expr(s"size(filter(__tg, t -> t IN ($inList)))").cast("long"))
    }
    val langs = profiles.map(_._1)
    // fixed-priority argmax: first language whose score >= all later ones
    val pred = langs.init.zipWithIndex.foldRight(lit(langs.last): org.apache.spark.sql.Column) {
      case ((l, i), elseCol) =>
        val laterGte = langs.drop(i + 1).map(o => col(s"s_$l") >= col(s"s_$o")).reduce(_ && _)
        when(laterGte, lit(l)).otherwise(elseCol)
    }
    scored.withColumn("pred_lang", pred).drop("__tg")
  }

  /** Segment-level code-switch census: split each document into segments
    * (default: sentence-ish runs between terminal punctuation), run
    * [[predict]] per segment, and report per doc how many distinct
    * languages the segments vote for, the majority language, and its share
    * — the mixed-language detector a multilingual corpus pipeline gates on
    * (document-level LID silently mislabels code-switched docs; the
    * per-segment census is how CCNet-style pipelines catch them).
    *
    * Majority = (count desc, lang) argmax — deterministic. Shape: one
    * map-side segment explode + per-segment scoring (no shuffle), then one
    * (doc, lang) aggregate + one doc aggregate that also takes the argmax —
    * word-count shaped, segment-volume bounded. */
  def codeSwitchCensus(docs: DataFrame, idCol: String = "doc_id",
      textCol: String = "text", splitPattern: String = "[.!?]+ *"): DataFrame = {
    val segs = docs.select(col(idCol).as("doc_id"),
        posexplode(split(col(textCol), splitPattern)).as(Seq("seg_idx", "seg")))
      .filter(trim(col("seg")) =!= "")
    val votes = predict(segs, "seg")
      .groupBy(col("doc_id"), col("pred_lang"))
      .agg(count(lit(1)).as("n_segs"))
    votes
      .groupBy(col("doc_id"))
      .agg(sum(col("n_segs")).as("n_segments"),
        count(lit(1)).cast("long").as("n_langs"),
        min_by(col("pred_lang"), struct(-col("n_segs"), col("pred_lang"))).as("majority_lang"),
        max(col("n_segs")).as("__mn"))
      .select(col("doc_id"), col("n_segments"), col("n_langs"), col("majority_lang"),
        (col("__mn").cast("double") / col("n_segments").cast("double"))
          .as("majority_frac"),
        (col("n_langs") > 1).as("is_code_switched"))
  }
}
