package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Text-processing column functions (training-data pipeline surface). All
  * are composed from codegen'd built-ins — no UDFs — so they stay inside
  * whole-stage codegen on the 100 TB scan path. */
object Text {

  /** Whitespace tokens (keeps empty trailing fields — count-stable). */
  def tokens(text: Column): Column = split(text, " ")

  /** Unicode NFC canonicalization ([[graft.expressions.UnicodeNormalize]],
    * codegen'd) — run FIRST in a multilingual pipeline so composed and
    * decomposed spellings of the same glyph hash/join/count as one key. */
  def nfc(text: Column): Column =
    graft.expressions.UnicodeNormalize(text, "NFC")

  /** Accent folding by composition: canonical-decompose, then drop the
    * combining marks (Unicode general category Mn) — "café" → "cafe".
    * DuckDB twin: `strip_accents`. */
  def stripAccents(text: Column): Column =
    regexp_replace(graft.expressions.UnicodeNormalize(text, "NFD"),
      lit("\\p{Mn}"), lit(""))

  /** Distinct k-token shingles of a tokens-array column (by name, because
    * Spark lambda HOFs bind names). Empty when fewer than k tokens. */
  def shingles(toksCol: String, k: Int = 3): Column = {
    val parts = (0 until k).map(i => s"$toksCol[i + $i]").mkString(", ' ', ")
    when(size(col(toksCol)) >= k,
      array_distinct(expr(
        s"transform(sequence(0, size($toksCol) - $k), i -> concat($parts))")))
      .otherwise(array().cast("array<string>"))
  }

  /** 60-bit hashes of every w-token sliding window of a tokens-array column
    * (ALL positions, duplicates kept — each occurrence of a repeated span
    * must count). Empty when fewer than w tokens. The fixed-width hashed
    * span is the scalable stand-in for suffix-array substring dedup: span
    * multiplicity is computable by one hash aggregate instead of a
    * corpus-wide suffix sort. */
  def spanHashes(toksCol: String, w: Int): Column =
    // coalesce keeps the pre-expression contract: a NULL token array yields
    // an empty span array (the old when/otherwise guard), never NULL
    coalesce(
      org.apache.spark.sql.graftbridge.Bridge.column(
        graft.expressions.SpanHashes(
          org.apache.spark.sql.graftbridge.Bridge.expression(col(toksCol)), w)),
      array().cast("array<bigint>"))

  /** Count of tokens drawn from a fixed vocabulary (stopword scoring). */
  def vocabHits(toksCol: String, vocab: Seq[String]): Column = {
    val inList = vocab.map(w => s"'${w.replace("'", "''")}'").mkString(", ")
    expr(s"size(filter($toksCol, t -> t IN ($inList)))").cast("long")
  }

  /** Letter count via an ASCII class strip (identical across regex engines). */
  def letterCount(text: Column): Column =
    length(regexp_replace(text, "[^a-zA-Z]", "")).cast("long")

  /** Exact Jaccard similarity of two distinct-element array columns —
    * order-insensitive, integer-exact, deterministic as a double. */
  def jaccard(a: String, b: String): Column = expr(
    s"size(filter($a, x -> array_contains($b, x))) / " +
      s"CAST(size($a) + size($b) - size(filter($a, x -> array_contains($b, x))) AS DOUBLE)")

  /** Asymmetric set containment |A∩B| / |A| over distinct-element arrays —
    * the near-containment signal Jaccard dilutes: a short doc fully quoted
    * inside a long one has tiny Jaccard but containment ≈ 1. Caller must
    * guard size(a) > 0 (ANSI division). */
  def containment(a: String, b: String): Column = expr(
    s"size(filter($a, x -> array_contains($b, x))) / CAST(size($a) AS DOUBLE)")

  /** Order-insensitive content fingerprint: md5 of the sorted distinct
    * token set. */
  def setFingerprint(toks: Column): Column =
    md5(concat_ws(" ", array_sort(array_distinct(toks))))

  /** PII scrubbing for training corpora: email addresses then digit runs
    * replaced with typed placeholders (ASCII character classes only, so the
    * Java and RE2 regex engines agree byte-for-byte). Order matters — emails
    * first, or their digits would be mangled before the address matches. */
  def redactPii(text: Column): Column =
    regexp_replace(
      regexp_replace(text, "[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\\.[a-zA-Z]{2,}", "<EMAIL>"),
      "[0-9]+", "<NUM>")
}
