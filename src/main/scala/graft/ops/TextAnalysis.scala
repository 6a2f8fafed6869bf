package graft.ops

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Text-analysis operators for training-data pipelines: heuristic
  * language-ID (stopword n-gram votes), quality scoring, token counting
  * (whitespace + BPE-ish pre-tokenizer regex), and document
  * fingerprinting. All UDF-free Catalyst expressions so they stay inside
  * whole-stage codegen; the model-based langid lives in
  * [[graft.models.LangId]].
  */
object TextAnalysis {

  /** Whitespace token count; 0 for empty/whitespace-only text (a bare
    * split("") yields [""], i.e. 1 — the q22 DuckDB oracle's
    * REGEXP_EXTRACT_ALL count has always said 0); null text stays null. */
  def tokenCount(text: Column): Column =
    when(length(trim(text)) === 0, 0)
      .otherwise(size(split(trim(text), "\\s+")))

  /** BPE-ish token count: GPT-style pre-tokenizer classes (letter runs,
    * digit runs, single punctuation marks). */
  val bpeishPattern = "\\p{L}+|\\p{N}+|[^\\p{L}\\p{N}\\s]"
  def bpeishTokenCount(text: Column): Column =
    regexp_count(text, lit(bpeishPattern))

  def avgWordLen(text: Column): Column =
    length(regexp_replace(text, "\\s+", "")).cast("double") /
      greatest(tokenCount(text), lit(1)).cast("double")

  /** Heuristic langid: per-language stopword hit counts, argmax with a
    * fixed tie-break order (the declaration order below). */
  val stopwordPatterns: Seq[(String, String)] = Seq(
    "en" -> "\\b(the|a|of|and|on|with)\\b",
    "fr" -> "\\b(le|la|une|de|qui|sur|avec)\\b",
    "de" -> "\\b(der|die|das|ein|von|mit|und)\\b",
    "es" -> "\\b(el|una|de|que|en|con)\\b",
    "zh" -> "\\b(de|zai|shang|yige|zhaopian)\\b")

  def stopwordCounts(text: Column): Seq[(String, Column)] =
    stopwordPatterns.map { case (lang, pat) =>
      lang -> regexp_count(text, lit(pat))
    }

  /** Predicted language = first lang (declaration order) whose count
    * equals the max; "und" (undetermined) when all counts are 0. */
  def langIdHeuristic(text: Column): Column = {
    val counts = stopwordCounts(text)
    val mx = greatest(counts.map(_._2): _*)
    val chain = counts.foldLeft(when(mx === 0, "und")) {
      case (acc, (lang, c)) => acc.when(c === mx, lang)
    }
    chain.otherwise("und")
  }

  /** Composite quality score in [0,1]: length band, stopword presence,
    * word-length plausibility, symbol cleanliness. Higher = better. */
  def qualityScore(text: Column): Column = {
    val toks = tokenCount(text).cast("double")
    val lenOk = when(length(text) >= 20 && length(text) <= 2000, 1.0).otherwise(0.0)
    val stopRatio = greatest(stopwordCounts(text).map(_._2): _*).cast("double") /
      greatest(toks, lit(1.0))
    val stopOk = least(lit(1.0), stopRatio * 4)
    val awl = avgWordLen(text)
    val awlOk = when(awl >= 2.5 && awl <= 12.0, 1.0).otherwise(0.0)
    val symRatio = (length(text) -
      length(regexp_replace(text, "[^\\p{L}\\p{N}\\s]", ""))).cast("double") /
      greatest(length(text), lit(1)).cast("double")
    val symOk = lit(1.0) - least(lit(1.0), symRatio * 5)
    round(lenOk * 0.25 + stopOk * 0.25 + awlOk * 0.25 + symOk * 0.25, 6)
  }

  /** Document fingerprint: md5 of the whitespace-normalized lowercase
    * text — exact-dup detection key that's stable across engines (md5 is
    * bit-identical in Spark and DuckDB, unlike xx/murmur). */
  def fingerprint(text: Column): Column =
    md5(regexp_replace(trim(lower(text)), "\\s+", " ").cast("binary"))
}
