package graft.rules

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Heuristic keep/drop rule expressions for image+caption quality
  * filtering. Every rule is a pure `Column` function compiling to built-in
  * Catalyst expressions (whole-stage-codegen friendly, UDF-free) and
  * returns a score in [0, 1] — 0 = clean, 1 = maximal violation — playing
  * the role of the reference's per-feature invalidity scores
  * (/root/reference/backendClasses/Autoencoder.py:42-58).
  *
  * Thresholds are corpus-level constraints discovered by
  * [[graft.discovery.Thresholds]]; the defaults here are the rule
  * *shape* parameters, fixed by the engine spec.
  */
object HeuristicRules {

  /** Linear ramp: 0 while v inside [lo, hi], rising to 1 over `ramp`
    * units outside the band. Keeps scores continuous like the
    * reference's reconstruction errors rather than binary flags. */
  private def bandScore(v: Column, lo: Double, hi: Double, ramp: Double): Column = {
    val below = (lit(lo) - v) / lit(ramp)
    val above = (v - lit(hi)) / lit(ramp)
    least(lit(1.0), greatest(lit(0.0), below, above))
  }

  /** Caption length rule: too short / too long (fault classes
    * `too_short`/`too_long`). Band in characters. */
  def lengthScore(caption: Column, minLen: Int = 12, maxLen: Int = 600): Column =
    bandScore(length(coalesce(caption, lit(""))), minLen.toDouble, maxLen.toDouble, 8.0)

  /** Symbol-ratio rule: fraction of characters that are neither letters,
    * digits, nor whitespace (`symbol_soup`). */
  def symbolRatio(caption: Column): Column = {
    val c = coalesce(caption, lit(""))
    val symbols = length(c) - length(regexp_replace(c, "[^\\p{L}\\p{N}\\s]", ""))
    symbols.cast("double") / greatest(length(c), lit(1)).cast("double")
  }

  def symbolScore(caption: Column, maxRatio: Double = 0.10): Column =
    least(lit(1.0), greatest(lit(0.0), (symbolRatio(caption) - lit(maxRatio)) / lit(0.15)))

  /** Token-repetition rule: 1 − |distinct tokens| / |tokens|
    * (`repetition`). High when the same n-gram loops. */
  def repetitionRatio(caption: Column): Column = {
    val toks = split(trim(coalesce(caption, lit(""))), "\\s+")
    val n = greatest(size(toks), lit(1)).cast("double")
    lit(1.0) - size(array_distinct(toks)).cast("double") / n
  }

  def repetitionScore(caption: Column, maxRatio: Double = 0.6): Column =
    least(lit(1.0), greatest(lit(0.0), (repetitionRatio(caption) - lit(maxRatio)) / lit(0.2)))

  /** Resolution rule: total pixels below a floor (`bad_resolution`);
    * saturates at 1.0 once px ≤ minPixels/2 so degenerate thumbnails are
    * unambiguous drops. */
  def resolutionScore(w: Column, h: Column, minPixels: Long = 64L * 64L): Column = {
    val px = w.cast("double") * h.cast("double")
    least(lit(1.0), greatest(lit(0.0),
      (lit(minPixels.toDouble) - px) / lit(minPixels.toDouble / 2.0)))
  }

  /** Aspect-ratio rule: w/h outside [1/maxAspect, maxAspect]
    * (`bad_aspect`). */
  def aspectScore(w: Column, h: Column, maxAspect: Double = 4.0): Column = {
    val a = greatest(w.cast("double"), h.cast("double")) /
      greatest(least(w.cast("double"), h.cast("double")), lit(1.0))
    least(lit(1.0), greatest(lit(0.0), (a - lit(maxAspect)) / lit(maxAspect)))
  }
}
