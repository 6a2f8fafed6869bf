package graft.scrub

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** PII/toxicity scrubbing as a frozen, ordered chain of
  * `regexp_replace` Catalyst expressions (UDF-free, codegen'd).
  *
  * The rule list and its order are versioned constants: exact
  * scrubbed-caption equality is a correctness gate (BASELINE.md), so the
  * chain must never be reordered silently — bump [[version]] on any
  * change. Replacement tokens are chosen so no pattern can match a
  * token, making the chain idempotent (property-tested).
  *
  * This operator has no reference counterpart (north-rule addition M16 in
  * SURVEY.md §2.8); the reference's nearest analog is its regex status
  * relabeling (/root/reference/backendClasses/DQTestToolHelper.py:96).
  */
object Scrub {
  val version = 1

  /** (name, pattern, replacement) — order is semantic and frozen. */
  val rules: Seq[(String, String, String)] = Seq(
    ("email", "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}", "<EMAIL>"),
    ("ssn", "\\b\\d{3}-\\d{2}-\\d{4}\\b", "<SSN>"),
    ("phone", "\\+?\\d{1,2}[-. ]\\(?\\d{3}\\)?[-. ]\\d{3}[-. ]\\d{4}|\\(\\d{3}\\)[-. ]?\\d{3}[-. ]\\d{4}|\\b\\d{3}[-.]\\d{3}[-.]\\d{4}\\b", "<PHONE>"),
    ("ipv4", "\\b(?:\\d{1,3}\\.){3}\\d{1,3}\\b", "<IP>"),
    ("url", "https?://[^\\s]+", "<URL>"),
    ("toxicity", "(?i)\\b(?:unclefucker|shitweasel|assclown)\\b", "<TOX>")
  )

  /** The scrub chain as one Column expression (built-in regexp_replace
    * chain — the oracle-parity surface, q19). The engine hot path uses
    * the native single-pass column instead
    * (org.apache.spark.sql.graft.Exprs.scrubAll → [[scrubString]]):
    * each chained regexp_replace round-trips UTF8String ↔ String and
    * allocates an intermediate result per rule per row. Semantics are
    * identical (same java.util.regex patterns, same order —
    * parity-tested). */
  def scrub(caption: Column): Column =
    rules.foldLeft(caption) { case (c, (_, pat, rep)) => regexp_replace(c, pat, rep) }

  // Trigger bits: what a pattern cannot match without.
  private[graft] val At = 1 // '@'
  private[graft] val Digit = 2 // an ASCII digit: \d is ASCII-only in java.util.regex
  private[graft] val Scheme = 4 // "://"

  /** Triggers a rule's pattern needs, in [[rules]] order: a rule whose
    * triggers the caption lacks cannot match it. No replacement token
    * contains a trigger, so the triggers of the input are a superset of
    * those of every intermediate string of the chain (ScrubSpec asserts
    * both facts). */
  private[graft] val ruleTriggers: Array[Int] = rules.map {
    case ("email", _, _) => At
    case ("ssn" | "phone" | "ipv4", _, _) => Digit
    case ("url", _, _) => Scheme
    case _ => 0
  }.toArray

  /** The trigger bits present in `s`. */
  private[graft] def triggers(s: String): Int = {
    var t = 0
    var colon = false
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (c == '@') t |= At
      else if (c >= '0' && c <= '9') t |= Digit
      else if (c == ':') colon = true
      i += 1
    }
    if (colon && s.contains("://")) t |= Scheme
    t
  }

  private val compiled: Array[(java.util.regex.Pattern, String)] =
    rules.map { case (_, pat, rep) =>
      (java.util.regex.Pattern.compile(pat), rep)
    }.toArray

  /** One-pass scalar scrub: ONE UTF8String↔String conversion per row
    * (inside the native column), precompiled patterns, only the rules
    * whose triggers the input has (most captions run the toxicity rule
    * alone), and no allocation when nothing matches. Exact-equality
    * parity with [[scrub]] and the DuckDB oracle chain is test-gated. */
  def scrubString(s: String): String = {
    val present = triggers(s)
    var cur = s
    var i = 0
    while (i < compiled.length) {
      if ((ruleTriggers(i) & present) == ruleTriggers(i)) {
        val (p, rep) = compiled(i)
        val m = p.matcher(cur)
        if (m.find()) cur = m.replaceAll(rep)
      }
      i += 1
    }
    cur
  }
}
