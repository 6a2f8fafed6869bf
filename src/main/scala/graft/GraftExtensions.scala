package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}
import org.apache.spark.sql.graft.Exprs

/** `SparkSessionExtensions` injector — the spark-submit-native way to
  * load the engine's native scalar functions into ANY session:
  *
  * {{{
  *   spark-submit --conf spark.sql.extensions=graft.GraftExtensions ...
  *   // or in code:
  *   SparkSession.builder().withExtensions(new GraftExtensions) ...
  * }}}
  *
  * Registers the model-free scalar surface: `hamming64`,
  * `graft_simhash64`, `graft_scrub`, `graft_minhash_bands`. The
  * model-BOUND functions (`graft_langid` / `graft_accepted_prob` /
  * `graft_perplexity`) carry a broadcast handle that only exists after a
  * fit, so they stay on the per-session path
  * `Exprs.registerSql(spark, langId, lm)`, which registers this table
  * too — a static extension cannot (and should not) conjure model state.
  *
  * This is tier (b)/(c) of the builder contract's custom-operator
  * preference order: native expressions, registered through the standard
  * extension point rather than ad-hoc session mutation.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit =
    GraftExtensions.functions.foreach { case (name, info, builder) =>
      ext.injectFunction((FunctionIdentifier(name), info, builder))
    }
}

object GraftExtensions {
  type SqlFunction = (String, ExpressionInfo, Seq[Expression] => Expression)

  /** One SQL function entry whose builder rejects a call with other than
    * `arity` arguments. */
  def function(name: String, usage: String, arity: Int)(
      build: Seq[Expression] => Expression): SqlFunction =
    (name, new ExpressionInfo("graft", null, name, usage, "", "", "", "", "", "", "scala_udf"),
      (es: Seq[Expression]) => {
        if (es.length != arity) throw new IllegalArgumentException(
          s"$name expects $arity argument(s), got ${es.length}")
        build(es)
      })

  /** Every model-free native function. */
  val functions: Seq[SqlFunction] = Seq(
    function("hamming64", "hamming64(a, b) - popcount(a XOR b) over 64-bit fingerprints", 2)(
      es => Exprs.hamming64(es(0), es(1))),
    function("graft_simhash64", "graft_simhash64(text) - 64-bit SimHash fingerprint", 1)(
      es => Exprs.simhash64(es.head)),
    function("graft_scrub", "graft_scrub(text) - single-pass PII/toxicity scrub chain", 1)(
      es => Exprs.scrubAll(es.head)),
    function("graft_minhash_bands",
      "graft_minhash_bands(text, k, hashes, bands) - MinHash-LSH band keys", 4)(
      es => Exprs.minhashBandKeys(es(0),
        foldToInt("graft_minhash_bands", "k", es(1)),
        foldToInt("graft_minhash_bands", "hashes", es(2)),
        foldToInt("graft_minhash_bands", "bands", es(3)))))

  /** SQL-surface parameter validation: the tuning knobs must be literal
    * ints (each is a constant of the call). A column argument is
    * non-foldable — without this check it would hit eval() on an unbound
    * expression and surface as an opaque UnsupportedOperationException. */
  private def foldToInt(fn: String, param: String, e: Expression): Int = {
    if (!e.foldable) throw new IllegalArgumentException(
      s"$fn: parameter '$param' must be a literal integer, got non-literal ${e.sql}")
    e.eval() match {
      case i: Int => i
      case l: Long if l >= Int.MinValue && l <= Int.MaxValue => l.toInt
      case l: Long => throw new IllegalArgumentException(
        s"$fn: parameter '$param' out of Int range: $l")
      case other => throw new IllegalArgumentException(
        s"$fn: parameter '$param' must be a literal integer, got $other")
    }
  }
}
