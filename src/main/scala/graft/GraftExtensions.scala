package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

/** Library-level extension installer — the supported way to ship
  * custom Catalyst expressions with a library (preference (c)'s
  * registration half in the custom-operator ladder:
  * `SparkSessionExtensions`). A cluster sets
  *
  *   spark.sql.extensions=graft.GraftExtensions
  *
  * and every session on it has the graft functions in its catalog
  * from construction — SQL and DataFrame alike. [[graft.Session]] sets
  * it on every session the repo builds, and there is no other way in:
  * Spark 4's Column API has no public Expression constructor, so each
  * `of(...)` wrapper calls its function by the name injected here
  * (GraftExtensionsSpec resolves every name in a fresh session).
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {

  override def apply(ext: SparkSessionExtensions): Unit = {
    GraftExtensions.functions.foreach(ext.injectFunction)
    // the optimizer rung of the same ladder: banded-DP rewrite for
    // unbounded levenshtein comparisons (see the rule's scaladoc)
    ext.injectOptimizerRule(_ => graft.plans.BandedLevenshteinRewrite)
  }
}

object GraftExtensions {

  private def info(name: String, usage: String): ExpressionInfo =
    new ExpressionInfo("graft.functions", null, name, usage, "")

  private def unary(name: String, usage: String,
      build: Expression => Expression)
      : (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) =
    (FunctionIdentifier(name), info(name, usage), exprs => {
      require(exprs.length == 1, s"$name expects 1 argument")
      build(exprs.head)
    })

  /** Every custom graft expression, in injectFunction shape. */
  val functions: Seq[(FunctionIdentifier, ExpressionInfo,
      Seq[Expression] => Expression)] = Seq(
    unary("doc_fingerprint", "rolling 31-poly content fingerprint",
      graft.functions.DocFingerprint(_)),
    unary("nfc_normalize", "Unicode NFC canonicalization",
      graft.functions.NfcNormalize(_)),
    unary("ascii_class_counts", "single-pass char-class counts struct",
      graft.functions.AsciiClassCounts(_)),
    unary("marker_word_counts", "single-pass language-marker counts",
      graft.functions.MarkerWordCounts(_)),
    unary("char_hist", "37-bin lowercase char histogram (a-z, space, 0-9)",
      graft.functions.CharHist(_)),
    (FunctionIdentifier("vec_dot"),
      info("vec_dot", "sequential-fold vector dot product"),
      exprs => {
        require(exprs.length == 2, "vec_dot expects 2 arguments")
        graft.functions.VecDot(exprs.head, exprs(1))
      }),
    (FunctionIdentifier("hist_l1"),
      info("hist_l1", "L1 distance of two int-array histograms"),
      exprs => {
        require(exprs.length == 2, "hist_l1 expects 2 arguments")
        graft.functions.HistL1(exprs.head, exprs(1))
      }),
    (FunctionIdentifier("sq8_adc"),
      info("sq8_adc", "SQ8 packed-code asymmetric dot vs a query column"),
      exprs => {
        require(exprs.length == 3, "sq8_adc expects 3 arguments")
        graft.functions.Sq8Adc(exprs(0), exprs(1), exprs(2))
      }),
    (FunctionIdentifier("sliding_xxh64"),
      info("sliding_xxh64",
        "xxhash64 of every width-char window at the given char stride"),
      graft.functions.SlidingXxh64.fromExprs),
  )
}
