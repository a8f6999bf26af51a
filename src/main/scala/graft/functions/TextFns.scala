package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Text-analysis column functions for training-data curation, all
  * built from codegen'd Spark built-ins (no UDFs — SURVEY.md §7.3's
  * preference order). Every function here has an exact SQL mirror in
  * the DuckDB oracle, so expressions are written with engine-neutral
  * regex/arithmetic:
  *  - ASCII character classes only (Java regex and RE2 agree);
  *  - double arithmetic written in one fixed evaluation order (IEEE
  *    ops are deterministic given the same order).
  */
object TextFns {

  /** Whitespace token count; empty/blank text counts 0. */
  def tokenCount(text: Column): Column =
    when(length(trim(text)) === 0, lit(0))
      .otherwise(size(split(trim(text), "\\s+")))

  /** BPE-ish token count: alphanumeric runs + each non-space symbol
    * separately (the usual pre-tokenizer shape).
    */
  def bpeTokenCount(text: Column): Column =
    size(regexp_extract_all(text, lit("[A-Za-z0-9]+|[^A-Za-z0-9\\s]"), lit(0)))

  /** Character-class counts — regex formulation, kept as the
    * engine-neutral reference the oracle mirrors and the spec
    * cross-checks; the hot path uses [[AsciiClassCounts]] (identical
    * counts in one allocation-free byte scan).
    */
  def alphaCount(text: Column): Column =
    length(regexp_replace(text, "[^A-Za-z]", ""))
  def digitCount(text: Column): Column =
    length(regexp_replace(text, "[^0-9]", ""))
  def spaceCount(text: Column): Column =
    length(text) - length(regexp_replace(text, " ", ""))

  /** Quality signals in [0,1] plus a fixed-weight composite score —
    * the length/punctuation/stopword-ratio heuristic family used for
    * corpus filtering. Deterministic; mirrors the oracle SQL exactly.
    * Resolves `ascii_class_counts` from [[graft.GraftExtensions]]
    * (the class counts come from the single-pass codegen expression;
    * values are identical to the regex formulation).
    */
  def qualitySignals(text: Column): Seq[(String, Column)] =
    qualitySignalsFrom(AsciiClassCounts.of(text), stopwordHits(text),
      tokenCount(text), length(text))

  /** The qd3 stopword-hit count (shared between the stop_ratio signal
    * and the composite score; the oracle mirrors this regex exactly).
    */
  def stopwordHits(text: Column): Column =
    size(regexp_extract_all(lower(text),
      lit("\\b(the|a|of|to|and|in|is|it)\\b"), lit(0))).cast("double")

  /** [[qualitySignals]] over PRE-MATERIALIZED shared inputs (class
    * counts, stopword hits, token count, length — each via withColumn
    * in its own projection). Inside when/otherwise branches codegen
    * subexpression elimination cannot hoist a repeated expression, so
    * the inline form re-runs the class-count scan five times and the
    * stopword regex twice per row (the conditional-branch cousin of
    * the array-lambda inlining trap; see [[langIdDecision]]).
    */
  def qualitySignalsFrom(counts: Column, stops: Column, nTok: Column,
                         chars: Column): Seq[(String, Column)] = {
    val len = chars.cast("double")
    val alphaRatio = when(chars === 0, lit(0.0))
      .otherwise(counts.getField("alpha").cast("double") / len)
    val digitRatio = when(chars === 0, lit(0.0))
      .otherwise(counts.getField("digit").cast("double") / len)
    val spaceRatio = when(chars === 0, lit(0.0))
      .otherwise(counts.getField("space").cast("double") / len)
    val stopRatio = when(nTok === 0, lit(0.0))
      .otherwise(stops / nTok.cast("double"))
    val lenScore = least(len / lit(500.0), lit(1.0))
    val score = lit(0.3) * alphaRatio + lit(0.2) * (lit(1.0) - digitRatio) +
      lit(0.2) * stopRatio + lit(0.3) * lenScore
    Seq("alpha_ratio" -> alphaRatio, "digit_ratio" -> digitRatio,
      "space_ratio" -> spaceRatio, "stop_ratio" -> stopRatio,
      "quality_score" -> score)
  }

  /** Regex formulation of the per-language marker counts — the
    * engine-neutral reference the oracle mirrors and the spec
    * cross-checks against [[MarkerWordCounts]].
    */
  def markerCountsRegex(text: Column): Seq[(String, Column)] = {
    val lc = lower(text)
    MarkerWordCounts.Markers.map { case (lang, words) =>
      lang -> size(regexp_extract_all(lc,
        lit("\\b(" + words.mkString("|") + ")\\b"), lit(0)))
    }
  }

  /** Marker-word language ID: count per-language stopword hits, CJK
    * codepoints short-circuit to 'zh', ties resolve in the fixed
    * marker order, no hits → 'und'. A heuristic classifier, not a
    * model — the point is a deterministic, scalable scoring pass.
    * Resolves `marker_word_counts` from [[graft.GraftExtensions]]
    * (one byte scan replaces four full-text regex passes; counts are
    * identical, spec-cross-checked).
    */
  def langId(text: Column): Column =
    // containment test, not a regexp_replace rebuild: rlike early-
    // exits on the first CJK codepoint instead of reconstructing the
    // whole string to measure its length
    langIdDecision(MarkerWordCounts.of(text),
      text.rlike("[\\x{4e00}-\\x{9fff}]"))

  /** The language decision tree over an already-computed counts
    * struct. Pass `m` as a MATERIALIZED column (withColumn in its own
    * projection), not an inline expression: the struct is read 13
    * times across the CASE branches, and codegen subexpression
    * elimination only hoists expressions evaluated on EVERY path — a
    * conditional branch re-evaluates the inline expression per
    * reference (the plan showed 13 markerwordcounts(text) calls per
    * row; materializing dropped qd4 from 1.87 s to ~0.4 s at sf0.1 —
    * the conditional-branch cousin of the array-lambda inlining trap
    * in BASELINE.md).
    */
  def langIdDecision(m: Column, zh: Column): Column = {
    val Seq(en, de, fr, es) =
      MarkerWordCounts.Langs.map(l => m.getField(l))
    when(zh, lit("zh"))
      .when(en >= de && en >= fr && en >= es && en > 0, lit("en"))
      .when(de >= fr && de >= es && de > 0, lit("de"))
      .when(fr >= es && fr > 0, lit("fr"))
      .when(es > 0, lit("es"))
      .otherwise(lit("und"))
  }
}
