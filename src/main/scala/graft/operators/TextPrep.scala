package graft.operators

import graft.core.Tables
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Corpus-preparation operators a training-data pipeline runs between
  * ingest and tokenization: fixed-size overlapping chunking (context
  * windows for pre-training) and boilerplate/stopword stripping
  * (token-level cleaning). Both are map-only — zero shuffle — so they
  * scale linearly with corpus bytes: at 100 TB each is a single scan
  * whose output feeds the next stage without any exchange.
  */
object TextPrep {

  /** Split each document into fixed-size character chunks with
    * overlap (`size` chars per chunk, stride `step`, so consecutive
    * chunks overlap by `size - step`). One generator explode per row
    * — `sequence` builds the start offsets, `substring` slices — and
    * everything stays inside whole-stage codegen; no shuffle. The
    * final chunk is short (whatever remains), matching the usual
    * pre-training packer contract.
    *
    * Empty documents produce no chunks (the `length > 0` guard also
    * keeps `sequence`'s bounds legal: ANSI `sequence(0, -1, step)`
    * rejects a positive step with start > stop).
    */
  def chunk(df: DataFrame, idCol: String, textCol: String,
      size: Int, step: Int): DataFrame = {
    require(size > 0 && step > 0 && step <= size,
      s"need 0 < step <= size, got size=$size step=$step")
    df.where(length(col(textCol)) > 0)
      .select(col(idCol), col(textCol),
        explode(sequence(lit(0), length(col(textCol)) - 1, lit(step)))
          .as("start"))
      .select(col(idCol),
        expr(s"CAST(start DIV $step AS INT)").as("chunk_idx"),
        expr(s"substring($textCol, start + 1, $size)").as("chunk_text"))
      .withColumn("chunk_chars", length(col("chunk_text")))
  }

  /** The qd17 declared form: 200-char chunks, 150-char stride (50
    * overlap) over `documents`. Oracle mirrors with
    * unnest(generate_series) + substr.
    */
  def chunkQuery(s: SparkSession, dir: String): DataFrame =
    chunk(Tables.documents(s, dir), "doc_id", "text", size = 200, step = 150)
      .orderBy("doc_id", "chunk_idx")

  /** The fixed stop-list shared with the oracle (the same family
    * qd3's stop_ratio counts). Case-insensitive token equality.
    */
  val stopwords: Seq[String] =
    Seq("the", "a", "of", "to", "and", "in", "is", "it")

  /** Remove stopword tokens from space-delimited text, keeping the
    * survivors' original order and spacing contract (single-space
    * rejoin). Returns (kept_text, n_removed) columns appended.
    *
    * Shape (re-certified round 10, VERDICT r9 #1): three codegen'd
    * regex traversals per row replacing the earlier split + INTERPRETED
    * array-filter HOF — the HOF paid an interpreted lambda call per
    * token (driver-seat 2.5 s at sf0.1 vs this form's sub-second;
    * [[stripStopwordsHof]] keeps the reference shape for the parity
    * spec). All three regexes stay inside whole-stage codegen and the
    * scan remains map-only / shuffle-free, so the op still scales
    * linearly with corpus bytes.
    *
    * Token-semantics equivalence (TextPrepSpec pins it vs the HOF on
    * corpus + adversarial strings): the removal is exactly "drop
    * tokens whose lowercase is in the stop list, rejoin survivors
    * with the ORIGINAL separators" — which equals the split/filter/
    * join form because each removed token takes exactly one adjacent
    * space with it:
    *  - pass 1 removes `stopword␣` at any token start (zero-width
    *    lookbehind `(?<=^| )` marks token starts without consuming,
    *    so consecutive stopwords all match — the lookbehind reads the
    *    ORIGINAL chars, including ones a previous match consumed);
    *  - pass 2 removes the one possible survivor: a stop token at
    *    end-of-string, taking its PRECEDING space (`(?:^| )stop$`);
    *  - empty tokens from doubled spaces are preserved bit-for-bit
    *    (pass 1 consumes only ONE trailing space), which a naive
    *    "remove then squeeze blanks" form would destroy.
    * n_removed counts the fully-anchored zero-width pattern, so
    * overlapping neighbours ("the the") each count.
    */
  def stripStopwords(df: DataFrame, textCol: String): DataFrame = {
    val alts = stopwords.mkString("|")
    val pLead = s"(?i)(?<=^| )(?:$alts) "      // stop token + its trailing space
    val pTail = s"(?i)(?:^| )(?:$alts)$$"      // final stop token + preceding space
    val pCount = s"(?i)(?<=^| )(?:$alts)(?=$$| )" // zero-width: every stop token
    df.withColumn("n_removed",
        regexp_count(col(textCol), lit(pCount)).cast("int"))
      .withColumn("kept_text",
        regexp_replace(regexp_replace(col(textCol), pLead, ""), pTail, ""))
  }

  /** The original split + array-filter HOF form, kept as the
    * independently-derived truth for TextPrepSpec's equivalence pin
    * (the HOF evaluates its lambda interpreted per token — correct
    * but ~6× the regex form's cost, hence demoted from the declared
    * query in round 10).
    */
  def stripStopwordsHof(df: DataFrame, textCol: String): DataFrame = {
    val stop = array(stopwords.map(lit): _*)
    df.withColumn("_toks", split(col(textCol), " "))
      .withColumn("_kept",
        filter(col("_toks"), w => !array_contains(stop, lower(w))))
      .withColumn("kept_text", array_join(col("_kept"), " "))
      .withColumn("n_removed", size(col("_toks")) - size(col("_kept")))
      .drop("_toks", "_kept")
  }

  /** The qd18 declared form over `documents`. */
  def stripQuery(s: SparkSession, dir: String): DataFrame =
    stripStopwords(Tables.documents(s, dir), "text")
      .select("doc_id", "kept_text", "n_removed")
      .orderBy("doc_id")

  /** PII-style pattern redaction: replace every match of `pattern`
    * with `replacement` and count the redactions — the masking stage
    * every training-data pipeline runs for emails / phone numbers /
    * credential-looking strings before text reaches a model. The
    * pattern is caller-supplied (real deployments chain several);
    * both columns come from ONE scan pass — regexp_count and
    * regexp_replace each traverse the row once, map-only, zero
    * shuffle, so the op scales linearly with corpus bytes.
    *
    * Regex dialect note: the pattern must stay in the Java ∩ RE2
    * common subset for oracle parity (word boundaries, alternation,
    * classes — no lookbehind, which RE2 lacks).
    */
  def redact(df: DataFrame, textCol: String,
      pattern: String, replacement: String): DataFrame =
    df.withColumn("n_redacted",
        regexp_count(col(textCol), lit(pattern)).cast("int"))
      .withColumn("redacted_text",
        regexp_replace(col(textCol), pattern, replacement))

  /** The qd24 declared form: mask three entity-ish vocabulary words.
    * (The synthetic corpus has no real emails/phones — the gate
    * pattern picks tokens that DO occur, so the oracle check is
    * value-bearing on every row rather than vacuously identity.)
    */
  def redactQuery(s: SparkSession, dir: String): DataFrame =
    redact(Tables.documents(s, dir), "text",
      "\\b(customer|key|stream)\\b", "<PII>")
      .select("doc_id", "redacted_text", "n_redacted")
      .orderBy("doc_id")

  /** qd26 — Unicode NFC canonicalization through the custom codegen
    * [[graft.functions.NfcNormalize]] expression: the cleanup stage
    * that must run before ANY hashing operator (exact dedup, shingles,
    * vocab counts) — decomposed "e"+U+0301 and composed "é" are
    * different bytes but the same text. The declared form appends a
    * DECOMPOSED suffix to every row first: the synthetic corpus is
    * pure ASCII (already NFC), so without it the gate would only ever
    * prove the identity path — with it, every row exercises the real
    * rewrite and the full normalized text is hash-compared. The
    * already-normalized fast path (isNormalized pre-check, no
    * allocation) is spec-covered instead. Map-only, zero shuffle.
    */
  def normalizeQuery(s: SparkSession, dir: String): DataFrame = {
    Tables.documents(s, dir)
      // the suffix is DECOMPOSED on purpose: 'e' + U+0301 combining
      // acute (6 codepoints), which NFC composes to " café" (5)
      .withColumn("_raw", concat(col("text"), lit(" cafe\u0301")))
      .select(col("doc_id"),
        graft.functions.NfcNormalize.of(col("_raw")).as("norm_text"))
      .withColumn("n_chars_nfc", length(col("norm_text")).cast("int"))
      .orderBy("doc_id")
  }

  /** Greedy sequence packing: stream each group's rows in id order,
    * concatenate conceptually, and cut the stream every `budget`
    * chars — each row's bin is floor(start_offset / budget) where the
    * start offset is the running size sum EXCLUSIVE of the row. This
    * is the "concatenate then split" packer pre-training uses to fill
    * context windows, reduced to a window cumsum + integer division —
    * all-integer math, so the oracle is exact.
    *
    * Scale shape: the running sum is inherently sequential WITHIN a
    * group — exactly like a real distributed packer, whose shard
    * (here: `groupCol`) is the parallelism unit. One exchange on the
    * group key, one window pass, then a partial+final aggregate that
    * reuses the same partitioning (no second exchange).
    */
  def packBins(df: DataFrame, groupCol: String, idCol: String,
      sizeCol: String, budget: Int): DataFrame = {
    require(budget > 0, s"budget must be positive, got $budget")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(groupCol).orderBy(idCol)
    df.select(col(groupCol), col(idCol), col(sizeCol))
      .withColumn("off", sum(col(sizeCol)).over(w) - col(sizeCol))
      .withColumn("bin", expr(s"CAST(off DIV $budget AS INT)"))
      .groupBy(col(groupCol), col("bin"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col(sizeCol)).as("bin_chars"),
        min(col(idCol)).as("first_doc"),
        max(col(idCol)).as("last_doc"))
      .orderBy(groupCol, "bin")
  }

  /** The qd19 declared form: pack each source's documents into
    * 2000-char bins.
    */
  def packQuery(s: SparkSession, dir: String): DataFrame =
    packBins(Tables.documents(s, dir), "source", "doc_id", "n_chars",
      budget = 2000)

  /** qd32 — packed-sequence EMISSION: the other half of qd19. packBins
    * reports bin statistics; this materializes the training sequences
    * themselves — each bin's documents concatenated in id order with
    * an explicit separator token, which is the exact artifact a
    * pre-training data loader consumes (documents glued with <eos>,
    * cut near the context budget). Same window cumsum bin assignment
    * as qd19 (all-integer, oracle-exact), then one partial+final
    * aggregate on (group, bin) that reuses the window's partitioning
    * for its exchange.
    *
    * The in-aggregate array_sort/transform/array_join run per BIN
    * over its own few documents — group-sized arrays, not corpus
    * rows (the concatenated text never crosses an exchange unsorted:
    * collect_list gathers exactly the rows that will be emitted).
    */
  def packSequences(df: DataFrame, groupCol: String, idCol: String,
      textCol: String, sizeCol: String, budget: Int,
      sep: String): DataFrame = {
    require(budget > 0, s"budget must be positive, got $budget")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(groupCol).orderBy(idCol)
    df.select(col(groupCol), col(idCol), col(textCol), col(sizeCol))
      .withColumn("off", sum(col(sizeCol)).over(w) - col(sizeCol))
      .withColumn("bin", expr(s"CAST(off DIV $budget AS INT)"))
      .groupBy(col(groupCol), col("bin"))
      .agg(count(lit(1)).as("n_docs"),
        collect_list(struct(col(idCol), col(textCol))).as("cl"))
      .withColumn("seq_text",
        array_join(transform(array_sort(col("cl")), c => c(textCol)), sep))
      .select(col(groupCol), col("bin"), col("n_docs"),
        length(col("seq_text")).cast("int").as("seq_chars"),
        col("seq_text"))
      .orderBy(groupCol, "bin")
  }

  /** The qd32 declared form: 2000-char bins per source (qd19's
    * grouping), documents glued with the literal `<eos>` marker.
    */
  def packSeqQuery(s: SparkSession, dir: String): DataFrame =
    packSequences(Tables.documents(s, dir), "source", "doc_id", "text",
      "n_chars", budget = 2000, sep = "<eos>")
}
