package graft.operators

import graft.core.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Unigram-LM tokenizer training — ONE EM step of the SentencePiece
  * vocabulary learner (Kudo 2018), the production tokenizer family
  * qd33/qd35/qd38/qd47's BPE tier does not cover. BPE grows a vocab
  * merge by merge; unigram-LM starts from an over-complete seed vocab
  * and PRUNES it: score every piece, Viterbi-segment the corpus under
  * the current scores (E), re-estimate piece likelihoods from the
  * segmentation counts and drop the weakest slice (M). Iterated, that
  * is the full trainer; one step is the gate-verifiable unit (the
  * qd35 driver-loop precedent — later steps are this operator re-run
  * on the kept vocab).
  *
  * Determinism / oracle parity (every choice integer-exact):
  *  - tokens are qd2's whitespace convention, and ALL work happens on
  *    the DISTINCT-word frequency table (exactly how SentencePiece
  *    trains); the corpus never re-enters after that one aggregate;
  *  - seed vocab = every substring of length 1..[[MaxPiece]] of every
  *    corpus word, counted with word multiplicity (overlapping
  *    windows), then capped at [[MinSeedCount]] occurrences (single
  *    chars exempt — they are always present, so every word stays
  *    segmentable by construction; capped-out windows are DP
  *    non-candidates, mirroring the oracle's sentinel coalesce);
  *  - piece log-likelihoods are quantized to integer MICRO-NATS with
  *    the shared floor construction (`floor(ln(c/t)·10⁶ + 0.5)`, the
  *    qd11/qd21/qd23 pattern whose Spark-log ≡ DuckDB-ln parity is
  *    proven across the LM family), so the Viterbi DP compares exact
  *    BIGINT sums;
  *  - the DP tie-break is total: among equal-score extensions prefer
  *    the LONGEST last piece (largest t);
  *  - the M-step drop rule is exact integer arithmetic: among USED
  *    multi-char pieces ranked by (usage ASC, piece ASC), the bottom
  *    ⌊n/5⌋ (20%) are dropped; single-char pieces are never dropped
  *    (the segmentability invariant real SentencePiece keeps too).
  *
  * Scale shape: the word-frequency table is the Zipf-bounded object
  * qd9 already builds (one map-side-combined aggregate over the token
  * stream); the piece table is bounded by the [[MinSeedCount]] cap —
  * only windows the corpus repeats survive, so the model collect is
  * Zipf-head-sized, not distinct-substring-sized — and COLLECTS as
  * the model (the qd55 vocab-capped-collect precedent, now with the
  * `minCount` cap real SentencePiece applies); the E-step is a
  * per-distinct-word Scala DP against
  * the broadcast score map (map-only, no shuffle, O(|w|·MaxPiece)
  * per word); usage counts partial-aggregate map-side. Nothing
  * corpus-scale crosses an exchange after the first aggregate.
  */
object UnigramLm {

  /** Bounded max piece length — what keeps the seed vocab polynomial
    * and the DP window constant.
    */
  val MaxPiece = 4

  /** Seed-vocab frequency cap (the `minCount` real SentencePiece
    * applies): multi-char windows seen fewer than this many times are
    * dropped BEFORE the model collect, so the driver-side model is
    * bounded by the Zipf head, not by all distinct ≤4-char substrings
    * of all distinct words (which grows without bound with corpus
    * tail — typos, URLs). Single chars are exempt: they are the
    * segmentability floor the DP's completeness argument stands on.
    * Mirrored exactly in the DuckDB oracle chain (`pk` CTE), so the
    * gate stays hash-green wherever the cap binds.
    */
  val MinSeedCount = 2

  /** Invalid-extension sentinel for the DP (and the oracle's mirror):
    * far below any reachable path score (≥ 8 pieces × ~−17·10⁶
    * micro-nats ≈ −1.4·10⁸ on this corpus), far above BIGINT overflow.
    */
  val Sentinel: Long = -1000000000000000L

  /** (word, c) distinct-word frequencies — qd2's whitespace tokens. */
  def wordFreq(docs: DataFrame): DataFrame =
    docs.where(length(trim(col("text"))) > 0)
      .select(explode(split(trim(col("text")), "\\s+")).as("word"))
      .where(col("word") =!= "")
      .groupBy("word").agg(count(lit(1)).as("c"))

  /** Seed piece table (piece, seed_count, seed_unat): overlapping
    * substring windows of length 1..MaxPiece over the word table,
    * weighted by word frequency, CAPPED at [[MinSeedCount]] (single
    * chars exempt) before scoring — the bounded-model contract the
    * driver-side collect depends on. Scores normalize over the KEPT
    * mass (totals computed after the cap), matching the oracle's
    * `pk`/`tot` chain. Window extraction rides the regexp lookahead
    * (codegen) — the qd23 rule: no transform() lambda on a scanned
    * frame.
    */
  def pieceTable(dw: DataFrame): DataFrame = {
    val perLen = (1 to MaxPiece).map { l =>
      dw.where(length(col("word")) >= l)
        .select(explode(expr(
          s"regexp_extract_all(word, '(?=(.{$l})).', 1)")).as("piece"),
          col("c"))
    }.reduce(_.unionAll(_))
    val counts = perLen.groupBy("piece").agg(sum("c").as("seed_count"))
      .where(col("seed_count") >= MinSeedCount || length(col("piece")) === 1)
    val total = counts.agg(sum("seed_count").as("t"))
    counts.crossJoin(broadcast(total))
      .withColumn("seed_unat",
        floor(log(col("seed_count").cast("double") / col("t").cast("double"))
          * lit(1e6) + lit(0.5)).cast("long"))
      .select("piece", "seed_count", "seed_unat")
  }

  /** Viterbi segmentation of one word under integer piece scores —
    * best[j] = max over t ≤ min(MaxPiece, j) of best[j−t] +
    * unat(w[j−t..j]), ties to the largest t. STRICT form for vocabs
    * that carry every substring (tests, uncapped callers): a lookup
    * miss is a caller error, not a pruned candidate.
    */
  def segment(word: String, unat: collection.Map[String, Long]): Seq[String] =
    segmentIn(word, unat, strict = true)

  /** The same DP over a PRUNED vocabulary (qd71's encode pass):
    * pieces absent from the map are simply not candidates —
    * equivalent to the oracle's COALESCE-to-sentinel form, since a
    * valid extension always exists (single chars are never dropped).
    */
  def segmentKept(word: String,
                  unat: collection.Map[String, Long]): Seq[String] =
    segmentIn(word, unat, strict = false)

  private def segmentIn(word: String, unat: collection.Map[String, Long],
                        strict: Boolean): Seq[String] = {
    // DP positions count CODEPOINTS, not UTF-16 units: the seed
    // windows (Java-regex `.`), Spark's length(), and the DuckDB
    // oracle's substring all operate on codepoints, so a non-BMP
    // char (emoji) must advance the DP by one position, not two
    // half-surrogates that were never seeded (ADVICE r14). off(i) =
    // UTF-16 offset of codepoint boundary i, so pieces slice on
    // codepoint boundaries only.
    val L = word.codePointCount(0, word.length)
    val off = new Array[Int](L + 1)
    var i = 0
    var o = 0
    while (i < L) { o = word.offsetByCodePoints(o, 1); i += 1; off(i) = o }
    val best = new Array[Long](L + 1)
    val from = new Array[Int](L + 1)
    var j = 1
    while (j <= L) {
      var bt = 0
      var bv = Long.MinValue
      var t = 1
      val tMax = math.min(MaxPiece, j)
      while (t <= tMax) {
        val p = word.substring(off(j - t), off(j))
        unat.get(p) match {
          case Some(u) =>
            val sc = best(j - t) + u
            if (sc > bv || (sc == bv && t > bt)) { bv = sc; bt = t }
          case None =>
            require(!strict, s"piece '$p' missing from the seed vocab")
        }
        t += 1
      }
      require(bt > 0,
        s"'$word' unsegmentable at $j — single chars must be in the vocab")
      best(j) = bv
      from(j) = bt
      j += 1
    }
    var k = L
    var out = List.empty[String]
    while (k > 0) {
      out = word.substring(off(k - from(k)), off(k)) :: out
      k -= from(k)
    }
    out
  }

  /** One EM step over `docs`: (piece, seed_count, seed_unat, usage,
    * new_unat, kept) for every piece the Viterbi segmentation uses,
    * ordered by piece.
    */
  def emStep(docs: DataFrame): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    // ONE corpus scan: everything downstream is word-table-grain, and
    // the lazy frame re-tokenizes the corpus per consumer (model
    // collect, usage job, and the final join tree referencing the
    // piece and usage branches — ~5 scans measured, 4.9 s → 1.6 s at
    // sf0.1). The word table is the SMALL RESULT of the one heavy
    // pass: eager-localCheckpoint it (the Dedup.minhashNearDups
    // lifecycle — checkpoint the compact grain, not the corpus).
    val dw = wordFreq(docs).localCheckpoint()
    val pieces = pieceTable(dw)
    // the model: bounded piece→score map (vocab-capped collect)
    val model: Map[String, Long] = pieces
      .select(col("piece"), col("seed_unat"))
      .collect().map(r => (r.getString(0), r.getLong(1))).toMap
    val bc = spark.sparkContext.broadcast(model)
    // E-step: map-only DP per distinct word, usage weighted by c.
    // Non-strict: a window the MinSeedCount cap dropped is a
    // NON-CANDIDATE (the oracle's COALESCE-to-sentinel), and single
    // chars are exempt from the cap so a valid path always exists.
    val usage = dw.select(col("word"), col("c")).as[(String, Long)]
      .mapPartitions(_.flatMap { case (w, c) =>
        segmentKept(w, bc.value).map(p => (p, c))
      })
      .toDF("piece", "uc")
      .groupBy("piece").agg(sum("uc").as("usage"))
    val totU = usage.agg(sum("usage").as("tu"))
    val scored = pieces.join(usage, "piece")
      .crossJoin(broadcast(totU))
      .withColumn("new_unat",
        floor(log(col("usage").cast("double") / col("tu").cast("double"))
          * lit(1e6) + lit(0.5)).cast("long"))
      .select("piece", "seed_count", "seed_unat", "usage", "new_unat")
    // M-step drop rule: bottom ⌊n/5⌋ of USED multi-char pieces by
    // (usage ASC, piece ASC); the ranked frame is vocab-grain (the
    // one global window runs on a bounded table)
    val multi = scored.filter(length(col("piece")) > 1)
      .withColumn("rn", row_number().over(
        Window.orderBy(col("usage").asc, col("piece").asc)))
      .withColumn("nm", count(lit(1)).over(
        Window.partitionBy(lit(1))))
      .select(col("piece"), (col("rn") > expr("nm div 5")).as("kept"))
    scored.join(multi, Seq("piece"), "left")
      .withColumn("kept", coalesce(col("kept"), lit(true)))
      .select("piece", "seed_count", "seed_unat", "usage", "new_unat", "kept")
      .orderBy("piece")
  }

  /** qd70 gate query: one unigram-LM EM step over `documents`. */
  def emStepQuery(s: SparkSession, dir: String): DataFrame =
    emStep(Tables.documents(s, dir))

  /** Kept vocabulary from one EM round's OUTPUT rows: kept pieces at
    * their re-estimated scores, plus every corpus single char the
    * round never USED re-floored at `floor(ln(1/totalUsage)·10⁶+0.5)`
    * — the shared post-round construction every round of the driver
    * loop applies before feeding the next (see [[keptVocab]]'s
    * scaladoc for why the floor chars are required).
    */
  private def vocabFrom(s: SparkSession,
                        rows: Array[org.apache.spark.sql.Row],
                        allChars: Array[String]): Map[String, Long] = {
    val kept = rows.filter(_.getAs[Boolean]("kept"))
      .map(r => (r.getAs[String]("piece"), r.getAs[Long]("new_unat")))
      .toMap
    val used = rows.map(_.getAs[String]("piece")).toSet
    val totU = rows.map(_.getAs[Long]("usage")).sum
    val floorScore = s.sql(
      "SELECT CAST(floor(ln(CAST(1 AS DOUBLE) / " +
        s"CAST($totU AS DOUBLE)) * 1000000.0 + 0.5) AS BIGINT)")
      .collect()(0).getLong(0)
    kept ++ allChars.filterNot(used).map(c => (c, floorScore))
  }

  private val charsCache = new graft.io.StampMemo[Array[String]]("documents")

  /** Distinct corpus single chars (the OOV-floor union set), memoized
    * over `documents` by [[graft.io.StampMemo]] like the vocabs: every
    * EM round's [[vocabFrom]] needs the same set, and unmemoized each
    * call re-ran the full wordFreq corpus scan (3× across rounds 1–3
    * for one stamp — VERDICT r15 #5).
    */
  private def corpusChars(s: SparkSession, dir: String): Array[String] =
    charsCache(dir)(wordFreq(Tables.documents(s, dir))
      .select(explode(split(col("word"), "")).as("ch"))
      .where(col("ch") =!= "")
      .distinct().collect().map(_.getString(0)))

  private val keptCache = new graft.io.StampMemo[Map[String, Long]]("documents")

  /** The trained-and-pruned vocabulary (kept piece → RE-ESTIMATED
    * micro-nat score), memoized over `documents` by
    * [[graft.io.StampMemo]]: qd70 (the TRAINER) keeps re-learning; the
    * application pass (qd71) reuses the learned table.
    *
    * Single chars the seed DP never USED (longer pieces covered
    * every occurrence, so they carry no usage and fall out of the
    * EM output) are unioned back at the OOV FLOOR score
    * `floor(ln(1/totalUsage)·10⁶ + 0.5)` — the qd42 Laplace-floor
    * move, computed through the engine's own ln for cross-engine
    * parity. Without them a word whose re-scored segmentation wants
    * an unused char is unsegmentable, breaking the single-chars-
    * always-available invariant the pruned DP relies on.
    */
  def keptVocab(s: SparkSession, dir: String): Map[String, Long] =
    keptCache(dir)(vocabFrom(s, emStep(Tables.documents(s, dir)).collect(),
      corpusChars(s, dir)))

  private val kept2Cache = new graft.io.StampMemo[Map[String, Long]]("documents")

  /** Round-2 trained vocabulary — [[vocabFrom]] over [[emRound2]]'s
    * output, memoized like [[keptVocab]] (the driver-loop chain: each
    * round's application/trainer query amortizes every EARLIER round
    * through the memos and measures only its own round).
    */
  def kept2Vocab(s: SparkSession, dir: String): Map[String, Long] =
    kept2Cache(dir)(
      vocabFrom(s, emRound2(s, dir).collect(), corpusChars(s, dir)))

  private val kept3Cache = new graft.io.StampMemo[Map[String, Long]]("documents")

  /** Round-3 trained vocabulary — [[vocabFrom]] over [[emRound3]]'s
    * output, memoized like [[keptVocab]]/[[kept2Vocab]]. This is the
    * artifact the 3-round driver loop actually SHIPS (qd73 trains it);
    * [[encode3ByLang]] (qd74) is its application pass — closing the
    * train→apply loop at the final vocab (VERDICT r15 #4).
    */
  def kept3Vocab(s: SparkSession, dir: String): Map[String, Long] =
    kept3Cache(dir)(
      vocabFrom(s, emRound3(s, dir).collect(), corpusChars(s, dir)))

  /** qd71 — tokenizer APPLICATION (the qd38 move for the unigram
    * family): segment every document with the trained PRUNED vocab
    * and report per-doc token accounting — word count, piece count,
    * alphabetic char count, and fertility (pieces per word, the
    * qd47 metric at the unigram grain; wordless docs pin 1.0, the
    * qd38 empty-doc convention).
    *
    * Scale shape: the token stream partial-aggregates straight to
    * (doc, word) counts; the DP runs once per DISTINCT word against
    * the broadcast kept vocab (map-only); the per-word piece counts
    * broadcast back into the (doc, word) grain; one doc-keyed
    * aggregate ends it. The corpus is scanned once and never carries
    * text past the tokenize.
    */
  def encode(docs: DataFrame, vocab: Map[String, Long]): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val dwc = docs.where(length(trim(col("text"))) > 0)
      .select(col("doc_id"),
        explode(split(trim(col("text")), "\\s+")).as("word"))
      .where(col("word") =!= "")
      .groupBy("doc_id", "word").agg(count(lit(1)).as("n"))
    val bc = spark.sparkContext.broadcast(vocab)
    val pieceCounts = dwc.select("word").distinct().as[String]
      .mapPartitions(_.map(w => (w, segmentKept(w, bc.value).length.toLong)))
      .toDF("word", "np")
    // NO broadcast hint: pieceCounts is DISTINCT-WORD grain — the
    // Zipf tail (typos, URLs) makes that unbounded at corpus scale,
    // so the word-keyed equi-join must be free to shuffle (the
    // (doc, word) side is already partial-aggregated, so the shuffle
    // moves the bounded grain; AQE may still pick broadcast at small
    // SF from MEASURED size, which is the adaptive behavior we want).
    val agg = dwc.join(pieceCounts, "word")
      .groupBy("doc_id")
      .agg(sum(col("n")).as("n_words"),
        sum(col("n") * col("np")).as("n_pieces"),
        sum(col("n") * length(col("word")).cast("long")).as("n_chars"))
    docs.select("doc_id").join(agg, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_words"), lit(0L)).as("n_words"),
        coalesce(col("n_pieces"), lit(0L)).as("n_pieces"),
        coalesce(col("n_chars"), lit(0L)).as("n_chars"),
        when(coalesce(col("n_words"), lit(0L)) === 0L, lit(1.0))
          .otherwise(col("n_pieces").cast("double")
            / col("n_words").cast("double")).as("fertility"))
      .orderBy("doc_id")
  }

  /** qd71 gate query: encode `documents` with the (cached) trained
    * vocabulary.
    */
  def encodeQuery(s: SparkSession, dir: String): DataFrame =
    encode(Tables.documents(s, dir), keptVocab(s, dir))

  /** qd72 — EM ROUND 2, closing the train-loop arc (qd35's
    * driver-loop precedent applied to the unigram family): re-segment
    * the corpus under round 1's TRAINED vocabulary ([[keptVocab]],
    * amortized via the stamp cache so the bench measures the round-2
    * work), re-estimate piece likelihoods from the round-2 usage
    * counts, and apply the same exact-integer drop rule — bottom
    * ⌊n/5⌋ of used multi-char pieces by (usage ASC, piece ASC),
    * single chars never dropped. Further rounds are this operator
    * re-run on round 2's kept vocab: the loop real SentencePiece
    * iterates until the target vocab size.
    *
    * Scale shape: identical to round 1's E/M — one corpus scan to the
    * word table, a map-only DP per distinct word against the
    * broadcast (bounded, round-1-pruned) vocab, map-side partial
    * aggregation of usage, and a vocab-grain ranked window.
    */
  def emRound2(s: SparkSession, dir: String): DataFrame =
    emUnder(s, dir, keptVocab(s, dir))

  /** qd73 — EM ROUND 3: the same step under round 2's vocabulary.
    * With qd70 (round 1) and qd72 (round 2) this is the 3-round
    * driver loop real SentencePiece training runs (qd35's 3-round BPE
    * twin); rounds 1–2 amortize through the stamp caches so the query
    * measures round-3 work.
    */
  def emRound3(s: SparkSession, dir: String): DataFrame =
    emUnder(s, dir, kept2Vocab(s, dir))

  /** One post-seed EM round under an already-trained vocabulary —
    * the shared E/M body of rounds ≥ 2 (see [[emRound2]]).
    */
  private def emUnder(s: SparkSession, dir: String,
                      vocab: Map[String, Long]): DataFrame = {
    import s.implicits._
    val bc = s.sparkContext.broadcast(vocab)
    // the usage table is the SMALL RESULT of the round's one heavy
    // pass (corpus scan -> word table -> DP) and feeds FOUR plan
    // consumers (its own total, the scored projection, the drop
    // ranking, and the final join) — without the eager checkpoint the
    // lazy frame re-scans the corpus once per consumer (the qd70
    // round-14 lesson, re-measured here: ExplainAudit showed 4 parquet
    // scans). Checkpoint the vocab-grain result, not the corpus.
    val usage = wordFreq(Tables.documents(s, dir))
      .select(col("word"), col("c")).as[(String, Long)]
      .mapPartitions(_.flatMap { case (w, c) =>
        segmentKept(w, bc.value).map(p => (p, c))
      })
      .toDF("piece", "uc")
      .groupBy("piece").agg(sum("uc").as("usage"))
      .localCheckpoint()
    val totU = usage.agg(sum("usage").as("tu"))
    val scored = usage.crossJoin(broadcast(totU))
      .withColumn("new_unat",
        floor(log(col("usage").cast("double") / col("tu").cast("double"))
          * lit(1e6) + lit(0.5)).cast("long"))
      .select("piece", "usage", "new_unat")
    val multi = scored.filter(length(col("piece")) > 1)
      .withColumn("rn", row_number().over(
        Window.orderBy(col("usage").asc, col("piece").asc)))
      .withColumn("nm", count(lit(1)).over(
        Window.partitionBy(lit(1))))
      .select(col("piece"), (col("rn") > expr("nm div 5")).as("kept"))
    scored.join(multi, Seq("piece"), "left")
      .withColumn("kept", coalesce(col("kept"), lit(true)))
      .select("piece", "usage", "new_unat", "kept")
      .orderBy("piece")
  }

  /** qd74 — the SHIPPED tokenizer's audit: [[encode]] under the
    * ROUND-3 trained vocabulary ([[kept3Vocab]] — the artifact the
    * qd70→qd72→qd73 driver loop actually produces, which qd71's
    * round-1 encode does not apply), rolled up to per-LANGUAGE token
    * accounting — docs, word/piece/char totals, and fertility (pieces
    * per word; the qd47 per-language audit at the unigram grain, the
    * tokenizer↔corpus-mismatch signal a real tokenizer ships with).
    *
    * Scale shape is [[encode]]'s (one corpus scan to (doc, word)
    * counts, a map-only DP per distinct word against the broadcast
    * final vocab, one doc-keyed then one lang-keyed aggregate); the
    * three training rounds amortize through the stamp caches so the
    * query measures the application pass (the qd38/qd47 split).
    * Wordless language groups pin fertility 1.0 (the qd38/qd71
    * empty-doc convention lifted to the group grain).
    */
  def encode3ByLang(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    encode(docs, kept3Vocab(s, dir))
      .join(docs.select(col("doc_id"), col("lang")), "doc_id")
      .groupBy("lang")
      .agg(count(lit(1)).as("docs"),
        sum("n_words").as("n_words"),
        sum("n_pieces").as("n_pieces"),
        sum("n_chars").as("n_chars"))
      .select(col("lang"), col("docs"), col("n_words"), col("n_pieces"),
        col("n_chars"),
        when(col("n_words") === 0L, lit(1.0))
          .otherwise(col("n_pieces").cast("double")
            / col("n_words").cast("double")).as("fertility"))
      .orderBy("lang")
  }
}
