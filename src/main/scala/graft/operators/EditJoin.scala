package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Edit-distance similarity join — the sequence-level near-duplicate
  * family (Ed-Join / PassJoin lineage) that complements the set-based
  * blocking the rest of the dedup tier uses (MinHash bands qd6,
  * SimHash qd7, gram Jaccard qd10): two documents can be one
  * character-level patch apart yet share few shingles AND vice versa,
  * so curation pipelines run both.
  *
  * Semantics: all unordered pairs (a, b), a.id < b.id, with
  * Levenshtein(a.text, b.text) <= maxDist, plus the exact distance.
  *
  * Scale design (100 TB): never all-pairs, and never an unbounded
  * DP. Three provably COMPLETE tiers — every filter only discards
  * pairs that cannot qualify, so the result is exact:
  *
  *  1. Length-bucket equi-join. `ed >= |len(a)-len(b)|`, so
  *     qualifying pairs satisfy |Δlen| <= maxDist. Bucket
  *     `len div W` with W > maxDist and explode ONE side to its
  *     {b-1, b, b+1} neighbourhood: every qualifying pair meets in
  *     exactly one bucket (the neighbour values are distinct), and
  *     the join stays a shuffle-partitionable equi-join — no range
  *     join, no cartesian.
  *  2. Character-histogram L1 prune inside the joined row. Each
  *     single edit changes the character multiset by at most one
  *     removal plus one insertion, so
  *     `L1(hist(a), hist(b)) <= 2*ed` — and any PROJECTION of the
  *     alphabet only shrinks the L1, keeping the bound sound. The
  *     37-bin lowercase [a-z0-9 ] histogram is a per-doc LINEAR
  *     precompute (one projection, codegen'd), and the prune is a
  *     37-element fold per candidate — orders cheaper than the DP it
  *     saves (sf0.01: 6258 length-band candidates -> 39 survivors).
  *  3. Banded Levenshtein verify: the built-in threshold form
  *     (`levenshtein(a, b, maxDist)`, SPARK-35325 lineage) runs the
  *     O(maxDist * n) diagonal band and returns -1 the moment the
  *     distance provably exceeds the threshold — never the full
  *     O(n^2) table (EditJoinSpec pins the -1 contract).
  *
  * At real-corpus scale the length-cohort can still be large; the
  * histogram prune is what keeps the verified set near the true
  * pair count, and the whole pipeline composes with any additional
  * complete candidate source (e.g. qd6's band index) by replacing
  * tier 1. Against ~300-char documents the verify leg is ~25x
  * cheaper than the unbanded DP the oracle runs.
  *
  * Oracle: exhaustive DuckDB `levenshtein` behind the same two sound
  * prefilters (fenced with a MATERIALIZED CTE so the planner cannot
  * reorder the DP ahead of them) — sub-second at sf0.01 vs ~25 s
  * unfiltered, while still exact truth.
  */
object EditJoin {

  /** Declared gate threshold: the sf corpus plants sit at ed 4-8 and
    * the nearest non-plant pair is at 38, so 12 is comfortably inside
    * the separation margin on both sides.
    */
  val MaxDist = 12

  /** Bucket width; must exceed [[MaxDist]] so the +/-1 neighbourhood
    * covers every qualifying |Δlen|.
    */
  val BucketWidth = 16

  /** Histogram alphabet: lowercase letters, space, digits (37 bins).
    * Everything else projects out — the L1 bound stays sound under
    * any alphabet projection (it can only shrink).
    */
  private[graft] val HistChars: Seq[Int] =
    (97 to 122) ++ Seq(32) ++ (48 to 57)

  /** Per-doc signature projection: id, text, _len, _bkt, _hist.
    * The histogram rides [[graft.functions.CharHist]] — ONE codegen
    * byte scan per doc (round 14); the previous `array(37 ×
    * (length − length(replace(lower(text), chr(c), ''))))` mirror
    * paid 37 replace-scans plus 37 same-sized string allocations per
    * doc. Both sides of every `hist_l1` compare must come from the
    * SAME histogram function (the L1 bound is sound for any fixed
    * classification, but only when applied consistently); stored
    * corpus signatures are keyed by the program digest, so they are
    * rebuilt with the histogram function that probes them.
    */
  private def sigs(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    df.select(col(idCol).as("_id"), col(textCol).as("_text"))
      .select(
        col("_id"), col("_text"),
        length(col("_text")).as("_len"),
        expr(s"length(_text) div $BucketWidth").as("_bkt"),
        graft.functions.CharHist.of(col("_text")).as("_hist"))
  }

  /** All pairs within Levenshtein distance `maxDist`, exact.
    * Output: (doc_a, doc_b, edit_dist), doc_a < doc_b, unsorted.
    *
    * Layout note: this variant carries text+histogram through the
    * ONE bucket join (fastest at gate scale — no join-backs), at the
    * cost of the explode tripling the right side's payload bytes in
    * the exchange/broadcast. At real corpus scale prefer
    * [[editNearDupsSegIndexed]]'s shape: ids-only candidate
    * generation, payloads joined back only for the (pruned) verify
    * set.
    */
  def editNearDups(df: DataFrame, idCol: String, textCol: String,
                   maxDist: Int = MaxDist): DataFrame = {
    require(maxDist < BucketWidth, "bucket width must exceed maxDist")
    val sig = sigs(df, idCol, textCol)
    // Join ON the bucket equality alone; every residual predicate
    // rides ONE filter whose conjunct order is cheap -> expensive.
    // Catalyst pushes the conjunction into the join condition
    // PRESERVING order (splitConjunctivePredicates + reduce(And)), so
    // codegen short-circuits the id/length/L1 prunes before ever
    // touching the DP — putting the prunes in the ON clause instead
    // lets the pushed filter land AHEAD of them (observed: the DP ran
    // first on every bucket collision, the exact reordering the
    // oracle's MATERIALIZED fence exists to stop on the DuckDB side).
    // The DP conjunct is the threshold form's `>= 0` ALONE (-1 means
    // "band proved > maxDist", values never exceed maxDist) — one
    // unconditional reference, so no per-branch re-evaluation; the
    // output projection recomputes it only for the surviving
    // (true-pair-bounded) rows.
    bandCandidates(sig, sig)
      .filter(verifyPredicate(maxDist))
      .select(col("_ida").as("doc_a"), col("_idb").as("doc_b"),
        levenshtein(col("_ta"), col("_tb"), maxDist).cast("int")
          .as("edit_dist"))
  }

  /** The A side of a candidate pair row. */
  private def asSideA(sig: DataFrame): DataFrame = sig.select(
    col("_id").as("_ida"), col("_text").as("_ta"),
    col("_len").as("_la"), col("_bkt").as("_ba"),
    col("_hist").as("_ha"))

  /** Length-bucket band candidates: A side joined to the B side
    * exploded to its bucket neighbourhood — a qualifying pair has
    * |Δbkt| <= 1, so it meets in exactly one of the three (values
    * distinct, no double counting). One derivation for qd67, qd68's
    * short cohort, and qd69's short batch docs.
    */
  private def bandCandidates(leftSig: DataFrame,
                             rightSig: DataFrame): DataFrame = {
    val right = rightSig.select(
      col("_id").as("_idb"), col("_text").as("_tb"),
      col("_len").as("_lb"), col("_bkt"),
      col("_hist").as("_hb"))
      .withColumn("_bb", explode(array(
        col("_bkt") - 1, col("_bkt"), col("_bkt") + 1)))
      .drop("_bkt")
    asSideA(leftSig).join(right, col("_ba") === col("_bb"))
  }

  /** Shared residual predicate over a joined candidate row
    * (_ida/_idb/_la/_lb/_ha/_hb/_ta/_tb): ordered cheap -> expensive,
    * ending in the banded DP (see [[editNearDups]] ordering note).
    *
    * The L1 rides the [[graft.functions.HistL1]] custom codegen
    * Expression, not a composition: the zip_with/aggregate fold is
    * CodegenFallback (interpreted tree walk per element per CANDIDATE
    * — millions of rows), and the literal-unrolled 37-term
    * `element_at` alternative was measured WORSE (qd67 6.1 -> 20.6 s
    * at sf0.1: 37 ANSI-checked element_at terms inside the join
    * condition knocked the stage out of whole-stage codegen). The
    * custom loop keeps the stage fused.
    */
  private def verifyPredicate(maxDist: Int): Column =
    col("_ida") < col("_idb") && residualPredicate(maxDist)

  /** The orientation-free residual (length band, L1 prune, banded
    * DP) — shared by the unordered self-joins (with the id< conjunct
    * prepended) and the batch-vs-corpus admission path (sides are
    * disjoint by construction, no ordering conjunct).
    */
  private def residualPredicate(maxDist: Int): Column =
    abs(col("_la") - col("_lb")) <= maxDist &&
      graft.functions.HistL1.of(col("_ha"), col("_hb")) <= 2 * maxDist &&
      levenshtein(col("_ta"), col("_tb"), maxDist) >= 0

  /** qd67 gate query: edit-distance near-dups over `documents`. */
  def editNearDupsQuery(spark: SparkSession, dir: String): DataFrame =
    editNearDups(graft.core.Tables.table(spark, dir, "documents"),
      "doc_id", "text")
      .orderBy("doc_a", "doc_b")

  // ---- PassJoin-style segment index (qd68) ------------------------

  /** Segment width for the chunk/window index. */
  val SegWidth = 16

  /** Same result as [[editNearDups]] through a segment-INDEXED
    * candidate path (PassJoin / Li, Deng & Feng lineage) instead of
    * the length-cohort band join — the blocking that still works when
    * a single length bucket holds millions of docs at 100 TB:
    *
    * Pigeonhole: cut a doc into m contiguous chunks; each edit
    * operation corrupts the copy of at most ONE chunk in the partner
    * (an aligned substitution/indel lands inside one chunk; position
    * shifts don't destroy substring identity). With m >= maxDist + 1
    * chunks, a qualifying pair leaves >= 1 chunk of the CHUNKED side
    * verbatim inside the other doc, displaced by at most the net
    * indel balance, i.e. |Δstart| <= maxDist. So:
    *
    *  - chunk side (the LOWER id of each pair): ~len/W grid chunks
    *    per doc — (id, start, gram);
    *  - window side (every doc): the qd53 sliding grain — every
    *    W-char substring with its offset;
    *  - candidates = equi-join on the gram VALUE filtered to
    *    |Δstart| <= maxDist and |Δlen| <= maxDist, distinct pairs.
    *    The position constraint is what caps hot-gram fanout: a
    *    boilerplate sentence shared by thousands of docs only pairs
    *    the occurrences that are ALIGNED within +/-maxDist, not the
    *    full df^2 cross product.
    *
    * Docs too short to carry maxDist+1 chunks of width W take the
    * [[editNearDups]] length-band path instead; the pair space is
    * split DISJOINTLY on the chunk side's (= lower id's) length, so
    * the union counts every pair exactly once. Short docs are the
    * cheap cohort by construction (their partners are within Δlen of
    * short themselves).
    *
    * Verify tiers (histogram L1 prune + banded levenshtein) are
    * shared with [[editNearDups]]; both paths end in the same exact
    * DP, so the two operators hash-match the same oracle.
    */
  def editNearDupsSegIndexed(df: DataFrame, idCol: String, textCol: String,
                             maxDist: Int = MaxDist): DataFrame = {
    require(maxDist < BucketWidth, "bucket width must exceed maxDist")
    val sig = sigs(df, idCol, textCol)

    // -- long-chunk-side pairs through the segment index ------------
    val candidates = gridChunks(sig, maxDist).join(slidingWindows(sig, maxDist),
        col("_gha") === col("_ghb") &&
        col("_ida") < col("_idb") &&
        abs(col("_pa") - col("_pb")) <= maxDist)
      .select("_ida", "_idb").distinct()
    val segPairs = candidates
      .join(sig.select(col("_id").as("_ida"), col("_text").as("_ta"),
        col("_len").as("_la"), col("_hist").as("_ha")), Seq("_ida"))
      .join(sig.select(col("_id").as("_idb"), col("_text").as("_tb"),
        col("_len").as("_lb"), col("_hist").as("_hb")), Seq("_idb"))

    // -- short-chunk-side pairs through the band join ----------------
    // (lower id shorter than minLong; the partner may be any length
    // within Δlen — the band join covers that cohort completely; the
    // id< conjunct lives in the shared verify filter and pushes into
    // this join like every other residual)
    val bandPairs =
      bandCandidates(sig.filter(col("_len") < minLong(maxDist)), sig)

    // same ordered residual predicate as the band operator — pushed
    // through the union into both branches, cheap prunes ahead of the
    // DP in each (see editNearDups ordering note)
    segPairs.select("_ida", "_idb", "_ta", "_tb", "_la", "_lb", "_ha", "_hb")
      .unionByName(
        bandPairs.select("_ida", "_idb", "_ta", "_tb", "_la", "_lb", "_ha", "_hb"))
      .filter(verifyPredicate(maxDist))
      .select(col("_ida").as("doc_a"), col("_idb").as("doc_b"),
        levenshtein(col("_ta"), col("_tb"), maxDist).cast("int")
          .as("edit_dist"))
  }

  /** Minimum chunk-side length for the segment path: maxDist+1
    * FULL-width chunks must fit (floor(len/W) >= maxDist+1); shorter
    * docs take the band path on the disjoint split.
    */
  private def minLong(maxDist: Int): Int = (maxDist + 1) * SegWidth

  /** The chunk side of the segment index: one row per full-width
    * grid chunk of each doc long enough for the pigeonhole —
    * (_ida, _pa, _gha). Full-width chunks only: a sub-width tail
    * could never equal a full-width window, and the pigeonhole count
    * only needs the full ones (an edit landing in the tail corrupts
    * nothing relied upon). The key is xxhash64 of the gram, not the
    * 16-char string: an 8-byte shuffle/compare key, and a collision
    * can only ADD a candidate (same gram -> same hash) for the
    * verify tiers to discard — completeness unharmed.
    *
    * Round 18: both index grains ride
    * [[graft.functions.SlidingXxh64]] — the previous
    * `transform(sequence(...), i -> substring(...))` was a
    * CodegenFallback HOF (whole Generate stage interpreted) that
    * allocated one W-char string per window before hashing it; the
    * custom expression hashes each window's byte range in place,
    * BIT-EQUAL to `xxhash64(substring(...))` (spec-pinned).
    */
  private def gridChunks(sig: DataFrame, maxDist: Int): DataFrame = {
    sig.filter(col("_len") >= minLong(maxDist))
      .select(col("_id").as("_ida"),
        posexplode(graft.functions.SlidingXxh64.of(
          col("_text"), SegWidth, SegWidth)).as(Seq("_ci", "_gha")))
      .select(col("_ida"), (col("_ci") * SegWidth).as("_pa"), col("_gha"))
  }

  /** The window side of the segment index: every SegWidth-char
    * substring of every doc long enough to partner a chunked doc —
    * (_idb, _pb, _ghb). Shorter docs need not emit windows (sound by
    * the |Δlen| <= maxDist residual). ONE derivation for qd68's
    * in-query index and qd69/qs44's stored one.
    */
  private[graft] def slidingWindows(sig: DataFrame, maxDist: Int): DataFrame = {
    sig.filter(col("_len") >= minLong(maxDist) - maxDist)
      .select(col("_id").as("_idb"),
        posexplode(graft.functions.SlidingXxh64.of(col("_text"), SegWidth, 1))
          .as(Seq("_pb", "_ghb")))
  }

  /** qd68 gate query: the segment-indexed path over `documents` —
    * shares qd67's oracle (same truth, different blocking geometry).
    */
  def editNearDupsSegQuery(spark: SparkSession, dir: String): DataFrame =
    editNearDupsSegIndexed(graft.core.Tables.table(spark, dir, "documents"),
      "doc_id", "text")
      .orderBy("doc_a", "doc_b")

  // ---- incremental admission against a stored index (qd69) --------

  /** Per-BATCH-doc edit-distance admission verdicts against a
    * standing corpus: the growing-corpus shape (qd40/qd54/qs39
    * lineage) for the edit family. Work per batch is O(batch)
    * derivation (batch signatures + batch chunks) joined against the
    * STORED window/signature index — nothing re-derives the corpus,
    * and the batch side is the small side of every join (broadcast at
    * real batch sizes), so the corpus is only ever SCANNED, never
    * shuffled on a per-batch key.
    *
    * Candidate completeness mirrors [[editNearDupsSegIndexed]], with
    * the pigeonhole applied to the BATCH doc (the chunked side):
    * long batch docs probe the corpus window index, short batch docs
    * take the length-bucket band join against the stored signature
    * table — disjoint on the batch doc's length, jointly complete.
    *
    * Output: one row per batch doc — (doc_id, dup_of, edit_dist,
    * is_dup), dup_of = the corpus partner with the smallest distance
    * (tie: lowest id), NULL/false when no partner is within maxDist.
    * Verdicts are per-doc and order-free, so micro-batch splits
    * cannot change them (the qs39 argument).
    *
    * @param windex     stored corpus window index: (_idb, _pb, _ghb)
    *                   — [[corpusWindowIndex]] through ArtifactStore
    * @param corpusSigs stored corpus signatures: (_id, _len, _bkt,
    *                   _hist) — [[corpusSignatures]]; texts join back
    *                   from `corpusDocs` at verify time (the index
    *                   stays bytes-small)
    */
  def editAdmission(corpusDocs: DataFrame, windex: DataFrame,
                    corpusSigs: DataFrame, batchDocs: DataFrame,
                    idCol: String, textCol: String,
                    maxDist: Int = MaxDist): DataFrame = {
    require(maxDist < BucketWidth, "bucket width must exceed maxDist")
    val bSig = sigs(batchDocs, idCol, textCol)

    val longCands = gridChunks(bSig, maxDist)
      .join(windex,
        col("_gha") === col("_ghb") &&
        abs(col("_pa") - col("_pb")) <= maxDist)
      .select("_ida", "_idb")
    val shortCands = bSig.filter(col("_len") < minLong(maxDist))
      .select(col("_id").as("_ida"), col("_bkt"))
      .withColumn("_bb", explode(array(
        col("_bkt") - 1, col("_bkt"), col("_bkt") + 1)))
      .join(corpusSigs.select(col("_id").as("_idb"),
        col("_bkt").as("_cb")), col("_bb") === col("_cb"))
      .select("_ida", "_idb")
    val candidates = longCands.unionByName(shortCands).distinct()

    val verified = candidates
      .join(bSig.select(col("_id").as("_ida"), col("_text").as("_ta"),
        col("_len").as("_la"), col("_hist").as("_ha")), Seq("_ida"))
      .join(corpusSigs.select(col("_id").as("_idb"),
        col("_len").as("_lb"), col("_hist").as("_hb")), Seq("_idb"))
      .join(corpusDocs.select(col(idCol).as("_idb"),
        col(textCol).as("_tb")), Seq("_idb"))
      .filter(residualPredicate(maxDist))
      .select(col("_ida"), col("_idb"),
        levenshtein(col("_ta"), col("_tb"), maxDist).cast("int").as("_ed"))
    val best = verified
      .withColumn("_rn", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy("_ida")
          .orderBy(col("_ed"), col("_idb"))))
      .filter(col("_rn") === 1)

    batchDocs.select(col(idCol).as("doc_id"))
      .join(best.select(col("_ida").as("doc_id"),
        col("_idb").as("dup_of"), col("_ed").as("edit_dist")),
        Seq("doc_id"), "left")
      .select(col("doc_id"), col("dup_of"), col("edit_dist"),
        col("dup_of").isNotNull.as("is_dup"))
  }

  /** The stored corpus window index: every `SegWidth`-char substring
    * of every corpus doc long enough to partner a chunked batch doc,
    * as (_idb, _pb, _ghb) hash rows. Rebuilt only when the corpus
    * stamp (or `version`, on writer changes) moves.
    */
  def corpusWindowIndex(corpus: DataFrame, idCol: String, textCol: String,
                        maxDist: Int = MaxDist): DataFrame =
    slidingWindows(sigs(corpus, idCol, textCol), maxDist)

  /** The stored corpus signature table (_id, _len, _bkt, _hist) —
    * everything the band path and the verify prunes need except the
    * text itself, which joins back from the corpus table.
    */
  def corpusSignatures(corpus: DataFrame, idCol: String,
                       textCol: String): DataFrame =
    sigs(corpus, idCol, textCol).select("_id", "_len", "_bkt", "_hist")

  /** Canonical corpus split for the stored-index gates (qd69/qs44):
    * src19 is today's arrival batch, everything else is the standing
    * corpus — the qd40/qd54/qs39 framing.
    */
  private[graft] val CorpusFilterKey = "not_src19"

  /** The stored window index for `corpus`, built at most once per
    * (dir, corpus stamp, corpusKey, program) — the ONE place the
    * artifact name lives (qd69 and qs44 both read it). `corpusKey`
    * names the FILTER that shaped `corpus` (ADVICE r13: the filter
    * is not visible in the table stamp, so two
    * differently-filtered corpora over the same documents table would
    * otherwise silently share one index tree); callers must pass a
    * distinct key per distinct corpus predicate —
    * [[CorpusFilterKey]] for the canonical !src19 split.
    */
  def storedWindowIndex(s: SparkSession, dir: String, corpus: DataFrame,
                        corpusKey: String = CorpusFilterKey): DataFrame =
    graft.io.ArtifactStore.parquetArtifact(
      s, dir, "documents", s"edit_windex_$corpusKey") {
      corpusWindowIndex(corpus, "doc_id", "text")
    }

  /** The stored signature table for `corpus`, keyed like
    * [[storedWindowIndex]].
    */
  def storedSignatures(s: SparkSession, dir: String, corpus: DataFrame,
                       corpusKey: String = CorpusFilterKey): DataFrame =
    graft.io.ArtifactStore.parquetArtifact(
      s, dir, "documents", s"edit_sigs_$corpusKey") {
      corpusSignatures(corpus, "doc_id", "text")
    }

  /** qd69 gate query: src19 arrives as the batch, everything else is
    * the standing corpus (the qd40/qs39 split); both corpus-side
    * inputs ride the stored artifacts above.
    */
  def editAdmissionQuery(spark: SparkSession, dir: String): DataFrame = {
    val docs = graft.core.Tables.table(spark, dir, "documents")
    val corpus = docs.filter(col("source") =!= "src19")
    val batch = docs.filter(col("source") === "src19")
    editAdmission(corpus, storedWindowIndex(spark, dir, corpus),
        storedSignatures(spark, dir, corpus), batch, "doc_id", "text")
      .orderBy("doc_id")
  }

  // ---- publish-back: the standing index GROWS (qd75/qd76) ----------

  /** The refresh loop's PUBLISH step for the edit index (the
    * [[Dedup.publishRefresh]] move, VERDICT r15 #7): append the
    * ADMITTED docs' window and signature rows to the standing
    * artifacts, so batch N+1 probes an index that already contains
    * batch N's survivors. Both index tables are PER-DOC derivations
    * ([[slidingWindows]]/[[sigs]] emit rows from one doc at a time),
    * so publish ∘ publish provably equals the one-shot rebuild on the
    * union — no quotient argument needed, just row-set union
    * (pinned across the parquet durability seam in Round16OpsSpec).
    *
    * Scale shape: O(admitted batch) derivation + two artifact
    * appends; the standing side is never re-derived or re-shuffled.
    */
  def publishAdmitted(windex: DataFrame, csigs: DataFrame,
                      admitted: DataFrame, idCol: String, textCol: String,
                      maxDist: Int = MaxDist): (DataFrame, DataFrame) = {
    val aSig = sigs(admitted, idCol, textCol)
    (windex.unionByName(slidingWindows(aSig, maxDist)),
      csigs.unionByName(aSig.select("_id", "_len", "_bkt", "_hist")))
  }

  /** Stored admission verdicts for a named batch split against the
    * gen-0 standing artifacts — the ONE place each generation's
    * admission chain (candidate joins + banded DP) executes per
    * (dir, stamp): both published index artifacts derive their
    * admitted set from THIS materialized table instead of re-running
    * the probe (VERDICT r16 #2 / ADVICE r16: the previous lazy
    * `grownPair` ran the full admission once per artifact).
    * `batchKey` names the batch predicate (the corpusKey contract).
    */
  private def storedVerdicts(s: SparkSession, dir: String, batchKey: String)
                            (batchOf: DataFrame => DataFrame): DataFrame =
    graft.io.ArtifactStore.parquetArtifact(
      s, dir, "documents", s"edit_verdicts_$batchKey") {
      val docs = graft.core.Tables.table(s, dir, "documents")
      val corpus = docs.filter(col("source") =!= "src19")
      editAdmission(corpus, storedWindowIndex(s, dir, corpus),
        storedSignatures(s, dir, corpus), batchOf(docs), "doc_id", "text")
    }

  /** Stored verdicts for the FULL src19 batch vs gen-0 (the qd69
    * probe, materialized once for the qd75 publish chain).
    */
  def storedSrc19Verdicts(s: SparkSession, dir: String): DataFrame =
    storedVerdicts(s, dir, "src19")(_.filter(col("source") === "src19"))

  /** The docs a verdict table ADMITS (is_dup = false — an arriving
    * near-duplicate is rejected, not indexed), joined back to their
    * text.
    */
  private def admittedDocs(batch: DataFrame,
                           verdicts: DataFrame): DataFrame =
    batch.join(verdicts.filter(!col("is_dup")).select("doc_id"), "doc_id")

  /** One published-artifact builder shared by the windex/sigs halves
    * and both generation splits: standing artifact ∪ the admitted
    * batch's O(batch) re-derivation. The admission itself is the
    * stored verdict table — never re-run here.
    */
  private def publishedArtifact(s: SparkSession, dir: String,
                                name: String, windexHalf: Boolean,
                                batchOf: DataFrame => DataFrame,
                                verdicts: => DataFrame): DataFrame =
    graft.io.ArtifactStore.parquetArtifact(
      s, dir, "documents", name) {
      val docs = graft.core.Tables.table(s, dir, "documents")
      val corpus = docs.filter(col("source") =!= "src19")
      val admitted = admittedDocs(batchOf(docs), verdicts)
      val pair = publishAdmitted(storedWindowIndex(s, dir, corpus),
        storedSignatures(s, dir, corpus), admitted, "doc_id", "text")
      if (windexHalf) pair._1 else pair._2
    }

  /** Published next-generation window index, durable through
    * [[graft.io.ArtifactStore]] (the qd57 publish contract: what the
    * store serves to batch N+1, storage roundtrip included).
    */
  def publishedWindowIndex(s: SparkSession, dir: String): DataFrame =
    publishedArtifact(s, dir, "edit_windex_all", windexHalf = true,
      _.filter(col("source") === "src19"), storedSrc19Verdicts(s, dir))

  /** Published next-generation signature table, keyed like
    * [[publishedWindowIndex]].
    */
  def publishedSignatures(s: SparkSession, dir: String): DataFrame =
    publishedArtifact(s, dir, "edit_sigs_all", windexHalf = false,
      _.filter(col("source") === "src19"), storedSrc19Verdicts(s, dir))

  /** qd75 gate query — the published edit index summarized per doc:
    * (doc_id, len, bkt, n_windows) read back from BOTH published
    * artifacts. The DuckDB oracle recomputes the grown corpus from
    * scratch (qd69's admission truth decides who was admitted) and
    * re-derives each doc's signature fields and window count from the
    * geometry constants — so a green hash proves the store serves
    * exactly the rebuild-on-the-grown-corpus index to batch N+1 (the
    * qd57 claim for the edit family).
    */
  def editPublishQuery(s: SparkSession, dir: String): DataFrame = {
    val wc = publishedWindowIndex(s, dir)
      .groupBy("_idb").agg(count(lit(1)).as("n_windows"))
      .withColumnRenamed("_idb", "doc_id")
    publishedSignatures(s, dir)
      .select(col("_id").as("doc_id"), col("_len").as("len"),
        col("_bkt").as("bkt"))
      .join(wc, Seq("doc_id"), "left")
      .select(col("doc_id"), col("len"), col("bkt"),
        coalesce(col("n_windows"), lit(0L)).as("n_windows"))
      .orderBy("doc_id")
  }

  // ---- two-generation SEQUENTIAL admission (qd76) ------------------

  /** Deterministic generation split of the src19 arrival batch:
    * gen = parity of the portable fingerprint of the doc_id's decimal
    * digits (qd36's cluster-split device — declared,
    * oracle-reproducible via the identical DuckDB list_reduce fold,
    * stable under corpus regeneration). Raw doc_id parity is
    * DEGENERATE here: the testdata assigns source = doc_id mod 20, so
    * every src19 id is odd and one generation would be empty; the
    * fingerprint splits ~15/10 at sf0.001–0.01 and 125/125 at sf0.1.
    * The gate corpora plant no src19-internal edit pairs (measured at
    * sf0.01/sf0.1), so no gen-2 verdict FLIPS from the publish on
    * real data; the flip case — a gen-2 doc whose only near-dup is a
    * gen-1 survivor, and the crucial negative where the partner was
    * itself REJECTED — is pinned on a crafted corpus in
    * Round17OpsSpec (the qd28 crafted-input pattern).
    */
  private[graft] def genBatch(docs: DataFrame, gen: Int): DataFrame = {
    docs.filter(col("source") === "src19" &&
      pmod(graft.functions.DocFingerprint.of(col("doc_id").cast("string")),
        lit(2L)) === lit((gen - 1).toLong))
  }

  /** Stored gen-1 verdicts (even src19 docs vs the gen-0 standing
    * index) — the sequential chain's first link, materialized once
    * per (dir, stamp) like [[storedSrc19Verdicts]].
    */
  def storedGen1Verdicts(s: SparkSession, dir: String): DataFrame =
    storedVerdicts(s, dir, "g1")(genBatch(_, 1))

  /** Published gen-1 window index: gen-0 ∪ the gen-1 survivors'
    * windows — what batch 2 probes.
    */
  def publishedGen1WindowIndex(s: SparkSession, dir: String): DataFrame =
    publishedArtifact(s, dir, "edit_windex_g1", windexHalf = true,
      genBatch(_, 1), storedGen1Verdicts(s, dir))

  /** Published gen-1 signature table, keyed like
    * [[publishedGen1WindowIndex]].
    */
  def publishedGen1Signatures(s: SparkSession, dir: String): DataFrame =
    publishedArtifact(s, dir, "edit_sigs_g1", windexHalf = false,
      genBatch(_, 1), storedGen1Verdicts(s, dir))

  /** qd76 gate query — the two-generation SEQUENTIAL admission
    * (VERDICT r16 #1): gen-1 arrivals were admitted against gen-0
    * and PUBLISHED ([[publishedGen1WindowIndex]]/[[publishedGen1Signatures]],
    * prebuilt like every index artifact); gen-2 arrivals probe the
    * PUBLISHED artifacts — the first gate query whose candidate set
    * includes rows that exist only because a previous batch's
    * survivors were folded into the index. Output: one verdict row
    * per src19 doc with its generation; the gen-2 rows' corpus side
    * for the verify text join is the GROWN corpus (gen-0 docs ∪
    * gen-1 survivors), matching the published signatures'
    * population. Oracle: the sequential truth re-derived exhaustively
    * in DuckDB (gen-2 candidates vs corpus ∪ gen-1 survivors — the
    * editAdmissionSql chain extended by one generation).
    *
    * Scale shape: each generation is O(batch) probes of stored
    * artifacts (the qd69 contract); the publish between them is the
    * O(admitted) append qd75 proves equal to a rebuild. Work never
    * touches the standing corpus beyond the index scans.
    */
  def editSeqAdmissionQuery(s: SparkSession, dir: String): DataFrame = {
    val docs = graft.core.Tables.table(s, dir, "documents")
    val corpus = docs.filter(col("source") =!= "src19")
    val v1 = storedGen1Verdicts(s, dir)
    val grownDocs = corpus.select("doc_id", "text")
      .unionByName(admittedDocs(genBatch(docs, 1), v1)
        .select("doc_id", "text"))
    val v2 = editAdmission(grownDocs, publishedGen1WindowIndex(s, dir),
      publishedGen1Signatures(s, dir), genBatch(docs, 2),
      "doc_id", "text")
    v1.withColumn("gen", lit(1))
      .unionByName(v2.withColumn("gen", lit(2)))
      .select(col("doc_id"), col("gen").cast("int").as("gen"),
        col("dup_of"), col("edit_dist"), col("is_dup"))
      .orderBy("doc_id")
  }
}
