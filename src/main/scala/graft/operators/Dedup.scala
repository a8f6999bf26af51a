package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Deduplication operators for training-data curation: exact,
  * MinHash+LSH, SimHash, and exact n-gram Jaccard verification.
  *
  * Scale design (100 TB): nothing here is all-pairs. Exact dedup is
  * one hash-partitioned shuffle on the dedup key; MinHash/SimHash
  * compute signatures fully inside a projection (nested array HOFs,
  * no explode until banding), then only band-bucket collisions
  * become candidate pairs. Over-full buckets (boilerplate/spam
  * clusters) are capped by `maxBucket` — a documented recall
  * trade-off that prevents a single hot bucket from producing an
  * O(n²) pair explosion on a real corpus.
  */
object Dedup {

  /** Exact dedup: keep the lowest id per identical value of `key`.
    * One shuffle (window over the key); ties cannot happen because
    * `idCol` is unique.
    *
    * The window partitions on (xxhash64(key), key) rather than the
    * raw key alone: the shuffle sort then compares 8-byte longs first
    * and touches the full value only on hash-equal runs (actual
    * duplicate groups plus ~2^-64 collisions, which the trailing
    * exact-key column keeps from ever merging distinct groups). At
    * document scale the key is multi-KB text, so this is the
    * difference between sorting longs and sorting documents.
    * WindowGroupLimit still prunes to one row per group map-side
    * before the exchange, so duplicate rows are never shuffled.
    */
  def exactDedup(df: DataFrame, key: String, idCol: String): DataFrame = {
    val w = Window.partitionBy("_h", key).orderBy(idCol)
    df.withColumn("_h", xxhash64(col(key)))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .drop("rn", "_h")
  }

  // ---- MinHash ----------------------------------------------------

  val NumPerms = 32
  val Bands = 8
  val RowsPerBand: Int = NumPerms / Bands
  /** Cap on the MEASURED byte size of the band-collision pair set up
    * to which [[admitAgainst]] hints its pair-derived frames
    * broadcast-side: 256 MB of checkpointed pair blocks is
    * comfortable on any executor (the relation a broadcast build
    * materializes is the same order), while a degenerate corpus
    * (uncapped hot band) blowing past it falls back to shuffle joins
    * instead of a driver OOM. Bytes, not rows: the broadcast limit
    * the guard protects is byte-bounded, and the checkpointed blocks'
    * registered sizes are readable from the driver's block-manager
    * status for FREE — the first guard cut ran `cross.count()` per
    * micro-batch and cost qs39 +8-10% (interleaved A/B, med of 3,
    * twice); this one adds no job.
    */
  private[graft] val AdmitBroadcastByteCap = 256L << 20

  /** Total registered block bytes of an eagerly-localCheckpoint'ed
    * frame — a driver-side status read (no job). None when the frame
    * is not a checkpointed LogicalRDD or its blocks are not (yet)
    * registered.
    */
  private[graft] def checkpointedBytes(df: DataFrame): Option[Long] =
    df.queryExecution.logical match {
      case lr: org.apache.spark.sql.execution.LogicalRDD =>
        df.sparkSession.sparkContext.getRDDStorageInfo
          .find(_.id == lr.rdd.id)
          .map(i => i.memSize + i.diskSize)
      case _ => None
    }
  /** 2^31-1; keeps a*h+b < 2^62, safely inside Long. */
  private val P = 2147483647L
  /** Deterministic permutation parameters (seed fixed at lib level). */
  private[operators] val perms: Seq[(Long, Long)] = {
    val rng = new scala.util.Random(7)
    Seq.fill(NumPerms)((1L + rng.nextInt(Int.MaxValue - 1).toLong,
      rng.nextInt(Int.MaxValue).toLong))
  }

  /** Affine parameters for the PORTABLE minhash estimate (qd27):
    * h_i(g) = (a_i·fp(g) + b_i) mod P over the 31-bit rolling
    * fingerprint, so DuckDB recomputes every component exactly (the
    * production [[perms]] signatures ride xxhash64, which only Spark
    * has). Shared by the Spark query and the generated oracle SQL —
    * one constant list, two engines.
    */
  val portablePerms: Seq[(Long, Long)] = {
    val rng = new scala.util.Random(13)
    Seq.fill(16)((1L + rng.nextInt(Int.MaxValue - 1).toLong,
      rng.nextInt(Int.MaxValue).toLong))
  }

  /** Lowercased alphanumeric word tokens. */
  def tokens(text: Column): Column =
    filter(split(regexp_replace(lower(text), "[^a-z0-9]+", " "), " "),
      t => t =!= "")

  /** Distinct 31-bit hashes of word 3-gram shingles (doc shorter
    * than 3 tokens -> one whole-doc shingle). Shingle identity is the
    * combined xxhash64 of the three member tokens (arithmetic only:
    * Spark evaluates array lambdas interpreted, so string
    * concatenation per gram costs ~10x an arithmetic combine).
    */
  /** 31-bit xxhash64 per token: ((t1*31+t2)*31+t3) then stays under
    * 2^41, far from the ANSI-mode long-overflow error.
    */
  def tokenHashes(text: Column): Column =
    transform(tokens(text), t => xxhash64(t).bitwiseAND(lit(0x7fffffffL)))

  /** Gram combine over an ALREADY-MATERIALIZED token-hash column.
    * `th` must be a bound attribute, not an expression: the Column
    * DSL inlines whatever is passed here into every element_at inside
    * the lambda, and interpreted HOF eval would then re-run the full
    * tokenize+hash pipeline ~3x per gram (measured 16x slowdown on
    * the corpus; CollapseProject keeps the two-projection split
    * because `th` is referenced multiple times by a non-cheap
    * expression).
    */
  def gramHashes(th: Column): Column = {
    val grams = when(size(th) >= 3,
      transform(sequence(lit(0), size(th) - 3), i =>
        (element_at(th, i + 1) * lit(31L) + element_at(th, i + 2)) * lit(31L)
          + element_at(th, i + 3)))
      .otherwise(array(aggregate(th, lit(0L), (acc, h) => acc * lit(31L) + h)))
    array_distinct(transform(grams, g => g.bitwiseAND(lit(0x7fffffffL))))
  }

  /** Convenience single-column form — fine for tests and tiny inputs;
    * hot paths use [[shingleFrame]]'s two-step materialization.
    */
  def shingleHashes(text: Column): Column = gramHashes(tokenHashes(text))

  /** Distinct word 3-gram string shingles as ROWS (doc_id, g) — the
    * fully-relational, hash-free gram derivation (explode + two
    * window leads, codegen end-to-end; docs under 3 tokens fold to
    * one whole-doc shingle). The single source of truth the DuckDB
    * shingleCte mirrors; pairJaccard (qd10) and decontaminate (qd14)
    * both consume it, so tokenization or short-doc changes cannot
    * drift between them.
    */
  def gramsRelational(df: DataFrame, idCol: String,
                      textCol: String, carry: Seq[String] = Nil): DataFrame = {
    val w = Window.partitionBy("doc_id").orderBy("pos")
    // ONE scan, ONE tokenize. The earlier long/short branch split cost
    // two full scans, and filter pushdown substituted the token
    // expression into each branch's Filter condition — the interpreted
    // tokenize chain (regex replace + split + filter lambda) ran up to
    // four times per row. Both gram shapes now derive from a single
    // exploded pass: a 3-gram wherever lead-2 exists, and the
    // whole-doc shingle on the first row of docs that never get one
    // (t3 null at pos 0 <=> fewer than 3 tokens). explode_outer keeps
    // zero-token docs: their null tokens concat_ws to the same "" the
    // array_join form produced. Measured flat at sf0.1 (~300-char
    // docs: the window sort dominates, tokenize is noise) — the win
    // is the scan/tokenize multiplicity at real document sizes, where
    // regex-splitting the corpus four times is the bill.
    // null text contributes NO gram rows — same as the pre-rewrite
    // two-branch form, where size(null) compared false on both sides
    // (without this guard, posexplode_outer's (null, null) row would
    // give null-text docs an "" gram that empty-STRING docs get)
    // `carry` threads doc-constant columns (e.g. qd59's source)
    // through the one window pass as shuffle-row payload — the
    // Selection.scoreGrain move, replacing a whole doc-grain join
    df.where(col(textCol).isNotNull)
      .select(col(idCol).as("doc_id") +: carry.map(col) :+
        posexplode_outer(tokens(col(textCol))).as(Seq("pos", "t")): _*)
      .withColumn("t2", lead("t", 1).over(w))
      .withColumn("t3", lead("t", 2).over(w))
      .withColumn("g",
        when(col("t3").isNotNull,
          concat_ws(" ", col("t"), col("t2"), col("t3")))
          .when(col("pos").isNull || col("pos") === 0,
            concat_ws(" ", col("t"), col("t2"))))
      .filter(col("g").isNotNull)
      .select(("doc_id" +: carry :+ "g").map(col): _*)
      .distinct()
  }

  /** Distinct word 3-gram shingles as strings — the hash-free,
    * oracle-parity path (DuckDB re-derives identical string sets, so
    * set sizes and Jaccard values match with no collision caveat).
    * `toks` must be a materialized token column, not an expression —
    * same HOF-inlining trap as [[gramHashes]].
    */
  def gramStrings(toks: Column): Column =
    array_distinct(when(size(toks) >= 3,
      transform(sequence(lit(0), size(toks) - 3), i =>
        concat_ws(" ", element_at(toks, i + 1), element_at(toks, i + 2),
          element_at(toks, i + 3))))
      .otherwise(array(array_join(toks, " "))))

  /** Per-doc shingle-hash sets as a persisted frame: the one place
    * the (interpreted-HOF) text work happens; signatures, banding and
    * jaccard verification all reuse it.
    *
    * Measured alternative (round 3): deriving shingles relationally —
    * explode token hashes + two window leads + distinct, as
    * TrainingOps.pairJaccard does for strings — was 28% SLOWER here
    * (3.1 s vs 2.4 s warm at sf0.1) and worse at scale: it adds three
    * data-scale shuffles (window sort, distinct, rejoin) to save
    * interpreted per-gram arithmetic that is cheap, linear and
    * embarrassingly parallel. The projection form keeps shingle
    * derivation shuffle-free; nothing shuffles until the 32-long
    * signature rows. String grams are the opposite trade (allocation-
    * heavy lambdas), which is why pairJaccard went relational.
    */
  private[operators] def shingleFrame(docs: DataFrame, idCol: String,
                           textCol: String): DataFrame =
    docs.select(col(idCol).as("doc_id"),
        tokenHashes(col(textCol)).as("_th"))
      .select(col("doc_id"), gramHashes(col("_th")).as("sh"))

  /** MinHash signatures as 32 codegen'd min-aggregates over exploded
    * shingle hashes (partial aggregation collapses map-side, so the
    * shuffle carries ~32 longs per doc per mapper — the scalable
    * shape; 32 interpreted array traversals per doc is not).
    */
  def minhashSignatures(sh: DataFrame): DataFrame = {
    val aggs = perms.zipWithIndex.map { case ((a, b), i) =>
      min(pmod(col("h") * lit(a) + lit(b), lit(P))).as(s"m$i")
    }
    sh.select(col("doc_id"), explode(col("sh")).as("h"))
      .groupBy("doc_id")
      .agg(aggs.head, aggs.tail: _*)
  }

  /** 8 band keys from the 32 signature columns. */
  private def bandCols: Column =
    array((0 until Bands).map { b =>
      xxhash64(array((0 until RowsPerBand).map(r =>
        col(s"m${b * RowsPerBand + r}")): _*))
    }: _*)

  /** Candidate near-dup pairs via LSH banding over a prepared shingle
    * frame. Buckets larger than `maxBucket` are dropped (recall
    * trade-off, see object doc).
    */
  def minhashCandidates(sh: DataFrame, maxBucket: Int): DataFrame =
    candidatesFromBands(bandFrame(sh), maxBucket)

  /** The (doc_id, band_idx, band_hash) banding index of a shingle
    * frame — factored out so a STANDING corpus's index can be stored
    * as an artifact and joined against per batch (qd54).
    */
  private[operators] def bandFrame(sh: DataFrame): DataFrame =
    minhashSignatures(sh)
      .select(col("doc_id"),
        posexplode(bandCols).as(Seq("band_idx", "band_hash")))

  /** [[bandFrame]] from raw (id, text) docs — the standing-index
    * artifact builder's entry point ([[refreshClusterLabels]]).
    */
  def bandIndex(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    bandFrame(shingleFrame(docs, idCol, textCol))

  /** Candidate pairs from a prebuilt band frame (the second half of
    * [[minhashCandidates]]).
    */
  private[operators] def candidatesFromBands(withBands: DataFrame,
                                             maxBucket: Int): DataFrame = {
    val buckets = withBands
      .groupBy("band_idx", "band_hash")
      .agg(collect_list("doc_id").as("ids"))
      .filter(size(col("ids")).between(2, maxBucket))
    buckets
      .select(explode(expr(
        """flatten(transform(ids, (x, i) ->
          |  transform(slice(ids, i + 2, size(ids)), y ->
          |    struct(least(x, y) AS a, greatest(x, y) AS b))))""".stripMargin))
        .as("p"))
      .select(col("p.a").as("doc_a"), col("p.b").as("doc_b"))
      .distinct()
  }

  /** LSH candidates verified with exact shingle-set Jaccard;
    * keeps pairs with jaccard >= threshold.
    */
  /** CONSTRUCTION-TIME EXECUTION (ADVICE r11): with the default
    * `materialize = true` this is NOT a pure builder — it runs full
    * Spark jobs (persist + eager localCheckpoint) before returning,
    * so a caller that builds but never consumes still pays the
    * compute, and execution failures surface at construction.
    * `materialize = false` skips both the persist and the eager
    * result checkpoint — the plan-inspection / composition mode
    * (PlanSpec pins the join/aggregate shape, which the checkpoint's
    * ExistingRDD scan would otherwise hide); executing in this mode
    * computes the shingle grain once per consumer.
    */
  def minhashNearDups(docs: DataFrame, idCol: String, textCol: String,
                      threshold: Double, maxBucket: Int = 64,
                      materialize: Boolean = true): DataFrame = {
    if (!materialize) {
      val sh = shingleFrame(docs, idCol, textCol)
      return jaccardOver(sh, minhashCandidates(sh, maxBucket))
        .filter(col("jaccard") >= threshold)
    }
    // Lifecycle (r11 refinement of the VERDICT r10 #7 fix): persist
    // the corpus-grain shingle frame for its two consumers (banding +
    // exact verify), EAGERLY materialize the pair-sized RESULT via
    // localCheckpoint, then unpersist before returning — the
    // [[refreshClusterLabels]] pattern. The r10 shape (localCheckpoint
    // on the SHINGLE grain) had no caller reap contract either, but
    // checkpointing the big intermediate instead of the small result
    // measured +0.5-0.7 s on qd6/qd13/qd16 (checkpoint blocks are
    // serialized RDD rows; persist serves the two consumers from the
    // deserialized columnar cache). This shape keeps persist's speed
    // AND leaks nothing: the returned frame's lineage reads only the
    // checkpointed pair blocks, which the ContextCleaner frees on GC.
    // Eager-materializing pairs also pre-pays work every consumer
    // (qd13/qd16's component rounds re-read pairs per round) repeats.
    val sh = shingleFrame(docs, idCol, textCol)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val out = jaccardOver(sh, minhashCandidates(sh, maxBucket))
      .filter(col("jaccard") >= threshold)
      .localCheckpoint()
    sh.unpersist(blocking = false)
    out
  }

  /** qd40 — incremental dedup: score a NEW batch of documents
    * against an EXISTING corpus and report, per batch doc, the
    * smallest corpus doc it near-duplicates (jaccard >= threshold),
    * or nothing. The shape every growing corpus actually runs — the
    * corpus was deduped yesterday, only batch-vs-corpus (and
    * batch-internal, handled by the usual qd1/qd6 pass) questions
    * remain; re-running all-pairs over corpus+batch would redo
    * yesterday's work quadratically.
    *
    * Scale shape: the same MinHash banding blocking as qd6 (equi-join
    * on (band_idx, band_hash), hot buckets capped, never all-pairs),
    * then the pair list is ORIENTED batch→corpus by two id-only
    * membership joins before the exact-jaccard verify, so only cross
    * pairs pay the shingle rejoin. In production the corpus side's
    * signatures are precomputed once and reused per batch — here both
    * sides derive from one frame, which is the same plan shape.
    *
    * Oracle parity: at threshold 0.9 the qd6 banding argument applies
    * verbatim (a >= 0.9 pair escapes 16 bands with vanishing
    * probability, verified exhaustively on the gate corpora), so the
    * exhaustive batch×corpus DuckDB join is the oracle.
    */
  /** CONSTRUCTION-TIME EXECUTION (ADVICE r11): with
    * `materialize = true` (default) this runs full Spark jobs before
    * returning — persist the shingle grain, eager-checkpoint the
    * batch-sized verdict, unpersist — so a caller that builds but
    * never consumes still pays the compute, and execution failures
    * surface at construction. Pass `materialize = false` for plan
    * inspection / conditional composition: pure-lazy, no persist, the
    * shingle grain recomputes once per consumer.
    */
  def incrementalDedup(docs: DataFrame, isCorpus: Column,
                       threshold: Double,
                       materialize: Boolean = true): DataFrame = {
    val shRaw = shingleFrame(docs, "doc_id", "text")
    val sh =
      if (materialize)
        shRaw.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      else shRaw
    val corpusIds = docs.where(isCorpus).select(col("doc_id"))
    val batchIds = docs.where(!isCorpus).select(col("doc_id"))
    // orient the CANDIDATE list batch→corpus BEFORE the exact verify:
    // the banding join also surfaces corpus×corpus and batch×batch
    // candidates, and jaccard-verifying those (the expensive shingle
    // rejoin + array intersections) would redo yesterday's dedup —
    // the id-only membership joins drop them while they are still
    // bare (doc_a, doc_b) pairs
    val cand = minhashCandidates(sh, maxBucket = 64)
    val oriented = cand
      .unionAll(cand.select(col("doc_b").as("doc_a"),
        col("doc_a").as("doc_b")))
      .join(batchIds.withColumnRenamed("doc_id", "doc_a"), "doc_a")
      .join(corpusIds.withColumnRenamed("doc_id", "doc_b"), "doc_b")
    val dupOf = jaccardOver(sh, oriented)
      .filter(col("jaccard") >= threshold)
      .groupBy(col("doc_a").as("doc_id"))
      .agg(min("doc_b").as("dup_of"))
    val outRaw = batchIds.join(dupOf, Seq("doc_id"), "left")
      .select(col("doc_id"), col("dup_of"),
        col("dup_of").isNotNull.as("is_dup"))
    if (!materialize) return outRaw.orderBy("doc_id")
    val out = outRaw.localCheckpoint()
    sh.unpersist(blocking = false)
    out.orderBy("doc_id")
  }

  /** Batch-vs-STANDING admission: [[incrementalDedup]]'s (qd40)
    * exact per-doc contract — smallest corpus doc each batch doc
    * near-duplicates at `threshold`, or nothing — re-expressed
    * against a stored corpus BAND INDEX (qd54's artifact) so the
    * corpus never re-minhashes: candidates come from ONE equi-join
    * of the batch's bands against the standing index, and corpus
    * shingles re-derive ONLY for the docs that actually banded with
    * the batch (the [[refreshClusterLabels]] cross-leg, including
    * its uncapped standing-side join — production caps hot
    * boilerplate bands at artifact-PUBLISH time, not per batch).
    *
    * Each output row depends only on (that doc, the corpus) — never
    * on other batch docs — so ANY split of a batch into micro-batches
    * unions to the same result. That order-free argument is what lets
    * the qs39 streaming gate run this per arriving file and inherit
    * qd40's exhaustive DuckDB oracle verbatim.
    */
  /** CONSTRUCTION-TIME EXECUTION (ADVICE r11): with
    * `materialize = true` (default) this runs full Spark jobs before
    * returning — same lifecycle as [[minhashNearDups]]: persist the
    * batch shingle grain for its two consumers (banding + exact
    * verify), eager-checkpoint the candidate list and the batch-sized
    * verdict, unpersist. Pass `materialize = false` for plan
    * inspection / composition: pure-lazy, each intermediate recomputes
    * per consumer.
    */
  def admitAgainst(corpusDocs: DataFrame, corpusBands: DataFrame,
                   batchDocs: DataFrame, threshold: Double,
                   materialize: Boolean = true): DataFrame = {
    val batchShRaw = shingleFrame(batchDocs, "doc_id", "text")
    val batchSh =
      if (materialize)
        batchShRaw
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      else batchShRaw
    // cross feeds TWO consumers (the corpus-candidate semi-join and
    // the verify's pair list); without materialization each one
    // re-runs the batch MinHash shuffle + the standing-index join.
    // Pair-sized — eager checkpoint, the usual small-result move.
    // (Round 18, measured and kept: merging the checkpoint job with
    // the guard's count() via persist+count ran SLOWER per batch —
    // 0.55-0.64 s vs 0.43-0.47 s, OPTIMIZATION_r18.md — the columnar
    // cache build on a flat pair grain costs more than the saved job
    // barrier, the round-11 flat-grain rule. The checkpoint stays.)
    // Batch-derived sides carry EXPLICIT broadcast hints (round 17,
    // guide §3.1 — the editAdmission note): the qs39/qs46 drains hand
    // this a stats-free foreachBatch frame, and without the hints the
    // planner shuffle-joined the STANDING band index against the
    // batch bands once per micro-batch. The corpus side is only ever
    // streamed; results are unchanged (join strategy only).
    val crossRaw = broadcast(bandFrame(batchSh))
      .join(corpusBands.withColumnRenamed("doc_id", "doc_b"),
        Seq("band_idx", "band_hash"))
      .select(col("doc_id").as("doc_a"), col("doc_b"))
      .distinct() // a pair sharing k bands verifies once, not k times
    val cross = if (materialize) crossRaw.localCheckpoint() else crossRaw
    // Scale guard (VERDICT r17 #3): unlike the three batch-grain
    // frames, `cross` is the band-COLLISION pair set — bounded by
    // |batch| × corpus-side bucket fanout, not by |batch|, so a
    // boilerplate-heavy corpus whose band index is not hot-capped
    // could inflate it past the 8 GB broadcast limit. In the drain
    // path it is already eagerly checkpointed, so its block bytes are
    // a FREE driver-side status read (no per-batch job — a count()
    // here measured qs39 +8-10%); past the cap the pair-set hints
    // drop and those joins degrade to shuffles of the batch-bounded
    // sides only — the corpus stays stream-side either way. Missing
    // storage info (never observed for an eager checkpoint) defaults
    // to hinting — the declared small-batch shape. The plan-inspection
    // path (materialize = false) keeps the unconditional hints: it
    // exists to pin the small-batch drain shape.
    val crossIsSmall = !materialize ||
      checkpointedBytes(cross).forall(_ <= AdmitBroadcastByteCap)
    def hintIfSmall(df: DataFrame): DataFrame =
      if (crossIsSmall) broadcast(df) else df
    val candCorpusIds = cross.select(col("doc_b").as("doc_id")).distinct()
    val corpusSh = shingleFrame(
      corpusDocs.join(hintIfSmall(candCorpusIds), Seq("doc_id"), "left_semi"),
      "doc_id", "text")
    val dupOf = jaccardOver(batchSh.unionAll(corpusSh), hintIfSmall(cross))
      .filter(col("jaccard") >= threshold)
      .groupBy(col("doc_a").as("doc_id"))
      .agg(min("doc_b").as("dup_of"))
    val outRaw = batchDocs.select("doc_id")
      .join(broadcast(dupOf), Seq("doc_id"), "left")
      .select(col("doc_id"), col("dup_of"),
        col("dup_of").isNotNull.as("is_dup"))
    if (!materialize) return outRaw
    val out = outRaw.localCheckpoint()
    batchSh.unpersist(blocking = false)
    // release the pair set's checkpoint blocks NOW (the ADVICE r17 #4
    // lifecycle): `out` is the only thing that survives this call
    unpersistCheckpointed(cross)
    out
  }

  /** qd54 — incremental cluster-label REFRESH: fold a new batch into
    * a STANDING duplicate-cluster label table (qd13's components,
    * stored as the `dup_labels` artifact) without re-clustering the
    * corpus — the growing-corpus production shape VERDICT r9 #5 asked
    * for. qd40 answers "which corpus doc does each batch doc
    * duplicate"; this goes the rest of the way and emits the full
    * post-ingest label table: batch docs joined into existing
    * clusters, batch-internal components given new labels, and —
    * the case a naive append misses — existing clusters MERGED when
    * one batch doc bridges two of them.
    *
    * Algorithm (contraction): corpus↔corpus edges are already folded
    * into `standing`, so each endpoint of a new edge that lands in
    * the corpus is CONTRACTED to its standing cluster label, and
    * connected components run over the graph whose nodes are {batch
    * doc ids} ∪ {touched cluster labels} — O(batch + touched
    * clusters) work, INDEPENDENT of corpus size, vs the full
    * rebuild's O(corpus) per round. Correctness: components of
    * G_corpus ∪ E_new equal components of contract(G_corpus) ∪
    * contract(E_new) (quotient-graph connectivity), and because a
    * standing label IS the min doc id of its cluster, the contracted
    * component's min node id equals the rebuild's min doc id — labels
    * match the full rebuild exactly, which is why qd54 can reuse
    * qd13's recursive-CTE oracle verbatim.
    *
    * At 100 TB: the standing label table and the corpus MinHash
    * signatures live as stored artifacts; the per-batch job computes
    * batch signatures, joins them against the standing banding index
    * (never corpus×corpus again), runs this contraction, APPENDS the
    * batch labels and writes the (tiny) touched-cluster relabel map —
    * yesterday's work is never redone. The MinHash/banding compute in
    * the refresh therefore touches ONLY batch text: the corpus
    * appears as (a) its stored band index and (b) a shingle re-derive
    * of just the docs that actually banded with the batch — at a
    * realistic batch fraction the refresh costs a small fraction of
    * the rebuild, and the gap widens linearly with corpus/batch.
    *
    * Determinism caveat: banding candidates are per-bucket order-free,
    * but the `maxBucket` hot-bucket cap could in principle admit a
    * slightly different pair set than the rebuild's combined-bucket
    * cap once buckets run near capacity — same documented trade as
    * qd6/qd40 (gate corpora sit far under the cap; the exact-jaccard
    * verify bounds any divergence to banding-admission, never scores).
    */
  def refreshClusterLabels(standing: DataFrame, corpusBands: DataFrame,
                           docs: DataFrame, isCorpus: Column,
                           threshold: Double,
                           maxBucket: Int = 64): DataFrame = {
    val batchDocs = docs.where(!isCorpus)
    val batchSh = shingleFrame(batchDocs, "doc_id", "text")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // TWO consumers of the batch band frame (cross join + batch
    // banding) — materialize it once; it is batch-sized (8 rows/doc)
    val batchBands = bandFrame(batchSh)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // batch↔corpus candidates: equi-join the batch bands against the
    // STANDING index — the corpus never re-minhashes
    val cross = batchBands
      .join(corpusBands.withColumnRenamed("doc_id", "doc_b"),
        Seq("band_idx", "band_hash"))
      .select(col("doc_id").as("doc_a"), col("doc_b"))
    // batch↔batch candidates: the usual banding, batch-only
    val within = candidatesFromBands(batchBands, maxBucket)
    // exact-jaccard verify: shingles exist for the batch already; the
    // corpus side re-derives ONLY the docs that banded with the batch
    val candCorpusIds = cross.select(col("doc_b").as("doc_id")).distinct()
    val corpusSh = shingleFrame(
      docs.where(isCorpus).join(candCorpusIds, Seq("doc_id"), "left_semi"),
      "doc_id", "text")
    val edges = jaccardOver(batchSh.union(corpusSh),
        cross.union(within).distinct())
      .filter(col("jaccard") >= threshold)
      .select("doc_a", "doc_b")
    val out = refreshLabelsOn(standing, batchDocs.select("doc_id"), edges)
    // refreshLabelsOn checkpoints the contracted edges and runs the
    // component rounds eagerly, so the batch-side persists are already
    // consumed — release them here rather than leaking to the caller
    // (the returned frame's lineage reads only the checkpointed
    // component labels, the standing artifact, and the docs scan)
    batchBands.unpersist(blocking = false)
    batchSh.unpersist(blocking = false)
    out
  }

  /** Contraction core of [[refreshClusterLabels]] over an explicit
    * verified edge list (every edge touches >= 1 batch doc) — the
    * spec entry point for merge/bridge/singleton geometry. `standing`
    * must cover every corpus doc (qd13 labels singletons too) and
    * batch ids must be disjoint from corpus ids.
    */
  def refreshLabelsOn(standing: DataFrame, batchIds: DataFrame,
                      edges: DataFrame): DataFrame = {
    // contract corpus endpoints to their standing cluster label;
    // batch endpoints (absent from `standing`) keep their own id.
    // Cluster labels are corpus doc ids and the id spaces are
    // disjoint, so contracted node ids stay unambiguous.
    // localCheckpoint: the contracted edge list fans out to FOUR
    // consumers (both node-side selects, the star algorithm's
    // symmetrized edge union) — without materialization each
    // reference re-runs the entire upstream banding + jaccard-verify
    // pipeline (measured ~1 s × 4 at sf0.1). The frame is batch-scale
    // tiny, so eager materialization costs one small job.
    val cEdges = edges
      .join(standing.select(col("doc_id").as("doc_a"),
        col("cluster").as("na")), Seq("doc_a"), "left")
      .join(standing.select(col("doc_id").as("doc_b"),
        col("cluster").as("nb")), Seq("doc_b"), "left")
      .select(coalesce(col("na"), col("doc_a")).as("doc_a"),
        coalesce(col("nb"), col("doc_b")).as("doc_b"))
      .filter(col("doc_a") =!= col("doc_b"))
      .localCheckpoint()
    // nodes: every batch doc (so batch singletons self-label) plus
    // every TOUCHED standing cluster (untouched clusters never enter
    // the component computation at all — the scale win)
    val nodes = batchIds.select(col("doc_id").as("id"))
      .union(cEdges.select(col("doc_a").as("id")))
      .union(cEdges.select(col("doc_b").as("id")))
      .distinct()
    // min-label propagation, not the star rounds: contracted
    // components are shallow (batch docs fanning into cluster
    // super-nodes — diameter rarely above 3), so min-label converges
    // in diameter+1 driver-synchronized rounds, and at the contracted
    // graph's size the ROUND COUNT is the entire cost (measured: the
    // star variant's extra rounds doubled qd54's components phase)
    val comp = dupClusters(nodes, cEdges, "id")
      .withColumnRenamed("cluster", "cluster_new")
    // comp is itself checkpointed (lineage truncated), so the
    // contracted edges have no remaining consumer — release their
    // blocks NOW instead of leaving them for ContextCleaner
    // (VERDICT r11 #2: the retained per-run blocks are exactly what
    // a long-lived bench JVM — or a long-lived cluster — accumulates)
    unpersistCheckpointed(cEdges)
    // relabel map for merged standing clusters: contracted nodes that
    // are NOT batch docs are old cluster labels
    val relabel = comp
      .join(batchIds.select(col("doc_id").as("id")), Seq("id"), "left_anti")
      .select(col("id").as("cluster"), col("cluster_new"))
    val corpusOut = standing
      .join(relabel, Seq("cluster"), "left")
      .select(col("doc_id"),
        coalesce(col("cluster_new"), col("cluster")).as("cluster"))
    val batchOut = comp
      .join(batchIds.select(col("doc_id").as("id")), Seq("id"), "left_semi")
      .select(col("id").as("doc_id"), col("cluster_new").as("cluster"))
    corpusOut.union(batchOut).orderBy("doc_id")
  }

  /** The standing duplicate-cluster index a growing corpus carries
    * between batches: the label table ([[refreshClusterLabels]]'s
    * output shape) plus the MinHash band index the NEXT batch joins
    * against. Both are corpus-grain derived tables — the
    * ArtifactStore tier in production.
    */
  final case class StandingIndex(labels: DataFrame, bands: DataFrame)

  /** The refresh loop's PUBLISH step (VERDICT r10 #3 — the last step
    * of the production arrival path): fold a batch into the standing
    * index and emit the NEXT generation — refreshed labels plus the
    * band index extended with the batch's bands, so batch N+1 joins
    * against batch N's output and corpus text is never re-minhashed.
    * Chaining is exactly the growing-corpus loop:
    * `publish(publish(idx, b1), b2).labels ≡ rebuild(corpus∪b1∪b2)`
    * (Round11OpsSpec pins it, through a parquet roundtrip between the
    * generations — the durability seam production crosses).
    *
    * The appended band frame is a UNION, not a recompute: batch bands
    * are batch-sized (8 rows/doc), so each generation's index costs
    * O(batch) to extend — the same asymptotic contract as the label
    * refresh itself.
    */
  def publishRefresh(standing: StandingIndex, docs: DataFrame,
                     isCorpus: Column, threshold: Double,
                     maxBucket: Int = 64): StandingIndex =
    StandingIndex(
      refreshClusterLabels(standing.labels, standing.bands, docs,
        isCorpus, threshold, maxBucket),
      standing.bands.union(bandIndex(docs.where(!isCorpus),
        "doc_id", "text")))

  /** qd41 — gram-containment pairs: directed `|A∩B| / |A|` over the
    * distinct word 3-gram sets, reported where containment >=
    * `threshold`. The ASYMMETRIC dedup signal Jaccard structurally
    * misses: a short document wholly quoted inside a much longer one
    * has near-zero Jaccard (union is huge) but containment ~1 — the
    * quote-expansion / boilerplate-embedding case a curation pass
    * needs surfaced. (This is why the substring-dedup literature
    * scores containment, not Jaccard, for asymmetric sizes.)
    *
    * Scale shape: gram-KEYED equi-join (pairs exist only where a gram
    * is shared — never all-pairs), one (doc_a, doc_b) count
    * aggregate, per-doc gram counts joined back. Fanout is
    * Σ_g df(g)² — bounded when grams are discriminative (gate corpus:
    * 2.8M pairs, hottest df 25), QUADRATIC in one boilerplate gram
    * otherwise (df 10⁶ ⇒ 10¹² pairs from a single key), so the pair
    * explode is df-CAPPED: grams in more than `maxDf` documents are
    * dropped from candidate generation (the [[minhashCandidates]]
    * maxBucket / qd30 hot-span move). The per-doc denominator
    * `grams_a` stays EXACT (computed over all grams), which makes
    * capped containment a strict LOWER bound on true containment —
    * the cap can only miss pairs whose entire overlap is df-saturated
    * boilerplate, never report an inflated score (ContainmentCapSpec
    * pins both properties). Default 4096 caps any gram's fanout at
    * ~1.7e7 pairs and is 160× the gate corpus's hottest gram, so the
    * declared qd41 config is unaffected and keeps its exact oracle.
    * For a corpus where even one gram's 8-byte×df id list strains an
    * executor (df ≳ 10⁸), swap the post-aggregate filter for a
    * count-prepass + anti-join before the collect.
    */
  def containmentPairs(docs: DataFrame, idCol: String, textCol: String,
                       threshold: Double,
                       maxDf: Int = 4096): DataFrame = {
    val g = gramsRelational(docs, idCol, textCol)
    // Shuffle the 64-bit gram hash, not the string: the corpus-scale
    // exchange carries 8-byte keys and the pair rows no gram payload.
    // An xxhash64 collision would merge two distinct grams' doc lists
    // — p ~ (distinct grams)^2 / 2^65, ~1e-10 on the gate corpus, the
    // qd6 documented-caveat class; the string-exact join is the
    // drop-in replacement if a corpus ever makes that material.
    // Shape: ONE per-gram aggregate; both consumers (ordered-pair
    // explode AND per-doc gram counts) re-derive from it, so the
    // tokenize+aggregate corpus subtree executes once via exchange
    // reuse (the qd37 pattern, PlanSpec-pinned).
    val gh = g.select(col("doc_id"), xxhash64(col("g")).as("gh"))
    val byGram = gh.groupBy("gh").agg(collect_list("doc_id").as("ids"))
    val shared = byGram
      // hot-gram cap: df-saturated (boilerplate) grams never reach
      // the quadratic explode; the size branch below stays UNfiltered
      // so denominators are exact and capped containment is a strict
      // lower bound
      .filter(size(col("ids")) <= maxDf)
      .select(explode(col("ids")).as("doc_a"), col("ids"))
      .select(col("doc_a"), explode(col("ids")).as("doc_b"))
      .filter(col("doc_a") =!= col("doc_b"))
      .groupBy("doc_a", "doc_b")
      .agg(count(lit(1)).as("shared"))
    val sizes = byGram
      .select(explode(col("ids")).as("doc_a"))
      .groupBy("doc_a")
      .agg(count(lit(1)).as("grams_a"))
    shared
      .join(sizes, "doc_a")
      .withColumn("containment",
        col("shared").cast("double") / col("grams_a").cast("double"))
      .filter(col("containment") >= threshold)
      .select("doc_a", "doc_b", "grams_a", "shared", "containment")
      .orderBy("doc_a", "doc_b")
  }

  /** Exact n-gram Jaccard of each (doc_a, doc_b) pair over a
    * [[shingleFrame]] — the verify step, for candidates from any
    * blocking scheme.
    */
  private[operators] def jaccardOver(sh: DataFrame, pairs: DataFrame): DataFrame =
    pairs
      .join(sh.select(col("doc_id").as("doc_a"), col("sh").as("sh_a")), "doc_a")
      .join(sh.select(col("doc_id").as("doc_b"), col("sh").as("sh_b")), "doc_b")
      .withColumn("jaccard",
        size(array_intersect(col("sh_a"), col("sh_b"))).cast("double") /
          size(array_union(col("sh_a"), col("sh_b"))).cast("double"))
      .select("doc_a", "doc_b", "jaccard")

  // ---- duplicate clustering --------------------------------------

  /** Connected components over a near-dup pair graph: every node gets
    * `cluster` = the smallest doc id reachable through pair edges
    * (singletons label themselves). The step a real dedup pipeline
    * runs AFTER pair finding — pairs (a,b),(b,c) must collapse to ONE
    * kept representative, not two independent drops.
    *
    * Algorithm: iterative min-label propagation. Each round joins the
    * current labels across the (symmetrized) edge set and takes the
    * min of self and all neighbors; converged when no label changes.
    * Rounds needed = graph diameter (near-dup components are tiny
    * cliques — 2-3 rounds in practice); the loop is driver-side but
    * each round is one distributed join+agg, the standard
    * label-propagation shape.
    *
    * Every round `localCheckpoint`s its result: WITHOUT lineage
    * truncation the union-join plan doubles per round and the plan
    * tree alone OOMs the driver past ~10 rounds (hit in spec, not
    * hypothetically). A cluster deployment with executor loss
    * concerns would use reliable `checkpoint` to HDFS instead, and
    * [[dupClustersStar]] if components can be adversarially long
    * (min-label needs diameter-many rounds; the star variant O(log n)).
    *
    * `maxRounds` bounds the loop (throws rather than silently
    * mislabeling if the graph is deeper than expected).
    */
  def dupClusters(nodes: DataFrame, pairs: DataFrame, idCol: String,
                  maxRounds: Int = 20): DataFrame = {
    val edges = pairs.select(col("doc_a").as("src"), col("doc_b").as("dst"))
      .union(pairs.select(col("doc_b").as("src"), col("doc_a").as("dst")))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    var labels = nodes.select(col(idCol).as("id"), col(idCol).as("cluster"))
      .localCheckpoint()
    var round = 0
    var changed = 1L
    while (changed > 0) {
      round += 1
      require(round <= maxRounds,
        s"dupClusters did not converge in $maxRounds rounds")
      // min over self and neighbors' labels, one shuffle per round;
      // localCheckpoint truncates the per-round lineage (see scaladoc).
      // The previous label rides along flagged `own` so the
      // convergence count is an observe() metric on the SAME job that
      // materializes the checkpoint — one job per round, not two.
      val viaEdges = edges
        .join(labels.select(col("id").as("dst"), col("cluster")), "dst")
        .select(col("src").as("id"), col("cluster"), lit(0).as("own"))
      val obs = org.apache.spark.sql.Observation()
      val next = labels
        .select(col("id"), col("cluster"), lit(1).as("own"))
        .union(viaEdges)
        .groupBy("id")
        .agg(min(col("cluster")).as("cluster"),
          // every id has exactly one own=1 row: its previous label
          max(when(col("own") === 1, col("cluster"))).as("prev"))
        .observe(obs,
          sum(when(col("cluster") =!= col("prev"), 1L).otherwise(0L))
            .as("changed"))
        .select(col("id"), col("cluster"))
        .localCheckpoint()
      changed = obs.get("changed").asInstanceOf[Long]
      // next is already materialized (eager checkpoint), so the
      // previous round's blocks can be released. A localCheckpoint-ed
      // Dataset's blocks are RDD-level persisted — Dataset.unpersist()
      // routes through the CacheManager, which never saw them, and is
      // a no-op (ADVICE r5) — so free the underlying RDD directly.
      unpersistCheckpointed(labels)
      labels = next
    }
    edges.unpersist()
    labels
  }

  /** RDD-level unpersist for a `localCheckpoint`-ed frame: the
    * checkpoint persists the physical RDD without registering it with
    * the CacheManager, so `Dataset.unpersist()` cannot find it — match
    * the LogicalRDD leaf and drop its blocks directly.
    */
  private[graft] def unpersistCheckpointed(df: DataFrame): Unit =
    df.queryExecution.logical match {
      case lr: org.apache.spark.sql.execution.LogicalRDD =>
        lr.rdd.unpersist(blocking = false)
      case _ => ()
    }

  /** [[dupClusters]] with the alternating large-star/small-star
    * algorithm (Kiveris et al., "Connected Components in MapReduce
    * and Beyond"): same API, same output, O(log n) rounds on ANY
    * graph — the upgrade for adversarial diameters, where min-label
    * propagation needs diameter-many rounds (a 100-node chain:
    * 7 star rounds vs 99 label rounds; pinned in DedupSpec).
    * Use [[dupClusters]] for clique-like duplicate components (fewer,
    * cheaper rounds); this for graphs whose shape you cannot bound.
    */
  def dupClustersStar(nodes: DataFrame, pairs: DataFrame, idCol: String,
                      maxRounds: Int = 30): DataFrame =
    starComponents(nodes, pairs, idCol, maxRounds)._1

  /** [[dupClustersStar]] plus the round count (spec introspection). */
  private[graft] def starComponents(nodes: DataFrame, pairs: DataFrame,
                                    idCol: String, maxRounds: Int)
      : (DataFrame, Int) = {
    import org.apache.spark.sql.DataFrame
    // large-star: every node u links its LARGER neighbors to the min
    // of its (symmetrized) neighborhood — long chains fold toward
    // their minimum from every node at once, halving height per round
    def largeStar(e: DataFrame): DataFrame = {
      val sym = e.union(e.select(col("dst").as("src"), col("src").as("dst")))
      val mins = sym.groupBy("src").agg(min(col("dst")).as("_mn"))
        .select(col("src"), least(col("_mn"), col("src")).as("_m"))
      sym.join(mins, "src")
        .where(col("dst") > col("src"))
        .select(col("dst").as("src"), col("_m").as("dst"))
        .distinct()
    }
    // small-star: orient larger -> smaller, then point u and all its
    // smaller neighbors at the neighborhood min
    def smallStar(e: DataFrame): DataFrame = {
      val oriented = e.select(greatest(col("src"), col("dst")).as("src"),
          least(col("src"), col("dst")).as("dst"))
        .where(col("src") =!= col("dst"))
      val j = oriented.join(
        oriented.groupBy("src").agg(min(col("dst")).as("_m")), "src")
      j.select(col("dst").as("src"), col("_m").as("dst"))
        .union(j.select(col("src"), col("_m").as("dst")))
        .where(col("src") =!= col("dst"))
        .distinct()
    }
    // (count, hash-sum) edge-set signature; a changed set colliding
    // on both is ~2^-64 — accepted (documented) in exchange for not
    // diffing full sets per round. The sum runs in DECIMAL(38,0):
    // ANSI mode is on, and a long sum of 64-bit hashes overflows (the
    // repo's standing hash-arithmetic rule). The signature rides an
    // observe() on the SAME job that materializes each round's
    // localCheckpoint (the dupClusters convergence pattern, round 13:
    // the separate sig() agg cost one extra full-edge-set job per
    // round — measured ~0.4 s of qd16's sf0.1 floor).
    val dec = org.apache.spark.sql.types.DecimalType(38, 0)
    def withSig(e: DataFrame)
        : (DataFrame, org.apache.spark.sql.Observation) = {
      val obs = org.apache.spark.sql.Observation()
      (e.observe(obs, count(lit(1)).as("n"),
        coalesce(sum(xxhash64(col("src"), col("dst")).cast(dec)),
          lit(0).cast(dec)).as("h")), obs)
    }
    def sigOf(obs: org.apache.spark.sql.Observation): (Long, String) = {
      val m = obs.get
      (m("n").asInstanceOf[Long],
        m("h").asInstanceOf[java.math.BigDecimal].toPlainString)
    }
    val (e0, obs0) = withSig(pairs
      .select(col("doc_a").cast("long").as("src"),
        col("doc_b").cast("long").as("dst"))
      .where(col("src") =!= col("dst"))
      .distinct())
    var edges = e0.localCheckpoint()
    var prev = sigOf(obs0)
    var round = 0
    var done = prev._1 == 0L // no edges: all singletons, skip the loop
    while (!done) {
      round += 1
      require(round <= maxRounds,
        s"dupClustersStar did not converge in $maxRounds rounds")
      // localCheckpoint per round: identical lineage-OOM trade to
      // dupClusters (see its scaladoc); previous round's blocks are
      // freed RDD-level below
      val (nxt, obs) = withSig(smallStar(largeStar(edges)))
      val next = nxt.localCheckpoint()
      val cur = sigOf(obs)
      done = cur == prev
      prev = cur
      unpersistCheckpointed(edges)
      edges = next
    }
    // fixpoint edge set IS the star {(v, componentMin) | v != min}:
    // left-join it onto the node spine; mins and singletons label
    // themselves (min-agg guards the pre-convergence-collision case).
    // The final checkpointed edge blocks back the RETURNED frame, so
    // they cannot be freed here — cleanup defers to the
    // ContextCleaner once the caller drops the result (same contract
    // as dupClusters' final labels checkpoint)
    val labels = nodes.select(col(idCol).as("id"))
      .join(edges.select(col("src").as("id"), col("dst").as("_c")),
        Seq("id"), "left")
      .groupBy("id")
      .agg(min(col("_c")).as("_c"))
      .select(col("id"), coalesce(col("_c"), col("id")).as("cluster"))
    (labels, round)
  }

  /** Keep one representative per duplicate cluster (the smallest id),
    * preserving every column of `docs` — the materialization step
    * after [[dupClusters]].
    */
  def dedupByCluster(docs: DataFrame, clusters: DataFrame,
                     idCol: String): DataFrame =
    docs.join(clusters.filter(col("id") === col("cluster"))
        .select(col("id").as(idCol)), idCol)

  // ---- SimHash ----------------------------------------------------

  /** (id, simhash) frame: 64-bit SimHash over word-token xxhash64
    * values as explode + 64 codegen'd sum aggregates (one shuffle,
    * partial aggregation collapses map-side to 64 longs per doc per
    * mapper — the same scalable shape as [[minhashSignatures]]).
    *
    * An earlier array-HOF formulation (fold tokens into a 64-counter
    * array, then pack bits in a second projection) was 64x slower:
    * CollapseProject inlines a once-referenced alias into the
    * consuming lambda, so the full counter fold re-evaluated per bit
    * — and interpreted, since HOF lambdas never reach codegen.
    * Aggregates are the idiomatic Spark answer: whole-stage codegen,
    * map-side combine, no lambda evaluation at all.
    *
    * Docs with zero tokens keep a row (explode_outer) and hash to 0L
    * (every bit counter stays 0, and 0 is not > 0).
    */
  def simhashFrame(df: DataFrame, idCol: String, textCol: String,
                   out: String): DataFrame = {
    val sums = (0 until 64).map { i =>
      sum(expr("CASE WHEN _h IS NULL THEN 0 " +
        s"WHEN ((_h >> $i) & 1) = 1 THEN 1 ELSE -1 END")).as(s"_c$i")
    }
    val pack = (0 until 64).map { i =>
      expr(s"IF(_c$i > 0, shiftleft(1L, $i), 0L)")
    }.reduce(_ + _)
    df.select(col(idCol), explode_outer(tokens(col(textCol))).as("_t"))
      .select(col(idCol),
        when(col("_t").isNotNull, xxhash64(col("_t"))).as("_h"))
      .groupBy(idCol)
      .agg(sums.head, sums.tail: _*)
      .select(col(idCol), pack.as(out))
  }

  /** Portable 31-bit SimHash: identical construction to
    * [[simhashFrame]] but the per-token hash is the rolling 31-poly
    * fingerprint ([[graft.functions.DocFingerprint]], codegen'd)
    * instead of xxhash64 — every ingredient has an exact DuckDB
    * mirror (list_reduce over codepoints, bit tests, sign sums), so
    * the value is driver-verifiable end to end. Production keeps the
    * 64-bit xxhash64 variant (twice the bits for the same Hamming
    * budget); SimhashPortableSpec proves the two variants rank
    * document similarity identically.
    *
    * Token hashes are 31-bit, so bits 0..30 carry signal and the
    * packed value fits in an int-range long. Zero-token docs hash to
    * 0 (explode_outer keeps the row; all counters stay 0).
    */
  def simhashPortableFrame(df: DataFrame, idCol: String, textCol: String,
                           out: String): DataFrame = {
    val sums = (0 until 31).map { i =>
      sum(expr("CASE WHEN _h IS NULL THEN 0 " +
        s"WHEN ((_h >> $i) & 1) = 1 THEN 1 ELSE -1 END")).as(s"_c$i")
    }
    val pack = (0 until 31).map { i =>
      expr(s"IF(_c$i > 0, ${1L << i}L, 0L)")
    }.reduce(_ + _)
    df.select(col(idCol), explode_outer(tokens(col(textCol))).as("_t"))
      .select(col(idCol),
        when(col("_t").isNotNull,
          graft.functions.DocFingerprint.of(col("_t"))).as("_h"))
      .groupBy(idCol)
      .agg(sums.head, sums.tail: _*)
      .select(col(idCol), pack.as(out))
  }

  /** Attach the SimHash column to `df`, preserving all its columns
    * (an id-keyed join against [[simhashFrame]]).
    */
  def withSimhash(df: DataFrame, idCol: String, textCol: String,
                  out: String): DataFrame =
    df.join(simhashFrame(df, idCol, textCol, out), Seq(idCol))

  /** SimHash pairs within `maxDist` Hamming distance, using the
    * 4×16-bit pigeonhole: any pair at distance <= 3 shares at least
    * one exact 16-bit chunk, so chunk-equality is a lossless blocking
    * key for maxDist <= 3.
    */
  def simhashNearDups(docs: DataFrame, idCol: String, textCol: String,
                      maxDist: Int = 3): DataFrame = {
    require(maxDist <= 3, "4-chunk pigeonhole only covers maxDist <= 3")
    val sh = simhashFrame(
      docs.select(col(idCol).as("id"), col(textCol).as("_text")),
      "id", "_text", "simhash")
    val chunked = sh.select(col("id"), col("simhash"),
      posexplode(expr(
        "transform(sequence(0, 3), c -> (simhash >> (c * 16)) & 65535)"))
        .as(Seq("chunk_idx", "chunk_val")))
    val a = chunked.select(col("id").as("doc_a"),
      col("simhash").as("sh_a"), col("chunk_idx"), col("chunk_val"))
    val b = chunked.select(col("id").as("doc_b"),
      col("simhash").as("sh_b"), col("chunk_idx"), col("chunk_val"))
    a.join(b, Seq("chunk_idx", "chunk_val"))
      .filter(col("doc_a") < col("doc_b"))
      .select(col("doc_a"), col("doc_b"),
        expr("bit_count(sh_a ^ sh_b)").as("hamming"))
      .distinct()
      .filter(col("hamming") <= maxDist)
  }

  /** qd29 — sub-document (chunk-level) deduplication with document
    * reassembly: slice every document into fixed non-overlapping
    * chunks, keep only the corpus-wide FIRST occurrence of each
    * distinct chunk text (ordered by (doc_id, chunk_idx) — the same
    * keep-first contract as [[dedupExact]]), and rebuild each document
    * from its surviving chunks in order. This is the paragraph-dedup
    * shape (RefinedWeb/CCNet run it between exact and fuzzy dedup) on
    * a corpus whose documents have no paragraph breaks — the unit is
    * a fixed slice instead of a newline block, the machinery is
    * identical.
    *
    * Scale shape: the chunk explode is map-only ([[TextPrep.chunk]]);
    * first-occurrence selection is ONE shuffle — a row_number window
    * partitioned by (xxhash64(chunk), chunk) so the sort compares
    * 8-byte longs first (qd1's trick) and WindowGroupLimit prunes
    * losers map-side; reassembly re-shuffles only the SURVIVING
    * chunks to their documents. Nothing is ever all-pairs, and no
    * stage holds more than one chunk per row. The in-aggregate
    * array_sort/transform runs per document over its own ≤ dozens of
    * chunks — interpreted HOF, but on group-sized arrays, not corpus
    * rows.
    */
  def chunkDedup(docs: DataFrame, idCol: String, textCol: String,
                 size: Int): DataFrame = {
    val chunks = TextPrep.chunk(docs, idCol, textCol, size, size)
    val first = Window
      .partitionBy(xxhash64(col("chunk_text")), col("chunk_text"))
      .orderBy(idCol, "chunk_idx")
    val kept = chunks
      .withColumn("rn", row_number().over(first))
      .where(col("rn") === 1)
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_kept"),
        collect_list(struct(col("chunk_idx"), col("chunk_text"))).as("cl"))
      .withColumn("sorted", array_sort(col("cl")))
      .withColumn("dedup_text",
        array_join(transform(col("sorted"), c => c("chunk_text")), ""))
    docs.select(col(idCol))
      .join(kept, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("dedup_text"), lit("")).as("dedup_text"),
        coalesce(col("n_kept"), lit(0L)).cast("int").as("n_chunks_kept"))
      .orderBy(idCol)
  }

  /** The qd29 declared form: 120-char chunks over `documents` (the
    * gate corpus' planted near-duplicates share aligned chunks, so
    * the keep-first rule is value-bearing — 48 chunks drop at
    * sf0.01).
    */
  def chunkDedupQuery(s: SparkSession, dir: String): DataFrame =
    chunkDedup(graft.core.Tables.documents(s, dir), "doc_id", "text",
      size = 120)

  /** qd53 — EXACT repeated-span (substring-grain) deduplication, the
    * Lee et al. "Deduplicating Training Data Makes Language Models
    * Better" ExactSubstr move re-expressed on gram anchors: any
    * ≥ `k`-token span that occurs at more than one (doc, pos) site —
    * across documents OR repeated within one — is deduplicated by
    * keeping the corpus-wide FIRST occurrence (ordered by (doc_id,
    * pos), the same keep-first contract as qd1/qd29) and cutting
    * every token covered by a later occurrence; each document is
    * rebuilt from its surviving tokens. This is the form of
    * duplication that survives both whole-document dedup (qd1) and
    * aligned-chunk dedup (qd29): a long verbatim quote at a DIFFERENT
    * offset in each host document.
    *
    * Gram anchoring gives exact ≥k-span semantics without a suffix
    * array: a repeated span of length L ≥ k is covered by L-k+1
    * duplicated k-grams whose covered-position union is exactly the
    * span, so maximal repeated extents come out as islands of
    * consecutive covered positions (counted per doc in `n_spans`).
    * Overlapping different-span removals can interact — a span's
    * keep-first site may itself lose tokens to ANOTHER span's
    * removal — which matches the reference algorithm's behavior (it
    * removes arbitrary members of each duplicate pair, with the same
    * no-guarantee on interleaved overlaps).
    *
    * Scale shape: tokens explode map-only; grams derive via k-1
    * `lead`s sharing ONE per-doc window sort (the relational form —
    * interpreted string-building lambdas lose, see [[gramStrings]]'
    * trap note); duplicate-site detection is ONE shuffle — a
    * row_number window partitioned by (xxhash64(gram), gram) so the
    * exchange+sort compare 8-byte longs first (qd1's trick) and the
    * gram string rides only to its own partition; coverage explodes
    * ≤ k rows per duplicate SITE (not per gram); the rebuild joins
    * covered positions back on (doc_id, pos) and aggregates per doc.
    * Nothing is all-pairs: cost is linear in token count plus
    * k × (duplicate sites). At 100 TB the gram shuffle dominates —
    * exactly the distributed-suffix-array replacement production
    * dedup pipelines run.
    */
  def spanDedup(docs: DataFrame, idCol: String, textCol: String,
                k: Int): DataFrame = {
    require(k >= 2, s"span grain needs k >= 2 tokens, got $k")
    val tok = posTokens(docs, idCol, textCol)
    val occ = Window.partitionBy(xxhash64(col("g")), col("g"))
      .orderBy("doc_id", "pos")
    val covered = anchoredGrams(tok, k)
      .withColumn("rn", row_number().over(occ))
      .where(col("rn") >= 2)
      .select(col("doc_id"),
        explode(sequence(col("pos"), col("pos") + (k - 1))).as("pos"))
      .distinct()
    cutRebuild(docs.select(col(idCol).as("doc_id")), tok, covered)
  }

  /** (doc_id, pos, t) position-anchored token grain — the explode
    * shared by [[spanDedup]] and [[spanDecontaminate]].
    */
  private def posTokens(docs: DataFrame, idCol: String,
                        textCol: String): DataFrame =
    docs.where(col(textCol).isNotNull)
      .select(col(idCol).as("doc_id"),
        posexplode(tokens(col(textCol))).as(Seq("pos", "t")))

  /** (doc_id, pos, g) k-token grams anchored at 0-based positions:
    * k-1 `lead`s sharing ONE per-doc window sort (the relational form
    * — interpreted string-building lambdas lose, see [[gramStrings]]'
    * trap note).
    */
  private def anchoredGrams(tok: DataFrame, k: Int): DataFrame = {
    val w = Window.partitionBy("doc_id").orderBy("pos")
    val leads = (1 until k).map(i => lead("t", i).over(w).as(s"_t$i"))
    tok
      .select(Seq(col("doc_id"), col("pos"), col("t")) ++ leads: _*)
      .where(col(s"_t${k - 1}").isNotNull)
      .select(col("doc_id"), col("pos"),
        concat_ws(" ",
          col("t") +: (1 until k).map(i => col(s"_t$i")): _*).as("g"))
  }

  /** Shared tail of the span family: given a doc spine, the token
    * grain and the covered (doc_id, pos) set, cut the covered tokens
    * and rebuild each document. ONE per-doc pass computes cut count,
    * maximal-extent count AND the rebuild: a lag over the same
    * (doc_id, pos) window marks each island's first covered position
    * (hit ∧ ¬hit@pos-1 — consecutive covered positions merge, so
    * n_spans counts merged ≥k-token removed ranges, not raw gram
    * hits), and the groupBy that follows rides the window's exchange
    * — the separate islands-window + spans-aggregate + extra join of
    * the first cut cost a whole second shuffle chain for numbers this
    * pass already sees.
    */
  private def cutRebuild(spine: DataFrame, tok: DataFrame,
                         covered: DataFrame): DataFrame = {
    val wd = Window.partitionBy("doc_id").orderBy("pos")
    val rebuilt = tok
      .join(covered.withColumn("hit", lit(true)), Seq("doc_id", "pos"), "left")
      .withColumn("h", coalesce(col("hit"), lit(false)))
      .withColumn("span_start",
        col("h") && !coalesce(lag("h", 1).over(wd), lit(false)))
      .groupBy("doc_id")
      .agg(sum(when(col("h"), 1L).otherwise(0L)).as("n_cut"),
        sum(when(col("span_start"), 1L).otherwise(0L)).as("n_spans"),
        collect_list(when(!col("h"),
          struct(col("pos"), col("t")))).as("cl"))
      .withColumn("dedup_text",
        array_join(transform(array_sort(col("cl")), c => c("t")), " "))
    spine
      .join(rebuilt, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("dedup_text"), lit("")).as("dedup_text"),
        coalesce(col("n_cut"), lit(0L)).cast("int").as("n_removed"),
        coalesce(col("n_spans"), lit(0L)).cast("int").as("n_spans"))
      .orderBy("doc_id")
  }

  /** qd66 — exact-substring DECONTAMINATION (Lee et al.'s ExactSubstr
    * grain pointed at a benchmark): cut from every TRAINING document
    * each ≥k-token span that appears verbatim at ANY offset in the
    * held-out eval slice, and rebuild the document from its surviving
    * tokens. This is the span-grain upgrade of qd14: its 3-gram
    * containment FLAGS a doc sharing any single gram, but can neither
    * locate the overlap nor bound it — a 13-gram filter misses a
    * 12-token verbatim quote entirely, while a doc-level drop
    * overreacts to one shared sentence. Span cutting removes exactly
    * the contaminated tokens (the decontamination production
    * pipelines run before eval-set release).
    *
    * Semantics vs [[spanDedup]]: coverage is CROSS-CORPUS ONLY — a
    * training position is cut iff its k-gram occurs anywhere in the
    * eval side (no keep-first: eval text must not leak at all), and
    * within-training repeats are qd53's job, not this one's. Eval
    * docs are not in the output (they are the benchmark, not the
    * training set).
    *
    * Scale shape: the eval side is the SMALL one — its distinct grams
    * broadcast (qd14's convention), so the training-side cost is one
    * window-lead gram pass + a broadcast hash join + the per-doc
    * rebuild; NOTHING shuffles on the gram key and nothing is
    * all-pairs. At 100 TB the training token stream is the linear
    * term and the eval gram set stays a few MB of broadcast state.
    */
  def spanDecontaminate(docs: DataFrame, idCol: String, textCol: String,
                        k: Int, isEval: Column): DataFrame = {
    require(k >= 2, s"span grain needs k >= 2 tokens, got $k")
    val evalGrams = anchoredGrams(
        posTokens(docs.where(isEval), idCol, textCol), k)
      .select("g").distinct()
    val trainTok = posTokens(docs.where(!isEval), idCol, textCol)
    val covered = anchoredGrams(trainTok, k)
      .join(broadcast(evalGrams), "g")
      .select(col("doc_id"),
        explode(sequence(col("pos"), col("pos") + (k - 1))).as("pos"))
      .distinct()
    cutRebuild(docs.where(!isEval).select(col(idCol).as("doc_id")),
      trainTok, covered)
  }

  /** Distinct (doc_id, g) k-token gram rows — [[anchoredGrams]]'
    * span-grain derivation exposed at doc-FLAG grain (qd77's
    * decontamination stage: a doc sharing any k-token gram with the
    * benchmark is dropped whole; k = 5 there — the 3-gram containment
    * qd14 declares is too promiscuous for a composed pipeline at
    * growing sf, where nearly every doc shares some 3-gram with a
    * 10×-larger benchmark, while token 5-grams keep both verdict
    * classes live at sf0.01 AND sf0.1; production pipelines run 8-13).
    * Docs with fewer than k tokens emit no grams (they cannot carry a
    * k-token quote — the qd66 convention, no whole-doc fallback).
    */
  def wordGrams(docs: DataFrame, idCol: String, textCol: String,
                k: Int): DataFrame =
    anchoredGrams(posTokens(docs, idCol, textCol), k)
      .select("doc_id", "g").distinct()

  /** The qd66 declared form: 8-token spans (qd53's grain), src0 as
    * the benchmark slice (qd14's convention) — the gate corpus plants
    * long shifted-offset repeats that cross the src0 boundary, so the
    * cut is value-bearing (116 tokens across 2 training docs at
    * sf0.01; see FIXTURES.md).
    */
  def spanDecontaminateQuery(s: SparkSession, dir: String): DataFrame =
    spanDecontaminate(graft.core.Tables.documents(s, dir), "doc_id",
      "text", k = 8, isEval = col("source") === "src0")

  /** The qd53 declared form: 8-token spans over `documents` — the
    * gate corpus' planted near-duplicates repeat long runs at
    * shifted offsets, so the keep-first cut is value-bearing
    * (1086 duplicate 8-gram sites across 24 docs at sf0.01).
    */
  def spanDedupQuery(s: SparkSession, dir: String): DataFrame =
    spanDedup(graft.core.Tables.documents(s, dir), "doc_id", "text", k = 8)

}
