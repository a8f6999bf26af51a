package graft.operators

import graft.core.Tables
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Incremental ANN admission — the growing-corpus shape (qd54/qs39
  * for MinHash, qd69/qs44 for edit distance) applied to the VECTOR
  * tier: arriving embeddings probe the STORED corpus index artifacts
  * for their nearest corpus neighbors in O(batch); the corpus is only
  * ever SCANNED through its materialized index, never re-derived or
  * re-shuffled per batch.
  *
  * The standing index is the FAISS-style three-piece layout, each
  * piece a stamp-keyed parquet artifact or cached kilobyte model:
  *
  *  1. coarse quantizer — IVF centroids trained on the CORPUS only
  *     (arrivals never seen at train time; the [[Ivf]] deterministic
  *     trainer), a k×dim driver-side model;
  *  2. stored cell assignment (vec_id, cluster, nrm) — the inverted
  *     file, bytes-small (no vectors inside; the [[EditJoin]]
  *     signature-table move);
  *  3. stored SQ8 packed codes (vec_id, w0..w7) — the compressed
  *     first-pass scan ([[Sq.encodePacked]] over the corpus grid).
  *
  * Per batch: arrivals explode to their `nProbe` nearest cells and
  * equi-join the cell table (candidates ∝ probed cells, the batch
  * side broadcast-small at real scale); candidates join the CODE
  * artifact for the approximate-dot shortlist (batch-as-frame ADC:
  * the query vector is a COLUMN, so the 64 dequantization weights are
  * model literals against `element_at(q_emb, d)` — unlike
  * [[Sq.search]]'s literal-query form this needs no driver collect of
  * the batch, which is what keeps the operator O(batch) for ANY batch
  * size); the shortlist alone is exact-cosine re-ranked against the
  * corpus float table.
  *
  * The DECLARED gate config (qe25) stacks both parity moves:
  * `nProbe = k` (every cell probed — candidates provably = the whole
  * corpus for any centroids, the qe4 argument) and `shortlist = ∞`
  * (every candidate exact-re-ranked — an ADC cut at ∞ keeps every
  * row by definition, so since round 17 the rank window is skipped
  * outright at this config: the code artifact stays joined into the
  * candidate stream, the dead ranking sort does not run, and the
  * result equals brute force for ANY grid, the qe8/qe16 argument),
  * so the exhaustive DuckDB oracle recomputes it exactly. The honest partial-probe/short-shortlist operating point
  * — where the recall trade actually appears — is measured in
  * Round14OpsSpec.
  *
  * Verdicts are per-arrival and depend only on (that vector, the
  * standing index) — order-free, so the micro-batch union provably
  * equals the one-shot batch run (qs45 shares this query's oracle
  * verbatim; the qs39 argument).
  */
object VecAdmission {

  /** Canonical split (the qd69 framing): src19 docs are today's
    * arrivals; every embedding paired to a non-src19 doc is the
    * standing corpus. Embedding↔doc pairing is vec_id = doc_id (the
    * shared id space TESTDATA ships; at sf0.1 only a prefix of docs
    * carries vectors — the inner join scopes both sides to the
    * embedded population).
    */
  private def split(s: SparkSession, dir: String, arrivals: Boolean)
      : DataFrame = {
    val pred = if (arrivals) col("source") === "src19"
               else col("source") =!= "src19"
    Tables.embeddings(s, dir)
      .join(Tables.documents(s, dir).where(pred)
        .select(col("doc_id").as("vec_id")), "vec_id")
      .select("vec_id", "embedding")
  }

  def corpusEmb(s: SparkSession, dir: String): DataFrame =
    split(s, dir, arrivals = false)

  /** Arrival frame in admission shape: (query_id, q_emb). */
  def arrivalEmb(s: SparkSession, dir: String): DataFrame =
    split(s, dir, arrivals = true)
      .select(col("vec_id").as("query_id"), col("embedding").as("q_emb"))

  /** Both source tables shape the index — either regenerating must
    * move every artifact stamp.
    */
  private val SourceTables = Seq("embeddings", "documents")

  private val ivfModels = new graft.io.StampMemo[Ivf.IvfModel](SourceTables: _*)
  private val sqModels = new graft.io.StampMemo[Sq.SqModel](SourceTables: _*)

  /** Corpus-trained coarse quantizer, memoized over both source
    * tables by [[graft.io.StampMemo]]; TrainingOps.ivfModel, but over
    * the corpus SPLIT (the standing index must not have seen the
    * arrivals).
    */
  def corpusModel(s: SparkSession, dir: String): Ivf.IvfModel =
    ivfModels(dir)(Ivf.trainSized(corpusEmb(s, dir)))

  /** Corpus-trained SQ8 grid for the code artifact, memoized like
    * [[corpusModel]].
    */
  def corpusSqModel(s: SparkSession, dir: String): Sq.SqModel =
    sqModels(dir)(Sq.train(corpusEmb(s, dir)))

  /** The inverted-file derivation (vec_id, cluster, nrm) — ONE
    * definition shared by the stored build and the spec's
    * artifact ≡ fresh parity check.
    */
  def freshCells(s: SparkSession, dir: String): DataFrame = {
    Ivf.assignCells(corpusEmb(s, dir), corpusModel(s, dir))
      .select(col("vec_id"), col("cluster"),
        CosineTopK.norm(col("embedding")).as("nrm"))
  }

  /** Stored inverted file: (vec_id, cluster, nrm) — no vectors, the
    * bytes-small table every probe equi-joins.
    */
  def storedCells(s: SparkSession, dir: String): DataFrame =
    graft.io.ArtifactStore.parquetArtifact(
      s, dir, SourceTables, "vec_admit_cells_not_src19") {
      freshCells(s, dir)
    }

  /** Stored SQ8 packed-code table for the corpus (the sqPacked shape
    * scoped to the standing split).
    */
  def storedCodes(s: SparkSession, dir: String): DataFrame =
    graft.io.ArtifactStore.parquetArtifact(
      s, dir, SourceTables, "vec_admit_codes_not_src19") {
      Sq.encodePacked(corpusEmb(s, dir), corpusSqModel(s, dir))
    }

  /** Batch-as-frame ADC ranking score of a packed corpus row against
    * the `q_emb` COLUMN: Σ_d (q_d·width_d)·c_d — the per-query
    * constant term is constant within a query's ranking and drops out
    * ([[Sq.approxIntShortlist]]'s move), zero-width dims contribute
    * width 0. Rides the [[graft.functions.Sq8Adc]] codegen LOOP: the
    * composed 64-term `shiftright·&255·element_at` unroll passed
    * Janino but compiled into one generated method past HotSpot's
    * 8 KB JIT threshold — bytecode-interpreted forever, ~17 µs per
    * candidate row, 3.2 s of qe25's 6.5 s first cut (the HistL1
    * lesson one JVM tier down).
    */
  private def adcScore(sq: Sq.SqModel): Column =
    graft.functions.Sq8Adc.of(
      array((0 until sq.dim / 8).map(w => col(s"w$w")): _*),
      col("q_emb"),
      typedLit((0 until sq.dim).map(sq.width)))

  /** Nearest corpus neighbors for every arrival: (query_id, vec_id,
    * rnk, sim), top-`k` by exact cosine, candidates from the stored
    * cell probe, shortlisted by the stored-code ADC scan.
    *
    * @param arrivals (query_id, q_emb) — the batch; never collected
    * @param cells    [[storedCells]] (vec_id, cluster, nrm)
    * @param codes    [[storedCodes]] (vec_id, w0..)
    * @param corpus   (vec_id, embedding) float table for the re-rank
    */
  def admit(arrivals: DataFrame, cells: DataFrame, codes: DataFrame,
            corpus: DataFrame, model: Ivf.IvfModel, sq: Sq.SqModel,
            k: Int, nProbe: Int, shortlist: Int): DataFrame = {
    val q = CosineTopK.batch(arrivals)
    // batch side exploded to its probe cells. At FULL probe the
    // probe set is every cell id by definition — emitted as a literal
    // explode with NO centroid scoring (the partial-probe path's
    // nearest-centroid HOF is interpreted per arrival row; at the
    // declared parity config it computed 43 centroid dots per arrival
    // only to return all 43 ids — ~1 s of qe25's first cut).
    val probes =
      (if (nProbe >= model.k)
        arrivals.select(col("query_id"),
          explode(typedLit(model.centroids.map(_._1).toSeq)).as("probe"))
      else Ivf.probeCells(
          arrivals.select(col("query_id").as("vec_id"),
            col("q_emb").as("embedding")), model, nProbe)
        .select(col("vec_id").as("query_id"), col("probe")))
    rerankShortlist(scoredCandidates(q, probes, cells, codes, sq),
      corpus, q, k, shortlist)
  }

  /** Candidate generation + compressed first pass — the first half of
    * [[admit]], split out (round 17) so the calibration ladder can
    * persist ONE scored frame per probe rung across its shortlist
    * rungs instead of re-running the cell probe + ADC scan per
    * (nProbe, shortlist) pair. `q` is the arrival frame's
    * [[CosineTopK.batch]] query side; composition through [[rerankShortlist]] is exactly the
    * previous inline body.
    */
  private[operators] def scoredCandidates(q: DataFrame, probes: DataFrame,
                                          cells: DataFrame, codes: DataFrame,
                                          sq: Sq.SqModel): DataFrame = {
    // candidates: one equi-join of the stored inverted file against
    // the (broadcast-small) probe list — a corpus vector meets a query
    // at most once (its cell matches at most one of the query's
    // distinct probe values)
    val cand = cells.join(broadcast(probes), col("cluster") === col("probe"))
      .select("query_id", "vec_id", "nrm")
    // compressed first pass: stored codes + the batch-as-frame ADC
    cand
      .join(codes, "vec_id")
      .join(q.select(col("query_id"), col("q_emb")), "query_id")
      .withColumn("_adc", adcScore(sq))
      .select("query_id", "vec_id", "nrm", "_adc")
  }

  /** ADC shortlist cut + exact re-rank — the second half of
    * [[admit]].
    */
  private[operators] def rerankShortlist(scored: DataFrame, corpus: DataFrame,
                                         q: DataFrame, k: Int,
                                         shortlist: Int): DataFrame = {
    val wShort = Window.partitionBy("query_id")
      .orderBy(col("_adc").desc, col("vec_id"))
    // At the declared FULL-shortlist parity config the ADC cut keeps
    // every candidate by definition (`row_number <= Int.MaxValue`
    // kept every row), so the rank window is provably dead work —
    // skip it (round 17, guide §2.4): one full sort+exchange of the
    // largest per-batch intermediate gone from qe25/qs45/qs46 and the
    // calibration truth pass. The code artifact is still joined into
    // every candidate (the inner join is unchanged; only the unused
    // _adc ranking disappears via column pruning). Any finite
    // shortlist takes the measured ADC-cut path exactly as before.
    val short =
      if (shortlist == Int.MaxValue)
        scored.select("query_id", "vec_id", "nrm")
      else scored.withColumn("_srnk", row_number().over(wShort))
        .filter(col("_srnk") <= shortlist)
        .select("query_id", "vec_id", "nrm")
    // exact re-rank: only the shortlist touches the float table
    CosineTopK.rerank(short, corpus, q, k)
  }

  /** Every shortlist rung of ONE probe rung evaluated in ONE job —
    * (\_sl, query_id, vec_id), the pair set [[rerankShortlist]] would
    * emit at `shortlist = _sl` for each `_sl` in `shortLadder`
    * (IvfLadderSpec pins the per-rung equality). The rungs are nested
    * cuts of the same ADC ordering, so they share everything:
    * `_srnk` is computed once over `scored` (the identical
    * row_number window), only rows inside the LARGEST rung join the
    * float table, sim is computed once per candidate, and each rung's
    * exact re-rank is the same (sim desc, vec_id) rank() restricted
    * to `_srnk <= _sl` — partitioning the window by (query_id, _sl)
    * after an explode of the rung list makes all four cuts one plan.
    * Replaces up to |shortLadder| collect jobs + a persisted scored
    * frame per probe rung with a single collect (round 18, guide
    * §2.6/§1.2 — the ladder was job-barrier-bound, not compute-bound).
    */
  private[operators] def rungPairs(scored: DataFrame, corpus: DataFrame,
                                   q: DataFrame, k: Int,
                                   shortLadder: Seq[Int]): DataFrame = {
    val wShort = Window.partitionBy("query_id")
      .orderBy(col("_adc").desc, col("vec_id"))
    val pairs = scored.withColumn("_srnk", row_number().over(wShort))
      .filter(col("_srnk") <= shortLadder.max)
      .join(corpus, "vec_id")
      .join(q, "query_id")
      .withColumn("sim", CosineTopK.sim)
      .select(col("query_id"), col("vec_id"), col("sim"), col("_srnk"),
        explode(typedLit(shortLadder)).as("_sl"))
      .filter(col("_srnk") <= col("_sl"))
    CosineTopK.keepTop(pairs, k, Seq("query_id", "_sl"))
      .select("_sl", "query_id", "vec_id")
  }

  private val calibrations =
    new graft.io.StampMemo[(Int, Int, Double)](SourceTables: _*)

  /** Calibrated production operating point — [[graft.operators
    * .Similarity.bandGeometry]]'s contract ported to the IVF tier:
    * the cheapest (nProbe, shortlist) whose recall@k against the
    * full-probe/full-shortlist truth reaches `targetRecall`. Unlike
    * sign-LSH bands there is no closed-form recall model here (cell
    * occupancy and quantization loss are data-dependent), so the
    * calibration MEASURES each ladder rung through the same
    * [[admit]] pipeline the gate runs — the "measure, don't guess"
    * rule — walking probes (then shortlists) in cost order and
    * stopping at the first rung that reaches target. Recall is pair
    * recall over the arrival set (|found ∩ truth| / |truth|, the
    * Round14OpsSpec metric); the truth and each rung are
    * report-grain collects (arrivals × k pairs).
    *
    * Memoized per (k, targetRecall) over both source tables by
    * [[graft.io.StampMemo]]: calibration is part of index training —
    * a production gate calibrates once per index generation and
    * serves the chosen config from the model tier.
    * Full probe + full shortlist is exact by construction, so the
    * ladder always terminates at a config meeting any target ≤ 1.
    */
  def calibrateOperatingPoint(s: SparkSession, dir: String, k: Int = 10,
                              targetRecall: Double = 0.8)
      : (Int, Int, Double) = {
    require(targetRecall > 0 && targetRecall <= 1.0)
    calibrations(dir, k, targetRecall) {
      val model = corpusModel(s, dir)
      val sq = corpusSqModel(s, dir)
      val arrivals = arrivalEmb(s, dir)
      val cells = storedCells(s, dir)
      val codes = storedCodes(s, dir)
      val corpus = corpusEmb(s, dir)
      // Ladder restructure (round 17, guide §1.2): the rungs share
      // ALL their expensive work, so hoist it out of the walk —
      //  (a) the interpreted nearest-centroid scoring HOF ran once
      //      per rung; the FULL sorted probe list is computed ONCE
      //      and each rung takes its length-nProbe prefix
      //      ([[Ivf.rankedProbeCells]] ≡ probeCells prefix-exact);
      //  (b) the cell probe + ADC scan ([[scoredCandidates]]) ran
      //      once per (nProbe, shortlist) pair; it depends only on
      //      nProbe, so one scored frame serves all four shortlist
      //      rungs — and since round 18 those four rungs are
      //      evaluated in ONE job ([[rungPairs]]: the nested cuts
      //      share _srnk, the float join, and sim; one collect per
      //      probe rung instead of four plus a persist — the ladder
      //      is job-barrier-bound, like the rest of the sf0.1 heavy
      //      tier).
      // Each rung's pair set is IDENTICAL to admit(nProbe,
      // shortlist) — admit itself composes the same halves, and the
      // prefix equality is pinned in IvfLadderSpec — so the
      // chosen operating point cannot move.
      val q = CosineTopK.batch(arrivals)
      val rankedProbes = Ivf.rankedProbeCells(
          arrivals.select(col("query_id").as("vec_id"),
            col("q_emb").as("embedding")), model)
        .select(col("vec_id").as("query_id"), col("_pr"), col("probe"))
        .localCheckpoint()
      def collectPairs(df: DataFrame): Set[(Long, Long)] =
        df.select("query_id", "vec_id")
          .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      try {
        val truth = collectPairs(
          admit(arrivals, cells, codes, corpus, model, sq,
            k = k, nProbe = model.k, shortlist = Int.MaxValue))
        val probeLadder = Iterator.iterate(2)(_ * 2)
          .takeWhile(_ < model.k).toSeq
        val shortLadder = Seq(4 * k, 8 * k, 16 * k, 32 * k)
        val hit = probeLadder.iterator.flatMap { np =>
          val scored = scoredCandidates(q,
              rankedProbes.filter(col("_pr") < np)
                .select("query_id", "probe"),
              cells, codes, sq)
          // one job for the whole probe rung: every shortlist
          // rung's pair set, grouped driver-side by _sl
          val bySl = rungPairs(scored, corpus, q, k, shortLadder)
            .collect()
            .groupBy(_.getInt(0))
            .map { case (sl, rows) =>
              sl -> rows.map(r => (r.getLong(1), r.getLong(2))).toSet
            }
          shortLadder.iterator.map { sl =>
            val got = bySl.getOrElse(sl, Set.empty[(Long, Long)])
            (np, sl, got.intersect(truth).size.toDouble / truth.size)
          }.find(_._3 >= targetRecall)
        }.take(1).toSeq.headOption
        hit.getOrElse((model.k, Int.MaxValue, 1.0))
      } finally
        // release the checkpoint blocks NOW (ADVICE r17 #4) — the
        // ladder is the ranked list's only consumer; without this
        // they sit with the ContextCleaner for the session's life
        Dedup.unpersistCheckpointed(rankedProbes)
    }
  }

  // ---- publish-back: the standing vector index GROWS --------------

  /** The vector tier's own admission verdict for index growth: an
    * arrival folds into the next index generation iff its nearest
    * corpus neighbor's cosine stays BELOW `threshold` (an arriving
    * semantic near-duplicate is rejected, not indexed) — the
    * [[graft.streaming.Admission.VecNeighborThreshold]] rule, decided
    * at the parity config so the verdict is exact.
    */
  def admittedArrivals(s: SparkSession, dir: String,
                       threshold: Double): DataFrame = {
    val model = corpusModel(s, dir)
    val dups = admit(arrivalEmb(s, dir), storedCells(s, dir),
        storedCodes(s, dir), corpusEmb(s, dir), model, corpusSqModel(s, dir),
        k = 1, nProbe = model.k, shortlist = Int.MaxValue)
      .filter(col("sim") >= threshold)
      .select(col("query_id").as("vec_id"))
    split(s, dir, arrivals = true)
      .join(dups, Seq("vec_id"), "left_anti")
  }

  /** The PUBLISH step for the vector index (the qd75/qd57 move at the
    * vector tier, completing VERDICT r15 #7 for BOTH remaining
    * families): the admitted arrivals' cell assignments and SQ8 codes
    * appended to the standing artifacts, so batch N+1 probes an index
    * that already contains batch N's survivors. The coarse quantizer
    * and SQ grid stay FIXED across generations — exactly how a
    * FAISS-style IVF index grows (add-without-retrain; retraining the
    * quantizer is a re-index event, which the artifact stamp/version
    * mechanism models) — so both index tables remain per-vector
    * derivations under a constant model and publish ∘ publish
    * provably equals the one-shot rebuild on the union (pinned across
    * the parquet seam in Round16OpsSpec). Work is O(admitted batch):
    * the standing side is never re-assigned, re-encoded, or
    * re-shuffled.
    */
  def publishAdmitted(cells: DataFrame, codes: DataFrame,
                      admitted: DataFrame, model: Ivf.IvfModel,
                      sq: Sq.SqModel): (DataFrame, DataFrame) = {
    val newCells = Ivf.assignCells(admitted, model)
      .select(col("vec_id"), col("cluster"),
        CosineTopK.norm(col("embedding")).as("nrm"))
    (cells.unionByName(newCells),
      codes.unionByName(Sq.encodePacked(admitted, sq)))
  }

  /** Stored survivor ids for the src19 arrival batch — the ONE place
    * the exact (full-probe, full-shortlist) admission executes per
    * (dir, stamps): both published artifacts derive their admitted
    * set from THIS bytes-small table instead of re-running the probe
    * (VERDICT r16 #2 / ADVICE r16: the previous builders each ran
    * the full admittedArrivals chain, discarding half the pair).
    */
  def storedSurvivors(s: SparkSession, dir: String): DataFrame =
    graft.io.ArtifactStore.parquetArtifact(
      s, dir, SourceTables, "vec_admit_survivors") {
      admittedArrivals(s, dir,
        graft.streaming.Admission.VecNeighborThreshold)
        .select("vec_id")
    }

  /** The survivor embeddings: stored ids joined back to the float
    * table — an O(batch) equi-join, no admission re-run.
    */
  private def survivorEmb(s: SparkSession, dir: String): DataFrame =
    split(s, dir, arrivals = true)
      .join(storedSurvivors(s, dir), "vec_id")

  /** Published next-generation cell table (standing corpus cells +
    * the admitted src19 arrivals'), durable through ArtifactStore —
    * what the store serves to batch N+1.
    */
  def publishedCells(s: SparkSession, dir: String): DataFrame =
    graft.io.ArtifactStore.parquetArtifact(
      s, dir, SourceTables, "vec_admit_cells_all") {
      publishAdmitted(storedCells(s, dir), storedCodes(s, dir),
        survivorEmb(s, dir),
        corpusModel(s, dir), corpusSqModel(s, dir))._1
    }

  /** Published next-generation code table, keyed like
    * [[publishedCells]].
    *
    * Only specs call it (as they do [[publishedCells]]), and it stays
    * because the next generation is the PAIR: [[admit]] probes the
    * cells and scores the codes, so a published cell table without
    * its codes cannot be searched. Round17OpsSpec searches the pair
    * (full probe is exact, partial probe holds the standing floors);
    * no declared query serves generation 2 yet.
    */
  def publishedCodes(s: SparkSession, dir: String): DataFrame =
    graft.io.ArtifactStore.parquetArtifact(
      s, dir, SourceTables, "vec_admit_codes_all") {
      publishAdmitted(storedCells(s, dir), storedCodes(s, dir),
        survivorEmb(s, dir),
        corpusModel(s, dir), corpusSqModel(s, dir))._2
    }

  /** qe25 gate query — the declared parity config (full probe + full
    * shortlist ≡ exhaustive corpus kNN for the arrivals; both
    * artifacts probed on the way).
    */
  def vecAdmissionQuery(s: SparkSession, dir: String): DataFrame = {
    val model = corpusModel(s, dir)
    admit(arrivalEmb(s, dir), storedCells(s, dir), storedCodes(s, dir),
        corpusEmb(s, dir), model, corpusSqModel(s, dir),
        k = 10, nProbe = model.k, shortlist = Int.MaxValue)
      .orderBy("query_id", "rnk", "vec_id")
  }
}
