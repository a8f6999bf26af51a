package graft.streaming

import graft.core.Tables
import graft.ingest.JsonlIngest.docStream
import graft.operators.{Dedup, EditJoin, TrainingOps, VecAdmission}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** STREAMING near-dup admission — the production arrival path's
  * dedup gate. New documents land as JSONL files in a drop folder;
  * each arriving file becomes one micro-batch that is scored against
  * the STANDING corpus band index ([[TrainingOps.corpusBands]], the
  * qd54 stored artifact) with [[Dedup.admitAgainst]], and the
  * per-doc verdict (smallest corpus near-duplicate at 0.9, or
  * admitted) is written to a per-batch-id idempotent parquet sink
  * (the qs16 exactly-once recipe: a retried batch overwrites its own
  * `batch=<id>` directory instead of duplicating verdicts).
  *
  * This composes the round-11 streaming pieces into the loop a
  * growing corpus actually runs: qs38 quarantines the arriving
  * JSONL, THIS gate decides admit/reject per document against
  * yesterday's index, and [[Dedup.publishRefresh]] (qd57) folds the
  * admitted docs into the next index generation — each stage
  * individually oracle-checked, the composition pinned in
  * Round11StreamSpec.
  *
  * Batch ≡ stream: every verdict row depends only on (that doc, the
  * standing index) — [[Dedup.admitAgainst]]'s order-free argument —
  * so the union across micro-batches provably equals the one-shot
  * batch gate regardless of how the files split the batch, and
  * qd40's exhaustive DuckDB oracle carries over verbatim (corpus =
  * every source but src19, the qd54 corpus≫batch framing).
  *
  * Scale shape: per micro-batch the work is batch-sized MinHash +
  * one equi-join against the standing index plus a shingle re-derive
  * of ONLY the corpus docs that banded — identical to qd54's refresh
  * economics; nothing rescans or re-minhashes the corpus, and the
  * sink is append-only parquet. At 100 TB/day the same foreachBatch
  * body runs under a real file-arrival trigger with the index served
  * from the artifact tier.
  */
object Admission {

  /** qd54's batch predicate, shared framing: src19 is today's
    * arrival, everything else is the standing corpus.
    */
  private val isCorpus = col("source") =!= "src19"

  /** Land the src19 batch as JSONL in the watched drop folder,
    * repartitioned so the drain sees SEVERAL micro-batches (one per
    * file under maxFilesPerTrigger=1) — the boundary-independence
    * the gate's correctness argument is about.
    */
  def landBatchJsonl(s: SparkSession, dir: String): String =
    graft.io.ArtifactStore.publish(graft.io.Scratch.qs39Dir(dir) + "/landing",
        dir, Seq("documents")) { landing =>
      graft.io.Writers.sink(Tables.documents(s, dir).where(!isCorpus)
        .repartition(4)
        .select(to_json(struct(col("doc_id"), col("text"), col("lang"),
          col("source"), col("n_chars"))).as("value")))
        .mode("overwrite").text(landing)
    }

  /** qs39 — drain the drop folder, score each micro-batch against
    * the standing index, read the accumulated verdicts back.
    */
  def admissionGate(s: SparkSession, dir: String): DataFrame = {
    val outRoot = graft.io.Scratch.qs39Dir(dir) + "/verdicts"
    org.apache.commons.io.FileUtils
      .deleteQuietly(new java.io.File(outRoot))
    // the standing artifact: built once per (dir, stamp), amortized
    // across qd54/qd57/qs39 — the gate measures per-batch work only.
    // PERSIST both standing frames across the drain (VERDICT r11 #4):
    // every micro-batch joins against `bands` and semi-joins `corpus`,
    // and without the persist each of the four batches re-reads the
    // parquet trees from scratch. Released after the drain — the
    // standing state's lifetime is the stream's, not the session's.
    val corpus = Tables.documents(s, dir).where(isCorpus)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val bands = TrainingOps.corpusBands(s, dir)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val landing = landBatchJsonl(s, dir)
    try Drain.foreachBatch(s, docStream(s, landing)) { (df, batchId) =>
      Dedup.admitAgainst(corpus, bands, df, threshold = 0.9)
        .write.mode("overwrite").parquet(s"$outRoot/batch=$batchId")
    } finally {
      corpus.unpersist(blocking = false)
      bands.unpersist(blocking = false)
    }
    s.read.parquet(outRoot)
      .select("doc_id", "dup_of", "is_dup")
      .orderBy("doc_id")
  }

  /** qs45 — the VECTOR admission gate on the same arrival path: each
    * micro-batch of arriving docs joins its embeddings (vec_id =
    * doc_id, the shared id space) and probes the STANDING corpus
    * vector index (qe25's [[graft.operators.VecAdmission]] stored
    * cells + SQ8 codes) for its nearest corpus neighbors, writing the
    * per-arrival top-k to the idempotent per-batch-id sink. Shares
    * qs39's landing (one export, THREE gates) and the batch ≡ stream
    * argument: a verdict depends only on (that vector, the standing
    * index), so the union across micro-batches equals qe25's one-shot
    * run for ANY file split, and qe25's exhaustive oracle carries
    * over verbatim.
    *
    * With qs39 (MinHash) and qs44 (edit distance) this completes the
    * production admission stack — shingle-level, character-level, and
    * semantic-level near-duplication each probed in O(batch) against
    * stored artifacts on one shared drain path.
    */
  def vecAdmissionGate(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.VecAdmission
    val outRoot = graft.io.Scratch.qs39Dir(dir) + "/vec_verdicts"
    org.apache.commons.io.FileUtils
      .deleteQuietly(new java.io.File(outRoot))
    // standing state, persisted for the drain's lifetime (every
    // micro-batch probes all three) and released after (the qs39
    // pattern); the IVF/SQ models are driver-side kilobyte caches
    val model = VecAdmission.corpusModel(s, dir)
    val sq = VecAdmission.corpusSqModel(s, dir)
    val cells = VecAdmission.storedCells(s, dir)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val codes = VecAdmission.storedCodes(s, dir)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val corpus = VecAdmission.corpusEmb(s, dir)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val emb = Tables.embeddings(s, dir)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val landing = landBatchJsonl(s, dir)
    try Drain.foreachBatch(s, docStream(s, landing)) { (df, batchId) =>
      val arrivals = emb
        .join(df.select(col("doc_id").as("vec_id")), "vec_id")
        .select(col("vec_id").as("query_id"),
          col("embedding").as("q_emb"))
      VecAdmission.admit(arrivals, cells, codes, corpus, model, sq,
          k = 10, nProbe = model.k, shortlist = Int.MaxValue)
        .write.mode("overwrite").parquet(s"$outRoot/batch=$batchId")
    } finally {
      cells.unpersist(blocking = false)
      codes.unpersist(blocking = false)
      corpus.unpersist(blocking = false)
      emb.unpersist(blocking = false)
    }
    s.read.parquet(outRoot)
      .select("query_id", "vec_id", "rnk", "sim")
      .orderBy("query_id", "rnk", "vec_id")
  }

  /** qs44 — the EDIT-DISTANCE admission gate on the same arrival
    * path: each micro-batch of arriving docs probes the STANDING
    * corpus window/signature artifacts (qd69's
    * [[graft.operators.EditJoin.editAdmission]]) and writes one
    * best-partner verdict per doc to the idempotent per-batch-id
    * sink. Shares qs39's landing (one export, two gates) and its
    * batch ≡ stream argument: a verdict depends only on (that doc,
    * the standing index), so the union across micro-batches equals
    * qd69's one-shot batch run for ANY file split, and qd69's
    * exhaustive oracle carries over verbatim.
    *
    * Together with qs39 this is the production admission stack: the
    * MinHash gate catches shingle-level near-dups, this one the
    * small-patch edits set-based blocking can miss; both are
    * O(arriving batch) against stored artifacts.
    */
  def editAdmissionGate(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.EditJoin
    val outRoot = graft.io.Scratch.qs39Dir(dir) + "/edit_verdicts"
    org.apache.commons.io.FileUtils
      .deleteQuietly(new java.io.File(outRoot))
    // standing state, persisted for the drain's lifetime (every
    // micro-batch probes all three) and released after — the qs39
    // pattern (VERDICT r11 #4)
    val corpus = Tables.documents(s, dir).where(isCorpus)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val windex = EditJoin.storedWindowIndex(s, dir, corpus)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val csigs = EditJoin.storedSignatures(s, dir, corpus)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val landing = landBatchJsonl(s, dir)
    try Drain.foreachBatch(s, docStream(s, landing)) { (df, batchId) =>
      EditJoin.editAdmission(corpus, windex, csigs, df, "doc_id", "text")
        .write.mode("overwrite").parquet(s"$outRoot/batch=$batchId")
    } finally {
      corpus.unpersist(blocking = false)
      windex.unpersist(blocking = false)
      csigs.unpersist(blocking = false)
    }
    s.read.parquet(outRoot)
      .select("doc_id", "dup_of", "edit_dist", "is_dup")
      .orderBy("doc_id")
  }

  /** Semantic-neighbor threshold for the composed verdict's vector
    * leg: an arrival whose nearest corpus neighbor's cosine reaches
    * this is flagged `vec_neighbor`. Calibrated to the MEASURED
    * synthetic-embedding top-1 distribution (0.28–0.45 at sf0.001
    * and sf0.01 — the corpus plants no semantic near-dups), so both
    * verdict classes are live on the gate corpora (the qd28
    * non-vacuousness rule); production embeddings would run ~0.9.
    * Comparisons are safe at a threshold because both engines
    * compute sim through the bit-equal sequential dot fold.
    */
  val VecNeighborThreshold = 0.4

  /** qs46 — the COMPOSED admission verdict: one drain over the same
    * landing, every micro-batch probed by ALL THREE standing indexes
    * (qs39's MinHash bands, qs44's edit window/signature tables,
    * qs45's IVF cells + SQ8 codes), one row per arrival carrying the
    * per-gate verdicts and the production keep/reject conjunction —
    * `admit = NOT (minhash_dup OR edit_dup OR vec_neighbor)` (qd34's
    * composition precedent: the composed truth is exactly the
    * conjunction of the three gates' individually-proven oracles).
    *
    * This is what the admission stack exists to run: qs39/qs44/qs45
    * each prove one gate on the shared landing; a production pipeline
    * makes ONE pass and one decision. Per-batch work is the sum of
    * the three gates' O(batch) probes — still no corpus rescan, and
    * the batch frame is persisted across its three consumers so the
    * JSONL parse happens once per micro-batch. Verdicts stay
    * order-free (each leg depends only on (that doc, its standing
    * index)), so the micro-batch union equals the one-shot batch run
    * and the three batch oracles compose verbatim.
    */
  def composedAdmissionGate(s: SparkSession, dir: String): DataFrame =
    composedAdmissionAt(s, dir, nProbe = Int.MaxValue,
      shortlist = Int.MaxValue, outName = "composed_verdicts")

  /** qs47 — the composed drain at qe25's CALIBRATED operating point
    * (VERDICT r15 #2): identical plumbing to qs46, but the vector leg
    * probes the cheapest (nProbe, shortlist) rung whose measured
    * recall@10 reaches 0.8 ([[VecAdmission.calibrateOperatingPoint]],
    * amortized per index generation like the models it sits beside) —
    * the configuration a production gate actually runs, where the
    * ADC shortlist genuinely cuts instead of merely ranking. The
    * lexical legs are exact at any config, so only `vec_neighbor` /
    * `vec_top_sim` can differ from qs46's parity verdicts; the
    * agreement and top-1 floors are measured in Round16OpsSpec
    * (the qe3/qe25 honest-operating-point precedent — this query is
    * declared `RowsOnly` in the SparkEntry registry, approximate by
    * design, and is the one `SparkEntry.rowsOnly` member).
    */
  def calibratedAdmissionGate(s: SparkSession, dir: String): DataFrame = {
    val (np, sl, _) =
      graft.operators.VecAdmission.calibrateOperatingPoint(s, dir,
        k = 10, targetRecall = 0.8)
    composedAdmissionAt(s, dir, nProbe = np, shortlist = sl,
      outName = "calibrated_verdicts")
  }

  /** qs48 — the STREAMING publish-back twin (VERDICT r16 #4): one
    * drain over a GENERATION-ORDERED landing (gen-1 = even src19
    * doc_ids in the older file, gen-2 = odd in the newer; the file
    * source processes files in modification-time order, which the
    * shared oracle pins — a flipped order would mislabel the `gen`
    * column and fail the hash). Each micro-batch is admitted against
    * the CURRENT standing edit index, its verdicts land in the
    * idempotent per-batch-id sink, and its survivors are PUBLISHED
    * into the standing state before the next batch — read back from
    * the sink just written, the hand-off a production pipeline
    * actually runs (verdict log feeds index growth, qd57's loop on
    * the arrival path).
    *
    * Unlike qs39/qs44/qs45 this composition is order-DEPENDENT
    * across batches (batch 2's candidate set includes batch 1's
    * survivors), so it shares qd76's SEQUENTIAL oracle rather than
    * the order-free batch ones; Round17OpsSpec pins the crafted-
    * corpus flip case the gate corpora cannot exhibit.
    *
    * Scale shape: standing gen-0 artifacts persist for the drain's
    * lifetime; the published growth rides bytes-small DELTA frames
    * (survivor windows/signatures/texts, eagerly localCheckpoint'd
    * per batch) unioned onto the standing side — the corpus-scale
    * state is never re-derived, re-shuffled, or re-checkpointed per
    * batch.
    */
  def seqPublishGate(s: SparkSession, dir: String): DataFrame = {
    val outRoot = graft.io.Scratch.qs39Dir(dir) + "/seq_verdicts"
    org.apache.commons.io.FileUtils
      .deleteQuietly(new java.io.File(outRoot))
    val docs0 = Tables.documents(s, dir)
    val corpus = docs0.where(isCorpus)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val windex = EditJoin.storedWindowIndex(s, dir, corpus)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val csigs = EditJoin.storedSignatures(s, dir, corpus)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // published growth: bytes-small deltas over the persisted gen-0
    // standing state (schemas seeded from the artifacts' own)
    var deltaDocs = corpus.select(col("doc_id"), col("text")).limit(0)
    var deltaW = windex.limit(0)
    var deltaS = csigs.limit(0)
    val landing = landGenBatchesJsonl(s, dir)
    try Drain.foreachBatch(s, docStream(s, landing)) { (df, batchId) =>
      val curDocs = corpus.select(col("doc_id"), col("text"))
        .unionByName(deltaDocs)
      val v = EditJoin.editAdmission(curDocs,
          windex.unionByName(deltaW), csigs.unionByName(deltaS),
          df, "doc_id", "text")
        .withColumn("gen", lit(batchId + 1).cast("int"))
        .select("doc_id", "gen", "dup_of", "edit_dist", "is_dup")
      v.write.mode("overwrite").parquet(s"$outRoot/batch=$batchId")
      // sequential publish: survivors from the sink just written
      // fold into the standing state BEFORE the next batch
      val admitted = df.join(
        s.read.parquet(s"$outRoot/batch=$batchId")
          .filter(!col("is_dup")).select("doc_id"), "doc_id")
      val (nw, ns) = EditJoin.publishAdmitted(deltaW, deltaS,
        admitted, "doc_id", "text")
      deltaW = nw.localCheckpoint()
      deltaS = ns.localCheckpoint()
      deltaDocs = deltaDocs
        .unionByName(admitted.select("doc_id", "text"))
        .localCheckpoint()
    } finally {
      corpus.unpersist(blocking = false)
      windex.unpersist(blocking = false)
      csigs.unpersist(blocking = false)
    }
    s.read.parquet(outRoot)
      .select("doc_id", "gen", "dup_of", "edit_dist", "is_dup")
      .orderBy("doc_id")
  }

  /** qs48's landing: exactly two JSONL files, one per generation
    * ([[graft.operators.EditJoin.genBatch]]'s parity split), with
    * mtimes 120 s apart so the file source's modification-time order
    * is the generation order. One file per gen (vs qs39's
    * repartition(4)): the sequential semantics NEEDS batch boundaries
    * aligned to generations — this is the declared split, not an
    * arbitrary one.
    */
  private def landGenBatchesJsonl(s: SparkSession, dir: String): String =
    graft.io.ArtifactStore.publish(
        graft.io.Scratch.qs39Dir(dir) + "/seq_landing",
        dir, Seq("documents")) { landing =>
      val docs = Tables.documents(s, dir)
      val t0 = System.currentTimeMillis - 600000L
      Seq(1, 2).foreach { gen =>
        val tmp = new java.io.File(landing, s"_tmp_gen$gen")
        graft.io.Writers.sink(EditJoin.genBatch(docs, gen)
          .coalesce(1)
          .select(to_json(struct(col("doc_id"), col("text"), col("lang"),
            col("source"), col("n_chars"))).as("value")))
          .mode("overwrite").text(tmp.getAbsolutePath)
        val part = Option(tmp.listFiles()).getOrElse(Array.empty)
          .find(f => f.getName.startsWith("part-")).get
        val dst = new java.io.File(landing, s"gen$gen.json")
        java.nio.file.Files.move(part.toPath, dst.toPath,
          java.nio.file.StandardCopyOption.REPLACE_EXISTING)
        org.apache.commons.io.FileUtils.deleteQuietly(tmp)
        dst.setLastModified(t0 + gen * 120000L): Unit
      }
    }

  private[graft] def composedAdmissionAt(s: SparkSession, dir: String,
                                         nProbe: Int, shortlist: Int,
                                         outName: String): DataFrame = {
    val outRoot = graft.io.Scratch.qs39Dir(dir) + "/" + outName
    org.apache.commons.io.FileUtils
      .deleteQuietly(new java.io.File(outRoot))
    // standing state for all three gates, persisted for the drain's
    // lifetime and released after (the qs39 pattern)
    val corpus = Tables.documents(s, dir).where(isCorpus)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val bands = TrainingOps.corpusBands(s, dir)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val windex = EditJoin.storedWindowIndex(s, dir, corpus)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val csigs = EditJoin.storedSignatures(s, dir, corpus)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val model = VecAdmission.corpusModel(s, dir)
    val sq = VecAdmission.corpusSqModel(s, dir)
    val cells = VecAdmission.storedCells(s, dir)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val codes = VecAdmission.storedCodes(s, dir)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val corpusEmb = VecAdmission.corpusEmb(s, dir)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val emb = Tables.embeddings(s, dir)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val landing = landBatchJsonl(s, dir)
    // The three gate legs are INDEPENDENT until the verdict join —
    // each reads only (the batch, its own standing artifacts) — but
    // the minhash leg runs construction-time jobs (admitAgainst's
    // eager chain) that the lazy edit/vector legs used to queue
    // BEHIND inside the single write job. The r18 core-scaling
    // measurement shows this tier is job-barrier-bound at gate
    // scale, so the fix is fewer serialized barriers, not faster
    // stages: materialize the edit and vector legs as their own
    // checkpoint jobs on side threads (guide §2.6 — concurrent jobs
    // back-fill each other's straggler tails; 2-3 in flight is the
    // guide's own sizing) while the minhash chain runs, then the
    // sink job is a three-way join of batch-grain checkpoints.
    // Results are identical by construction: the same three leg
    // frames meet the same assembly, only the job schedule moved.
    val legPool = java.util.concurrent.Executors.newFixedThreadPool(2)
    val legEc = scala.concurrent.ExecutionContext.fromExecutorService(legPool)
    try Drain.foreachBatch(s, docStream(s, landing)) { (df, batchId) =>
      // three gate pipelines consume the batch: parse it once
      val d = df.persist(
        org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      try {
        val edF = scala.concurrent.Future {
          EditJoin.editAdmission(corpus, windex, csigs, d,
              "doc_id", "text")
            .select(col("doc_id"), col("is_dup").as("edit_dup"))
            .localCheckpoint()
        }(legEc)
        val vecF = scala.concurrent.Future {
          val arrivals = emb
            .join(d.select(col("doc_id").as("vec_id")), "vec_id")
            .select(col("vec_id").as("query_id"),
              col("embedding").as("q_emb"))
          VecAdmission.admit(arrivals, cells, codes,
              corpusEmb, model, sq,
              k = 1, nProbe = math.min(nProbe, model.k),
              shortlist = shortlist)
            .groupBy("query_id").agg(max("sim").as("vec_top_sim"))
            .withColumnRenamed("query_id", "doc_id")
            .localCheckpoint()
        }(legEc)
        val mh = Dedup.admitAgainst(corpus, bands, d, threshold = 0.9)
          .select(col("doc_id"), col("is_dup").as("minhash_dup"))
        val ed = scala.concurrent.Await.result(
          edF, scala.concurrent.duration.Duration.Inf)
        val vecTop = scala.concurrent.Await.result(
          vecF, scala.concurrent.duration.Duration.Inf)
        try {
          // a doc with no embedding has no vector verdict: the
          // semantic leg coalesces to false (mirrored in the oracle)
          val semantic = coalesce(
            col("vec_top_sim") >= VecNeighborThreshold, lit(false))
          mh.join(ed, "doc_id")
            .join(vecTop, Seq("doc_id"), "left")
            .select(col("doc_id"), col("minhash_dup"), col("edit_dup"),
              semantic.as("vec_neighbor"), col("vec_top_sim"),
              (!(col("minhash_dup") || col("edit_dup") || semantic))
                .as("admit"))
            .write.mode("overwrite").parquet(s"$outRoot/batch=$batchId")
        } finally {
          // batch-grain checkpoint blocks, released once the sink
          // job has consumed them (the minhashNearDups lifecycle)
          Dedup.unpersistCheckpointed(ed)
          Dedup.unpersistCheckpointed(vecTop)
        }
      } finally d.unpersist(blocking = false)
    } finally {
      legPool.shutdown()
      Seq(corpus, bands, windex, csigs, cells, codes, corpusEmb, emb)
        .foreach(_.unpersist(blocking = false))
    }
    s.read.parquet(outRoot)
      .select("doc_id", "minhash_dup", "edit_dup", "vec_neighbor",
        "vec_top_sim", "admit")
      .orderBy("doc_id")
  }
}
