package graft

import org.apache.spark.sql.functions._

/** Lifecycle pins for the artifact tier and the publish loop,
  * restored per ADVICE r11 (the round-11 spec rewrite dropped them
  * without relocating): the supersession-marker reap ageing
  * (ADVICE r10), fresh-encode parity of the PQ/cell artifacts, the
  * qd57 publish∘publish identity ACROSS the parquet durability seam
  * (Round11StreamSpec's loop only round-trips via localCheckpoint),
  * and the qd56 carry-threaded resample ≡ join-shaped reference.
  */
class ArtifactLifecycleSpec extends SparkSpec {

  test("ArtifactStore reap ages from SUPERSESSION, not build time") {
    // ADVICE r10: the old guard filtered on the stale dir's own mtime
    // (its BUILD time), so a tree built >15 min ago was unlinked the
    // instant a new stamp published — exactly when a lazy reader may
    // still scan it. The marker protocol defers deletion one aged pass.
    import org.apache.spark.sql.SaveMode
    val dir = tempDir("reapsrc")
    val name = "reap_probe_" + System.nanoTime()
    // each build first rewrites the source table, superseding the
    // previous build's tree
    def build(v: Int) = {
      spark.range(v).toDF("x").write.mode(SaveMode.Overwrite)
        .parquet(s"$dir/documents.parquet")
      graft.io.ArtifactStore.parquetArtifact(
        spark, dir, "documents", name) {
        spark.range(v).toDF("v")
      }
    }
    build(1)
    val root = graft.io.ArtifactStore.scratchRoot.listFiles()
      .filter(_.getName.startsWith(name)).head
    def dataDirs = root.listFiles().filter(_.getName.startsWith("data-"))
    val first = dataDirs.head
    // age the v1 tree far past the cutoff: under build-time ageing it
    // would be reaped by the very next publish
    first.setLastModified(System.currentTimeMillis - 60L * 60 * 1000)
    build(2)
    assert(first.isDirectory,
      "just-superseded tree must survive the publish that superseded it")
    val marker = new java.io.File(root, "stale-" + first.getName)
    assert(marker.exists, "supersession must be marked")
    // now age the MARKER past the cutoff; the next publish pass reaps
    marker.setLastModified(System.currentTimeMillis - 16L * 60 * 1000)
    build(3)
    assert(!first.exists, "aged-marker tree is reaped on a later pass")
    assert(!marker.exists, "reap removes its marker")
    assert(dataDirs.length >= 1)
    def deleteRec(f: java.io.File): Unit = {
      if (f.isDirectory) f.listFiles().foreach(deleteRec); f.delete()
    }
    deleteRec(root)
  }

  test("pq/cell artifacts ≡ fresh encode (parity)") {
    import graft.operators.{PqInt, TrainingOps}
    val dir = "/root/testdata/sf0.001"
    val emb = graft.core.Tables.embeddings(spark, dir)
    val fresh = PqInt.codeFrame(emb, PqInt.dimMapIdentity(spark))
      .orderBy("vec_id", "m").collect().toSeq
    val art = TrainingOps.pqCodesInt(spark, dir)
      .orderBy("vec_id", "m").collect().toSeq
    assert(fresh == art)
    val freshCells = PqInt.cellFrame(emb).orderBy("vec_id").collect().toSeq
    val artCells = TrainingOps.ivfCellsInt(spark, dir)
      .orderBy("vec_id").collect().toSeq
    assert(freshCells == artCells)
  }

  test("corpus_bands artifact ≡ a fresh bandIndex build (geometry drift)") {
    // ADVICE r11: qs39's admission gate joins arriving batches against
    // the STORED corpus_bands artifact; a change to minhashSignatures
    // / band geometry that did not move the artifact key would serve a
    // stale index silently and the gate would admit everything —
    // caught only at the DuckDB gate. This pins artifact ≡ fresh
    // build in sbt test, so geometry drift fails fast.
    import graft.operators.{Dedup, TrainingOps}
    val dir = "/root/testdata/sf0.001"
    val stored = TrainingOps.corpusBands(spark, dir)
      .orderBy("doc_id", "band_idx", "band_hash").collect().toSeq
    val fresh = Dedup.bandIndex(
        graft.core.Tables.documents(spark, dir)
          .where(col("source") =!= "src19"), "doc_id", "text")
      .orderBy("doc_id", "band_idx", "band_hash").collect().toSeq
    assert(stored == fresh,
      "stored corpus_bands diverges from the current band geometry — " +
        "the artifact key did not move with the build")
  }

  test("hll_registers artifact ≡ fresh register build (qd65 parity)") {
    import graft.operators.{Sketch, TrainingOps}
    val dir = "/root/testdata/sf0.001"
    val stored = TrainingOps.hllRegistersStored(spark, dir)
      .orderBy("source", "idx").collect().toSeq
    val fresh = Sketch
      .tokenRegisters(graft.core.Tables.documents(spark, dir))
      .groupBy("source", "idx").agg(max(col("rho")).as("mx"))
      .orderBy("source", "idx").collect().toSeq
    assert(stored == fresh,
      "stored registers diverge from the current register derivation — " +
        "the artifact key did not move with the build")
  }

  test("qd57: publish ∘ publish ≡ rebuild on the union, through parquet") {
    // the production arrival loop, two generations deep: batch b1
    // folds into the standing index, the result is WRITTEN and READ
    // BACK (the durability seam batch N+1 actually crosses), then b2
    // folds into that — labels must equal the one-shot rebuild on
    // corpus ∪ b1 ∪ b2, cluster ids included (min-label quotient
    // argument in Dedup.refreshClusterLabels's scaladoc).
    import graft.operators.Dedup
    val docs = graft.core.Tables.documents(spark, "/root/testdata/sf0.001")
    val isB1 = col("source") === "src18"
    val isB2 = col("source") === "src19"
    val corpus0 = docs.where(!isB1 && !isB2)
    def cluster(d: org.apache.spark.sql.DataFrame) =
      Dedup.dupClustersStar(d,
        Dedup.minhashNearDups(d, "doc_id", "text", threshold = 0.9),
        "doc_id").select(col("id").as("doc_id"), col("cluster"))
    val standing0 = Dedup.StandingIndex(cluster(corpus0),
      Dedup.bandIndex(corpus0, "doc_id", "text"))
    val gen1 = Dedup.publishRefresh(standing0, docs.where(!isB2),
      isCorpus = !isB1, threshold = 0.9)
    val d = tempDir("pubidx")
    gen1.labels.write.parquet(s"$d/labels")
    gen1.bands.write.parquet(s"$d/bands")
    val gen1r = Dedup.StandingIndex(spark.read.parquet(s"$d/labels"),
      spark.read.parquet(s"$d/bands"))
    val gen2 = Dedup.publishRefresh(gen1r, docs,
      isCorpus = !isB2, threshold = 0.9)
    val got = gen2.labels.orderBy("doc_id").collect().toSeq
    val want = cluster(docs).orderBy("doc_id").collect().toSeq
    assert(got == want)
    // the appended band index is the rebuild's band index, row for row
    val gotBands = gen2.bands
      .groupBy("doc_id").count().orderBy("doc_id").collect().toSeq
    val wantBands = Dedup.bandIndex(docs, "doc_id", "text")
      .groupBy("doc_id").count().orderBy("doc_id").collect().toSeq
    assert(gotBands == wantBands)
  }

  test("qd56 carry-threaded resample ≡ the join-shaped score+fp form") {
    import graft.operators.Selection
    val docs = graft.core.Tables.documents(spark, "/root/testdata/sf0.001")
    val model = Selection.trainDsir(docs, col("source") === "src0")
    val got = Selection.dsirResample(docs, model, k = 16).collect()
    // independent join-shaped reference: score via dsirScore, fp via a
    // separate scan, zero-fill, same key
    val want = docs.select(col("doc_id"), col("source"),
        graft.functions.DocFingerprint.of(col("text")).as("fp"))
      .join(Selection.dsirScore(docs, model)
          .select("doc_id", "score_micro"), Seq("doc_id"), "left")
      .withColumn("score_micro", coalesce(col("score_micro"), lit(0L)))
      .withColumn("sel_key", expr(Selection.keyMicroSql))
      .select(col("doc_id"), col("source"), col("sel_key"),
        (col("score_micro").cast("double") / lit(1000000.0)).as("score"))
      .orderBy(col("sel_key").desc, col("doc_id"))
      .limit(16).collect()
    assert(got.toSeq == want.toSeq)
    // and the carried shape keeps ONE Generate / ONE scan of documents
    val plan = Selection.dsirResample(docs, model, k = 16)
      .queryExecution.executedPlan.toString
    assert(plan.split("Generate").length - 1 == 1,
      "resample must tokenize in a single Generate")
  }
}
