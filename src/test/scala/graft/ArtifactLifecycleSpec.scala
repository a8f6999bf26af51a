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

  /** A one-file "table" `dir/t.parquet` holding `v`: the stamp only
    * stats the file, so a non-parquet source is enough.
    */
  private def putSource(dir: String, v: String): Unit = {
    java.nio.file.Files.write(java.nio.file.Paths.get(dir, "t.parquet"),
      v.getBytes("UTF-8")): Unit
  }

  /** `body` over a fresh source dir holding `v`, deleted afterwards. */
  private def withSource[A](prefix: String, v: String)(body: String => A): A = {
    val dir = tempDir(prefix)
    putSource(dir, v)
    try body(dir)
    finally org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
  }

  /** A non-parquet tree: `out/v.txt` holding the source's bytes. */
  private def copyTree(dir: String)(out: String): Unit = {
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(out))
    java.nio.file.Files.copy(java.nio.file.Paths.get(dir, "t.parquet"),
      java.nio.file.Paths.get(out, "v.txt")): Unit
  }

  private def readTree(path: String): String =
    new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(path, "v.txt")), "UTF-8")

  test("ArtifactStore.publish: a tree builds once, then republishes on a source rewrite or a changed digest") {
    import graft.io.ArtifactStore
    withSource("pubsrc", "1") { dir => withArtifactName("pub_art") { name =>
      val root = new java.io.File(ArtifactStore.scratchRoot, name + "_t").getPath
      var builds = 0
      def pub(digest: String) =
        ArtifactStore.publishUnder(digest, root, dir, Seq("t")) { out =>
          builds += 1
          copyTree(dir)(out)
        }
      val p1 = pub("a")
      assert(readTree(p1) == "1" && builds == 1)
      assert(pub("a") == p1 && builds == 1,
        "same source, same program: the published tree is served")
      putSource(dir, "22") // a new size moves the stamp whatever the mtime
      val p2 = pub("a")
      assert(p2 != p1 && readTree(p2) == "22" && builds == 2,
        "a source rewritten in place republishes")
      val p3 = pub("b")
      assert(p3 != p2 && readTree(p3) == "22" && builds == 3,
        "a changed program republishes")
      assert(new java.io.File(root, "source-dir").isFile,
        "the root records its source dir")
    }}
  }

  test("ArtifactStore.publish: a throwing write publishes nothing, and the next call builds") {
    import graft.io.ArtifactStore
    withSource("pubfail", "1") { dir => withArtifactName("fail_art") { name =>
      val root = new java.io.File(ArtifactStore.scratchRoot, name + "_t")
      val e = intercept[IllegalStateException] {
        ArtifactStore.publish(root.getPath, dir, Seq("t")) { out =>
          copyTree(dir)(out)
          throw new IllegalStateException("write failed halfway")
        }
      }
      assert(e.getMessage == "write failed halfway")
      assert(root.listFiles().forall(f =>
        !f.getName.startsWith("data-") && !f.getName.startsWith("tmp-")),
        s"a failed write left a tree: ${root.list().toSeq}")
      var builds = 0
      val p = ArtifactStore.publish(root.getPath, dir, Seq("t")) { out =>
        builds += 1
        copyTree(dir)(out)
      }
      assert(builds == 1 && readTree(p) == "1")
    }}
  }

  test("ArtifactStore reaps a root whose recorded source dir is gone, after the age guard") {
    import graft.io.ArtifactStore
    withSource("livesrc", "2") { live => withArtifactName("orphan_art") { name =>
      def root(tag: String) = new java.io.File(ArtifactStore.scratchRoot, s"${name}_$tag")
      def pub(dir: String, tag: String) =
        ArtifactStore.publish(root(tag).getPath, dir, Seq("t"))(copyTree(dir))
      val gone = tempDir("orphansrc")
      putSource(gone, "1")
      pub(gone, "gone")
      // a root built before roots recorded their source dir
      val legacy = root("legacy")
      new java.io.File(legacy, "data-0").mkdirs()
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(gone))
      pub(live, "a")
      val marker = new java.io.File(root("gone"), "orphaned")
      assert(root("gone").isDirectory && marker.exists,
        "an orphan is marked, not deleted, by the publish that finds it")
      // a source regenerated at the same path revives its root
      new java.io.File(gone).mkdirs()
      pub(live, "b")
      assert(!marker.exists && root("gone").isDirectory)
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(gone))
      pub(live, "c")
      assert(marker.exists)
      marker.setLastModified(System.currentTimeMillis - 16L * 60 * 1000)
      pub(live, "d")
      assert(!root("gone").exists, "an aged orphan is reaped on a later pass")
      assert(new java.io.File(legacy, "data-0").isDirectory,
        "a root with no record is left alone")
      assert(root("a").isDirectory && root("d").isDirectory)
    }}
  }

  test("qp1's mart and qx20's eras follow an in-place rewrite of orders") {
    import graft.operators.{Extras, Marts, Relational}
    val src = "/root/testdata/sf0.001"
    val dir = tempDir("q09src")
    Seq("lineitem", "orders", "supplier", "nation").foreach { t =>
      org.apache.commons.io.FileUtils.copyToDirectory(
        new java.io.File(s"$src/$t.parquet"), new java.io.File(dir))
    }
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select(col("store").cast("int"), col("person").cast("long"),
        col("month"), col("total"), col("incentive"))
        .collect().map(_.toSeq).toSet
    def mart() = rows(spark.read.parquet(Marts.ensurePartitionedMart(spark, dir)))
    try {
      val before = mart()
      assert(before == rows(Relational.q09(spark, dir)))
      assert(Extras.schemaMergeRead(spark, dir).count() ==
        spark.read.parquet(s"$src/orders.parquet").count())
      // keep half of the orders, written over the copy in place
      val kept = spark.read.parquet(s"$src/orders.parquet")
        .filter(col("o_orderkey") % 4 =!= 0)
      kept.write.mode("overwrite").parquet(s"$dir/orders.parquet")
      val after = mart()
      assert(after != before, "the mart still reflects the old orders")
      assert(after == rows(Relational.q09(spark, dir)))
      assert(Extras.schemaMergeRead(spark, dir).count() == kept.count(),
        "the eras still reflect the old orders")
    } finally Seq(graft.io.Scratch.qp1Dir(dir), graft.io.Scratch.qx20Dir(dir), dir)
      .foreach(d => org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(d)))
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
