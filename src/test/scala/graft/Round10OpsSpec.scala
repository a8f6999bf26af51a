package graft

import graft.operators.Dedup
import org.apache.spark.sql.functions._

/** Round-10 additions: exact repeated-span dedup boundary semantics
  * (qd53 — the DuckDB oracle carries corpus exactness; these pin the
  * span-boundary edge cases on constructed inputs).
  */
class Round10OpsSpec extends SparkSpec {

  import spark.implicits._

  private def run(rows: Seq[(Long, String)], k: Int = 3) =
    Dedup.spanDedup(rows.toDF("doc_id", "text"), "doc_id", "text", k)
      .collect()
      .map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[String]("dedup_text"), r.getAs[Int]("n_removed"),
          r.getAs[Int]("n_spans")))).toMap

  test("qd53 boundary semantics: keep-first, extents merge, islands count") {
    val got = run(Seq(
      1L -> "a b c d e f",        // first occurrences: survives intact
      2L -> "x y b c d e z",      // span b-c-d-e (L=4>k) at shifted offset
      3L -> "p q r P q r",        // within-doc repeat (case-folded)
      4L -> "a b",                // shorter than k: never touched
      5L -> "m a b c n d e f m",  // two disjoint repeated spans
      6L -> "a b c d e f",        // whole-doc duplicate of doc 1
      7L -> ""))                  // empty doc passes through
    assert(got(1L) == (("a b c d e f", 0, 0)),
      "the corpus-wide first occurrence of every span must survive")
    assert(got(2L) == (("x y z", 4, 1)),
      "overlapping duplicated 3-grams must merge to ONE removed extent " +
        "covering exactly the repeated 4-token span")
    assert(got(3L) == (("p q r", 3, 1)),
      "within-doc repetition dedups against the doc's own earlier span")
    assert(got(4L) == (("a b", 0, 0)))
    assert(got(5L) == (("m n m", 6, 2)),
      "disjoint repeated spans count as separate extents")
    assert(got(6L) == (("", 6, 1)),
      "a full duplicate is one wall-to-wall extent, empty survivor")
    assert(got(7L) == (("", 0, 0)))
  }

  test("qd53: adjacent removed extents merge; k-boundary exactness") {
    // doc 12's two repeated spans touch (positions 0-2 and 3-5):
    // island logic must report ONE merged extent, not two
    val got = run(Seq(
      10L -> "a b c x y z q",
      11L -> "d e f g h i q",
      12L -> "a b c d e f"))
    assert(got(12L) == (("", 6, 1)),
      "touching extents from different source spans merge into one island")
    // a (k-1)-token shared run must NOT trigger any removal
    val got2 = run(Seq(20L -> "a b c d", 21L -> "x a b y"))
    assert(got2(21L) == (("x a b y", 0, 0)),
      "a shared run shorter than k tokens is below the span grain")
  }

  test("hamming_sigs artifact == fresh signature build (parity)") {
    val dir = "/root/testdata/sf0.001"
    val art = graft.operators.TrainingOps.hammingSigs(spark, dir)
      .collect().map(_.toSeq).sortBy(_.head.asInstanceOf[Long].toString)
    val fresh = graft.operators.Similarity
      .hammingSignatures(graft.core.Tables.embeddings(spark, dir))
      .collect().map(_.toSeq).sortBy(_.head.asInstanceOf[Long].toString)
    assert(art.length == fresh.length && art.sameElements(fresh))
    // 16 words and nothing else rides the artifact
    assert(graft.operators.TrainingOps.hammingSigs(spark, dir)
      .columns.toSeq == "vec_id" +:
        (0 +: graft.operators.Similarity.hammingStrides).map(i => s"sig$i"))
  }

  test("ArtifactStore: nested leaf rewrite of a PARTITIONED source invalidates") {
    // the r9 stamp listed only top-level entries: rewriting a leaf
    // inside a partition subdir changed neither the subdir's name nor
    // its length, so a regenerated partitioned corpus could silently
    // serve a stale artifact (ADVICE r9). The recursive stamp walks
    // to the leaves.
    val root = tempDir("graft_artifact_part")
    val tbl = s"$root/t.parquet"
    Seq((1L, "a"), (2L, "b")).toDF("x", "p")
      .write.partitionBy("p").parquet(tbl)
    withArtifactName("part_art") { name =>
      var builds = 0
      def art() = graft.io.ArtifactStore
        .parquetArtifact(spark, root, "t", name) {
          builds += 1
          spark.read.parquet(tbl).select(sum("x").as("s"))
        }
      assert(art().collect()(0).getLong(0) == 3L)
      assert(builds == 1)
      art(); assert(builds == 1, "unchanged partitioned stamp must not rebuild")
      Thread.sleep(5) // mtime granularity
      // TRUE in-place rewrite: overwrite the leaf's CONTENT under its
      // existing name — the parent dir's own name/length/mtime all stay
      // put, which is exactly the case the one-level stamp was blind to
      Seq((10L, "a")).toDF("x", "p").write.mode("overwrite")
        .partitionBy("p").parquet(s"$root/t_new.parquet")
      val oldLeaf = new java.io.File(s"$tbl/p=a").listFiles
        .filter(_.getName.endsWith(".parquet")).head
      val newLeaf = new java.io.File(s"$root/t_new.parquet/p=a").listFiles
        .filter(_.getName.endsWith(".parquet")).head
      java.nio.file.Files.copy(newLeaf.toPath, oldLeaf.toPath,
        java.nio.file.StandardCopyOption.REPLACE_EXISTING)
      // the overwritten bytes no longer match the Hadoop .crc sidecar;
      // drop it (the checksum FS treats a missing sidecar as ok)
      new java.io.File(oldLeaf.getParentFile,
        "." + oldLeaf.getName + ".crc").delete()
      assert(art().collect()(0).getLong(0) == 12L,
        "nested leaf rewrite must invalidate the artifact")
      assert(builds == 2)
    }
  }

  test("qd53: the declared query is value-bearing and conserves tokens") {
    val dir = "/root/testdata/sf0.001"
    val out = Dedup.spanDedupQuery(spark, dir)
    val rows = out.collect()
    val docs = spark.read.parquet(s"$dir/documents.parquet").count()
    assert(rows.length == docs, "one output row per document")
    assert(rows.map(_.getAs[Int]("n_removed")).sum > 0,
      "planted near-duplicates must produce removed spans")
    // conservation: kept tokens + removed tokens == original tokens,
    // and every removed extent is at least one merged span
    def toksOf(s: String): Array[String] =
      s.toLowerCase.replaceAll("[^a-z0-9]+", " ").split(" ").filter(_.nonEmpty)
    val orig = spark.read.parquet(s"$dir/documents.parquet")
      .select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> toksOf(r.getString(1)).length).toMap
    rows.foreach { r =>
      val id = r.getAs[Long]("doc_id")
      val keptN = toksOf(r.getAs[String]("dedup_text")).length
      assert(keptN + r.getAs[Int]("n_removed") == orig(id), s"doc $id")
      assert((r.getAs[Int]("n_spans") == 0) == (r.getAs[Int]("n_removed") == 0))
      // disjoint merged extents each contain >= one full 8-gram range
      assert(r.getAs[Int]("n_removed") >= 8 * r.getAs[Int]("n_spans"),
        s"doc $id extent floor")
    }
  }

  test("qd54 contraction core: join, merge-bridge, new cluster, singleton") {
    // standing corpus: clusters {1,2} (label 1), {3,4} (label 3),
    // singleton {5} (label 5), untouched {6} (label 6)
    val standing = Seq(1L -> 1L, 2L -> 1L, 3L -> 3L, 4L -> 3L,
      5L -> 5L, 6L -> 6L).toDF("doc_id", "cluster")
    val batch = Seq(10L, 11L, 12L, 13L, 14L).toDF("doc_id")
    val edges = Seq(
      10L -> 2L,  // batch 10 joins cluster 1 via member 2...
      10L -> 3L,  // ...AND bridges cluster 3 => clusters 1+3 MERGE
      11L -> 5L,  // batch 11 joins singleton 5
      12L -> 13L  // batch-internal pair => NEW cluster labeled 12
    ).toDF("doc_a", "doc_b") // batch 14: singleton, self-labeled
    val got = Dedup.refreshLabelsOn(standing, batch, edges)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val want = Map(
      1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L, 10L -> 1L, // merged
      5L -> 5L, 11L -> 5L,                               // joined
      12L -> 12L, 13L -> 12L,                            // new
      6L -> 6L, 14L -> 14L)                              // untouched
    assert(got == want)
  }

  test("qd54: refresh over the stored standing index ≡ full rebuild") {
    // the equivalence the contraction argument claims, pinned on the
    // live corpus: standing = src0-only clusters (stored artifact),
    // refresh with the other sources ≡ qd13's full-corpus components
    val dir = "/root/testdata/sf0.001"
    val got = graft.operators.TrainingOps.refreshedDupLabels(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val full = graft.operators.TrainingOps.dupClusters(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(got.sorted.sameElements(full.sorted),
      "incremental refresh must reproduce the full rebuild's labels")
    // no reap needed: the operators' internal materializations are
    // eager localCheckpoints, freed on GC by the ContextCleaner
  }

  test("qd55: DSIR weight math, vocab-cap binding, zero-match docs") {
    import graft.operators.Selection
    // target doc is all "aa"; pool adds "bb"-heavy and an OOV-only doc
    val docs = Seq(
      (1L, "aa aa bb", "src0"),
      (2L, "bb bb bb aa", "srcX"),
      (3L, "zz zz", "srcX"),   // zz drops out under vocabCap=2
      (4L, "", "srcX")         // empty text: score 0, matched 0
    ).toDF("doc_id", "text", "source")
    val got = Selection.dsirWeights(docs, col("source") === "src0",
        vocabCap = 2)
      .collect()
      .map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[Long]("score_micro"), r.getAs[Long]("matched_toks"))))
      .toMap
    // vocab (top-2 by c_all desc, token): bb(c_all=4,c_tgt=1),
    // aa(c_all=3,c_tgt=2); vn=2, t_all=7, t_tgt=3
    def w(cTgt: Long, cAll: Long): Long =
      math.floor((math.log((cTgt + 1.0) / (3 + 2.0))
        - math.log((cAll + 1.0) / (7 + 2.0))) * 1e6 + 0.5).toLong
    val wAa = w(2, 3); val wBb = w(1, 4)
    assert(wAa > 0 && wBb < 0, "seed-heavy token up, pool-heavy down")
    assert(got(1L) == ((2 * wAa + 1 * wBb, 3L)))
    assert(got(2L) == ((1 * wAa + 3 * wBb, 4L)))
    assert(got(3L) == ((0L, 0L)),
      "a doc of only beyond-cap vocabulary scores 0 with 0 matches")
    assert(got(4L) == ((0L, 0L)), "empty docs survive with score 0")
  }

  test("qd55: scoring is ONE tokenize pass over a broadcast weight table") {
    val df = graft.operators.Selection
      .dsirQuery(spark, "/root/testdata/sf0.001")
    val p = df.queryExecution.executedPlan.toString
    // the corpus text is tokenized exactly once at scoring time (the
    // trainer is its own amortized pass — dsirModel); the weight
    // table joins as a broadcast build side, never an exchange
    assert("Generate explode".r.findAllIn(p).size == 1, p)
    assert(p.contains("BroadcastExchange"), p)
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("qd56: Gumbel-top-k key math binds to the hand-computed draw") {
    import graft.operators.Selection
    val docs = Seq(
      (1L, "aa aa bb", "src0"),
      (2L, "bb bb bb aa", "srcX"),
      (3L, "zz zz", "srcX"),
      (4L, "", "srcX")
    ).toDF("doc_id", "text", "source")
    val model = Selection.trainDsir(docs, col("source") === "src0",
      vocabCap = 2)
    // hand recompute: same weight quantization as the qd55 spec...
    def w(cTgt: Long, cAll: Long): Long =
      math.floor((math.log((cTgt + 1.0) / (3 + 2.0))
        - math.log((cAll + 1.0) / (7 + 2.0))) * 1e6 + 0.5).toLong
    val scoreMicro = Map(
      1L -> (2 * w(2, 3) + 1 * w(1, 4)),
      2L -> (1 * w(2, 3) + 3 * w(1, 4)),
      3L -> 0L, 4L -> 0L)
    // ...then the Gumbel key over the portable fingerprint uniform
    val text = Map(1L -> "aa aa bb", 2L -> "bb bb bb aa",
      3L -> "zz zz", 4L -> "")
    def key(id: Long): Long = {
      val fp = graft.functions.DocFingerprint.reference(text(id))
      val u = ((fp % 4096).toDouble + 0.5) / 4096.0
      math.floor((scoreMicro(id) / 1e6 - math.log(-math.log(u))) * 1e6
        + 0.5).toLong
    }
    val expect = Seq(1L, 2L, 3L, 4L)
      .map(id => (id, key(id))).sortBy { case (id, k) => (-k, id) }
    val got = Selection.dsirResample(docs, model, k = 4).collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("sel_key")))
      .toSeq
    assert(got == expect, s"got $got expect $expect")
  }

  test("qd56: top-k plans as TakeOrderedAndProject, no global sort") {
    val df = graft.operators.Selection
      .resampleQuery(spark, "/root/testdata/sf0.001")
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("TakeOrderedAndProject"), p)
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"), p)
    // the importance property on the live corpus: the drawn sample's
    // mean score must exceed the corpus mean (exp(score)-biased draw)
    val sel = df.agg(avg("score")).first().getDouble(0)
    val all = graft.operators.Selection
      .dsirQuery(spark, "/root/testdata/sf0.001")
      .agg(avg("score")).first().getDouble(0)
    assert(sel > all,
      s"resampled mean $sel should exceed corpus mean $all")
  }

  test("qd55: cached-model scoring ≡ inline-trained scoring") {
    import graft.operators.Selection
    val dir = "/root/testdata/sf0.001"
    val docs = graft.core.Tables.documents(spark, dir)
    val viaCache = Selection.dsirQuery(spark, dir).collect()
    val inline = Selection
      .dsirWeights(docs, col("source") === "src0").collect()
    assert(viaCache.sameElements(inline),
      "the amortized model must reproduce the inline trainer bit-for-bit")
  }
}
