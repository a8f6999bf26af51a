package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.ingest.JsonlIngest
import graft.operators.Dedup

/** Round 11's streaming-ingest composition (VERDICT r10 #10): the
  * production corpus ARRIVAL path assembled from the two families
  * that were individually proven — qd49's explicit-schema PERMISSIVE
  * quarantine contract and qd54/qd57's standing-index refresh loop.
  * JSONL files land in a watched directory; each micro-batch is
  * quarantine-parsed and its GOOD rows fold into the standing dedup
  * index via [[Dedup.publishRefresh]]; the labels the loop carries
  * must equal the one-shot rebuild over everything that ever landed.
  */
class Round11StreamSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  test("qs38: streaming quarantined ledger ≡ the batch qd49 ledger") {
    // batch ≡ stream by construction (shared `ledger` transform,
    // order-free monoid aggregates) — pinned on the live corpus. The
    // driver gate then hash-checks the same claim against DuckDB.
    val got = JsonlIngest.jsonlStreamGate(spark, dir).collect().toSeq
    val want = JsonlIngest.jsonlRoundtrip(spark, dir).collect().toSeq
    assert(got == want)
  }

  test("qs39: streaming admission gate ≡ one-shot batch admission") {
    // boundary-independence made concrete: the gate drains the src19
    // batch as four separate micro-batches (repartition(4) landing,
    // maxFilesPerTrigger = 1), and its unioned verdicts must equal
    // Dedup.admitAgainst run once over the whole batch. The driver's
    // DuckDB gate then checks the same rows against qd40's exhaustive
    // batch×corpus oracle.
    val docs = graft.core.Tables.documents(spark, dir)
    val corpus = docs.where(col("source") =!= "src19")
    val bands = Dedup.bandIndex(corpus, "doc_id", "text").localCheckpoint()
    val oneShot = Dedup.admitAgainst(corpus, bands,
        docs.where(col("source") === "src19"), threshold = 0.9)
      .orderBy("doc_id").collect().toSeq
    val streamed = graft.streaming.Admission.admissionGate(spark, dir)
      .collect().toSeq
    assert(streamed == oneShot)
    assert(streamed.nonEmpty)
  }

  test("admitAgainst: rejects vs corpus only, never intra-batch") {
    // contract edge the oracle can't isolate: a batch doc that
    // duplicates ONLY another batch doc is ADMITTED — intra-batch
    // dedup is qd1/qd6's job downstream; the gate scores each arrival
    // against the standing corpus alone, which is exactly what makes
    // its verdicts micro-batch-order-free.
    import spark.implicits._
    val mk = (id: Long, t: String) => (id, t)
    val corpusText = "alpha beta gamma delta epsilon zeta eta theta " +
      "iota kappa lambda mu nu xi omicron pi rho sigma tau upsilon"
    val otherText = "one two three four five six seven eight nine ten " +
      "eleven twelve thirteen fourteen fifteen sixteen seventeen"
    val corpus = Seq(mk(1L, corpusText), mk(2L, "unrelated corpus words " +
        "entirely disjoint vocabulary nothing shared here at all with " +
        "anything else in this fixture"))
      .toDF("doc_id", "text")
    val batch = Seq(
      mk(10L, corpusText),   // exact dup of corpus doc 1 → rejected
      mk(11L, otherText),    // novel → admitted
      mk(12L, otherText))    // dup of batch doc 11 ONLY → admitted
      .toDF("doc_id", "text")
    val bands = Dedup.bandIndex(corpus, "doc_id", "text")
    val got = Dedup.admitAgainst(corpus, bands, batch, threshold = 0.9)
      .orderBy("doc_id")
      .select("doc_id", "dup_of", "is_dup")
      .collect().map(r => (r.getLong(0),
        if (r.isNullAt(1)) -1L else r.getLong(1), r.getBoolean(2))).toSeq
    assert(got == Seq((10L, 1L, true), (11L, -1L, false),
      (12L, -1L, false)))
  }

  test("qs40: streaming register state ≡ batch registers; estimate " +
    "≡ qd59's token-grain estimate; state is register-bounded") {
    val docs = graft.core.Tables.documents(spark, dir)
    val gate = graft.streaming.SketchStream.hllStreamGate(spark, dir)
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2)))
      .toMap
    // the monoid argument made concrete: the drained streaming
    // aggregate must equal the one-shot batch register fold
    val batch = graft.operators.Sketch.registerEstimate(
        graft.operators.Sketch.tokenRegisters(docs)
          .groupBy("source", "idx")
          .agg(max(col("rho")).as("mx")))
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2)))
      .toMap
    assert(gate == batch)
    // and both must equal qd59's token-grain estimate (same registers
    // through the tf-grain path)
    val prof = graft.operators.Sketch.hllProfile(docs).collect()
      .filter(_.getString(1) == "token")
      .map(r => r.getString(0) -> (r.getLong(4), r.getLong(5))).toMap
    assert(gate == prof)
    // bounded-state contract: ≤ 256 register rows per source, however
    // many tokens streamed past — the reason this replaces qs9-style
    // exact distinct state in a long-running stream
    assert(gate.nonEmpty && gate.values.forall(_._2 >= 0L))
  }

  test("arrival path: JSONL drops → quarantine → publishRefresh ≡ rebuild") {
    val docs = graft.core.Tables.documents(spark, dir)
    val isB1 = col("source") === "src18"
    val isB2 = col("source") === "src19"
    val corpus0 = docs.where(!isB1 && !isB2)
    def cluster(d: DataFrame) =
      Dedup.dupClustersStar(d,
        Dedup.minhashNearDups(d, "doc_id", "text", threshold = 0.9),
        "doc_id").select(col("id").as("doc_id"), col("cluster"))

    // the standing index "yesterday" left behind
    @volatile var standing = Dedup.StandingIndex(
      cluster(corpus0).localCheckpoint(),
      Dedup.bandIndex(corpus0, "doc_id", "text").localCheckpoint())
    // corpus text grows as batches are accepted (the refresh re-derives
    // shingles only for corpus docs that banded with a batch)
    @volatile var corpusText =
      corpus0.select("doc_id", "text").localCheckpoint()
    @volatile var corruptSeen = 0L

    // land one JSONL file per arriving batch; a torn line rides inside
    // b1's file — the quarantine must absorb it without poisoning the
    // refresh. Distinct mtimes pin the arrival order under
    // maxFilesPerTrigger = 1 (the file source processes oldest-first).
    val landing = tempDir("arrivals")
    def jsonLines(d: DataFrame): Seq[String] =
      d.select(to_json(struct(col("doc_id"), col("text"), col("lang"),
          col("source"), col("n_chars"))).as("j"))
        .collect().map(_.getString(0)).toSeq
    def land(file: String, lines: Seq[String], mtime: Long): Unit = {
      val p = java.nio.file.Paths.get(landing, file)
      java.nio.file.Files.write(p, lines.mkString("", "\n", "\n")
        .getBytes(java.nio.charset.StandardCharsets.UTF_8))
      p.toFile.setLastModified(mtime): Unit
    }
    val now = System.currentTimeMillis
    land("b1.jsonl",
      jsonLines(docs.where(isB1)) :+ "{\"doc_id\": 900001, \"text\": \"torn",
      now - 120000)
    land("b2.jsonl", jsonLines(docs.where(isB2)), now - 60000)

    graft.streaming.Drain.foreachBatch(spark,
        JsonlIngest.readQuarantinedStream(spark, JsonlIngest.DocSchema, landing)) {
      (df, _) =>
        // the quarantine seam: corrupt lines counted aside, good rows
        // folded into the standing index. localCheckpoint materializes
        // each generation off the micro-batch df (whose lineage dies
        // with the batch) — the in-memory stand-in for the parquet
        // publish Round11OpsSpec's qd57 test drives the same loop
        // through.
        corruptSeen += df.filter(col("_corrupt_record").isNotNull).count()
        val good = df.filter(col("_corrupt_record").isNull)
          .select("doc_id", "text").localCheckpoint()
        val arrival = corpusText.withColumn("is_c", lit(true))
          .union(good.withColumn("is_c", lit(false)))
        val next = Dedup.publishRefresh(standing, arrival, col("is_c"),
          threshold = 0.9)
        standing = Dedup.StandingIndex(next.labels.localCheckpoint(),
          next.bands.localCheckpoint())
        corpusText = corpusText.union(good).localCheckpoint()
    }

    assert(corruptSeen == 1L, "the torn line must land in quarantine")
    val got = standing.labels.orderBy("doc_id").collect().toSeq
    val want = cluster(docs).orderBy("doc_id").collect().toSeq
    assert(got == want,
      "streamed refresh loop must reproduce the full rebuild's labels")
    // and the carried band index matches the rebuild's, per doc
    val gotBands = standing.bands.groupBy("doc_id").count()
      .orderBy("doc_id").collect().toSeq
    val wantBands = Dedup.bandIndex(docs, "doc_id", "text")
      .groupBy("doc_id").count().orderBy("doc_id").collect().toSeq
    assert(gotBands == wantBands)
  }
}
