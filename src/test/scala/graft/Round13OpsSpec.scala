package graft

import graft.operators.Dedup
import org.apache.spark.sql.functions._

/** Round-13 additions: exact-substring decontamination (qd66 — the
  * DuckDB oracle carries corpus exactness; these pin the cross-corpus
  * boundary semantics qd53's within-corpus keep-first does NOT share).
  */
class Round13OpsSpec extends SparkSpec {

  import spark.implicits._

  /** Constructed corpus: src0 rows are the eval slice. */
  private def run(rows: Seq[(Long, String, String)], k: Int = 3) =
    Dedup.spanDecontaminate(rows.toDF("doc_id", "text", "source"),
        "doc_id", "text", k, isEval = col("source") === "src0")
      .collect()
      .map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[String]("dedup_text"), r.getAs[Int]("n_removed"),
          r.getAs[Int]("n_spans")))).toMap

  test("qd66 boundary semantics: cross-corpus only, no keep-first") {
    val got = run(Seq(
      (1L, "a b c d e", "src0"),   // eval doc: defines the gram set
      (2L, "x a b c y", "src1"),   // k-token eval span at an offset
      (3L, "a b z c d", "src1"),   // shares tokens but no k-gram
      (4L, "a b c d e", "src1"),   // verbatim eval copy
      (5L, "p q r s p q r s", "src1"), // within-train repeat: NOT cut
      (6L, "", "src1")))           // empty doc passes through
    assert(!got.contains(1L),
      "eval docs are the benchmark, not the training set — no output row")
    assert(got(2L) == (("x y", 3, 1)),
      "a k-token eval span is cut wherever it lands")
    assert(got(3L) == (("a b z c d", 0, 0)),
      "shared tokens below the span grain must not trigger a cut")
    assert(got(4L) == (("", 5, 1)),
      "NO keep-first across the boundary: eval text must not leak at " +
        "all, so even the first training occurrence is cut")
    assert(got(5L) == (("p q r s p q r s", 0, 0)),
      "within-training repetition is qd53's job, not decontamination's")
    assert(got(6L) == (("", 0, 0)))
  }

  test("qd66: overlapping eval spans merge into one removed extent") {
    val got = run(Seq(
      (1L, "a b c d", "src0"),
      (2L, "c d e f", "src0"),
      // covered: a b c d (doc 1) and c d e f (doc 2) overlap on c d —
      // one wall-to-wall island, not two
      (3L, "a b c d e f", "src1")))
    assert(got(3L) == (("", 6, 1)),
      "touching extents from different eval docs merge into one island")
  }

  test("qd66: the declared query is value-bearing and conserves tokens") {
    val dir = "/root/testdata/sf0.001"
    val out = Dedup.spanDecontaminateQuery(spark, dir).collect()
    val docs = spark.read.parquet(s"$dir/documents.parquet")
      .select("doc_id", "text", "source").collect()
    val train = docs.filter(_.getAs[String]("source") != "src0")
    assert(out.length == train.length,
      "one output row per TRAINING document, eval docs excluded")
    // corpus-measured floor (FIXTURES.md): the gate corpus plants
    // long shifted-offset repeats that cross the src0 boundary
    assert(out.map(_.getAs[Int]("n_removed")).sum >= 100,
      "planted cross-boundary spans must produce cuts at sf0.001")
    assert(out.count(_.getAs[Int]("n_removed") > 0) >= 2,
      "multiple training docs are contaminated at sf0.001")
    def toksOf(s: String): Array[String] =
      s.toLowerCase.replaceAll("[^a-z0-9]+", " ").split(" ").filter(_.nonEmpty)
    val orig = train
      .map(r => r.getLong(0) -> toksOf(r.getString(1)).length).toMap
    out.foreach { r =>
      val id = r.getAs[Long]("doc_id")
      val keptN = toksOf(r.getAs[String]("dedup_text")).length
      assert(keptN + r.getAs[Int]("n_removed") == orig(id), s"doc $id")
      assert((r.getAs[Int]("n_spans") == 0) == (r.getAs[Int]("n_removed") == 0))
      assert(r.getAs[Int]("n_removed") >= 8 * r.getAs[Int]("n_spans"),
        s"every merged extent spans at least one full 8-gram: doc $id")
    }
    // decontamination is idempotent at the corpus grain: no kept
    // training 8-gram remains in the eval gram set
    val evalGrams = docs.filter(_.getAs[String]("source") == "src0")
      .flatMap(r => toksOf(r.getString(1)).sliding(8).map(_.mkString(" ")))
      .toSet
    out.foreach { r =>
      val kept = toksOf(r.getAs[String]("dedup_text"))
      if (kept.length >= 8)
        kept.sliding(8).map(_.mkString(" ")).foreach { g =>
          assert(!evalGrams.contains(g),
            s"doc ${r.getAs[Long]("doc_id")} still contains eval gram '$g'")
        }
    }
  }

  test("qx28: the ORC roundtrip is lossless row for row") {
    val dir = "/root/testdata/sf0.001"
    // force the write via the declared query, then compare the FULL
    // table (not just the aggregate) against the parquet source
    graft.operators.Extras.orcRoundtrip(spark, dir).collect()
    val orc = spark.read.orc(graft.operators.Extras.orcDocuments(spark, dir))
      .collect().map(_.toSeq).toSet
    val pq = spark.read.parquet(s"$dir/documents.parquet")
      .collect().map(_.toSeq).toSet
    assert(orc == pq)
    assert(pq.nonEmpty)
  }

  test("qs44 streaming edit admission == qd69 one-shot batch run") {
    // the gate's whole correctness claim: per-doc verdicts are
    // order-free, so draining the landing as four micro-batches must
    // reproduce the batch query row for row
    val dir = "/root/testdata/sf0.001"
    val streamed = graft.streaming.Admission.editAdmissionGate(spark, dir)
      .collect().map(_.toSeq).toSeq
    val batch = graft.operators.EditJoin.editAdmissionQuery(spark, dir)
      .collect().map(_.toSeq).toSeq
    assert(streamed == batch)
    assert(streamed.nonEmpty, "one verdict row per src19 doc")
  }
}
