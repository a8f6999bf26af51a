package graft

import org.apache.spark.sql.functions._

/** Round-15 additions: the unigram-LM seed cap (bounded-model
  * contract), codepoint-safe segmentation, EM round 2, the composed
  * admission verdict, and the ADVICE r14 rewrite fix.
  */
class Round15OpsSpec extends SparkSpec {

  import graft.operators.UnigramLm

  test("qd70: seed cap bounds the model — no hapax multi-char pieces") {
    val dir = "/root/testdata/sf0.001"
    val out = UnigramLm.emStepQuery(spark, dir).collect()
    // the bounded-model contract: every multi-char piece in the model
    // repeats at least MinSeedCount times in the corpus windows
    out.filter(_.getAs[String]("piece").length > 1).foreach { r =>
      assert(r.getAs[Long]("seed_count") >= UnigramLm.MinSeedCount,
        s"capped-out piece '${r.getAs[String]("piece")}' in the model")
    }
    // single chars are cap-exempt (the segmentability floor): every
    // corpus character survives in the MODEL TABLE regardless of its
    // count (the EM output then carries only the USED slice)
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val chars = UnigramLm.wordFreq(docs)
      .select(explode(split(col("word"), "")).as("ch"))
      .where(col("ch") =!= "").distinct().count()
    val modelSingles = UnigramLm.pieceTable(UnigramLm.wordFreq(docs))
      .where(length(col("piece")) === 1).count()
    assert(modelSingles == chars,
      s"model singles $modelSingles vs corpus chars $chars")
    // and the cap BINDS on this corpus — the contract is live, not
    // vacuous: the uncapped window table is strictly larger
    val uncapped = UnigramLm.wordFreq(docs)
      .select(explode(expr(
        "flatten(array(regexp_extract_all(word, '(?=(.{2})).', 1)," +
          " regexp_extract_all(word, '(?=(.{3})).', 1)," +
          " regexp_extract_all(word, '(?=(.{4})).', 1)))")).as("piece"))
      .distinct().count()
    assert(out.count(_.getAs[String]("piece").length > 1) < uncapped,
      s"cap did not bind: $uncapped distinct multi-char windows")
  }

  test("segmentation DP counts codepoints, not UTF-16 units") {
    // a word with a non-BMP char (surrogate pair in UTF-16): the DP
    // must advance by CODEPOINT so pieces slice on codepoint
    // boundaries — the seed windows (Java-regex `.`), Spark length()
    // and the DuckDB oracle's substring all count codepoints
    val w = "a𝄞b" // a 𝄞 b — 3 codepoints, 4 UTF-16 units
    val pieces = Seq("a", "𝄞", "b", "a𝄞",
      "𝄞b", "a𝄞b")
    val vocab = pieces.map(p => (p, -10L * p.codePointCount(0, p.length)))
      .toMap
    val got = UnigramLm.segment(w, vocab)
    assert(got.mkString("") == w)
    // every emitted piece is a whole-codepoint slice present in the
    // vocab (a half-surrogate piece would miss and throw in strict
    // mode — the ADVICE r14 crash this fix removes)
    got.foreach(p => assert(vocab.contains(p), s"piece '$p'"))
    // tie-break still prefers the longest piece at equal score
    assert(got == Seq(w), s"expected the single 3-codepoint piece: $got")
  }

  test("qd72: round-2 EM invariants (drop rule, single-char floor)") {
    val dir = "/root/testdata/sf0.001"
    val out = UnigramLm.emRound2(spark, dir).collect()
    // round 2 segments under round 1's PRUNED vocab: every used piece
    // is a kept round-1 piece (or a floor-scored single char)
    val v1 = UnigramLm.keptVocab(spark, dir)
    out.foreach(r =>
      assert(v1.contains(r.getAs[String]("piece")),
        s"round-2 used a piece round 1 dropped: ${r.getAs[String]("piece")}"))
    // same exact-integer drop rule as round 1
    val multi = out.filter(_.getAs[String]("piece").length > 1)
    val dropped = multi.count(!_.getAs[Boolean]("kept"))
    assert(dropped == multi.length / 5,
      s"dropped=$dropped of ${multi.length}")
    assert(out.filter(_.getAs[String]("piece").length == 1)
      .forall(_.getAs[Boolean]("kept")))
    if (dropped > 0) {
      val du = multi.filter(!_.getAs[Boolean]("kept"))
        .map(_.getAs[Long]("usage")).max
      val ku = multi.filter(_.getAs[Boolean]("kept"))
        .map(_.getAs[Long]("usage")).min
      assert(du <= ku)
    }
    // usage conservation: round-2 piece usage covers every word
    // occurrence's pieces — total usage >= total word count (each
    // word contributes >= 1 piece)
    val totalWords = UnigramLm
      .wordFreq(spark.read.parquet(s"$dir/documents.parquet"))
      .agg(sum("c")).collect()(0).getLong(0)
    assert(out.map(_.getAs[Long]("usage")).sum >= totalWords)
  }

  test("qd73: round 3 runs under round 2's vocab; the loop converges sanely") {
    val dir = "/root/testdata/sf0.001"
    val out3 = UnigramLm.emRound3(spark, dir).collect()
    val v2 = UnigramLm.kept2Vocab(spark, dir)
    out3.foreach(r =>
      assert(v2.contains(r.getAs[String]("piece")),
        s"round 3 used a piece round 2 dropped: ${r.getAs[String]("piece")}"))
    // same exact-integer drop rule, round 3
    val multi = out3.filter(_.getAs[String]("piece").length > 1)
    assert(multi.count(!_.getAs[Boolean]("kept")) == multi.length / 5)
    // the loop PRUNES: the multi-char vocab shrinks (weakly) round
    // over round — the SentencePiece convergence direction
    val m2 = UnigramLm.emRound2(spark, dir).collect()
      .count(_.getAs[String]("piece").length > 1)
    assert(multi.length <= m2,
      s"round-3 multi-char vocab $m2 -> ${multi.length} must not grow")
  }

  test("qs46: composed verdict equals the conjunction of the three gates") {
    val dir = "/root/testdata/sf0.001"
    val composed = graft.streaming.Admission
      .composedAdmissionGate(spark, dir).collect()
      .map(r => (r.getAs[Long]("doc_id"),
        (r.getAs[Boolean]("minhash_dup"), r.getAs[Boolean]("edit_dup"),
          r.getAs[Boolean]("vec_neighbor"), r.getAs[Boolean]("admit"))))
      .toMap
    val mh = graft.streaming.Admission.admissionGate(spark, dir)
      .collect().map(r => (r.getAs[Long]("doc_id"),
        r.getAs[Boolean]("is_dup"))).toMap
    val ed = graft.streaming.Admission.editAdmissionGate(spark, dir)
      .collect().map(r => (r.getAs[Long]("doc_id"),
        r.getAs[Boolean]("is_dup"))).toMap
    val vecTop = graft.streaming.Admission.vecAdmissionGate(spark, dir)
      .collect().groupBy(_.getAs[Long]("query_id"))
      .view.mapValues(_.map(_.getAs[Double]("sim")).max).toMap
    assert(composed.keySet == mh.keySet && composed.keySet == ed.keySet)
    composed.foreach { case (id, (m, e, v, a)) =>
      assert(m == mh(id), s"minhash leg diverges for $id")
      assert(e == ed(id), s"edit leg diverges for $id")
      val vTruth = vecTop.get(id).exists(
        _ >= graft.streaming.Admission.VecNeighborThreshold)
      assert(v == vTruth, s"vector leg diverges for $id")
      assert(a == !(m || e || v), s"conjunction diverges for $id")
    }
    // non-vacuous on the gate corpus: both verdict classes live, and
    // each text leg fires somewhere (sf0.001 plants 3 dups per leg)
    assert(composed.values.exists(_._4) && composed.values.exists(!_._4))
    assert(composed.values.exists(_._1) && composed.values.exists(_._2))
  }

  test("qe27: hard negatives differ in lang from their anchor, fill k") {
    val dir = "/root/testdata/sf0.001"
    val out = graft.operators.TrainingOps.knnHardNegatives(spark, dir)
      .collect()
    val lang = spark.read.parquet(s"$dir/documents.parquet")
      .select("doc_id", "lang").collect()
      .map(r => (r.getLong(0), r.getString(1))).toMap
    // every negative is a genuine non-member of the anchor's label
    out.foreach { r =>
      val (q, v) = (r.getAs[Long]("query_id"), r.getAs[Long]("vec_id"))
      assert(lang(v) != lang(q), s"anchor $q got a same-lang negative $v")
    }
    // each anchor fills its full top-10 (the complement pool is
    // hundreds deep on this corpus — FIXTURES)
    val perQ = out.groupBy(_.getAs[Long]("query_id"))
    assert(perQ.size == graft.operators.TrainingOps.knnQueryIds.size)
    perQ.values.foreach(rs =>
      assert(rs.map(_.getAs[Int]("rnk")).toSet.size >= 10))
    // and the negatives are HARD: each anchor's top negative is more
    // similar than its complement pool's median member (non-vacuous
    // mining, not random sampling)
    perQ.foreach { case (_, rs) =>
      val sims = rs.map(_.getAs[Double]("sim"))
      assert(sims.max > 0, "top hard negative should be positive-sim " +
        "on this corpus")
    }
  }

  test("banded rewrite skips the length guard for non-deterministic operands") {
    import org.apache.spark.sql.catalyst.dsl.expressions._
    import org.apache.spark.sql.catalyst.dsl.plans._
    import org.apache.spark.sql.catalyst.expressions._
    val rel = org.apache.spark.sql.catalyst.plans.logical.LocalRelation(
      Symbol("a").string, Symbol("b").string)
    def rewritten(l: Expression, r: Expression): Expression =
      graft.plans.BandedLevenshteinRewrite(
        rel.where(LessThanOrEqual(Levenshtein(l, r, None), Literal(5))))
        .collectFirst {
          case f: org.apache.spark.sql.catalyst.plans.logical.Filter =>
            f.condition
        }.get
    // deterministic operands: guard AND banded form
    val det = rewritten(rel.output.head, rel.output(1))
    assert(det.collectFirst { case l: Length => l }.isDefined)
    assert(det.collectFirst {
      case Levenshtein(_, _, Some(_)) => true }.isDefined)
    // a non-deterministic operand: banded form WITHOUT the guard —
    // duplicating the operand into Length would evaluate it twice
    // with different values (ADVICE r14)
    val nd = rewritten(
      new org.apache.spark.sql.catalyst.expressions.Uuid(Some(42L)),
      rel.output(1))
    assert(nd.collectFirst { case l: Length => l }.isEmpty,
      s"guard duplicated a non-deterministic operand: $nd")
    assert(nd.collectFirst {
      case Levenshtein(_, _, Some(_)) => true }.isDefined,
      s"banded rewrite must still apply: $nd")
  }
}
