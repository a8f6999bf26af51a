package graft

import org.apache.spark.sql.functions._

/** Round-14 additions: the char_hist signature expression (the SQL
  * rung's one-pass histogram build), hist_l1's long accumulator, and
  * the round's new operators.
  */
class Round14OpsSpec extends SparkSpec {

  import spark.implicits._

  test("char_hist == pure-Scala reference, bins match HistChars layout") {
    val texts = Seq(
      "", "abc", "Hello World 42", "  zz  99  ",
      "ALLCAPS", "mixed CASE with 0123456789 digits",
      "punct!?.,;:-_()[]{}", "unicode éü世界 mixed",
      "a" * 500 + " " + "9" * 40)
    val rows = texts.zipWithIndex.map { case (t, i) => (i, t) }
      .toDF("i", "t")
      .select(col("i"), graft.functions.CharHist.of(col("t")).as("h"))
      .collect()
    rows.foreach { r =>
      val got = r.getAs[scala.collection.Seq[Int]]("h")
      val want = graft.functions.CharHist.reference(texts(r.getInt(0)))
      assert(got == want, s"text='${texts(r.getInt(0))}'")
      assert(got.length == 37)
    }
    // bin layout: a..z -> 0..25, space -> 26, 0..9 -> 27..36 — the
    // EditJoin.HistChars order the L1 prune's docs promise
    val h = graft.functions.CharHist.reference("a z 09")
    assert(h(0) == 1 && h(25) == 1 && h(26) == 2 &&
      h(27) == 1 && h(36) == 1)
  }

  test("char_hist counts equal the replace-mirror formulation on ASCII") {
    val docs = spark.read
      .parquet("/root/testdata/sf0.001/documents.parquet")
      .limit(200)
    val mirror = docs
      .withColumn("_lc", lower(col("text")))
      .select(col("doc_id"),
        graft.functions.CharHist.of(col("text")).as("fast"),
        array(graft.operators.EditJoin.HistChars.map(c =>
          (length(col("_lc")) - length(replace(col("_lc"), chr(lit(c)),
            lit("")))).cast("int")): _*).as("slow"))
      .filter(col("fast") =!= col("slow"))
    assert(mirror.count() == 0,
      "byte fold and replace mirror must agree on the ASCII corpus")
  }

  test("char_hist null semantics and codegen == interpreted") {
    val r = spark.sql(
      "SELECT char_hist(CAST(NULL AS STRING)) AS n, char_hist('') AS e")
      .collect()(0)
    assert(r.isNullAt(0))
    assert(r.getAs[scala.collection.Seq[Int]]("e").sum == 0)
    // interpreted path (eval) — exercised directly
    val expr = graft.functions.CharHist(
      org.apache.spark.sql.catalyst.expressions.Literal("Ab 7"))
    val arr = expr.eval(null)
      .asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
    assert(arr.toIntArray().toSeq ==
      graft.functions.CharHist.reference("Ab 7"))
  }

  test("qe25: stored cell artifact == fresh assignment (artifact parity)") {
    import graft.operators.VecAdmission
    val dir = "/root/testdata/sf0.001"
    val stored = VecAdmission.storedCells(spark, dir)
      .collect().map(r => (r.getLong(0), r.getInt(1))).toSet
    // fresh derivation through the same model cache — the artifact
    // must be a pure materialization, not a divergent build
    val fresh = VecAdmission.freshCells(spark, dir)
      .select("vec_id", "cluster")
      .collect().map(r => (r.getLong(0), r.getInt(1))).toSet
    assert(stored == fresh)
    assert(stored.nonEmpty)
  }

  test("qe25: honest partial-probe recall against the full-probe truth") {
    import graft.operators.VecAdmission
    val dir = "/root/testdata/sf0.001"
    val model = VecAdmission.corpusModel(spark, dir)
    val sq = VecAdmission.corpusSqModel(spark, dir)
    val arrivals = VecAdmission.arrivalEmb(spark, dir)
    val cells = VecAdmission.storedCells(spark, dir)
    val codes = VecAdmission.storedCodes(spark, dir)
    val corpus = VecAdmission.corpusEmb(spark, dir)
    def pairs(nProbe: Int, shortlist: Int): Set[(Long, Long)] =
      VecAdmission.admit(arrivals, cells, codes, corpus, model, sq,
          k = 10, nProbe = nProbe, shortlist = shortlist)
        .select("query_id", "vec_id")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val truth = pairs(model.k, Int.MaxValue)
    assert(truth.nonEmpty)
    // the honest production operating point: 4 of ~21 cells probed,
    // a 64-deep ADC shortlist — the recall the partial index trades
    // for scanning ~nProbe/k of the corpus. Floor measured on the
    // live corpus (FIXTURES rule: re-verify after any regeneration).
    val honest = pairs(4, 64)
    val recall = honest.intersect(truth).size.toDouble / truth.size
    info(f"qe25 recall@10 at nProbe=4, shortlist=64: $recall%.3f")
    assert(recall > 0.3 && recall <= 1.0, f"recall $recall%.3f")
    // and the shortlist genuinely cuts: a 1-deep shortlist cannot
    // reach full recall while full probe + full shortlist must
    val tiny = pairs(model.k, 1)
    assert(tiny.size < truth.size)
  }

  test("qe25: calibrated operating point reaches the 0.8 recall target") {
    import graft.operators.VecAdmission
    val dir = "/root/testdata/sf0.001"
    val model = VecAdmission.corpusModel(spark, dir)
    // the production config: cheapest (nProbe, shortlist) ladder rung
    // whose MEASURED pair recall against the full-probe truth reaches
    // 0.8 — the bandGeometry contract at the IVF tier (VERDICT r14
    // #5: the raw nProbe=4 guess measured 0.448; the gate must ship a
    // calibrated config, not a guessed one). Config + live recall are
    // recorded in BASELINE notes (FIXTURES rule on regeneration).
    val (np, sl, recall) =
      VecAdmission.calibrateOperatingPoint(spark, dir, k = 10,
        targetRecall = 0.8)
    info(f"qe25 calibrated config: nProbe=$np shortlist=$sl " +
      f"recall=$recall%.3f (of ${model.k} cells)")
    assert(recall >= 0.8, f"calibrated recall $recall%.3f")
    // the calibrated point is a genuine partial index (otherwise the
    // ladder degenerated to the parity config and measures nothing)
    assert(np < model.k, s"calibration fell back to full probe ($np)")
    // and the cache serves the same config on re-ask
    assert(VecAdmission.calibrateOperatingPoint(spark, dir, k = 10,
      targetRecall = 0.8) == ((np, sl, recall)))
  }

  test("sq8_adc == pure-Scala reference; null and mismatch semantics") {
    val words = Seq(0x0807060504030201L, 0xf0e0d0c0b0a09080L)
    val q = (1 to 16).map(i => i * 0.25)
    val widths = (1 to 16).map(i => 0.01 * i)
    val ref = graft.functions.Sq8Adc.reference(words, q, widths)
    // double-typed query arrays
    val got = spark.sql(
      s"""SELECT sq8_adc(array(${words.mkString("L,")}L),
         |  array(${q.mkString("D,")}D),
         |  array(${widths.mkString("D,")}D)) AS a""".stripMargin)
      .collect()(0).getDouble(0)
    assert(got == ref)
    // float-typed query arrays (the embeddings column type)
    val gotF = spark.sql(
      s"""SELECT sq8_adc(array(${words.mkString("L,")}L),
         |  CAST(array(${q.mkString(",")}) AS ARRAY<FLOAT>),
         |  array(${widths.mkString("D,")}D)) AS a""".stripMargin)
      .collect()(0).getDouble(0)
    val refF = graft.functions.Sq8Adc.reference(words,
      q.map(x => x.toFloat.toDouble), widths)
    assert(gotF == refF)
    // widths longer than the packed words or the query -> NULL
    val r = spark.sql(
      s"""SELECT sq8_adc(array(1L), array(1.0D),
         |    array(${Seq.fill(9)("0.5D").mkString(",")})) AS toowide,
         |  sq8_adc(CAST(NULL AS ARRAY<BIGINT>), array(1.0D),
         |    array(0.5D)) AS nullin""".stripMargin).collect()(0)
    assert(r.isNullAt(0) && r.isNullAt(1))
  }

  test("qm7: reject band is non-vacuous and invalid media is excluded") {
    val dir = "/root/testdata/sf0.001"
    val out = graft.operators.TrainingOps.crossModalAlign(spark, dir)
      .collect()
    val pairs = out.map(_.getAs[Long]("n_pairs")).sum
    val aligned = out.map(_.getAs[Long]("n_aligned")).sum
    // both sides of the band live on the real corpus (the qd28
    // non-vacuousness rule): some pairs pass, most are rejected
    assert(aligned > 0 && aligned < pairs, s"aligned=$aligned pairs=$pairs")
    // invalid blobs (doc_id % 50 == 0 containers) are quarantined
    // before scoring: the pair population must be every even-id valid
    // media doc with both embeddings present
    val emb = spark.read.parquet(s"$dir/embeddings.parquet")
      .select("vec_id").collect().map(_.getLong(0)).toSet
    val expected = emb.count(v =>
      v % 2 == 0 && v % 50 != 0 && emb.contains(v + 1))
    assert(pairs == expected.toLong)
    // alignment is a cosine: extrema stay in [-1, 1]
    out.foreach { r =>
      assert(r.getAs[Double]("min_align") >= -1.0 - 1e-9)
      assert(r.getAs[Double]("max_align") <= 1.0 + 1e-9)
    }
  }

  test("qd70: Viterbi segmentation is optimal, exhaustive-checked") {
    import graft.operators.UnigramLm
    // brute-force all segmentations into pieces of length <= MaxPiece
    def allSegs(w: String): Seq[Seq[String]] =
      if (w.isEmpty) Seq(Seq.empty)
      else (1 to math.min(UnigramLm.MaxPiece, w.length)).flatMap { t =>
        allSegs(w.drop(t)).map(w.take(t) +: _)
      }
    val words = Seq("a", "ab", "abc", "abab", "banana", "queue")
    // synthetic vocab: every substring scored by a hash-derived
    // negative integer (deterministic, collision-prone enough to
    // exercise ties)
    val vocab: Map[String, Long] = words.flatMap { w =>
      for (i <- 0 until w.length; l <- 1 to UnigramLm.MaxPiece
           if i + l <= w.length) yield w.substring(i, i + l)
    }.distinct.map(p =>
      (p, -1L - math.abs(scala.util.hashing.MurmurHash3.stringHash(p) % 7)))
      .toMap
    words.foreach { w =>
      val got = UnigramLm.segment(w, vocab)
      assert(got.mkString("") == w, s"segmentation must rebuild '$w'")
      assert(got.forall(p => p.length <= UnigramLm.MaxPiece))
      val best = allSegs(w).map(_.map(vocab).sum).max
      assert(got.map(vocab).sum == best,
        s"'$w': ${got.mkString("|")} is not optimal")
    }
  }

  test("qd70: equal-score paths resolve to the longest last piece") {
    import graft.operators.UnigramLm
    // [a, b] and [ab] both score -20: the tie-break must pick the
    // longer piece (the oracle's CASE checks t=4..1 in that order)
    val vocab = Map("a" -> -10L, "b" -> -10L, "ab" -> -20L)
    assert(UnigramLm.segment("ab", vocab) == Seq("ab"))
    // and a genuinely better split still wins over a longer piece
    val vocab2 = Map("a" -> -1L, "b" -> -1L, "ab" -> -20L)
    assert(UnigramLm.segment("ab", vocab2) == Seq("a", "b"))
  }

  test("qd70: drop rule cuts exactly bottom 20% of used multi-char pieces") {
    val out = graft.operators.UnigramLm
      .emStepQuery(spark, "/root/testdata/sf0.001").collect()
    val multi = out.filter(_.getAs[String]("piece").length > 1)
    val dropped = multi.count(!_.getAs[Boolean]("kept"))
    assert(dropped == multi.length / 5,
      s"dropped=$dropped of ${multi.length} multi-char pieces")
    // single-char pieces are never dropped (segmentability invariant)
    assert(out.filter(_.getAs[String]("piece").length == 1)
      .forall(_.getAs[Boolean]("kept")))
    // and the drop hits the weakest usage slice: max dropped usage <=
    // min kept multi-char usage under the (usage, piece) total order
    if (dropped > 0) {
      val du = multi.filter(!_.getAs[Boolean]("kept"))
        .map(_.getAs[Long]("usage")).max
      val ku = multi.filter(_.getAs[Boolean]("kept"))
        .map(_.getAs[Long]("usage")).min
      assert(du <= ku)
    }
  }

  test("qe26: in-plan filter fills k where post-filtering underfills") {
    val dir = "/root/testdata/sf0.001"
    val filtered = graft.operators.TrainingOps.knnFiltered(spark, dir)
      .collect()
    val en = spark.read.parquet(s"$dir/documents.parquet")
      .filter(col("lang") === "en")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    // every returned neighbor satisfies the predicate
    assert(filtered.forall(r => en.contains(r.getAs[Long]("vec_id"))))
    // each query gets a FULL top-10 from the filtered corpus…
    val perQuery = filtered.groupBy(_.getAs[Long]("query_id"))
      .view.mapValues(_.map(_.getAs[Long]("vec_id")).toSet).toMap
    assert(perQuery.values.forall(_.size >= 10))
    // …while post-filtering the unfiltered top-10 underfills — the
    // reason the predicate must restrict candidates BEFORE ranking
    val unfiltered = graft.operators.TrainingOps.knnBrute(spark, dir)
      .collect().groupBy(_.getAs[Long]("query_id"))
      .view.mapValues(_.map(_.getAs[Long]("vec_id")).filter(en).toSet).toMap
    assert(perQuery.keys.exists(q => unfiltered(q).size < 10),
      "expected at least one query whose post-filtered top-10 underfills")
    // and the filtered result is a superset of the post-filter
    // survivors (they are genuine en-neighbors, just not enough)
    perQuery.keys.foreach(q =>
      assert(unfiltered(q).subsetOf(perQuery(q)), s"query $q"))
  }

  test("qd71: pruned-vocab encode invariants hold corpus-wide") {
    import graft.operators.UnigramLm
    val dir = "/root/testdata/sf0.001"
    val vocab = UnigramLm.keptVocab(spark, dir)
    // segmentation over the pruned vocab rebuilds every corpus word
    // from KEPT pieces only
    val words = UnigramLm
      .wordFreq(spark.read.parquet(s"$dir/documents.parquet"))
      .select("word").collect().map(_.getString(0))
    words.foreach { w =>
      val segs = UnigramLm.segmentKept(w, vocab)
      assert(segs.mkString("") == w)
      assert(segs.forall(vocab.contains), s"'$w' used a dropped piece")
    }
    // per-doc accounting: words <= pieces <= chars, pieces >= chars/4
    val out = UnigramLm.encodeQuery(spark, dir).collect()
    assert(out.length == 500)
    out.foreach { r =>
      val (nw, np, nc) = (r.getAs[Long]("n_words"),
        r.getAs[Long]("n_pieces"), r.getAs[Long]("n_chars"))
      assert(nw <= np && np <= nc || (nw == 0 && np == 0 && nc == 0))
      assert(np * UnigramLm.MaxPiece >= nc)
      if (nw == 0) assert(r.getAs[Double]("fertility") == 1.0)
      else assert(r.getAs[Double]("fertility") == np.toDouble / nw.toDouble)
    }
    // the floor-scored unused single chars are genuinely present
    // (the segmentability invariant this round's fix restored)
    assert(('a' to 'z').forall(c =>
      !words.exists(_.contains(c)) || vocab.contains(c.toString)))
  }

  test("hist_l1 accumulates in a long: no silent Int wraparound") {
    // two elements of |Int.MaxValue| distance each — the old int
    // accumulator wrapped negative; ANSI-consistent behaviour is a
    // raised ArithmeticException
    val e = intercept[Exception] {
      spark.sql(
        s"""SELECT hist_l1(array(${Int.MaxValue}, ${Int.MaxValue}),
           |  array(0, 0)) AS l1""".stripMargin).collect()
    }
    def rootMessages(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(x =>
        Option(x.getMessage).toSeq ++ rootMessages(x.getCause))
    assert(rootMessages(e).exists(_.contains("overflow")), e.toString)
    // and a large in-range sum still lands exactly
    val ok = spark.sql(
      s"""SELECT hist_l1(array(${Int.MaxValue}, 0),
         |  array(0, 0)) AS l1""".stripMargin).collect()(0).getInt(0)
    assert(ok == Int.MaxValue)
  }
}
