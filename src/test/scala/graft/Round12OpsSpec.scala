package graft

import org.apache.spark.sql.functions._

/** Round-12 additions: the count-min heavy-hitter sketch (qd62) and
  * its streaming twin (qs41) — the third bounded-state profiling
  * monoid next to the HLL registers (qd59) and the log-bucket
  * histogram (qd61).
  */
class Round12OpsSpec extends SparkSpec {
  import spark.implicits._
  import graft.operators.Sketch

  /** The oracle-side hash chain, reimplemented independently: affine
    * pre-mix, two-round avalanche, top-8-bit bucket.
    */
  private def refBucket(item: String, row: Int): Long = {
    var fp = 0L
    item.codePoints().toArray.foreach { cp =>
      fp = (fp * 31L + cp) % graft.functions.DocFingerprint.Modulus
    }
    val (a, b) = Sketch.cmPerms(row)
    val mixed = (fp * a + b) % 2147483647L
    val h1 = (mixed * 2654435761L) % 2147483648L
    val ha = h1 ^ (h1 >> 15)
    val h3 = (ha * 2246822519L) % 2147483648L
    val h2 = h3 ^ (h3 >> 13)
    h2 >> 23
  }

  test("qd62: counters match a hand-computed reference on a tiny corpus") {
    val docs = Seq(
      (1L, "alpha beta alpha", "srcA"),
      (2L, "beta gamma", "srcA"),
      (3L, "alpha", "srcB"))
      .toDF("doc_id", "text", "source")
    val got = Sketch.cmCounters(
        docs.select(col("source"),
            explode(graft.operators.Dedup.tokens(col("text"))).as("item"))
          .groupBy("source", "item").agg(count(lit(1)).as("tf")))
      .collect()
      .map(r => ((r.getString(0), r.getInt(1), r.getLong(2)), r.getLong(3)))
      .toMap
    // independent reference: fold each (source, token, count) into
    // 4 × 256 counters through the reimplemented hash chain
    val tf = Map(("srcA", "alpha") -> 2L, ("srcA", "beta") -> 2L,
      ("srcA", "gamma") -> 1L, ("srcB", "alpha") -> 1L)
    val want = tf.toSeq
      .flatMap { case ((s, tok), n) =>
        (0 until Sketch.CmDepth).map(r => ((s, r, refBucket(tok, r)), n))
      }
      .groupBy(_._1).view.mapValues(_.map(_._2).sum).toMap
    assert(got == want)
    // and row 0's buckets coincide with qd59's HLL register indexes
    // (shared derivation, spec-checkable cross-sketch)
    val hllIdx = Sketch.tokenRegisters(docs)
      .select("idx").distinct().collect().map(_.getLong(0)).toSet
    val row0 = got.keySet.filter(_._2 == 0).map(_._3)
    assert(row0.subsetOf(hllIdx))
  }

  test("qd62: est >= exact always (the count-min guarantee), top-5 shape") {
    val out = Sketch.cmQuery(spark, "/root/testdata/sf0.001").collect()
    assert(out.nonEmpty)
    out.foreach { r =>
      val exact = r.getAs[Long]("exact_tf")
      val est = r.getAs[Long]("cm_est")
      assert(est >= exact,
        s"count-min must never underestimate: $r")
      assert(r.getAs[Long]("over_micro") >= 0L)
    }
    // exactly 5 ranks per source, ranks 1..5, exact_tf descending
    out.groupBy(_.getAs[String]("source")).foreach { case (s, rows) =>
      assert(rows.map(_.getAs[Int]("rnk")).sorted.sameElements(1 to 5), s)
      val tfs = rows.sortBy(_.getAs[Int]("rnk")).map(_.getAs[Long]("exact_tf"))
      assert(tfs.zip(tfs.tail).forall { case (a, b) => a >= b }, s)
    }
  }

  test("qd62: counter state is geometry-bounded, not vocabulary-bounded") {
    val tfc = graft.core.Tables.documents(spark, "/root/testdata/sf0.001")
      .select(col("source"),
        explode(graft.operators.Dedup.tokens(col("text"))).as("item"))
      .groupBy("source", "item").agg(count(lit(1)).as("tf"))
    val counters = Sketch.cmCounters(tfc)
    val perSource = counters.groupBy("source").count().collect()
    perSource.foreach { r =>
      assert(r.getLong(1) <= Sketch.CmDepth.toLong * Sketch.CmWidth,
        s"counter rows per source must be <= 4*256: $r")
    }
    // mass conservation per row: each row's counters sum to the total
    // token count (every occurrence lands in exactly one bucket/row)
    val total = tfc.agg(sum("tf")).collect().head.getLong(0)
    val perRow = counters.groupBy("r").agg(sum("cnt").as("s")).collect()
    assert(perRow.length == Sketch.CmDepth)
    perRow.foreach(r => assert(r.getLong(1) == total, s"row $r"))
  }

  test("qd63: bottom-k sample is the hand-sorted k smallest distinct hashes") {
    val docs = Seq(
      (1L, "alpha beta gamma delta", "srcA"),
      (2L, "beta epsilon zeta", "srcA"),
      (3L, "eta theta", "srcB"))
      .toDF("doc_id", "text", "source")
    // independent reference: fingerprint + avalanche per token
    def h2(item: String): Long = {
      var fp = 0L
      item.codePoints().toArray.foreach { cp =>
        fp = (fp * 31L + cp) % graft.functions.DocFingerprint.Modulus
      }
      val h1 = (fp * 2654435761L) % 2147483648L
      val ha = h1 ^ (h1 >> 15)
      val h3 = (ha * 2246822519L) % 2147483648L
      h3 ^ (h3 >> 13)
    }
    val got = Sketch.bottomkSample(docs, k = 3)
      .orderBy("source", "rnk").collect()
      .map(r => (r.getString(0), r.getInt(2), r.getLong(1)))
    val want = Map(
      "srcA" -> Seq("alpha", "beta", "gamma", "delta", "epsilon", "zeta"),
      "srcB" -> Seq("eta", "theta"))
      .flatMap { case (s, ts) =>
        ts.map(h2).distinct.sorted.take(3).zipWithIndex
          .map { case (h, i) => (s, i + 1, h) }
      }.toSeq.sortBy(t => (t._1, t._2))
    assert(got.toSeq == want)
  }

  test("BottomKAggregator: distinct, sorted, capped, order-free merge") {
    val agg = new graft.functions.BottomKAggregator(4)
    val xs = Seq(9L, 3L, 3L, 7L, 1L, 8L, 1L, 5L, 2L)
    val l = xs.foldLeft(agg.zero)(agg.reduce)
    assert(l == Seq(1L, 2L, 3L, 5L), "k smallest DISTINCT, sorted")
    // merge of any split equals the whole (the qs42 monoid argument)
    for (cut <- 0 to xs.length) {
      val (a, b) = xs.splitAt(cut)
      val m = agg.merge(a.foldLeft(agg.zero)(agg.reduce),
        b.foldLeft(agg.zero)(agg.reduce))
      assert(m == l, s"split at $cut")
      assert(agg.merge(b.foldLeft(agg.zero)(agg.reduce),
        a.foldLeft(agg.zero)(agg.reduce)) == l, s"commuted at $cut")
    }
  }

  test("qd63: under-k sources report exactly; estimator internally consistent") {
    val out = Sketch.bottomkQuery(spark, "/root/testdata/sf0.001").collect()
    assert(out.nonEmpty)
    out.foreach { r =>
      val (kept, kth) = (r.getAs[Long]("n_kept"), r.getAs[Long]("kth_hash"))
      val (exact, est) =
        (r.getAs[Long]("exact_distinct"), r.getAs[Long]("bk_est"))
      assert(kept <= Sketch.BottomK)
      if (kept < Sketch.BottomK)
        assert(est == exact && exact == kept,
          s"a source smaller than k IS its own sample: $r")
      else
        assert(est == math.floor(
          (Sketch.BottomK - 1).toDouble * 2147483648.0 /
            math.max(kth, 1L) + 0.5).toLong, s"estimator formula: $r")
    }
  }

  test("qs42: drained streaming bottom-k ≡ batch sample; gate ≡ qd63") {
    val dir = "/root/testdata/sf0.001"
    val landing = graft.streaming.SketchStream.landJsonl(spark, dir)
    val drained = graft.streaming.SketchStream
      .streamBottomk(spark, landing)
      .orderBy("source", "h2").collect()
      .map(r => (r.getString(0), r.getLong(1))).toSeq
    val batch = Sketch
      .bottomkSample(graft.core.Tables.documents(spark, dir))
      .orderBy("source", "h2").collect()
      .map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(drained == batch,
      "min-k over a set is an order-free monoid: any micro-batch " +
        "split must drain to the batch bottom-k")
    val gate = graft.streaming.SketchStream.bottomkStreamGate(spark, dir)
      .collect().toSeq
    val want = Sketch.bottomkQuery(spark, dir).collect().toSeq
    assert(gate == want)
  }

  test("qd64: identical sources read 1.0, disjoint read 0; bounds hold") {
    // the estimator's two exact endpoints: equal token sets share
    // their entire (coordinated) sketch; disjoint sets share none
    val docs = Seq(
      (1L, "alpha beta gamma delta epsilon", "srcA"),
      (2L, "alpha beta gamma delta epsilon", "srcB"),
      (3L, "zeta eta theta iota kappa", "srcC"))
      .toDF("doc_id", "text", "source")
    val out = Sketch.bottomkResemblance(docs, k = 4).collect()
      .map(r => ((r.getString(0), r.getString(1)),
        (r.getAs[Long]("jacc_micro"), r.getAs[Long]("jacc_est_micro"))))
      .toMap
    assert(out(("srcA", "srcB")) == ((1000000L, 1000000L)))
    assert(out(("srcA", "srcC"))._1 == 0L)
    assert(out(("srcA", "srcC"))._2 == 0L)
  }

  test("qd64: internal consistency on the gate corpus") {
    val out = Sketch.bottomkResQuery(spark, "/root/testdata/sf0.001")
      .collect()
    assert(out.nonEmpty)
    out.foreach { r =>
      val (ku, sh) = (r.getAs[Long]("k_union"), r.getAs[Long]("shared_in_k"))
      assert(ku >= 1L && ku <= Sketch.BottomK, s"$r")
      assert(sh >= 0L && sh <= ku, s"$r")
      assert(r.getAs[Long]("jacc_est_micro") ==
        math.floor(sh.toDouble / ku.toDouble * 1e6 + 0.5).toLong, s"$r")
      assert(r.getAs[Long]("exact_overlap") <=
        math.min(r.getAs[Long]("exact_a"), r.getAs[Long]("exact_b")), s"$r")
    }
  }

  test("qs43: drained streaming histogram ≡ batch; gate report ≡ qd61") {
    val dir = "/root/testdata/sf0.001"
    val landing = graft.streaming.SketchStream.landJsonl(spark, dir)
    val drained = graft.streaming.SketchStream
      .streamLengthHist(spark, landing)
      .orderBy("source", "idx").collect().toSeq
    val batch = Sketch
      .lengthBuckets(graft.core.Tables.documents(spark, dir))
      .groupBy("source", "idx").agg(count(lit(1)).as("n_in"))
      .orderBy("source", "idx").collect().toSeq
    assert(drained == batch,
      "bucket counts are a summable monoid: any micro-batch split " +
        "must drain to the batch histogram")
    // state bound: ≤ 8·60+1 bucket rows per source
    drained.groupBy(_.getString(0)).foreach { case (s, rows) =>
      assert(rows.length <= 481, s)
    }
    val gate = graft.streaming.SketchStream.quantileStreamGate(spark, dir)
      .collect().toSeq
    val want = Sketch.quantileQuery(spark, dir).collect().toSeq
    assert(gate == want)
  }

  test("qs41: drained streaming counters ≡ batch; gate report ≡ qd62") {
    val dir = "/root/testdata/sf0.001"
    val landing = graft.streaming.SketchStream.landJsonl(spark, dir)
    val drained = graft.streaming.SketchStream
      .streamCmCounters(spark, landing)
      .orderBy("source", "r", "b").collect().toSeq
    val batch = Sketch.cmCounters(
        graft.core.Tables.documents(spark, dir)
          .where(col("text").isNotNull)
          .select(col("source"),
            explode(graft.operators.Dedup.tokens(col("text"))).as("item"))
          .groupBy("source", "item").agg(count(lit(1)).as("tf")))
      .orderBy("source", "r", "b").collect().toSeq
    assert(drained == batch,
      "counter sums are an order-free monoid: any micro-batch split " +
        "must drain to the batch counter table")
    val gate = graft.streaming.SketchStream.cmStreamGate(spark, dir)
      .collect().toSeq
    val want = Sketch.cmQuery(spark, dir).collect().toSeq
    assert(gate == want)
  }
}
