package graft

import graft.operators.TrainingOps
import org.apache.spark.sql.functions._

/** Value-level checks for the round-5 additions (the DuckDB oracle
  * carries exactness at sf0.01/sf0.1; these pin the semantics
  * driver-side on sf0.001).
  */
class TrainingOpsExtraSpec extends SparkSpec {

  val sf = "/root/testdata/sf0.001"

  private def gramsOf(text: String): Set[String] = {
    val toks = text.toLowerCase.split("[^a-z0-9]+").filter(_.nonEmpty).toSeq
    if (toks.length >= 3) toks.sliding(3).map(_.mkString(" ")).toSet
    else Set(toks.mkString(" "))
  }

  test("minhash estimate: identical docs estimate 1.0, estimates track exact jaccard") {
    import spark.implicits._
    val near = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    val docs = Seq(
      (1L, near), (2L, near),                       // identical: J = 1
      (3L, near + " lambda"),                       // near-dup of 2
      (4L, "one two three four five six seven"))    // unrelated to 3
      .toDF("doc_id", "text")
    val est = TrainingOps.minhashEstimateOn(docs)
      .collect().map(r => r.getAs[Long]("doc_a") ->
        (r.getAs[Int]("n_match"), r.getAs[Double]("est_jaccard"))).toMap
    assert(est(1L) == ((16, 1.0)), "identical docs share every minimum")
    // a per-component estimate is a Bernoulli(J) mean: with J ~ 0.73
    // for the planted near-dup and J = 0 for the unrelated pair, the
    // orderings below hold for any sane permutation set (and the
    // values are deterministic given portablePerms — the oracle
    // pins them exactly; this pins the MONOTONICITY)
    assert(est(2L)._2 > est(3L)._2,
      s"near-dup must estimate above unrelated: $est")
    assert(est(3L)._2 < 0.5 && est(2L)._2 > 0.4)
  }

  test("length filter keeps each source's own [p05, p95] band") {
    import spark.implicits._
    // source A: 1..100 chars -> p05 = 5.95, p95 = 95.05 (linear
    // interpolation at pos q*(n-1)) -> kept lengths 6..95
    // source B: 1001..1100 -> kept 1006..1095 (same band, own scale —
    // a 100-char doc is normal in A and would be an outlier in B)
    val docs =
      (1L to 100L).map(i => (i, "A", i)) ++
        (1001L to 1100L).map(i => (i, "B", i))
    val kept = TrainingOps.lengthFilterOn(
        docs.toDF("doc_id", "source", "n_chars"))
      .collect().map(r => r.getAs[String]("source") ->
        r.getAs[Long]("n_chars"))
    val a = kept.filter(_._1 == "A").map(_._2).sorted
    val b = kept.filter(_._1 == "B").map(_._2).sorted
    assert(a.head == 6L && a.last == 95L && a.length == 90)
    assert(b.head == 1006L && b.last == 1095L && b.length == 90)
  }

  test("decontaminate flags exactly the docs sharing a 3-gram with src0") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
      .select("doc_id", "source", "text").collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[String]("source"),
        r.getAs[String]("text")))
    val benchGrams = docs.filter(_._2 == "src0").flatMap(d => gramsOf(d._3)).toSet
    val expected = docs.filter(_._2 != "src0")
      .filter(d => gramsOf(d._3).exists(benchGrams)).map(_._1).sorted.toSeq
    val got = TrainingOps.decontaminate(spark, sf)
      .collect().map(_.getLong(0)).toSeq
    assert(got == expected)
    assert(got.nonEmpty && got.size < docs.count(_._2 != "src0"),
      "corpus should be partially, not fully, contaminated")
  }

  test("qd29: duplicate chunks keep only the (doc_id, chunk_idx)-first copy; docs reassemble in order") {
    import spark.implicits._
    val A = "a" * 10
    val B = "b" * 10
    val C = "c" * 10
    val docs = Seq(
      (1L, A + B),        // chunks: A, B
      (2L, B + C + "zz"), // B duplicates doc 1's -> dropped; C + "zz" kept
      (3L, C))            // C first seen in doc 2 (lower id) -> dropped here
      .toDF("doc_id", "text")
    val got = graft.operators.Dedup.chunkDedup(docs, "doc_id", "text", size = 10)
      .collect().map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[String]("dedup_text"), r.getAs[Int]("n_chunks_kept"))).toMap
    assert(got(1L) == ((A + B, 2)), "first occurrences all survive")
    assert(got(2L) == ((C + "zz", 2)),
      "duplicate chunk drops; survivors keep original order")
    assert(got(3L) == (("", 0)),
      "a doc whose every chunk is seen earlier reassembles empty")
  }

  test("qd30: tokens under hot 4-grams are cut; short docs and cold grams survive") {
    import spark.implicits._
    val hot = "alpha beta gamma delta" // will appear in 3 docs
    val docs = Seq(
      (1L, s"intro $hot outro one"),
      (2L, s"$hot tail piece here"),
      (3L, s"pre text $hot"),
      (4L, "alpha beta gamma"),        // < 4 tokens: no grams, untouched
      (5L, "cold phrase four tokens")) // unique 4-gram: df 1, untouched
      .toDF("doc_id", "text")
    val got = graft.operators.TrainingOps.hotSpans(docs, minDf = 3)
      .collect().map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[String]("clean_text"), r.getAs[Int]("n_removed"))).toMap
    assert(got(1L) == (("intro outro one", 4)))
    assert(got(2L) == (("tail piece here", 4)))
    assert(got(3L) == (("pre text", 4)))
    assert(got(4L) == (("alpha beta gamma", 0)),
      "a doc shorter than the gram can never be cut")
    assert(got(5L) == (("cold phrase four tokens", 0)),
      "df below the threshold leaves text intact")
  }

  test("qd30: overlapping hot-gram occurrences cut the union of positions, not double-count") {
    import spark.implicits._
    // "x x x x x" in 3 docs: grams at pos 0 and 1 overlap on pos 1-3
    val docs = Seq((1L, "x x x x x end"), (2L, "x x x x x"), (3L, "x x x x x"))
      .toDF("doc_id", "text")
    val got = graft.operators.TrainingOps.hotSpans(docs, minDf = 3)
      .collect().map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[String]("clean_text"), r.getAs[Int]("n_removed"))).toMap
    assert(got(1L) == (("end", 5)), "union of covered positions, each counted once")
    assert(got(2L) == (("", 5)), "fully-hot doc reassembles empty")
  }

  test("qd31: integer quotas follow sqrt weights; each stratum fills exactly its quota") {
    import spark.implicits._
    // strata sizes 9 / 4 / 1 -> weights 3e6 / 2e6 / 1e6, target 7
    // -> quotas (7*3) DIV 6 = 3, (7*2) DIV 6 = 2, 7 DIV 6 = 1
    val docs = (1 to 9).map(i => (i.toLong, "big", s"text b$i")) ++
      (10 to 13).map(i => (i.toLong, "mid", s"text m$i")) ++
      Seq((14L, "tiny", "text t"))
    val df = docs.toDF("doc_id", "lang", "text")
    val got = graft.operators.TrainingOps.temperatureSample(df, "lang", target = 7L)
      .collect()
    val byStratum = got.groupBy(_.getAs[String]("lang"))
    assert(byStratum("big").length == 3 && byStratum("mid").length == 2 &&
      byStratum("tiny").length == 1, "quota per stratum")
    assert(got.forall(r => r.getAs[Int]("rnk") <= r.getAs[Int]("quota")))
    val again = graft.operators.TrainingOps.temperatureSample(df, "lang", 7L)
      .collect().map(_.getAs[Long]("doc_id")).sorted
    assert(again.sameElements(got.map(_.getAs[Long]("doc_id")).sorted),
      "fingerprint rank makes the sample deterministic")
  }

  test("qd33: adjacency counting picks the BPE pair, greedy merge applies it once per span") {
    import spark.implicits._
    // adjacencies: "aaa" -> (aa, aa); "aab" -> (aa, ab); "xy" -> (xy)
    // counts: aa=3, ab=1, xy=1 -> winner aa
    val docs = Seq((1L, "aaa"), (2L, "aab"), (3L, "xy"))
      .toDF("doc_id", "text")
      .withColumn("n_chars", length(col("text")).cast("long"))
    val got = TrainingOps.bpeMergeRound(docs)
      .collect().map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[String]("pair"), r.getAs[Long]("pair_count"),
          r.getAs[Int]("n_merges"), r.getAs[String]("merged_text"))).toMap
    assert(got(1L) == (("aa", 3L, 1, "#a")),
      "adjacency count sees both (a,a) pairs in 'aaa'; greedy replace merges ONE")
    assert(got(2L) == (("aa", 3L, 1, "#b")))
    assert(got(3L) == (("aa", 3L, 0, "xy")), "no occurrence, text unchanged")
  }

  test("qd33: equal counts tie-break to the lexicographically smallest pair") {
    import spark.implicits._
    // zz and aa both appear twice (adjacency): winner must be aa
    val docs = Seq((1L, "zzz aaa"))
      .toDF("doc_id", "text")
      .withColumn("n_chars", length(col("text")).cast("long"))
    val got = TrainingOps.bpeMergeRound(docs).collect().head
    assert(got.getAs[String]("pair") == "aa", "tie-break (count DESC, pair ASC)")
    assert(got.getAs[String]("merged_text") == "zzz #a")
  }

  test("qd35: training feeds each merge symbol back — a learned symbol can win the next round") {
    import spark.implicits._
    // "abcabcabcabc": round 1 counts ab=4, bc=4, ca=3 -> tie-break
    // picks "ab" -> "AcAcAcAc". Round 2 admits 'A': Ac=4, cA=3 ->
    // winner "Ac" (a pair CONTAINING round 1's symbol) -> "BBBB".
    // Round 3 admits 'B': BB=3 (adjacency-counted overlaps) -> greedy
    // non-overlapping replace merges twice -> "CC".
    val docs = Seq((1L, "abcabcabcabc"), (2L, "xy")).toDF("doc_id", "text")
    val got = TrainingOps.bpeTrain(docs, rounds = 3)
      .collect().map(r => r.getAs[Int]("round") ->
        ((r.getAs[String]("pair"), r.getAs[Long]("pair_count"),
          r.getAs[Long]("docs_touched"),
          r.getAs[Long]("corpus_len_after")))).toMap
    assert(got(1) == (("ab", 4L, 1L, 10L)),
      "round 1: tie ab/bc breaks to ab; 12 chars -> 8 + untouched 'xy'")
    assert(got(2) == (("Ac", 4L, 1L, 6L)),
      "round 2 winner contains round 1's merge symbol — the BPE feedback")
    assert(got(3) == (("BB", 3L, 1L, 4L)),
      "adjacency counts overlaps (3 in BBBB) but greedy replace merges 2")
  }

  test("qd34: each stage's verdict is independent; duplicates lose canonicality") {
    import spark.implicits._
    val long30 = (1 to 30).map(i => s"w$i").mkString(" ")     // 30 tokens
    val docs = Seq(
      (1L, "s1", long30),            // canonical, 30 tokens -> kept if in band
      (2L, "s1", long30),            // exact duplicate of 1 -> NOT canonical
      (3L, "s1", "short text"),      // 2 tokens -> fails token floor
      (4L, "s1", long30 + " extra")) // unique, 31 tokens
      .toDF("doc_id", "source", "text")
      .withColumn("n_chars", length(col("text")).cast("long"))
    val got = TrainingOps.curationVerdictOn(docs)
      .collect().map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[Boolean]("canonical"), r.getAs[Boolean]("in_band"),
          r.getAs[Boolean]("enough_tokens"), r.getAs[Boolean]("kept")))).toMap
    assert(got(1L)._1 && !got(2L)._1,
      "the lower doc_id of an identical pair is the canonical one")
    assert(!got(2L)._4, "a non-canonical doc is never kept")
    assert(!got(3L)._3 && !got(3L)._4, "token floor fails short docs")
    assert(got(4L)._1 && got(4L)._3)
    // in_band is a per-source percentile cut: with these four lengths
    // the p05/p95 band excludes the extremes (interpolated percentiles)
    assert(!got(3L)._2, "the 10-char doc sits below its source's p05")
  }

  test("source-lang pivot matches groupBy counts and fills absent cells with 0") {
    val got = TrainingOps.sourceLangPivot(spark, sf)
    assert(got.columns.toSeq == Seq("source", "de", "en", "es", "fr", "zh"))
    val wide = got.collect().flatMap { r =>
      Seq("de", "en", "es", "fr", "zh").map(l =>
        (r.getAs[String]("source"), l) -> r.getAs[Long](l))
    }.toMap
    val long = spark.read.parquet(s"$sf/documents.parquet")
      .groupBy("source", "lang").agg(count(lit(1)).as("n"))
      .collect()
      .map(r => (r.getAs[String]("source"), r.getAs[String]("lang")) ->
        r.getAs[Long]("n")).toMap
    wide.foreach { case (k, v) => assert(v == long.getOrElse(k, 0L), s"$k") }
    assert(long.values.sum == wide.values.sum, "pivot must conserve counts")
  }

  test("qd36: near-duplicates never straddle the split; assignment is the cluster fingerprint") {
    import spark.implicits._
    val base = "the quick brown fox jumps over the lazy dog near the " +
      "river bank while the sun sets slowly behind the tall mountains"
    val docs = Seq(
      (1L, base), (2L, base),                 // exact dups -> cluster 1
      (7L, base + " tonight"),                // near-dup -> cluster 1 too
      (40L, "completely different content about spark shuffle " +
        "partitions and broadcast joins across many executors today"),
      (90L, "a third unrelated text on tokenizer vocabularies and " +
        "byte pair encoding merges applied to large corpora"))
      .toDF("doc_id", "text")
    val got = TrainingOps.leakageSplitOn(docs).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[Long]("cluster"), r.getAs[String]("split")))).toMap
    // the dup component collapses to min-id 1 and moves as one unit
    assert(got(1L)._1 == 1L && got(2L)._1 == 1L && got(7L)._1 == 1L)
    assert(Set(got(1L)._2, got(2L)._2, got(7L)._2).size == 1,
      s"near-duplicates split apart: $got")
    // assignment is exactly the portable fingerprint of the cluster id
    got.values.foreach { case (cl, split) =>
      val expect = if (graft.functions.DocFingerprint
        .reference(cl.toString) % 100 < 80) "train" else "test"
      assert(split == expect, s"cluster $cl")
    }
  }

  test("qd38: encode applies the learned merge chain; empty docs pin compression 1.0") {
    import spark.implicits._
    // round 1: pairs ab:3, ba:1 -> merge ab->A ("abab"->"AA", "ab"->"A")
    // round 2: only AA:1 survives -> AA->B ("AA"->"B")
    val docs = Seq((1L, "abab"), (2L, "ab"), (3L, ""))
      .toDF("doc_id", "text")
    val got = TrainingOps.bpeEncode(docs, rounds = 2).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[Long]("len_before"), r.getAs[Long]("len_after"),
          r.getAs[Double]("compression")))).toMap
    assert(got(1L) == ((4L, 1L, 0.25)), s"abab -> AA -> B: $got")
    assert(got(2L) == ((2L, 1L, 0.5)), s"ab -> A: $got")
    assert(got(3L) == ((0L, 0L, 1.0)), "empty doc defines compression 1.0")
  }

  test("qd37: hand-computed gram matrix; zero-overlap pairs drop out") {
    import spark.implicits._
    // a: {one two three, two three four}   (2 grams)
    // b: {two three four, three four five} (2 grams, 1 shared with a)
    // c: {alpha beta gamma}                (disjoint from both)
    val docs = Seq(
      (1L, "srcA", "one two three four"),
      (2L, "srcB", "two three four five"),
      (3L, "srcC", "alpha beta gamma"))
      .toDF("doc_id", "source", "text")
    val got = TrainingOps.sourceOverlapOn(docs).collect()
    assert(got.length == 1, s"only the overlapping pair surfaces: ${got.toSeq}")
    val r = got.head
    assert((r.getAs[String]("src_a"), r.getAs[String]("src_b"),
      r.getAs[Long]("grams_a"), r.getAs[Long]("grams_b"),
      r.getAs[Long]("shared")) == (("srcA", "srcB", 2L, 2L, 1L)))
    assert(r.getAs[Double]("gram_jaccard") == 1.0 / 3.0)
  }

  test("qd39: novelty counts grams at their first doc_id only") {
    import spark.implicits._
    val docs = Seq(
      (1L, "a b c d"),   // grams "a b c","b c d" — both first here -> 1.0
      (2L, "b c d e"),   // "b c d" seen in 1, "c d e" novel -> 0.5
      (3L, "a b c"),     // exactly 3 tokens: one gram, seen in 1 -> 0.0
      (4L, "xy"))        // short doc: whole-doc shingle, novel -> 1.0
      .toDF("doc_id", "text")
    val got = TrainingOps.gramNoveltyOn(docs).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[Long]("n_grams"), r.getAs[Long]("n_novel"),
          r.getAs[Double]("novelty")))).toMap
    assert(got(1L) == ((2L, 2L, 1.0)))
    assert(got(2L) == ((2L, 1L, 0.5)))
    assert(got(3L) == ((1L, 0L, 0.0)))
    assert(got(4L) == ((1L, 1L, 1.0)))
  }

  test("qd40: batch docs flag against corpus only; batch-internal dups don't flag") {
    import spark.implicits._
    val base = "the quick brown fox jumps over the lazy dog near the " +
      "river bank while the sun sets slowly behind the tall mountains"
    val other = "completely different content about spark shuffle " +
      "partitions and broadcast joins across many executors today " +
      "with adaptive execution and skew handling enabled everywhere"
    val docs = Seq(
      (1L, base),             // corpus
      (2L, "unrelated corpus text on tokenizer vocabularies and byte " +
        "pair encoding merges applied to large corpora daily"), // corpus
      (10L, base),            // batch: exact dup of corpus 1
      (11L, other),           // batch: novel
      (12L, other))           // batch: dups 11 (batch-internal) only
      .toDF("doc_id", "text")
    val got = graft.operators.Dedup
      .incrementalDedup(docs, col("doc_id") < 10L, threshold = 0.9)
      .collect()
      .map(r => r.getAs[Long]("doc_id") ->
        ((Option(r.getAs[java.lang.Long]("dup_of")),
          r.getAs[Boolean]("is_dup")))).toMap
    assert(got(10L) == ((Some(1L), true)), s"exact dup must flag: $got")
    assert(got(11L) == ((None, false)))
    assert(got(12L) == ((None, false)),
      "batch-internal duplication must NOT count as a corpus dup")
    assert(!got.contains(1L) && !got.contains(2L),
      "corpus docs emit no rows")
  }

  test("qd41: containment is directional — the quote flags, the quoter doesn't") {
    import spark.implicits._
    val docs = Seq(
      (1L, "one two three four five"),  // 3 grams, all inside doc 2
      (2L, "one two three four five six seven eight"), // 6 grams
      (3L, "totally unrelated content here now"))      // no overlap
      .toDF("doc_id", "text")
    val got = graft.operators.Dedup
      .containmentPairs(docs, "doc_id", "text", threshold = 0.8)
      .collect()
      .map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b")) ->
        ((r.getAs[Long]("grams_a"), r.getAs[Long]("shared"),
          r.getAs[Double]("containment")))).toMap
    assert(got.keySet == Set((1L, 2L)),
      s"only the contained->container direction clears 0.8: $got")
    assert(got((1L, 2L)) == ((3L, 3L, 1.0)),
      "every gram of the quote appears in the quoter")
  }

  test("qd41 hot-gram cap: boilerplate grams never pair, denominators stay exact") {
    import spark.implicits._
    // "alpha beta gamma" is a boilerplate gram present in ALL 5 docs
    // (df=5 > cap=4); docs 1 and 2 additionally share two
    // discriminative grams ("beta gamma one", "gamma one two" — plus
    // "one two three" only in doc 1's tail vs doc 2's); docs 3-5
    // overlap ONLY on the boilerplate gram.
    val docs = Seq(
      (1L, "alpha beta gamma one two three"),
      (2L, "alpha beta gamma one two seven"),
      (3L, "alpha beta gamma pe qu ra"),
      (4L, "alpha beta gamma sa te ua"),
      (5L, "alpha beta gamma va wa xa"))
      .toDF("doc_id", "text")
    def pairs(maxDf: Int) = graft.operators.Dedup
      .containmentPairs(docs, "doc_id", "text", threshold = 0.5,
        maxDf = maxDf)
      .collect()
      .map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b")) ->
        ((r.getAs[Long]("grams_a"), r.getAs[Long]("shared"),
          r.getAs[Double]("containment")))).toMap
    val capped = pairs(4)
    // boilerplate-only pairs (3,4,5 cross) are gone; 1<->2 survive on
    // their discriminative overlap alone
    assert(capped.keySet == Set((1L, 2L), (2L, 1L)),
      s"only the discriminative pair survives the cap: $capped")
    // each doc has 4 grams (denominator EXACT, hot gram included);
    // shared counts only the 2 un-capped common grams -> 0.5, a
    // strict lower bound on the true containment (3/4)
    assert(capped((1L, 2L)) == ((4L, 2L, 0.5)), s"$capped")
    val uncapped = pairs(Int.MaxValue)
    assert(uncapped((1L, 2L)) == ((4L, 3L, 0.75)),
      s"uncapped truth includes the boilerplate gram: $uncapped")
    // the cap never inflates: every capped score <= the uncapped one
    capped.foreach { case (k, (_, _, c)) =>
      assert(c <= uncapped(k)._3, s"cap inflated $k")
    }
  }

  test("qd42: unseen bigrams pay the Laplace floor; known ones their smoothed cost") {
    import spark.implicits._
    // ref doc "abab": bigrams ab,ba,ab -> model {ab:2, ba:1}, t=3, v=2
    val docs = Seq((1L, "abab"), (2L, "ab"), (3L, "abxy"))
      .toDF("doc_id", "text")
      .withColumn("n_chars", length(col("text")).cast("long"))
    val got = TrainingOps.crossPerplexityOn(docs, col("doc_id") === 1L)
      .collect()
      .map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[Long]("n_bigrams"), r.getAs[Long]("n_oov"),
          r.getAs[Double]("oov_rate"), r.getAs[Double]("avg_nll")))).toMap
    val tmAb = math.floor(math.log(3.0 / 5.0) * 1e6 + 0.5).toLong
    val tm0 = math.floor(math.log(1.0 / 5.0) * 1e6 + 0.5).toLong
    assert(!got.contains(1L), "the reference slice is not scored")
    assert(got(2L) == ((1L, 0L, 0.0, -tmAb.toDouble / 1e6 / 1.0)))
    assert(got(3L) == ((3L, 2L, 2.0 / 3.0,
      -(tmAb + 2 * tm0).toDouble / 1e6 / 3.0)),
      "bx and xy never seen by the reference model")
  }

  test("qd36: a cluster's split is stable under unrelated corpus growth") {
    import spark.implicits._
    val near = "alpha beta gamma delta epsilon zeta eta theta iota " +
      "kappa lambda mu nu xi omicron pi rho sigma tau upsilon"
    val core = Seq((3L, near), (4L, near))
    val extra = (100L until 112L).map(i =>
      (i, s"unique filler document number $i with entirely disjoint " +
        s"vocabulary token$i marker$i payload$i"))
    def splitOf(rows: Seq[(Long, String)], id: Long): String =
      TrainingOps.leakageSplitOn(rows.toDF("doc_id", "text"))
        .where(col("doc_id") === id).collect().head.getAs[String]("split")
    // growing the corpus with unrelated docs must not move cluster 3
    assert(splitOf(core, 3L) == splitOf(core ++ extra, 3L))
  }

  test("qd43: dup attributed to the dup's source; majority-lang ties break lexicographic") {
    import spark.implicits._
    // doc 3 duplicates doc 1's text but lives in source B: the dup
    // count lands on B. Source B has a 1-1 en/de lang tie -> 'de'.
    val docs = Seq(
      (1L, "hello world", "en", "A", 11L),
      (2L, "aaa bbb ccc", "en", "A", 11L),
      (3L, "hello world", "de", "B", 11L),
      (4L, "xyz qrs", "en", "B", 7L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val out = TrainingOps.corpusReportOn(docs).collect()
      .map(r => r.getAs[String]("source") ->
        ((r.getAs[Long]("n_docs"), r.getAs[Long]("n_dup_docs"),
          r.getAs[Long]("total_tokens"), r.getAs[Long]("n_langs"),
          r.getAs[String]("top_lang"), r.getAs[Double]("avg_chars"))))
      .toMap
    assert(out("A") == ((2L, 0L, 5L, 1L, "en", 11.0)), s"A: ${out("A")}")
    assert(out("B") == ((2L, 1L, 4L, 2L, "de", 9.0)), s"B: ${out("B")}")
  }

  test("qd44: representative is the longest member, ties to lowest id; singletons keep themselves") {
    import spark.implicits._
    val labels = Seq((1L, 1L), (2L, 1L), (3L, 1L), (4L, 4L))
      .toDF("doc_id", "cluster")
    val docs = Seq((1L, 10L), (2L, 50L), (3L, 50L), (4L, 7L))
      .toDF("doc_id", "n_chars")
    val out = TrainingOps.representativesOn(labels, docs).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[Long]("rep_id"), r.getAs[Boolean]("is_rep")))).toMap
    assert(out(1L) == ((2L, false)), s"doc1 defers to longest: ${out(1L)}")
    assert(out(2L) == ((2L, true)),
      s"50-char tie between 2 and 3 breaks to lowest id: ${out(2L)}")
    assert(out(3L) == ((2L, false)))
    assert(out(4L) == ((4L, true)), s"singleton keeps itself: ${out(4L)}")
  }
}
