package graft

import graft.operators.EditJoin
import org.apache.spark.sql.functions._

/** qd67 edit-distance similarity join: the banded-verify contract,
  * completeness of every blocking tier against adversarial fixtures,
  * and brute-force parity on the real corpus (the DuckDB oracle
  * carries gate exactness; these carry the cases the corpus does not
  * plant).
  */
class EditJoinSpec extends SparkSpec {

  import spark.implicits._

  /** Pin the built-in threshold form's contract the verify leg relies
    * on: exact distance when <= threshold, -1 (not a clamp) beyond it.
    */
  test("levenshtein threshold form returns -1 beyond the band") {
    val r = Seq(("kitten", "sitting")).toDF("a", "b")
      .select(
        levenshtein(col("a"), col("b")).as("full"),
        levenshtein(col("a"), col("b"), 3).as("at"),
        levenshtein(col("a"), col("b"), 2).as("below"))
      .head()
    assert(r.getInt(0) == 3)
    assert(r.getInt(1) == 3, "distance inside the band is exact")
    assert(r.getInt(2) == -1, "beyond the band must be -1, not a clamp")
  }

  private def brute(rows: Seq[(Long, String)], d: Int): Set[(Long, Long, Int)] = {
    val df = rows.toDF("id", "t")
    df.as("a").crossJoin(df.as("b"))
      .filter(col("a.id") < col("b.id"))
      .select(col("a.id"), col("b.id"),
        levenshtein(col("a.t"), col("b.t")).as("ed"))
      .filter(col("ed") <= d)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
  }

  private def blocked(rows: Seq[(Long, String)], d: Int): Set[(Long, Long, Int)] =
    EditJoin.editNearDups(rows.toDF("id", "t"), "id", "t", d)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getAs[Int]("edit_dist"))).toSet

  private def segBlocked(rows: Seq[(Long, String)], d: Int): Set[(Long, Long, Int)] =
    EditJoin.editNearDupsSegIndexed(rows.toDF("id", "t"), "id", "t", d)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getAs[Int]("edit_dist"))).toSet

  test("hist_l1: reference parity, null and length semantics") {
    val rows = spark.sql(
      """SELECT
        |  hist_l1(array(3, 0, 7, 2), array(1, 4, 7, 0)) AS basic,
        |  hist_l1(CAST(array() AS ARRAY<INT>),
        |          CAST(array() AS ARRAY<INT>)) AS empty,
        |  hist_l1(array(1, 2), array(1, 2, 3)) AS mismatched,
        |  hist_l1(array(1, CAST(NULL AS INT)), array(1, 2)) AS nullelem,
        |  hist_l1(CAST(NULL AS ARRAY<INT>), array(1)) AS nullarr
        |""".stripMargin).head()
    assert(rows.getAs[Int]("basic") ==
      graft.functions.HistL1.reference(Seq(3, 0, 7, 2), Seq(1, 4, 7, 0)))
    assert(rows.getAs[Int]("basic") == 8)
    assert(rows.getAs[Int]("empty") == 0)
    assert(rows.isNullAt(rows.fieldIndex("mismatched")))
    assert(rows.isNullAt(rows.fieldIndex("nullelem")))
    assert(rows.isNullAt(rows.fieldIndex("nullarr")))
  }

  test("completeness on adversarial fixtures == brute force") {
    val rows = Seq(
      // bucket-boundary pair: lengths 15 and 16 land in buckets 0/1 —
      // the neighbourhood explode must still pair them
      (1L, "aaaaaaaaaaaaaaa"),
      (2L, "aaaaaaaaaaaaaaaa"),
      // edits at BOTH ends (prefix-style blocking would miss these)
      (3L, "XXabcdefghijklmnopqrstuvwxyzYY"),
      (4L, "ZZabcdefghijklmnopqrstuvwxyzWW"),
      // case-only difference: lowercase histogram L1 = 0, ed = 2 —
      // the prune must NOT eat it and the verify is case-sensitive
      (5L, "The Quick Brown Fox Jumps Over It"),
      (6L, "the quick brown fox jumps over it"),
      // punctuation-only difference: projects OUT of the histogram
      (7L, "hello, world! how are you today??"),
      (8L, "hello world how are you today"),
      // far pair sharing the alphabet: histogram close, distance huge
      (9L, "abcdefghij" * 5),
      (10L, "jihgfedcba" * 5),
      // short strings below one bucket width
      (11L, "ab"), (12L, "ba"), (13L, "abcd"),
      // empty string
      (14L, ""),
      // identical twins (distance 0)
      (15L, "twin payload twin payload"),
      (16L, "twin payload twin payload"))
    for (d <- Seq(2, 4, 12)) {
      val b = brute(rows, d)
      val g = blocked(rows, d)
      assert(g == b, s"d=$d: blocked=$g brute=$b")
      assert(b.nonEmpty, s"d=$d fixture must be value-bearing")
    }
  }

  test("segment-indexed path: completeness on long-doc fixtures == brute force") {
    val base = (0 until 20).map(i => s"sentence $i of the long base document. ").mkString
    val alpha = "abcdefghijklmnopqrstuvwxyz" * 12 // 312 chars, zero overlap with base
    val rows = Seq(
      // identical long twins (pure segment path)
      (1L, base), (2L, base),
      // d chars inserted at the VERY FRONT: every chunk's copy shifts
      // by exactly d — the |Δpos| <= d window boundary case
      (3L, "############" + base),
      // edits sprayed every SegWidth chars corrupt many chunks but
      // only maxDist of them — one chunk must survive
      (4L, base.zipWithIndex.map { case (c, i) =>
        if (i % 40 == 0 && i / 40 < 12) '#' else c }.mkString),
      // one long / one short partner straddling the minLong split:
      // len(5)=208 takes the segment path, len(6)=200 the band path —
      // the disjoint split must still count the pair exactly once
      (5L, "z" * 208), (6L, "z" * 200),
      // short-side pair (band path inside the hybrid)
      (7L, "tiny doc one"), (8L, "tiny doc two"),
      // a far-away doc that shares no grams
      (9L, alpha))
    val d = EditJoin.MaxDist
    val b = brute(rows, d)
    val g = segBlocked(rows, d)
    assert(g == b, s"seg=$g brute=$b")
    // the fixture must actually exercise both paths and the shift bound
    assert(b.contains((1L, 2L, 0)) && b.contains((5L, 6L, 8)))
    assert(b.exists(p => p._1 == 1L && p._2 == 3L),
      "front-insert pair must survive the position window")
    assert(b.exists(p => p._1 == 7L && p._2 == 8L), "band-path pair")
  }

  test("segment-indexed path == band path on adversarial fixtures") {
    val rows = Seq(
      (1L, "a" * 250), (2L, "a" * 250 + "bb"),
      (3L, "b" * 100), (4L, "b" * 100 + "c"),
      (5L, ("xy" * 150).drop(1)), (6L, "xy" * 150))
    for (d <- Seq(4, 12)) {
      assert(segBlocked(rows, d) == blocked(rows, d))
    }
  }

  test("brute-force parity on the sf0.001 corpus") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select(col("doc_id").as("id"), col("text").as("t"))
    val d = EditJoin.MaxDist
    val bruteSet = docs.as("a").crossJoin(docs.as("b"))
      .filter(col("a.id") < col("b.id"))
      .select(col("a.id"), col("b.id"),
        levenshtein(col("a.t"), col("b.t"), d).as("ed"))
      .filter(col("ed") >= 0)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    val got = EditJoin.editNearDups(docs, "id", "t", d)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getAs[Int]("edit_dist"))).toSet
    assert(got == bruteSet)
    assert(got.nonEmpty, "the corpus plants near-dup pairs — must find them")
    assert(got.forall(_._3 <= d))
  }

  test("qd69 admission: verdicts == brute batch-x-corpus on fixtures") {
    val base = (0 until 18).map(i => s"fragment $i of the corpus body. ").mkString
    val corpus = Seq(
      (100L, base),                         // long corpus doc
      (101L, "############" + base),        // ed 12 from base
      (102L, "corpus tiny doc"),            // short corpus doc
      (103L, "abcdefghij" * 30))            // unrelated long doc
    val batch = Seq(
      (1L, base),                // exact copy -> dup_of 100 at ed 0
      (2L, base + "#######"),    // ed 7 of 100, ed 19 of 101 -> picks 100
      (3L, "corpus tiny dog"),   // short path: ed 1 of 102
      (4L, "nothing like anything here at all"), // no partner
      (5L, ""))                  // empty batch doc
    val cdf = corpus.toDF("id", "t")
    val bdf = batch.toDF("id", "t")
    val got = graft.operators.EditJoin.editAdmission(
        cdf,
        graft.operators.EditJoin.corpusWindowIndex(cdf, "id", "t"),
        graft.operators.EditJoin.corpusSignatures(cdf, "id", "t"),
        bdf, "id", "t")
      .collect()
      .map(r => r.getLong(0) -> ((Option(r.get(1)), Option(r.get(2)),
        r.getBoolean(3)))).toMap
    // brute truth
    val d = graft.operators.EditJoin.MaxDist
    val bruteBest = bdf.as("a").crossJoin(cdf.as("b"))
      .select(col("a.id").as("did"), col("b.id").as("cid"),
        levenshtein(col("a.t"), col("b.t")).as("ed"))
      .filter(col("ed") <= d)
      .collect().groupBy(_.getLong(0))
      .map { case (did, rows) =>
        val best = rows.minBy(r => (r.getInt(2), r.getLong(1)))
        did -> ((best.getLong(1), best.getInt(2)))
      }
    assert(got.keySet == batch.map(_._1).toSet, "one row per batch doc")
    batch.map(_._1).foreach { did =>
      bruteBest.get(did) match {
        case Some((cid, ed)) =>
          assert(got(did) == ((Some(cid), Some(ed), true)), s"did=$did")
        case None =>
          assert(got(did) == ((None, None, false)), s"did=$did")
      }
    }
    assert(bruteBest.nonEmpty && bruteBest.size < batch.size,
      "fixture must exercise both verdict polarities")
  }

  /** Pure-Scala DP reference (full table, no band). */
  private def refLev(a: String, b: String): Int = {
    val m = a.length; val n = b.length
    val dp = Array.tabulate(m + 1)(i => i)
    for (j <- 1 to n) {
      var prev = dp(0); dp(0) = j
      for (i <- 1 to m) {
        val cur = dp(i)
        dp(i) = math.min(math.min(dp(i) + 1, dp(i - 1) + 1),
          prev + (if (a(i - 1) == b(j - 1)) 0 else 1))
        prev = cur
      }
    }
    dp(m)
  }

  test("generated random-edit pairs are always found by both geometries") {
    // deterministic generator: random base strings, <= MaxDist random
    // edits applied; the planted pair must surface from BOTH blocking
    // geometries with the exact reference-DP distance.
    val rng = new scala.util.Random(1213)
    val alpha = "abcdefghij klmnop"
    def randStr(n: Int): String =
      Seq.fill(n)(alpha(rng.nextInt(alpha.length))).mkString
    def edit(s: String): String = {
      val k = 1 + rng.nextInt(EditJoin.MaxDist)
      var t = s
      (0 until k).foreach { _ =>
        val op = rng.nextInt(3)
        val p = if (t.isEmpty) 0 else rng.nextInt(t.length)
        t = op match {
          case 0 => t.take(p) + alpha(rng.nextInt(alpha.length)) + t.drop(p) // insert
          case 1 if t.nonEmpty => t.take(p) + t.drop(p + 1)                  // delete
          case _ if t.nonEmpty =>
            t.take(p) + alpha(rng.nextInt(alpha.length)) + t.drop(p + 1)    // substitute
          case _ => t
        }
      }
      t
    }
    val cases = (0 until 25).map { i =>
      val base = randStr(20 + rng.nextInt(380))
      (2L * i, base, 2L * i + 1, edit(base))
    }
    val rows = cases.flatMap { case (ia, a, ib, b) =>
      Seq((ia, a), (ib, b)) }
    val expected = cases.map { case (ia, a, ib, b) =>
      (ia, ib, refLev(a, b)) }.filter(_._3 <= EditJoin.MaxDist).toSet
    assert(expected.size >= 20, "most planted pairs must qualify")
    val band = blocked(rows, EditJoin.MaxDist)
    val seg = segBlocked(rows, EditJoin.MaxDist)
    expected.foreach { e =>
      assert(band.contains(e), s"band geometry missed planted pair $e")
      assert(seg.contains(e), s"segment geometry missed planted pair $e")
    }
    assert(band == seg, "both geometries must agree exactly")
  }

  test("the declared query is ordered and value-bearing") {
    val out = EditJoin.editNearDupsQuery(spark, "/root/testdata/sf0.001")
      .collect()
    assert(out.nonEmpty)
    val pairs = out.map(r => (r.getLong(0), r.getLong(1)))
    assert(pairs.sameElements(pairs.sorted), "output sorted by (doc_a, doc_b)")
    assert(out.forall(r => r.getLong(0) < r.getLong(1)),
      "each unordered pair exactly once, lower id first")
  }
}
