package graft

import graft.functions.TextFns
import org.apache.spark.sql.functions._

class TextFnsSpec extends SparkSpec {
  import spark.implicits._

  private def one[T](c: org.apache.spark.sql.Column, text: String): T =
    Seq(text).toDF("text").select(c.as("v")).collect()(0).getAs[T]("v")

  test("tokenCount handles empties, runs of spaces, and text") {
    assert(one[Int](TextFns.tokenCount(col("text")), "") == 0)
    assert(one[Int](TextFns.tokenCount(col("text")), "   ") == 0)
    assert(one[Int](TextFns.tokenCount(col("text")), "a  b\tc") == 3)
  }

  test("bpeTokenCount splits alnum runs and symbols") {
    assert(one[Int](TextFns.bpeTokenCount(col("text")), "ab12 cd, e!") == 5)
    assert(one[Int](TextFns.bpeTokenCount(col("text")), "") == 0)
  }

  test("ascii_class_counts matches regex counts and reference on real data") {
    val docs = spark.read
      .parquet("/root/testdata/sf0.001/documents.parquet")
      .select("text").limit(100)
      .union(Seq("", "  ", "ab1 ", "héllo wörld 42", "你好 world 7")
        .toDF("text"))
    val c = graft.functions.AsciiClassCounts.of(col("text"))
    val rows = docs.select(col("text"),
      c.getField("alpha").as("a"), c.getField("digit").as("d"),
      c.getField("space").as("s"),
      TextFns.alphaCount(col("text")).as("ra"),
      TextFns.digitCount(col("text")).as("rd"),
      TextFns.spaceCount(col("text")).as("rs")).collect()
    rows.foreach { r =>
      val (a, d, s) = graft.functions.AsciiClassCounts
        .reference(r.getAs[String]("text"))
      assert(r.getAs[Int]("a") == a && r.getAs[Int]("ra") == a)
      assert(r.getAs[Int]("d") == d && r.getAs[Int]("rd") == d)
      assert(r.getAs[Int]("s") == s && r.getAs[Int]("rs") == s)
    }
  }

  test("quality signals are in range and score is weighted sum") {
    val df = Seq("The quick brown fox 123!", "").toDF("text")
    val sigs = TextFns.qualitySignals(col("text"))
    val rows = df.select(sigs.map { case (n, c) => c.as(n) }: _*).collect()
    rows.foreach { r =>
      Seq("alpha_ratio", "digit_ratio", "space_ratio", "stop_ratio")
        .foreach { f =>
          val v = r.getAs[Double](f)
          assert(v >= 0.0 && v <= 1.0, s"$f=$v")
        }
      assert(r.getAs[Double]("quality_score") >= 0.0)
      assert(r.getAs[Double]("quality_score") <= 1.0)
    }
  }

  test("marker_word_counts matches regex counts and reference on real data") {
    val docs = spark.read
      .parquet("/root/testdata/sf0.001/documents.parquet")
      .select("text").limit(100)
      .union(Seq("", "the theory is _the_ THE the5 the!the",
        "der und die 你好 le la es").toDF("text"))
    val m = graft.functions.MarkerWordCounts.of(col("text"))
    val regex = TextFns.markerCountsRegex(col("text"))
    val langs = graft.functions.MarkerWordCounts.Langs
    val rows = docs.select(
      col("text") +:
        (langs.map(l => m.getField(l).as(s"e_$l")) ++
          regex.map { case (l, c) => c.as(s"r_$l") }): _*).collect()
    rows.foreach { r =>
      val ref = graft.functions.MarkerWordCounts.reference(
        r.getAs[String]("text"))
      langs.zipWithIndex.foreach { case (l, i) =>
        assert(r.getAs[Int](s"e_$l") == ref(i),
          s"expr vs reference for $l on '${r.getAs[String]("text")}'")
        assert(r.getAs[Int](s"r_$l") == ref(i),
          s"regex vs reference for $l on '${r.getAs[String]("text")}'")
      }
    }
  }

  test("nfc_normalize composes decomposed text and passes NFC text through") {
    val decomposed = "cafe\u0301 re\u0301sume\u0301" // e + combining acute
    val composed = "caf\u00e9 r\u00e9sum\u00e9" // precomposed
    val cases = Seq(
      1L -> decomposed,
      2L -> composed,                 // already NFC: fast path, identity
      3L -> "plain ascii text",       // fast path
      4L -> "汉字 and 😀",  // CJK + non-BMP emoji: NFC-stable
      5L -> "")
    val out = cases.toDF("id", "t")
      .select(col("id"), graft.functions.NfcNormalize.of(col("t")).as("n"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    cases.foreach { case (id, t) =>
      assert(out(id) == graft.functions.NfcNormalize.reference(t),
        s"case $id diverges from java.text.Normalizer")
    }
    assert(out(1L) == composed, "decomposed must compose")
    assert(out(2L) == composed && out(3L) == "plain ascii text")
    assert(out(4L) == cases.toMap.apply(4L), "NFC-stable text unchanged")
    // idempotence: normalizing the normalized output is identity
    val again = Seq(out(1L)).toDF("t")
      .select(graft.functions.NfcNormalize.of(col("t"))).head().getString(0)
    assert(again == out(1L))
    // null in, null out
    val nul = Seq[(Long, Option[String])]((9L, None)).toDF("id", "t")
      .select(graft.functions.NfcNormalize.of(col("t"))).head()
    assert(nul.isNullAt(0))
  }

  test("langId picks marker languages, CJK, and und") {
    def lid(t: String) = one[String](TextFns.langId(col("text")), t)
    assert(lid("the cat and the dog is in the house") == "en")
    assert(lid("der hund und die katze ist nicht hier") == "de")
    assert(lid("le chat et la maison est une belle") == "fr")
    assert(lid("el perro y los gatos es una del casa") == "es")
    assert(lid("你好世界") == "zh")
    assert(lid("xyzzy plugh") == "und")
  }
}
