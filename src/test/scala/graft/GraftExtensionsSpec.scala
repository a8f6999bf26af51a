package graft

/** The library deployment path: `spark.sql.extensions=
  * graft.GraftExtensions` (set by [[graft.Session]], which every main
  * and SparkSpec build through) must put every custom function in the
  * catalog at session construction. Proven against a `newSession()`
  * child: it shares the extensions applied at build time but has a
  * FRESH temp-function registry, so a resolution there cannot come
  * from a temp function another suite created. Operators register
  * nothing themselves, so every injected name must resolve this way.
  */
class GraftExtensionsSpec extends SparkSpec {

  test("extension-injected functions resolve in a registry-fresh session") {
    val fresh = spark.newSession()
    GraftExtensions.functions.foreach { case (id, _, _) =>
      val info = fresh.sessionState.functionRegistry.lookupFunction(id)
      assert(info.map(_.getClassName).contains("graft.functions"),
        s"${id.funcName} is not the injected graft entry: $info")
    }
    // decomposed e + U+0301 in, precomposed expected out
    val row = fresh.sql(
      s"""SELECT doc_fingerprint('graft') AS fp,
         |  nfc_normalize('café') AS nfc,
         |  ascii_class_counts('ab1 ').alpha AS alpha,
         |  marker_word_counts('the der le').en AS en,
         |  vec_dot(array(1.0D, 2.0D), array(3.0D, 4.0D)) AS dot,
         |  hist_l1(array(3, 0, 7), array(1, 4, 7)) AS l1
         |""".stripMargin).head()
    assert(row.getAs[Long]("fp") ==
      graft.functions.DocFingerprint.reference("graft"))
    assert(row.getAs[String]("nfc") == "caf\u00e9")
    assert(row.getAs[Int]("alpha") == 2)
    assert(row.getAs[Int]("en") == 1)
    assert(row.getAs[Double]("dot") == 11.0)
    assert(row.getAs[Int]("l1") == 6)
    // arity misuse fails at analysis, not at runtime
    intercept[Exception] {
      fresh.sql("SELECT doc_fingerprint('a', 'b')").head()
    }
  }
}
