package graft

import graft.operators.{Events, Multimodal, TrainingOps}
import org.apache.spark.sql.functions._

/** Crafted-input contracts for the round-8 operators: qd45 PMI, qd46
  * Zipf fit, qs35 linear attribution, qm5 media sniffing. (qe16/qe17
  * have their own suites: SqSpec, GraphOpsSpec.)
  */
class Round8OpsSpec extends SparkSpec {

  import spark.implicits._

  private def micro(x: Double): Double =
    math.floor(math.log(x) * 1e6 + 0.5) / 1e6

  test("qd45 PMI: hand-computed pair/unigram/total bookkeeping") {
    // tokens [a, b, a, b]: distance-1 pairs (a,b),(b,a),(a,b);
    // distance-2 pairs (a,a),(b,b) => P=5, T=4, c_a=c_b=2
    val docs = Seq((1L, "a b a b")).toDF("doc_id", "text")
    val out = TrainingOps.pmiCooccurOn(docs, minCount = 1L).collect()
      .map(r => (r.getString(0), r.getString(1)) ->
        ((r.getAs[Long]("c_ab"), r.getAs[Double]("pmi")))).toMap
    assert(out.keySet == Set(("a", "b"), ("b", "a"), ("a", "a"), ("b", "b")))
    assert(out(("a", "b"))._1 == 2L)
    // pmi(a,b) = ln(c_ab * T^2 / (P * c_a * c_b)) = ln(2*16/(5*4))
    assert(out(("a", "b"))._2 == micro(2.0 * 4 * 4 / (5.0 * 2 * 2)))
    assert(out(("b", "a"))._2 == micro(1.0 * 4 * 4 / (5.0 * 2 * 2)))
    // frequent-pair cut: at minCount=2 only (a,b) survives
    val cut = TrainingOps.pmiCooccurOn(docs, minCount = 2L).collect()
    assert(cut.map(r => (r.getString(0), r.getString(1))).toSet ==
      Set(("a", "b")))
  }

  test("qd46 Zipf: exact slope from the quantized-log moment sums") {
    // one source, token frequencies 4 / 2 / 1 => ranks 1 / 2 / 3
    val docs = Seq((1L, "aa aa aa aa bb bb cc", "s1"))
      .toDF("doc_id", "text", "source")
    val row = TrainingOps.zipfFitOn(docs).collect().head
    assert(row.getAs[Long]("n_types") == 3L)
    // reference: the same milli-nat quantization + closed form
    val pts = Seq((1L, 4L), (2L, 2L), (3L, 1L)).map { case (rnk, c) =>
      (math.floor(math.log(rnk.toDouble) * 1e3 + 0.5).toLong,
        math.floor(math.log(c.toDouble) * 1e3 + 0.5).toLong)
    }
    val n = pts.size.toDouble
    val sx = pts.map(_._1).sum.toDouble
    val sy = pts.map(_._2).sum.toDouble
    val sxx = pts.map(p => p._1 * p._1).sum.toDouble
    val sxy = pts.map(p => p._1 * p._2).sum.toDouble
    val syy = pts.map(p => p._2 * p._2).sum.toDouble
    val cov = n * sxy - sx * sy
    val slope = cov / (n * sxx - sx * sx)
    val r2 = (cov * cov) / ((n * sxx - sx * sx) * (n * syy - sy * sy))
    assert(row.getAs[Double]("slope") == slope)
    assert(row.getAs[Double]("r2") == r2)
    assert(slope < -0.5 && slope > -2.0, "halving frequencies ~ Zipf-ish")
  }

  private def eventsOf(rows: (Long, Long, String, String, Double)*) =
    rows.toDF("event_id", "user_id", "ts_s", "event_type", "value")
      .select(col("event_id"), col("user_id"),
        to_timestamp(col("ts_s")).as("ts"), col("event_type"), col("value"))

  test("qs35: equal split, inclusive 30-min boundary, truncating micro-credit") {
    val out = Events.linearAttributionOn(eventsOf(
      (1L, 1L, "2024-01-01 10:00:00", "click", 0.0), // exactly -30min: in
      (2L, 1L, "2024-01-01 09:59:59", "click", 0.0), // one second out
      (3L, 1L, "2024-01-01 10:30:00", "click", 0.0), // same second: in
      (10L, 1L, "2024-01-01 10:30:00", "purchase", 10.0),
      (4L, 2L, "2024-01-01 10:40:00", "click", 0.0),
      (5L, 2L, "2024-01-01 10:50:00", "click", 0.0),
      (6L, 2L, "2024-01-01 10:55:00", "click", 0.0),
      (20L, 2L, "2024-01-01 11:00:00", "purchase", 1.0),
      (30L, 3L, "2024-01-01 12:00:00", "purchase", 5.0))) // no clicks
      .collect()
      .map(r => (r.getAs[Long]("purchase_id"), r.getAs[Long]("click_id")) ->
        ((r.getAs[Long]("n_touches"), r.getAs[Long]("credit_micro")))).toMap
    assert(out.keySet == Set((10L, 1L), (10L, 3L), (20L, 4L), (20L, 5L),
      (20L, 6L)), "boundary clicks in, purchase without touches absent")
    assert(out((10L, 1L)) == ((2L, 500000000L)), "1000c * 1e6 / 2")
    assert(out((10L, 3L)) == ((2L, 500000000L)))
    assert(out((20L, 4L)) == ((3L, 33333333L)), "100c * 1e6 DIV 3 truncates")
  }

  test("qs36: strictly-preceding click carry, floored gaps, interpolated percentiles") {
    val out = Events.timeToConvertOn(eventsOf(
      // user 1: click -> 100s -> purchase; later click AFTER purchase ignored
      (1L, 1L, "2024-01-01 10:00:00", "click", 0.0),
      (2L, 1L, "2024-01-01 10:01:40", "purchase", 5.0),
      (3L, 1L, "2024-01-01 10:30:00", "click", 0.0),
      // user 2: two clicks; the LATEST prior one anchors the gap (300s)
      (4L, 2L, "2024-01-01 09:00:00", "click", 0.0),
      (5L, 2L, "2024-01-01 09:55:00", "click", 0.0),
      (6L, 2L, "2024-01-01 10:00:00", "purchase", 1.0),
      // user 3: purchase with NO prior click -> excluded
      (7L, 3L, "2024-01-01 11:00:00", "purchase", 2.0),
      // user 4: same-second click sorted before the purchase counts, gap 0
      (8L, 4L, "2024-01-01 12:00:00", "click", 0.0),
      (9L, 4L, "2024-01-01 12:00:00", "purchase", 3.0))).collect().head
    assert(out.getAs[Long]("n_conversions") == 3L)
    assert(out.getAs[Long]("min_gap_sec") == 0L)
    assert(out.getAs[Long]("max_gap_sec") == 300L)
    // gaps {0, 100, 300}: interpolated p50 = 100, p90 = 260
    assert(out.getAs[Double]("p50_sec") == 100.0)
    assert(out.getAs[Double]("p90_sec") == 260.0)
  }

  test("qd47: ASCII-trained merges leave non-matching text at compression 1.0") {
    val docs = Seq(
      (1L, "ababab ababab", "en", "s"),
      (2L, "ababab ababab", "en", "s"),
      (3L, "你好你好你好", "zh", "s"))
      .toDF("doc_id", "text", "lang", "source")
    val enc = TrainingOps.bpeEncode(docs, rounds = 2)
      .join(docs.select(col("doc_id"), col("lang")), "doc_id")
      .groupBy("lang")
      .agg(sum("len_before").as("b"), sum("len_after").as("a"))
      .collect().map(r => r.getString(0) ->
        ((r.getAs[Long]("b"), r.getAs[Long]("a")))).toMap
    assert(enc("zh")._1 == enc("zh")._2,
      "no [a-z0-9] bigrams => the merge chain never touches zh text")
    assert(enc("en")._2 < enc("en")._1,
      "repeated ASCII bigrams must compress")
  }

  test("qd48: threshold sweep matches a driver-side reference on planted mid-similarity pairs") {
    // corpus: one exact-dup pair, two mid-similarity pairs (shared
    // prefix, distinct suffix), and unrelated docs — the regime where
    // the 4x4 banding curve actually loses pairs
    def words(prefix: String, n: Int, from: Int = 0): String =
      (from until from + n).map(i => s"$prefix$i").mkString(" ")
    val docs = Seq(
      (1L, words("p", 20)),                        // exact dup of 2
      (2L, words("p", 20)),
      (3L, words("q", 16) + " " + words("x", 4)),  // mid-sim with 4
      (4L, words("q", 16) + " " + words("y", 4)),
      (5L, words("r", 12) + " " + words("u", 8)),  // lower-sim with 6
      (6L, words("r", 12) + " " + words("v", 8)),
      (7L, words("z", 25))                         // unrelated
    ).toDF("doc_id", "text")
    // driver-side reference: string shingles, exact jaccard, portable
    // minima, band collisions — the same constructions, independently
    def shingles(t: String): Set[String] = {
      val ts = t.toLowerCase.replaceAll("[^a-z0-9]+", " ").trim
        .split(" ").filter(_.nonEmpty).toSeq
      if (ts.size >= 3) ts.sliding(3).map(_.mkString(" ")).toSet
      else Set(ts.mkString(" "))
    }
    def fp(g: String): Long =
      g.foldLeft(0L)((acc, c) => (acc * 31 + c.toLong) % 2147483647L)
    def sig(gs: Set[String]): Seq[Long] =
      graft.operators.Dedup.portablePerms.map { case (a, b) =>
        gs.map(g => (fp(g) * a + b) % 2147483647L).min
      }
    val texts = docs.collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    val ids = texts.keys.toSeq.sorted
    val pairs = for (a <- ids; b <- ids if a < b) yield (a, b)
    def jac(a: Long, b: Long): Double = {
      val (sa, sb) = (shingles(texts(a)), shingles(texts(b)))
      (sa & sb).size.toDouble / (sa | sb).size.toDouble
    }
    def collide(a: Long, b: Long): Boolean = {
      val (x, y) = (sig(shingles(texts(a))), sig(shingles(texts(b))))
      (0 until 4).exists(bi =>
        (0 until 4).forall(j => x(bi * 4 + j) == y(bi * 4 + j)))
    }
    val expected = Seq(0.5, 0.7, 0.9).map { t =>
      val tr = pairs.count { case (a, b) => jac(a, b) >= t }
      val fo = pairs.count { case (a, b) => jac(a, b) >= t && collide(a, b) }
      (t, tr.toLong, fo.toLong,
        if (tr == 0) 1.0 else fo.toDouble / tr.toDouble)
    }
    val got = TrainingOps.dedupQualityOn(docs, Seq(0.5, 0.7, 0.9))
      .collect().map(r => (r.getDouble(0), r.getLong(1), r.getLong(2),
        r.getDouble(3))).toSeq
    assert(got == expected)
    // the planted geometry must make the sweep non-degenerate: the
    // exact dups always survive banding, and found never exceeds true
    val at09 = got.find(_._1 == 0.9).get
    assert(at09._2 >= 1L && at09._4 == 1.0,
      "exact dups collide on every band")
    assert(got.forall(r => r._3 <= r._2))
  }

  test("qx26: the nested intermediate is deterministic under repartition") {
    val li = spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")
      .select("l_orderkey", "l_linenumber", "l_quantity")
    def nest(df: org.apache.spark.sql.DataFrame) = df
      .groupBy("l_orderkey")
      .agg(array_sort(collect_list(
        struct(col("l_linenumber"), col("l_quantity")))).as("lines"))
      .orderBy("l_orderkey")
    val a = nest(li).collect().map(_.toSeq).toSeq
    val b = nest(li.repartition(7)).collect().map(_.toSeq).toSeq
    assert(a == b, "array_sort pins the in-array order against shuffle")
  }

  test("bpe: encoding with an explicit merge table equals learn-then-encode") {
    val docs = Seq((1L, "ababab cdcd"), (2L, "abab x cdcdcd"), (3L, ""))
      .toDF("doc_id", "text")
    val learned = TrainingOps.bpeEncode(docs, rounds = 2).collect()
    val table = TrainingOps.bpeLearnMerges(docs, rounds = 2)
    val applied = TrainingOps.bpeEncode(docs, rounds = 2,
      merges = Some(table)).collect()
    assert(learned.map(_.toSeq).toSeq == applied.map(_.toSeq).toSeq,
      "the cached-table path must be a pure amortization, not a variant")
    assert(table.size == 2 && table.forall(_._2.nonEmpty))
  }

  test("qd49: PERMISSIVE JSONL parse quarantines both corruption modes, loses nothing") {
    val dir = tempDir("qd49spec")
    Seq("""{"doc_id": 1, "text": "ok", "lang": "en", "source": "s", "n_chars": 2}""",
        """{"doc_id": 2, "text": "zwei", "lang": "de", "source": "s", "n_chars": 4}""",
        """{"doc_id": 3, "text": "trunc""",              // unparseable
        """{"doc_id": "NaN", "lang": "en"}""")            // type clash
      .toDF("value").coalesce(1).write.mode("overwrite").text(dir)
    // Spark disallows querying ONLY the corrupt column off a raw JSON
    // scan — materialize the parse first (the documented workaround,
    // and what the gate query's aggregate does implicitly)
    val parsed = graft.ingest.JsonlIngest.readQuarantined(
      spark, graft.ingest.JsonlIngest.DocSchema, dir).cache()
    try {
    assert(parsed.count() == 4L, "quarantine keeps every line as a row")
    val corrupt = parsed.filter(col("_corrupt_record").isNotNull)
    assert(corrupt.count() == 2L, "both failure modes land in quarantine")
    assert(corrupt.select("doc_id").collect().forall(_.isNullAt(0)),
      "a type-clashed field never half-parses into the data column")
    val good = parsed.filter(col("_corrupt_record").isNull)
    assert(good.select("doc_id").collect().map(_.getLong(0)).toSet ==
      Set(1L, 2L))
    } finally parsed.unpersist(blocking = false)
    // the projection-relative gotcha the gate query designs around:
    // the SAME type-clashed line is invisible to a query that never
    // references the clashing column — corruption is detected only
    // for parsed columns
    val pruned = graft.ingest.JsonlIngest.readQuarantined(
        spark, graft.ingest.JsonlIngest.DocSchema, dir)
      .withColumn("bucket",
        when(col("_corrupt_record").isNotNull, "_corrupt")
          .otherwise(col("lang")))
      .groupBy("bucket").agg(count(lit(1)).as("n"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(pruned("_corrupt") == 1L,
      "only the unparseable line is corrupt under a doc_id-free projection")
    assert(pruned("en") == 2L,
      "the doc_id-clashed line counts as good when doc_id goes unparsed")
  }

  test("qs37: a perfectly daily-periodic series autocorrelates to ~1; pair roles pinned") {
    // 3 days of an identical 4-hour-grid pattern (counts 1/5/2/8 at
    // hours 0/6/12/18): every (t, t+24h) pair sees x == y
    val rows = for {
      day <- 0 to 2; (hh, c) <- Seq((0, 1), (6, 5), (12, 2), (18, 8))
      i <- 1 to c
    } yield (day * 100L + hh * 10L + i,
      f"2024-01-${day + 1}%02d $hh%02d:30:00", "view", 0.0)
    val out = Events.dailyAutocorrOn(eventsOf(rows.map(r =>
        (r._1, 1L, r._2, r._3, r._4)): _*))
      .collect().head
    // days 2 and 3 each pair with the prior day: 8 observed pairs
    assert(out.getAs[Long]("n_pairs") == 8L)
    assert(math.abs(out.getAs[Double]("corr24") - 1.0) < 1e-12,
      "identical day-over-day pattern must autocorrelate to 1")
  }

  test("qd50: manifest is content-keyed and order-independent; shards partition the corpus") {
    val docs = spark.read
      .parquet("/root/testdata/sf0.001/documents.parquet")
    def manifest(df: org.apache.spark.sql.DataFrame) = df
      .withColumn("fp", graft.functions.DocFingerprint.of(col("text")))
      .withColumn("shard", (col("fp") % 8).cast("int"))
      .groupBy("shard")
      .agg(count(lit(1)).as("n"), expr("bit_xor(fp)").as("ck"))
      .orderBy("shard")
    val a = manifest(docs).collect().map(_.toSeq).toSeq
    val b = manifest(docs.repartition(7)).collect().map(_.toSeq).toSeq
    assert(a == b, "xor checksum and counts are shuffle-order invariant")
    assert(a.map(_(1).asInstanceOf[Long]).sum == docs.count(),
      "shards partition the corpus exactly")
  }

  test("qm5: sniffed kinds match the container rules; headerless blobs stay whole") {
    val docs = Seq((1L, "one"), (2L, "twotwo"), (3L, "three"), (50L, "bad"))
      .toDF("doc_id", "text")
    val out = Multimodal.mediaSniff(Multimodal.mediaFromDocs(docs)).collect()
      .map(r => r.getString(0) -> ((r.getAs[Long]("n"),
        r.getAs[Long]("total_blob_bytes"),
        r.getAs[Long]("total_payload_bytes")))).toMap
    // id 1 -> audio(3B), 2 -> video(6B), 3 -> image(5B), 50 -> 'x' kind
    assert(out("audio") == ((1L, 13L, 3L)))
    assert(out("video") == ((1L, 16L, 6L)))
    assert(out("image") == ((1L, 15L, 5L)))
    assert(out("unknown") == ((1L, 13L, 3L)),
      "invalid kind byte still has its 10-byte header sliced off")
    // alien bytes: no magic => the sniffer reports the whole blob
    val alien = Seq((99L, "oops".getBytes("UTF-8"))).toDF("media_id", "bytes")
    val a = Multimodal.mediaSniff(alien).collect().head
    assert(a.getString(0) == "unknown" &&
      a.getAs[Long]("total_blob_bytes") == 4L &&
      a.getAs[Long]("total_payload_bytes") == 4L)
  }

  test("qp8: dynamic overwrite replaces only the written partitions; static wipes the rest") {
    val rows = Seq((1, "a", 10L), (1, "b", 20L), (2, "a", 30L))
      .toDF("p", "k", "v")
    val refresh = Seq((1, "a", 99L)).toDF("p", "k", "v")
    // by-name access: the partition column comes back LAST in the
    // read-back schema, not in its original position
    def state(path: String): Set[(Int, String, Long)] =
      spark.read.parquet(path).collect()
        .map(r => (r.getAs[Int]("p"), r.getAs[String]("k"),
          r.getAs[Long]("v"))).toSet

    val dyn = tempDir("qp8dyn")
    graft.io.Writers.writePartitioned(rows, dyn, Seq("p"), numTasks = 1)
    Session.withConfs(spark,
      Seq("spark.sql.sources.partitionOverwriteMode" -> "dynamic")) {
      graft.io.Writers.writePartitioned(refresh, dyn, Seq("p"), numTasks = 1)
    }
    assert(state(dyn) == Set((1, "a", 99L), (2, "a", 30L)),
      "p=1 replaced wholesale (its old 'b' row gone), p=2 untouched")

    // counterfactual: the same refresh under the DEFAULT static mode
    // truncates every other partition — the failure qp8 exists to avoid
    val sta = tempDir("qp8sta")
    graft.io.Writers.writePartitioned(rows, sta, Seq("p"), numTasks = 1)
    graft.io.Writers.writePartitioned(refresh, sta, Seq("p"), numTasks = 1)
    assert(state(sta) == Set((1, "a", 99L)), "static overwrite lost p=2")
  }

  test("qm5 is codegen-only: no object-serialization seam in the plan") {
    val docs = Seq((1L, "x")).toDF("doc_id", "text")
    // the SNIFF itself runs on a binary column without mapPartitions;
    // build the media frame first (that encode step IS object-mapped),
    // then assert the sniff's own plan stays columnar
    val path = tempDir("qm5")
    Multimodal.mediaFromDocs(docs).write.mode("overwrite").parquet(path)
    val sniff = Multimodal.mediaSniff(spark.read.parquet(path))
    val plan = sniff.queryExecution.executedPlan.toString
    assert(!plan.contains("MapPartitions") &&
      !plan.contains("SerializeFromObject"),
      s"sniff must be pure codegen, got:\n$plan")
  }
}
