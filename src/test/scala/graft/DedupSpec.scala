package graft

import graft.functions.DocFingerprint
import graft.operators.Dedup
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

class DedupSpec extends SparkSpec {
  import spark.implicits._

  val sf = "/root/testdata/sf0.001"

  def docs(rows: (Long, String)*): DataFrame =
    rows.toDF("doc_id", "text")

  test("exactDedup keeps the lowest id per duplicate text") {
    val d = docs(1L -> "aa bb", 2L -> "aa bb", 3L -> "cc dd", 4L -> "aa bb")
    val out = Dedup.exactDedup(d, "text", "doc_id")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(out == Set(1L, 3L))
  }

  test("minhash finds planted near-duplicates, not unrelated docs") {
    val base = "the quick brown fox jumps over the lazy dog and runs far away " +
      "into the deep dark forest tonight"
    val nearDup = base.replace("tonight", "today") // 1-token edit
    val other = "completely different content about databases indexes " +
      "partitions shuffles and broadcast joins in distributed systems"
    val d = docs(1L -> base, 2L -> nearDup, 3L -> other)
    val pairs = Dedup.minhashNearDups(d, "doc_id", "text", threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs == Set((1L, 2L)))
  }

  test("minhash near-dup jaccard values are exact shingle jaccard") {
    val d = Tables.documents
    val pairs = Dedup.minhashNearDups(d, "doc_id", "text", threshold = 0.8)
    val checked = pairs.join(d.select(col("doc_id").as("doc_a"),
        col("text").as("ta")), "doc_a")
      .join(d.select(col("doc_id").as("doc_b"), col("text").as("tb")), "doc_b")
      .collect()
    assert(checked.nonEmpty, "sf0.001 corpus should contain near-dups")
    checked.foreach { r =>
      val j = r.getAs[Double]("jaccard")
      val sa = shingles(r.getAs[String]("ta"))
      val sb = shingles(r.getAs[String]("tb"))
      val expected = (sa & sb).size.toDouble / (sa | sb).size.toDouble
      assert(math.abs(j - expected) < 1e-12,
        s"pair (${r.getAs[Long]("doc_a")},${r.getAs[Long]("doc_b")})")
    }
  }

  private object Tables {
    def documents: DataFrame =
      spark.read.parquet(s"$sf/documents.parquet")
  }

  /** Pure-Scala word-3-gram shingle set mirroring Dedup.shingleHashes
    * (minus hashing — set identity is what matters for jaccard).
    */
  private def shingles(text: String): Set[String] = {
    val toks = text.toLowerCase.replaceAll("[^a-z0-9]+", " ")
      .split(" ").filter(_.nonEmpty)
    if (toks.length < 3) Set(toks.mkString(" "))
    else toks.sliding(3).map(_.mkString(" ")).toSet
  }

  test("dupClusters: transitive pairs collapse to one component") {
    // chain 1-2, 2-3 plus pair 10-11 plus singleton 20: components
    // {1,2,3} -> 1, {10,11} -> 10, {20} -> 20. Doc 3 never pairs with
    // 1 directly — only transitivity links them.
    val nodes = Seq(1L, 2L, 3L, 10L, 11L, 20L).toDF("doc_id")
    val pairs = Seq((2L, 3L), (1L, 2L), (10L, 11L))
      .toDF("doc_a", "doc_b")
    val got = Dedup.dupClusters(nodes, pairs, "doc_id")
      .collect().map(r => r.getAs[Long]("id") -> r.getAs[Long]("cluster"))
      .toMap
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L,
      10L -> 10L, 11L -> 10L, 20L -> 20L))
  }

  test("dupClusters converges on a long path (diameter > 2)") {
    val n = 9L
    val nodes = (0L to n).toDF("doc_id")
    val pairs = (0L until n).map(i => (i, i + 1)).toDF("doc_a", "doc_b")
    val got = Dedup.dupClusters(nodes, pairs, "doc_id")
      .collect().map(r => r.getAs[Long]("id") -> r.getAs[Long]("cluster"))
    assert(got.forall(_._2 == 0L), s"all on the path label 0: ${got.toSeq}")
  }

  test("dupClustersStar: 100-node chain converges in O(log n) rounds") {
    // the adversarial-diameter case (VERDICT r5 #7): a 100-node path
    // needs 99 min-label rounds (dupClusters' default maxRounds=20
    // would throw); the alternating star algorithm folds it in O(log n)
    val n = 100
    val nodes = (0L until n).toDF("doc_id")
    val pairs = (0L until n - 1).map(i => (i, i + 1)).toDF("doc_a", "doc_b")
    val (labels, rounds) = Dedup.starComponents(nodes, pairs, "doc_id",
      maxRounds = 30)
    val got = labels.collect().map(r => r.getAs[Long]("id") ->
      r.getAs[Long]("cluster"))
    assert(got.length == n && got.forall(_._2 == 0L),
      s"all chain nodes label 0: ${got.filter(_._2 != 0L).toSeq}")
    assert(rounds <= 2 * (64 - java.lang.Long.numberOfLeadingZeros(n)) + 2,
      s"$rounds rounds is not O(log n) for a $n-chain")
  }

  test("dupClustersStar equals min-label dupClusters on a random graph") {
    val rng = new scala.util.Random(7)
    val n = 60L
    val nodes = (0L until n).toDF("doc_id")
    val pairs = Seq.fill(45)((rng.nextLong(n), rng.nextLong(n)))
      .filter { case (a, b) => a != b }
      .toDF("doc_a", "doc_b")
    def toMap(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => r.getAs[Long]("id") -> r.getAs[Long]("cluster")).toMap
    assert(toMap(Dedup.dupClustersStar(nodes, pairs, "doc_id")) ==
      toMap(Dedup.dupClusters(nodes, pairs, "doc_id")))
  }

  test("dedupByCluster keeps exactly the smallest doc per component") {
    val docs = Seq((1L, "a"), (2L, "b"), (3L, "c"), (10L, "d"), (20L, "e"))
      .toDF("doc_id", "text")
    val pairs = Seq((1L, 2L), (2L, 3L)).toDF("doc_a", "doc_b")
    val clusters = Dedup.dupClusters(docs, pairs, "doc_id")
    val kept = Dedup.dedupByCluster(docs, clusters, "doc_id")
      .select("doc_id").collect().map(_.getLong(0)).sorted.toSeq
    assert(kept == Seq(1L, 10L, 20L))
  }

  test("simhash: identical texts collide, near texts are close") {
    val base = "spark shuffles partitions and broadcasts small tables " +
      "for efficient distributed joins across many executors"
    val d = docs(1L -> base, 2L -> base, 3L -> base.replace("small", "tiny"))
    val out = Dedup.withSimhash(d, "doc_id", "text", "simhash")
      .orderBy("doc_id").collect().map(_.getAs[Long]("simhash"))
    assert(out(0) == out(1))
    val hamming = java.lang.Long.bitCount(out(0) ^ out(2))
    assert(hamming <= 16, s"near-identical docs hamming=$hamming")
  }

  test("simhashNearDups blocks by 16-bit chunks and bounds distance") {
    val base = "alpha beta gamma delta epsilon zeta eta theta iota kappa " +
      "lambda mu nu xi omicron pi rho sigma tau upsilon"
    val d = docs(1L -> base, 2L -> base, 3L -> "unrelated words entirely")
    val pairs = Dedup.simhashNearDups(d, "doc_id", "text", maxDist = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1),
        r.getAs[Number]("hamming").longValue()))
    assert(pairs.map(p => (p._1, p._2)).toSet == Set((1L, 2L)))
    assert(pairs.forall(_._3 == 0))
  }

  test("doc_fingerprint matches the pure-Scala reference on real data") {
    val rows = Tables.documents.limit(50)
      .select(col("text"), DocFingerprint.of(col("text")).as("fp"))
      .collect()
    rows.foreach { r =>
      assert(r.getAs[Long]("fp") ==
        DocFingerprint.reference(r.getAs[String]("text")))
    }
  }

  test("checkpointedBytes reads a checkpointed frame's block size " +
      "without a job; non-checkpointed frames yield None") {
    val d = docs(1L -> "aa bb cc", 2L -> "dd ee ff").localCheckpoint()
    val bytes = Dedup.checkpointedBytes(d)
    assert(bytes.exists(_ > 0L),
      s"eager checkpoint must register measurable blocks, got $bytes")
    // a plain (un-checkpointed) frame has no LogicalRDD leaf to read
    assert(Dedup.checkpointedBytes(docs(1L -> "aa")).isEmpty)
  }

  test("doc_fingerprint works from SQL and distinguishes texts") {
    val d = docs(1L -> "hello world", 2L -> "hello worle")
    d.createOrReplaceTempView("fp_docs")
    val out = spark.sql(
      "SELECT doc_id, doc_fingerprint(text) AS fp FROM fp_docs ORDER BY doc_id")
      .collect().map(_.getAs[Long]("fp"))
    assert(out(0) == DocFingerprint.reference("hello world"))
    assert(out(0) != out(1))
  }
}
