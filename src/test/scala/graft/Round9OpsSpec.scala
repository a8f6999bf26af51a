package graft

import graft.io.ArtifactStore
import graft.operators.TrainingOps
import org.apache.spark.sql.functions._

/** Round-9 additions: amortized-artifact parity (VERDICT r8 #2-4) and
  * the ArtifactStore build/invalidate contract.
  */
class Round9OpsSpec extends SparkSpec {

  import spark.implicits._

  test("qd23 cached-model scoring == self-trained scoring (parity)") {
    val dir = "/root/testdata/sf0.001"
    val cached = TrainingOps.bigramLm(spark, dir)
      .collect().map(_.toSeq).toSeq
    val trained = TrainingOps.bigramLmOn(graft.core.Tables.documents(spark, dir))
      .collect().map(_.toSeq).toSeq
    assert(cached == trained)
  }

  test("bigramModel is driver-sized and stamp-stable") {
    val dir = "/root/testdata/sf0.001"
    val m1 = TrainingOps.bigramModel(spark, dir)
    assert(m1.nonEmpty && m1.length < 100000,
      s"model must stay broadcast-sized, was ${m1.length}")
    // same stamp -> the SAME cached array instance (no retrain)
    assert(TrainingOps.bigramModel(spark, dir) eq m1)
  }

  test("qe23: Gram matrix == driver-side exact reference; PSD-diagonal sanity") {
    val dir = "/root/testdata/sf0.001"
    val vecs = graft.core.Tables.embeddings(spark, dir)
      .select("embedding").collect()
      .map(_.getAs[scala.collection.Seq[Float]](0)
        .map(x => math.floor(x.toDouble * 1e6).toLong).toArray)
    val dim = vecs.head.length
    val want = (for { a <- 0 until dim; b <- a until dim } yield
      ((a, b), vecs.map(v => v(a) * v(b)).sum)).toMap
    val got = TrainingOps.gramMatrix(spark, dir).collect()
      .map(r => ((r.getInt(0), r.getInt(1)), (r.getLong(2), r.getLong(3))))
      .toMap
    assert(got.keySet == want.keySet)
    got.foreach { case (k, (n, s)) =>
      assert(n == vecs.length.toLong)
      assert(s == want(k), s"pair $k")
    }
    // diagonal entries are sums of squares — strictly positive on a
    // non-degenerate corpus
    (0 until dim).foreach(d => assert(got((d, d))._2 > 0L))
  }

  test("sf0.1 artifacts: structural sanity at bench scale") {
    // the parity specs prove artifact == fresh at sf0.001; this pins
    // the BENCH-scale artifacts' structural invariants so a stale or
    // torn sf0.1 tree can't hide behind the small-scale parity
    val dir = "/root/testdata/sf0.1"
    val nEmb = graft.core.Tables.embeddings(spark, dir).count()
    assert(graft.operators.GraphOps.knnEdges(spark, dir).count() ==
      3L * nEmb, "k=3 graph must emit exactly 3 out-edges per vector")
    val packed = TrainingOps.sqPacked(spark, dir)
    assert(packed.count() == nEmb)
    assert(packed.columns.toSeq ==
      ("vec_id" +: (0 until 8).map(w => s"w$w")))
    val nDocs = graft.core.Tables.documents(spark, dir).count()
    val labels = TrainingOps.dupLabels(spark, dir)
    assert(labels.count() == nDocs, "one label per document")
    assert(labels.filter(col("cluster") > col("doc_id")).count() == 0L,
      "labels are component minima")
  }

  test("dupLabels artifact == fresh qd13 components (VERDICT r8 artifact tier)") {
    val dir = "/root/testdata/sf0.001"
    val art = TrainingOps.dupLabels(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val fresh = TrainingOps.dupClusters(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(art == fresh)
  }

  test("ArtifactStore: a program-digest change invalidates an unchanged source") {
    val root = tempDir("graft_artifact_digest")
    val tbl = s"$root/t.parquet"
    Seq(5L).toDF("x").coalesce(1).write.parquet(tbl)
    withArtifactName("digest_art") { name =>
      var builds = 0
      def art(digest: String, mult: Int) = ArtifactStore.parquetArtifactUnder(
          digest, spark, root, Seq("t"), name) {
        builds += 1
        spark.read.parquet(tbl).withColumn("y", col("x") * mult)
      }
      assert(art("a", 2).collect().map(_.getLong(1)).toSeq == Seq(10L))
      assert(art("a", 3).collect().map(_.getLong(1)).toSeq == Seq(10L))
      assert(builds == 1, "same source, same program: served cached")
      // same source, another program: rebuilt with the new logic
      assert(art("b", 3).collect().map(_.getLong(1)).toSeq == Seq(15L))
      assert(builds == 2)
      val store = ArtifactStore.scratchRoot.listFiles()
        .filter(_.getName.startsWith(name)).head
      assert(store.listFiles().count(_.getName.startsWith("data-")) == 2,
        "two program digests must map to two data-* directories")
    }
  }

  test("ArtifactStore: the program digest moves with any class-file byte") {
    val classes = new java.io.File(tempDir("graft_digest_tree"))
    def put(rel: String, bytes: Array[Byte]): Unit = {
      val f = new java.io.File(classes, rel)
      f.getParentFile.mkdirs()
      java.nio.file.Files.write(f.toPath, bytes)
    }
    put("graft/A.class", Array[Byte](1, 2, 3))
    put("graft/io/B.class", Array[Byte](4, 5, 6))
    val d0 = ArtifactStore.digestOf(classes)
    assert(ArtifactStore.digestOf(classes) == d0, "stable across calls")
    put("graft/io/B.class", Array[Byte](4, 5, 7))
    val d1 = ArtifactStore.digestOf(classes)
    assert(d1 != d0, "one changed byte must move the digest")
    put("graft/C.class", Array.emptyByteArray)
    assert(ArtifactStore.digestOf(classes) != d1,
      "an added file must move the digest")
    assert(ArtifactStore.programDigest.matches("[0-9a-f]{64}"))
  }

  test("ArtifactStore: concurrent readers race to ONE build") {
    val root = tempDir("graft_artifact_conc")
    val tbl = s"$root/t.parquet"
    Seq(1L, 2L).toDF("x").coalesce(1).write.parquet(tbl)
    withArtifactName("conc_art") { name =>
      val builds = new java.util.concurrent.atomic.AtomicInteger(0)
      import scala.concurrent.{Await, Future}
      import scala.concurrent.ExecutionContext.Implicits.global
      import scala.concurrent.duration._
      val reads = (1 to 4).map(_ => Future {
        ArtifactStore.parquetArtifact(spark, root, "t", name) {
          builds.incrementAndGet()
          spark.read.parquet(tbl)
        }.count()
      })
      assert(Await.result(Future.sequence(reads), 120.seconds)
        .forall(_ == 2L))
      assert(builds.get() == 1,
        s"per-path lock must serialize to one build, saw ${builds.get()}")
    }
  }

  test("ArtifactStore: builds once, serves cached, rebuilds on stamp change") {
    val root = tempDir("graft_artifact_spec")
    val tbl = s"$root/t.parquet"
    Seq(1L, 2L, 3L).toDF("x").coalesce(1).write.parquet(tbl)
    withArtifactName("spec_art") { name =>
      var builds = 0
      def art() = ArtifactStore.parquetArtifact(spark, root, "t", name) {
        builds += 1
        spark.read.parquet(tbl).withColumn("y", col("x") * 2)
      }
      assert(art().collect().map(_.getLong(1)).sorted.toSeq == Seq(2L, 4L, 6L))
      assert(builds == 1)
      art()
      assert(builds == 1, "unchanged stamp must not rebuild")
      // regenerate the source table -> stamp changes -> rebuild
      Thread.sleep(5) // mtime granularity
      Seq(10L).toDF("x").coalesce(1).write.mode("overwrite").parquet(tbl)
      assert(art().collect().map(_.getLong(1)).toSeq == Seq(20L))
      assert(builds == 2, "changed stamp must rebuild")
    }
  }
}
